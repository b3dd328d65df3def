"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_small --seed 1 --seconds 20 --trace 0

Run from anywhere; the engine package is found next to this directory.
Inputs are generated from ``--seed`` (``gen.py``). Ops run until their
measured wall time adds up to ``--seconds``; every op's output is checked
(``checks.py``).

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``. With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (``BENCHMARK.json`` lists both). The
lines before it give each metric by name and unit, the failure fraction,
each op's wall and CPU time, the wall-clock op median and throughput, the
op tail percentile when there are enough ops, and the effective Spark
conf. A traced run also writes its spans to
``.perfbench/traces/<workload>-seed<n>.json``.

The Spark session is sized to the machine (``SPARK_GRAFT_CPUS`` = usable
cores, ``SPARK_GRAFT_DRIVER_MEM`` within a third of available memory).
Every file a run writes goes to a fresh directory under ``.perfbench/``,
removed at exit.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("query_small", "ingest")


def heap_size() -> str:
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    mb = min(2048, avail_kb // 1024 // 3) // 256 * 256
    return f"{max(mb, 512)}m"


def op_tail(op_s: list[float]) -> str:
    """The highest percentile with at least ten ops beyond it."""
    n = len(op_s)
    if n < 11:
        return f"n/a (n={n} ops, needs >= 11)"
    return f"{sorted(op_s)[n - 11]:.4f} s at p{100 * (n - 10) // n} (n={n} ops)"


def stop(spark, gateway) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "rag_database_spark").is_dir():
        print(f"engine package rag_database_spark not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(run_dir / "tmp"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=heap_size(),
        SPARK_GRAFT_WAREHOUSE=str(run_dir / "warehouse"),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
    )
    try:
        import workloads
        from spans import Process, Tracer

        from rag_database_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file under /tmp: the run writes only inside its checkout.
            # JIT compiler threads live as long as the JVM, so their CPU can be
            # read per thread.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
                                             " -XX:-UseDynamicNumberOfCompilerThreads",
        })
        session_s = time.perf_counter() - t
        start_s = time.perf_counter() - T0
        gateway = spark.sparkContext._gateway
        try:
            tracer = Tracer(spark, bool(args.trace))
            tracer.add("session.start", t, t + session_s)
            proc = Process(gateway.proc.pid)
            bench = workloads.Bench(spark, tracer, proc, run_dir, args.seed, args.seconds,
                                    bool(args.trace))
            getattr(bench, args.workload)()
            conf = dict(sorted(spark.sparkContext.getConf().getAll()))
        finally:
            stop(spark, gateway)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = bench.per_layer(session_s)
        tracer.write(
            ROOT / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json",
            {"workload": args.workload, "seed": args.seed, "conf": conf,
             "traced_op_s": bench.traced_op_s, "untraced_op_s": bench.op_s,
             "metrics": metrics},
        )
    else:
        metrics = bench.end_to_end(start_s)
    item = "queries_per_s" if args.workload.startswith("query") else "docs_per_s"
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(bench.op_s) + len(bench.traced_op_s)}")
    print("conf " + json.dumps(conf))
    print(f"failed_frac {bench.failed / bench.attempted:.4f} ratio ({bench.failed}/{bench.attempted})")
    print(f"op_tail_s {op_tail(bench.op_s)}")
    print("op_s " + " ".join(f"{t:.3f}" for t in bench.op_s) + f" (warm-up {bench.warmup_s:.3f})")
    print("op_cpu_s " + " ".join(f"{t:.3f}" for t in bench.op_cpu_s)
          + " (of which JIT compiler " + " ".join(f"{t:.3f}" for t in bench.op_jit_s) + ")")
    for name, (value, unit) in bench.wall_clock(item).items():
        print(f"{name} {value:.6g} {unit} (wall clock, not in BENCHMARK.json)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
