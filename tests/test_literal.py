"""Driver-resolved value sets as single-string Spark expressions
(``functions.literal``): the values survive SQL quoting and JSON
encoding unchanged."""

from __future__ import annotations

from pyspark.sql import Row

from rag_database_spark.functions.literal import isin, json_literal

AWKWARD = ["plain", "it's", "back\\slash", "\\'", "''", "ünï"]


def test_isin_matches_python_membership(spark):
    df = spark.createDataFrame([(v,) for v in AWKWARD + ["other", "it"]], "s string")
    got = sorted(r.s for r in df.filter(isin("s", AWKWARD)).collect())
    assert got == sorted(AWKWARD)

    ids = spark.range(10).filter(isin("id", [3, 2**40, 7])).collect()
    assert [r.id for r in ids] == [3, 7]


def test_json_literal_round_trips_map_of_structs(spark):
    value = {v: [{"query_id": i, "qtf": i + 1}] for i, v in enumerate(AWKWARD)}
    row = spark.range(1).select(
        json_literal(
            value, "map<string, array<struct<query_id: bigint, qtf: bigint>>>"
        ).alias("m")
    ).first()
    assert row.m == {
        k: [Row(query_id=s["query_id"], qtf=s["qtf"]) for s in v]
        for k, v in value.items()
    }
