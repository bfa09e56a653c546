"""Vectorized UDF registry tests: registration, SQL callability,
known values, and the Arrow (not row-at-a-time) eval plan."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gazelle_plugin_spark.functions import register_builtin_udfs


@pytest.fixture(scope="module")
def udfs(spark):
    return register_builtin_udfs(spark)


def test_url_decode_round_trip(spark, udfs):
    df = spark.createDataFrame([("a b/c?d=e",), ("naçao",)], "s string")
    df.createOrReplaceTempView("udf_t")
    out = spark.sql("SELECT url_decode(url_encode(s)) AS r FROM udf_t").collect()
    assert [r.r for r in out] == ["a b/c?d=e", "nação".replace("ção", "çao")]


def test_text_entropy_known_values(spark, udfs):
    df = spark.createDataFrame([("aaaa",), ("ab",), ("abcd",)], "s string")
    out = df.select(F.expr("text_entropy(s)").alias("e")).collect()
    assert [round(r.e, 10) for r in out] == [0.0, 1.0, 2.0]


def test_geo_mean_grouped_agg(spark, udfs):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 4.0), ("a", 16.0), ("b", 9.0)], "g string, x double"
    )
    out = {r.g: r.gm for r in df.groupBy("g").agg(F.expr("geo_mean(x)").alias("gm")).collect()}
    assert math.isclose(out["a"], 4.0, rel_tol=1e-12)
    assert math.isclose(out["b"], 9.0, rel_tol=1e-12)


def test_udf_plan_is_arrow_vectorized(spark, udfs):
    df = spark.createDataFrame([("x",)], "s string").select(
        F.expr("text_entropy(s)").alias("e")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_udtf_split_ngrams(spark):
    """The UDTF surface (reference row-fallback, SURVEY §2.10): SQL
    lateral-join callable, 1 row -> N rows with computed columns."""
    from gazelle_plugin_spark.functions import register_builtin_udfs

    register_builtin_udfs(spark)
    rows = spark.sql(
        "SELECT pos, ngram FROM split_ngrams('a b c d', 3)"
    ).collect()
    assert [(r.pos, r.ngram) for r in rows] == [(0, "a b c"), (1, "b c d")]
    # lateral over a table
    spark.createDataFrame([("x y z",), (None,)], "txt string").createOrReplaceTempView(
        "udtf_src"
    )
    lat = spark.sql(
        "SELECT t.txt, g.pos, g.ngram FROM udtf_src t, "
        "LATERAL split_ngrams(t.txt, 2) g"
    ).collect()
    assert {(r.txt, r.pos, r.ngram) for r in lat} == {
        ("x y z", 0, "x y"),
        ("x y z", 1, "y z"),
    }


def test_hash_native_values_vs_python(spark):
    """expr_hash_native has no DuckDB oracle (rows-only driver gate) —
    re-derive ALL FOUR native hashes in pure Python as the value
    oracle: sha1/crc32 via hashlib/zlib, murmur3/xxhash64 via the
    public-spec implementations in tests/hash_reference.py (round-6
    verdict item 6: per-value asserts, not just determinism)."""
    import hashlib
    import zlib

    from gazelle_plugin_spark.plans import all_queries
    from tests.conftest import SF_SMALL
    from gazelle_plugin_spark.functions.hash_reference import murmur3_spark, xxhash64_spark

    rows = all_queries()["expr_hash_native"](spark, SF_SMALL).collect()
    assert rows
    names = {
        r.c_custkey: r
        for r in spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        .filter(F.col("c_custkey") < 300)
        .collect()
    }
    for r in rows:
        name = names[r.c_custkey].c_name.encode()
        assert r.h_sha1 == hashlib.sha1(name).hexdigest()
        assert r.h_crc32 == zlib.crc32(name)
        assert r.h_murmur3 == murmur3_spark(name)
        assert r.h_xxhash64 == xxhash64_spark(name)


def test_hash_reference_edge_shapes(spark):
    """The pure-Python hash oracles must agree with Spark on every
    length class their specs branch on: empty, 1-3 tail bytes, exact
    4/8-byte words, 31/32/33 (xxhash64 stripe boundary), and
    multi-byte UTF-8."""
    from gazelle_plugin_spark.functions.hash_reference import murmur3_spark, xxhash64_spark

    vals = ["", "a", "ab", "abc", "abcd", "abcdefgh", "x" * 31,
            "y" * 32, "z" * 33, "café✓"]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", F.hash("s").alias("m"), F.xxhash64("s").alias("x"))
        .collect()
    )
    for r in rows:
        assert r.m == murmur3_spark(r.s.encode()), r.s
        assert r.x == xxhash64_spark(r.s.encode()), r.s


def test_hash_reference_randomized(spark):
    """200 seeded-random strings (mixed ASCII/unicode/lengths 0-100)
    through Spark's hash()/xxhash64() vs the pure-Python references —
    catches any length-class or sign-extension edge the curated
    shapes miss."""
    import random

    from gazelle_plugin_spark.functions.hash_reference import murmur3_spark, xxhash64_spark

    rng = random.Random(20260814)
    alphabet = "abcXYZ019 _-é中\U0001f600"
    vals = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 101)))
        for _ in range(200)
    ]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", F.hash("s").alias("m"), F.xxhash64("s").alias("x"))
        .collect()
    )
    assert len(rows) == 200
    for r in rows:
        b = r.s.encode()
        assert r.m == murmur3_spark(b), repr(r.s)
        assert r.x == xxhash64_spark(b), repr(r.s)
