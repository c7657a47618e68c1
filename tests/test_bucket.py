"""Iceberg bucket[N] partition transform: spec murmur3, writer, pruning.

The hash is pinned three ways: the pure-Python reference against the
PUBLISHED Iceberg spec test vectors (Appendix B), the Spark column
expression against the Python reference, and the generated DuckDB SQL
twin against the Python reference — so the partition values any engine
computes for this table agree bit-for-bit.
"""

import struct

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from robosat_spark.functions.bucket import (
    iceberg_bucket_long_sql_query,
    iceberg_bucket_py,
    murmur3_32_py,
    parse_bucket_transform,
    with_bucket_long,
    with_bucket_string,
    with_murmur3_long,
    with_murmur3_string,
)
from robosat_spark.sources.iceberg import IcebergTable, upsert, write_iceberg


def test_spec_vectors_appendix_b():
    """Published Iceberg spec 32-bit hash requirements (Appendix B)."""
    assert murmur3_32_py(struct.pack("<q", 34)) == 2017239379  # int & long 34
    assert murmur3_32_py(b"iceberg") == 1210000089  # string
    assert murmur3_32_py(struct.pack("<q", 17486)) == -653330422  # date 2017-11-16


def test_bucket_py_basics():
    assert iceberg_bucket_py(34, 16) == (2017239379 & 0x7FFFFFFF) % 16
    assert iceberg_bucket_py(None, 16) is None
    assert 0 <= iceberg_bucket_py("iceberg", 8) < 8
    with pytest.raises(TypeError):
        iceberg_bucket_py(True, 8)
    with pytest.raises(TypeError):
        iceberg_bucket_py(1.5, 8)


def test_parse_bucket_transform():
    assert parse_bucket_transform("bucket[16]") == 16
    assert parse_bucket_transform("identity") is None
    assert parse_bucket_transform("truncate[4]") is None


@settings(max_examples=100, deadline=None)
@given(st.lists(
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
    min_size=1, max_size=8,
))
def test_sql_twin_matches_python_reference(vs):
    """The generated DuckDB subselect chain == the byte-level reference,
    over the full signed-64 domain (negative longs exercise the masked
    two's-complement halves)."""
    def lit(v):  # INT64_MIN can't be written as a bare literal (the
        # positive magnitude overflows before unary minus applies)
        return f"(-9223372036854775807 - 1)" if v == -(1 << 63) else str(v)

    inner = " UNION ALL ".join(f"SELECT CAST({lit(v)} AS BIGINT) AS v" for v in vs)
    q = iceberg_bucket_long_sql_query(inner, "v", 32, out="b")
    for v, b in duckdb.sql(f"SELECT v, b FROM ({q})").fetchall():
        assert b == iceberg_bucket_py(v, 32), v


def test_spark_long_expr_matches_python_reference(spark):
    vals = [0, 1, -1, 34, 17486, -(1 << 62), (1 << 62) + 12345,
            987654321987654321, -40, None]
    df = spark.createDataFrame([(v,) for v in vals], "v LONG")
    w = with_murmur3_long(df, "v", "h")
    rows = with_bucket_long(w, "v", "b", 16).collect()
    assert {r["v"] for r in rows} == set(vals)
    for r in rows:
        if r["v"] is None:
            assert r["h"] is None and r["b"] is None
        else:
            assert r["h"] == murmur3_32_py(struct.pack("<q", r["v"])) & 0xFFFFFFFF
            assert r["b"] == iceberg_bucket_py(r["v"], 16)


def test_spark_string_expr_matches_python_reference(spark):
    """Covers every tail length (0-3 trailing bytes), the empty string,
    multi-byte UTF-8, a long mixed string, and NULL -> NULL."""
    vals = ["", "a", "ab", "abc", "abcd", "abcde", "iceberg",
            "https://example.com/path?q=1", "héllo wörld", "日本語テキスト",
            "x" * 1000, "bbc.co.uk", None]
    df = spark.createDataFrame([(v,) for v in vals], "v STRING")
    w = with_murmur3_string(df, "v", "h")
    rows = with_bucket_string(w, "v", "b", 8).collect()
    assert {r["v"] for r in rows} == set(vals)
    for r in rows:
        if r["v"] is None:
            assert r["h"] is None and r["b"] is None
        else:
            assert r["h"] == murmur3_32_py(r["v"].encode("utf-8")) & 0xFFFFFFFF, r["v"]
            assert r["b"] == iceberg_bucket_py(r["v"], 8), r["v"]
    assert murmur3_32_py(b"iceberg") & 0xFFFFFFFF == 1210000089  # anchor


@pytest.mark.parametrize("taken", ["__mh", "__msrc", "__m0", "__MSRC"])
def test_long_chain_refuses_temp_name_collisions(spark, taken):
    """A caller column named like one of the chain's temporaries would be
    overwritten or dropped; the chain refuses it instead."""
    df = spark.createDataFrame([(1, 2)], f"v LONG, {taken} LONG")
    with pytest.raises(ValueError, match="collide"):
        with_bucket_long(df, "v", "b", 16)


@pytest.mark.parametrize("taken", ["__mhs", "__shx", "__sh5"])
def test_string_chain_refuses_temp_name_collisions(spark, taken):
    df = spark.createDataFrame([("a", 2)], f"v STRING, {taken} LONG")
    with pytest.raises(ValueError, match="collide"):
        with_bucket_string(df, "v", "b", 16)
    # the output name is checked too: it would be dropped with the temps
    with pytest.raises(ValueError, match="collide"):
        with_murmur3_string(df.drop(taken), "v", "__sagg")


@pytest.fixture()
def bucket_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("url-"), F.col("id")).alias("url"),
        (F.col("id") * 7 % 101).alias("score"),
    )
    write_iceberg(spark, df, path, partition_by="doc_id",
                  partition_transform="bucket[8]",
                  stats_cols=("doc_id",), timestamp_ms=1000)
    return path


def test_bucket_write_scan_roundtrip(spark, bucket_table):
    t = IcebergTable(bucket_table)
    assert t.partition_fields[0]["transform"] == "bucket[8]"
    assert t.partition_cols == ["doc_id_bucket"]
    got = {r["doc_id"] for r in t.scan(spark).select("doc_id").collect()}
    assert got == set(range(200))
    # the partition VALUES in the manifests are the spec buckets
    tasks, _ = t.plan_files()
    for task in tasks:
        bv = task.partition["doc_id_bucket"]
        assert 0 <= bv < 8


def test_bucket_point_lookup_prunes_to_one_bucket(spark, bucket_table):
    t = IcebergTable(bucket_table)
    tasks, report = t.plan_files(filters=[("doc_id", "=", 42)])
    # only files of bucket(42)'s partition survive
    want = iceberg_bucket_py(42, 8)
    assert tasks and all(task.partition["doc_id_bucket"] == want for task in tasks)
    assert report["files_pruned"] > 0
    rows = t.scan(spark, filters=[("doc_id", "=", 42)]).collect()
    assert [r["doc_id"] for r in rows] == [42]


def test_bucket_range_filter_does_not_misprune(spark, bucket_table):
    """Bucket order says nothing about ranges — a range predicate must
    fall through to column bounds, never the bucket mapping."""
    t = IcebergTable(bucket_table)
    rows = t.scan(spark, filters=[("doc_id", "<", 10)]).collect()
    assert {r["doc_id"] for r in rows} == set(range(10))


def test_bucket_upsert_inherits_transform(spark, bucket_table):
    """MERGE on a bucket table keeps writing bucket partitions (no
    accidental identity-spec registration) and applies by key."""
    new = spark.createDataFrame(
        [(42, "url-42-v2", 999), (1000, "url-1000", 5)],
        "doc_id LONG, url STRING, score LONG",
    )
    upsert(spark, bucket_table, new, ["doc_id"])
    t = IcebergTable(bucket_table)
    assert len(t.meta["partition-specs"]) == 1  # spec reused, not evolved
    df = t.scan(spark)
    assert df.count() == 201
    assert df.filter("doc_id = 42").first()["url"] == "url-42-v2"
    assert df.filter("doc_id = 1000").first()["score"] == 5


def test_bucket_compact_preserves_partitioning(spark, bucket_table):
    from robosat_spark.sources.iceberg import compact_table

    compact_table(spark, bucket_table, target_files=1)
    t = IcebergTable(bucket_table)
    got = {r["doc_id"] for r in t.scan(spark).select("doc_id").collect()}
    assert got == set(range(200))
    tasks, report = t.plan_files(filters=[("doc_id", "=", 7)])
    want = iceberg_bucket_py(7, 8)
    assert tasks and all(task.partition["doc_id_bucket"] == want for task in tasks)
    assert report["files_pruned"] > 0


def test_bucket_string_key_table(spark, tmp_path):
    path = str(tmp_path / "stbl")
    df = spark.createDataFrame(
        [(f"dom{i}.example", i) for i in range(50)], "domain STRING, n LONG"
    )
    write_iceberg(spark, df, path, partition_by="domain",
                  partition_transform="bucket[4]", timestamp_ms=1000)
    t = IcebergTable(path)
    tasks, report = t.plan_files(filters=[("domain", "=", "dom7.example")])
    want = iceberg_bucket_py("dom7.example", 4)
    assert tasks and all(task.partition["domain_bucket"] == want for task in tasks)
    rows = t.scan(spark, filters=[("domain", "=", "dom7.example")]).collect()
    assert [r["n"] for r in rows] == [7]


# -- bucket-wise co-located join ------------------------------------------


@pytest.fixture()
def dim_table(spark, tmp_path):
    """Companion bucket[8] table on the same key: every 3rd doc_id."""
    path = str(tmp_path / "dim")
    df = spark.range(0, 200, 3).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).alias("label"),
    )
    write_iceberg(spark, df, path, partition_by="doc_id",
                  partition_transform="bucket[8]",
                  stats_cols=("doc_id",), timestamp_ms=1000)
    return path


def test_bucket_join_matches_plain_join(spark, bucket_table, dim_table):
    from robosat_spark.sources.iceberg import bucket_join

    got = bucket_join(spark, bucket_table, dim_table, "doc_id")
    want = (
        IcebergTable(bucket_table).scan(spark)
        .join(IcebergTable(dim_table).scan(spark), "doc_id")
    )
    cols = ["doc_id", "url", "score", "label"]
    assert sorted(got.columns) == sorted(want.columns)
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, want.select(*cols).collect()))
    assert a == b and len(a) == 67  # ceil(200/3)


def test_bucket_join_plan_is_shuffle_free(spark, bucket_table, dim_table):
    """The whole point: N broadcast-hash bucket joins under a union —
    no hash repartitioning of either side anywhere in the plan."""
    from robosat_spark.sources.iceberg import bucket_join

    df = bucket_join(spark, bucket_table, dim_table, "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # per-bucket joins survive


def test_bucket_join_sees_upserts_and_deletes(spark, bucket_table, dim_table):
    """Per-bucket scans go through the same merge-on-read delete path as
    a full scan: an upsert (equality delete) and a row delete (position
    delete) on the LEFT table must both be visible through the join."""
    from robosat_spark.sources.iceberg import bucket_join, delete_rows

    new = spark.createDataFrame(
        [(42, "url-42-v2", 999)], "doc_id LONG, url STRING, score LONG"
    )
    upsert(spark, bucket_table, new, ["doc_id"])
    delete_rows(spark, bucket_table, filters=[("doc_id", "=", 3)])
    got = {r["doc_id"]: (r["url"], r["score"])
           for r in bucket_join(spark, bucket_table, dim_table, "doc_id").collect()}
    assert 3 not in got                      # position-deleted
    assert got[42] == ("url-42-v2", 999)     # upsert wins, no duplicate
    assert len(got) == 66


def test_bucket_join_rejects_mismatched_layouts(spark, tmp_path, bucket_table):
    from robosat_spark.sources.iceberg import bucket_join

    ident = str(tmp_path / "ident")
    write_iceberg(
        spark,
        spark.range(3).select(F.col("id").alias("doc_id"), F.lit(1).alias("x")),
        ident, partition_by="doc_id", timestamp_ms=1000,
    )
    with pytest.raises(ValueError, match="not bucket-partitioned"):
        bucket_join(spark, bucket_table, ident, "doc_id")

    n16 = str(tmp_path / "n16")
    write_iceberg(
        spark,
        spark.range(3).select(F.col("id").alias("doc_id"), F.lit(1).alias("x")),
        n16, partition_by="doc_id", partition_transform="bucket[16]",
        timestamp_ms=1000,
    )
    with pytest.raises(ValueError, match="bucket count mismatch"):
        bucket_join(spark, bucket_table, n16, "doc_id")

    with pytest.raises(ValueError, match="bucketed on 'doc_id', not"):
        bucket_join(spark, bucket_table, n16, "url")
