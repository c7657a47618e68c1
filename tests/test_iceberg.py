"""From-scratch Iceberg connector: avro codec, snapshots, pruning."""

import json
import os

import pytest
from pyspark.sql import functions as F

from robosat_spark.sources.avro_codec import (
    Reader,
    read_container,
    read_container_file,
    write_container,
)
from robosat_spark.sources.iceberg import (
    IcebergTable,
    decode_bound,
    encode_bound,
    scan_manifests_distributed,
    write_iceberg,
)


def test_avro_varint_zigzag_spec_bytes():
    """Known-answer zigzag varints from the Avro spec table."""
    from robosat_spark.sources.avro_codec import write_long

    for n, expect in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
                      (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        out = bytearray()
        write_long(out, n)
        assert bytes(out) == expect, n
        assert Reader(bytes(out)).read_long() == n


def test_avro_container_roundtrip_unions_maps_arrays():
    schema = {
        "type": "record", "name": "t", "fields": [
            {"name": "s", "type": "string"},
            {"name": "opt", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "double"}},
            {"name": "m", "type": {"type": "map", "values": "bytes"}},
            {"name": "b", "type": "boolean"},
        ],
    }
    recs = [
        {"s": "héllo", "opt": None, "arr": [1.5, -2.25], "m": {"k": b"\x00\xff"}, "b": True},
        {"s": "", "opt": -(2**62), "arr": [], "m": {}, "b": False},
    ]
    for codec in ("null", "deflate"):
        s2, out = read_container(write_container(schema, recs, codec))
        assert out == recs
        assert s2 == schema


def test_avro_corrupt_sync_detected():
    schema = {"type": "record", "name": "t", "fields": [{"name": "x", "type": "long"}]}
    buf = bytearray(write_container(schema, [{"x": 1}], codec="null"))
    buf[-1] ^= 0xFF  # flip a sync byte
    with pytest.raises(ValueError, match="sync"):
        read_container(bytes(buf))


def test_bound_encoding_roundtrip():
    for v, t in [(42, "int"), (-(2**40), "long"), (3.5, "double"), ("zz", "string"),
                 (True, "boolean"), (b"\x01\x02", "binary")]:
        assert decode_bound(encode_bound(v, t), t) == v


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Two-snapshot identity-partitioned table over a small synthetic df."""
    path = str(tmp_path_factory.mktemp("ice") / "tbl")
    rows = [(i, f"doc {i}", ["en", "de", "fr"][i % 3], 10 + i) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING, n_chars LONG")
    write_iceberg(spark, df.filter("doc_id < 30"), path, partition_by="lang",
                  stats_cols=("doc_id",), timestamp_ms=1000)
    write_iceberg(spark, df.filter("doc_id >= 30"), path, partition_by="lang",
                  stats_cols=("doc_id",), timestamp_ms=2000)
    return path, df


def test_iceberg_snapshot_isolation_and_time_travel(spark, table):
    path, df = table
    t = IcebergTable(path)
    assert [s["snapshot-id"] for s in t.snapshots()] == [1, 2]
    assert t.scan(spark).count() == 60
    assert t.scan(spark, snapshot_id=1).count() == 30
    assert t.scan(spark, as_of_ms=1500).count() == 30
    assert t.scan(spark, as_of_ms=2500).count() == 60
    # rows, not just counts: current scan == source df exactly
    got = {tuple(r) for r in t.scan(spark).collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want


def test_iceberg_partition_and_stats_pruning(spark, table):
    path, df = table
    t = IcebergTable(path)
    # identity partition pruning: only lang=de files survive
    tasks, rep = t.plan_files(filters=[("lang", "=", "de")])
    assert rep["files_pruned"] > 0
    assert all(task.partition["lang"] == "de" for task in tasks)
    assert t.scan(spark, filters=[("lang", "=", "de")]).count() == 20
    # column-bounds pruning: snapshot-2 files (doc_id >= 30) are all skipped
    tasks2, rep2 = t.plan_files(filters=[("doc_id", "<", 30)])
    assert rep2["files_pruned"] > 0
    paths2 = {task.path for task in tasks2}
    assert all("snap-2" not in p for p in paths2), paths2
    assert t.scan(spark, filters=[("doc_id", "<", 30)]).count() == 30
    # pruning never changes semantics: impossible predicate -> empty df
    assert t.scan(spark, filters=[("doc_id", ">", 10**6)]).count() == 0


def test_iceberg_typed_partition_values(spark, tmp_path):
    """Numeric / null / escapable-string partition values: summaries and
    bounds must be computed on TYPED values (lexicographic min('10','9')
    = '10' would invert numeric bounds and prune manifests that DO match),
    nulls arrive as __HIVE_DEFAULT_PARTITION__, and %XX-escaped directory
    names round-trip."""
    path = str(tmp_path / "tbl_num")
    rows = [(i, i % 12) for i in range(48)]  # buckets 0..11: '10' < '9' as strings
    df = spark.createDataFrame(rows, "id LONG, bucket LONG")
    write_iceberg(spark, df, path, partition_by="bucket", stats_cols=("id",))
    t = IcebergTable(path)
    # values a string-ordered summary would wrongly exclude
    assert t.scan(spark, filters=[("bucket", "=", 11)]).count() == 4
    assert t.scan(spark, filters=[("bucket", ">=", 10)]).count() == 8
    tasks, _ = t.plan_files(filters=[("bucket", "=", 2)])
    assert tasks and all(task.partition["bucket"] == 2 for task in tasks)
    snap = t._resolve_snapshot()
    _s, manifests = read_container_file(snap["manifest-list"])
    summ = manifests[0]["partitions"][0]
    assert decode_bound(summ["lower_bound"], "long") == 0
    assert decode_bound(summ["upper_bound"], "long") == 11

    path2 = str(tmp_path / "tbl_null")
    df2 = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "a:b/c")], "id LONG, lang STRING"
    )
    write_iceberg(spark, df2, path2, partition_by="lang")
    t2 = IcebergTable(path2)
    got = {(r["id"], r["lang"]) for r in t2.scan(spark).collect()}
    assert got == {(1, "en"), (2, None), (3, "a:b/c")}
    snap2 = t2._resolve_snapshot()
    _s2, mfs2 = read_container_file(snap2["manifest-list"])
    assert mfs2[0]["partitions"][0]["contains_null"] is True
    tasks2, _ = t2.plan_files(filters=[("lang", "=", "a:b/c")])
    assert len(tasks2) == 1 and tasks2[0].partition["lang"] == "a:b/c"


def test_iceberg_position_deletes_merge_on_read(spark, tmp_path):
    """v2 row-level deletes: delete_rows commits a content=1 delete
    manifest of (file_path, pos) tombstones; scan anti-joins them
    (merge-on-read), time travel to before the delete sees all rows,
    incremental scans emit no rows for the delete snapshot, appends after
    the delete stay visible with old tombstones still applied, and
    compaction materializes the deletes away."""
    from robosat_spark.sources.iceberg import compact_table, delete_rows

    path = str(tmp_path / "tbl")
    rows = [(i, f"doc {i}", ["en", "de"][i % 2], 10 + i) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING, n_chars LONG")
    write_iceberg(spark, df, path, partition_by="lang", stats_cols=("doc_id",),
                  timestamp_ms=1000)

    # an unfiltered delete would silently tombstone the whole table
    with pytest.raises(ValueError):
        delete_rows(spark, path)

    snap2 = delete_rows(spark, path, [("doc_id", "<", 10)])
    t = IcebergTable(path)
    assert snap2 == 2
    got = {r["doc_id"] for r in t.scan(spark).collect()}
    assert got == set(range(10, 40))
    # pre-delete snapshot unaffected (tombstones are snapshot-scoped)
    assert t.scan(spark, snapshot_id=1).count() == 40
    # delete snapshot adds no data rows for an incremental consumer
    assert t.scan_incremental(spark, from_snapshot_id=1, to_snapshot_id=2).count() == 0
    # filters still compose with merge-on-read
    assert t.scan(spark, filters=[("lang", "=", "en")]).count() == 15

    # append after the delete: new rows visible, old tombstones still apply
    extra = spark.createDataFrame(
        [(100 + i, f"new {i}", "en", 5) for i in range(4)],
        "doc_id LONG, text STRING, lang STRING, n_chars LONG",
    )
    write_iceberg(spark, extra, path, partition_by="lang", stats_cols=("doc_id",),
                  timestamp_ms=3000)
    t = IcebergTable(path)
    got = {r["doc_id"] for r in t.scan(spark).collect()}
    assert got == set(range(10, 40)) | {100, 101, 102, 103}

    # compaction materializes deletes: same rows, no delete manifests left
    compact_table(spark, path)
    t = IcebergTable(path)
    assert {r["doc_id"] for r in t.scan(spark).collect()} == got
    assert t.plan_delete_files() == []
    _tasks, rep = t.plan_files()
    assert rep["delete_files"] == 0

    # delete snapshot metadata is spec-shaped
    snap = next(s for s in t.snapshots() if s["snapshot-id"] == 2)
    assert snap["summary"]["operation"] == "delete"
    assert int(snap["summary"]["added-position-deletes"]) == 10


def test_iceberg_sharded_tombstone_writes(spark, tmp_path):
    """A delete over a many-file table writes MULTIPLE position-delete
    files (r4 VERDICT item 6 — corpus-scale deletes must not serialize
    through one task), each spec-sorted by (file_path, pos) with
    disjoint file_path ranges, and the merge-on-read scan stays exact."""
    import os

    import pyarrow.parquet as pq

    from robosat_spark.sources.iceberg import delete_rows

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(2000)], "doc_id LONG, text STRING"
    ).repartition(48)
    write_iceberg(spark, df, path, stats_cols=("doc_id",), timestamp_ms=1000)
    t = IcebergTable(path)
    n_files = len(t.plan_files()[0])
    assert n_files >= 32  # the fixture really is many-file

    snap = delete_rows(spark, path, predicate=__import__("pyspark").sql.functions.col("doc_id") % 3 == 0)
    del_dir = os.path.join(path, "data", f"snap-{snap}-deletes")
    parts = sorted(f for f in os.listdir(del_dir) if f.endswith(".parquet"))
    assert len(parts) >= 2, f"expected sharded tombstones, got {parts}"
    ranges = []
    for fn in parts:
        tb = pq.read_table(os.path.join(del_dir, fn))
        fps = tb.column("file_path").to_pylist()
        poss = tb.column("pos").to_pylist()
        if not fps:
            continue
        assert sorted(zip(fps, poss)) == list(zip(fps, poss))  # spec sort
        ranges.append((min(zip(fps, poss)), max(zip(fps, poss))))
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # range shards are disjoint and ordered

    got = {r["doc_id"] for r in IcebergTable(path).scan(spark).collect()}
    assert got == {i for i in range(2000) if i % 3 != 0}


def test_iceberg_delete_scan_plan_is_broadcast_antijoin(spark, tmp_path):
    """Merge-on-read must not reshuffle the data: tombstones apply as a
    BROADCAST anti-join (no sort-merge or nested-loop join, no exchange
    of the scan side for the delete application)."""
    from robosat_spark.sources.iceberg import delete_rows

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i, f"d{i}") for i in range(50)], "id LONG, s STRING")
    write_iceberg(spark, df, path)
    delete_rows(spark, path, [("id", "<", 5)])
    scan = IcebergTable(path).scan(spark)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_iceberg_cursor_skips_delete_snapshots(spark, tmp_path):
    """An append-stream consumer must not emit a batch for a tombstone
    commit (no new rows), mirroring the replace-snapshot skip."""
    from robosat_spark.sources.iceberg import delete_rows
    from robosat_spark.streaming.iceberg_ingest import IcebergCursor

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(10)], "doc_id LONG, text STRING"
    )
    write_iceberg(spark, df, path, timestamp_ms=1000)
    cur = IcebergCursor(path, str(tmp_path / "cursor"))
    batches = []
    cur.poll(spark, lambda d, sid: batches.append((sid, d.count())))
    assert batches == [(1, 10)]
    delete_rows(spark, path, [("doc_id", ">=", 8)])
    n = cur.poll(spark, lambda d, sid: batches.append((sid, d.count())))
    assert n == 0 and batches == [(1, 10)]  # cursor advanced silently
    assert cur.position() == 2


def test_iceberg_equality_deletes(spark, tmp_path):
    """v2 equality deletes (content=2): delete-by-key applies only to data
    files with sequence number strictly below the delete's — rows appended
    later with the same key stay live (the upsert building block). Mixed
    position+equality deletes compose; compaction materializes both."""
    from robosat_spark.sources.iceberg import (
        compact_table,
        delete_rows,
        delete_rows_equality,
    )

    path = str(tmp_path / "tbl")
    rows = [(i, ["en", "de"][i % 2], f"v1-{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "id LONG, lang STRING, body STRING")
    write_iceberg(spark, df, path, stats_cols=("id",), timestamp_ms=1000)

    keys = spark.createDataFrame([("de",)], "lang STRING")
    assert delete_rows_equality(spark, path, keys, ["lang"]) == 2
    t = IcebergTable(path)
    got = {(r["id"], r["lang"]) for r in t.scan(spark).collect()}
    assert got == {(i, "en") for i in range(0, 20, 2)}
    # time travel to before the delete sees everything
    assert t.scan(spark, snapshot_id=1).count() == 20

    # new 'de' rows appended AFTER the equality delete stay live
    extra = spark.createDataFrame([(100, "de", "v2-100")], "id LONG, lang STRING, body STRING")
    write_iceberg(spark, extra, path, stats_cols=("id",), timestamp_ms=3000)
    t = IcebergTable(path)
    got = {(r["id"], r["lang"]) for r in t.scan(spark).collect()}
    assert (100, "de") in got and len(got) == 11

    # position delete composes on top
    delete_rows(spark, path, [("id", "<", 4)])
    t = IcebergTable(path)
    got = {r["id"] for r in t.scan(spark).collect()}
    assert got == {i for i in range(4, 20, 2)} | {100}

    # compaction materializes both delete kinds away
    compact_table(spark, path)
    t = IcebergTable(path)
    assert {r["id"] for r in t.scan(spark).collect()} == got
    assert t.plan_delete_entries() == []


def test_iceberg_equality_delete_corpus_scale_path(spark, tmp_path):
    """The MERGE key path at corpus scale (r5 VERDICT item 1): the key-file
    write range-shards instead of serializing through one task, and the
    reader falls back from broadcast to a shuffle anti-join when the key
    set exceeds the broadcast budget — same rows either way."""
    from robosat_spark.sources.iceberg import delete_rows_equality

    path = str(tmp_path / "tbl")
    rows = [(i, f"k{i % 50}", f"v1-{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "id LONG, k STRING, body STRING")
    write_iceberg(spark, df, path, stats_cols=("id",), timestamp_ms=1000)

    keys = spark.createDataFrame([(f"k{i}",) for i in range(0, 50, 2)], "k STRING")
    # tiny rows_per_shard forces the range-sharded write path
    delete_rows_equality(spark, path, keys, ["k"], rows_per_shard=7)
    del_dir = os.path.join(path, "data", "snap-2-eqdeletes")
    shards = [f for f in os.listdir(del_dir) if f.endswith(".parquet")]
    assert len(shards) == 4  # ceil(25 / 7)
    t = IcebergTable(path)
    entries = [d for d in t.plan_delete_entries() if d["content"] == 2]
    assert len(entries) == 4
    assert sum(d["record_count"] for d in entries) == 25

    expect = {(i, f"k{i % 50}") for i in range(200) if (i % 50) % 2 == 1}
    # broadcast path (default budget)
    got_b = {(r["id"], r["k"]) for r in t.scan(spark).collect()}
    assert got_b == expect
    # forced fallback: budget of 0 rows drops the broadcast HINT, leaving
    # the choice to Catalyst's size estimate (autoBroadcastJoinThreshold /
    # AQE). Simulate corpus-scale stats by disabling auto-broadcast: the
    # key anti-join must become a shuffle join, rows identical. The
    # metadata-scale (path -> seq) join keeps its explicit hint and stays
    # broadcast even then.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        scan = t.scan(spark, eq_delete_broadcast_max_rows=0)
        got_s = {(r["id"], r["k"]) for r in scan.collect()}
        assert got_s == expect
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" in plan  # the hinted path->seq join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_iceberg_schema_evolution_add_column(spark, tmp_path):
    """Additive schema evolution: an append carrying a NEW column registers
    a new schema-id; old files read as null for it (schema-on-read),
    existing columns keep their field ids (old bounds stay valid), and a
    time-travel scan to before the add must NOT show the column."""
    import pytest as _pytest

    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(i, ["en", "de"][i % 2]) for i in range(10)], "id LONG, lang STRING"
    )
    write_iceberg(spark, v1, path, stats_cols=("id",), timestamp_ms=1000)
    v2 = spark.createDataFrame(
        [(100 + i, "fr", 0.5 + i) for i in range(5)],
        "id LONG, lang STRING, score DOUBLE",
    )
    write_iceberg(spark, v2, path, stats_cols=("id",), timestamp_ms=2000)

    t = IcebergTable(path)
    assert [f["name"] for f in t.schema_fields] == ["id", "lang", "score"]
    # new column got a FRESH id; old ids stable
    assert {f["name"]: f["id"] for f in t.schema_fields} == {
        "id": 1, "lang": 2, "score": 3
    }
    cur = t.scan(spark)
    assert cur.count() == 15
    rows = {r["id"]: r["score"] for r in cur.collect()}
    assert rows[0] is None and rows[100] == 0.5  # nulls for pre-add files
    # time travel: snapshot 1 has NO score column
    old = t.scan(spark, snapshot_id=1)
    assert old.columns == ["id", "lang"] and old.count() == 10
    # incremental scan of the add-column append carries the new column
    inc = t.scan_incremental(spark, from_snapshot_id=1, to_snapshot_id=2)
    assert "score" in inc.columns and inc.count() == 5
    # bounds pruning on the OLD column still works across both schemas
    assert t.scan(spark, filters=[("id", ">=", 100)]).count() == 5
    # type changes are rejected
    bad = spark.createDataFrame([(1, 2)], "id LONG, lang LONG")
    with _pytest.raises(ValueError):
        write_iceberg(spark, bad, path)


def test_iceberg_upsert(spark, tmp_path):
    """MERGE-by-key: updated keys are superseded, new keys inserted,
    untouched rows survive; time travel sees the pre-merge versions."""
    from robosat_spark.sources.iceberg import upsert

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], f"v1-{i}") for i in range(10)],
        "id LONG, lang STRING, body STRING",
    )
    write_iceberg(spark, df, path, partition_by="lang", stats_cols=("id",),
                  timestamp_ms=1000)
    changes = spark.createDataFrame(
        [(2, "en", "v2-2"), (3, "de", "v2-3"), (50, "fr", "v1-50")],
        "id LONG, lang STRING, body STRING",
    )
    sid1, sid2 = upsert(spark, path, changes, ["id"], timestamp_ms=2000)
    assert (sid1, sid2) == (2, 3)
    t = IcebergTable(path)
    got = {(r["id"], r["body"]) for r in t.scan(spark).collect()}
    want = {(i, f"v1-{i}") for i in range(10) if i not in (2, 3)}
    want |= {(2, "v2-2"), (3, "v2-3"), (50, "v1-50")}
    assert got == want
    # pre-merge snapshot: original versions, no id 50
    pre = {(r["id"], r["body"]) for r in t.scan(spark, snapshot_id=1).collect()}
    assert pre == {(i, f"v1-{i}") for i in range(10)}
    # a second upsert of the same key supersedes again
    upsert(spark, path, spark.createDataFrame([(2, "en", "v3-2")],
           "id LONG, lang STRING, body STRING"), ["id"])
    t = IcebergTable(path)
    bodies = {r["id"]: r["body"] for r in t.scan(spark).collect()}
    assert bodies[2] == "v3-2" and len(bodies) == 11


def test_iceberg_upsert_relative_table_path(spark, tmp_path, monkeypatch):
    """r5 ADVICE regression: with a RELATIVE table_path, manifest file
    paths are relative while __fp (from _metadata.file_path) is absolute;
    before the abspath normalization the path->seq join nulled out and
    the equality anti-join silently resurrected superseded rows."""
    import os

    from robosat_spark.sources.iceberg import upsert

    monkeypatch.chdir(tmp_path)
    path = os.path.join("rel", "tbl")  # relative on purpose
    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], f"v1-{i}") for i in range(6)],
        "id LONG, lang STRING, body STRING",
    )
    write_iceberg(spark, df, path, partition_by="lang", stats_cols=("id",),
                  timestamp_ms=1000)
    upsert(spark, path, spark.createDataFrame(
        [(1, "de", "v2-1")], "id LONG, lang STRING, body STRING"
    ), ["id"], timestamp_ms=2000)
    got = {(r["id"], r["body"]) for r in IcebergTable(path).scan(spark).collect()}
    want = {(i, f"v1-{i}") for i in range(6) if i != 1} | {(1, "v2-1")}
    assert got == want  # the old v1-1 row must NOT resurrect


def test_iceberg_clustered_compaction_prunes_range_scans(spark, tmp_path):
    """compact_table(sort_by=...) rewrites the table clustered on a
    column: per-file bounds become tight disjoint intervals, so a range
    predicate prunes most files at planning time (the Z-order-into-
    Iceberg layout when pointed at a stored Morton column)."""
    from robosat_spark.sources.iceberg import compact_table

    path = str(tmp_path / "tbl")
    # shuffled write: values interleave across files -> no pruning possible
    df = spark.createDataFrame(
        [((i * 7919) % 10_000, i) for i in range(10_000)], "morton LONG, id LONG"
    ).repartition(8)
    write_iceberg(spark, df, path, stats_cols=("morton",))
    t = IcebergTable(path)
    _tasks, rep0 = t.plan_files(filters=[("morton", "<", 1000)])
    assert rep0["files_pruned"] == 0  # interleaved: bounds cover everything

    compact_table(spark, path, target_files=8, sort_by="morton")
    t = IcebergTable(path)
    tasks, rep = t.plan_files(filters=[("morton", "<", 1000)])
    assert rep["files_total"] == 8 and rep["files_pruned"] >= 6, rep
    got = t.scan(spark, filters=[("morton", "<", 1000)]).count()
    assert got == 1000
    assert t.scan(spark).count() == 10_000


def test_iceberg_expire_snapshots(spark, tmp_path):
    """expire_snapshots drops old snapshots from metadata and physically
    removes files only they reference; the current snapshot's data
    survives, time travel to expired snapshots fails by design."""
    import os

    import pytest as _pytest

    from robosat_spark.sources.iceberg import compact_table, expire_snapshots

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i, "x" * 4) for i in range(20)], "id LONG, s STRING")
    write_iceberg(spark, df.filter("id < 10"), path, timestamp_ms=1000)
    write_iceberg(spark, df.filter("id >= 10"), path, timestamp_ms=2000)
    compact_table(spark, path)  # snapshot 3 references only rewritten files
    t = IcebergTable(path)
    old_files = {task.path for task in t.plan_files(snapshot_id=1)[0]}
    old_ml = t._resolve_snapshot(snapshot_id=1)["manifest-list"]
    assert expire_snapshots(path, keep_last=1) == 2

    t2 = IcebergTable(path)
    assert [s["snapshot-id"] for s in t2.snapshots()] == [3]
    assert t2.scan(spark).count() == 20
    assert {r["id"] for r in t2.scan(spark).collect()} == set(range(20))
    assert all(not os.path.exists(p) for p in old_files)
    assert not os.path.exists(old_ml)
    with _pytest.raises(StopIteration):
        t2.scan(spark, snapshot_id=1)
    # idempotent: nothing more to expire
    assert expire_snapshots(path, keep_last=1) == 0


def test_iceberg_manifest_files_are_real_avro(table):
    """Manifests and manifest lists decode as spec-shaped Avro containers
    with the spec's field names (not JSON stand-ins)."""
    path, _df = table
    t = IcebergTable(path)
    snap = t._resolve_snapshot()
    schema, manifests = read_container_file(snap["manifest-list"])
    assert schema["name"] == "manifest_file"
    assert {f["name"] for f in schema["fields"]} >= {
        "manifest_path", "manifest_length", "added_snapshot_id", "partitions",
        "sequence_number", "added_files_count", "added_rows_count",
    }
    es, entries = read_container_file(manifests[0]["manifest_path"])
    assert es["name"] == "manifest_entry"
    d = entries[0]["data_file"]
    assert d["file_format"] == "PARQUET"
    assert d["record_count"] > 0
    assert d["lower_bounds"] and d["upper_bounds"]
    # bounds decode to real values of the declared type
    fid = {f["name"]: f["id"] for f in t.schema_fields}["doc_id"]
    lo = [kv for kv in d["lower_bounds"] if kv["key"] == fid]
    assert lo and isinstance(decode_bound(lo[0]["value"], "long"), int)


def test_iceberg_distributed_manifest_scan_parity(spark, table):
    path, _df = table
    t = IcebergTable(path)
    snap = t._resolve_snapshot()
    _s, manifests = read_container_file(snap["manifest-list"])
    dist = scan_manifests_distributed(spark, [m["manifest_path"] for m in manifests])
    driver_tasks, _ = t.plan_files()
    got = {(r["file_path"], r["record_count"]) for r in dist.collect()}
    want = {(task.path, task.record_count) for task in driver_tasks}
    assert got == want
    # partition values survive the distributed path
    parts = {json.loads(r["partition_json"])["lang"] for r in dist.collect()}
    assert parts == {"en", "de", "fr"}


def test_iceberg_append_carries_prior_manifests_forward(table):
    path, _df = table
    t = IcebergTable(path)
    snap2 = t._resolve_snapshot(snapshot_id=2)
    _s, manifests = read_container_file(snap2["manifest-list"])
    assert len(manifests) == 2  # snapshot 1's manifest + snapshot 2's
    assert sorted(m["added_snapshot_id"] for m in manifests) == [1, 2]
    assert sum(m["added_rows_count"] for m in manifests) == 60


def test_iceberg_incremental_scan(spark, table):
    """Incremental read after snapshot 1 returns exactly the appended
    rows; a cursor at the current snapshot returns nothing."""
    path, _df = table
    t = IcebergTable(path)
    inc = t.scan_incremental(spark, from_snapshot_id=1)
    got = {r["doc_id"] for r in inc.select("doc_id").collect()}
    assert got == set(range(30, 60))
    assert t.scan_incremental(spark, from_snapshot_id=2).count() == 0
    # snapshot-1 files are not in the incremental plan at all
    tasks = t.plan_incremental_files(from_snapshot_id=1)
    assert tasks and all("snap-2" in task.path for task in tasks)


def test_iceberg_cursor_microbatch_ingest(spark, table, tmp_path):
    """Checkpointed poll loop: consumes each snapshot exactly once across
    restarts; a crash BEFORE the cursor commit replays the batch
    (at-least-once), never skips one."""
    from robosat_spark.streaming.iceberg_ingest import IcebergCursor

    path, _df = table
    seen = []

    def sink(df, snap_id):
        seen.append((snap_id, sorted(r["doc_id"] for r in df.select("doc_id").collect())))

    c = IcebergCursor(path, str(tmp_path / "ckpt"))
    assert c.poll(spark, sink) == 2  # both snapshots, in order
    assert [s for s, _ in seen] == [1, 2]
    assert seen[0][1] == list(range(0, 30))
    assert seen[1][1] == list(range(30, 60))
    # idempotent restart: nothing new
    assert c.poll(spark, sink) == 0 and len(seen) == 2
    # a fresh cursor object over the same dir resumes from the same place
    c2 = IcebergCursor(path, str(tmp_path / "ckpt"))
    assert c2.position() == 2 and c2.poll(spark, sink) == 0

    # crash simulation: process raises -> cursor must NOT advance
    c3 = IcebergCursor(path, str(tmp_path / "ckpt2"))

    def boom(df, snap_id):
        raise RuntimeError("sink crashed")

    with pytest.raises(RuntimeError):
        c3.poll(spark, boom)
    assert c3.position() == 0  # replay on next poll
    assert c3.poll(spark, sink, max_snapshots=1) == 1
    assert c3.position() == 1


def test_iceberg_partition_spec_evolution(spark, tmp_path):
    """Appends may change the partitioning: each spec gets its own
    spec-id, old manifests keep theirs, and pruning uses the manifest's
    OWN spec — semantics never change (Spark-side refilter)."""
    path = str(tmp_path / "tbl")
    rows = [(i, f"doc {i}", ["en", "de"][i % 2], 10 + i) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING, n_chars LONG")
    write_iceberg(spark, df.filter("doc_id < 20"), path, partition_by="lang",
                  stats_cols=("doc_id",), timestamp_ms=1000)
    write_iceberg(spark, df.filter("doc_id >= 20 and doc_id < 30"), path,
                  partition_by=None, stats_cols=("doc_id",), timestamp_ms=2000)
    write_iceberg(spark, df.filter("doc_id >= 30"), path, partition_by="lang",
                  stats_cols=("doc_id",), timestamp_ms=3000)

    t = IcebergTable(path)
    meta = t.meta
    # two distinct specs registered; the lang spec REUSED for snapshot 3
    assert sorted(
        (sid, [pf["name"] for pf in pfs]) for sid, pfs in t.specs.items()
    ) == [(0, ["lang"]), (1, [])]
    assert meta["default-spec-id"] == 0
    snap3 = t._resolve_snapshot()
    _s, manifests = read_container_file(snap3["manifest-list"])
    by_snap = {m["added_snapshot_id"]: m["partition_spec_id"] for m in manifests}
    assert by_snap == {1: 0, 2: 1, 3: 0}

    # full scan = union of all three appends, rows exact
    got = {r["doc_id"] for r in t.scan(spark).select("doc_id").collect()}
    assert got == set(range(40))
    # lang filter: spec-0 files prune by partition value, spec-1 (unpart)
    # files survive planning and are filtered Spark-side — result exact
    en = t.scan(spark, filters=[("lang", "=", "en")])
    assert {r["doc_id"] for r in en.select("doc_id").collect()} == {
        i for i in range(40) if i % 2 == 0
    }
    tasks, rep = t.plan_files(filters=[("lang", "=", "en")])
    assert rep["files_pruned"] > 0  # the de partitions of snaps 1+3
    # every pruned file was a spec-0 'de' file; all unpartitioned files kept
    assert sum(1 for task in tasks if task.partition == {}) > 0


def test_iceberg_compaction_replace_snapshot(spark, tmp_path):
    """compact_table rewrites the current snapshot into fewer files as a
    REPLACE snapshot: same rows, pruning still works, time travel still
    sees pre-compaction state, and the micro-batch cursor does NOT replay
    the table across the compaction."""
    from robosat_spark.sources.iceberg import compact_table
    from robosat_spark.streaming.iceberg_ingest import IcebergCursor

    path = str(tmp_path / "tbl")
    rows = [(i, f"doc {i}", ["en", "de", "fr"][i % 3], 10 + i) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING, n_chars LONG")
    write_iceberg(spark, df.filter("doc_id < 30"), path, partition_by="lang",
                  stats_cols=("doc_id",), timestamp_ms=1000)
    write_iceberg(spark, df.filter("doc_id >= 30"), path, partition_by="lang",
                  stats_cols=("doc_id",), timestamp_ms=2000)

    # consume both appends BEFORE compaction
    batches = []
    c = IcebergCursor(path, str(tmp_path / "ckpt"))
    assert c.poll(spark, lambda d, s: batches.append((s, d.count()))) == 2

    t0 = IcebergTable(path)
    files_before = len(t0.plan_files()[0])
    snap = compact_table(spark, path, target_files=1)
    assert snap == 3

    t = IcebergTable(path)
    files_after = len(t.plan_files()[0])
    assert files_after < files_before  # 1 file per partition value now
    # identical logical content
    got = {tuple(r) for r in t.scan(spark).collect()}
    assert got == {tuple(r) for r in df.collect()}
    # pruning still proves partitions on the compacted manifest
    tasks, rep = t.plan_files(filters=[("lang", "=", "de")])
    assert rep["files_pruned"] > 0
    assert all(task.partition["lang"] == "de" for task in tasks)
    # stats survived compaction (bounds present on new files)
    assert t.scan(spark, filters=[("doc_id", ">", 10**6)]).count() == 0
    # time travel to the pre-compaction snapshot still reads old files
    assert t.scan(spark, snapshot_id=2).count() == 60
    assert t.scan(spark, snapshot_id=1).count() == 30
    # the cursor skips the replace snapshot: no replayed batch
    assert c.poll(spark, lambda d, s: batches.append((s, d.count()))) == 0
    assert c.position() == 3 and len(batches) == 2
    # a fresh append after compaction flows through normally
    extra = spark.createDataFrame([(100, "x", "en", 1)],
                                  "doc_id LONG, text STRING, lang STRING, n_chars LONG")
    write_iceberg(spark, extra, path, partition_by="lang", stats_cols=("doc_id",))
    assert c.poll(spark, lambda d, s: batches.append((s, d.count()))) == 1
    assert batches[-1][1] == 1


def test_iceberg_default_timestamp_never_goes_backwards(spark, tmp_path):
    """An append without ``timestamp_ms`` is stamped one past the table's
    latest snapshot, so ``as_of_ms`` time travel keeps snapshot order: a
    default stamp of ``snapshot id * 1000`` would put snapshot 2 (2000)
    before snapshot 1 (5000), hiding it from as_of_ms=6000 and exposing
    all 20 rows at as_of_ms=3000."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i,) for i in range(20)], "id LONG")
    write_iceberg(spark, df.filter("id < 10"), path, timestamp_ms=5000)
    write_iceberg(spark, df.filter("id >= 10"), path)
    t = IcebergTable(path)
    assert [(s["snapshot-id"], s["timestamp-ms"]) for s in t.snapshots()] == [
        (1, 5000), (2, 5001)
    ]
    assert t.scan(spark, as_of_ms=6000).count() == 20
    assert t.scan(spark, as_of_ms=5000).count() == 10
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.scan(spark, as_of_ms=3000)


def test_iceberg_failed_hint_swap_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """``version-hint.text`` is replaced in one rename, never rewritten in
    place: when the rename fails the write raises and readers still see
    the previous snapshot."""
    from robosat_spark.sources import iceberg

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i,) for i in range(20)], "id LONG")
    write_iceberg(spark, df.filter("id < 10"), path, timestamp_ms=1000)

    def no_replace(src, dst):
        raise OSError("rename failed")

    monkeypatch.setattr(iceberg.os, "replace", no_replace)
    with pytest.raises(OSError, match="rename failed"):
        write_iceberg(spark, df.filter("id >= 10"), path, timestamp_ms=2000)
    monkeypatch.undo()
    assert iceberg.current_version(path) == 1
    t = IcebergTable(path)
    assert [s["snapshot-id"] for s in t.snapshots()] == [1]
    assert {r["id"] for r in t.scan(spark).collect()} == set(range(10))
