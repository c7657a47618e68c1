"""From-scratch Apache Iceberg v2 table connector (read + write).

The north rule's production input is "an Iceberg table of Common-Crawl
style web pages"; the Iceberg runtime jar is absent in this sandbox, so
the table format itself is implemented from the public Iceberg Table Spec
(format version 2) on top of the from-scratch Avro codec
(``sources/avro_codec``). No JSON stand-ins: manifests and manifest lists
are real Avro object-container files with spec field names and field-ids.

Write path (``write_iceberg``, ``compact_table``, ``delete_rows``,
``delete_rows_equality``): Spark writes parquet files, then one commit
(``_commit_snapshot``) publishes them as a snapshot —
  data files keep FULL rows (spec: partition columns are stored in the
  file), written one directory per partition value;
  per-file column stats (record count, null counts, lower/upper bounds)
  come from the parquet footers via pyarrow and are serialized with the
  spec's single-value binary encoding (Appendix D);
  each snapshot gets one manifest (avro) over the files it added and a
  manifest list (avro). Appends and deletes carry the prior snapshot's
  manifests forward; a compaction (replace) lists only its rewrite.
  The new ``vN.metadata.json`` becomes current when ``version-hint.text``
  is swapped in with one atomic rename (``expire_snapshots`` publishes
  its metadata the same way).

Read path (``IcebergTable``): snapshot resolution (current / by id /
as-of timestamp), manifest pruning via partition field summaries,
data-file pruning via identity-partition values and column bounds, then
``spark.read.parquet`` on the surviving files with the predicate applied
Spark-side too — pruning is an optimization, never a semantics change.

Scale shape: metadata/manifest-list reads are driver-side (they are KB-MB
even at petabyte scale); MANIFEST reads fan out — at 10^12 rows a
snapshot holds thousands of manifests, so ``scan_manifests_distributed``
parses them on executors via ``mapInPandas`` over the manifest path list
(the avro codec is pure Python and ships with --py-files). The driver
only ever materializes the surviving file list.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass, field
from typing import Any

from .avro_codec import read_container_file, write_container_file

FORMAT_VERSION = 2
PARTITION_FIELD_ID_START = 1000

# ---------------------------------------------------------------------------
# Iceberg <-> Spark type mapping and single-value (bounds) serialization
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "string": "string", "double": "double", "float": "float",
    "boolean": "boolean", "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp", "binary": "binary",
}
_ICEBERG_TO_SPARK = {
    "long": "long", "int": "int", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean", "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz", "binary": "binary",
}
_ICEBERG_TO_AVRO = {
    "long": "long", "int": "int", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean", "timestamptz": "long",
    "timestamp": "long", "binary": "bytes",
}


def encode_bound(value: Any, ice_type: str) -> bytes:
    """Iceberg single-value binary serialization (spec Appendix D)."""
    if ice_type == "int":
        return struct.pack("<i", int(value))
    if ice_type in ("long", "timestamptz", "timestamp"):
        return struct.pack("<q", int(value))
    if ice_type == "float":
        return struct.pack("<f", float(value))
    if ice_type == "double":
        return struct.pack("<d", float(value))
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    if ice_type == "binary":
        return bytes(value)
    raise ValueError(f"no bound serialization for {ice_type}")


def decode_bound(buf: bytes, ice_type: str) -> Any:
    if ice_type == "int":
        return struct.unpack("<i", buf)[0]
    if ice_type in ("long", "timestamptz", "timestamp"):
        return struct.unpack("<q", buf)[0]
    if ice_type == "float":
        return struct.unpack("<f", buf)[0]
    if ice_type == "double":
        return struct.unpack("<d", buf)[0]
    if ice_type == "string":
        return buf.decode("utf-8")
    if ice_type == "boolean":
        return buf != b"\x00"
    if ice_type == "binary":
        return buf
    raise ValueError(f"no bound deserialization for {ice_type}")


# ---------------------------------------------------------------------------
# Avro schemas for manifests / manifest lists (spec field names + field-ids)
# ---------------------------------------------------------------------------


def _kv_map_schema(name: str, key_id: int, value_id: int, value_type: str) -> dict:
    """Iceberg serializes int-keyed maps as array<record{key,value}> with
    logicalType map (Avro maps require string keys)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
    }


def _partition_avro_schema(spec_fields: list[dict], ice_schema: list[dict]) -> dict:
    """Avro record for the data_file.partition struct. Identity fields
    carry the source column's type; bucket[N] fields are always int
    (spec: the transform's result type)."""
    from ..functions.bucket import parse_bucket_transform

    by_id = {f["id"]: f for f in ice_schema}
    fields = []
    for pf in spec_fields:
        src = by_id[pf["source-id"]]
        ptype = (
            "int" if parse_bucket_transform(pf.get("transform", "identity"))
            else src["type"]
        )
        fields.append(
            {
                "name": pf["name"],
                "type": ["null", _ICEBERG_TO_AVRO[ptype]],
                "field-id": pf["field-id"],
                "default": None,
            }
        )
    return {"type": "record", "name": "r102", "fields": fields}


def manifest_entry_schema(spec_fields: list[dict], ice_schema: list[dict]) -> dict:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": _partition_avro_schema(spec_fields, ice_schema), "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "null_value_counts", "type": ["null", _kv_map_schema("k110_v111", 121, 122, "long")], "field-id": 110, "default": None},
            {"name": "lower_bounds", "type": ["null", _kv_map_schema("k126_v127", 126, 127, "bytes")], "field-id": 125, "default": None},
            {"name": "upper_bounds", "type": ["null", _kv_map_schema("k129_v130", 129, 130, "bytes")], "field-id": 128, "default": None},
            {"name": "equality_ids", "type": ["null", {"type": "array", "items": "int"}], "field-id": 135, "default": None},
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1, "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "field-id": 3, "default": None},
            {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4, "default": None},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": {
                "type": "record",
                "name": "r508",
                "fields": [
                    {"name": "contains_null", "type": "boolean", "field-id": 509},
                    {"name": "contains_nan", "type": ["null", "boolean"], "field-id": 518, "default": None},
                    {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510, "default": None},
                    {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511, "default": None},
                ],
            }}],
            "field-id": 507,
            "default": None,
        },
    ],
}

STATUS_EXISTING, STATUS_ADDED, STATUS_DELETED = 0, 1, 2


# ---------------------------------------------------------------------------
# metadata json
# ---------------------------------------------------------------------------


def _metadata_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def current_version(table_path: str) -> int:
    hint = os.path.join(_metadata_dir(table_path), "version-hint.text")
    if not os.path.exists(hint):
        return 0
    with open(hint) as f:
        return int(f.read().strip())


def load_metadata(table_path: str, version: int | None = None) -> dict:
    v = version if version is not None else current_version(table_path)
    if v == 0:
        raise FileNotFoundError(f"no Iceberg table at {table_path}")
    with open(os.path.join(_metadata_dir(table_path), f"v{v}.metadata.json")) as f:
        return json.load(f)


def spark_schema_ddl(ice_schema: list[dict]) -> str:
    return ", ".join(f"{f['name']} {_ICEBERG_TO_SPARK[f['type']]}" for f in ice_schema)


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def _iceberg_schema_from_spark(df) -> list[dict]:
    out = []
    for i, f in enumerate(df.schema.fields, start=1):
        tn = f.dataType.simpleString()
        if tn not in _SPARK_TO_ICEBERG:
            raise ValueError(f"unsupported column type for iceberg write: {tn}")
        out.append({"id": i, "name": f.name, "required": False, "type": _SPARK_TO_ICEBERG[tn]})
    return out


def _file_stats(path: str, ice_schema: list[dict], stats_cols: tuple[str, ...]):
    """(record_count, {null_value_counts, lower_bounds, upper_bounds})
    from the parquet footer — maps keyed by Iceberg field id, bounds
    spec-encoded."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in ice_schema}
    pf = pq.ParquetFile(path)
    md = pf.metadata
    nulls: dict[int, int] = {}
    lo: dict[int, Any] = {}
    hi: dict[int, Any] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in by_name or name not in stats_cols:
                continue
            fid = by_name[name]["id"]
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[fid] = nulls.get(fid, 0) + st.null_count
            if st.has_min_max:
                mn, mx = st.min, st.max
                lo[fid] = mn if fid not in lo or mn < lo[fid] else lo[fid]
                hi[fid] = mx if fid not in hi or mx > hi[fid] else hi[fid]
    types = {f["id"]: f["type"] for f in ice_schema}
    enc = lambda d: [{"key": k, "value": encode_bound(v, types[k])} for k, v in sorted(d.items())]
    return md.num_rows, {
        "null_value_counts": [{"key": k, "value": v} for k, v in sorted(nulls.items())],
        "lower_bounds": enc(lo),
        "upper_bounds": enc(hi),
    }


def _new_table_meta(table_path: str, df) -> dict:
    """Metadata of a table with no snapshot yet, schema 0 taken from
    ``df``. Its key order is the one every later version keeps."""
    fields = _iceberg_schema_from_spark(df)
    return {
        "format-version": FORMAT_VERSION,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": table_path,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": len(fields),
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [],
        "last-partition-id": PARTITION_FIELD_ID_START - 1,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }


def _write_metadata(table_path: str, version: int, meta: dict) -> None:
    """Publish ``meta`` as table version ``version``: write
    ``v{version}.metadata.json``, then swap ``version-hint.text`` in
    with one ``os.replace``, so a reader sees the old version or the new
    one and never a half-written hint."""
    mdir = _metadata_dir(table_path)
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f, indent=2)
    hint = os.path.join(mdir, "version-hint.text")
    with open(hint + ".tmp", "w") as f:
        f.write(str(version))
    os.replace(hint + ".tmp", hint)


def _commit_snapshot(table_path: str, meta: dict, snap_id: int, manifests: list[dict],
                     summary: dict, carry_prior: bool = True,
                     timestamp_ms: int | None = None) -> int:
    """The commit every table write ends in. Writes the manifest list
    (the current snapshot's manifests, when ``carry_prior``, then
    ``manifests``), adds snapshot ``snap_id`` to ``meta`` and publishes
    it as version ``snap_id`` (snapshot id = sequence number = version).
    Without ``timestamp_ms`` the snapshot is stamped one past the
    table's latest (1000 for a new table), so ``as_of_ms`` time travel
    never sees time go backwards. Returns ``snap_id``."""
    snaps = meta["snapshots"]
    prior = []
    if carry_prior and meta["current-snapshot-id"] != -1:
        cur = next(s for s in snaps if s["snapshot-id"] == meta["current-snapshot-id"])
        _s, prior = read_container_file(cur["manifest-list"])
    ml_path = os.path.join(_metadata_dir(table_path), f"snap-{snap_id}-manifest-list.avro")
    write_container_file(ml_path, MANIFEST_LIST_SCHEMA, prior + manifests)
    ts = timestamp_ms if timestamp_ms is not None else (
        max((s["timestamp-ms"] for s in snaps), default=999) + 1
    )
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": snap_id,
        "timestamp-ms": ts,
        "manifest-list": ml_path,
        "schema-id": meta.get("current-schema-id", 0),
        "summary": summary,
    }
    _write_metadata(table_path, snap_id, {
        **meta,
        "last-sequence-number": snap_id,
        "last-updated-ms": ts,
        "current-snapshot-id": snap_id,
        "snapshots": snaps + [snapshot],
        "snapshot-log": meta.get("snapshot-log", [])
        + [{"timestamp-ms": ts, "snapshot-id": snap_id}],
    })
    return snap_id


def write_iceberg(
    spark,
    df,
    table_path: str,
    partition_by: str | None = None,
    stats_cols: tuple[str, ...] = (),
    timestamp_ms: int | None = None,
    partition_transform: str = "identity",
    summary_extra: dict | None = None,
) -> int:
    """Append ``df`` as a new snapshot (creating the table if absent).
    Returns the new snapshot id. Deterministic: snapshot id = version.
    ``summary_extra`` entries are merged into the snapshot summary —
    the spec's carrier for commit provenance (the streaming sink records
    its query id + batch id there for exactly-once replay skips).

    ``partition_transform``: ``"identity"`` (one directory per distinct
    ``partition_by`` value) or ``"bucket[N]"`` (the spec murmur3 bucket
    transform over ``partition_by`` — see functions.bucket). Bucketing
    the MERGE/join key caps the partition count at N regardless of key
    cardinality and lets the scanner prune ``key = ?`` point lookups to
    1/N of the files from manifests alone — the layout a mutable 100 TB
    keyed table wants (identity on a high-cardinality key would create
    one directory per key).

    ``table_path`` is normalized to an absolute path: Spark resolves
    relative write paths against the JVM working dir, not the Python
    process cwd, and manifests must reference files consistently with
    the scan's absolute ``_metadata.file_path`` (r5 ADVICE fix)."""
    table_path = os.path.abspath(table_path)
    os.makedirs(_metadata_dir(table_path), exist_ok=True)
    v = current_version(table_path)
    meta = load_metadata(table_path) if v else _new_table_meta(table_path, df)
    # --- schema evolution: an append whose df carries NEW columns registers
    # a new schema (next schema-id); existing columns keep their field ids
    # (id stability is what keeps old files' stats/bounds valid), new
    # columns get fresh ids past last-column-id. Old data files simply lack
    # the new columns — the reader's schema-on-read fills nulls. Type
    # changes are rejected (only additive evolution is supported).
    prior_schemas = list(meta["schemas"])
    cur_sid = meta.get("current-schema-id", 0)
    base_fields = next(
        s["fields"] for s in prior_schemas if s.get("schema-id", 0) == cur_sid
    )
    last_col_id = meta.get("last-column-id", len(base_fields))
    by_name0 = {f["name"]: f for f in base_fields}
    added_fields = []
    for f in df.schema.fields:
        tn = f.dataType.simpleString()
        if tn not in _SPARK_TO_ICEBERG:
            raise ValueError(f"unsupported column type for iceberg write: {tn}")
        if f.name in by_name0:
            if _SPARK_TO_ICEBERG[tn] != by_name0[f.name]["type"]:
                raise ValueError(
                    f"column type change not supported: {f.name} "
                    f"{by_name0[f.name]['type']} -> {_SPARK_TO_ICEBERG[tn]}"
                )
        else:
            last_col_id += 1
            added_fields.append({
                "id": last_col_id, "name": f.name, "required": False,
                "type": _SPARK_TO_ICEBERG[tn],
            })
    if added_fields:
        ice_schema = base_fields + added_fields
        cur_sid = max(s.get("schema-id", 0) for s in prior_schemas) + 1
        prior_schemas = prior_schemas + [
            {"type": "struct", "schema-id": cur_sid, "fields": ice_schema}
        ]
    else:
        ice_schema = base_fields
    by_name = {f["name"]: f for f in ice_schema}
    stats_cols = tuple(stats_cols) + ((partition_by,) if partition_by else ())

    # --- partition-spec evolution: reuse a prior spec with the same shape,
    # else register a NEW spec (next spec-id, fresh partition field-id).
    # Old manifests keep their spec-id; the reader prunes per manifest.
    prior_specs = list(meta["partition-specs"])
    last_pfid = meta.get("last-partition-id", PARTITION_FIELD_ID_START - 1)
    from ..functions.bucket import parse_bucket_transform

    nb = parse_bucket_transform(partition_transform)
    part_name = f"{partition_by}_bucket" if nb else partition_by
    want = (
        [{"name": part_name, "transform": partition_transform,
          "source-id": by_name[partition_by]["id"]}]
        if partition_by
        else []
    )
    spec_id = None
    spec_fields = []
    for sp in prior_specs:
        shape = [{k: f[k] for k in ("name", "transform", "source-id")} for f in sp["fields"]]
        if shape == want:
            spec_id = sp["spec-id"]
            spec_fields = sp["fields"]
            break
    if spec_id is None:
        spec_id = max((sp["spec-id"] for sp in prior_specs), default=-1) + 1
        spec_fields = [
            dict(f, **{"field-id": last_pfid + 1 + i}) for i, f in enumerate(want)
        ]
        last_pfid += len(want)
        prior_specs = prior_specs + [{"spec-id": spec_id, "fields": spec_fields}]

    snap_id = v + 1
    # --- data files: full rows, one directory per partition value.
    # __part duplicates the partition column so partitionBy consumes the
    # copy and the real column stays IN the file (spec requirement).
    from pyspark.sql import functions as F

    data_dir = os.path.join(table_path, "data", f"snap-{snap_id}")
    part_info = _part_field_info(spec_fields[0] if spec_fields else None, ice_schema)
    if part_info:
        w = _with_part_col(df, part_info, "__part").repartition(F.col("__part"))
        w.write.partitionBy("__part").mode("overwrite").parquet(data_dir)
    else:
        df.write.mode("overwrite").parquet(data_dir)

    manifest = _write_data_manifest(
        table_path, snap_id, data_dir, ice_schema, stats_cols, part_info, spec_id, spec_fields
    )
    meta = {
        **meta,
        "last-column-id": last_col_id,
        "current-schema-id": cur_sid,
        "schemas": prior_schemas,
        "default-spec-id": spec_id,
        "partition-specs": prior_specs,
        "last-partition-id": last_pfid,
    }
    summary = {
        "operation": "append", "added-data-files": str(manifest["added_files_count"]),
        **{str(k): str(v) for k, v in (summary_extra or {}).items()},
    }
    return _commit_snapshot(table_path, meta, snap_id, [manifest], summary,
                            timestamp_ms=timestamp_ms)


def compact_table(spark, table_path: str, target_files: int = 1,
                  sort_by: str | None = None) -> int:
    """The ``rewrite_data_files`` maintenance action: rewrite the CURRENT
    snapshot's data into ``target_files`` files per partition value and
    commit a REPLACE snapshot whose manifest list references only the
    compacted manifest. Logical content is unchanged (same rows); older
    snapshots still reference the original files, so time travel keeps
    working, and incremental cursors skip replace snapshots (no new
    rows). Returns the new snapshot id.

    ``sort_by`` rewrites CLUSTERED by a column (the rewrite_data_files
    sort strategy): files are range-partitioned and sorted on it, so its
    per-file lower/upper bounds become tight disjoint intervals and the
    connector's bounds pruning (_prune_file) skips most files for a range
    predicate — point this at a stored Morton/cell column and the Iceberg
    scan becomes the Z-order spatially-pruned layout (the engine's
    storage-level answer to hot-region queries at 100 TB). The sort
    column is added to the manifest stats so pruning has its bounds."""
    from pyspark.sql import functions as F

    table_path = os.path.abspath(table_path)
    t = IcebergTable(table_path)
    snap_id = current_version(table_path) + 1
    ice_schema, spec_fields = t.schema_fields, t.partition_fields
    part_info = _part_field_info(spec_fields[0] if spec_fields else None, ice_schema)
    # keep the same stats columns the existing manifests carry
    stats_cols = _existing_stats_cols(t)
    if sort_by and sort_by not in stats_cols:
        stats_cols = stats_cols + (sort_by,)

    df = t.scan(spark)
    data_dir = os.path.join(table_path, "data", f"snap-{snap_id}")
    if sort_by and part_info:
        w = (
            _with_part_col(df, part_info, "__part")
            .repartition(target_files, F.col("__part"))
            .sortWithinPartitions("__part", sort_by)
        )
        w.write.partitionBy("__part").mode("overwrite").parquet(data_dir)
    elif sort_by:
        (
            df.repartitionByRange(target_files, F.col(sort_by))
            .sortWithinPartitions(sort_by)
            .write.mode("overwrite")
            .parquet(data_dir)
        )
    elif part_info:
        w = _with_part_col(df, part_info, "__part").repartition(
            target_files, F.col("__part")
        )
        w.write.partitionBy("__part").mode("overwrite").parquet(data_dir)
    else:
        df.coalesce(target_files).write.mode("overwrite").parquet(data_dir)

    manifest = _write_data_manifest(
        table_path, snap_id, data_dir, ice_schema, stats_cols, part_info,
        t.meta.get("default-spec-id", 0), spec_fields,
    )
    summary = {"operation": "replace", "rewritten-data-files": str(manifest["added_files_count"])}
    return _commit_snapshot(table_path, t.meta, snap_id, [manifest], summary, carry_prior=False)


def _snapshot_referenced_paths(snap: dict) -> set[str]:
    """Every file path a snapshot pins: its manifest list, the manifests
    it references, and every live-or-deleted entry's data/delete file."""
    paths = {snap["manifest-list"]}
    _s, manifests = read_container_file(snap["manifest-list"])
    for mf in manifests:
        paths.add(mf["manifest_path"])
        _es, entries = read_container_file(mf["manifest_path"])
        for e in entries:
            paths.add(e["data_file"]["file_path"])
    return paths


def expire_snapshots(table_path: str, keep_last: int = 1,
                     older_than_ms: int | None = None) -> int:
    """The ``expire_snapshots`` maintenance action: drop old snapshots
    from the metadata and PHYSICALLY delete every data/delete/manifest/
    manifest-list file no surviving snapshot references — the GC that
    keeps a 10¹²-row table's storage bounded under continuous appends,
    compactions, and deletes. Keeps the current snapshot plus the most
    recent ``keep_last`` snapshots (and, if ``older_than_ms`` is given,
    everything newer than it). Time travel to an expired snapshot then
    fails, by design. Returns the number of snapshots expired."""
    table_path = os.path.abspath(table_path)
    meta = load_metadata(table_path)
    snaps = meta["snapshots"]
    cur_id = meta["current-snapshot-id"]
    by_recency = sorted(snaps, key=lambda s: s["snapshot-id"], reverse=True)
    keep_ids = {cur_id} | {s["snapshot-id"] for s in by_recency[:keep_last]}
    if older_than_ms is not None:
        keep_ids |= {s["snapshot-id"] for s in snaps if s["timestamp-ms"] >= older_than_ms}
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return 0
    survivors = [s for s in snaps if s["snapshot-id"] in keep_ids]
    referenced: set[str] = set()
    for s in survivors:
        referenced |= _snapshot_referenced_paths(s)
    # walk ALL expired snapshots before deleting anything: consecutive
    # snapshots share manifests (append carries prior manifests forward),
    # so deleting during the walk would break a later snapshot's read
    expired_refs: set[str] = set()
    for s in expired:
        expired_refs |= _snapshot_referenced_paths(s)
    for p in expired_refs - referenced:
        if os.path.exists(p):
            os.remove(p)

    _write_metadata(table_path, current_version(table_path) + 1, {
        **meta,
        "snapshots": survivors,
        "snapshot-log": [
            e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in keep_ids
        ],
    })
    return len(expired)


def delete_rows(spark, table_path: str, filters=None, timestamp_ms: int | None = None,
                predicate=None) -> int:
    """Commit a POSITION-DELETE snapshot (Iceberg v2 merge-on-read row
    deletes, spec data_file.content=1): rows of the CURRENT snapshot
    matching ``filters`` (same ``(col, op, literal)`` grammar as scan) are
    tombstoned as sorted (file_path, pos) pairs in a position-delete
    parquet file referenced from a content=1 delete manifest — data files
    are NOT rewritten. Row ordinals are computed DISTRIBUTED via Spark's
    ``_metadata.row_index`` hidden column, so the driver never material-
    izes matches. Readers anti-join the tombstones at scan time
    (merge-on-read); ``compact_table`` materializes them away.

    ``predicate`` (a pyspark Column) selects rows with arbitrary
    expressions the pruning grammar can't carry (e.g. ``col % 7 == 0``);
    it composes with ``filters`` (which additionally prune files).

    Supported subset vs the spec: deletes are committed at the table's
    head and apply to every live data file of the current snapshot (all
    data sequence numbers <= the delete's sequence number); data files
    appended LATER have fresh unique paths, so the path+pos anti-join
    correctly never touches them. Returns the new snapshot id."""
    from pyspark.sql import functions as F

    if not filters and predicate is None:
        raise ValueError(
            "delete_rows with no filters and no predicate would tombstone "
            "every row; pass an explicit predicate (or use expire/drop paths)"
        )
    table_path = os.path.abspath(table_path)
    t = IcebergTable(table_path)
    snap_id = current_version(table_path) + 1
    tasks, _report = t.plan_files(filters=filters)
    ddl = spark_schema_ddl(t.schema_fields)
    if tasks:
        df = spark.read.schema(ddl).parquet(*[task.path for task in tasks])
        df = _filter_rows(df, filters)
        if predicate is not None:
            df = df.filter(predicate)
        tomb = df.select(
            F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
            .alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
    else:
        tomb = spark.createDataFrame([], "file_path STRING, pos LONG")
    # spec: position-delete files are sorted by (file_path, pos). Shard
    # by RANGE over the sort key so a corpus-scale delete never
    # serializes through one task (r4 VERDICT item 6): range partitions
    # are disjoint and each file stays spec-sorted, so the set of files
    # is globally ordered too. Shard count follows the table's data-file
    # count — maintenance-scale deletes still produce a single file.
    del_dir = os.path.join(table_path, "data", f"snap-{snap_id}-deletes")
    n_shards = max(1, min(64, len(tasks) // 16))
    tomb.repartitionByRange(n_shards, "file_path", "pos").sortWithinPartitions(
        "file_path", "pos"
    ).write.mode("overwrite").parquet(del_dir)

    return _commit_delete_files(t, snap_id, del_dir, content=1, timestamp_ms=timestamp_ms)


def delete_rows_equality(spark, table_path: str, keys_df, key_cols,
                         timestamp_ms: int | None = None,
                         rows_per_shard: int = 1 << 20) -> int:
    """Commit an EQUALITY-DELETE snapshot (Iceberg v2, data_file.content=2):
    every row whose ``key_cols`` values match a row of ``keys_df`` is
    logically deleted from data files with sequence number STRICTLY LESS
    than the delete's (the spec's equality-delete rule — rows appended
    LATER with the same keys stay live, which is what makes this the
    upsert building block: delete-by-key + append-new-version).

    ``keys_df``: a DataFrame with exactly ``key_cols`` columns. The key
    set is range-sharded by the key columns at ``rows_per_shard`` rows per
    file (same treatment the position-tombstone path got: a corpus-scale
    MERGE touching 1% of 10^12 rows must not serialize its key write
    through one task). Maintenance-scale key sets still produce a single
    file. Readers apply the set as an anti-join on the key columns gated
    by the per-file sequence number — broadcast while it fits the budget,
    shuffle anti-join beyond it (see ``IcebergTable.scan``). Returns the
    new snapshot id."""
    table_path = os.path.abspath(table_path)
    t = IcebergTable(table_path)
    snap_id = current_version(table_path) + 1
    key_cols = list(key_cols)
    ids_by_name = {f["name"]: f["id"] for f in t.schema_fields}
    eq_ids = [ids_by_name[c] for c in key_cols]

    del_dir = os.path.join(table_path, "data", f"snap-{snap_id}-eqdeletes")
    keys = keys_df.select(*key_cols).dropDuplicates()
    keys.persist()  # count + write read the dedup shuffle once
    try:
        n_keys = keys.count()
        n_shards = max(1, min(64, -(-n_keys // max(1, rows_per_shard))))
        keys.repartitionByRange(n_shards, *key_cols).sortWithinPartitions(
            *key_cols
        ).write.mode("overwrite").parquet(del_dir)
    finally:
        keys.unpersist()

    return _commit_delete_files(t, snap_id, del_dir, content=2, timestamp_ms=timestamp_ms,
                                equality_ids=eq_ids)


def upsert(spark, table_path: str, df, key_cols,
           timestamp_ms: int | None = None) -> tuple[int, int]:
    """MERGE-by-key (the CDC upsert every changing web corpus needs):
    equality-delete the incoming keys, then append ``df`` as the new row
    versions — existing rows with those keys are superseded, unseen keys
    are plain inserts. Partitioning and stats columns are inherited from
    the table. Two metadata commits, each atomic; a reader racing between
    them sees the keys deleted but not yet re-inserted (same visibility
    window a REST-catalog two-statement transaction would close).
    Returns (delete_snapshot_id, append_snapshot_id)."""
    t = IcebergTable(table_path)
    sid1 = delete_rows_equality(
        spark, table_path, df.select(*key_cols), key_cols, timestamp_ms
    )
    # inherit the table's partitioning INCLUDING its transform: a
    # bucket-partitioned table must keep writing bucket dirs or the
    # spec-shape match in write_iceberg would register a new spec
    pf = t.partition_fields[0] if t.partition_fields else None
    info = _part_field_info(pf, t.schema_fields)
    part = info["source_name"] if info else None
    stats = tuple(c for c in _existing_stats_cols(t) if c != part)
    sid2 = write_iceberg(
        spark, df, table_path, partition_by=part, stats_cols=stats,
        timestamp_ms=None if timestamp_ms is None else timestamp_ms + 1,
        partition_transform=info["transform"] if info else "identity",
    )
    return sid1, sid2


def _existing_stats_cols(t: "IcebergTable") -> tuple:
    """Column names that carry bounds in the current snapshot's manifests."""
    snap = t._resolve_snapshot()
    _s, manifests = read_container_file(snap["manifest-list"])
    ids = set()
    for mf in manifests:
        _es, entries = read_container_file(mf["manifest_path"])
        for e in entries:
            for kv in e["data_file"].get("lower_bounds") or []:
                ids.add(kv["key"])
    by_id = {f["id"]: f["name"] for f in t.schema_fields}
    return tuple(by_id[i] for i in sorted(ids) if i in by_id)


_HIVE_NULL_SENTINEL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_path_name(s: str) -> str:
    """Inverse of Hive/Spark escapePathName: reserved ASCII chars are
    written as %XX (e.g. ':' -> %3A) in partition directory names."""
    out = []
    i = 0
    while i < len(s):
        if s[i] == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def _part_field_info(pf: dict | None, ice_schema: list[dict]) -> dict | None:
    """Normalized view of one partition-spec field: name, transform,
    bucket count (None for identity), source column name/type, and the
    partition VALUE type ('int' for bucket, source type for identity)."""
    if not pf:
        return None
    from ..functions.bucket import parse_bucket_transform

    by_id = {f["id"]: f for f in ice_schema}
    src = by_id[pf["source-id"]]
    n = parse_bucket_transform(pf.get("transform", "identity"))
    return {
        "name": pf["name"],
        "transform": pf.get("transform", "identity"),
        "n_buckets": n,
        "source_name": src["name"],
        "source_type": src["type"],
        "result_type": "int" if n else src["type"],
    }


def _with_part_col(df, info: dict, out: str):
    """df + partition-value column ``out`` computed from the source
    column (identity: the column itself; bucket[N]: the spec murmur3
    bucket — a linear withColumn step chain for longs, a built-in fold
    for strings)."""
    from pyspark.sql import functions as F

    from ..functions.bucket import with_bucket_long, with_bucket_string

    if not info["n_buckets"]:
        return df.withColumn(out, F.col(info["source_name"]))
    if info["source_type"] in ("int", "long"):
        return with_bucket_long(df, info["source_name"], out, info["n_buckets"])
    if info["source_type"] == "string":
        return with_bucket_string(df, info["source_name"], out, info["n_buckets"])
    raise ValueError(
        f"bucket transform unsupported on type {info['source_type']!r} "
        "(int/long/string keys only)"
    )


def _coerce_partition_value(raw: str | None, ice_type: str):
    """Partition-directory-name string -> TYPED Iceberg partition value.

    Spark writes nulls as __HIVE_DEFAULT_PARTITION__ and %XX-escapes
    reserved chars; summaries/bounds must be computed on typed values —
    lexicographic min('10', '9') = '10' would invert numeric bounds,
    making _prune_manifest silently drop manifests that DO match."""
    if raw is None or raw == _HIVE_NULL_SENTINEL:
        return None
    s = _unescape_path_name(raw)
    if ice_type in ("int", "long"):
        return int(s)
    if ice_type in ("float", "double"):
        return float(s)
    if ice_type == "boolean":
        return s.lower() == "true"
    if ice_type in ("timestamptz", "timestamp"):
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)  # Iceberg micros
    return s


def _manifest_entry(snap_id: int, path: str, record_count: int, **data_file) -> dict:
    """ADDED manifest entry for one parquet file; ``data_file`` overrides
    the defaults (content 0 = data, 1 = position deletes, 2 = equality
    deletes; partition, stats maps and equality ids empty)."""
    return {
        "status": STATUS_ADDED,
        "snapshot_id": snap_id,
        "sequence_number": snap_id,
        "file_sequence_number": snap_id,
        "data_file": {
            "content": 0,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": record_count,
            "file_size_in_bytes": os.path.getsize(path),
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
            **data_file,
        },
    }


def _write_manifest(table_path, snap_id, file_dir, entries, spec_id, spec_fields,
                    ice_schema, partitions=None, content=0) -> dict:
    """Write ``entries`` (the files under ``file_dir``) as the manifest
    ``<file_dir name>-m0.avro`` and return its manifest-list record
    (``content`` 0 = data manifest, 1 = delete manifest)."""
    man_path = os.path.join(
        _metadata_dir(table_path), f"{os.path.basename(file_dir)}-m0.avro"
    )
    write_container_file(man_path, manifest_entry_schema(spec_fields, ice_schema), entries)
    return {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": snap_id,
        "min_sequence_number": snap_id,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": partitions,
    }


def _write_data_manifest(table_path, snap_id, data_dir, ice_schema, stats_cols,
                         part_info, spec_id, spec_fields) -> dict:
    """Manifest every parquet data file under ``data_dir`` — partition
    value from its ``__part=`` directory (``part_info``: a
    :func:`_part_field_info` dict, or None), stats from its footer."""
    part_col = part_info["name"] if part_info else None
    part_type = part_info["result_type"] if part_info else None
    entries = []
    for root, _dirs, files in sorted(os.walk(data_dir)):
        part_val = None
        base = os.path.basename(root)
        if base.startswith("__part="):
            part_val = _coerce_partition_value(base[len("__part="):], part_type)
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(root, fn)
            n, stats = _file_stats(p, ice_schema, stats_cols)
            entries.append(_manifest_entry(
                snap_id, p, n, partition={part_col: part_val} if part_col else {}, **stats
            ))
    return _write_manifest(
        table_path, snap_id, data_dir, entries, spec_id, spec_fields, ice_schema,
        _partition_summary(entries, part_info),
    )


def _commit_delete_files(t: "IcebergTable", snap_id: int, del_dir: str, content: int,
                         timestamp_ms: int | None, equality_ids=None) -> int:
    """Commit the delete files Spark wrote under ``del_dir`` (``content``
    1 = position, 2 = equality deletes over ``equality_ids``) as one
    delete manifest on top of ``t``'s current snapshot. The manifest
    carries an empty partition struct: the deletes are path- or
    key-scoped, not partition-scoped."""
    import pyarrow.parquet as pq

    entries = [
        _manifest_entry(snap_id, p, pq.ParquetFile(p).metadata.num_rows,
                        content=content, equality_ids=equality_ids)
        for p in (os.path.join(del_dir, fn) for fn in sorted(os.listdir(del_dir)))
        if p.endswith(".parquet")
    ]
    manifest = _write_manifest(
        t.path, snap_id, del_dir, entries, t.meta.get("default-spec-id", 0), [],
        t.schema_fields, content=1,
    )
    family = "position" if content == 1 else "equality"
    summary = {
        "operation": "delete",
        "added-delete-files": str(len(entries)),
        f"added-{family}-deletes": str(manifest["added_rows_count"]),
    }
    return _commit_snapshot(t.path, t.meta, snap_id, [manifest], summary,
                            timestamp_ms=timestamp_ms)


def _partition_summary(entries, part_field):
    """Manifest-list partition field summary (``part_field``: a
    :func:`_part_field_info` dict, or None)."""
    if not part_field:
        return None
    part_col = part_field["name"]
    vals = [e["data_file"]["partition"][part_col] for e in entries]
    non_null = [x for x in vals if x is not None]
    pt = part_field["result_type"]
    return [{
        "contains_null": any(x is None for x in vals),
        "contains_nan": False,
        "lower_bound": encode_bound(min(non_null), pt) if non_null else None,
        "upper_bound": encode_bound(max(non_null), pt) if non_null else None,
    }]


def _filter_rows(df, filters):
    """``df`` with each ``(col, op, literal)`` filter applied Spark-side
    (op in =, <, <=, >, >=)."""
    from pyspark.sql import functions as F

    for (col, op, value) in filters or []:
        c = F.col(col)
        df = df.filter(
            {"=": c == value, "<": c < value, "<=": c <= value,
             ">": c > value, ">=": c >= value}[op]
        )
    return df


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


@dataclass
class FileTask:
    path: str
    record_count: int
    partition: dict = field(default_factory=dict)
    seq: int = 0  # data sequence number (equality deletes apply to seq < theirs)


def _bound_excludes(op: str, value: Any, lo: Any, hi: Any) -> bool:
    """True when [lo, hi] proves no row can satisfy (col op value)."""
    if op == "=":
        return (lo is not None and value < lo) or (hi is not None and value > hi)
    if op in ("<", "<="):
        return lo is not None and (lo > value or (op == "<" and lo >= value))
    if op in (">", ">="):
        return hi is not None and (hi < value or (op == ">" and hi <= value))
    return False


class IcebergTable:
    """Reader over a table written by :func:`write_iceberg` (or any
    spec-conformant v2 table within this module's supported subset)."""

    def __init__(self, table_path: str):
        # absolute from the start: manifests/tombstones join against the
        # scan's absolute _metadata.file_path, and Spark resolves relative
        # paths against the JVM cwd, not the Python cwd (r5 ADVICE fix)
        self.path = os.path.abspath(table_path)
        self.meta = load_metadata(self.path)
        sid = self.meta.get("current-schema-id", 0)
        self.schema_fields = next(
            s["fields"] for s in self.meta["schemas"] if s.get("schema-id", 0) == sid
        )
        self._types_by_name = {f["name"]: f["type"] for f in self.schema_fields}
        self._ids_by_name = {f["name"]: f["id"] for f in self.schema_fields}
        # spec evolution: each manifest carries its partition_spec_id and
        # is pruned against ITS spec's fields, not the current default.
        # Full field dicts (name/transform/source-id) — bucket pruning
        # needs the transform; partition_cols keeps the name view.
        self.specs = {
            sp["spec-id"]: list(sp["fields"])
            for sp in self.meta["partition-specs"]
        }
        self.partition_fields = self.specs.get(self.meta.get("default-spec-id", 0), [])
        self.partition_cols = [pf["name"] for pf in self.partition_fields]

    # -- snapshots ---------------------------------------------------------
    def snapshots(self) -> list[dict]:
        return self.meta["snapshots"]

    def _resolve_snapshot(self, snapshot_id=None, as_of_ms=None) -> dict:
        snaps = self.meta["snapshots"]
        if snapshot_id is not None:
            return next(s for s in snaps if s["snapshot-id"] == snapshot_id)
        if as_of_ms is not None:
            ok = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
            if not ok:
                raise ValueError(f"no snapshot at or before {as_of_ms}")
            return max(ok, key=lambda s: s["timestamp-ms"])
        return next(s for s in snaps if s["snapshot-id"] == self.meta["current-snapshot-id"])

    def _schema_for_snapshot(self, snap: dict) -> list[dict]:
        """Schema evolution: each snapshot reads with ITS schema-id (a
        time-travel scan to before an add-column must not show the new
        column); unknown/missing ids fall back to the current schema."""
        sid = snap.get("schema-id", self.meta.get("current-schema-id", 0))
        for s in self.meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s["fields"]
        return self.schema_fields

    # -- planning ----------------------------------------------------------
    def _prune_manifest(self, mf: dict, filters) -> bool:
        """True -> skip this manifest entirely (partition summary proof,
        against the manifest's OWN partition spec)."""
        spec_fields = self.specs.get(mf.get("partition_spec_id", 0), [])
        if not filters or not mf.get("partitions") or not spec_fields:
            return False
        for (col, op, value) in filters:
            for pf, summ in zip(spec_fields, mf["partitions"]):
                info = _part_field_info(pf, self.schema_fields)
                if info["n_buckets"]:
                    # bucket field: only a key EQUALITY maps through the
                    # transform (bucket order says nothing about ranges)
                    if col != info["source_name"] or op != "=":
                        continue
                    from ..functions.bucket import iceberg_bucket_py

                    probe, pt = iceberg_bucket_py(value, info["n_buckets"]), "int"
                else:
                    if col != info["name"]:
                        continue
                    probe, pt = value, self._types_by_name[info["name"]]
                lo = decode_bound(summ["lower_bound"], pt) if summ.get("lower_bound") else None
                hi = decode_bound(summ["upper_bound"], pt) if summ.get("upper_bound") else None
                if _bound_excludes("=" if info["n_buckets"] else op, probe, lo, hi) \
                        and not summ.get("contains_null"):
                    return True
        return False

    def plan_files(
        self, snapshot_id=None, as_of_ms=None, filters=None
    ) -> tuple[list[FileTask], dict]:
        """-> (surviving file tasks, pruning report). Filters are
        ``(col, op, literal)`` with op in =, <, <=, >, >=."""
        snap = self._resolve_snapshot(snapshot_id, as_of_ms)
        _s, manifests = read_container_file(snap["manifest-list"])
        report = {"manifests_total": len(manifests), "manifests_pruned": 0,
                  "files_total": 0, "files_pruned": 0, "delete_files": 0}
        tasks: list[FileTask] = []
        for mf in manifests:
            if mf.get("content") == 1:  # delete manifest: not data
                report["delete_files"] += mf.get("added_files_count", 0)
                continue
            if self._prune_manifest(mf, filters):
                report["manifests_pruned"] += 1
                continue
            _es, entries = read_container_file(mf["manifest_path"])
            for e in entries:
                if e["status"] == STATUS_DELETED:
                    continue
                df_ = e["data_file"]
                report["files_total"] += 1
                if self._prune_file(
                    df_, filters,
                    self.specs.get(mf.get("partition_spec_id", 0), []),
                ):
                    report["files_pruned"] += 1
                    continue
                tasks.append(FileTask(
                    df_["file_path"], df_["record_count"], dict(df_["partition"]),
                    e.get("sequence_number") or mf.get("sequence_number", 0),
                ))
        return tasks, report

    def plan_delete_entries(self, snapshot_id=None, as_of_ms=None) -> list[dict]:
        """[{path, content, seq, equality_cols, record_count}] for the
        snapshot's delete files (content=1 position, content=2 equality).
        Empty for pre-delete snapshots — time travel to before a delete
        naturally sees the undeleted rows. ``record_count`` comes from the
        manifest (no file I/O) and is what lets the scanner size-gate the
        equality-delete anti-join without touching the delete files."""
        snap = self._resolve_snapshot(snapshot_id, as_of_ms)
        _s, manifests = read_container_file(snap["manifest-list"])
        by_id = {f["id"]: f["name"] for f in self.schema_fields}
        out = []
        for mf in manifests:
            if mf.get("content") != 1:  # manifest-list content: 1 = deletes
                continue
            _es, entries = read_container_file(mf["manifest_path"])
            for e in entries:
                if e["status"] == STATUS_DELETED:
                    continue
                d = e["data_file"]
                out.append({
                    "path": d["file_path"],
                    "content": d.get("content", 1),
                    "seq": e.get("sequence_number") or mf.get("sequence_number", 0),
                    "equality_cols": [by_id[i] for i in d.get("equality_ids") or []],
                    "record_count": d.get("record_count") or 0,
                })
        return out

    def plan_delete_files(self, snapshot_id=None, as_of_ms=None) -> list[str]:
        """Position-delete file paths only (see plan_delete_entries)."""
        return [
            d["path"]
            for d in self.plan_delete_entries(snapshot_id, as_of_ms)
            if d["content"] == 1
        ]

    def _prune_file(self, data_file: dict, filters, spec_fields=None) -> bool:
        if not filters:
            return False
        part = data_file.get("partition", {})
        bucket_by_src = {}
        for pf in spec_fields or []:
            info = _part_field_info(pf, self.schema_fields)
            if info["n_buckets"] and info["name"] in part:
                bucket_by_src[info["source_name"]] = (
                    info["name"], info["n_buckets"]
                )
        for (col, op, value) in filters:
            # identity partition value: exact prune. A null partition can
            # never satisfy a comparison predicate (SQL three-valued
            # logic), so null-partition files are prunable too.
            if col in part:
                pv = part[col]
                if pv is None or _bound_excludes(op, value, pv, pv):
                    return True
            # bucket partition value: a key equality can only live in the
            # literal's own bucket — the manifest-only 1/N point-lookup
            # prune that makes a keyed 100 TB table cheap to probe
            if op == "=" and col in bucket_by_src:
                pname, n = bucket_by_src[col]
                from ..functions.bucket import iceberg_bucket_py

                pv = part[pname]
                if pv is None or pv != iceberg_bucket_py(value, n):
                    return True
            # column bounds from file stats
            fid = self._ids_by_name.get(col)
            if fid is None:
                continue
            pt = self._types_by_name[col]
            lo = hi = None
            for kv in data_file.get("lower_bounds") or []:
                if kv["key"] == fid:
                    lo = decode_bound(kv["value"], pt)
            for kv in data_file.get("upper_bounds") or []:
                if kv["key"] == fid:
                    hi = decode_bound(kv["value"], pt)
            if (lo is not None or hi is not None) and _bound_excludes(op, value, lo, hi):
                return True
        return False

    def plan_incremental_files(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> list[FileTask]:
        """Files ADDED strictly after ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default: current) — the append-only
        incremental/CDC read that feeds a streaming ingest: each
        micro-batch processes exactly the rows new since the last
        checkpointed snapshot, with snapshot isolation guaranteeing no
        torn reads of a half-committed append.

        Caveat: a REPLACE (compaction) snapshot re-adds the whole table's
        rows as new files; a window spanning one would double-count. Use
        ``streaming.iceberg_ingest.IcebergCursor``, which advances past
        replace snapshots without emitting a batch."""
        to_snap = self._resolve_snapshot(to_snapshot_id)
        _s, manifests = read_container_file(to_snap["manifest-list"])
        tasks = []
        for mf in manifests:
            if mf.get("content") == 1:
                continue  # delete manifests add tombstones, not rows
            if mf["added_snapshot_id"] <= from_snapshot_id:
                continue  # whole manifest predates the cursor
            _es, entries = read_container_file(mf["manifest_path"])
            for e in entries:
                if e["status"] == STATUS_DELETED:
                    continue
                if (e.get("snapshot_id") or mf["added_snapshot_id"]) <= from_snapshot_id:
                    continue
                d = e["data_file"]
                tasks.append(FileTask(d["file_path"], d["record_count"], dict(d["partition"])))
        return tasks

    def scan_incremental(self, spark, from_snapshot_id: int, to_snapshot_id: int | None = None):
        """-> DataFrame of rows appended in (from_snapshot_id, to]."""
        tasks = self.plan_incremental_files(from_snapshot_id, to_snapshot_id)
        ddl = spark_schema_ddl(
            self._schema_for_snapshot(self._resolve_snapshot(to_snapshot_id))
        )
        if not tasks:
            return spark.createDataFrame([], ddl)
        return spark.read.schema(ddl).parquet(*[t.path for t in tasks])

    # -- scan --------------------------------------------------------------
    def scan(self, spark, snapshot_id=None, as_of_ms=None, filters=None,
             eq_delete_broadcast_max_rows: int = 4 << 20):
        """-> DataFrame over the snapshot, file-pruned by ``filters`` and
        re-filtered Spark-side (semantics never depend on pruning).
        Position-delete files (v2 merge-on-read) are applied as a
        BROADCAST anti-join on (file_path, row ordinal) — the tombstone
        set is maintenance-scale next to the data (a shuffle anti-join
        would reshuffle the whole scan); a table whose deletes outgrow
        the broadcast budget should be compacted (``compact_table``
        materializes deletes away).

        Equality-delete sets (the MERGE/upsert key path) are size-gated
        by the manifests' record counts: a set at or below
        ``eq_delete_broadcast_max_rows`` is broadcast; a corpus-scale key
        set falls back to a shuffle anti-join (sort-merge on the null-safe
        key equality, the per-file sequence gate applied as the join's
        residual condition) rather than blowing the broadcast budget."""
        tasks, _report = self.plan_files(snapshot_id, as_of_ms, filters)
        ddl = spark_schema_ddl(
            self._schema_for_snapshot(self._resolve_snapshot(snapshot_id, as_of_ms))
        )
        if not tasks:
            return spark.createDataFrame([], ddl)
        df = spark.read.schema(ddl).parquet(*[t.path for t in tasks])
        del_entries = self.plan_delete_entries(snapshot_id, as_of_ms)
        df = self._apply_deletes(
            spark, df, tasks, del_entries, eq_delete_broadcast_max_rows
        )
        return _filter_rows(df, filters)

    def _apply_deletes(self, spark, df, tasks, del_entries,
                       eq_delete_broadcast_max_rows: int = 4 << 20):
        """Apply the snapshot's v2 delete files to a DataFrame scanning
        exactly ``tasks`` (see :meth:`scan` for the strategy notes).
        Delete sets referencing files outside ``tasks`` simply match no
        rows — callers may scan any task subset (bucket_join scans one
        bucket at a time)."""
        from pyspark.sql import functions as F

        pos_paths = [d["path"] for d in del_entries if d["content"] == 1]
        eq_dels = [d for d in del_entries if d["content"] == 2]
        if pos_paths or eq_dels:
            df = df.withColumn(
                "__fp", F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
            )
        if pos_paths:
            dels = spark.read.parquet(*pos_paths).select(
                F.col("file_path").alias("__del_fp"), F.col("pos").alias("__del_pos")
            )
            df = (
                df.withColumn("__pos", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(dels),
                    (F.col("__fp") == F.col("__del_fp"))
                    & (F.col("__pos") == F.col("__del_pos")),
                    "left_anti",
                )
                .drop("__pos")
            )
        if eq_dels:
            # equality deletes apply only to rows of files with sequence
            # number STRICTLY LESS than the delete's: attach each row's
            # file sequence via a tiny broadcast (path -> seq) join, then
            # anti-join per delete set on null-safe key equality.
            # abspath both sides: __fp (from _metadata.file_path) is always
            # absolute, but task.path inherits the table_path's form — a
            # relative table_path would null the join and silently
            # resurrect upsert-superseded rows
            files_df = spark.createDataFrame(
                [(os.path.abspath(task.path), task.seq) for task in tasks],
                "__sfp STRING, __seq LONG",
            )
            df = df.join(F.broadcast(files_df), F.col("__fp") == F.col("__sfp"), "left").drop(
                "__sfp"
            )
            groups: dict = {}
            for d in eq_dels:
                groups.setdefault((d["seq"], tuple(d["equality_cols"])), []).append(d)
            for (dseq, cols), dels in sorted(groups.items()):
                keys = spark.read.parquet(*[d["path"] for d in dels]).select(
                    *[F.col(c).alias(f"__k_{c}") for c in cols]
                ).dropDuplicates()
                cond = F.col("__seq") < F.lit(dseq)
                for c in cols:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"__k_{c}"))
                n_keys = sum(d["record_count"] for d in dels)
                if n_keys <= eq_delete_broadcast_max_rows:
                    keys = F.broadcast(keys)
                df = df.join(keys, cond, "left_anti")
            df = df.drop("__seq")
        if pos_paths or eq_dels:
            df = df.drop("__fp")
        return df

    def bucket_spec(self) -> tuple[str, str, int] | None:
        """(partition field name, source column name, N) when the table's
        default spec is a single bucket[N] field, else None."""
        if len(self.partition_fields) != 1:
            return None
        info = _part_field_info(self.partition_fields[0], self.schema_fields)
        if not info["n_buckets"]:
            return None
        return info["name"], info["source_name"], info["n_buckets"]


def bucket_join(
    spark,
    left,
    right,
    key: str,
    broadcast_max_rows: int = 4 << 20,
    left_snapshot_id: int | None = None,
    right_snapshot_id: int | None = None,
):
    """Storage-co-located INNER join of two Iceberg tables bucketed with
    the SAME ``bucket[N]`` transform on the join key — the bucket-map
    join a keyed 100 TB layout exists to enable.

    Because the spec murmur3 bucket is a pure function of the key, rows
    that can ever match live in the SAME bucket on both sides. The plan
    is therefore N independent per-bucket joins (each scanning 1/N of
    each table's files, straight from manifest metadata) unioned — no
    repartitioning of either side anywhere. When a bucket's smaller side
    fits ``broadcast_max_rows`` (manifest record counts, no data read)
    that bucket joins as a broadcast-hash join, so a 100 TB fact table
    joins a 1 TB dimension with ZERO shuffle even though the dimension
    as a whole could never be broadcast — only its 1/N bucket slices
    are. Oversized bucket pairs degrade to an ordinary shuffled join of
    1/N of the data each (still N-way narrower than a whole-table SMJ).

    v2 delete files on either side are applied per bucket through the
    same merge-on-read path as :meth:`IcebergTable.scan`. Rows with a
    NULL key never match an inner equi-join and their null-partition
    files are skipped outright. Non-inner joins are not offered: their
    null/missing-bucket semantics would silently differ from a plain
    join, which is exactly what this function promises not to do.

    Engine extra (no reference analog — the reference has no table
    format); layout parity with Iceberg spec "bucket" transform +
    Hive/Iceberg storage-partitioned join semantics."""
    from pyspark.sql import functions as F

    lt = left if isinstance(left, IcebergTable) else IcebergTable(left)
    rt = right if isinstance(right, IcebergTable) else IcebergTable(right)
    sides = []
    for name, t, snap in (("left", lt, left_snapshot_id), ("right", rt, right_snapshot_id)):
        spec = t.bucket_spec()
        if spec is None:
            raise ValueError(
                f"{name} table {t.path} is not bucket-partitioned "
                "(bucket_join needs a single bucket[N] partition field)"
            )
        pname, src, n = spec
        if src != key:
            raise ValueError(
                f"{name} table {t.path} is bucketed on {src!r}, not the "
                f"join key {key!r}"
            )
        tasks, _ = t.plan_files(snapshot_id=snap)
        dels = t.plan_delete_entries(snapshot_id=snap)
        ddl = spark_schema_ddl(t._schema_for_snapshot(t._resolve_snapshot(snap)))
        by_bucket: dict[int, list[FileTask]] = {}
        for task in tasks:
            b = task.partition.get(pname)
            if b is not None:  # null-key files can never inner-match
                by_bucket.setdefault(b, []).append(task)
        sides.append({"n": n, "by_bucket": by_bucket, "dels": dels,
                      "ddl": ddl, "table": t})
    ls, rs = sides
    if ls["n"] != rs["n"]:
        raise ValueError(
            f"bucket count mismatch: left bucket[{ls['n']}] vs "
            f"right bucket[{rs['n']}] — co-location requires equal N"
        )

    def read_bucket(side, b):
        tasks = side["by_bucket"][b]
        df = spark.read.schema(side["ddl"]).parquet(*[t.path for t in tasks])
        if side["dels"]:
            df = side["table"]._apply_deletes(spark, df, tasks, side["dels"])
        return df, sum(t.record_count for t in tasks)

    pieces = []
    for b in sorted(set(ls["by_bucket"]) & set(rs["by_bucket"])):
        df_l, rc_l = read_bucket(ls, b)
        df_r, rc_r = read_bucket(rs, b)
        if min(rc_l, rc_r) <= broadcast_max_rows:
            if rc_r <= rc_l:
                df_r = F.broadcast(df_r)
            else:
                df_l = F.broadcast(df_l)
        pieces.append(df_l.join(df_r, on=key, how="inner"))
    if not pieces:
        return spark.createDataFrame([], ls["ddl"]).join(
            spark.createDataFrame([], rs["ddl"]), on=key, how="inner"
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def scan_manifests_distributed(spark, manifest_paths: list[str]):
    """Executor-side manifest parsing for snapshots with many manifests:
    parallelize the path list, each task Avro-decodes its manifests with
    the pure-Python codec and emits one row per live data file. The
    driver never holds all entries — at 10^12-row scale the file list
    itself is a DataFrame to aggregate/join, not a collect."""
    import pandas as pd
    import pyarrow as pa

    def gen(batches):
        for pdf in batches:
            rows = []
            for mp in pdf["manifest_path"]:
                _s, entries = read_container_file(mp)
                for e in entries:
                    if e["status"] == STATUS_DELETED:
                        continue
                    d = e["data_file"]
                    if d.get("content", 0) != 0:
                        continue  # position/equality delete file, not data
                    rows.append(
                        (mp, d["file_path"], d["record_count"],
                         d["file_size_in_bytes"], json.dumps(d["partition"]))
                    )
            yield pd.DataFrame(
                rows,
                columns=["manifest_path", "file_path", "record_count",
                         "file_size_in_bytes", "partition_json"],
            )

    # an Arrow table plans a LocalTableScan, not a Scan ExistingRDD
    paths = spark.createDataFrame(
        pa.table({"manifest_path": pa.array(list(manifest_paths), pa.string())})
    )
    return paths.repartition(max(1, min(len(manifest_paths), 64))).mapInPandas(
        gen,
        "manifest_path STRING, file_path STRING, record_count LONG, "
        "file_size_in_bytes LONG, partition_json STRING",
    )
