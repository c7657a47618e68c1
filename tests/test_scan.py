"""Scan-parallelism fan: the unsplittable-scan gate fans only on a known
split count."""

import pyarrow as pa
import pyarrow.parquet as pq

from robosat_spark.sources.scan import _split_units, fan_out_unsplittable_scan


def test_unreadable_footer_means_no_fan(spark, tmp_path):
    d = tmp_path / "broken"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"not a parquet file" * 64)
    assert _split_units(str(d)) is None
    df = spark.range(10)
    assert fan_out_unsplittable_scan(spark, df, str(d), min_bytes=1) is df


def test_single_row_group_file_fans(spark, tmp_path):
    d = tmp_path / "one_group"
    d.mkdir()
    pq.write_table(pa.table({"v": list(range(1000))}), str(d / "part-0.parquet"))
    assert _split_units(str(d)) == 1
    df = spark.read.parquet(str(d))
    fanned = fan_out_unsplittable_scan(spark, df, str(d), min_bytes=1, per_part=1)
    assert fanned is not df
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert fanned.count() == 1000
