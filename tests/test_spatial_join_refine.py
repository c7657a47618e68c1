"""The broadcast refine's batching and driver index (operators/spatial_join.py).

The refine coalesces its task's Arrow batches before each PIP pass; its
output must not depend on how the rows arrive. The driver index is read
from an Arrow collect and packed in NumPy; it must equal the per-tile
``pack_tile_id_py`` form."""

import numpy as np
import pyarrow as pa

from robosat_spark.operators import spatial_join as sj


def _batch(start: int, n: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(np.arange(start, start + n, dtype=np.int64))], names=["v"]
    )


def test_coalesce_drops_empty_caps_and_keeps_rows_in_order():
    sizes = [0, 3, 0, 70000, 5]
    batches, start = [], 0
    for n in sizes:
        batches.append(_batch(start, n))
        start += n
    out = list(sj._coalesce_batches(iter(batches)))
    cap = sj._REFINE_BATCH_ROWS
    assert all(b.num_rows > 0 for b in out)
    # only an input batch already over the cap may make an output batch over it
    assert all(b.num_rows <= cap or b.num_rows in sizes for b in out)
    assert [b.num_rows for b in out] == [3, 70000, 5]
    got = np.concatenate([b.column("v").to_numpy() for b in out])
    assert np.array_equal(got, np.arange(sum(sizes)))


def test_coalesce_merges_small_batches_up_to_the_cap():
    out = list(sj._coalesce_batches(iter([_batch(i, 1) for i in range(10)]), cap=4))
    assert [b.num_rows for b in out] == [4, 4, 2]
    got = np.concatenate([b.column("v").to_numpy() for b in out])
    assert np.array_equal(got, np.arange(10))
    assert list(sj._coalesce_batches(iter([_batch(0, 0)]))) == []


class _Broadcast:
    def __init__(self, value):
        self.value = value


def _square(x0, y0, w):
    return np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w], [x0, y0]])


def _points_batch():
    """Points over three features: two overlapping squares and a square
    with a hole, every point tagged with its z18 tile."""
    from robosat_spark.kernels.mercator import lonlat_to_tile, pack_tile_id

    rng = np.random.default_rng(7)
    n = 3000
    lon = rng.uniform(-82.84, -82.80, n)
    lat = rng.uniform(34.66, 34.69, n)
    x, y = lonlat_to_tile(lon, lat, 18)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"u{i}" for i in range(n)]),
            pa.array(np.arange(n).astype("datetime64[us]")),
            pa.array(lon),
            pa.array(lat),
            pa.array(pack_tile_id(x, y, 18)),
        ],
        names=["url", "warc_ts", "lon", "lat", "tile_id"],
    )


def _index():
    from robosat_spark.functions.tiles import pack_tile_id_py
    from robosat_spark.kernels.raster import cover_rings

    rings_map = {
        1: [_square(-82.835, 34.665, 0.02)],
        2: [_square(-82.825, 34.670, 0.012)],
        3: [_square(-82.815, 34.662, 0.01), _square(-82.812, 34.665, 0.004)],
    }
    tile_map = {}
    for fid, rings in rings_map.items():
        for x, y in cover_rings(rings, 18):
            tile_map.setdefault(pack_tile_id_py(18, int(x), int(y)), []).append(fid)
    return tile_map, rings_map


def _run(emit, batches):
    refine = sj._refine_factory(_Broadcast(_index()), emit)
    return pa.Table.from_batches(list(refine(iter(batches))))


def _sorted_rows(table: pa.Table) -> list:
    return sorted(zip(*(table.column(c).to_pylist() for c in table.column_names)))


def test_refine_output_does_not_depend_on_arrival_batching():
    from robosat_spark.kernels.geometry import points_in_polygon

    whole = _points_batch()
    singles = [whole.slice(i, 1) for i in range(whole.num_rows)]
    _, rings_map = _index()
    lon = whole.column("lon").to_numpy()
    lat = whole.column("lat").to_numpy()
    want_hits = sum(int(points_in_polygon(lon, lat, r).sum()) for r in rings_map.values())
    assert want_hits > 0
    for emit in (sj._emit_rows, sj._emit_counts):
        a = _run(emit, [whole])
        b = _run(emit, singles)
        assert a.equals(b), emit.__name__
    rows = _run(sj._emit_rows, [whole])
    assert rows.num_rows == want_hits
    counts = _run(sj._emit_counts, singles)
    assert sum(counts.column("n").to_pylist()) == want_hits
    # every hit row is one (point, feature) pair, across any split of the rows
    halves = [whole.slice(0, 1234), whole.slice(1234)]
    assert _sorted_rows(_run(sj._emit_rows, halves)) == _sorted_rows(rows)


def test_driver_index_matches_per_tile_packing(spark):
    from robosat_spark.functions.tiles import pack_tile_id_py
    from robosat_spark.kernels.geometry import as_ring
    from robosat_spark.kernels.raster import cover_rings
    from robosat_spark.sources.fixtures import dense_polygon_features, features

    ft = features(spark).unionByName(dense_polygon_features(spark, n=40))
    tile_map, rings_map = sj._collect_feature_index(ft, 18)
    want_tiles, want_rings = {}, {}
    for row in ft.select("feature_id", "rings").collect():
        rings = [as_ring(r) for r in row["rings"]]
        want_rings[row["feature_id"]] = rings
        for x, y in cover_rings(rings, 18):
            want_tiles.setdefault(pack_tile_id_py(18, int(x), int(y)), []).append(
                row["feature_id"]
            )
    assert list(tile_map.items()) == list(want_tiles.items())
    assert list(rings_map) == list(want_rings)
    for fid, rings in want_rings.items():
        assert len(rings_map[fid]) == len(rings)
        for got, want in zip(rings_map[fid], rings):
            assert np.array_equal(got, want[:, :2])
