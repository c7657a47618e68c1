"""Named kernel/handler registry (§2.11 extensibility contract).

The reference's plugin points are two string-keyed handler maps:
extraction handlers {"parking","building","road"}
(/root/reference/robosat/tools/extract.py:6-9) and featurization handlers
{"parking"} (/root/reference/robosat/tools/features.py:14-16). The engine
generalizes this to one registry of named operators in three shapes:

- ``scalar``: Column-expression functions (UDF-like; JVM codegen)
- ``grouped``: per-tile/per-component applyInArrow operators (UDAF-like)
- ``expand``: cover/contour-style operators whose output fans out (UDTF-like)

``register`` is the user extension point; the built-ins below make every
SURVEY.md §2 operator discoverable by name.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class Kernel:
    name: str
    kind: str  # scalar | grouped | expand | source | sink
    fn: Callable
    doc: str


_REGISTRY: dict[str, Kernel] = {}


def register(name: str, kind: str, fn: Callable, doc: str = "") -> Kernel:
    if kind not in {"scalar", "grouped", "expand", "source", "sink"}:
        raise ValueError(f"unknown kernel kind: {kind}")
    d = doc or ((fn.__doc__ or "").strip().splitlines() or [""])[0]
    k = Kernel(name, kind, fn, d)
    _REGISTRY[name] = k
    return k


def get(name: str) -> Kernel:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"unknown kernel {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


def names(kind: str | None = None) -> list[str]:
    return sorted(k.name for k in _REGISTRY.values() if kind is None or k.kind == kind)


def _register_builtins() -> None:
    from .functions import text, tiles, vectors
    from .functions.multimodal import audio_features, decode_images, media_meta, sniff_format
    from .functions.roads import is_road, road_width_m
    from .operators import ann, asof, components, cover, dedup, dedupe, ensemble
    from .operators import features as feat_ops
    from .operators import halo, knn, merge, rasterize, spatial_join, weights
    from .sources import fixtures, pages, sinks
    from .streaming import ingest, stateful

    for name, fn in [
        ("tile_x", tiles.tile_x), ("tile_y", tiles.tile_y),
        ("pack_tile_id", tiles.pack_tile_id), ("quadkey", tiles.quadkey),
        ("morton_cell", tiles.morton_cell),
        ("morton_range_filter", tiles.morton_range_filter),
        ("geotag_lon", tiles.geotag_lon), ("geotag_lat", tiles.geotag_lat),
        ("token_count", text.token_count), ("lang_id", text.lang_id),
        ("quality_score", text.quality_score),
        ("content_fingerprint", text.content_fingerprint),
        ("cosine_sim", vectors.cosine_sim), ("lsh_bucket", vectors.lsh_bucket),
        ("simhash", dedup.simhash), ("word_shingles", dedup.word_shingles),
        ("sniff_format", sniff_format), ("media_meta", media_meta),
        ("is_road", is_road), ("road_width_m", road_width_m),
        ("point_in_rings", spatial_join.point_in_rings),
        ("hex_cell", tiles.hex_cell),
        ("tile_parent", tiles.tile_parent), ("tile_children", tiles.tile_children),
        ("extract_text_from_html", text.extract_text_from_html),
    ]:
        register(name, "scalar", fn)

    for name, fn in [
        ("rasterize_masks", rasterize.rasterize_masks),
        ("synthesize_probs", rasterize.synthesize_probs),
        ("extract_features", feat_ops.extract_features),
        ("merge_features", merge.merge_features),
        ("dedupe_iou", dedupe.dedupe),
        ("stitch_halo", halo.stitch_halo),
        ("soft_vote", ensemble.soft_vote),
        ("class_histogram", weights.class_histogram),
        ("connected_components", components.connected_components),
        ("assign_broadcast", spatial_join.assign_broadcast),
        ("assign_salted", spatial_join.assign_salted),
        ("assign_jvm", spatial_join.assign_jvm),
        ("assign_count_by_feature", spatial_join.assign_count_by_feature),
        ("assign_distributed", spatial_join.assign_distributed),
        ("assign_auto", spatial_join.assign_auto),
        ("knn_bruteforce", knn.knn_bruteforce),
        ("knn_cells", knn.knn_cells),
        ("ann_ivf", ann.ann_ivf),
        ("lsh_neardup_pairs", ann.lsh_neardup_pairs),
        ("minhash_lsh_pairs", dedup.minhash_lsh_pairs),
        ("simhash_pairs_banded", dedup.simhash_pairs_banded),
        ("asof_join", asof.asof_join),
        ("ann_ivf_from_index", ann.ann_ivf_from_index),
        ("streaming_tile_state", stateful.streaming_tile_state),
        ("streaming_dedup_exact", ingest.streaming_dedup_exact),
        ("decode_images", decode_images),
        ("audio_features", audio_features),
    ]:
        register(name, "grouped", fn)

    register("cover", "expand", cover.cover)

    for name, fn in [
        ("pages_synthetic", pages.pages),
        ("pages_from_events", pages.pages_from_events),
        ("tiles_from_csv", fixtures.tiles_from_csv),
        ("tiles_from_slippy_map", fixtures.tiles_from_slippy_map),
        ("grids_from_slippy_pngs", fixtures.grids_from_slippy_pngs),
        ("features_from_geojson", fixtures.features_from_geojson),
    ]:
        register(name, "source", fn)

    for name, fn in [
        ("write_tiles_csv", sinks.write_tiles_csv),
        ("write_ivf_index", ann.write_ivf_index),
        ("throttled_idempotent_sink", sinks.throttled_idempotent_sink),
        ("write_features_jsonl", sinks.write_features_jsonl),
        ("save_feature_collection", sinks.save_feature_collection),
        ("write_slippy_grids", sinks.write_slippy_grids),
        ("write_slippy_pngs", sinks.write_slippy_pngs),
    ]:
        register(name, "sink", fn)


_register_builtins()
