"""Per-row invariants (input_hint) + hypothesis property tests for kernels."""

import numpy as np
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from robosat_spark.kernels import geometry as G
from robosat_spark.kernels import mercator as M


def test_text_extraction_byte_identical_per_url(spark):
    """BASELINE.json input_hint: byte-identical extracted text per url —
    extraction from html must reproduce the text column exactly, and the
    same url must carry the same text across snapshot rows."""
    from robosat_spark.functions.text import extract_text_from_html
    from robosat_spark.sources.pages import pages

    pg = pages(spark, 5000)
    mismatches = pg.filter(
        extract_text_from_html(F.col("html")) != F.col("text")
    ).count()
    assert mismatches == 0
    # snapshot rows (same url, later warc_ts) keep identical bytes
    multi = (
        pg.groupBy("url")
        .agg(F.countDistinct("text").alias("nt"), F.count("*").alias("n"))
        .filter((F.col("n") > 1) & (F.col("nt") > 1))
        .count()
    )
    assert multi == 0


def test_gopher_quality_signals(spark):
    """Gopher-rule signals on crafted texts: bullet/ellipsis line ratios,
    digit ratio, symbol-per-word, mean word length — each pinned on an
    input built to exercise it (the synthetic documents fixture rarely
    contains bullets/ellipses, so the gate alone can't pin semantics)."""
    import pyspark.sql.functions as F

    from robosat_spark.functions.text import (
        bullet_line_ratio,
        digit_ratio,
        ellipsis_line_ratio,
        mean_word_length,
        symbol_word_ratio,
    )

    rows = [
        (1, "- one\n- two\nplain\n* three"),          # 3 of 4 bullet lines
        (2, "read more...\nfull text here\nteaser…"),  # 2 of 3 ellipsis lines
        (3, "serial 12345 67890"),                     # digits 10 / 18 chars
        (4, "## tags ## here"),                        # 4 hashes / 4 tokens
        (5, "aa bbbb cc"),                             # mean word len 8/3
    ]
    df = spark.createDataFrame(rows, "id LONG, text STRING")
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            F.round(bullet_line_ratio(F.col("text")), 6).alias("bullet"),
            F.round(ellipsis_line_ratio(F.col("text")), 6).alias("ellipsis"),
            F.round(digit_ratio(F.col("text")), 6).alias("digit"),
            F.round(symbol_word_ratio(F.col("text")), 6).alias("symbol"),
            F.round(mean_word_length(F.col("text")), 6).alias("mwl"),
        ).collect()
    }
    assert got[1]["bullet"] == 0.75
    assert got[2]["ellipsis"] == round(2 / 3, 6)
    assert got[3]["digit"] == round(10 / 18, 6)
    assert got[4]["symbol"] == 1.0
    assert got[5]["mwl"] == round(8 / 3, 6)


def test_url_domain_filtering(spark):
    """URL curation ops: host/registered-domain extraction, blocklist
    anti-join (no BNLJ), per-domain composition counts."""
    import pyspark.sql.functions as F

    from robosat_spark.functions.urls import (
        domain_counts,
        filter_blocklisted_domains,
        registered_domain,
        url_host,
    )

    pages = spark.createDataFrame(
        [
            (1, "https://a.b.example.com/x?q=1"),
            (2, "http://spam.biz/landing"),
            (3, "https://docs.example.com/y"),
            (4, "https://other.org/z"),
        ],
        "id LONG, url STRING",
    )
    r = pages.select(
        "id", url_host(F.col("url")).alias("h"), registered_domain(F.col("url")).alias("d")
    ).collect()
    got = {x["id"]: (x["h"], x["d"]) for x in r}
    assert got[1] == ("a.b.example.com", "example.com")
    assert got[2] == ("spam.biz", "spam.biz")

    # public-suffix composites (r5): eTLD+1 keeps the org label — the
    # last-two heuristic would map every *.co.uk host to co.uk and a
    # single composite blocklist entry would wipe the whole registry
    psl = spark.createDataFrame(
        [
            (1, "https://www.bbc.co.uk/news"),
            (2, "https://shop.example.com.au/x"),
            (3, "https://example.co.uk/y"),
            (4, "https://co.uk/z"),
            (5, "https://News.BBC.Co.UK/x"),  # DNS is case-insensitive
        ],
        "id LONG, url STRING",
    )
    doms = {
        x["id"]: x["d"]
        for x in psl.select(
            "id", registered_domain(F.col("url")).alias("d")
        ).collect()
    }
    assert doms[1] == "bbc.co.uk"
    assert doms[2] == "example.com.au"
    assert doms[3] == "example.co.uk"
    assert doms[4] == "co.uk"  # bare suffix host passes through
    assert doms[5] == "bbc.co.uk"  # mixed case must not dodge the rule
    bl_uk = spark.createDataFrame([("bbc.co.uk",)], "domain STRING")
    kept_uk = {x["id"] for x in filter_blocklisted_domains(psl, bl_uk).collect()}
    assert kept_uk == {2, 3, 4}  # bbc.co.uk blocked in ANY case, not the registry

    bl = spark.createDataFrame([("spam.biz",)], "domain STRING")
    kept = filter_blocklisted_domains(pages, bl)
    assert {x["id"] for x in kept.collect()} == {1, 3, 4}
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan

    counts = {x["domain"]: x["n_pages"] for x in domain_counts(pages).collect()}
    assert counts["example.com"] == 2 and counts["spam.biz"] == 1


def test_registered_domain_sql_twin_matches_python_reference():
    """Property: over arbitrary dotted hosts, the DuckDB twin of
    registered_domain equals an independent pure-Python reference (the
    Spark side is pinned to the twin by the url_curation gate — this
    closes the triangle without a per-example Spark roundtrip)."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from robosat_spark.functions.urls import PUBLIC_SUFFIX_2LABEL, registered_domain_sql

    def py_ref(host: str) -> str:
        h = host.lower()
        parts = h.split(".")
        if len(parts) >= 3 and ".".join(parts[-2:]) in PUBLIC_SUFFIX_2LABEL:
            return ".".join(parts[-3:])
        if len(parts) >= 2:
            return ".".join(parts[-2:])
        return h

    label = st.text(alphabet="abCo.UK09-", min_size=1, max_size=6)
    host_s = st.lists(label, min_size=1, max_size=5).map(".".join)

    con = duckdb.connect()
    expr = registered_domain_sql("?")

    @settings(max_examples=50, deadline=None)
    @given(host_s)
    def prop(host):
        got = con.execute("SELECT " + expr, [host] * expr.count("?")).fetchone()[0]
        assert got == py_ref(host), (host, got, py_ref(host))

    prop()


def test_pii_detection_and_redaction(spark):
    """PII pass: email/IPv4 counts and the redaction rewrite (the
    release-time scrub every public corpus gets)."""
    import pyspark.sql.functions as F

    from robosat_spark.functions.text import (
        pii_email_count,
        pii_ipv4_count,
        redact_pii,
    )

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-1.org and d@e.io from 10.0.0.255 port 80 v1.2.3")],
        "id LONG, text STRING",
    )
    r = df.select(
        pii_email_count(F.col("text")).alias("e"),
        pii_ipv4_count(F.col("text")).alias("i"),
        redact_pii(F.col("text")).alias("t"),
    ).first()
    assert r["e"] == 2
    assert r["i"] == 1  # v1.2.3 is not a 4-octet literal
    assert r["t"] == "mail <EMAIL> and <EMAIL> from <IP> port 80 v1.2.3"


def test_extraction_parallelism_invariant(spark):
    """Same rows at any partitioning: 1-partition and 32-partition builds
    produce identical sorted (url, text) sets (north-rule determinism)."""
    from robosat_spark.sources.pages import pages

    a = pages(spark, 3000, partitions=1).select("url", "text")
    b = pages(spark, 3000, partitions=32).select("url", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


lonlat = st.tuples(
    st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
    st.floats(min_value=-84.9, max_value=84.9, allow_nan=False),
)


@settings(max_examples=200, deadline=None)
@given(lonlat)
def test_mercator_roundtrip(p):
    lon, lat = p
    x, y = M.lonlat_to_mercator(np.array([lon]), np.array([lat]))
    lo, la = M.mercator_to_lonlat(x, y)
    assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-7


@settings(max_examples=200, deadline=None)
@given(lonlat, st.integers(min_value=1, max_value=18))
def test_point_maps_into_its_tile_bounds(p, z):
    lon, lat = p
    tx, ty = M.lonlat_to_tile(lon, lat, z)
    w, s, e, n = M.tile_bounds(int(tx), int(ty), z)
    assert w - 1e-9 <= lon <= e + 1e-9
    assert s - 1e-7 <= lat <= n + 1e-7


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-10, max_value=10, allow_nan=False),
            st.floats(min_value=-10, max_value=10, allow_nan=False),
        ),
        min_size=4,
        max_size=40,
    ),
    st.floats(min_value=1e-6, max_value=2.0),
)
def test_simplify_dp_properties(pts, eps):
    ring = np.asarray(pts, dtype=np.float64)
    out = G.simplify_dp(ring, eps, closed=False)
    # never grows, keeps endpoints, output is a subsequence of input
    assert len(out) <= len(ring)
    assert np.array_equal(out[0], ring[0]) and np.array_equal(out[-1], ring[-1])


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=3, max_value=60), st.floats(min_value=0.1, max_value=5.0))
def test_pip_convex_polygon_center_inside(n, r):
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    ring = np.column_stack([r * np.cos(ang), r * np.sin(ang)])
    inside = G.points_in_ring(np.array([0.0]), np.array([0.0]), ring)
    outside = G.points_in_ring(np.array([3 * r]), np.array([0.0]), ring)
    assert inside[0] and not outside[0]


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=3, max_value=30))
def test_shoelace_orientation_flip(n):
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    ccw = np.column_stack([np.cos(ang), np.sin(ang)])
    a = G.signed_area(ccw)
    b = G.signed_area(ccw[::-1])
    assert a > 0 and abs(a + b) < 1e-12


def _star_ring(n, r0, r1, cx=-82.81, cy=34.67, scale=0.001):
    ang = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    rad = np.where(np.arange(n) % 2 == 0, r0, r1) * scale
    return np.column_stack([cx + rad * np.cos(ang), cy + 0.8 * rad * np.sin(ang)])


@given(
    st.integers(min_value=6, max_value=20),
    st.floats(min_value=0.5, max_value=1.0),
    st.floats(min_value=1.2, max_value=2.0),
    st.floats(min_value=0.0, max_value=2.0),
)
@settings(max_examples=40, deadline=None)
def test_exact_iou_properties(n, r0, r1, shift):
    """Exact clipping IoU on random star (concave, simple) polygons:
    symmetric, within [0,1], 1.0 on self, and within the raster estimate's
    sampling bound."""
    a = _star_ring(n, r0, r1)
    b = a + np.array([shift * 0.001, 0.0])
    ab = G.exact_iou([a], [b])
    ba = G.exact_iou([b], [a])
    assert ab is not None and ba is not None
    assert abs(ab - ba) < 1e-9
    assert 0.0 <= ab <= 1.0
    assert abs(G.exact_iou([a], [a]) - 1.0) < 1e-12
    rast = G.raster_iou_multi([[a]], [[b]], resolution=512)
    assert abs(ab - rast) < 0.025, (ab, rast)
