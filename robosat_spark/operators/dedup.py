"""Text near-duplicate detection: shingles, MinHash+LSH, SimHash (JVM-side).

Training-data-pipeline operators over ``documents`` (task brief). The whole
chain — shingling, the md5-based hash family, per-permutation minima, LSH
banding, Jaccard refine — is built from Spark built-ins (split / transform /
array_min / md5 / conv / array_intersect), so it runs inside whole-stage
codegen with NO Python in the hot path and is DuckDB-oracle-checkable
bit-for-bit (md5 and IEEE division agree across engines).

Scale shape: signatures are computed per-row with zero shuffle
(``array_min`` over a ``transform``, not an explode+groupBy); the only
shuffles are the LSH band-bucket self-join (equi-join on (band, key) — the
standard MinHash-LSH plan, linear in corpus size) and the final pair
distinct. The O(n²) all-pairs comparison never happens: candidate
generation is the banded join, and the exact-Jaccard refine touches only
bucket-colliding pairs.

The reference's own dedupe is geometric IoU
(/root/reference/robosat/tools/dedupe.py — see ``operators.dedupe``); these
cover the text side of the generalized engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def words(text: Column) -> Column:
    """Whitespace word array (split on runs, trimmed). Splits on the
    explicit dialect-independent class (see functions.text.WS_RUN) so the
    DuckDB oracle twins tokenize identically even around \\x0B."""
    from ..functions.text import WS_RUN

    return F.split(F.trim(text), WS_RUN)


def word_ngrams_from_words(w: Column, k: int) -> Column:
    """All k-word n-grams in order, WITH multiplicity (space-joined), over
    an already-split word array. Arrays shorter than k contribute one
    n-gram: the whole text.

    Built by zip_with over k pre-shifted array views — one O(n) pass —
    instead of a per-element ``slice`` (which re-copies a k-window per
    output element and measured ~5x slower)."""
    n_sh = F.greatest(F.size(w) - F.lit(k - 1), F.lit(1))
    joined = F.slice(w, k, n_sh)
    for off in range(k - 2, -1, -1):
        joined = F.zip_with(F.slice(w, off + 1, n_sh), joined, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(w) < k, F.array(F.array_join(w, " "))).otherwise(joined)


def word_ngrams(text: Column, k: int = 3) -> Column:
    """``word_ngrams_from_words`` over the whitespace split of ``text``."""
    return word_ngrams_from_words(words(text), k)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (the dedup/MinHash input set)."""
    return F.array_distinct(word_ngrams(text, k))


def _hash60(s: Column) -> Column:
    """60-bit hash of a string: first 15 hex chars of md5 as a long.
    Bit-identical in DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


_MERSENNE31 = (1 << 31) - 1


def _perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients for permutation i
    (Knuth multiplicative constants; a != 0)."""
    a = (i * 2654435761 + 0x9E3779B1) % _MERSENNE31 or 1
    b = (i * 40503 + 17) % _MERSENNE31
    return a, b


def minhash_sig(shingles: Column, num_perm: int = 32) -> list[Column]:
    """MinHash signature as ``num_perm`` columns: ONE base hash per shingle
    (JVM xxhash64, folded to 31 bits) + arithmetic universal-hash
    permutations h_i(x) = (a_i*x + b_i) mod (2^31 - 1) — a_i*x stays within
    62 bits so the whole family is exact signed-64 arithmetic. One hash per
    shingle instead of one per (shingle, permutation): ~num_perm x cheaper
    than a per-permutation digest family.

    ``array_min(transform(...))`` keeps this a per-row expression — no
    explode, no shuffle, scales embarrassingly."""
    bases = F.transform(
        shingles, lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MERSENNE31).cast("long"))
    )
    out = []
    for i in range(num_perm):
        a, b = _perm_coeffs(i)
        out.append(
            F.array_min(
                F.transform(
                    bases,
                    lambda x: (F.lit(a).cast("long") * x + F.lit(b)) % F.lit(_MERSENNE31),
                )
            ).alias(f"h{i}")
        )
    return out


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays (JVM set ops)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def _candidate_pairs(
    rows: DataFrame,
    keys: list[str],
    a: str,
    b: str,
    carry: tuple[str, ...] = (),
    pair_filter: Column | None = None,
) -> DataFrame:
    """-> (a, b, c_a, c_b for c in carry): the distinct pairs of ``rows``
    (id, *keys, *carry) with id_a < id_b that share every key column —
    the candidate half of the four near-duplicate filter-refine joins
    (``minhash_lsh_pairs``, ``jaccard_prefix_pairs``,
    ``simhash_pairs_banded``, ``ann.lsh_neardup_pairs``). Per-side
    columns arrive as ``<c>_a``/``<c>_b``; ``pair_filter`` may read them
    to prune pairs before the distinct.

    The one wide step: pairs are hash-repartitioned on (a, b) at the
    session's shuffle width, THEN made distinct. The exact refine that
    follows is compute-heavy and byte-light (tens of µs of
    array_intersect or cosine fold per 16-byte pair), a cost AQE's
    byte-based partition coalescing cannot see: left to it, the refine
    runs on one or two tasks. A REPARTITION_BY_NUM exchange is exempt
    from that coalescing. The order matters: a repartition placed AFTER
    the distinct sits on an aggregate already hash-partitioned by (a, b)
    at the same width, so EnsureRequirements removes it as redundant and
    the refine reads the distinct's own ENSURE_REQUIREMENTS exchange,
    which AQE coalesces (to 1 partition at sf0.1 on 4 cores). Placed
    before, it is the only exchange on this edge and also satisfies the
    distinct."""
    def side(s: str, name: str) -> DataFrame:
        return rows.select(
            F.col("id").alias(name), *keys, *[F.col(c).alias(f"{c}_{s}") for c in carry]
        )

    cand = side("a", a).join(side("b", b), keys).filter(F.col(a) < F.col(b))
    if pair_filter is not None:
        cand = cand.filter(pair_filter)
    n_wide = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        cand.select(a, b, *[f"{c}_{s}" for c in carry for s in "ab"])
        .repartition(n_wide, a, b)
        .distinct()
    )


def _refine_pairs(
    cand: DataFrame, values: DataFrame, a: str, b: str, score, name: str, threshold: float
) -> DataFrame:
    """-> (a, b, name): the exact refine of ``_candidate_pairs`` output —
    each side's value joined by id from ``values`` (id, v), scored by
    ``score(v_a, v_b)``, kept at >= ``threshold`` and rounded to 6 places."""
    def side(s: str, key: str) -> DataFrame:
        return values.select(F.col("id").alias(key), F.col("v").alias(f"v_{s}"))

    scored = (
        cand.join(side("a", a), a)
        .join(side("b", b), b)
        .withColumn(name, score(F.col("v_a"), F.col("v_b")))
    )
    return scored.filter(F.col(name) >= F.lit(threshold)).select(
        a, b, F.round(name, 6).alias(name)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    threshold: float = 0.3,
    rows_per_band: int = 2,
) -> DataFrame:
    """-> (doc_a, doc_b, jaccard): near-duplicate pairs at shingle-Jaccard
    >= threshold, found via banded MinHash-LSH then verified with exact
    Jaccard. Output matches the exact all-pairs oracle.

    Banding math (b bands of r rows): P(candidate) = 1 - (1 - j^r)^b.
    r=2, b=16 keeps recall effectively 1 at the planted-duplicate range
    (j >= 0.65 -> miss < 1e-4) while background word-salad pairs
    (j ~ 0.014) collide with p ~ 0.3% — r=1 would make 36% of ALL pairs
    candidates at that background similarity and melt the refine.

    Gate contingency (stated, not hidden): the driver oracle compares this
    against EXACT all-pairs Jaccard at threshold 0.3, but a pair at j = 0.3
    only becomes a candidate with p ~ 0.78 — equality holds because the
    test corpora have a verified Jaccard GAP: no doc pair lands in
    [0.25, 0.65) at sf0.001/sf0.01/sf0.1 (planted dups >= 0.8, where the
    banding miss probability is <= 1e-7; background < 0.25). On gapless real
    data, run with rows_per_band matched to the threshold (r=1 for
    guaranteed-recall low thresholds) and treat the output as
    approximate-recall/exact-precision."""
    assert num_perm % rows_per_band == 0
    n_bands = num_perm // rows_per_band
    sh = docs.select(F.col(id_col).alias("id"), word_shingles(F.col(text_col), k).alias("sh"))
    # cut lineage before fan-out: the signature projection references the
    # shingle array num_perm times and the refine joins it twice more —
    # without materialization Catalyst's projection collapse would inline
    # (and recompute) the shingling everywhere
    sh = sh.localCheckpoint(eager=False)
    sig = sh.select("id", *minhash_sig(F.col("sh"), num_perm))

    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[F.col(f"h{i * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # materialize once: the self-join would otherwise recompute the
    # 32-permutation md5 signature on BOTH build and probe branches
    bands = bands.localCheckpoint(eager=False)

    cand = _candidate_pairs(bands, ["band", "key"], "doc_a", "doc_b")
    values = sh.select("id", F.col("sh").alias("v"))
    return _refine_pairs(cand, values, "doc_a", "doc_b", jaccard, "jaccard", threshold)


def jaccard_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """-> (doc_a, doc_b, jaccard): ALL pairs at shingle-Jaccard >=
    ``threshold``, EXACTLY — prefix filtering (the AllPairs/PPJoin family),
    no LSH, no all-pairs join, no recall contingency.

    Prefix principle: fix a global total order on tokens. For a set of
    size s, its prefix is the first ``s - ceil(t*s) + 1`` tokens in that
    order. If J(A,B) >= t then |A ∩ B| >= t * max(|A|,|B|), and two sets
    whose prefixes are disjoint can share at most
    ``(s - prefix_len) = ceil(t*s) - 1 < t*s`` tokens from either side —
    so every qualifying pair shares at least one PREFIX token. Candidates
    therefore come from an equi self-join on prefix tokens, exact by
    construction (contrast ``minhash_lsh_pairs``, whose equality with the
    all-pairs oracle is gap-contingent).

    The canonical order is ascending document frequency (rarest first,
    ties by token), so prefix join buckets are the SMALLEST buckets of the
    inverted index — the standard AllPairs trick that keeps candidate
    counts near-linear on web corpora. A length filter
    (t*|A| <= |B| <= |A|/t) prunes candidates before the distinct.

    Scale shape: every stage is linear — explode to (doc, token), a
    groupBy(token) for document frequencies, a per-doc window sort (keyed
    shuffle on doc id) to pick prefixes, the prefix-token equi self-join,
    and the exact ``array_intersect`` refine on candidate pairs only. The
    residual hot spot is a token that is globally rare yet shared by a
    huge near-duplicate cluster (its prefix bucket IS the cluster) — that
    is output-size skew, not plan skew; AQE skew-join splits it."""
    sh = docs.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), k).alias("sh")
    ).localCheckpoint(eager=False)

    tok = sh.select("id", F.size("sh").alias("s"), F.explode("sh").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    ranked = tok.join(dfreq, "token")
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("token").asc())
    # same 1e-9 slack as the length filter below: ceil(t*s) must not round
    # an exactly-integer rational product UP (t*s representable a hair
    # above the integer would shorten the prefix by one token and break
    # the completeness guarantee for boundary pairs)
    prefix_len = F.col("s") - F.ceil(F.lit(threshold) * F.col("s") - F.lit(1e-9)) + 1
    prefix = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "s", "token")
    )

    # 1e-9 slack: the length filter is Spark-only pruning and must never
    # drop a boundary pair (J >= t implies s_b >= t*s_a exactly in
    # rationals; the IEEE product can round a hair above the int)
    length_ok = (F.col("s_b") >= F.lit(threshold) * F.col("s_a") - F.lit(1e-9)) & (
        F.col("s_a") >= F.lit(threshold) * F.col("s_b") - F.lit(1e-9)
    )
    cand = _candidate_pairs(prefix, ["token"], "doc_a", "doc_b", ("s",), length_ok)
    values = sh.select("id", F.col("sh").alias("v"))
    return _refine_pairs(cand, values, "doc_a", "doc_b", jaccard, "jaccard", threshold)


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash signature over word occurrences (term-frequency weighted):
    bit j of the output is set iff sum over words of (2*bit_j(hash60(word))
    - 1) is positive. Pure column expression.

    Supports bits up to 60 — the md5-derived word hash (_hash60) carries
    60 random bits, so higher signature bits would be degenerate (always
    0); bits=60 is the wide-corpus configuration (SCALE.md: 3 x 20-bit
    chunks = 1M banding buckets). Single pass over the word array: each
    word hash expands to its ±1 bit vector once, one ``aggregate``
    zip-adds them into a bits-long sum array, and the final fold reads
    the signs. The earlier per-bit
    formulation ran ``bits`` separate aggregates (bits× traversals of the
    hash array) — this shape measured 4x faster at sf0.1 with bit-identical
    output (same integer sums, so the DuckDB twin is unchanged)."""
    if not 1 <= bits <= 60:
        raise ValueError(
            "simhash supports 1..60 bits (the md5-derived word hash has 60 "
            "random bits; bits above that would be constant)"
        )
    hs = F.transform(words(text), lambda x: _hash60(x))
    bits_per_word = F.transform(
        hs,
        lambda v: F.array(
            *[
                F.shiftright(v, j).bitwiseAND(F.lit(1).cast("long")) * 2 - 1
                for j in range(bits)
            ]
        ),
    )
    sums = F.aggregate(
        bits_per_word,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, bv: F.zip_with(acc, bv, lambda a, b: a + b),
    )
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(
            F.element_at(sums, j + 1) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def _chunk_bounds(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split [0, bits) into n_chunks near-equal (offset, width) spans."""
    base, extra = divmod(bits, n_chunks)
    bounds, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_pairs_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hd: int = 2,
    n_chunks: int | None = None,
) -> DataFrame:
    """-> (doc_a, doc_b, hd): all pairs at SimHash hamming distance <=
    ``max_hd``, EXACTLY — via chunk banding, never an all-pairs join.

    Pigeonhole: with the signature split into ``n_chunks`` contiguous bit
    chunks (default max_hd + 1), a pair at hamming <= max_hd flips bits in
    at most max_hd chunks, so AT LEAST ONE chunk is bit-identical — every
    qualifying pair is a candidate by construction (not data-contingent).
    Candidates come from an equi self-join on (chunk_idx, chunk_value) —
    a hash join linear in corpus size — then an exact
    ``bit_count(xor) <= max_hd`` refine. The BroadcastNestedLoopJoin of the
    naive ``a.doc_id < b.doc_id`` theta join never appears in the plan
    (asserted in tests/test_dedup_ann.py).

    Scale note: chunk width = bits/n_chunks bounds the bucket-key space
    (2^width values); at 100 TB corpora use bits=60 (the max the 60-bit
    word hash supports) so the 3 chunks carry 20 bits each (~1M buckets)
    — 32/3 (~11 bits, 2048 buckets) is right for the test scale but would
    hot-bucket at billions of docs. A skewed chunk value (e.g. all-zeros
    from templated text) is the residual risk; mitigate with a bits
    upgrade, not more chunks (more chunks = narrower chunks = worse)."""
    if n_chunks is None:
        n_chunks = max_hd + 1
    if n_chunks <= max_hd:
        raise ValueError("need n_chunks > max_hd for the pigeonhole guarantee")
    sig = docs.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sh")
    ).localCheckpoint(eager=False)
    chunks = sig.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sh", off)
                        .bitwiseAND(F.lit((1 << w) - 1).cast("long"))
                        .alias("val"),
                    )
                    for c, (off, w) in enumerate(_chunk_bounds(bits, n_chunks))
                ]
            )
        ).alias("cv"),
    ).select("id", "sh", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    cand = _candidate_pairs(chunks, ["chunk", "val"], "doc_a", "doc_b", ("sh",))
    return (
        cand.withColumn("hd", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hd") <= max_hd)
        .select("doc_a", "doc_b", "hd")
    )


def simhash_sql(bits: int = 32) -> str:
    """The DuckDB twin of ``simhash`` (same md5 family, same fold), as a SQL
    expression over a column named ``text``."""
    hs = r"list_transform(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+'), x -> ('0x'||substr(md5(x),1,15))::BIGINT)"
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({hs}, v -> ((v >> {j}) & 1)*2 - 1)) > 0"
        f" THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(bits)
    )
    return f"({terms})"


def shingles_sql(k: int = 3) -> str:
    """DuckDB twin of ``word_shingles`` as a SQL expression over ``text``."""
    # same explicit class as functions.text.WS_RUN (Java-vs-RE2 \s parity)
    w = r"regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')"
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({w})-{k - 1}, 1)), "
        f"i -> array_to_string(({w})[i:i+{k - 1}], ' ')))"
    )


def benchmark_overlap(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, n_shingles, n_hit, overlap): per-document k-shingle
    overlap against a benchmark/eval corpus — the DECONTAMINATION scan a
    training pipeline runs before shipping data (docs that quote an eval
    set inflate downstream benchmark scores; the standard remedy is
    n-gram-overlap flagging, e.g. GPT-3 appendix C / PaLM's contamination
    analysis).

    Scale shape: the benchmark's distinct shingle set is collected-free —
    it stays a DataFrame, deduplicated and BROADCAST (eval suites are MBs
    against a 100 TB corpus); each doc's distinct shingles explode to one
    row per shingle, hit-count is a broadcast LEFT SEMI equi-join +
    groupBy count (linear in corpus shingles, no cross join), joined back
    to the per-doc totals. Everything whole-stage codegen."""
    bsh = bench.select(
        F.explode(word_shingles(F.col(text_col), k)).alias("sh")
    ).distinct()
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), k).alias("sh_arr"),
    )
    totals = base.select("doc_id", F.size("sh_arr").alias("n_shingles"))
    hits = (
        base.select("doc_id", F.explode("sh_arr").alias("sh"))
        .join(F.broadcast(bsh), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.greatest("n_shingles", F.lit(1)).cast("double"),
                6,
            ).alias("overlap"),
        )
    )


def top_ngram_char_frac(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """-> (doc_id, top_gram, top_cnt, top_frac): the Gopher top-n-gram
    repetition rule — fraction of a document's non-whitespace characters
    covered by occurrences of its MOST FREQUENT word n-gram (Rae et al.
    2021 §A1.1 flag top-2-gram fractions > 0.20 as boilerplate). Ties
    break deterministically by (count desc, gram asc).

    Scale shape: explode n-grams (linear in corpus tokens) -> per-(doc,
    gram) count (hash agg with map-side combine) -> per-doc top-1 via a
    ``min_by`` hash aggregation on the (-count, gram) order key — a
    second map-side-combinable hash agg instead of the former
    row_number sort window (one sort removed; the deterministic argmin
    is identical because (count, gram) is unique per doc). Texts
    shorter than n words count their whole text as the single gram
    (frac 1.0 for non-blank) — same short-text convention as
    ``word_ngrams``."""
    nonws = F.length(F.regexp_replace(F.col(text_col), r"[ \t\n\r\f\x0B]", ""))
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        nonws.alias("nonws"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    counts = g.groupBy("doc_id", "nonws", "gram").agg(F.count("*").alias("top_cnt"))
    top = counts.groupBy("doc_id", "nonws").agg(
        F.min_by(
            F.struct("gram", "top_cnt"),
            F.struct((-F.col("top_cnt")).alias("nc"), F.col("gram").alias("g")),
        ).alias("t")
    ).select("doc_id", "nonws", F.col("t.gram").alias("gram"), F.col("t.top_cnt").alias("top_cnt"))
    return (
        top.select(
            "doc_id",
            F.col("gram").alias("top_gram"),
            "top_cnt",
            F.round(
                F.when(
                    F.col("nonws") > 0,
                    F.col("top_cnt")
                    * F.length(F.replace(F.col("gram"), F.lit(" "), F.lit("")))
                    .cast("double")
                    / F.col("nonws").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_frac"),
        )
    )


def duplicate_span_ranges(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """-> (doc_id, span_start, span_end): exact substring-level duplication
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every word k-gram that occurs >= 2 times ANYWHERE in the
    corpus (cross-document or self-repetition) marks its token window
    [pos, pos+k-1]; overlapping/adjacent windows merge into maximal spans
    per document (the paper's ExactSubstr at the token-window granularity
    a shuffle engine can express — a true distributed suffix array is not
    a DataFrame-shaped computation). Positions are 0-based word offsets;
    span_end is inclusive.

    Scale shape, all linear in corpus tokens: posexplode k-grams ->
    corpus-wide gram count (hash agg, map-side combine) -> duplicated
    grams equi-joined back to positions (shuffle hash join; the dup-gram
    side is corpus-sized, never collected — AQE may still broadcast it
    when it turns out small) -> per-doc gaps-and-islands merge with two
    windows partitioned by doc_id. The gram explode feeds both the count
    and the probe side, so it is computed twice — an r7 A/B measured a
    localCheckpoint of the exploded grams SLOWER than the recompute (the
    zip_with n-gram build is cheaper than materializing gram strings),
    unlike the md5-heavy dsir/lm explodes which do checkpoint."""
    w = words(F.col(text_col))
    g = (
        docs.select(F.col(id_col).alias("doc_id"), w.alias("w"))
        .filter(F.size("w") >= k)
        .select("doc_id", F.posexplode(word_ngrams_from_words(F.col("w"), k)).alias("pos", "gram"))
    )
    dup = g.groupBy("gram").agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 2)
    hits = g.join(dup.select("gram"), "gram").select("doc_id", "pos")
    bypos = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn(
            "new_span",
            F.when(
                F.lag("pos").over(bypos).isNull()
                | (F.col("pos") > F.lag("pos").over(bypos) + k),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_span").over(bypos))
        .groupBy("doc_id", "sid")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + k - 1).alias("span_end"))
        .select("doc_id", "span_start", "span_end")
    )


def duplicate_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """-> (doc_id, n_dup_spans, dup_span_tokens): per-doc aggregate of
    ``duplicate_span_ranges`` — the REPORTING face of the pair (the
    text_metrics gate columns); ``remove_duplicate_spans`` is the
    transform face. Documents with no duplicated k-gram are absent
    (callers left-join and coalesce to 0)."""
    return (
        duplicate_span_ranges(docs, id_col, text_col, k)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_span_tokens"),
        )
    )


def remove_duplicate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """-> (doc_id, clean_text, n_lines_removed): corpus-wide exact LINE
    dedup (the RefinedWeb/Falcon curation step — boilerplate lines like
    nav bars and cookie banners repeat across pages): every line whose
    space-trimmed form occurs >= ``min_count`` times ANYWHERE in the
    corpus is removed from every document; blank lines are never counted
    and never removed; survivors re-join with newlines in original order.
    The line-granularity sibling of ``remove_duplicate_spans`` (token
    spans) and ``dedup_exact`` (whole docs).

    Scale shape: one line explode feeds the corpus key count (hash agg,
    map-side combine) and the probe; removal is a left-anti equi-join on
    the trimmed key; per-doc reassembly is an order-pinned collect_list
    bounded by the document's own line count."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("key", F.trim("line"))
    dup = (
        lines.filter(F.col("key") != "")
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("key")
    )
    kept = (
        lines.join(dup, "key", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_total"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_lines_removed"),
    )


def remove_duplicate_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """-> (doc_id, clean_text, n_tokens_removed): CUT every duplicated
    span from every document — the transform step of Lee et al.'s
    ExactSubstr dedup (their released tool removes EVERY occurrence of a
    range that appears elsewhere; the paper reports leaving vs not
    leaving one canonical copy is statistically immaterial at corpus
    scale). Tokens covered by any merged span are dropped; the survivors
    re-join with single spaces in original order. Documents made empty
    keep a row with clean_text = ''.

    Scale shape: span ranges explode to one row per COVERED position
    (``sequence(start, end)`` — linear in removed tokens, no range join /
    BNLJ), tokens left-anti equi-join against that cover on (doc_id,
    pos), and each doc reassembles with an order-pinned collect_list
    whose state is bounded by the document's own length."""
    ranges = duplicate_span_ranges(docs, id_col, text_col, k)
    cover = ranges.select(
        "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("pos")
    )
    base = docs.select(F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("w"))
    toks = base.select("doc_id", F.posexplode("w").alias("pos", "tok"))
    kept = (
        toks.join(cover, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        base.select("doc_id", F.size("w").alias("n_total"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0))).alias("n_tokens_removed"),
        )
    )


def dedup_incremental(
    new_docs: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom: DataFrame | None = None,
    bloom_k: int = 4,
    bloom_m: int = 2048,
    broadcast_corpus: bool = False,
) -> DataFrame:
    """Survivors of a crawl delta against the existing corpus — the
    operational loop a living corpus table runs every ingest cycle:
    new batch arrives, drop rows whose normalized text already exists
    (in the corpus OR earlier in the batch), append what's left.

    -> (id_col, fp): one row per surviving document; ``fp`` is the
    md5-of-normalized-text exact-dup key (same key as the dedup_exact
    gate), ``corpus_fps`` a DataFrame with an ``fp`` column (e.g. a
    projection of the corpus table — at 100 TB, keep it as its own
    compacted Iceberg table instead of re-deriving it per batch).

    Scale shape: in-batch dedup is one hash groupBy of the BATCH (the
    small side, by definition of an increment). The corpus check is an
    anti-join that shuffles only batch-sized data (shuffle anti by
    default; ``broadcast_corpus=True`` only when the fingerprint set is
    known to fit the broadcast budget). Pass ``bloom`` (a
    ``sketch.bloom_bits`` register table of the corpus fps, <= m rows,
    maintained incrementally by set-UNION) to PREFILTER: Bloom has no
    false negatives, so a miss is a certain non-duplicate and skips the
    anti-join entirely — at a typical ~1% re-crawl dup rate the join
    side shrinks by the filter's true-negative rate, for one broadcast
    of <= m longs."""
    from ..functions.text import normalized_text
    from .sketch import bloom_might_contain

    batch = (
        new_docs.withColumn("fp", F.md5(normalized_text(F.col(text_col))))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    corpus = corpus_fps.select("fp").distinct()
    if broadcast_corpus:
        corpus = F.broadcast(corpus)

    if bloom is not None:
        probed = bloom_might_contain(bloom, batch, "fp", k=bloom_k, m=bloom_m)
        certain_new = probed.filter(F.col("hit") == 0).select("fp", id_col)
        maybe_dup = probed.filter(F.col("hit") == 1).select("fp", id_col)
        checked = maybe_dup.join(corpus, "fp", "left_anti")
        return certain_new.unionByName(checked).select(id_col, "fp")
    return batch.join(corpus, "fp", "left_anti").select(id_col, "fp")
