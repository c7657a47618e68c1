"""Distributed BPE merge training (Sennrich et al. 2016) over a corpus.

The tokenizer-training primitive of an LLM data pipeline: learn the top-k
byte-pair (here character-pair) merges from corpus word frequencies.
Engine extra — the reference has no text pipeline.

Distribution shape: the ONLY corpus-scale stage is the word-frequency
aggregation (token explode -> hash agg with map-side combine, the same
shuffle class as cms_tokens). Every merge round after that runs on the
vocab-sized (word, freq) table: adjacent-pair counts are a per-row
zip_with explode + hash agg, the argmax is a 1-row driver collect (loop
control, metadata-scale — the PageRank pattern), and applying a merge is
a map-side string replace. At 100 TB that is one corpus shuffle + k
vocab-local rounds.

Whole-symbol-safe merge via the DOUBLE-SPACE encoding: a word's symbol
sequence is stored as ' s1  s2  ...  sn ' — every symbol wrapped in its
OWN pair of spaces. The merge (a, b) is then the literal replacement
' a  b ' -> ' ab ': each match consumes exactly the two symbols' own
delimiters, so adjacent matches chain without sharing separators and ONE
left-to-right replace pass equals the greedy leftmost merge ('a a a a'
-> 'aa aa', 'a a a' -> 'aa a'), and a pattern can never match inside a
longer symbol (' a  b ' vs ' ab '). Symbols never contain whitespace
(they concatenate characters of whitespace-split tokens), so the scheme
is collision-free. Both engines' replace() is leftmost non-overlapping
replace-all and both split 'abc' -> [a, b, c] on the empty separator
(verified empirically), so the DuckDB twin (unrolled CTE rounds, the
PageRank-oracle pattern) is value-exact.

Pair counting is the standard overlapping count ('a a a' counts (a,a)
twice); ties break (count DESC, lhs ASC, rhs ASC) so training is fully
deterministic.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_freqs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (word, freq): lowercased whitespace-token frequencies — the
    vocab-sized training table every BPE round runs on."""
    from ..functions.text import WS_RUN

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), WS_RUN), lambda x: x != ""
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _pair_counts(enc: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts (weighted by word freq, overlapping)
    over the double-space-encoded symbol strings."""
    sym = F.filter(F.split("enc", " +"), lambda x: x != "")
    n = F.size(sym)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(sym, 1, n - 1),
            F.slice(sym, 2, n - 1),
            lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
        ),
    ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
    return (
        enc.select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.lhs", "p.rhs")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (step, lhs, rhs, cnt): the first ``n_merges`` learned merges in
    training order (step is 1-based). Stops early if the corpus runs out
    of pairs (single-char vocab) — callers comparing against the SQL twin
    should train at least ``n_merges`` pairs deep, which any real corpus
    satisfies."""
    return bpe_train_with_vocab(docs, n_merges, id_col, text_col)[0]


def bpe_corpus_tokens(enc: DataFrame) -> DataFrame:
    """-> one row (n_words, n_tokens): corpus totals under a trained
    vocab — the APPLY face of the trainer ("how many tokens is my corpus
    under this tokenizer"). ``enc`` is the (freq, enc) table returned by
    :func:`bpe_train_with_vocab`; totals are exact integer sums."""
    n_syms = F.size(F.filter(F.split("enc", " +"), lambda x: x != ""))
    return enc.agg(
        F.sum("freq").alias("n_words"),
        F.sum(F.col("freq") * n_syms).alias("n_tokens"),
    )


def bpe_train_with_vocab(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(merges, enc): :func:`bpe_train`'s table plus the final encoded
    vocab — (freq, enc) with enc the double-space symbol string after all
    merges — from ONE training run."""
    spark = docs.sparkSession
    enc = (
        word_freqs(docs, id_col, text_col)
        .select(
            "freq",
            F.concat(
                F.lit(" "), F.array_join(F.split("word", ""), "  "), F.lit(" ")
            ).alias("enc"),
        )
        # the loop re-scans this table every round — pin it once
        .localCheckpoint()
    )
    merges = []
    for step in range(1, n_merges + 1):
        top = (
            _pair_counts(enc)
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["cnt"]
        merges.append((step, lhs, rhs, int(cnt)))
        # map-side merge apply + checkpoint to keep lineage flat across
        # rounds (the PageRank loop discipline)
        enc = enc.withColumn(
            "enc",
            F.replace(
                F.col("enc"), F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
            ),
        ).localCheckpoint()
    schema = pa.schema([("step", pa.int32()), ("lhs", pa.string()), ("rhs", pa.string()),
                        ("cnt", pa.int64())])
    table = pa.Table.from_pylist([dict(zip(schema.names, m)) for m in merges], schema=schema)
    return spark.createDataFrame(table), enc


def bpe_sql(docs_rel: str, n_merges: int = 8) -> str:
    """DuckDB twin of :func:`bpe_train` over ``docs_rel`` (needs doc_id,
    text): the merge loop unrolls to one CTE round per step (pair counts
    -> LIMIT-1 argmax with the same tie-break -> cross-attach the 1-row
    winner and replace) — the PageRank-twin pattern.

    KNOWN DIVERGENCE (documented hard check, r7 ADVICE): if the corpus
    exhausts its pairs before ``n_merges`` rounds, the Spark loop breaks
    and keeps the last encoding, while an EMPTY top{r} here empties
    enc{r} through the cross join and every later CTE — the twin then
    returns no rows instead of the early-stopped result. Only reachable
    on degenerate corpora with fewer than ``n_merges`` learnable pairs
    (single-character vocab); any real corpus — and every gate fixture —
    has far more. Callers comparing engines on tiny synthetic corpora
    must check ``bpe_train(...)`` produced ``n_merges`` rows first. (The
    SQL text itself is oracle-fingerprinted and intentionally unchanged.)"""
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS step, lhs, rhs, cnt FROM top{r}"
        for r in range(1, n_merges + 1)
    )
    return _bpe_ctes(docs_rel, n_merges) + "\n" + unions


def bpe_tokens_sql(docs_rel: str, n_merges: int = 8) -> str:
    """DuckDB twin of :func:`bpe_corpus_tokens` over the vocab trained by
    the same unrolled rounds: one row (n_words, n_tokens)."""
    return (
        _bpe_ctes(docs_rel, n_merges)
        + f"""
        SELECT CAST(sum(freq) AS BIGINT) AS n_words,
               CAST(sum(freq * len(list_filter(regexp_split_to_array(trim(enc), ' +'),
                                               x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM enc{n_merges}
    """
    )


def _bpe_ctes(docs_rel: str, n_merges: int) -> str:
    """The shared unrolled-round CTE prefix (WITH ... enc{n})."""
    from ..functions.text import WS_CLASS

    ws = WS_CLASS + "+"
    ctes = [
        f"""wf AS (
            SELECT word, count(*) AS freq FROM (
              SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '{ws}'),
                            x -> x <> '')) AS word
              FROM {docs_rel})
            GROUP BY word
        ),
        enc0 AS (
            SELECT freq,
                   ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS enc
            FROM wf
        )"""
    ]
    for r in range(1, n_merges + 1):
        ctes.append(
            f"""p{r} AS (
            SELECT t[i] AS lhs, t[i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT freq,
                         list_filter(regexp_split_to_array(trim(enc), ' +'),
                                     x -> x <> '') AS t
                  FROM enc{r - 1}),
                 UNNEST(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2
            GROUP BY lhs, rhs
        ),
        top{r} AS (SELECT lhs, rhs, cnt FROM p{r}
                   ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
        enc{r} AS (
            SELECT freq,
                   replace(enc, ' ' || lhs || '  ' || rhs || ' ',
                                ' ' || lhs || rhs || ' ') AS enc
            FROM enc{r - 1}, top{r}
        )"""
        )
    return "WITH " + ",\n".join(ctes)
