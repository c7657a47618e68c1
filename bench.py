"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric (BASELINE.md): tiles+pages joined/sec for the flagship
cover->geotag->tile-encode->PIP->agg pipeline (the e2e spatial join), i.e.
assigned join rows / elapsed sec. Per-query wall seconds in "queries".

Scaling evidence (north rule): run with SPARK_GRAFT_CPUS=8 then =32 on the
same input; efficiency = throughput(32) / (4 * throughput(8)). See
tools/bench_scaling.py which automates the pair and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def scaling_input(spark, n: int) -> str:
    """Materialize the deterministic pages(n) table to parquet once (the
    'same input' of the north rule — both parallelism levels scan the same
    files, like a real cluster scanning the same Iceberg snapshot).
    Generation itself is excluded from the timed job."""
    path = os.environ.get("SPARK_GRAFT_SCALING_DIR", f"/tmp/robosat_scaling_pages_{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from robosat_spark.sources.pages import pages

        # slim projection (the engine only scans these columns anyway) and
        # many files so both parallelism levels can split the scan fully
        pages(spark, n).select("url", "warc_ts", "text").repartition(256).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def scaling_job(spark, path: str) -> int:
    """The north-rule scaling workload: parquet scan of pages (with the
    planted hot z18 tile holding ~half the bbox points) -> geotag extraction
    -> z18 tile encode -> broadcast-index PIP count-refine FUSED onto the
    scan partitions (map-side combine, no point shuffle) -> tiny groupBy.
    Scan order already spreads the hot tile across all partitions, so the
    fused plan is balanced AND shuffle-free — measured 2->8 efficiency
    0.87 vs 0.77 for a salted-shuffle count variant at equal 8-core wall
    time."""
    from pyspark.sql import functions as F

    from robosat_spark.operators.spatial_join import assign_count_by_feature
    from robosat_spark.sources.fixtures import dense_polygon_features, features

    pg = spark.read.parquet(*(path if isinstance(path, list) else [path]))
    ft = features(spark).unionByName(dense_polygon_features(spark))
    counts = assign_count_by_feature(spark, pg, ft, zoom=18)
    return counts.agg(F.sum("n_pages")).collect()[0][0]


def _scaling_partition_bytes(path: str, cpus: int) -> int:
    """Size scan partitions so the fused refine gets ~4 waves per core but
    tasks stay big enough to amortize per-task Arrow stream setup
    (measured: 16 MB partitions cost ~11% at 8 cores vs 64 MB)."""
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    return max(16 << 20, min(64 << 20, total // (cpus * 4) or 1))


def _cpu_stat():
    parts = open("/proc/stat").readline().split()
    return int(parts[8]), sum(map(int, parts[1:11]))  # steal, total


def _steal_pct(before, after):
    """Hypervisor steal % over a window (this VM shows interference
    epochs; the audit lets a slow phase be adjudicated as host vs plan)."""
    ds, dt = after[0] - before[0], after[1] - before[1]
    return round(100.0 * ds / max(1, dt), 2)


# module-level so tests can assert every name still resolves in
# entry.bench_queries() — run_suite silently skips unknown names, which
# would otherwise drop a query from the record without any signal
BENCH_QUERY_NAMES = [
    "tile_encode",
    "hex_encode",
    "tile_pyramid_rollup",
    "pip_assign",
    "knn",
    "tile_adjacency",
    "latest_event_per_user",
    "sessionize",
    "sessionize_gaps",
    "rollup_events",
    "users_retained",
    "event_type_pivot",
    "asof_click_before_purchase",
    # embedding_neardup stays out: the exact all-pairs correctness demo
    # is O(n^2) by definition; its scale path is embedding_neardup_lsh
    "embedding_neardup_lsh",
    "dedup_simhash_pairs",  # banded (linear) since round 2
    "knn_cells",
    "pip_assign_jvm",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix",  # exact prefix-filter join (round 3)
    "dedup_simhash",
    "dedup_clusters",
    "iceberg_scan",  # from-scratch Iceberg connector (round 3)
    "iceberg_time_travel",
    "iceberg_scan_distributed",  # executor-side manifest planning (round 4)
    "iceberg_deletes",  # v2 merge-on-read position deletes (round 4)
    "hll_distinct",  # HyperLogLog register sketch (round 4)
    "hll_merged",    # Iceberg-persisted slice registers, MAX-merged (round 6)
    "iceberg_bucket",  # bucket[8] point lookups + spec murmur3 bucket values (round 6)
    "sample_split",  # deterministic hash sample / stratified / train-val-test (round 6)
    "cms_tokens",  # Count-Min token-frequency sketch (round 5)
    "url_curation",  # domain extraction/blocklist/redaction gate (round 5)
    "contamination",  # benchmark n-gram decontamination scan (round 4)
    "road_widths",
    "token_stats",
    "lang_id",
    "lang_confusion",
    "quality_score",
    "repetition_stats",
    "top_tokens",
    "value_quantiles",
    "knn_label_accuracy",
    "knn_label_accuracy_ivf",
    "ann_cosine",
    "ann_ivf",
    "morton_bbox",
    "cover",
    "pricing_summary",
    "market_join",
    "iceberg_bucket_join",  # shuffle-free co-located bucket-map join (round 6)
    "pagerank",  # fixed-point link-authority iterations (round 6)
    "bm25_rank",  # direct-scan Okapi BM25 (round 6)
    "bm25_index",  # BM25 off the bucketed Iceberg posting index (round 6)
    "doc_chunks",  # sliding-window chunk summary (round 6)
    "seq_pack",  # global sequence packing via two-phase prefix sum (round 6)
    "dedup_incremental",  # Bloom-prefiltered delta-vs-corpus ingest (round 6)
    "dup_spans",  # Lee-et-al. corpus-wide duplicate 5-gram spans (round 6)
    "dup_span_cut",  # ExactSubstr cut transform: spans removed + reassembly (round 6)
    "top2gram",  # Gopher top-2-gram char-fraction repetition rule (round 6)
    "lm_score",  # corpus-trained add-one bigram LM perplexity, micro fixed-point (round 6)
    "bpe_merges",  # distributed BPE merge training, 8 rounds over the vocab table (round 6)
    "dsir_weights",  # DSIR hashed-ngram importance weights + keep rule (round 6)
    "dup_line_cut",  # RefinedWeb corpus-wide duplicate-line removal (round 6)
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entry
    from robosat_spark.session import get_spark

    # Keep the session's 8g default heap: a measured 48g run made the SAME
    # flagship job 3.5x slower on this VM (huge-heap page-fault/GC
    # pathology, 17.6s vs 4.8s steady-state) — the r3 trial-swing fix is
    # the per-round gc.collect() below plus untimed warm runs, NOT more
    # heap.
    spark = get_spark(app="robosat_spark_bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    scaling_n = int(os.environ.get("SPARK_GRAFT_SCALING_N", "0"))
    if scaling_n:
        # scaling-evidence mode: run ONLY the big flagship count job
        # point rows are tiny: big Arrow batches amortize per-batch pandas
        # overhead in the refine (the session default is sized for mask rows)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        path = scaling_input(spark, scaling_n)
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(_scaling_partition_bytes(path, cpus)),
        )
        spark.read.parquet(path).count()  # untimed: warm page cache
        # untimed: spin the Python/Arrow workers through the SAME fused
        # PIP pipeline on a 1/256 slice of the input. The parquet count
        # above is pure JVM, so without this the timed run charges every
        # worker's one-time numpy/pandas import + Arrow init to the job —
        # a fixed per-JVM cost that scales with the core count and that a
        # multi-hour 100 TB job amortizes to zero; a throughput
        # measurement that includes it under-reads exactly the larger
        # parallelism level (the bias direction of the north-rule ratio).
        warm_files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )[: max(2 * cpus, 8)]  # >= one task per core: every worker warms
        scaling_job(spark, warm_files)
        t0 = time.perf_counter()
        joined = scaling_job(spark, path)
        dt = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "metric": "pages_joined_per_sec_fused",
                    "value": round(joined / dt, 1),
                    "unit": "rows/sec",
                    "queries": {"scaling_job": round(dt, 3)},
                    "sf": scaling_n,
                    "cpus": cpus,
                    "joined_rows": joined,
                }
            )
        )
        spark.stop()
        return

    # bench_queries(): the driver gates consolidate redundant variants into
    # unioned entries (r4); the bench keeps timing each variant under its
    # historical name so per-query walls stay diffable round-over-round
    qs = entry.bench_queries()
    bench_queries = BENCH_QUERY_NAMES
    # warmup: spin Python workers + JIT/codegen once so the first timed
    # query isn't charged the session's fixed startup costs
    spark.range(1000).selectExpr("sum(id)").collect()
    qs["tile_encode"](spark, sf_dir).limit(1).count()

    # min-of-N per query (round-2 review item 1, revised in r3): single
    # trials swung 15-45% round-over-round, and the r3 adjudication traced
    # the residual swings to HOST interference epochs on this shared VM —
    # time-correlated 2-5x slowdowns sweeping across unrelated queries in
    # the same trial round (see queries_trials in the payload; e.g.
    # [1.4, 1.3, 9.2] on a pure-codegen query). Under strictly additive
    # noise the minimum wall is the standard robust cost estimator
    # (timeit's convention); all raw trials are published alongside.
    # Trials run in ROUND-ROBIN order (all queries trial 1, then all
    # trial 2, ...) so an epoch hits every query equally instead of one
    # query's three back-to-back trials.
    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))

    def run_suite(session, query_fns):
        import gc

        trials = {name: [] for name in bench_queries if name in query_fns}
        for _ in range(n_trials):
            for name in trials:
                t0 = time.perf_counter()
                query_fns[name](session, sf_dir).count()
                trials[name].append(round(time.perf_counter() - t0, 3))
            # drop the trial's dead DataFrames so ContextCleaner unpersists
            # their localCheckpoint blocks before the next round — without
            # this the N-trial suite holds N x the storage of a single run
            # and evicts/recomputes erratically (the r3 trial-swing cause)
            gc.collect()
            session.sparkContext._jvm.System.gc()
        best = {n: min(ts) for n, ts in trials.items()}
        return best, trials

    steal = {}
    s0 = _cpu_stat()
    timings, trials = run_suite(spark, qs)
    steal["suite_32cpu"] = _steal_pct(s0, _cpu_stat())

    # flagship e2e on the sf tables (correctness-scale; warmup-dominated)
    from robosat_spark.operators.spatial_join import assign_broadcast
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    e2e_trials = []
    for _ in range(n_trials):
        t0 = time.perf_counter()
        pg = pages_from_events(spark, sf_dir)
        ft = oracle_rect_features(spark)
        assigned = assign_broadcast(spark, pg, ft, zoom=7)
        assigned.count()
        e2e_trials.append(round(time.perf_counter() - t0, 3))
    timings["flagship_e2e"] = min(e2e_trials)
    trials["flagship_e2e"] = e2e_trials

    # headline throughput: the fused flagship count at a size where
    # parallelism dominates JVM fixed costs (input generated once, reused).
    # Measured in a FRESH JVM: after the 40+-query suite x N trials the
    # session carries accumulated broadcast/checkpoint/codegen state that
    # made the SAME job run 10s in-suite vs 5s standalone (r4 measurement,
    # 2.9% steal — suite pollution, not host noise); the standalone number
    # is the honest engine throughput and matches tools/bench_scaling.py.
    # (r1 ran the salted-shuffle variant under key flagship_salted_5m; the
    # fused plan replaced it as the default count readout in r2.)
    headline_n = int(os.environ.get("SPARK_GRAFT_HEADLINE_N", "5000000"))
    path = scaling_input(spark, headline_n)  # generate (if needed) in the old session
    spark.stop()
    spark = get_spark(app="robosat_spark_bench_flagship", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(_scaling_partition_bytes(path, cpus))
    )
    spark.read.parquet(path).count()  # warm listing/page cache, untimed
    scaling_job(spark, path)  # untimed: spawn the refine's Python workers
    s0 = _cpu_stat()
    flag_trials = []
    joined_rows = 0
    for _ in range(n_trials):
        t0 = time.perf_counter()
        joined_rows = scaling_job(spark, path)
        flag_trials.append(round(time.perf_counter() - t0, 3))
    steal["flagship"] = _steal_pct(s0, _cpu_stat())
    flagship_sec = min(flag_trials)
    timings["flagship_count_5m"] = flagship_sec
    trials["flagship_count_5m"] = flag_trials

    payload = {
        "metric": "pages_joined_per_sec",
        "value": round(joined_rows / flagship_sec, 1),
        "unit": "rows/sec",
        "queries": timings,
        "queries_trials": trials,
        "trials": n_trials,
        "sf": None,
        "cpus": cpus,
        "joined_rows": joined_rows,
        "steal_pct": steal,
    }
    sf = sf_dir.rstrip("/").split("sf")[-1]
    payload["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    spark.stop()

    # round-over-round continuity (round-1 review item 10): the same query
    # suite again at local[8] so future rounds can diff per-query times at
    # BOTH parallelism levels, not just the 32-core headline. Fresh session
    # (one JVM at a time); skip with SPARK_GRAFT_SKIP_8CPU=1 for quick runs.
    if cpus != 8 and not os.environ.get("SPARK_GRAFT_SKIP_8CPU"):
        # best-effort: a failure here must not discard the already-measured
        # primary results (the 32-core suite + flagship took minutes)
        try:
            spark8 = get_spark(app="robosat_spark_bench8", cores=8)
            spark8.sparkContext.setLogLevel("ERROR")
            spark8.range(1000).selectExpr("sum(id)").collect()
            qs8 = entry.bench_queries()
            qs8["tile_encode"](spark8, sf_dir).limit(1).count()
            s0 = _cpu_stat()
            timings8, trials8 = run_suite(spark8, qs8)
            payload["steal_pct"]["suite_8cpu"] = _steal_pct(s0, _cpu_stat())
            payload["queries_8cpu"] = timings8
            payload["queries_8cpu_trials"] = trials8
            spark8.stop()
        except Exception as e:  # pragma: no cover - defensive
            payload["queries_8cpu_error"] = str(e)[:200]

    print(json.dumps(payload))
    # Also persist the full payload to a file so the record survives any
    # stdout truncation (BENCH/ is committed; the driver only keeps a tail).
    try:
        bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "bench_full_latest.json"), "w") as f:
            json.dump(payload, f, indent=2)
    except OSError:
        pass
    print(compact_tail_line(payload, timings))


def compact_tail_line(payload: dict, timings: dict, cap: int = 1900,
                      scaling_path: str | None = None) -> str:
    """The LAST stdout line, guaranteed < ``cap`` chars so the driver's
    ~2000-char tail capture can never truncate it mid-JSON (r3's trial
    arrays and r4's "compact" line — which still carried both full
    per-query dicts, ~4 KB — each pushed the headline out of the window;
    BENCH parsed: null two rounds running). Headline + sf/cpus + the 10
    slowest query mins + the recorded north-rule efficiency, nothing
    else; full per-query dicts live on the preceding line and in
    BENCH/bench_full_latest.json. Degrades by trimming the slowest list
    rather than asserting — an assert would abort AFTER the multi-KB
    payload printed, recreating the exact pathology this guards against
    (and -O strips asserts)."""
    compact = {
        k: payload[k]
        for k in ("metric", "value", "unit", "trials", "sf", "cpus", "joined_rows")
    }
    compact["steal_pct"] = payload["steal_pct"].get("flagship")
    compact["slowest"] = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    # north-rule number from the most recent tools/bench_scaling.py run
    # (pinned-core pair measurement — not re-measurable inside this
    # unpinned suite process), so the per-round record carries it. On any
    # read error the key is PRESENT-BUT-NULL, never silently absent — a
    # missing scaling file must be visible in the official record, not
    # look like the field was never emitted (r5 VERDICT item 6).
    if scaling_path is None:
        scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                    "BENCH", "scaling_latest.json")
    try:
        with open(scaling_path) as f:
            compact["eff_2to8_recorded"] = json.load(f)["value"]
    except (OSError, KeyError, ValueError) as e:
        compact["eff_2to8_recorded"] = None
        print(f"bench: WARNING scaling_latest.json unreadable ({e!r}); "
              "eff_2to8_recorded=null", file=sys.stderr)
    line = json.dumps(compact)
    while len(line) >= cap and compact["slowest"]:
        compact["slowest"].popitem()
        line = json.dumps(compact)
    if len(line) >= cap:  # pragma: no cover - headline alone fits
        line = json.dumps({"metric": payload["metric"], "value": payload["value"]})
    return line


if __name__ == "__main__":
    main()
