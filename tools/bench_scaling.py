"""Scaling-efficiency evidence (BASELINE.json north_rule).

The rule requires >=0.8 throughput scaling efficiency from N to 4N
executors. No real cluster exists in this sandbox, so the sanctioned
evidence is the same job at two parallelism levels on identical input
(same parquet files), each in a fresh JVM, with the whole process tree
PINNED to exactly N cpus via taskset — otherwise local[N] borrows spare
cores for GC/Python/shuffle threads and flatters the small run.

Two pairs are reported:
- N=2 -> 4N=8: both levels are below this VM's memory-bandwidth
  saturation point, so the measurement isolates the PLAN's scalability
  (no serial bottleneck, linear shuffle, balanced scan partitions).
- N=8 -> 4N=32: the upper pair saturates the single shared memory bus of
  this one-box VM; the hardware ceiling probes quantify exactly how much
  of the loss is machine, not engine (pure-CPU busy loop: 0.87; cache-
  blocked NumPy PIP kernel alone: 0.78 at 8->32 processes). On a real 4N-
  executor cluster each executor brings its own memory bus and disks, so
  the 2->8 number is the one that transfers.

Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(cpus: int, sf_dir: str, scaling_n: int, pin: bool = True) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_SCALING_N=str(scaling_n))
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if pin:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    s0 = _cpu_stat()
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=3000)
    s1 = _cpu_stat()
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            parsed = json.loads(line)
            # host-noise audit: steal% over the trial window (this VM shows
            # time-correlated interference epochs — see BENCH/ADJUDICATION_r3)
            busy = sum(s1.values()) - sum(s0.values()) - (s1["idle"] - s0["idle"])
            parsed["steal_pct"] = round(
                100.0 * (s1["steal"] - s0["steal"]) / max(1, busy), 2
            )
            return parsed
    raise RuntimeError(f"bench.py (cpus={cpus}) produced no JSON:\n{out.stdout}\n{out.stderr}")


def _cpu_stat() -> dict:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal", "guest", "guest_nice"]
    return dict(zip(names, map(int, parts[1:])))


_PROBE_CODE = r"""
import sys, time
import numpy as np
kind = sys.argv[1]
if kind == "cpu":
    # cache-resident pure-CPU work: 32 KB array, arithmetic only
    a = np.random.RandomState(0).rand(4096)
    t0 = time.perf_counter()
    for _ in range(30000):
        (a * a + 1.0).sum()
    print(time.perf_counter() - t0)
else:
    # memory-streaming NumPy kernel shaped like the PIP refine:
    # 2M points x one 128-vertex ring crossing-number pass
    sys.path.insert(0, sys.argv[2])
    from robosat_spark.kernels.geometry import points_in_ring
    rng = np.random.RandomState(0)
    px, py = rng.rand(2_000_000), rng.rand(2_000_000)
    ring = rng.rand(128, 2)
    t0 = time.perf_counter()
    for _ in range(4):
        points_in_ring(px, py, ring)
    print(time.perf_counter() - t0)
"""


def measure_probe(kind: str, procs: int) -> float:
    """Mean wall seconds of ``procs`` identical processes pinned to exactly
    ``procs`` cpus (the contention scenario the Spark levels see). With
    fixed work per process, efficiency(8->32) = mean_wall(8)/mean_wall(32)."""
    cmd = ["taskset", "-c", f"0-{procs - 1}", sys.executable, "-c", _PROBE_CODE, kind, REPO]
    ps = [subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) for _ in range(procs)]
    walls = [float(p.communicate(timeout=600)[0].strip().splitlines()[-1]) for p in ps]
    return sum(walls) / len(walls)


def measure_ceiling_probes() -> dict[str, float]:
    """MEASURED hardware ceiling efficiencies at 8->32 processes on THIS
    box (round-1 review: these were hardcoded constants; now every
    BENCH/BASELINE.md regeneration re-measures them)."""
    out = {}
    for kind in ("cpu", "numpy"):
        w8 = measure_probe(kind, 8)
        w32 = measure_probe(kind, 32)
        out[kind] = round(w8 / w32, 3)
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scaling_n = int(os.environ.get("SPARK_GRAFT_SCALING_N", "60000000"))

    trials = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "3"))
    results = {}
    # 32 first: its untimed setup phase generates the input parquet at full
    # parallelism; the pinned 2- and 8-cpu runs then reuse the same files.
    # median of N fresh-JVM trials per level — single runs vary ~±10% on
    # this shared VM, enough to flip the headline ratio.
    for cpus in (32, 2, 8):
        runs = sorted(
            (run_bench(cpus, sf_dir, scaling_n) for _ in range(trials)),
            key=lambda r: r["value"],
        )
        med = runs[len(runs) // 2]
        med["all_values"] = [r["value"] for r in runs]
        med["steal_pcts"] = [r.get("steal_pct") for r in runs]
        results[cpus] = med

    eff_2_8 = results[8]["value"] / (4.0 * results[2]["value"])
    eff_8_32 = results[32]["value"] / (4.0 * results[8]["value"])
    probes = measure_ceiling_probes()
    summary = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": round(eff_2_8, 3),
        "unit": "ratio",
        "pair": "2->8 cores (pinned)",
        "eff_8_32": round(eff_8_32, 3),
        "throughput": {str(c): results[c]["value"] for c in results},
        "wall_s": {str(c): results[c]["queries"]["scaling_job"] for c in results},
        "joined_rows": results[8]["joined_rows"],
        "n_pages": scaling_n,
        "ceiling_probes_8_32": probes,
        "steal_pcts": {str(c): results[c].get("steal_pcts") for c in results},
    }
    print(json.dumps(summary))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # machine-readable twin of BASELINE.md: bench.py embeds eff_2to8 from
    # here into its final stdout line so the per-round BENCH record
    # carries the north-rule number
    with open(os.path.join(REPO, "BENCH", "scaling_latest.json"), "w") as f:
        json.dump(summary, f, indent=2)
    r2, r8, r32 = results[2], results[8], results[32]
    lines = [
        "# BENCH/BASELINE.md — measured engine numbers",
        "",
        "## North-rule scaling evidence",
        "",
        "Identical job on identical input (same parquet files), fresh JVM per",
        "run, process tree pinned to exactly N cpus with `taskset` (local[N]",
        "alone borrows spare cores for GC/Python/shuffle threads and flatters",
        "small N).",
        "",
        f"Job: parquet scan of deterministic synthetic pages(n={scaling_n:,})",
        "(one planted hot z18 tile holds ~50% of in-bbox points) -> geotag",
        "extraction (substring scan + cast) -> z18 tile encode -> broadcast",
        "semi-join tile prefilter -> Arrow count-refine FUSED onto the scan",
        "partitions against the broadcast per-tile polygon index (441",
        "features incl. 400 dense 128-vertex polygons; blocked",
        "crossing-number PIP; map-side combine) -> groupBy sum. No point",
        "shuffle: scan order already spreads the hot tile across every",
        "partition, so the fused plan is balanced without the salt, and at",
        "cluster scale the avoided candidate shuffle is network traffic.",
        "",
        "| cpus (pinned) | wall s (median) | throughput (joined rows/sec, median of trials) | trials | host steal % per trial |",
        "|---|---|---|---|---|",
        f"| 2 (N) | {r2['queries']['scaling_job']} | {r2['value']:,} | {r2.get('all_values')} | {r2.get('steal_pcts')} |",
        f"| 8 (4N) | {r8['queries']['scaling_job']} | {r8['value']:,} | {r8.get('all_values')} | {r8.get('steal_pcts')} |",
        f"| 32 (16N) | {r32['queries']['scaling_job']} | {r32['value']:,} | {r32.get('all_values')} | {r32.get('steal_pcts')} |",
        "",
        f"**Scaling efficiency N->4N (2->8 cores) = {eff_2_8:.3f}** (rule: >= 0.8).",
        f"Efficiency 8->32 cores = {eff_8_32:.3f} — capped by this single-VM's",
        "shared memory bus, not by the plan; hardware ceiling probes",
        "RE-MEASURED on this box in this run (N identical pinned processes,",
        "fixed work each; efficiency = mean_wall(8)/mean_wall(32)):",
        "",
        "| probe (8 -> 32 identical pinned processes) | efficiency |",
        "|---|---|",
        f"| pure-CPU busy loop (cache-resident) | {probes['cpu']} |",
        f"| NumPy crossing-number PIP kernel (memory-streaming) | {probes['numpy']} |",
        "",
        "A real 4N-executor cluster adds memory bandwidth and disks with the",
        "executors; the 2->8 pair (both levels below the saturation point)",
        "is the measurement that isolates plan scalability: no serial stage,",
        "no point shuffle, naturally balanced scan partitions.",
        "",
        "Consumers that need cell-clustered output (groupBy tile, per-tile",
        "sinks) use the salted row join `assign_salted`; the count readout",
        "has one plan, the fused one measured here.",
        "",
        "## Reference baseline",
        "",
        "The reference (mapbox/robosat) publishes no benchmark numbers — no",
        "perf harness anywhere in its repo (BASELINE.md); it is additionally",
        "single-process/single-node by construction, so any distributed",
        "throughput here has no reference counterpart. The authoritative",
        "target is the north rule's scaling criterion above.",
        "",
    ]
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
