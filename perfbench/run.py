"""Closed-loop benchmark of the tile engine on this host's cores.

    python3 perfbench/run.py --workload flagship_count --seed 1 --seconds 12 --trace 0

Run from the repository root. One client runs the workload's job, checks its
output, and starts the next job only after that: a closed loop with one
client. The session is ``get_spark(cores=nproc)`` exactly as shipped; the
benchmark sets no Spark conf. Inputs are generated once per seed under
``.perfbench_data/`` and reused.

``--workload all`` runs every workload in turn, each in its own process.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced jobs and prints the per-layer metrics, including the
tracing overhead against the untraced median. The last stdout line is one
JSON object; the lines above it give each metric's median, quartiles and
sample count, the failure fraction, host steal and process-tree CPU.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-up is repeated and its median reported (once when traced); each
# repeat costs a JVM-warm session start plus a warm-up job, about 7 s here
SETUPS = 2
# untraced runs time at least this many jobs, even past the window, so that
# one slow job cannot set a run's median
MIN_JOBS = 3


def _median_quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return med, q1, q3


def _isolate(data_dir: str) -> str:
    """Keep Spark and worker scratch inside the checkout and drop any
    engine-overlay environment, so the session is the shipped one."""
    scratch = os.path.join(data_dir, "tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    return scratch


def _start_session(name: str):
    from robosat_spark.session import get_spark

    spark = get_spark(app=f"perfbench-{name}", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_everything(spark) -> None:
    """Stop Spark, end the JVM, and wait for every descendant process."""
    from pyspark import SparkContext

    from measure import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    me = os.getpid()
    while True:
        rest = [p for p in tree_pids(me) if p != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


class Loop:
    """One workload in one session: set-up, the timed window, checks."""

    def __init__(self, workload, seed: int, size: str, data_dir: str, scratch: str):
        self.w, self.seed, self.size = workload, seed, size
        self.data_dir, self.scratch = data_dir, scratch
        self.spark = None
        self.inputs = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._n = 0

    def _dir(self) -> str:
        self._n += 1
        d = os.path.join(self.scratch, f"job{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def setup(self, repeats: int) -> tuple[list[float], float]:
        """repeats x (session start, cache check, checked warm-up job on a
        slice); generating a new seed's input runs once, outside set-up time."""
        from measure import Tracer

        times, gen_s = [], 0.0
        for k in range(repeats):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = _start_session(self.w.name)
            if k == 0:
                t1 = time.perf_counter()
                self.inputs = self.w.prepare(self.spark, self.data_dir, self.seed, self.size)
                gen_s = time.perf_counter() - t1
                t0 += gen_s
            self.w.check_cache(self.inputs)
            self._checked(self.w.warmup, Tracer(False), self._dir())
            times.append(time.perf_counter() - t0)
        return times, gen_s

    def _checked(self, fn, *args):
        """Run a job that returns its own check verdict; count it."""
        self.attempted += 1
        try:
            err = fn(self.spark, self.inputs, *args)
        except Exception:
            err = traceback.format_exc(limit=4)
        if err:
            self.failed += 1
            self.errors.append(err)

    def job(self, tracer, sampler=None, log=None):
        """One closed-loop job; -> (wall_s, cpu_s, peak_rss, result, dir,
        logged plans) or None when it failed or its output was wrong."""
        from measure import tree_cpu_s

        root = self._dir()
        me = os.getpid()
        mark = log.mark() if log is not None else None
        self.attempted += 1
        try:
            if sampler is not None:
                sampler.take_peak()
            c0 = tree_cpu_s(me)
            t0 = time.perf_counter()
            res = self.w.run(self.spark, self.inputs, tracer, root)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(me) - c0
            peak = sampler.take_peak() if sampler is not None else 0
            err = self.w.check(self.spark, self.inputs, res)
        except Exception:
            err = traceback.format_exc(limit=4)
        if err:
            self.failed += 1
            self.errors.append(err)
            return None
        logged = log.plans_since(mark) if log is not None else []
        return wall, cpu, peak, res, root, logged


def _layer_values(loop: Loop, out, tracer) -> dict:
    wall, _cpu, _peak, res, root, logged = out
    return loop.w.layers(loop.spark, loop.inputs, res, tracer, root, logged)


def _fill_off_path(loop: Loop, names: list[str], layers: dict, sources: dict) -> None:
    """Layers the workload never calls are measured once on a tiny input of
    a workload that does, in the same session; ``sources`` records where."""
    from measure import ExecutionLog, Tracer
    from workloads import WORKLOADS

    for other in ("assign_rows_checkpointed", "raster_to_vector", "flagship_count"):
        missing = [n for n in names if n not in layers]
        if not missing or other == loop.w.name:
            continue
        probe = Loop(WORKLOADS[other], loop.seed, "tiny", loop.data_dir, loop.scratch)
        probe.spark = loop.spark
        probe.inputs = probe.w.prepare(probe.spark, loop.data_dir, loop.seed, "tiny")
        tracer = Tracer(True)
        out = probe.job(tracer, log=ExecutionLog(loop.spark))
        if out is None:
            raise RuntimeError(f"off-path probe {other} failed: {probe.errors[-1]}")
        found = _layer_values(probe, out, tracer)
        found.update(probe.w.probes(probe.spark, probe.inputs, out[3]))
        for name in missing:
            if name in found:
                layers[name] = found[name]
                sources[name] = f"tiny {other}"


def _run_all(args) -> int:
    """Every workload of BENCHMARK.json in turn, each in its own process and
    session; their outputs are printed one after the other."""
    import subprocess

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    worst = 0
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--size", args.size],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        print(proc.stdout, end="", flush=True)
        worst = max(worst, proc.returncode)
    return worst


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if args.workload == "all":
        return _run_all(args)
    if not os.path.isdir(os.path.join(ROOT, "robosat_spark")):
        print(f"perfbench: no robosat_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    from measure import (
        ExecutionLog,
        RssSampler,
        Tracer,
        host_cpu_ticks,
        steal_pct,
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    data_dir = os.path.join(ROOT, ".perfbench_data")
    scratch = _isolate(data_dir)
    loop = Loop(WORKLOADS[args.workload], args.seed, args.size, data_dir, scratch)
    try:
        with RssSampler(os.getpid()) as sampler:
            setups, gen_s = loop.setup(1 if args.trace else SETUPS)
            log = ExecutionLog(loop.spark) if args.trace else None
            plain, traced = [], []
            layer_runs = []
            steal0, start = host_cpu_ticks(), time.perf_counter()
            turns = []  # seconds per job, its check included
            while True:
                t0 = time.perf_counter()
                trace_this = bool(args.trace) and len(plain) > len(traced)
                tracer = Tracer(trace_this)
                out = loop.job(tracer, sampler, log if trace_this else None)
                if out is not None:
                    (traced if trace_this else plain).append(out)
                    if trace_this:
                        layer_runs.append(_layer_values(loop, out, tracer))
                    shutil.rmtree(out[4], ignore_errors=True)
                turns.append(time.perf_counter() - t0)
                done = len(plain) >= (1 if args.trace else MIN_JOBS) and (
                    traced or not args.trace
                )
                # stop before a job that would end after the window
                if done and (
                    time.perf_counter() - start + statistics.median(turns) > args.seconds
                ):
                    break
                if loop.failed >= 3 and not plain:
                    break  # nothing succeeds: report instead of looping
            window_s = time.perf_counter() - start
            steal = steal_pct(steal0, host_cpu_ticks())

            layers, sources = {}, {}
            if args.trace and traced:
                names = [m["name"] for m in spec["per_layer"]]
                for name in layer_runs[0]:
                    layers[name] = statistics.median(r[name] for r in layer_runs)
                    sources[name] = f"median of {len(layer_runs)} traced jobs"
                for name, value in loop.w.probes(loop.spark, loop.inputs, traced[-1][3]).items():
                    layers[name] = value
                    sources[name] = "probe on this workload's input"
                layers["trace.overhead_pct"] = 100.0 * (
                    statistics.median(t[0] for t in traced)
                    / statistics.median(p[0] for p in plain)
                    - 1.0
                )
                sources["trace.overhead_pct"] = (
                    f"median traced wall ({len(traced)}) / median untraced wall ({len(plain)})"
                )
                _fill_off_path(loop, names, layers, sources)
    finally:
        _stop_everything(loop.spark)
        shutil.rmtree(scratch, ignore_errors=True)

    if not plain:
        for err in loop.errors[-3:]:
            print(err, file=sys.stderr)
        print("perfbench: no job succeeded", file=sys.stderr)
        return 1

    walls = [p[0] for p in plain]
    e2e = {
        "wall_s": walls,
        "items_per_s": [p[3].items / p[0] for p in plain],
        "cpu_s": [p[1] for p in plain],
        "peak_rss_mb": [p[2] / 1e6 for p in plain],
        "setup_s": setups,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"# workload {args.workload} seed {args.seed} size {args.size} "
          f"cores {len(os.sched_getaffinity(0))} window {window_s:.2f}s "
          f"input generation {gen_s:.2f}s")
    for name, values in e2e.items():
        med, q1, q3 = _median_quartiles(values)
        print(f"{name:14s} median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} n {len(values)} {units[name]}")
    print(f"failed_frac    {loop.failed / loop.attempted:.6g} "
          f"({loop.failed} of {loop.attempted} runs)")
    cpu_total = sum(e2e["cpu_s"])
    print(f"host_steal_pct {steal:.3f}  tree_cpu_s {cpu_total:.3f} over {len(walls)} jobs")
    for err in loop.errors[:3]:
        print("# error: " + err.strip().replace("\n", " | "))
    if args.trace:
        for name, value in layers.items():
            print(f"{name:44s} {value:.6g} {units.get(name, '')}  [{sources[name]}]")
        wanted = [m["name"] for m in spec["per_layer"]]
        missing = [n for n in wanted if n not in layers]
        if missing:
            print(f"perfbench: per-layer metrics not measured: {missing}", file=sys.stderr)
            return 1
        metrics = {n: {"value": layers[n], "unit": units[n]} for n in wanted}
    else:
        metrics = {
            m["name"]: {"value": _median_quartiles(e2e[m["name"]])[0], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
