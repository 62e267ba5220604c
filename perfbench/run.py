"""Layered link-graph benchmark.

    python3 perfbench/run.py --workload link_iterative --seed 1 --seconds 10 --trace 0

Runs one closed-loop workload with a single driver thread on
``local[<cores>]`` and 2 × cores shuffle partitions, in a fresh JVM:

1. builds the seeded inputs and their oracle answers (cached per seed,
   outside every timed region);
2. sets up ``SETUP_REPS`` times (new SparkContext, input loaded and
   cached) and reports the median as ``setup_s``;
3. runs ``WARMUP_PASSES`` untimed passes of the workload's kernel
   calls, then timed passes until ``--seconds`` have passed (at least
   ``MIN_PASSES``);
4. checks every call's output, outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the
measurement in a second, traced session (spans around each layer
call, a job group per call, Spark's event log on) and a third,
untraced one, and prints the per-layer metrics.  The last stdout line is one JSON object; the
lines above it are for people.  Everything is written under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUP_REPS = 3
#: untimed passes before the timed ones: the first pass after JVM launch
#: takes about twice a warm one, the second is still 10% slower
WARMUP_PASSES = 2
MIN_PASSES = 2


# -- host ------------------------------------------------------------------

def host_sample() -> dict:
    """Cumulative host steal seconds (/proc/stat) and 1-minute load."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"steal_s": steal / os.sysconf("SC_CLK_TCK"), "load1": os.getloadavg()[0]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def percentile_line(name: str, values: list[float], unit: str) -> str:
    """Median plus the highest percentile with ≥ 10 samples beyond it."""
    n = len(values)
    s = sorted(values)
    extra = "no higher percentile supported"
    for p in (99.9, 99, 90):
        if n * (1 - p / 100) >= 10:
            extra = f"p{p:g}={s[min(n - 1, int(n * p / 100))]:.6g}"
            break
    return f"{name}: median={statistics.median(values):.6g} {unit} ({extra}; n={n})"


# -- the run ---------------------------------------------------------------

class Bench:
    """One workload in one process: inputs, sessions, passes, checks."""

    def __init__(self, workload: str, seed: int, size: str = "full",
                 work: str | None = None, corrupt=None, kernels=None):
        from dataclasses import replace

        from perfbench import workloads as W

        self.W = W
        self.wl = W.WORKLOADS[workload]
        if kernels is not None:  # a subset, for the self-test
            self.wl = replace(self.wl, kernels=tuple(
                k for k in self.wl.kernels if k.name in kernels))
        self.seed = seed
        self.size = W.SIZES[size]
        self.work = work or os.path.join(os.getcwd(), ".perfbench_work")
        self.run_id = f"{workload}-s{seed}-{os.getpid()}-{int(time.time())}"
        self.tmp = os.path.join(self.work, "tmp", self.run_id)
        self.cache = os.path.join(self.work, "cache")
        for d in (self.tmp, self.cache):
            os.makedirs(d, exist_ok=True)
        # JVM, Python and Spark scratch files stay inside the checkout
        self._saved_tmp = (os.environ.get("TMPDIR"), tempfile.tempdir)
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        self.corrupt = corrupt
        self.spark = None
        self.graph = None
        self.tracer = None
        self.checkpointer_wrap = None
        self._ckpt_n = 0
        self.attempted = 0
        self.failures: list[str] = []

    # -- sessions --------------------------------------------------------
    def start_session(self, event_log: str | None = None):
        from combblas_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms2g",
            "spark.local.dir": os.path.join(self.tmp, "spark"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            })
        return get_spark(app_name=f"perfbench-{self.wl.name}",
                         master=f"local[{cores()}]",
                         shuffle_partitions=2 * cores(), extra_conf=conf)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.tmp, ignore_errors=True)
        env_tmp, tempfile.tempdir = self._saved_tmp
        if env_tmp is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = env_tmp

    # -- inputs ----------------------------------------------------------
    def prepare(self) -> None:
        """Inputs, input checksum and oracle answers, all cached per seed;
        outside every timed region."""
        from perfbench import checks, inputs

        kind = self.wl.input
        sf = self.size[kind]
        self.tables_dir = inputs.tables(self.cache, sf, self.seed)
        key = os.path.join(self.cache, f"{kind}_sf{sf:g}_seed{self.seed}")
        src, dst = checks.reference_edges(key + "_edges.npz", self.tables_dir,
                                          self.W.EDGES_SQL[kind])
        self.input_expected = inputs.checksum_numpy(src, dst)
        gates = {k.name: k.gate for k in self.wl.kernels if k.gate}
        self.gate_expected = checks.oracle_digests(
            f"{key}_{self.wl.name}_oracle.json", self.tables_dir, gates)
        self.pr_expected = {
            k.name: checks.pagerank_oracle(f"{key}_pagerank_{tol:g}_{n}.npz", src, dst, tol, n)
            for k in self.wl.kernels if k.pagerank for tol, n in [k.pagerank]
        }
        self.input_mb = sum(os.path.getsize(os.path.join(self.tables_dir, f"{t}.parquet"))
                            for t in self.W.TABLES[kind]) / (1 << 20)

    def setup(self, event_log: str | None = None) -> tuple[float, float]:
        """New session with the input loaded and cached:
        (session start seconds, load seconds)."""
        from combblas_spark.graph import Graph

        self.stop_session()
        t0 = time.perf_counter()
        with self.tracer.span("session", "get_spark"):
            self.spark = self.start_session(event_log)
        t1 = time.perf_counter()
        with self.tracer.span("sources", "load"):
            edges = self.W.load_edges(self.spark, self.wl.input, self.tables_dir)
            edges = edges.repartition(2 * cores(), "src").cache()
            self.edges = edges.count()
        t2 = time.perf_counter()
        self.graph = Graph(edges=edges, n_partitions=2 * cores())
        return t1 - t0, t2 - t1

    def verify_input(self) -> None:
        """Edge count and checksum of the loaded input against DuckDB's
        derivation of the same edge table."""
        from perfbench.inputs import checksum_spark

        self.attempted += 1
        got = checksum_spark(self.graph.edges)
        if got != self.input_expected:
            self.failures.append(f"input: checksum {got} != {self.input_expected}")

    # -- kernel calls ----------------------------------------------------
    def new_checkpointer(self):
        from combblas_spark.plans.checkpoint import Checkpointer

        self._ckpt_n += 1
        ck = Checkpointer(os.path.join(self.tmp, "ckpt"), run_id=f"call{self._ckpt_n}")
        if self.checkpointer_wrap is not None:
            return self.checkpointer_wrap(ck)
        return ck

    def run_pass(self, tag: str, fingerprint: bool = False) -> dict:
        """One timed pass over the workload's kernels; outputs checked
        after the pass, outside the timed region."""
        from perfbench.ledger import plan_fingerprint

        sc = self.spark.sparkContext
        calls = []
        t_pass = time.perf_counter()
        for k in self.wl.kernels:
            group = f"{tag}.{k.name}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("algos", k.name):
                    out = k.call(self)
                    rows = out.df.collect()
                err = None
            except Exception:  # a failed call is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                out, rows, err = None, None, "raised"
            calls.append({"kernel": k, "group": group, "out": out, "rows": rows,
                          "seconds": time.perf_counter() - t0, "err": err})
        wall = time.perf_counter() - t_pass
        sc.setJobGroup("", "")
        for c in calls:
            self.attempted += 1
            if c["err"] is None:
                c["err"] = self.check(c)
            if c["err"] is not None:
                self.failures.append(f"{c['group']}: {c['err']}")
            if fingerprint and c["out"] is not None:
                c["plan"] = plan_fingerprint(c["out"].df)
        shutil.rmtree(os.path.join(self.tmp, "ckpt"), ignore_errors=True)
        return {"tag": tag, "wall": wall, "calls": calls}

    def check(self, call) -> str | None:
        from perfbench import checks

        k, rows = call["kernel"], call["rows"]
        if self.corrupt is not None:
            rows = self.corrupt(k.name, rows)
        if k.pagerank:
            return checks.check_pagerank(rows, call["out"].pagerank.iterations,
                                         self.pr_expected[k.name])
        return checks.check_gate(rows, call["out"].df.columns,
                                 self.gate_expected[k.name])

    def measure(self, seconds: float) -> list[dict]:
        """WARMUP_PASSES untimed passes, then timed passes for ``seconds``
        (at least MIN_PASSES)."""
        self.warmup_walls = [self.run_pass(f"uw{i}")["wall"] for i in range(WARMUP_PASSES)]
        passes = []
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            passes.append(self.run_pass(f"u{len(passes)}"))
        return passes

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")


# -- metrics ---------------------------------------------------------------

def _calls(passes, kernel: str) -> list[dict]:
    """Calls of ``kernel`` that returned, over ``passes``."""
    return [c for p in passes for c in p["calls"]
            if c["kernel"].name == kernel and c["out"] is not None]


def end_to_end(b: Bench, setups, passes) -> tuple[dict, list[str]]:
    med = statistics.median
    setup = [s + l for s, l in setups]
    walls = [p["wall"] for p in passes]
    pr = _calls(passes, "pagerank")
    if pr:  # edges × iterations ÷ PageRank call wall
        eps = [c["out"].pagerank.edges_processed / c["seconds"] for c in pr]
    else:  # wedge workload: input edges × kernel calls ÷ pass wall
        eps = [b.edges * len(b.wl.kernels) / w for w in walls]
    metrics = {
        "setup_s": (med(setup), "s"),
        "wall_s": (med(walls), "s"),
        "edges_per_s_per_iter": (med(eps), "1/s"),
        "jvm_peak_rss_mb": (b.jvm_peak_rss_mb(), "MB"),
    }
    lines = [
        percentile_line("setup_s", setup, "s"),
        percentile_line("wall_s", walls, "s"),
        percentile_line("edges_per_s_per_iter", eps, "1/s"),
        f"jvm_peak_rss_mb: {metrics['jvm_peak_rss_mb'][0]:.1f} MB (VmHWM before stop)",
    ]
    lines.append("  warm-up passes: " + ", ".join(f"{w:.3f} s" for w in b.warmup_walls))
    for k in b.wl.kernels:
        lines.append(percentile_line(f"  call {k.name}", [
            c["seconds"] for p in passes for c in p["calls"] if c["kernel"] is k], "s"))
    return metrics, lines


def per_layer(b: Bench, setups, untraced, traced, ledger) -> dict:
    """Per-pass medians of the traced passes; counts summed over kernels.
    ``untraced`` holds the untraced pass blocks run before and after."""
    med = statistics.median
    slots = cores()
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (med(s for s, _ in setups), "s"),
        "sources.load_s": (med(l for _, l in setups), "s"),
        "sources.edges": (b.edges, "count"),
        "sources.input_mb": (b.input_mb, "MB"),
    }

    def per_pass(fn):
        return med(fn(p) for p in traced)

    def sum_groups(p, key, kernel=None):
        return sum(ledger.get(c["group"], {}).get(key, 0.0) for c in p["calls"]
                   if kernel is None or c["kernel"].name == kernel)

    m["algos.jobs"] = (per_pass(lambda p: sum_groups(p, "jobs")), "count")
    m["algos.stages"] = (per_pass(lambda p: sum_groups(p, "stages")), "count")
    m["algos.driver_gap_s"] = (per_pass(
        lambda p: p["wall"] - sum_groups(p, "executor_run_s") / slots), "s")
    m["algos.hits.jobs"] = (per_pass(lambda p: sum_groups(p, "jobs", "hits")), "count")
    for k in dict.fromkeys(k.name for w in b.W.WORKLOADS.values() for k in w.kernels):
        m[f"algos.{k}_s"] = (per_pass(lambda p: sum(
            c["seconds"] for c in p["calls"] if c["kernel"].name == k)), "s")
    pr = _calls(traced, "pagerank")
    iters = [t for c in pr for t in c["out"].pagerank.iter_seconds]
    m["algos.pagerank.prep_s"] = (
        med(c["seconds"] - c["out"].pagerank.loop_seconds for c in pr) if pr else 0.0, "s")
    m["algos.pagerank.iter_s.p50"] = (med(iters) if iters else 0.0, "s")
    m["algos.pagerank.iter_s.p90"] = (
        statistics.quantiles(iters, n=10)[-1] if len(iters) > 1 else 0.0, "s")
    m["algos.pagerank.iterations"] = (
        med(c["out"].pagerank.iterations for c in pr) if pr else 0, "count")
    for key in ("exchanges", "sorts", "broadcasts"):
        m[f"algos.plan.{key}"] = (per_pass(
            lambda p: sum(c.get("plan", {}).get(key, 0) for c in p["calls"])), "count")
    for key, unit in (("tasks", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                      ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                      ("spill_mb", "MB")):
        m[f"operators.{key}"] = (per_pass(lambda p: sum_groups(p, key)), unit)
    m["plans.checkpoint.snapshots"] = (per_pass(lambda p: p["ckpt"]["snapshots"]), "count")
    m["plans.checkpoint.snapshot_s"] = (per_pass(lambda p: p["ckpt"]["snapshot_s"]), "s")
    m["plans.checkpoint.written_mb"] = (per_pass(lambda p: p["ckpt"]["written_mb"]), "MB")
    self_s = b.tracer.self_seconds()
    n_traced = len(traced)
    for layer in ("session", "sources", "algos", "plans.checkpoint"):
        # session and sources ran once; algos and checkpoint per pass
        per = 1 if layer in ("session", "sources") else n_traced + 1
        m[f"trace.self.{layer}_s"] = (self_s.get(layer, 0.0) / per, "s")
    m["trace.overhead_s"] = (med(p["wall"] for p in traced) - statistics.mean(
        med(p["wall"] for p in block) for block in untraced), "s")
    m["trace.spans"] = (len(b.tracer.spans), "count")
    return m


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full",
        work: str | None = None, corrupt=None, kernels=None) -> dict:
    """Run one workload; returns the result object the CLI prints."""
    from perfbench.trace import Tracer

    h0 = host_sample()
    b = Bench(workload, seed, size, work, corrupt, kernels)
    lines: list[str] = []
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        print(f"[perfbench] {name} at {time.perf_counter() - t0:.1f}s",
              file=sys.stderr, flush=True)

    try:
        b.tracer = Tracer(b.run_id, enabled=False)
        b.prepare()
        phase("inputs and oracles ready")
        setups = [b.setup() for _ in range(SETUP_REPS)]
        b.verify_input()
        phase("set up")
        untraced = b.measure(seconds)
        phase(f"{len(untraced)} timed passes done")
        metrics, lines = end_to_end(b, setups, untraced)
        if trace:
            metrics = traced_run(b, setups, untraced)
            phase("traced passes done")
    finally:
        b.shutdown()
    phase("stopped")
    h1 = host_sample()
    noise = {"host.steal_s": h1["steal_s"] - h0["steal_s"],
             "host.load1_start": h0["load1"], "host.load1_end": h1["load1"]}
    lines.append(f"host: steal_s={noise['host.steal_s']:.2f} "
                 f"load1 start={noise['host.load1_start']:.2f} "
                 f"end={noise['host.load1_end']:.2f} (recorded, never used to drop runs)")
    failed = len(b.failures)
    lines.append(f"failed_ratio: {failed / max(b.attempted, 1):.4g} ratio "
                 f"({failed} of {b.attempted} checks failed)")
    lines += [f"FAILED {f}" for f in b.failures]
    if trace:
        metrics["host.steal_s"] = (noise["host.steal_s"], "s")
        metrics["host.load1"] = (noise["host.load1_end"], "load")
    record = {"run_id": b.run_id, "workload": workload, "seed": seed, "size": size,
              "trace": bool(trace), "host": noise, "attempted": b.attempted,
              "failures": b.failures, "metrics": metrics, "setups": setups,
              "warmup_s": b.warmup_walls, "pass_walls": [p["wall"] for p in untraced],
              "calls": [[c["kernel"].name, c["seconds"]] for p in untraced for c in p["calls"]]}
    os.makedirs(os.path.join(b.work, "runs"), exist_ok=True)
    with open(os.path.join(b.work, "runs", b.run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    return {
        "lines": lines,
        "result": {
            "correct": failed == 0,
            "attempted": b.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def traced_run(b: Bench, setups, untraced) -> dict:
    """Second session with tracing on; returns the per-layer metrics."""
    from perfbench.ledger import group_counters
    from perfbench.trace import Tracer, TracingCheckpointer

    b.tracer = Tracer(b.run_id, enabled=True)
    wraps = []

    def wrap(ck):
        w = TracingCheckpointer(ck, b.tracer)
        wraps.append(w)
        return w

    b.checkpointer_wrap = wrap
    log_dir = os.path.join(b.tmp, "eventlog")
    b.setup(event_log=log_dir)
    traced = []
    b.run_pass("tw")
    for i in range(len(untraced)):
        wraps.clear()
        p = b.run_pass(f"t{i}", fingerprint=True)
        p["ckpt"] = {"snapshots": sum(w.snapshots for w in wraps),
                     "snapshot_s": sum(w.snapshot_s for w in wraps),
                     "written_mb": sum(w.written_bytes for w in wraps) / (1 << 20)}
        traced.append(p)
    b.stop_session()  # flushes the event log
    ledger = group_counters(log_dir)
    os.makedirs(os.path.join(b.work, "runs"), exist_ok=True)
    b.tracer.dump(os.path.join(b.work, "runs", b.run_id + ".spans.json"))
    # untraced passes after the traced ones too, so that JIT warm-up
    # over the run does not count as (negative) tracing overhead
    tracer, b.tracer, b.checkpointer_wrap = b.tracer, Tracer(b.run_id, enabled=False), None
    b.setup()
    b.run_pass("aw")
    after = [b.run_pass(f"a{i}") for i in range(len(untraced))]
    b.tracer = tracer
    return per_layer(b, setups, (untraced, after), traced, ledger)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import combblas_spark  # noqa: F401  (fail fast without the program)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
