"""Closed-loop benchmark of the registered queries.

One client, this process, runs a workload's queries back to back on
``local[nproc]`` as ``session.py`` configures it: each query is
``REGISTRY[name].fn(spark, sf_dir)`` followed by an action. A run

1. sets up a fresh SparkSession;
2. makes a cold pass in the workload's order, whose action is
   ``collect()``: the outputs are hashed for the oracle check;
3. makes the workload's untimed warm-up passes, whose action, like
   that of every later pass, evaluates every output column and counts
   the rows (``evaluate``); the record shows whether pass CPU had
   levelled off by the last of them (``stats.levelled_off``) and the
   trend across the timed passes (``stats.relative_slope``);
4. makes timed passes until ``--seconds`` have elapsed and at least
   ``MIN_TIMED_PASSES`` were made;
5. stops the session;
6. checks every collected output against its DuckDB oracle with the
   row hash of ``tools/check_oracles.py``, and every row count against
   the oracle's.

The seed permutes the query order inside each warm pass and never
changes the data, which is the seed-42 testdata, copied under
``perfbench/data``.

    for w in news iterative; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 6 --trace 0
    done

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The run record (stamp, set-up, every pass and query execution
with its CPU, JVM and host readings, warm-up evidence, leaks, the
check, and in traced runs the spans) goes to ``.perfbench/results/``;
``compare.py`` compares two sets of them.

End-to-end metrics (``--trace 0``):
  setup_s      process start to a ready SparkSession
  pass_s       median wall time of the timed passes; the benchmark's
               cleanup between queries is not counted
  pass_cpu_s   median user+sys CPU-seconds of a timed pass, summed over
               the process tree: driver Python, driver JVM (its JIT
               compiler threads included), pyspark daemon and workers;
               cleanup is not counted
  peak_rss_mb  peak resident memory (VmHWM) of the driver JVM plus this
               Python process, read before the session stops; the JVM
               heap is fixed, so this moves with memory beyond it

The traced run (``--trace 1``) makes, after warm-up, untraced and
traced passes in the order U T T U and reports medians over the traced
passes. Two identities account for a traced pass's wall time:
  trace.pass_s = sum of span self times + trace.residual_s
  trace.pass_s = spark.busy_s (some Spark job runs) + driver.gap_s
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import asdict, dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

import procstat  # noqa: E402
import stats  # noqa: E402
from sparksetup import (  # noqa: E402
    DRIVER_MEMORY, Setup, java_options, start_session, stop_session,
)
from sparkstats import QueryStats, SparkStats, read_jvm  # noqa: E402
from spans import (  # noqa: E402
    PACKAGE, LayerTracer, Span, innermost, self_times, union_length,
)


@dataclass(frozen=True)
class Workload:
    sf: str
    queries: tuple[str, ...]
    warmup_passes: int
    """Untimed passes after the cold one."""


# Two workloads, one per side of the engine's cost split: the data
# path, where executors and Python workers do the work, and the driver
# loop, where plan building and Spark-job scheduling do. A change to
# one side should move one workload and leave the other alone. Each
# layer the benchmark reports has a query on one of them.
WORKLOADS = {
    # The paper's DAG from crawl to similarity search, without its LDA
    # fit: sources, functions (cleaning, tokens, sentiment), streaming
    # state stores and the quality gate, similarity. A few Spark jobs
    # per query, whose tasks and Python workers do the work.
    "news": Workload("sf0.01", (
        "s4_html_extract",
        "m6_m7_sentiment_scores",
        "streaming_quality_gate",
        "ann_topk_cosine",
    ), warmup_passes=3),
    # Driver-loop operators on tiny data, one per operator layer: the
    # LDA fit and its UMass coherence, graph shortest paths over
    # relational joins, naive Bayes k-fold evaluation over training-data
    # folds, suffix-array n-gram counts, and near-duplicate clusters by
    # MinHash LSH and connected components. Plan building and tens of
    # Spark jobs per query. No warm-up pass: a pass takes 12-16 s and
    # compiles 400-500 codegen classes, the run has room for the cold
    # pass and two timed ones only.
    "iterative": Workload("sf0.001", (
        "m3_coherence_umass",
        "shortest_paths_suppliers",
        "nb_kfold_eval",
        "kn_perplexity_buckets",
        "dedup_cc_clusters",
    ), warmup_passes=0),
}

# Pass CPU falls steeply over the cold pass and the first warm pass;
# after that the JIT keeps compiling for tens of passes at a slowly
# falling rate (and on iterative, where each pass brings new codegen
# classes, a steep one), which no run can wait out. The warm-up count
# is fixed per workload, not chosen by a plateau test, so that every
# run times the same stage of that tail.
MIN_TIMED_PASSES = 2

# Layers reported by the traced run, named after the package modules
# (spans.layer_of): those the workloads' queries call. Spans of other
# modules stay in the record.
LAYERS = (
    "catalog",
    "functions",
    "sources",
    "streaming",
    "operators.topics",
    "operators.coherence",
    "operators.similarity",
    "operators.textstats",
    "operators.graph",
    "operators.relational",
    "operators.classify",
    "operators.traindata",
    "operators.suffixarray",
    "operators.dedup",
)


@dataclass
class Execution:
    """One query execution: timings, outcome, costs, resources left."""

    query: str
    pass_no: int
    id: int
    build_s: float = 0.0
    action_s: float = 0.0
    wall_s: float = 0.0
    cleanup_s: float = 0.0
    rows: int | None = None
    error: str | None = None
    persisted_rdds_left: int = 0
    tmp_dirs_leaked: int = 0
    cpu: dict[str, float] = field(default_factory=dict)
    """procstat.TreeCpu.minus over the execution, cleanup left out."""
    jvm: dict[str, float] = field(default_factory=dict)
    """sparkstats.JvmCounters.minus over the execution."""
    stats: QueryStats | None = None
    start: float = 0.0  # perf_counter at the build start


@dataclass
class Check:
    """One query's output against its DuckDB oracle."""

    query: str
    rows: int | None = None
    digest: str | None = None
    oracle_rows: int | None = None
    error: str | None = None


@dataclass
class Pass:
    no: int
    kind: str  # cold, warmup, timed or traced
    order: list[str]
    executions: list[Execution] = field(default_factory=list)
    spans: tuple[int, int] = (0, 0)  # this pass's slice of the tracer's spans

    @property
    def wall_s(self) -> float:
        return sum(e.wall_s for e in self.executions)

    def total(self, reading: str, key: str) -> float:
        return sum(getattr(e, reading).get(key, 0.0) for e in self.executions)

    @property
    def cpu_s(self) -> float:
        return self.total("cpu", "cpu_s")

    def summary(self) -> dict:
        out = {"no": self.no, "kind": self.kind, "wall_s": self.wall_s}
        for k in ("cpu_s", "driver_cpu_s", "jvm_cpu_s", "jit_cpu_s",
                  "workers_cpu_s", "steal_s", "other_cpu_s"):
            out[k] = self.total("cpu", k)
        for k in ("jit_s", "gc_s", "codegen_compiles"):
            out[k] = self.total("jvm", k)
        return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def evaluate(df) -> int:
    """Compute every row and column of ``df``, as ``collect()`` would,
    without bringing the rows to the driver, and return the row count.

    ``count()`` would not do: the optimizer prunes every column the
    count does not need, so a query that ends in a projection would
    skip its expressions. A write to the ``noop`` sink keeps them all;
    an observed metric counts the rows on the way."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    df.write.format("noop").mode("overwrite").save()
    return obs.get["rows"]


def digest(paths: list[Path]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def load_check_oracles():
    """The oracle checker's canonical row hash (tools/check_oracles.py)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", ROOT / "tools" / "check_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = str(HERE / "data" / self.workload.sf)
        self.tmp = work / "tmp"
        self.tracer = LayerTracer() if args.trace else None
        self.passes: list[Pass] = []
        self.n_exec = 0
        self.setup: Setup | None = None
        self.checks: dict[str, Check] = {}
        self.spark = None
        self.t_wall0 = time.time()
        self.host_start = procstat.read_host()

    # -- set-up ---------------------------------------------------------

    def start(self) -> None:
        self.spark, self.registry, self.setup = start_session()
        self.oracles = load_check_oracles()
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.stats = SparkStats(self.spark)
        self.cores = self.sc.defaultParallelism

    def stop(self) -> None:
        stop_session(self.spark)
        self.spark = None

    # -- the loop -------------------------------------------------------

    def order(self, pass_no: int) -> list[str]:
        """The cold pass runs the queries in the workload's order, as a
        scheduled DAG would; the seed permutes every warm pass."""
        names = list(self.workload.queries)
        if pass_no:
            random.Random(f"{self.args.seed}/{pass_no}").shuffle(names)
        return names

    def run_pass(self, kind: str) -> Pass:
        p = Pass(len(self.passes), kind, self.order(len(self.passes)))
        traced = kind == "traced"
        if traced:
            self.tracer.install()
            first = len(self.tracer.spans)
        try:
            for name in p.order:
                p.executions.append(self.run_query(name, p.no, traced, kind == "cold"))
        finally:
            if traced:
                self.tracer.uninstall()
                p.spans = (first, len(self.tracer.spans))
        self.passes.append(p)
        return p

    def run_query(
        self, name: str, pass_no: int, traced: bool, collect: bool
    ) -> Execution:
        """Execute one query and clean up after it. With ``collect``,
        the action collects the output and hashes it for the check."""
        ex = Execution(name, pass_no, self.n_exec)
        self.n_exec += 1
        try:
            try:
                self.execute(ex, traced, collect)
            finally:
                self.cleanup(ex)
        except Exception:  # a failing query must not end the run
            ex.error = traceback.format_exc()
            print(f"# {name} pass {pass_no} FAILED:\n{ex.error}", file=sys.stderr)
        return ex

    def execute(self, ex: Execution, traced: bool, collect: bool) -> None:
        fn = self.registry[ex.query].fn
        if traced:
            first_job = self.stats.next_job_id()
            first_span = len(self.tracer.spans)
        jvm0 = read_jvm(self.spark._jvm)
        cpu0 = procstat.read_tree(os.getpid(), self.jvm_pid)
        ex.start = t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.query_span(ex.id, "query.build", "query.build"):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with self.tracer.query_span(ex.id, "query.action", "query.action"):
                    ex.rows = evaluate(df)
            else:
                df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                ex.rows = self.collect_output(ex.query, df) if collect else evaluate(df)
            t2 = time.perf_counter()
            ex.build_s, ex.action_s = t1 - t0, t2 - t1
        finally:
            ex.wall_s = time.perf_counter() - t0
            ex.cpu = procstat.read_tree(os.getpid(), self.jvm_pid).minus(cpu0)
            ex.jvm = read_jvm(self.spark._jvm).minus(jvm0)
        if traced:
            ex.stats = self.stats.read(first_job, self.stats.next_job_id())
            own = self.tracer.spans[first_span:]
            for jid, submitted, _ in ex.stats.jobs:
                if submitted is None:
                    continue
                sp = innermost(own, submitted - self.tracer.epoch_offset)
                if sp is not None:
                    sp.jobs.append(jid)

    def cleanup(self, ex: Execution) -> None:
        """Count what the query left behind, then release it: persisted
        RDDs, cached tables, broadcast blocks and the temp dirs it made
        (only this run's temp dir is touched)."""
        t0 = time.perf_counter()
        jsc = self.sc._jsc
        ex.persisted_rdds_left = jsc.getPersistentRDDs().size()
        left = list(self.tmp.iterdir())
        ex.tmp_dirs_leaked = len(left)
        for path in left:
            if path.is_dir():
                shutil.rmtree(path)
            else:
                path.unlink()
        self.spark.catalog.clearCache()
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        self.sc._jvm.System.gc()
        ex.cleanup_s = time.perf_counter() - t0

    def run(self) -> dict:
        self.start()
        self.run_pass("cold")
        for _ in range(self.workload.warmup_passes):
            self.run_pass("warmup")
        t_start = time.perf_counter()
        timed: list[Pass] = []
        traced: list[Pass] = []
        # The traced run makes untraced, traced, traced, untraced passes
        # (ABBA), so that any drift in speed favours neither kind.
        need = 2 if self.tracer else MIN_TIMED_PASSES
        while (
            time.perf_counter() - t_start < self.args.seconds
            or len(timed) < need
            or (self.tracer and len(traced) < need)
        ):
            on = bool(self.tracer) and (len(timed) + len(traced)) % 4 in (1, 2)
            if on:
                traced.append(self.run_pass("traced"))
            else:
                timed.append(self.run_pass("timed"))
        peak_rss_mb = procstat.vm_hwm_mb(self.jvm_pid) + procstat.vm_hwm_mb("self")
        self.stop()
        self.check()
        return self.report(timed, traced, peak_rss_mb)

    # -- output check ----------------------------------------------------

    def collect_output(self, name: str, df) -> int:
        rows = [tuple(r) for r in df.collect()]
        self.checks[name] = Check(
            name, len(rows), self.oracles.table_hash(df.columns, rows)
        )
        return len(rows)

    def check(self) -> None:
        """Compare each collected output with its DuckDB oracle by row
        count and order-insensitive value hash."""
        import duckdb

        co = self.oracles
        con = duckdb.connect()
        for path in sorted(Path(self.sf_dir).glob("*.parquet")):
            con.sql(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
        for name in self.workload.queries:
            c = self.checks.setdefault(name, Check(name, error="output not collected"))
            try:
                pdf = con.sql(self.registry[name].sql).df()
            except duckdb.Error:
                c.error = traceback.format_exc()
            else:
                drows = list(pdf.itertuples(index=False, name=None))
                c.oracle_rows = len(drows)
                if c.error is None and c.digest != co.table_hash(
                    list(pdf.columns), drows
                ):
                    c.error = f"output differs from the oracle: {c.rows} rows vs {len(drows)}"
            if c.error:
                print(f"# {name} check FAILED: {c.error}", file=sys.stderr)
        con.close()

    # -- metrics --------------------------------------------------------

    def report(self, timed: list[Pass], traced: list[Pass], peak_rss_mb: float) -> dict:
        executions = [e for p in self.passes for e in p.executions]
        for e in executions:
            expected = self.checks[e.query].oracle_rows
            if e.error is None and e.rows != expected:
                e.error = f"count {e.rows} != oracle rows {expected}"
        everything = executions + list(self.checks.values())
        failed = sum(e.error is not None for e in everything)
        pass_s = statistics.median(p.wall_s for p in timed)
        if self.tracer:
            metrics = self.layer_metrics(traced, pass_s)
        else:
            metrics = {
                "setup_s": (self.setup.setup_s, "s"),
                "pass_s": (pass_s, "s"),
                "pass_cpu_s": (statistics.median(p.cpu_s for p in timed), "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        print(f"# {self.args.workload}: failed={failed}/{len(everything)}  " + "  ".join(
            f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items()
        ))
        return {
            "correct": failed == 0,
            "attempted": len(everything),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def pass_layers(self, p: Pass) -> dict[str, float]:
        """Per-layer totals of one traced pass."""
        spans: list[Span] = self.tracer.spans
        selfs = self_times(spans, *p.spans)
        out: dict[str, float] = {}
        for layer in LAYERS:
            out[f"{layer}.calls"] = out[f"{layer}.self_s"] = out[f"{layer}.jobs"] = 0
        for i, s in selfs.items():
            sp = spans[i]
            if sp.layer in LAYERS:
                out[f"{sp.layer}.calls"] += 1
                out[f"{sp.layer}.self_s"] += s
                out[f"{sp.layer}.jobs"] += len(sp.jobs)
        busy = 0.0
        execs = p.executions
        for e in execs:
            lo = e.start + self.tracer.epoch_offset
            hi = lo + e.wall_s
            running = [
                (max(sub, lo), min(done or hi, hi))
                for _, sub, done in (e.stats or QueryStats()).jobs
                if sub is not None
            ]
            busy += union_length([r for r in running if r[1] > r[0]])
        qs = [e.stats or QueryStats() for e in execs]
        wall = p.wall_s
        build_s = sum(e.build_s for e in execs)
        summary = p.summary()
        out.update({
            "query.build_s": build_s,
            "query.build_self_s": sum(
                s for i, s in selfs.items() if spans[i].layer == "query.build"
            ),
            "query.action_s": sum(e.action_s for e in execs),
            "query.build_share": build_s / wall,
            "spark.jobs": sum(len(s.jobs) for s in qs),
            "spark.jobs_per_query": sum(len(s.jobs) for s in qs) / len(execs),
            "spark.stages": sum(s.stages for s in qs),
            "spark.tasks": sum(s.tasks for s in qs),
            "spark.busy_s": busy,
            "driver.gap_s": wall - busy,
            "spark.executor_run_s": sum(s.executor_run_s for s in qs),
            "spark.executor_cpu_s": sum(s.executor_cpu_s for s in qs),
            "spark.core_util": sum(s.executor_run_s for s in qs) / (wall * self.cores),
            "spark.shuffle_read_mb": sum(s.shuffle_read_mb for s in qs),
            "spark.shuffle_write_mb": sum(s.shuffle_write_mb for s in qs),
            "spark.input_mb": sum(s.input_mb for s in qs),
            "jvm.jit_s": summary["jit_s"],
            "jvm.jit_cpu_s": summary["jit_cpu_s"],
            "jvm.gc_s": summary["gc_s"],
            "spark.gc_s": sum(s.gc_s for s in qs),
            "codegen.compiles": summary["codegen_compiles"],
            "proc.driver_cpu_s": summary["driver_cpu_s"],
            "proc.jvm_cpu_s": summary["jvm_cpu_s"],
            "proc.workers_cpu_s": summary["workers_cpu_s"],
            "proc.workers": max(e.cpu.get("workers", 0) for e in execs),
            "host.steal_s": summary["steal_s"],
            "host.other_cpu_s": summary["other_cpu_s"],
            "resources.persisted_rdds_left": sum(e.persisted_rdds_left for e in execs),
            "resources.tmp_dirs_leaked": sum(e.tmp_dirs_leaked for e in execs),
            "bench.cleanup_s": sum(e.cleanup_s for e in execs),
            "trace.pass_s": wall,
            "trace.residual_s": wall - sum(selfs.values()),
        })
        return out

    def layer_metrics(self, traced: list[Pass], pass_s: float) -> dict:
        per_pass = [self.pass_layers(p) for p in traced]
        out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
        out["trace.overhead"] = out["trace.pass_s"] / pass_s
        setup = self.setup
        out["session.import_s"] = setup.import_s
        out["session.jvm_start_s"] = setup.jvm_start_s
        out["session.jit_s"] = setup.jit_s
        out["jvm.warmup_s"] = self.passes[0].wall_s
        return {k: (v, unit_of(k)) for k, v in out.items()}

    # -- record ---------------------------------------------------------

    def warmup_evidence(self) -> dict:
        """Whether the timed passes are past warm-up: how many warm-up
        passes were made, whether pass CPU had stopped falling by the
        last of them, and the trend of wall time, CPU and JIT time across
        the passes after them."""
        warm = [p.summary() for p in self.passes if p.kind == "warmup"]
        timed = [p.summary() for p in self.passes if p.kind in ("timed", "traced")]
        return {
            "warmup_passes": len(warm),
            "levelled_off": stats.levelled_off([w["cpu_s"] for w in warm]),
            "timed_relative_slope": {
                k: stats.relative_slope([t[k] for t in timed])
                for k in ("wall_s", "cpu_s", "jit_s", "jit_cpu_s")
            },
        }

    def host_totals(self) -> dict:
        """The run's wall time, and the steal and the CPU used outside
        this run's process tree over it (every child has exited now)."""
        now = procstat.read_host()
        t = os.times()
        own = t.user + t.system + t.children_user + t.children_system
        return {
            "wall_s": time.time() - self.t_wall0,
            "steal_s": (now.steal_ticks - self.host_start.steal_ticks) / procstat.TICK,
            "other_cpu_s": (now.busy_ticks - self.host_start.busy_ticks)
            / procstat.TICK - own,
        }

    def stamp(self) -> dict:
        import pyspark

        data = sorted(Path(self.sf_dir).glob("*.parquet"))
        pkg = sorted((ROOT / PACKAGE).rglob("*.py"))
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "queries": list(self.workload.queries),
            "sf_dir": os.path.relpath(self.sf_dir, ROOT),
            "data_sha256": digest(data),
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_java_options": java_options(),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "package_sha256": digest(pkg),
            "started": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(self.t_wall0)),
        }

    def record(self, result: dict) -> Path:
        out_dir = ROOT / ".perfbench" / "results"
        out_dir.mkdir(parents=True, exist_ok=True)
        a = self.args
        path = out_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}.json"
        # what each query left behind, summed over the run's executions
        leaks: dict[str, dict[str, int]] = {}
        for p in self.passes:
            for e in p.executions:
                if e.tmp_dirs_leaked or e.persisted_rdds_left:
                    q = leaks.setdefault(e.query, {"tmp_dirs": 0, "persisted_rdds": 0})
                    q["tmp_dirs"] += e.tmp_dirs_leaked
                    q["persisted_rdds"] += e.persisted_rdds_left
        rec = {
            "stamp": self.stamp(),
            "host": self.host_totals(),
            "setup": asdict(self.setup),
            "warmup": self.warmup_evidence(),
            "leaks_by_query": leaks,
            "passes": [
                {**p.summary(), "order": p.order,
                 "executions": [asdict(e) for e in p.executions]}
                for p in self.passes
            ],
            "checks": [asdict(c) for c in self.checks.values()],
            "result": result,
        }
        if self.tracer:
            rec["epoch_offset"] = self.tracer.epoch_offset
            rec["spans"] = [asdict(s) for s in self.tracer.spans]
        path.write_text(json.dumps(rec, indent=1))
        return path


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric in ("spark.core_util", "trace.overhead", "query.build_share"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=ROOT / ".perfbench"))
    (work / "tmp").mkdir()
    (work / "spark").mkdir()
    # Everything the run writes stays in the checkout:
    # the package's temp dirs go to a dir of this run's own, which
    # makes every entry in it a leak of the query that just ran.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # Set, not defaulted: the heap is pre-touched, so an inherited
    # value (session.py's own default is 16g) could exceed the box.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    tempfile.tempdir = None  # re-read TMPDIR
    bench = Bench(args, work)
    try:
        try:
            result = bench.run()
        finally:
            if bench.spark is not None:
                bench.stop()
        path = bench.record(result)
        print(json.dumps({"record": os.path.relpath(path, ROOT)}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
