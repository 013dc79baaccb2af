"""Seeded end-to-end benchmark of the registry, with an optional traced run.

    python3 perfbench/run.py --workload olap_llm --seed 1 --seconds 3 --trace 0

One closed-loop caller runs a workload's registry entries back to back on
``local[k]`` (k = min(4, nproc)), forcing each with the ``noop`` sink as
``bench.py`` does. A run:

1. generates the workload's corpus with ``tools/gen_fixtures.py --seed S``
   into a directory of its own under ``perfbench/.work``, which is also the
   working directory of the run (a foreign cwd for the engine);
2. sets up three times — ``get_spark()``, registry import and one warm-up
   pass; the first set-up starts at process start and its pass collects
   every result and checks it against the entry's DuckDB oracle twin, the
   other two drop and re-import every engine module and call
   ``get_spark()`` again, which returns the live session;
3. measures whole passes for ``--seconds`` seconds, and at least the
   workload's pass count.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it
splits the measuring time into untraced passes and, after restarting the
session with Spark's event log on and one warm-up pass, passes with spans
around every public function of the layer modules, and prints the
per-layer metrics. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. The full record of a run goes to ``perfbench/results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from reduce import (  # noqa: E402
    Call,
    charged_s,
    layer_self_times,
    outermost_s,
    reduce_event_log,
    summarize,
)
from tracing import PACKAGE, Recorder  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

#: Cores for ``local[k]``; a fixed cap keeps runs on wider hosts comparable.
MAX_CORES = 4
SETUPS = 3
#: Pass times on this engine keep falling for many passes (JIT), so the
#: warm-up is the fixed three set-up passes: an adaptive count made set-up
#: time bimodal. The record says whether the last warm-up pass was within
#: SETTLE_FRAC of the one before it.
SETTLE_FRAC = 0.10

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "failed_frac": "1",
    "oracle_mismatch": "count",
    "peak_rss_mb": "MB",
}
#: End-to-end metrics that can read 0 are printed but left out of the JSON
#: result; ``failed`` and ``correct`` carry them there.
NOT_IN_RESULT = {"failed_frac", "oracle_mismatch"}

#: Per-layer metrics of a traced run. The flag marks the ones in the JSON
#: result: the counts, and the times every workload exercises, so no time
#: in it reads a constant zero.
LAYER_METRICS = {
    "session.get_spark_s": ("s", True),
    "session.warmup_s": ("s", True),
    "session.ship_package_s": ("s", False),
    "registry.build_s": ("s", True),
    "registry.action_s": ("s", True),
    "registry.failed": ("count", True),
    "io.load_table.calls": ("count", True),
    "spark.input_rows": ("count", True),
    "spark.input_bytes": ("B", True),
    "spark.shuffle_write_bytes": ("B", True),
    "spark.shuffle_read_bytes": ("B", True),
    "spark.spill_bytes": ("B", False),
    "ckpt.calls": ("count", True),
    "ckpt.s": ("s", False),
    "ckpt.jobs_per_call": ("jobs/call", False),
    "operators.pagerank_s": ("s", False),
    "operators.logreg_gd_s": ("s", False),
    "operators.kmeans_lloyd_s": ("s", False),
    "operators.connected_components_s": ("s", False),
    "spark.jobs": ("count", True),
    "spark.stages": ("count", True),
    "spark.tasks": ("count", True),
    "driver.gap_frac": ("1", True),
    "exec.run_s": ("s", True),
    "exec.cpu_s": ("s", True),
    "exec.gc_s": ("s", False),
    "python.stage_run_s": ("s", False),
    "operators.pca.covariance_matrix_s": ("s", False),
    "medallion.run_pipeline_s": ("s", False),
    "medallion.write_s": ("s", False),
    "io.sink.calls": ("count", True),
    "io.sink.s": ("s", False),
    "tablelog.commit_s": ("s", False),
    "streaming.run_s": ("s", False),
    "sink.output_bytes": ("B", True),
    "sink.files": ("count", True),
    "spark.tasks_failed": ("count", True),
    "trace.overhead_s": ("s", True),
    "trace.overhead_frac": ("1", True),
}

SPAN_GROUPS = {
    "session.ship_package_s": {"session.ship_package"},
    "ckpt": {"io.checkpoint_partitioned"},
    "io.load_table": {"io.load_table"},
    "operators.pagerank_s": {"operators.pagerank.pagerank"},
    "operators.logreg_gd_s": {"operators.logreg.logreg_gd"},
    "operators.kmeans_lloyd_s": {"operators.kmeans.kmeans_lloyd"},
    "operators.connected_components_s": {"operators.components.connected_components"},
    "operators.pca.covariance_matrix_s": {"operators.pca.covariance_matrix"},
    "medallion.run_pipeline_s": {"medallion.run_pipeline"},
    "io.sink": {"io.sink_parquet", "io.sink_partitioned", "io.sink_jdbc_batch"},
    "tablelog.commit_s": {"operators.tablelog.commit"},
    "streaming.run_s": {
        "streaming.run_to_memory",
        "streaming.run_foreach_batch_parquet",
        "streaming.scoped_stream_parallelism",
    },
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def norm(p):
    """Order-insensitive form of a result, as ``tools/driver_sim.py`` builds
    it: columns by name, rows sorted on every column, NULLs first."""
    p = p.reindex(sorted(p.columns), axis=1)
    if len(p):
        p = p.sort_values(by=list(p.columns), na_position="first", kind="mergesort")
    return p.reset_index(drop=True)


def host_record() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "python": sys.version.split()[0],
    }


def descendants(pid: int) -> list[int]:
    """Process ids below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """One run of one workload: owns the Spark session, the corpus and the
    spans, and releases all of them in :meth:`close`."""

    def __init__(self, w: Workload, corpus: str, work: str, cores: int) -> None:
        self.w = w
        self.corpus = corpus
        self.work = work
        self.cores = cores
        self.rec = Recorder()
        self.spark = None
        self.gateway = None
        self.queries: dict = {}
        self.oracles: dict = {}

    # ------------------------------------------------------------- session

    def conf(self, event_log: bool) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -Xmn1g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_session(self, event_log: bool = False) -> None:
        """Call ``get_spark()`` and import the registry. Every engine module
        is dropped first, so each set-up pays the registry import again;
        ``get_spark()`` returns the live session, unless ``event_log`` asks
        for a new one with Spark's event log on."""
        if event_log and self.spark is not None:
            self.spark.stop()
            self.spark = None
        for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
            del sys.modules[name]
        from projetos_etl_spark.session import get_spark

        with self.rec.span("session.get_spark", "session"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.w.name}",
                cpus=self.cores,
                extra_conf=self.conf(event_log),
            )
        if self.gateway is None:
            self.gateway = self.spark.sparkContext._gateway
        with self.rec.span("registry.import", "registry"):
            from projetos_etl_spark.registry import all_oracle_sql, all_queries

            self.queries, self.oracles = all_queries(), all_oracle_sql()
        missing = [q for q in self.w.queries if q not in self.queries]
        if missing:
            raise KeyError(f"registry has no entries {missing}")

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop Spark and its JVM, and wait until the JVM and every process
        below it (Python workers) have ended."""
        from pyspark import SparkContext

        self.gateway = self.gateway or SparkContext._gateway
        if self.gateway is None:
            return
        proc = self.gateway.proc
        below = descendants(proc.pid)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self.gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 15
        for pid in below:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)
        self.gateway = None

    # -------------------------------------------------------------- passes

    def call(self, name: str, tag: str, traced: bool) -> tuple[Call, float, float]:
        """Build and force one entry; returns the call and its window."""
        span = self.rec.span if traced else (lambda *a, **k: nullcontext())
        if traced:
            self.rec.trace_id = f"{tag}:{name}"
            self.spark.sparkContext.setJobDescription(f"perfbench {self.rec.trace_id}")
        t0 = time.time()
        t1 = None
        error = None
        try:
            with span("registry.call", "registry", query=name):
                with span("registry.build", "registry.build", query=name):
                    df = self.queries[name](self.spark, self.corpus)
                t1 = time.time()
                with span("registry.action", "registry.action", query=name):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failed call is counted, the pass goes on
            lines = str(e).strip().splitlines()
            error = f"{type(e).__name__}: {lines[0][:300] if lines else ''}"
        t2 = time.time()
        self.rec.trace_id = None
        if t1 is None:
            return Call(name, t2 - t0, 0.0, error), t0, t2
        return Call(name, t1 - t0, t2 - t1, error), t0, t2

    def run_pass(self, tag: str, traced: bool = False) -> tuple[list[Call], list]:
        calls, windows = [], []
        for name in self.w.queries:
            c, t0, t2 = self.call(name, tag, traced)
            calls.append(c)
            windows.append((f"{tag}:{name}", t0, t2))
        return calls, windows

    def oracle_pass(self) -> tuple[float, dict]:
        """Warm-up pass that collects every result and compares it with the
        entry's DuckDB twin. Returns the seconds spent in DuckDB and the
        comparison, so set-up time can leave the check out."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.corpus, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        check_s = 0.0
        out = {"matched": [], "mismatched": {}, "failed": {}, "unchecked": []}
        conf = self.spark.conf
        arrow = conf.get("spark.sql.execution.arrow.pyspark.enabled")
        for name in self.w.queries:
            # tools/driver_sim.py collects without Arrow; so does the check.
            conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
            try:
                got = norm(self.queries[name](self.spark, self.corpus).toPandas())
            except Exception as e:  # noqa: BLE001 — a failed entry is reported, not fatal
                out["failed"][name] = f"{type(e).__name__}"
                continue
            finally:
                conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
            if name not in self.oracles:
                out["unchecked"].append(name)
                continue
            t0 = time.time()
            want = norm(con.sql(self.oracles[name]).df())
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
                out["matched"].append(name)
            except AssertionError as e:
                out["mismatched"][name] = str(e)[:300]
            check_s += time.time() - t0
        con.close()
        return check_s, out

    # ----------------------------------------------------------------- run

    def setup(self, gen_s: float) -> dict:
        """Three set-ups, each ending with one warm-up pass."""
        setups, warm = [], []
        oracle = None
        for i in range(SETUPS):
            t0 = T_PROCESS if i == 0 else time.time()
            self.start_session()
            w0 = time.time()
            with self.rec.span("session.warmup", "session"):
                if i == 0:
                    check_s, oracle = self.oracle_pass()
                else:
                    check_s = 0.0
                    self.run_pass(f"warm{i}")
            warm.append(time.time() - w0 - check_s)
            setups.append(time.time() - t0 - check_s - (gen_s if i == 0 else 0.0))
        session_spans = [s for s in self.rec.spans if s["name"] == "session.get_spark"]
        return {
            "setups_s": setups,
            "warmup_passes_s": warm,
            "settled": warm[-1] >= (1 - SETTLE_FRAC) * warm[-2],
            "get_spark_s": [s["end"] - s["start"] for s in session_spans],
            "oracle": oracle,
        }

    def measure(self, seconds: float, traced: bool, tag: str, min_passes: int = 1) -> tuple[list, list]:
        """Whole passes until ``seconds`` have passed, and at least
        ``min_passes``."""
        passes, windows = [], []
        t0 = time.time()
        while len(passes) < min_passes or time.time() - t0 < seconds:
            calls, win = self.run_pass(f"{tag}{len(passes)}", traced)
            passes.append(calls)
            windows.extend(win)
        return passes, windows


def table_stats(corpus: str) -> dict:
    import pyarrow.parquet as pq

    return {
        t: {
            "rows": pq.ParquetFile(os.path.join(corpus, f"{t}.parquet")).metadata.num_rows,
            "bytes": os.path.getsize(os.path.join(corpus, f"{t}.parquet")),
        }
        for t in TABLES
    }


def layer_metrics(bench: Bench, traced_passes, untraced_passes, windows, setup, events) -> tuple[dict, dict]:
    """Per-layer metrics per traced pass, and the per-query breakdown."""
    w = bench.w
    n = len(traced_passes)
    spans = [s for s in bench.rec.spans if s["trace"] is not None]
    ev = reduce_event_log(events, windows)
    tot = {k: sum(c[k] for c in ev.values()) for k in next(iter(ev.values()))}
    grp = {k: outermost_s(spans, names) for k, names in SPAN_GROUPS.items()}
    ckpt_windows = [
        (str(s["id"]), s["start"], s["end"])
        for s in spans
        if s["name"] in SPAN_GROUPS["ckpt"]
    ]
    ckpt_jobs = sum(c["jobs"] for c in reduce_event_log(events, ckpt_windows).values())
    traced_s = statistics.median(sum(charged_s(c, w.limit_s) for c in p) for p in traced_passes)
    untraced_s = statistics.median(sum(charged_s(c, w.limit_s) for c in p) for p in untraced_passes)
    wall = sum(e - s for _, s, e in windows)

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    m = {
        "session.get_spark_s": setup["get_spark_s"][0],
        "session.warmup_s": statistics.median(setup["warmup_passes_s"][:SETUPS]),
        "session.ship_package_s": grp["session.ship_package_s"][1] / n,
        "registry.build_s": span_s("registry.build") / n,
        "registry.action_s": span_s("registry.action") / n,
        "registry.failed": sum(c.error is not None for p in traced_passes for c in p) / n,
        "io.load_table.calls": grp["io.load_table"][0] / n,
        "spark.input_rows": tot["input_rows"] / n,
        "spark.input_bytes": tot["input_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "ckpt.calls": grp["ckpt"][0] / n,
        "ckpt.s": grp["ckpt"][1] / n,
        "ckpt.jobs_per_call": ckpt_jobs / grp["ckpt"][0] if grp["ckpt"][0] else 0.0,
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "driver.gap_frac": 1.0 - tot["busy_s"] / wall,
        "exec.run_s": tot["exec_run_s"] / n,
        "exec.cpu_s": tot["exec_cpu_s"] / n,
        "exec.gc_s": tot["exec_gc_s"] / n,
        "python.stage_run_s": tot["python_stage_run_s"] / n,
        "medallion.write_s": sum(s.get("write_s", 0.0) for s in spans) / n,
        "io.sink.calls": grp["io.sink"][0] / n,
        "io.sink.s": grp["io.sink"][1] / n,
        "sink.output_bytes": tot["output_bytes"] / n,
        "sink.files": tot["files"] / n,
        "spark.tasks_failed": tot["tasks_failed"] / n,
        "trace.overhead_s": traced_s - untraced_s,
        "trace.overhead_frac": (traced_s - untraced_s) / untraced_s,
    }
    for k in (
        "operators.pagerank_s", "operators.logreg_gd_s", "operators.kmeans_lloyd_s",
        "operators.connected_components_s", "operators.pca.covariance_matrix_s",
        "medallion.run_pipeline_s", "tablelog.commit_s", "streaming.run_s",
    ):
        m[k] = grp[k][1] / n
    per_query = {}
    for q in w.queries:
        keys = [k for k in ev if k.endswith(f":{q}")]
        qspans = [s for s in spans if s["trace"] in keys]
        per_query[q] = {
            "build_s": sum(s["end"] - s["start"] for s in qspans if s["name"] == "registry.build") / n,
            "action_s": sum(s["end"] - s["start"] for s in qspans if s["name"] == "registry.action") / n,
            **{f"spark.{c}": sum(ev[k][c] for k in keys) / n for c in ev[keys[0]]},
            "self_s": {k: v / n for k, v in layer_self_times(qspans).items()},
        }
    self_s = {k: v / n for k, v in sorted(layer_self_times(spans).items())}
    return m, {"per_query": per_query, "layer_self_s": self_s, "traced_pass_s": traced_s, "untraced_pass_s": untraced_s}


def fmt(v: float) -> str:
    return f"{v:.4f}" if abs(v) < 1e5 else f"{v:.4g}"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    gen = os.path.join(ROOT, "tools", "gen_fixtures.py")
    if not (os.path.isfile(gen) and os.path.isdir(os.path.join(ROOT, PACKAGE))):
        print(f"perfbench: no {PACKAGE} package or tools/gen_fixtures.py under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    for d in ("tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Everything the engine, Spark and the Python workers spill stays in
    # the run's own directory, which is also the (foreign) working dir; no
    # JVM writes its perf-data file to the system temp directory.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} -XX:-UsePerfData".strip()
    os.chdir(work)
    sys.path.insert(0, ROOT)
    try:
        return run(args, gen, work)
    finally:
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, gen: str, work: str) -> int:
    w = WORKLOADS[args.workload]
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    corpus = os.path.join(work, "corpus")
    load_start = os.getloadavg()

    g0 = time.time()
    subprocess.run(
        [sys.executable, gen, "--seed", str(args.seed), "--scale", str(w.scale), "--out", corpus],
        check=True, stdout=subprocess.DEVNULL,
    )
    gen_s = time.time() - g0

    bench = Bench(w, corpus, work, cores)
    try:
        setup = bench.setup(gen_s)
        oracle = setup["oracle"]
        if args.trace:
            untraced, _ = bench.measure(args.seconds / 2, False, "u", w.passes)
            bench.start_session(event_log=True)
            bench.run_pass("warm-traced")
            bench.rec.install()
            passes, windows = bench.measure(args.seconds / 2, True, "t")
            bench.rec.uninstall()
        else:
            passes, windows = bench.measure(args.seconds, False, "m", w.passes)
        peak_rss = vm_hwm_mb(bench.jvm_pid())
        versions = {
            "spark": bench.spark.version,
            "java": bench.spark._jvm.java.lang.System.getProperty("java.version"),
        }
    finally:
        bench.close()
    load_end = os.getloadavg()

    summary = summarize(passes if not args.trace else untraced, w.limit_s)
    mismatches = len(oracle["mismatched"])
    e2e = {
        "setup_s": statistics.median(setup["setups_s"]),
        "pass_s": summary["pass_s"],
        "query_p50_s": summary["query_p50_s"],
        "query_tail_s": summary["query_tail_s"],
        "failed_frac": summary["failed_frac"],
        "oracle_mismatch": mismatches,
        "peak_rss_mb": peak_rss,
    }
    record = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": w.scale,
        "queries": list(w.queries),
        "latency_limit_s": w.limit_s,
        "host": {**host_record(), "k": cores, "load_avg_start": load_start, "load_avg_end": load_end, **versions},
        "corpus": {"gen_s": gen_s, "tables": table_stats(corpus)},
        "setup": {k: v for k, v in setup.items() if k != "oracle"},
        "oracle": oracle,
        "end_to_end": e2e,
        "summary": summary,
        "passes": [[vars(c) for c in p] for p in passes],
    }
    print(f"workload {w.name}  seed {args.seed}  scale {w.scale}  k={cores}  nproc={record['host']['nproc']}  "
          f"spark {versions['spark']}  java {versions['java']}  load {load_start[0]:.2f}->{load_end[0]:.2f}")
    print(f"end-to-end ({'untraced passes of a traced run' if args.trace else 'untraced'}; "
          f"{summary['passes']} passes, {summary['samples']} query samples):")
    for k, unit in END_TO_END.items():
        print(f"  {k:<16} {fmt(e2e[k]):>12} {unit}")
    print(f"  query_tail_s is p{summary['query_tail_percentile']:.1f} with "
          f"{summary['query_tail_beyond']} samples beyond; failed calls charged {w.limit_s} s")
    if oracle["failed"]:
        print(f"  failing entries: {oracle['failed']}")
    if args.trace:
        with open(os.path.join(work, "events", os.listdir(os.path.join(work, "events"))[0])) as f:
            events = f.readlines()
        layers, detail = layer_metrics(bench, passes, untraced, windows, setup, events)
        record["per_layer"] = layers
        record["trace_detail"] = detail
        record["spans"] = bench.rec.spans
        print(f"per layer (per traced pass, {len(passes)} traced passes):")
        for k, (unit, _) in LAYER_METRICS.items():
            print(f"  {k:<36} {fmt(layers[k]):>14} {unit}")
        print("  self time by layer: " + ", ".join(f"{k} {v:.3f}s" for k, v in detail["layer_self_s"].items()))
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, keep) in LAYER_METRICS.items() if keep}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items() if k not in NOT_IN_RESULT}

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{w.name}-seed{args.seed}-trace{args.trace}-{int(T_PROCESS)}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"record: {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": mismatches == 0,
        "attempted": summary["attempted"] if not args.trace else sum(len(p) for p in passes),
        "failed": summary["failed"] if not args.trace else sum(c.error is not None for p in passes for c in p),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
