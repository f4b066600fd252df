"""Benchmark one workload of the engine end to end, or layer by layer.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 4 --trace 0

One run, from the root of a checkout:

1. generates the input tables from ``--seed`` (``datagen.py``);
2. starts the engine's session (``session.get_session``) and times set-up:
   the session restarted in the same JVM plus a warm-up scan of every input
   table, several times, reporting the median;
3. runs every workload query once, collects it and compares it with DuckDB
   ``oracle_sql()`` (the untimed cold pass);
4. runs one untimed warm-up pass, then timed warm passes over the workload's
   queries, in an order drawn from the seed, each materialized through the
   ``noop`` sink as ``bench.py`` does, until ``--seconds`` are used;
5. with ``--trace 1``, every other pass records spans around each layer's
   public functions plus Spark's event log and the streaming listener, and
   the per-layer figures are reported instead of the end-to-end ones.

The last line of stdout is one JSON object (``correct``, ``attempted``,
``failed``, ``metrics``); the lines before it list every end-to-end figure by
name and unit. Per-query detail goes to ``.perfbench/results/``. The exit code
is non-zero when a query fails or differs from its oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = "fiap_machine_learning_tech_challenge_2_etl_spark"
sys.path.insert(0, HERE)

import stats  # noqa: E402
from sparklog import QUERY_PROP  # noqa: E402
from workloads import LAYER_METRICS, LAYERS, PKG, WORKLOADS  # noqa: E402

MAX_CPUS = 2
DRIVER_MEM = "2g"
SETUP_SAMPLES = 3
DRIFT_LIMIT = 0.25
# The end-to-end figures the final JSON line carries with --trace 0. The
# query tail, failed share, oracle mismatches, micro-batch latency and JVM
# peak memory are printed above it and kept in the result file: at a few
# dozen samples per run the tail rule falls back to the median, the two
# correctness counts are 0 on a healthy run, and peak RSS follows GC timing.
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_geomean_s": "s",
}
EXTRA_UNITS = {
    "query_tail_s": "s",
    "query_tail_percentile": "pct",
    "query_samples": "count",
    "jvm_peak_rss_mb": "MB",
    "microbatch_p50_s": "s",
    "microbatch_tail_s": "s",
    "microbatch_tail_percentile": "pct",
    "microbatch_samples": "count",
    "failed_frac": "frac",
    "oracle_mismatches": "count",
}
# DataFrameWriter.save calls with format "manifestsink"; counted in the
# pysink layer's self time but not in its public-function calls.
SAVE_SPAN = "pysink.save"
_COMMIT = re.compile(r"^_MANIFEST(\.v\d+|-\d+)$")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> int:
    """Keep every file the JVM, Spark and Python workers write inside the
    checkout, and size the engine for a small shared machine."""
    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
    ]
    if trace:
        logdir = os.path.join(work, "eventlog")
        shutil.rmtree(logdir, ignore_errors=True)
        os.makedirs(logdir)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{logdir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"
    return cpus


def run_context(args, cpus: int) -> dict:
    import pyspark

    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=20, cwd=ROOT
        )
        commit = out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": cpus,
        "git_commit": commit,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "started": dt.datetime.now(dt.timezone.utc).isoformat(),
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class StreamLog:
    """Collects streaming-listener events: query starts and progress."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener
        from sparklog import iso_to_epoch

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                log.started[str(event.runId)] = iso_to_epoch(event.timestamp)

            def onQueryProgress(self, event):
                log.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


class Bench:
    def __init__(self, args, cpus: int, data_dir: str):
        self.args = args
        self.cpus = cpus
        self.data = data_dir
        self.spark = None
        self.names = WORKLOADS[args.workload]
        self.failures: list[dict] = []
        self.attempted = 0
        self.streams = StreamLog()
        self.tracer = None

    # -- set-up ------------------------------------------------------------
    def warm_up(self, spark) -> None:
        from pyspark.sql import functions as F

        from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
        from tools.verify_queries import TABLES

        counts = [
            df.select(F.lit(name).alias("t"), F.count("*").alias("n"))
            for name, df in load_testdata(spark, self.data, TABLES).items()
        ]
        scan = counts[0]
        for c in counts[1:]:
            scan = scan.unionByName(c)
        scan.collect()

    def setup(self):
        """Cold start (imports and JVM launch), then ``SETUP_SAMPLES``
        session restarts in that JVM, each followed by the warm-up scan. The
        first sample also pays the scan's JIT compilation; the median of
        three is a warm one."""
        t0 = time.perf_counter()
        import __spark_entry__ as ent
        from fiap_machine_learning_tech_challenge_2_etl_spark.session import get_session

        self.spark = get_session("perfbench")
        cold = time.perf_counter() - t0
        samples, session_s = [], []
        for _ in range(SETUP_SAMPLES):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_session("perfbench")
            t1 = time.perf_counter()
            self.warm_up(self.spark)
            samples.append(time.perf_counter() - t0)
            session_s.append(t1 - t0)
        self.spark.streams.addListener(self.streams.listener())
        self.ent = ent
        self.queries = ent.queries()
        return {"cold_start_s": cold, "samples_s": samples, "get_session_s": session_s}

    # -- correctness -------------------------------------------------------
    def check(self) -> list[dict]:
        from oracle import Oracle

        oracle = Oracle(self.data)
        sqls = self.ent.oracle_sql()
        out = []
        try:
            for name in self.names:
                self.attempted += 1
                row = {"query": name}
                t0 = time.perf_counter()
                try:
                    df = self.queries[name](self.spark, self.data)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                    row["cold_s"] = time.perf_counter() - t0
                    row["rows"] = len(rows)
                    row["mismatch"] = oracle.compare(sqls[name], cols, rows)
                except Exception as exc:  # noqa: BLE001 - reported, run continues
                    traceback.print_exc(file=sys.stderr)
                    row["error"] = f"{type(exc).__name__}: {exc}"[:500]
                    self.failures.append({"query": name, "phase": "check", "error": row["error"]})
                out.append(row)
        finally:
            oracle.close()
        return out

    # -- timed passes ------------------------------------------------------
    def run_query(self, name: str, traced: bool, pass_no: int) -> dict:
        sc = self.spark.sparkContext
        key = f"{pass_no}:{name}"
        sc.setLocalProperty(QUERY_PROP, key if traced else None)
        tr = self.tracer
        rec = {"query": name, "wall_start": time.time()}
        self.attempted += 1
        t0 = time.perf_counter()
        root = tr.start_query(key) if traced else None
        try:
            with tr.span("query.build") if traced else contextlib.nullcontext():
                df = self.queries[name](self.spark, self.data)
            with tr.span("query.materialize") if traced else contextlib.nullcontext():
                df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 - reported, run continues
            traceback.print_exc(file=sys.stderr)
            err = f"{type(exc).__name__}: {exc}"[:500]
            self.failures.append({"query": name, "phase": f"pass {pass_no}", "error": err})
            rec["error"] = err
        finally:
            if root is not None:
                tr.end_query(root)
        rec["s"] = time.perf_counter() - t0
        rec["wall_end"] = time.time()
        if traced:
            rec.update(self.file_effects(rec["wall_start"]))
        return rec

    def timed_passes(self) -> list[dict]:
        """One untimed warm-up pass (the first warm pass still pays JIT
        compilation), then timed passes until ``--seconds`` would be
        exceeded, at least two (four when traced, alternating)."""
        trace = bool(self.args.trace)
        min_passes = 5 if trace else 3
        passes = []
        t_start = None
        while len(passes) < min_passes or (
            time.perf_counter() - t_start + stats.median(p["total_s"] for p in passes[1:])
            <= self.args.seconds
        ):
            if len(passes) == 1:
                t_start = time.perf_counter()
            p = len(passes)
            traced = trace and p % 2 == 0 and p > 0
            order = list(self.names)
            random.Random(self.args.seed * 1000 + p).shuffle(order)
            if self.tracer is not None:
                self.tracer.enabled = traced
            load_before = os.getloadavg()
            t0 = time.perf_counter()
            recs = [self.run_query(n, traced, p) for n in order]
            total = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.enabled = False
            passes.append(
                {
                    "pass": p,
                    "warmup": p == 0,
                    "traced": traced,
                    "total_s": total,
                    "loadavg_before": load_before,
                    "loadavg_after": os.getloadavg(),
                    "catalog_tables": self.catalog_tables(),
                    "queries": recs,
                }
            )
        return passes

    def catalog_tables(self) -> int:
        cat = self.spark.catalog
        return sum(len(cat.listTables(db.name)) for db in cat.listDatabases())

    # -- tracing -----------------------------------------------------------
    def install_tracer(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from spans import Tracer

        tr = self.tracer = Tracer()

        def rows(t, args, kwargs, result):
            t.count("util.local_relation_calls")
            data = args[1] if len(args) > 1 else kwargs.get("rows")
            if hasattr(data, "__len__"):
                t.count("util.local_relation_rows", len(data))

        def added(t, args, kwargs, result):
            t.count("catalog.partitions_added", float(result or 0))

        def scanned(t, args, kwargs, result):
            from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import resolve_manifest_files

            path = args[1] if len(args) > 1 else kwargs.get("path")
            version = kwargs.get("version")
            t.count("pysink.files_scanned", len(result.inputFiles()))
            t.count("pysink.files_live", len(resolve_manifest_files(path, version)))

        tr.wrap_modules(
            LAYERS,
            PKG,
            hooks={
                "util.spread": lambda t, a, k, r: t.count("util.spread_calls"),
                "util.local_relation_df": rows,
                "catalog.add_partitions": added,
                "pysink.read_manifest_sink": scanned,
            },
        )
        orig_format, orig_save = DataFrameWriter.format, DataFrameWriter.save

        def format_(writer, source):
            writer._perfbench_format = source
            return orig_format(writer, source)

        def save(writer, *a, **k):
            fmt = k.get("format") or getattr(writer, "_perfbench_format", None)
            if not tr.enabled or fmt != "manifestsink":
                return orig_save(writer, *a, **k)
            tr.count("pysink.saves")
            with tr.span(SAVE_SPAN):
                return orig_save(writer, *a, **k)

        tr.patch(DataFrameWriter, "format", format_)
        tr.patch(DataFrameWriter, "save", save)

    def file_effects(self, since: float) -> dict:
        """Files the query wrote under the package's scratch area, split into
        manifest-table files (pysink) and plain sink output (sinks)."""
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import resolve_manifest_files

        out = dict.fromkeys(
            ("pysink_commits", "pysink_files", "pysink_bytes", "sinks_files", "sinks_bytes"), 0
        )
        amps = []
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, "_scratch")):
            is_manifest = any(f.startswith("_MANIFEST") for f in files)
            new = []
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except OSError:
                    continue
                if st.st_mtime >= since:
                    new.append((f, st.st_size))
            for f, size in new:
                if is_manifest and _COMMIT.match(f):
                    out["pysink_commits"] += 1
                elif f.startswith("part-"):
                    kind = "pysink" if is_manifest else "sinks"
                    out[f"{kind}_files"] += 1
                    out[f"{kind}_bytes"] += size
            if is_manifest and new and any(_COMMIT.match(f) for f in files):
                try:
                    live = sum(os.path.getsize(p) for p in resolve_manifest_files(dirpath))
                except (OSError, ValueError, KeyError):
                    continue
                total = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(dirpath)
                    for f in fs
                )
                if live:
                    amps.append(total / live)
        out["pysink_space_amp"] = max(amps) if amps else 0.0
        return out

    # -- shutdown ----------------------------------------------------------
    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


# -- metrics ----------------------------------------------------------------
def timed_untraced(passes: list[dict]) -> list[dict]:
    """The passes end-to-end figures come from: not the warm-up, not traced."""
    return [p for p in passes if not p["traced"] and not p["warmup"]]


def end_to_end(setup: dict, passes: list[dict], rss_mb: float, progress: list[dict]) -> tuple[dict, dict]:
    """Bounded figures from the set-up samples and the untraced timed
    passes, plus the printed-only extras."""
    from sparklog import progress_figures

    untraced = timed_untraced(passes)
    samples = [q["s"] for p in untraced for q in p["queries"] if "error" not in q]
    per_query: dict[str, list[float]] = {}
    for p in untraced:
        for q in p["queries"]:
            if "error" not in q:
                per_query.setdefault(q["query"], []).append(q["s"])
    tail, tail_pct, n = stats.tail(samples)
    out = {
        "setup_s": stats.median(setup["samples_s"]),
        "pass_s": stats.median(p["total_s"] for p in untraced),
        "query_p50_s": stats.median(stats.median(v) for v in per_query.values()),
        "query_geomean_s": stats.geomean(stats.median(v) for v in per_query.values()),
    }
    extra = {
        "query_tail_s": tail,
        "query_tail_percentile": tail_pct,
        "query_samples": n,
        "jvm_peak_rss_mb": rss_mb,
    }
    windows = [(q["wall_start"], q["wall_end"]) for p in untraced for q in p["queries"]]
    trig = [
        f["trigger_s"]
        for f in map(progress_figures, progress)
        if any(a <= f["t"] <= b for a, b in windows)
    ]
    if trig:
        mtail, mpct, mn = stats.tail(trig)
        extra.update(
            microbatch_p50_s=stats.median(trig),
            microbatch_tail_s=mtail,
            microbatch_tail_percentile=mpct,
            microbatch_samples=mn,
        )
    return out, extra


def per_layer(bench: Bench, setup: dict, passes: list[dict], logfile: str | None) -> tuple[dict, dict]:
    """Median over traced passes of each layer figure, plus per-query rows."""
    import sparklog
    from spans import layer_self_times, union_length

    tr = bench.tracer
    traced = [p for p in passes if p["traced"]]
    untraced = timed_untraced(passes)
    spark_q: dict[str, dict] = {}
    if logfile:
        with open(logfile) as fh:
            spark_q = sparklog.parse_event_log(fh)
    selfs = layer_self_times(tr.spans)
    by_query: dict[str, list] = {}
    for s in tr.spans:
        by_query.setdefault(s.query, []).append(s)
    progress = [sparklog.progress_figures(p) for p in bench.streams.progress]

    rows: dict[str, dict] = {}
    per_pass: list[dict] = []
    coverage = []
    for p in traced:
        acc = dict.fromkeys(LAYER_METRICS, 0.0)
        amps, wall_sum = [], 0.0
        scanned = live = 0.0
        trig = []
        for q in p["queries"]:
            key = f"{p['pass']}:{q['query']}"
            wall = (q["wall_start"], q["wall_end"])
            wall_sum += q["s"]
            row = {"pass": p["pass"], "query": q["query"], "wall_s": q["s"]}
            spans = by_query.get(key, [])
            root = next((s for s in spans if s.name == "query"), None)
            top = [s for s in spans if root and s.parent == root.id]
            if root is not None and root.duration > 0:
                cov = union_length((s.start, s.end) for s in top) / root.duration
                coverage.append(cov)
                row["top_span_coverage"] = cov
            build = sum(s.duration for s in spans if s.name == "query.build")
            mat = sum(s.duration for s in spans if s.name == "query.materialize")
            row["query.build_s"], row["query.materialize_s"] = build, mat
            for layer in LAYERS:
                row[f"{layer}.self_s"] = selfs.get((key, layer), 0.0)
            row["pysink.calls"] = sum(
                1 for s in spans if s.name.startswith("pysink.") and s.name != SAVE_SPAN
            )
            row["pysink.save_s"] = sum(s.duration for s in spans if s.name == SAVE_SPAN)
            for cname in ("util.spread_calls", "util.local_relation_calls", "util.local_relation_rows",
                          "catalog.partitions_added", "pysink.saves"):
                row[cname] = tr.counters.get((key, cname), 0.0)
            scanned += tr.counters.get((key, "pysink.files_scanned"), 0.0)
            live += tr.counters.get((key, "pysink.files_live"), 0.0)
            row["pysink.commits"] = q.get("pysink_commits", 0)
            row["pysink.files_written"] = q.get("pysink_files", 0)
            row["pysink.bytes_written"] = q.get("pysink_bytes", 0)
            row["sinks.files_written"] = q.get("sinks_files", 0)
            row["sinks.bytes_written"] = q.get("sinks_bytes", 0)
            if q.get("pysink_space_amp"):
                amps.append(q["pysink_space_amp"])
            sq = spark_q.get(key)
            if sq:
                for k, v in sq.items():
                    if k != "job_intervals":
                        row[f"spark.{k}"] = v
                row["spark.driver_gap_s"] = sparklog.driver_gap(wall, sq["job_intervals"])
            else:
                row["spark.driver_gap_s"] = q["s"]
            mine = [f for f in progress if wall[0] <= f["t"] <= wall[1]]
            row["streaming.batches"] = len(mine)
            row["streaming.commit_s"] = sum(f["commit_s"] for f in mine)
            last = {}
            for f in mine:
                last[f["run_id"]] = f
            row["streaming.state_rows"] = sum(f["state_rows"] for f in last.values())
            row["streaming.state_mb"] = sum(f["state_mb"] for f in last.values())
            starts = [t for r, t in bench.streams.started.items() if wall[0] <= t <= wall[1]]
            row["streaming.queries_started"] = len(starts)
            first = {}
            for f in mine:
                first.setdefault(f["run_id"], f)
            row["streaming.start_s"] = sum(
                max(0.0, f["t"] + f["trigger_s"] - bench.streams.started[r])
                for r, f in first.items()
                if r in bench.streams.started
            )
            trig += [f["trigger_s"] for f in mine]
            rows[key] = row
            for k, v in row.items():
                if k in acc and isinstance(v, (int, float)):
                    acc[k] += v
        acc["spark.core_busy_frac"] = acc["spark.executor_run_s"] / (wall_sum * bench.cpus) if wall_sum else 0.0
        acc["pysink.space_amp"] = max(amps) if amps else 0.0
        acc["pysink.files_scanned_frac"] = scanned / live if live else 0.0
        acc["streaming.microbatch_p50_s"] = stats.median(trig)
        acc["streaming.microbatch_tail_s"] = stats.tail(trig)[0] if trig else 0.0
        per_pass.append(acc)

    metrics = {m: stats.median(a[m] for a in per_pass) for m in LAYER_METRICS}
    metrics["session.get_session_s"] = stats.median(setup["get_session_s"])
    un = stats.median(p["total_s"] for p in untraced)
    tr_ = stats.median(p["total_s"] for p in traced)
    metrics["bench.trace_overhead_frac"] = tr_ / un - 1.0 if un else 0.0
    metrics["bench.top_span_coverage"] = min(coverage) if coverage else 0.0
    return metrics, rows


def drift(passes: list[dict]) -> dict:
    """Per query: first and last untraced warm-pass time and their relative
    change; ``flag`` marks a change beyond ``DRIFT_LIMIT``."""
    seq: dict[str, list[float]] = {}
    for p in timed_untraced(passes):
        for q in p["queries"]:
            if "error" not in q:
                seq.setdefault(q["query"], []).append(q["s"])
    out = {}
    for name, xs in seq.items():
        change = xs[-1] / xs[0] - 1.0 if xs[0] > 0 else 0.0
        out[name] = {"first_s": xs[0], "last_s": xs[-1], "change": change, "flag": abs(change) > DRIFT_LIMIT}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, PKG_DIR))
        and os.path.isfile(os.path.join(ROOT, "tools", "verify_queries.py"))
    ):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    cpus = prepare_env(work, bool(args.trace))

    import datagen

    data_dir = os.path.join(work, "data", "input")
    shutil.rmtree(data_dir, ignore_errors=True)
    datagen.write_tables(args.seed, data_dir)

    context = run_context(args, cpus)
    bench = Bench(args, cpus, data_dir)
    try:
        setup = bench.setup()
        check = bench.check()
        if args.trace:
            bench.install_tracer()
        passes = bench.timed_passes()
        if bench.streams.progress:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
        rss = jvm_peak_rss_mb(bench.spark)
        context["java"] = bench.spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        if bench.tracer is not None:
            bench.tracer.unwrap_all()
        bench.stop()

    mismatches = [c for c in check if c.get("mismatch")]
    e2e, extra = end_to_end(setup, passes, rss, bench.streams.progress)
    extra["failed_frac"] = len(bench.failures) / bench.attempted
    extra["oracle_mismatches"] = len(mismatches)
    layer_rows = {}
    metrics_out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if args.trace:
        logs = sorted(os.listdir(os.path.join(work, "eventlog")))
        logfile = os.path.join(work, "eventlog", logs[-1]) if logs else None
        layer, layer_rows = per_layer(bench, setup, passes, logfile)
        layer["jvm.peak_rss_mb"] = rss
        metrics_out = {k: {"value": layer[k], "unit": LAYER_METRICS[k][0]} for k in LAYER_METRICS}

    correct = not mismatches and not bench.failures
    result = {
        "context": context,
        "setup": setup,
        "check": check,
        "failures": bench.failures,
        "passes": passes,
        "drift": drift(passes),
        "end_to_end": e2e,
        "end_to_end_extra": extra,
        "layer_rows": layer_rows,
        "metrics": metrics_out,
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
    out_path = os.path.join(
        work, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    )
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} cpus={cpus} passes={len(passes)} -> {out_path}")
    for k, v in e2e.items():
        print(f"  {k:<22} {v:12.4f} {E2E_UNITS[k]}")
    for k, v in extra.items():
        print(f"  {k:<22} {v:12.4f} {EXTRA_UNITS[k]}")
    for name, d in result["drift"].items():
        if d["flag"]:
            print(f"  drift: {name} {d['first_s']:.3f}s -> {d['last_s']:.3f}s")
    for f in bench.failures:
        print(f"  FAILED {f['query']} ({f['phase']}): {f['error']}")
    for c in mismatches:
        print(f"  MISMATCH {c['query']}: {c['mismatch']}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": len(bench.failures) + len(mismatches),
                "metrics": metrics_out,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
