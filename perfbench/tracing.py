"""The traced run: per-layer metrics, measured from outside the program.

Spans are recorded by the benchmark around calls into the public functions
of ``sparkx.session``, ``sparkx.pipeline``, ``sparkx.table_sink``,
``sparkx.checkpoint`` and ``sparkx.corpus_build`` (the names are patched in
every loaded ``sparkx`` module for the set-ups, the traced job and the
replays only), and around the direct ``sparkx.kernels`` call.  Spark's
event log, switched on by conf for this run only, gives task, CPU, GC,
spill, shuffle, output and SQL-metric counts; they are attributed to a span
by time window.  The kernel and native-path figures come from the traced
job's own plan and tasks: the rows into the ``MapInPandas`` node, and the
tasks of each branch of the union it feeds.  Spans are kept in memory and
written to ``.perfbench_work/trace-<workload>-<seed>.json`` at the end.

After the untraced and the traced job, isolated stages of the same input are
replayed, each forced with Spark's ``noop`` sink (never a bare ``count()``,
which Catalyst may prune): the scan alone, ``extract_blocks`` as the job
runs it (at the job's ``local[nproc/2]`` and at ``local[1]``),
``extract_batch`` on one pandas batch of the rows the program's plan feeds
to the kernel, in this process, and ``extraction_metrics``.  On ``mix_oneshot`` the checkpointed
job (``run_resumable`` killed after a group commit, then resumed; this is
where ``sparkx.table_sink`` writes) and the corpus funnel
(``build_corpus``) are replayed too.  A layer that a workload does not
exercise reports 0.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time

import gate
import run

# (metric, unit, better, the end-to-end metric it should move "on workload");
# BENCHMARK.json's per_layer list must match the first three columns
LAYER_METRICS = [
    ("session.build_s", "s", "lower", "setup_s on all workloads"),
    ("session.first_python_task_s", "s", "lower", "setup_s on all workloads"),
    ("scan.s", "s", "lower", "job_s on mix_oneshot (little on structured_skew)"),
    ("scan.bytes", "B", "lower", "job_s on mix_oneshot (little on structured_skew)"),
    ("scan.input_partitions", "count", "higher", "job_s on mix_oneshot"),
    ("pipeline.native.rows", "count", "lower", "turns_per_s on mix_oneshot (none on structured_skew)"),
    ("pipeline.native.s", "s", "lower", "turns_per_s on mix_oneshot (none on structured_skew)"),
    ("pipeline.native.rows_per_s", "1/s", "higher", "turns_per_s on mix_oneshot (none on structured_skew)"),
    ("pipeline.kernel.rows", "count", "lower", "job_s on structured_skew (little on mix_oneshot)"),
    ("pipeline.kernel_share", "ratio", "lower", "job_s on structured_skew (little on mix_oneshot)"),
    ("pipeline.kernel.s", "s", "lower", "job_s on structured_skew (little on mix_oneshot)"),
    ("pipeline.kernel.rows_per_s", "1/s", "higher", "job_s on structured_skew (little on mix_oneshot)"),
    ("pipeline.kernel.task_skew", "ratio", "lower", "job_s on structured_skew (little on mix_oneshot)"),
    ("pipeline.salt.applied", "count", "lower", "job_s on structured_skew (little on mix_oneshot)"),
    ("pipeline.salt.shuffle_bytes", "B", "lower", "job_s on structured_skew (little on mix_oneshot)"),
    ("kernels.extract_batch.rows_per_s", "1/s", "higher", "job_s on structured_skew"),
    ("pipeline.kernel.boundary_overhead", "ratio", "lower", "job_s on structured_skew"),
    ("pipeline.metrics.s", "s", "lower", "job_s on mix_oneshot"),
    ("pipeline.metrics.rows", "count", "lower", "job_s on mix_oneshot"),
    ("pipeline.write.s", "s", "lower", "job_s on mix_oneshot (less on structured_skew)"),
    ("pipeline.write.files", "count", "lower", "job_s, output_bytes_per_turn on mix_oneshot"),
    ("pipeline.write.bytes", "B", "lower", "output_bytes_per_turn on both workloads"),
    ("table_sink.write_s", "s", "lower", "job_s of the resume replay on mix_oneshot"),
    ("table_sink.files", "count", "lower", "job_s of the resume replay on mix_oneshot"),
    ("table_sink.bytes", "B", "lower", "job_s of the resume replay on mix_oneshot"),
    ("checkpoint.groups_executed", "count", "lower", "job_s of the resume replay on mix_oneshot"),
    ("checkpoint.redo_groups", "count", "lower", "job_s of the resume replay on mix_oneshot"),
    ("checkpoint.group_s.p50", "s", "lower", "job_s of the resume replay on mix_oneshot"),
    ("checkpoint.group_s.max", "s", "lower", "job_s of the resume replay on mix_oneshot"),
    ("checkpoint.scan_passes", "ratio", "lower", "job_s of the resume replay on mix_oneshot"),
    ("checkpoint.ledger_read_s", "s", "lower", "job_s of the resume replay on mix_oneshot"),
    ("checkpoint.resume_s", "s", "lower", "job_s of the resume replay on mix_oneshot"),
    ("corpus.blocks_in", "count", "lower", "job_s of the funnel replay on mix_oneshot"),
    ("corpus.after_dedup", "count", "lower", "job_s of the funnel replay on mix_oneshot"),
    ("corpus.after_quality", "count", "lower", "job_s of the funnel replay on mix_oneshot"),
    ("corpus.after_sample", "count", "lower", "job_s of the funnel replay on mix_oneshot"),
    ("corpus.dedup_drop_ratio", "ratio", "higher", "job_s of the funnel replay on mix_oneshot"),
    ("corpus.flags_s", "s", "lower", "job_s of the funnel replay on mix_oneshot"),
    ("corpus.write_s", "s", "lower", "job_s of the funnel replay on mix_oneshot"),
    ("spark.executor_cpu_s", "s", "lower", "job_s, peak_rss_mb on structured_skew"),
    ("spark.cpu_util", "ratio", "higher", "job_s on structured_skew"),
    ("spark.gc_s", "s", "lower", "job_s, peak_rss_mb on structured_skew"),
    ("spark.spill_bytes", "B", "lower", "job_s, peak_rss_mb on structured_skew"),
    ("spark.shuffle_bytes", "B", "lower", "job_s on structured_skew"),
    ("spark.tasks", "count", "lower", "job_s on all workloads"),
    ("scaling.eff_1_to_n", "ratio", "higher", "turns_per_s on mix_oneshot"),
    ("self.session_s", "s", "lower", "setup_s on all workloads"),
    ("self.pipeline_s", "s", "lower", "job_s on all workloads"),
    ("self.table_sink_s", "s", "lower", "job_s of the resume replay on mix_oneshot"),
    ("self.checkpoint_s", "s", "lower", "job_s of the resume replay on mix_oneshot"),
    ("self.corpus_build_s", "s", "lower", "job_s of the funnel replay on mix_oneshot"),
    ("trace.job_s", "s", "lower", "(traced job_s)"),
    ("trace.overhead_s", "s", "lower", "(traced job_s - untraced job_s)"),
]


def check_benchmark_json() -> None:
    """BENCHMARK.json's per-layer list must be LAYER_METRICS."""
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        listed = [(x["name"], x["unit"], x["better"]) for x in json.load(f)["per_layer"]]
    if listed != [tuple(x[:3]) for x in LAYER_METRICS]:
        raise RuntimeError("BENCHMARK.json per_layer does not match tracing.LAYER_METRICS")


# public functions wrapped by span, per layer module
TRACED = {
    "sparkx.session": ["build_session"],
    "sparkx.pipeline": ["run_extraction", "extract_blocks", "surviving",
                        "extraction_metrics"],
    "sparkx.checkpoint": ["run_resumable", "completed_groups", "read_extracted"],
    "sparkx.corpus_build": ["build_corpus", "corpus_flags"],
}
TRACED_METHODS = {"sparkx.table_sink": ("ParquetDirSink", ["overwrite_partitions",
                                                          "overwrite_slice", "append"])}


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent index."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, name, fn):
        tracer = self

        def traced(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Patch every reference to a traced function in loaded sparkx
        modules (callers hold their own names via ``from x import y``)."""
        import importlib

        for mod_name, names in TRACED.items():
            mod = importlib.import_module(mod_name)
            for n in names:
                orig = getattr(mod, n)
                wrapped = self._wrap(f"{mod_name.split('.')[1]}.{n}", orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("sparkx") and \
                            getattr(m, n, None) is orig:
                        self._patched.append((m, n, orig))
                        setattr(m, n, wrapped)
        for mod_name, (cls_name, names) in TRACED_METHODS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for n in names:
                orig = cls.__dict__[n]
                self._patched.append((cls, n, orig))
                setattr(cls, n, self._wrap(f"table_sink.{n}", orig))

    def uninstall(self) -> None:
        for obj, n, orig in reversed(self._patched):
            setattr(obj, n, orig)
        self._patched.clear()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, prefix: str) -> float:
        """Summed self time of spans named ``prefix.*``: duration minus the
        part covered by direct children."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if not s["name"].startswith(prefix + "."):
                continue
            kids = [c for c in self.spans if c["parent"] == i]
            total += (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in kids)
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def _metric_ids(node: dict, *names: str) -> set[int]:
    return {m["accumulatorId"] for m in node.get("metrics", []) if m["name"] in names}


def _nodes(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _nodes(child)


class PlanMetrics:
    """Accumulator ids of the plan nodes the per-layer metrics read, over
    every version of every plan in the log (adaptive re-planning makes new
    nodes with new ids)."""

    def __init__(self):
        self.files_read: set[int] = set()     # "size of files read" of parquet scans
        self.kernel: set[int] = set()         # any metric of a MapInPandas node
        self.kernel_in: set[int] = set()      # rows into MapInPandas
        self.native: set[int] = set()         # row counts of the union branch without it
        self.salt_bytes: set[int] = set()     # shuffle bytes of an exchange feeding it

    def add(self, plan: dict) -> None:
        for node in _nodes(plan):
            name = node.get("nodeName", "")
            if name.startswith("Scan parquet"):
                self.files_read |= _metric_ids(node, "size of files read")
            elif name == "MapInPandas":
                self.kernel |= {m["accumulatorId"] for m in node.get("metrics", [])}
                self._kernel_input(node)
            elif name == "Union":
                for branch in node.get("children", []):
                    sub = list(_nodes(branch))
                    if not any(n.get("nodeName") == "MapInPandas" for n in sub):
                        for n in sub:
                            self.native |= _metric_ids(n, "number of output rows")

    def _kernel_input(self, node: dict) -> None:
        """The first row count below MapInPandas: the exchange that salts
        its input, or the operator that feeds it in the same stage."""
        while node.get("children"):
            node = node["children"][0]
            if node["nodeName"] == "Exchange":
                self.kernel_in |= _metric_ids(node, "shuffle records written")
                self.salt_bytes |= _metric_ids(node, "shuffle bytes written")
                return
            rows = _metric_ids(node, "number of output rows")
            if rows:
                self.kernel_in |= rows
                return


class EventLog:
    """Task and SQL-execution records of one application's event log."""

    def __init__(self, path: str):
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        self.plan = PlanMetrics()
        stage_sql: dict[int, int] = {}
        driver_updates: list[tuple[int, int, int]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind in (_SQL + "Start", _ADAPTIVE) and "sparkPlanInfo" in ev:
                    self.plan.add(ev["sparkPlanInfo"])
                if kind == _SQL + "Start":
                    self.sql[ev["executionId"]] = {
                        "start": ev["time"] / 1000, "end": None, "files_read": 0,
                        "first_write": None}
                elif kind == _SQL + "End" and ev["executionId"] in self.sql:
                    self.sql[ev["executionId"]]["end"] = ev["time"] / 1000
                elif kind == _DRIVER_ACCUM:
                    driver_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
                elif kind == "SparkListenerJobStart":
                    ex = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    if ex is not None:
                        stage_sql.update((st, int(ex)) for st in ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                    info, m = ev["Task Info"], ev["Task Metrics"]
                    out = m.get("Output Metrics", {})
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "sql": stage_sql.get(ev["Stage ID"]),
                        "launch": info["Launch Time"] / 1000,
                        "finish": info["Finish Time"] / 1000,
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle": m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0),
                        "wrote": out.get("Records Written", 0) + out.get("Bytes Written", 0) > 0,
                        "acc": {a["ID"]: int(a["Update"]) for a in info.get("Accumulables", [])
                                if str(a.get("Update", "")).lstrip("-").isdigit()},
                    })

        for ex, acc, v in driver_updates:
            if acc in self.plan.files_read and ex in self.sql:
                self.sql[ex]["files_read"] += v
        for t in self.tasks:
            e = self.sql.get(t["sql"])
            if e is not None and t["wrote"]:
                e["first_write"] = min(e["first_write"] or t["launch"], t["launch"])

    def within(self, span: dict) -> list[dict]:
        return [t for t in self.tasks
                if span["start"] <= t["launch"] and t["finish"] <= span["end"] + 0.5]

    def _sql_within(self, span: dict) -> list[dict]:
        return [e for e in self.sql.values() if e["end"]
                and span["start"] <= e["start"] and e["end"] <= span["end"] + 0.5]

    def write_seconds(self, span: dict) -> float:
        """Time the SQL executions inside ``span`` spent writing: from the
        launch of their first task that wrote output to their end (the
        job commit included, the upstream stages excluded)."""
        return sum(e["end"] - e["first_write"] for e in self._sql_within(span)
                   if e["first_write"] is not None)

    def read_seconds(self, span: dict) -> float:
        """Summed wall time of the SQL executions inside ``span`` that
        wrote no output."""
        return sum(e["end"] - e["start"] for e in self._sql_within(span)
                   if e["first_write"] is None)

    def files_read(self, span: dict) -> int:
        """Parquet file bytes the scans inside ``span`` were planned over
        (Spark's "size of files read"; cached re-reads do not count)."""
        return sum(e["files_read"] for e in self._sql_within(span))

    @staticmethod
    def updates(tasks: list[dict], accs: set[int]) -> int:
        return sum(v for t in tasks for a, v in t["acc"].items() if a in accs)

    def branches(self, span: dict) -> tuple[list[dict], list[dict]]:
        """(tasks that ran mapInPandas, tasks of the native branch of the
        union) inside ``span``."""
        kernel, native = [], []
        for t in self.within(span):
            if self.updates([t], self.plan.kernel) > 0:
                kernel.append(t)
            elif self.updates([t], self.plan.native) > 0:
                native.append(t)
        return kernel, native

    @staticmethod
    def find(app_id: str) -> str:
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
        paths = glob.glob(os.path.join(run.WORK, "events", f"*{app_id}", f"events_*_{app_id}"))
        if len(paths) != 1:
            raise RuntimeError(f"event log for {app_id}: found {paths}")
        return paths[0]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _kernel_input(spark, df):
    """The rows the program's own plan feeds to mapInPandas, as a
    DataFrame (the child of the plan's MapInPandas node), or None."""
    from pyspark.sql import DataFrame

    from sparkx import pipeline

    stack = [pipeline.extract_blocks(df)._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "MapInPandas":
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, node.child())
            return DataFrame(jdf, spark)
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return None


def _out_files(out: str, subdirs) -> list[str]:
    return [f for d in subdirs for f in run.committed_files(os.path.join(out, d))]


def traced_run(args, master, in_dir, cols, props, ref, out_root) -> dict:
    from pyspark.sql import functions as F

    from sparkx import corpus_build, pipeline
    from sparkx.kernels.extract import extract_batch
    from sparkx.session import ARROW_BATCH_ROWS

    check_benchmark_json()
    tr = Tracer()
    m: dict[str, float] = {name: 0.0 for name, *_ in LAYER_METRICS}
    ops = run.Ops()
    cores = run.CORES
    workload = args.workload

    # session: the same cold set-ups as the timed run, each a span
    tr.install()
    spark, builds, firsts = run.cold_setups(master, tr.span)
    tr.uninstall()
    m["session.build_s"] = statistics.median(builds)
    m["session.first_python_task_s"] = statistics.median(firsts)

    try:
        for _ in range(run.WARMUP_JOBS):
            ops.job(spark, in_dir, os.path.join(out_root, "warm"), ref)
        untraced = ops.job(spark, in_dir, os.path.join(out_root, "plain"), ref)["job_s"]
        run.log(f"untraced job {untraced:.2f}s")

        tr.install()
        out = os.path.join(out_root, "traced")
        with tr.span("job") as job_span:
            ops.job(spark, in_dir, out, ref)
        ops.check_output(out, cols, props, ref, args.seed)
        m["trace.job_s"] = _dur(job_span)
        m["trace.overhead_s"] = _dur(job_span) - untraced
        written = _out_files(out, ("extracted", "metrics"))
        m["pipeline.write.files"] = len(written)
        m["pipeline.write.bytes"] = sum(map(os.path.getsize, written))
        run.log(f"traced job {_dur(job_span):.2f}s")

        df = spark.read.parquet(in_dir)
        with tr.span("replay.scan") as scan_span:
            scan = spark.read.parquet(in_dir)
            _noop(scan.select(F.xxhash64(*scan.columns)))  # decode every column
        m["scan.s"] = _dur(scan_span)
        m["scan.input_partitions"] = df.rdd.getNumPartitions()

        # one Arrow batch of the kernel's own input, run through the kernel
        # in this process on one core
        kernel_in = _kernel_input(spark, df)
        if kernel_in is not None:
            batch = kernel_in.limit(ARROW_BATCH_ROWS).toPandas()
            extract_batch(batch.head(64))  # import-time and first-call costs
            with tr.span("kernels.extract_batch") as s_direct:
                extract_batch(batch)
            m["kernels.extract_batch.rows_per_s"] = len(batch) / _dur(s_direct)

        blocks = pipeline.extract_blocks(df).persist()
        _noop(blocks)
        with tr.span("replay.metrics") as s_metrics:
            _noop(pipeline.extraction_metrics(blocks, "trace"))
        m["pipeline.metrics.s"] = _dur(s_metrics)
        m["pipeline.metrics.rows"] = pipeline.extraction_metrics(blocks, "trace").count()
        blocks.unpersist()
        run.log("stage replays done")

        if workload == "mix_oneshot":
            _resume_replay(tr, spark, in_dir, out_root, m, ops, cols, props, ref, args.seed)
            _corpus_replay(tr, spark, in_dir, out_root, m, ops, ref, corpus_build)
            run.log("resume and funnel replays done")
        tr.uninstall()

        with tr.span("replay.extract.local_n") as s_n:
            _noop(pipeline.extract_blocks(spark.read.parquet(in_dir)))
        app_id = spark.sparkContext.applicationId
    finally:
        tr.uninstall()
        spark.stop()

    ev = EventLog(EventLog.find(app_id))
    tasks = ev.within(job_span)
    cpu = sum(t["cpu_s"] for t in tasks)
    m["spark.executor_cpu_s"] = cpu
    m["spark.cpu_util"] = cpu / (_dur(job_span) * cores)
    m["spark.gc_s"] = sum(t["gc_s"] for t in tasks)
    m["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["spark.shuffle_bytes"] = sum(t["shuffle"] for t in tasks)
    m["spark.tasks"] = len(tasks)
    m["scan.bytes"] = ev.files_read(scan_span)
    m["pipeline.write.s"] = ev.write_seconds(job_span)

    # the kernel and native paths as the traced job ran them: rows into the
    # MapInPandas node, and the busy time of the tasks of each union branch
    # (summed over tasks, so rows_per_s is per core)
    ktasks, ntasks = ev.branches(job_span)
    kernel_rows = ev.updates(tasks, ev.plan.kernel_in)
    m["pipeline.kernel.rows"] = kernel_rows
    m["pipeline.kernel_share"] = kernel_rows / props["turns"]
    m["pipeline.native.rows"] = props["turns"] - kernel_rows
    m["pipeline.salt.shuffle_bytes"] = ev.updates(tasks, ev.plan.salt_bytes)
    m["pipeline.salt.applied"] = float(m["pipeline.salt.shuffle_bytes"] > 0)
    if ktasks:
        durs = [t["run_s"] for t in ktasks]
        m["pipeline.kernel.s"] = sum(durs)
        m["pipeline.kernel.rows_per_s"] = kernel_rows / max(sum(durs), 1e-3)
        m["pipeline.kernel.task_skew"] = max(durs) / max(statistics.median(durs), 1e-3)
    if ntasks:
        m["pipeline.native.s"] = sum(t["run_s"] for t in ntasks)
        m["pipeline.native.rows_per_s"] = m["pipeline.native.rows"] / max(m["pipeline.native.s"], 1e-3)
    if m["kernels.extract_batch.rows_per_s"]:
        m["pipeline.kernel.boundary_overhead"] = (
            1 - m["pipeline.kernel.rows_per_s"] / m["kernels.extract_batch.rows_per_s"])
    if workload == "mix_oneshot":
        resume_span = tr.find("replay.resume")[0]
        m["checkpoint.scan_passes"] = ev.files_read(resume_span) / _input_bytes(in_dir)
        m["table_sink.write_s"] = sum(ev.write_seconds(s) for s in tr.spans
                                      if s["name"].startswith("table_sink."))
        corpus_span = tr.find("replay.corpus")[0]
        m["corpus.flags_s"] = ev.read_seconds(corpus_span)
        m["corpus.write_s"] = ev.write_seconds(corpus_span)

    # scaling: the same extraction stage on one core, in a fresh session of
    # the same (JIT-warm) JVM
    spark, _, _ = run.setup_session("local[1]")
    try:
        with tr.span("replay.extract.local_1") as s_1:
            _noop(pipeline.extract_blocks(spark.read.parquet(in_dir)))
    finally:
        spark.stop()
    m["scaling.eff_1_to_n"] = _dur(s_1) / (cores * _dur(s_n))

    for layer in ("session", "pipeline", "table_sink", "checkpoint", "corpus_build"):
        m[f"self.{layer}_s"] = tr.self_time(layer)
    tr.dump(os.path.join(run.WORK, f"trace-{workload}-{args.seed}.json"))

    print(f"workload={workload} seed={args.seed} turns={props['turns']} traced "
          f"oracle={'PASS' if not ops.problems else 'FAIL'}")
    print(f"  {'metric':36s} {'value':>16s} unit   moves")
    for name, unit, _, moves in LAYER_METRICS:
        print(f"  {name:36s} {m[name]:16.6f} {unit:6s} {moves}")
    return ops.result({name: (m[name], unit) for name, unit, *_ in LAYER_METRICS})


def _input_bytes(in_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(in_dir, f)) for f in os.listdir(in_dir))


def _resume_replay(tr, spark, in_dir, out_root, m, ops, cols, props, ref, seed):
    """run_resumable killed after RESUME_FAIL_AFTER group commits, then
    resumed; checked against the oracle like the one-shot output."""
    out = os.path.join(out_root, "resume")
    with tr.span("replay.resume"):
        res = ops.job(spark, in_dir, out, ref, kind="resume")
    ops.check_output(out, cols, props, ref, seed)
    runs = tr.find("checkpoint.run_resumable")
    ledger = res["summary"]["ledger"]
    m["checkpoint.groups_executed"] = len(ledger)
    m["checkpoint.redo_groups"] = res["summary"]["groups_executed_this_run"]
    m["checkpoint.resume_s"] = res["resume_s"]
    group_s = []
    for span in runs:
        commits = sorted(g["committed_at"] for g in ledger.values()
                         if span["start"] <= g["committed_at"] <= span["end"])
        edges = [span["start"]] + commits
        group_s += [b - a for a, b in zip(edges, edges[1:])]
    m["checkpoint.group_s.p50"] = statistics.median(group_s)
    m["checkpoint.group_s.max"] = max(group_s)
    m["checkpoint.ledger_read_s"] = sum(_dur(s) for s in tr.find("checkpoint.completed_groups"))
    written = _out_files(out, ("extracted", "metrics"))
    m["table_sink.files"] = len(written)
    m["table_sink.bytes"] = sum(map(os.path.getsize, written))


def _corpus_replay(tr, spark, in_dir, out_root, m, ops, ref, corpus_build):
    """build_corpus with exact dedup and score quality, checked against the
    pure-Python recount.  Its flag pass and its writes are told apart in the
    event log afterwards."""
    out = os.path.join(out_root, "corpus")
    with tr.span("replay.corpus"):
        funnel = corpus_build.build_corpus(spark, spark.read.parquet(in_dir), out,
                                           **gate.CORPUS_ARGS)
    bad, caught = gate.check_corpus(out, funnel, ref)
    ops.record(bad)
    if not caught:
        ops.problems.append("self-test: the gate passed a corrupted copy of the corpus")
    for k in ("blocks_in", "after_dedup", "after_quality", "after_sample"):
        m[f"corpus.{k}"] = funnel[k]
    m["corpus.dedup_drop_ratio"] = 1 - funnel["after_dedup"] / max(funnel["blocks_in"], 1)
