"""sparkx benchmark: one command per workload, oracle-checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The command generates the workload's seeded
input (cached per workload and seed under ``.perfbench_work/``), builds a
Spark session at ``local[nproc/2]``, warms up, runs the user-facing job
through the public ``sparkx`` API for ``--seconds`` seconds, checks the
committed output against ``sparkx.oracle`` outside the timed region, and
prints one line per metric followed by a JSON summary as the last line.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the separate
traced run that reports the per-layer metrics (see ``tracing.py``).  The
workloads, metrics and the layer-to-metric map are described in README.md
beside this file.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("mix_oneshot", "structured_skew")
# Spark task threads: half the cores.  The other half runs what the job
# needs beside its tasks: the JVM's JIT compiler and GC threads, the Python
# workers and this process.  At local[nproc] these oversubscribed the cores;
# jobs were no faster and far more exposed to other tenants of the machine.
CORES = max(1, (os.cpu_count() or 1) // 2)
# cold set-ups per run, each in a fresh JVM; setup_s is their median
SETUP_REPEATS = 2
# untimed jobs before the measured ones: the first job in a JVM takes two to
# three times as long as the next (class loading, JIT compilation)
WARMUP_JOBS = 1
# measured jobs per run, at least; job_s is their median.  A time window
# alone would give slow runs fewer, less-warm jobs and widen the run-to-run
# spread.  The count is set by the run budget of the whole benchmark (about
# a minute a run, two cold set-ups included).
MEASURED_JOBS = 3
# the checkpointed job (traced run of mix_oneshot): commit groups, and the
# group commit after which the first invocation is killed
RESUME_GROUPS = 2
RESUME_FAIL_AFTER = 1
# seconds between memory samples: one sample costs about 0.1 CPU-second,
# most of it reading the JVM's smaps, taken from the jobs it measures
SAMPLE_S = 2.0
# a 1-minute load average above this share of the cores at start is flagged
LOUD_LOAD = 0.5


def _env(trace: bool) -> None:
    """Process environment for the session: the repo on the workers'
    PYTHONPATH, and every Spark/JVM/Python scratch file inside WORK."""
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # the program's own heap knob (its default is 8g), kept small on a
    # shared machine; -Xms pins the heap at that size, because G1's
    # run-to-run heap-resizing decisions were the largest source of spread
    # in job_s (RssSampler counts the live heap instead of the pinned one)
    mem = os.environ.setdefault("SPARKX_DRIVER_MEM", "2g")
    # -XX:-UsePerfData: no JVM, the launcher's included, writes an
    # hsperfdata file under /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = [
        f"--driver-java-options=-Djava.io.tmpdir={tmp} -Xms{mem} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        confs += ["--conf", "spark.eventLog.enabled=true",
                  "--conf", "spark.eventLog.compress=false",
                  "--conf", f"spark.eventLog.dir=file://{WORK}/events"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(confs + ["pyspark-shell"])
    sys.path.insert(0, ROOT)


def load_input(workload: str, seed: int) -> tuple[str, dict, dict, dict]:
    """(input dir, columns, properties, oracle reference) for a workload and
    seed; generated once and cached."""
    import pyarrow.parquet as pq

    import gate
    import gen

    # the generator's source is part of the key: editing it regenerates
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    cache = os.path.join(WORK, "cache", f"{workload}-{seed}-{version}")
    in_dir = os.path.join(cache, "input")
    meta = os.path.join(cache, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            m = json.load(f)
        props, ref = m["props"], m["ref"]
        cols = pq.read_table(in_dir).sort_by(
            [("conv_id", "ascending"), ("turn_idx", "ascending")]).to_pydict()
    else:
        cols, props = gen.generate(workload, seed)
        shutil.rmtree(cache, ignore_errors=True)
        gen.write_bucketed(cols, in_dir)
        ref = gate.reference(workload, cols)
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"props": props, "ref": ref}, f)
        os.replace(tmp, meta)
    gen.self_check(workload, in_dir, props)
    return in_dir, cols, props, ref


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and the
    Python workers it forks), sampled every SAMPLE_S seconds while on.

    Memory is counted as PSS from /proc, so pages the forked Python workers
    share are not counted once per worker.  The benchmark pins the JVM heap
    (see _env), so the heap's own mapping is resident at a size the
    benchmark chose; it is replaced by the live heap: the heap in use after
    the latest garbage collection, read over JMX.  The peak then moves with
    the program's live heap, its JVM native memory and its Python workers.
    """

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mem = mf.getMemoryMXBean()
        self._heap_pools = [p.getName() for p in mf.getMemoryPoolMXBeans()
                            if p.getType().name() == "HEAP"]
        self._heap_kb = self._mem.getHeapMemoryUsage().getMax() // 1024
        self._jvm_pid = spark.sparkContext._gateway.proc.pid
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        while not self._stop.wait(SAMPLE_S):
            if self._on.is_set():
                self.peak = max(self.peak, self.sample())

    def sample(self) -> int:
        total = self._live_heap()
        for p in descendants(os.getpid()):
            try:
                total += _pss(p)
                if p == self._jvm_pid:
                    total -= _heap_mapping_pss(p, self._heap_kb)
            except (OSError, StopIteration):  # the process ended meanwhile
                continue
        return total

    def _live_heap(self) -> int:
        """Heap bytes in use after the latest collection (in use now, if
        none has run yet)."""
        infos = [i for i in (g.getLastGcInfo() for g in self._gcs) if i is not None]
        if not infos:
            return self._mem.getHeapMemoryUsage().getUsed()
        after = max(infos, key=lambda i: i.getEndTime()).getMemoryUsageAfterGc()
        return sum(after.get(n).getUsed() for n in self._heap_pools if after.get(n))

    def __enter__(self):
        self._on.set()

    def __exit__(self, *exc):
        self._on.clear()

    def close(self):
        self._stop.set()
        self._t.join(timeout=5)


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], list(kids.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("Pss:"))


def _heap_mapping_pss(pid: int, heap_kb: int) -> int:
    """PSS of the reserved Java heap in the JVM ``pid``: the mappings inside the heap-sized address range that starts at the first
    mapping of at least half the heap's size (G1 may split the range)."""
    lo = hi = None
    total = 0
    with open(f"/proc/{pid}/smaps") as f:
        inside = False
        for ln in f:
            head = ln.split(maxsplit=1)[0]
            if "-" in head and not head.endswith(":"):
                start, end = (int(x, 16) for x in head.split("-"))
                if lo is None and (end - start) // 1024 >= heap_kb // 2:
                    lo, hi = start, start + heap_kb * 1024
                inside = lo is not None and lo <= start and end <= hi
            elif inside and head == "Pss:":
                total += int(ln.split()[1]) * 1024
    return total


def stop_jvm() -> None:
    """Close the Py4J gateway and wait until the JVM and the Python workers
    it forked have exited (the JVM exits when its stdin closes).  A process
    left without a gateway (a JVM still launching when a signal arrived) is
    killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
    for p in descendants(os.getpid()):
        os.kill(p, signal.SIGKILL)


def _identity(it):
    yield from it


def setup_session(master: str) -> tuple[object, float, float]:
    """Build a session and run its first Python-worker task; returns
    (session, build_s, first_task_s).  With no JVM running, ``build_s``
    includes the JVM launch."""
    from pyspark import cloudpickle

    from sparkx.session import build_session

    # ship _identity by value: workers cannot import this module
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    t0 = time.perf_counter()
    spark = build_session("perfbench", master=master)
    t1 = time.perf_counter()
    # a worker must start and import pandas/pyarrow, as for the first
    # kernel task
    spark.range(1).mapInPandas(_identity, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def cold_setups(master: str, span=None) -> tuple[object, list[float], list[float]]:
    """SETUP_REPEATS cold set-ups, each launching its own JVM (the previous
    one is stopped first); the last session is kept.  ``span``, if given,
    wraps each set-up.  Returns (session, build times, first-task times)."""
    spark, builds, firsts = None, [], []
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
            stop_jvm()
        with span("session.setup") if span else contextlib.nullcontext():
            spark, b, f = setup_session(master)
        builds.append(b)
        firsts.append(f)
        log(f"setup {b:.2f}s + first task {f:.2f}s")
    return spark, builds, firsts


def run_job(job: str, spark, in_dir: str, out: str) -> dict:
    """A user-facing job -- ``oneshot`` (``run_extraction``) or ``resume``
    (``run_resumable`` killed after a group commit, then resumed, the
    ``jobs/extract.py`` path) -- with its result and wall times."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    if job == "oneshot":
        from sparkx.pipeline import run_extraction

        res = {"totals": run_extraction(spark, spark.read.parquet(in_dir), out)}
    else:
        from sparkx.checkpoint import SimulatedFailure, run_resumable

        try:
            run_resumable(spark, spark.read.parquet(in_dir), out,
                          n_groups=RESUME_GROUPS, fail_after_groups=RESUME_FAIL_AFTER)
        except SimulatedFailure:
            pass
        else:
            raise RuntimeError("injected failure did not fire")
        t_fail = time.perf_counter()
        summary = run_resumable(spark, spark.read.parquet(in_dir), out,
                                n_groups=RESUME_GROUPS)
        res = {"summary": summary, "resume_s": time.perf_counter() - t_fail}
        totals: dict[str, int] = {}
        for m in summary["ledger"].values():
            for s, n in m["status_counts"].items():
                totals[s] = totals.get(s, 0) + n
        res["totals"] = totals
    res["job_s"] = time.perf_counter() - t0
    return res


def job_problems(res: dict, ref: dict) -> list[str]:
    """Cheap per-job checks on the returned counts."""
    import gate

    problems = gate.status_totals_problem(res["totals"], ref)
    if "summary" in res:
        s = res["summary"]
        redo = RESUME_GROUPS - RESUME_FAIL_AFTER
        if s["groups_executed_this_run"] != redo or len(s["ledger"]) != RESUME_GROUPS:
            problems.append(f"resume executed {s['groups_executed_this_run']} "
                            f"groups, expected {redo}")
    return problems


class JobFailed(Exception):
    """A job raised; the run stops and reports it as failed."""


class Ops:
    """Counts attempted and failed operations -- jobs and output checks.  A
    failure is an exception, an oracle mismatch or a count mismatch."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += problems

    def job(self, spark, in_dir: str, out: str, ref: dict, kind: str = "oneshot") -> dict:
        try:
            res = run_job(kind, spark, in_dir, out)
        except Exception as e:  # a failed job is a measured outcome
            traceback.print_exc()
            self.record([f"{kind} job raised {type(e).__name__}: {e}"])
            raise JobFailed from e
        self.record(job_problems(res, ref))
        return res

    def check_output(self, out: str, cols: dict, props: dict, ref: dict, seed: int) -> None:
        """Full oracle check of a committed output plus the corruption
        self-test (the gate must reject a corrupted copy)."""
        import gate

        bad, caught = gate.check_extracted(out, cols, gate.sample_convs(props, seed), ref)
        self.record(bad)
        if not caught:
            self.problems.append("self-test: the gate passed a corrupted copy of the output")

    def result(self, metrics: dict) -> dict:
        print(f"  {'ops_failed_ratio':24s} {self.failed / max(self.attempted, 1):14.6f} ratio")
        for pr in self.problems:
            print(f"  FAIL: {pr}")
        return {
            "correct": not self.problems,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat.
    Stolen ticks are those the hypervisor gave to other tenants."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100 * (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


def committed_files(out: str) -> list[str]:
    """Committed data files under ``out``: parquet parts and ledger
    manifests (not checksum or marker files)."""
    return [os.path.join(d, f) for d, _, files in os.walk(out) for f in files
            if f.endswith((".parquet", ".json")) and not f.startswith(".")]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparkx", "pipeline.py")):
        print(f"perfbench: no sparkx package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    load_start = os.getloadavg()[0]
    _env(bool(args.trace))
    in_dir, cols, props, ref = load_input(args.workload, args.seed)
    log(f"input ready: {props['turns']} turns")

    out_root = os.path.join(WORK, "out", f"{args.workload}-{args.seed}-{os.getpid()}")
    master = f"local[{CORES}]"
    # a SIGTERM unwinds through the finally below, so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.trace:
            import tracing

            result = tracing.traced_run(args, master, in_dir, cols, props, ref, out_root)
        else:
            result = timed_run(args, master, in_dir, cols, props, ref, out_root)
    finally:
        stop_jvm()
        shutil.rmtree(out_root, ignore_errors=True)
    log("done")

    load_end = os.getloadavg()[0]
    loud = load_start > LOUD_LOAD * (os.cpu_count() or 1)
    print(f"load1 start={load_start:.2f} end={load_end:.2f}"
          + ("  LOUD START: figures may be contaminated" if loud else ""))
    if loud:
        print(f"perfbench: loud start, load1={load_start:.2f}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench +{time.perf_counter() - T_START:6.1f}s {msg}", file=sys.stderr,
          flush=True)


def timed_run(args, master, in_dir, cols, props, ref, out_root) -> dict:
    spark, builds, firsts = cold_setups(master)
    setups = [b + f for b, f in zip(builds, firsts)]

    ops = Ops()
    rss = RssSampler(spark)
    jobs: list[float] = []
    try:
        for _ in range(WARMUP_JOBS):
            with rss:
                res = ops.job(spark, in_dir, os.path.join(out_root, "warm"), ref)
            log(f"warm-up job {res['job_s']:.2f}s")
        deadline = time.perf_counter() + args.seconds
        window = cpu_ticks()
        while len(jobs) < MEASURED_JOBS or time.perf_counter() < deadline:
            out = os.path.join(out_root, f"job{len(jobs) % 2}")
            t0 = cpu_ticks()
            with rss:
                res = ops.job(spark, in_dir, out, ref)
            jobs.append(res["job_s"])
            log(f"job {res['job_s']:.2f}s, {steal_pct(t0, cpu_ticks()):.1f}% of CPU stolen")
        stolen = steal_pct(window, cpu_ticks())
        out_bytes = sum(map(os.path.getsize, committed_files(out)))
        log("gate")
        ops.check_output(out, cols, props, ref, args.seed)
    except JobFailed:
        jobs = []  # the run is failed; it reports no metrics
    finally:
        rss.close()
        spark.stop()
    if not jobs:
        return ops.result({})

    job_s = statistics.median(jobs)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "job_s": (job_s, "s"),
        "turns_per_s": (props["turns"] / job_s, "1/s"),
        "output_bytes_per_turn": (out_bytes / props["turns"], "B"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    print(f"workload={args.workload} seed={args.seed} turns={props['turns']} "
          f"jobs={len(jobs)} stolen_cpu={stolen:.1f}% "
          f"oracle={'PASS' if not ops.problems else 'FAIL'}")
    for name, (v, unit) in metrics.items():
        print(f"  {name:24s} {v:14.6f} {unit}")
    return ops.result(metrics)


if __name__ == "__main__":
    # tracing.py imports this file as ``run``; run main() from that module
    # so the process holds one copy of its state
    import run

    sys.exit(run.main())
