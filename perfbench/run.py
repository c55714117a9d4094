"""Layered benchmark of checkpointed validation runs.

    python3 perfbench/run.py --workload transcripts_clean --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout: the program under test is the
``joi_spark`` package beside this directory.  One Python process drives
Spark ``local[N]`` with N the number of usable cores.  Each workload is
a closed loop: the next iteration starts when the last one returned.
An iteration validates a generated table with
``CheckpointedRun.run`` (or writes ``validate_dataset``'s output) into
a fresh directory; checking the output and deleting the directory are
not timed.

``--trace 0`` measures the end-to-end metrics with no event log.
``--trace 1`` restarts the session with an event log and splits each
iteration into its layers (see README.md), between two short untraced
loops that give the tracing overhead.

Verbose JSON lines go to standard output first; the last line is one
compact JSON object ``{"correct", "attempted", "failed", "metrics"}``.
Inputs, outputs and Spark's scratch files stay under ``.perfbench/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3              # set-ups per untraced run; setup_s is their median
UNTRACED_SHARE = 0.25   # of --seconds, before and after a traced phase

END_TO_END = {"cpu_us_per_row": "us", "setup_s": "s", "ok_frac": "1"}
PER_LAYER = {
    "rows_per_s": "1/s", "driver_s": "s", "peak_rss_mb": "MB",
    "dsl.build_s": "s", "compiler.compile_s": "s", "compiler.checks": "count",
    "engine.plan_s": "s", "engine.scan_floor_s": "s",
    "engine.predicate_s": "s", "engine.render_s": "s",
    "engine.sort_write_s": "s", "engine.verdict_s": "s",
    "engine.floor_ratio": "1", "engine.busy_frac": "1",
    "engine.gc_frac": "1",
    "checkpoint.overhead_s": "s", "checkpoint.jobs": "count",
    "checkpoint.stages": "count",
    "checkpoint.scan_amplification": "records/row",
    "checkpoint.bytes_per_violation": "B/row",
    "operators.dataset.unique_s": "s", "operators.dataset.sequence_s": "s",
    "operators.dataset.referential_s": "s",
    "operators.dataset.heads_s": "s",
    "operators.dataset.shuffle_bytes_per_row": "B/row",
    "functions.udfs.rows_per_s": "1/s",
    "trace.overhead_s": "s",
}


def process_age() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up counts)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(user+nice+system, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2], f[7]


def cpu_s(pids) -> float:
    """User + system CPU seconds used so far by the processes ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        total += int(f[11]) + int(f[12])
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def steady(values) -> float:
    """Median of the loop's 2nd to 4th samples.  JIT warm-up outlasts the
    loop, the more so when other tenants load the host, so every run is
    read at the same point of it rather than at however far it got."""
    v = list(values)
    return statistics.median(v[1:4] or v)


def jobs_busy_s(sc, group: str) -> float:
    """Seconds during which at least one Spark job of ``group`` ran,
    from the submission and completion times in Spark's status store."""
    store = sc._jsc.sc().statusStore()
    spans = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            spans.append((start.get().getTime(), end.get().getTime()))
    busy = reach = 0
    for a, e in sorted(spans):          # length of the union of the spans
        busy += max(0, e - max(a, reach))
        reach = max(reach, e)
    return busy / 1000


class Bench:
    """One benchmark process: the input, the Spark session, and the
    count of attempted and failed iterations."""

    def __init__(self, workload, seed: int, cores: int):
        self.w = workload
        self.seed = seed
        self.cores = cores
        self.scratch = os.path.join(WORK, "runs", str(os.getpid()))
        self.spark = None
        self.df = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.n_iter = 0

    def generate(self) -> float:
        import gen
        self.data_dir, self.expected, gen_s = gen.materialize(
            os.path.join(WORK, "cache"), self.w.name, self.seed,
            self.w.n_rows, lambda: self.w.build(self.seed, self.w.n_rows))
        self.n_rows = self.expected["n_rows"]
        self.n_violations = self.expected["violations"].num_rows
        return gen_s

    def start(self, extra_conf: dict | None = None) -> None:
        from joi_spark.session import get_spark
        conf = {"spark.ui.showConsoleProgress": "false",
                # applies when the first session launches the JVM
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    "-XX:-UsePerfData"}
        conf.update(extra_conf or {})
        self.spark = get_spark(f"local[{self.cores}]", app="perfbench",
                               extra_conf=conf)
        self.versions = {
            "spark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version")}
        self.df = self.spark.read.parquet(self.data_dir)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the driver JVM."""
        jvm = self.spark._jvm.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def fresh_root(self) -> str:
        self.n_iter += 1
        return os.path.join(self.scratch, f"it{self.n_iter}")

    def _fail(self, problems: list[str]) -> None:
        self.failed += 1
        self.problems += problems[:5]

    def verify(self, root: str) -> bool:
        """Check an iteration's output (untimed), then delete it."""
        self.attempted += 1
        try:
            problems = self.w.check(root, self.expected)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        if problems:
            self._fail(problems)
        return not problems

    def guarded(self, fn, root: str):
        """``fn()`` with an exception counted as a failed iteration."""
        try:
            return fn()
        except Exception as e:          # the program failed: count it
            self.attempted += 1
            self._fail([f"{type(e).__name__}: {str(e)[:300]}"])
            shutil.rmtree(root, ignore_errors=True)
            return None

    def iterate(self, group: str | None = None) -> tuple | None:
        """One timed iteration in its own job group: ``(run_s, driver_s,
        cpu_s)``, or None if it raised or wrote wrong output."""
        root = self.fresh_root()
        group = group or f"it{self.n_iter}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, "perfbench iteration")
        # the driver JVM also runs the local executors
        pids = (os.getpid(), self.spark._jvm.ProcessHandle.current().pid())
        cpu0 = cpu_s(pids)
        run_s = self.guarded(lambda: self.w.iteration(self.df, root), root)
        cpu = cpu_s(pids) - cpu0
        if run_s is None or not self.verify(root):
            return None
        return run_s, run_s - jobs_busy_s(sc, group), cpu

    @staticmethod
    def loop(seconds: float, body) -> list:
        """Closed loop: call ``body()`` until ``seconds`` have passed, at
        least once; keep the results that are not None."""
        out = []
        t0 = time.perf_counter()
        while True:
            r = body()
            if r is not None:
                out.append(r)
            if time.perf_counter() - t0 >= seconds:
                return out

    def setup(self, extra_conf: dict | None = None) -> None:
        """Start a session and run one untimed (but checked) warm-up
        iteration."""
        self.start(extra_conf)
        self.iterate()

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to end."""
        self.stop()
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.scratch, ignore_errors=True)


def untraced(b: Bench, seconds: float, gen_s: float) -> tuple[dict, dict]:
    """End-to-end metrics.  Set-up 1 runs from process start (minus input
    generation) through its warm-up iteration; set-ups 2.. stop the
    session and start a new one in the same JVM, each with its own
    warm-up.  The measured loop runs in the last session."""
    b.setup()
    setups = [process_age() - gen_s]
    for _ in range(SETUPS - 1):
        b.stop()
        t0 = time.perf_counter()
        b.setup()
        setups.append(time.perf_counter() - t0)
    runs = b.loop(seconds, b.iterate) or [(float("inf"), 0.0, 0.0)]
    run_s, driver_s, cpu = zip(*runs)
    metrics = {
        "cpu_us_per_row": steady(1e6 * c / b.n_rows for c in cpu),
        "setup_s": statistics.median(setups),
        "ok_frac": (b.attempted - b.failed) / max(b.attempted, 1),
    }
    detail = {"rows_per_s": steady(b.n_rows / r for r in run_s),
              "run_s": [round(r, 3) for r in run_s],
              "driver_s": [round(d, 3) for d in driver_s],
              "cpu_s": [round(c, 2) for c in cpu],
              "setup_s": [round(s, 3) for s in setups],
              "peak_rss_mb": b.peak_rss_mb()}
    return metrics, detail


def traced(b: Bench, seconds: float) -> tuple[dict, dict]:
    """Per-layer metrics.  A session with an event log runs the side
    probes once, then for ``seconds`` the engine probes and the iteration,
    each action in its own job group.  Untraced sessions before and
    after it, a quarter of ``seconds`` each, give the base of
    ``trace.overhead_s``; bracketing the traced phase cancels the
    speed-up the JVM still gains from run to run."""
    b.setup()
    # a second warm-up: the few untraced samples below would otherwise
    # still carry JIT warm-up
    b.iterate()
    plain = b.loop(seconds * UNTRACED_SHARE, b.iterate)
    b.stop()
    log_dir = os.path.join(b.scratch, "eventlog")
    os.makedirs(log_dir)
    b.setup({"spark.eventLog.enabled": "true",
             "spark.eventLog.dir": "file://" + log_dir,
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false"})
    sc = b.spark.sparkContext

    def grouper(i: int):
        return lambda name: sc.setJobGroup(f"{name}-{i}", name)
    side = b.guarded(lambda: b.w.side_probes(b.df, grouper(0)),
                     os.path.join(b.scratch, "side"))

    def body():
        i = b.n_iter + 1
        group = grouper(i)
        probe_root = os.path.join(b.scratch, f"probe{i}")
        probes = b.guarded(
            lambda: b.w.engine_probes(b.df, probe_root, group), probe_root)
        shutil.rmtree(probe_root, ignore_errors=True)
        got = probes is not None and b.iterate(f"run-{i}")
        if not got:
            return None
        jobs = sc.statusTracker().getJobIdsForGroup(f"run-{i}")
        stages = sum(len(sc.statusTracker().getJobInfo(j).stageIds)
                     for j in jobs)
        return i, probes, got[0], len(jobs), stages
    rows = b.loop(seconds, body)
    b.stop()                            # finishes the event log
    b.setup()
    plain += b.loop(seconds * UNTRACED_SHARE, b.iterate)
    rss = b.peak_rss_mb()
    groups = eventlog.by_group(log_dir)
    per_iter = [engine_metrics(b, groups, *r) for r in rows]
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for k in set().union(*per_iter):
        # a count stays one of the counts seen
        median = statistics.median_low if PER_LAYER[k] == "count" \
            else statistics.median
        metrics[k] = median(m[k] for m in per_iter)
    side_m = side_metrics(b, groups, side or {})
    metrics.update(side_m)
    metrics["peak_rss_mb"] = rss
    applies = set().union(*per_iter, side_m, ["peak_rss_mb"])
    traced_run = [r[2] for r in rows]
    plain_run = [r[0] for r in plain]
    if plain:
        metrics["rows_per_s"] = statistics.median(b.n_rows / r
                                                  for r in plain_run)
        metrics["driver_s"] = statistics.median(r[1] for r in plain)
        applies |= {"rows_per_s", "driver_s"}
    if plain and traced_run:
        metrics["trace.overhead_s"] = (statistics.median(traced_run)
                                       - statistics.median(plain_run))
        applies.add("trace.overhead_s")
    detail = {"untraced_run_s": [round(r, 3) for r in plain_run],
              "traced_run_s": [round(r, 3) for r in traced_run],
              "not_applicable": sorted(set(PER_LAYER) - applies)}
    return metrics, detail


RULES = ("unique", "sequence", "referential", "heads")


def _group(groups: dict, name: str) -> dict:
    return groups.get(name, dict.fromkeys(eventlog.FIELDS, 0))


def side_metrics(b: Bench, groups: dict, p: dict) -> dict:
    m = {}
    if "unique" in p:
        for k in RULES:
            m[f"operators.dataset.{k}_s"] = p[k]
        m["operators.dataset.shuffle_bytes_per_row"] = sum(
            _group(groups, f"{k}-0")["shuffle_bytes_written"]
            for k in RULES) / b.n_rows
    if "udfs" in p:
        m["functions.udfs.rows_per_s"] = b.n_rows / p["udfs"]
    return m


def engine_metrics(b: Bench, groups: dict, i: int, p: dict, run_s: float,
                   jobs: int, stages: int) -> dict:
    """One traced iteration's per-layer metrics (see README.md)."""
    run = _group(groups, f"run-{i}")
    m = {"engine.scan_floor_s": p["floor"],
         "engine.floor_ratio": p["floor"] / run_s,
         "engine.busy_frac": run["run_ms"] / (run_s * 1000 * b.cores),
         "engine.gc_frac": run["gc_ms"] / max(run["run_ms"], 1)}
    if "checks" in p:
        m.update({
            "dsl.build_s": p["build"], "compiler.compile_s": p["compile"],
            "compiler.checks": p["checks"], "engine.plan_s": p["plan"],
            "engine.predicate_s": p["predicate"] - p["floor"],
            "engine.render_s": p["render"] - p["predicate"],
            "engine.sort_write_s": p["sort_write"] - p["render"],
            "engine.verdict_s": p["verdict"],
            "checkpoint.overhead_s": run_s - p["sort_write"] - p["verdict"],
            "checkpoint.jobs": jobs, "checkpoint.stages": stages,
            "checkpoint.scan_amplification": run["records_read"] / b.n_rows,
            "checkpoint.bytes_per_violation":
                run["bytes_written"] / max(b.n_violations, 1),
        })
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import joi_spark
    except ImportError as e:
        print(f"perfbench: no joi_spark package in {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(joi_spark.__file__)) != ROOT:
        print(f"perfbench: joi_spark imported from {joi_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    b = Bench(workloads.WORKLOADS[args.workload], args.seed, cores)
    # Spark, the JVM and Python workers keep their scratch files here
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[var] = os.path.join(b.scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # get_spark's default driver heap is 8g; the host may be shared
    os.environ["JOI_SPARK_DRIVER_MEM"] = "3g"
    busy0, steal0 = cpu_times()
    try:
        gen_s = b.generate()
        if args.trace:
            metrics, detail = traced(b, args.seconds)
            units = PER_LAYER
        else:
            metrics, detail = untraced(b, args.seconds, gen_s)
            units = END_TO_END
        busy1, steal1 = cpu_times()
        steal = steal1 - steal0
        host = {"nproc": cores, **b.versions,
                "steal_pct": round(100 * steal / max(busy1 - busy0 + steal,
                                                     1), 2)}
    finally:
        b.close()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "rows": b.n_rows,
                      "gen_s": round(gen_s, 3), "host": host,
                      "detail": detail, "problems": b.problems[:20]}))
    print(json.dumps({
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted, "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
