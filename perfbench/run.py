"""Layered benchmark for hds_functions_spark.

One driver process in ``local[N]`` (N = usable cpus) runs a workload's
registered queries as ``QUERIES[name](spark, data_dir)`` followed by a
``noop`` write, one after another (a closed loop with one client). A run
is: copy the committed sf0.01 input tables into the run directory, set up
the session, one cold pass whose results are checked against the DuckDB
oracles, then a fixed number of warm passes sized to take about
``--seconds`` (``warm_pass_count``). The inputs are fixed; the seed only
permutes the query order of every pass.

    python3 perfbench/run.py --workload cohort_core --seed 1 --seconds 24 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
library's layer functions in spans, writes Spark's event log, traces each
query in every other warm pass and prints the per-layer metrics. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import spans  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

#: the input tables: the repository's synthetic test data at sf0.01, unchanged
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
#: operator modules the workloads call, whose self time and jobs are
#: reported one by one (the other operator modules only in the layer total)
OPERATOR_MODULES = ("cohort", "dedup", "multimodal", "privacy", "topk", "wrangling")
#: warm passes a run makes at least, so each query's median drops one outlier
MIN_PASSES = 3
#: end-to-end metrics printed but left out of the result line, so not gated:
#: an llm_curation run holds 15 warm executions, too few for a p90 with ten
#: samples beyond it; failed_frac sits at 0, which a share bound cannot take
UNGATED = ("query_p90_s", "failed_frac")


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile, interpolated between the closest samples."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    pos = q * (len(ordered) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def traced_in_pass(query_index: int, pass_no: int) -> bool:
    """Whether a traced run records spans for the query at ``query_index``
    of the workload's list in warm pass ``pass_no``: every other pass, so
    over an even number of passes each query is traced in exactly half."""
    return (query_index + pass_no) % 2 == 0


def warm_pass_count(seconds: float, pass_s: float, traced: bool) -> int:
    """Warm passes a run makes: as many of the workload's nominal
    ``pass_s`` as fit in ``seconds``, at least ``MIN_PASSES``, even when
    traced. The count does not depend on how fast the passes run: warm
    passes keep getting faster for several passes, so a count taken from
    the clock would move ``wall_s`` with every run that fits one pass more
    or less, and would give a faster program more warm-up."""
    n = max(MIN_PASSES, round(seconds / pass_s))
    return n + n % 2 if traced else n


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) cpu jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of this run inside ``run_dir``.

    Python workers get the package path explicitly, so mapInPandas/UDF
    queries import ``hds_functions_spark`` from any working directory."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "data", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData") if p
    )
    return dirs


def session_conf(dirs: dict[str, str], trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": dirs["local"],
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.sql.warehouse.dir": os.path.join(dirs["tmp"], "warehouse"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs["eventlog"]
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


class Run:
    """State of one benchmark process: session, counters and samples."""

    def __init__(self, args, dirs: dict[str, str]):
        self.args, self.dirs = args, dirs
        self.queries = WORKLOADS[args.workload]["queries"]
        self.n = cpu_count()
        self.attempted = 0
        self.failed = 0
        self.cold: dict[str, float] = {}
        self.rec = spans.Recorder(enabled=False) if args.trace else None

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.args.workload}] {msg}", file=sys.stderr, flush=True)

    def fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.log(f"FAIL {name}: {reason}")

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        from hds_functions_spark.plans import build_session
        from hds_functions_spark.registry import ORACLES, QUERIES
        import hds_functions_spark.registry_ext  # noqa: F401  (registers queries)

        self.QUERIES, self.ORACLES = QUERIES, ORACLES
        if self.rec is not None:
            spans.install(self.rec)
        t1 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.n}]",
            shuffle_partitions=self.n,
            extra_conf=session_conf(self.dirs, bool(self.args.trace)),
        )
        self.session_s = time.perf_counter() - t1
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.read.parquet(f"{self.dirs['data']}/nation.parquet").count()
        self.setup_s = time.perf_counter() - t0

    def teardown(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- passes -----------------------------------------------------------

    def cold_pass(self) -> float:
        """First pass, collecting every result; returns its wall seconds
        (the oracle comparison runs afterwards, untimed)."""
        from hds_functions_spark.caching import release_operator_caches
        import oracle_check

        results, total = {}, 0.0
        for name in pass_order(self.queries, self.args.seed, 0):
            self.attempted += 1
            start = time.perf_counter()
            try:
                df = self.QUERIES[name](self.spark, self.dirs["data"])
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # a failing query is counted, not fatal
                total += time.perf_counter() - start
                self.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
                release_operator_caches()
                continue
            self.cold[name] = time.perf_counter() - start
            total += self.cold[name]
            results[name] = (df.columns, rows)
            release_operator_caches()
        bad = oracle_check.check(
            results, self.ORACLES, self.dirs["data"], ROOT, self.dirs["tmp"]
        )
        for name, reason in bad.items():
            self.fail(name, f"oracle mismatch: {reason}")
        return total

    def warm_passes(self) -> dict:
        """The run's warm passes (``warm_pass_count``). In a traced
        run each query records spans in every other pass (``traced_in_pass``),
        so it is sampled traced and untraced equally often."""
        from hds_functions_spark.caching import release_operator_caches, tracked_count

        samples: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
        phases = []  # (traced, name, build_s, action_s, persists, release_s)
        steal0 = steal_jiffies()
        start = time.perf_counter()
        passes = warm_pass_count(self.args.seconds,
                                 WORKLOADS[self.args.workload]["pass_s"],
                                 self.rec is not None)
        for pass_no in range(1, passes + 1):
            pass_start = time.perf_counter()
            for name in pass_order(self.queries, self.args.seed, pass_no):
                traced = (self.rec is not None
                          and traced_in_pass(self.queries.index(name), pass_no))
                self.attempted += 1
                if self.rec is not None:
                    self.rec.enabled = traced
                try:
                    t0 = time.perf_counter()
                    with self._span(traced, "build", name):
                        df = self.QUERIES[name](self.spark, self.dirs["data"])
                    t1 = time.perf_counter()
                    with self._span(traced, "action", name):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                except Exception as exc:
                    self.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
                    release_operator_caches()
                    continue
                finally:
                    if self.rec is not None:
                        self.rec.enabled = False
                persists = tracked_count()
                t3 = time.perf_counter()
                release_operator_caches()
                t4 = time.perf_counter()
                samples[traced].setdefault(name, []).append(t2 - t0)
                phases.append((traced, name, t1 - t0, t2 - t1, persists, t4 - t3))
            self.log(f"warm pass {pass_no}: {time.perf_counter() - pass_start:.3f}s")
        window_s = time.perf_counter() - start
        steal1 = steal_jiffies()
        total = steal1[1] - steal0[1]
        return {
            "samples": samples,
            "phases": phases,
            "passes": passes,
            "window_s": window_s,
            "steal_frac": (steal1[0] - steal0[0]) / total if total else 0.0,
        }

    def _span(self, traced: bool, kind: str, name: str):
        if traced:
            return self.rec.span("registry", kind, name)
        return contextlib.nullcontext()

    def report_queries(self, warm: dict) -> None:
        """Per-query cold seconds and median warm build/action seconds."""
        for name in self.queries:
            rows = [ph for ph in warm["phases"] if ph[1] == name]
            if not rows:
                continue
            build = statistics.median(ph[2] for ph in rows)
            action = statistics.median(ph[3] for ph in rows)
            self.log(f"{name:<28} cold {self.cold.get(name, float('nan')):7.3f}s  "
                     f"warm build {build:7.3f}s  action {action:7.3f}s  n={len(rows)}")


def pass_wall(samples: dict[str, list[float]]) -> float:
    """A typical warm pass: the sum of each query's median warm latency."""
    return sum(statistics.median(v) for v in samples.values())


def end_to_end(run: Run, cold_s: float, warm: dict) -> dict:
    samples = warm["samples"][False]
    latencies = [t for v in samples.values() for t in v]
    run.log(f"query_p50_s and query_p90_s over {len(latencies)} warm executions "
            f"in {warm['passes']} passes")
    return {
        "setup_s": (run.setup_s, "s"),
        "cold_pass_s": (cold_s, "s"),
        "wall_s": (pass_wall(samples), "s"),
        "query_p50_s": (quantile(latencies, 0.5), "s"),
        "query_p90_s": (quantile(latencies, 0.9), "s"),
        "queries_per_min": (len(latencies) / warm["window_s"] * 60.0, "1/min"),
        "failed_frac": (run.failed / run.attempted, "ratio"),
    }


def per_layer(run: Run, warm: dict, rss_mb: float) -> dict:
    """Per-layer metrics per warm pass (traced executions, scaled to one
    execution of every query), from spans and the event log."""
    npass = sum(1 for ph in warm["phases"] if ph[0]) / len(run.queries) or 1.0
    phases = [ph for ph in warm["phases"] if ph[0]]
    all_spans = run.rec.spans
    roots = [s for s in all_spans if s.layer == "registry"]
    libspans = [s for s in all_spans if s.layer != "registry"]

    log_files = [os.path.join(run.dirs["eventlog"], f)
                 for f in os.listdir(run.dirs["eventlog"])]
    jobs, stages = {}, {}
    for path in log_files:
        with open(path) as fh:
            j, s = spans.parse_event_log(fh)
        jobs.update(j)
        stages.update(s)
    job_list = sorted(jobs.values(), key=lambda j: j.submit_ms)
    times = [j.submit_ms for j in job_list]
    phase_of = spans.attribute(roots, times)
    inner_of = spans.attribute(all_spans, times)
    in_pass = [(j, ph, inner) for j, ph, inner in zip(job_list, phase_of, inner_of)
               if ph is not None]

    m: dict[str, tuple[float, str]] = {}
    m["plans.session_s"] = (run.session_s, "s")
    m["registry.build_s"] = (sum(ph[2] for ph in phases) / npass, "s")
    m["registry.action_s"] = (sum(ph[3] for ph in phases) / npass, "s")
    for kind in ("build", "action"):
        n = sum(1 for _, ph, _ in in_pass if ph.module == kind)
        m[f"registry.{kind}_jobs"] = (n / npass, "count")

    selfs = spans.self_times(libspans)
    for layer in ("operators", "functions", "sources", "streaming"):
        m[f"{layer}.calls"] = (sum(1 for s in libspans if s.layer == layer) / npass, "count")
        m[f"{layer}.self_s"] = (selfs.get(layer, 0.0) / npass, "s")
        m[f"{layer}.jobs"] = (
            sum(1 for *_, inner in in_pass if inner is not None and inner.layer == layer)
            / npass, "count")
    for mod in ("tables", "config_io"):
        m[f"sources.{mod}.self_s"] = (selfs.get(f"sources.{mod}", 0.0) / npass, "s")
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.self_s"] = (selfs.get(f"operators.{mod}", 0.0) / npass, "s")
        m[f"operators.{mod}.jobs"] = (
            sum(1 for *_, inner in in_pass
                if inner is not None and inner.layer == "operators" and inner.module == mod)
            / npass, "count")
    m["caching.persists"] = (sum(ph[4] for ph in phases) / npass, "count")
    m["caching.release_s"] = (sum(ph[5] for ph in phases) / npass, "s")

    stage_ids = sorted({sid for j, _, _ in in_pass for sid in j.stage_ids if sid in stages})
    ran = [stages[s] for s in stage_ids]
    job_wall = sum(max(j.end_ms - j.submit_ms, 0) for j, _, _ in in_pass) / 1000.0
    task_s = sum(st.metrics.get("task_s", 0.0) for st in ran)
    m["exec.jobs"] = (len(in_pass) / npass, "count")
    m["exec.stages"] = (len(ran) / npass, "count")
    m["exec.tasks"] = (sum(st.tasks for st in ran) / npass, "count")
    m["exec.job_wall_s"] = (job_wall / npass, "s")
    m["exec.core_util"] = (task_s / (job_wall * run.n) if job_wall else 0.0, "ratio")
    for key, unit in (("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                      ("spill_bytes", "B"), ("input_bytes", "B"), ("output_bytes", "B"),
                      ("python_bytes_sent", "B"), ("python_bytes_received", "B")):
        m[f"exec.{key}"] = (sum(st.metrics.get(key, 0.0) for st in ran) / npass, unit)
    m["exec.skew_ratio"] = (spans.heaviest_stage_skew(stages, stage_ids), "ratio")
    m["exec.driver_peak_rss_mb"] = (rss_mb, "MB")
    m["host.steal_frac"] = (warm["steal_frac"], "ratio")
    traced_wall = pass_wall(warm["samples"][True])
    untraced_wall = pass_wall(warm["samples"][False])
    m["trace.overhead"] = (traced_wall / untraced_wall, "ratio")
    return m


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def execute(args, run_dir: str) -> dict:
    dirs = isolate(run_dir)
    # a private copy, so a query that writes beside its inputs leaves the
    # committed tables alone
    shutil.copytree(DATA_DIR, dirs["data"], dirs_exist_ok=True)
    run = Run(args, dirs)
    run.setup()
    try:
        run.log(f"setup {run.setup_s:.2f}s on local[{run.n}]")
        cold_s = run.cold_pass()
        run.log(f"cold pass {cold_s:.2f}s")
        warm = run.warm_passes()
        run.log(f"warm window {warm['window_s']:.2f}s, {warm['passes']} passes")
        rss = jvm_peak_rss_mb(run.spark) if args.trace else 0.0
    finally:
        run.teardown()
    run.report_queries(warm)
    if args.trace:
        metrics = per_layer(run, warm, rss)
    else:
        metrics = end_to_end(run, cold_s, warm)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:>12} {name:<34} {value:>14.6g} {unit}")
    if not args.trace:
        for name in UNGATED:
            metrics.pop(name)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "hds_functions_spark", "registry.py")):
        print(f"perfbench: no hds_functions_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        result = execute(args, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
