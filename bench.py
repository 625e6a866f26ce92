"""Benchmark harness: runs the registered query suite at a scale factor and
prints ONE JSON line with per-query wall-clock seconds.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), BENCH_REPEATS (default 3, median taken).

Execution is measured with a no-op sink (format 'noop') so timings cover the
full distributed plan without driver-collect serialization noise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hds_functions_spark.plans import build_session  # noqa: E402
from hds_functions_spark.registry import QUERIES, ordered_query_names  # noqa: E402
import hds_functions_spark.registry_ext  # noqa: E402,F401  (registers extension queries)


FAST_CUTOFF_SEC = 0.7

#: Declining-profile (warm-up) rule, in PROTOCOL rather than by hand:
#: three separate r12 bench windows needed manual adjudication because a
#: sub-2s query's FIRST repeat carries JVM/codegen/session warm-up and the
#: 3-repeat median is structurally vulnerable to it (first repeat inflated,
#: median dragged up, frozen-baseline gate flags a phantom regression).
#: When the first repeat exceeds this ratio x the fastest LATER repeat, the
#: profile is declining (warm-up, not steady state): the first repeat is
#: excluded from the median. The full run array — including the dropped
#: repeat — still lands in BENCH.json's query_repeats, and the queries the
#: rule fired on are listed under "warmup_dropped", so every application of
#: the rule is decidable from the committed record alone.
WARMUP_DROP_RATIO = 1.5


def robust_median(runs: list[float]) -> tuple[float, bool]:
    """Median with the warm-up artifact handled in protocol: if the first
    run is more than ``WARMUP_DROP_RATIO`` x the fastest later run, take
    the median of the tail (runs[1:]) and report that the rule fired."""
    if len(runs) >= 2 and runs[0] > WARMUP_DROP_RATIO * min(runs[1:]):
        return statistics.median(runs[1:]), True
    return statistics.median(runs), False


def time_query(
    fn, spark, sf_dir, repeats: int, fast_cutoff: float = FAST_CUTOFF_SEC
) -> list[float]:
    """Per-repeat wall-clock list (up to ``repeats`` runs, in run order);
    queries whose first run finishes under ``fast_cutoff`` seconds are
    measured once more at most — their variance is negligible and the
    suite has grown past 200 queries, so 3x-ing every sub-second query
    would dominate the harness wall-clock. Returning the LIST (the
    median is derived downstream) makes every future cold-vs-warm
    dispute decidable from the committed BENCH.json record instead of
    requiring a re-measurement session."""
    from hds_functions_spark.caching import release_operator_caches

    timings: list[float] = []
    while len(timings) < repeats:
        # drain the listener bus BEFORE timing (defensive): a preceding
        # query can leave task events queued, and any query using the
        # Observation API blocks on a listener — pre-draining keeps a
        # predecessor's backlog out of the measured window. (An r11
        # ~5x artifact on quality_observed_metrics initially suggested
        # this mechanism, but replaying the exact suite prefix measured
        # baseline — that incident was ambient host interference,
        # adjudicated from the committed per-repeat arrays; the drain
        # stays because it cheaply removes a real order-dependence.)
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Exception:
            pass  # non-fatal: accessor is not public API
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings.append(time.perf_counter() - start)
        # release operator-internal persists between repeats so every repeat
        # (and every later query) measures from the same cold-cache state
        # and the suite's executor storage memory stays flat
        release_operator_caches()
        if len(timings) == 1 and timings[0] < fast_cutoff and repeats > 2:
            repeats = 2  # sub-second queries: variance is negligible
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    spark = build_session(
        app_name="hds_functions_spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once on the smallest table.
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    only = os.environ.get("BENCH_ONLY")  # comma-separated subset, for iterating
    names = ordered_query_names()
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in wanted]

    # Pre-warm the rotated window HEAD (r14 verdict item 7): session
    # warm-up (JVM JIT, Python/Arrow worker spin-up, codegen caches)
    # concentrates on whichever queries the rotation placed first, so
    # every round's driver bench produced spurious >2x flags at the new
    # head that fresh-session adjudication then cleared (BASELINE.md
    # r13/r14 closings). One DISCARDED pass over the head absorbs that
    # cost outside the measured window; the declining-profile median
    # rule still guards the rest of the suite. Recorded in the output
    # so every run is decidable from the committed record alone.
    # PROTOCOL NOTE (r16, on the record): this pre-warm pass landed in
    # r15 — frozen rows in PERQUERY_BASELINE.json dated r14 or earlier
    # were measured WITHOUT it, so a window-head query can read
    # "improved" vs its frozen number purely from the protocol change.
    # The bench_compare gate only flags REGRESSIONS (>2x), which the
    # pre-warm cannot manufacture, so the gate stays sound; when a
    # head query's improvement matters for a claim, either cite a
    # fresh-session A/B (BASELINE.md, r12 drift A/B) or re-freeze its
    # baseline under the current protocol (tools/freeze_baselines.py).
    prewarm_head = int(os.environ.get("BENCH_PREWARM_HEAD", "16"))
    from hds_functions_spark.caching import release_operator_caches

    for name in names[:prewarm_head]:
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            print(f"prewarm error in {name}: {exc}", file=sys.stderr)
        release_operator_caches()
    if names[:prewarm_head]:
        print(
            f"prewarmed {len(names[:prewarm_head])} window-head queries "
            "(discarded pass)",
            file=sys.stderr,
        )

    per_query: dict[str, float] = {}
    per_repeat: dict[str, list[float]] = {}
    warmup_dropped: list[str] = []
    for name in names:
        fn = QUERIES[name]
        try:
            runs = [
                round(t, 3) for t in time_query(fn, spark, sf_dir, repeats)
            ]
            per_repeat[name] = runs
            med, dropped = robust_median(runs)
            per_query[name] = round(med, 3)
            if dropped:
                warmup_dropped.append(name)
            tag = " [warmup dropped]" if dropped else ""
            print(f"{name}: {per_query[name]}s {runs}{tag}", file=sys.stderr)
        except Exception as exc:  # keep the suite going; surface the failure
            print(f"bench error in {name}: {exc}", file=sys.stderr)
            per_query[name] = -1.0
            per_repeat[name] = []

    total = round(sum(t for t in per_query.values() if t >= 0), 3)
    result = {
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        # the audit trail: every individual repeat in run order — the
        # ACTUAL repeat count per query is len(list) (sub-fast_cutoff
        # queries are deliberately measured twice, not `repeats` times)
        "query_repeats": per_repeat,
        "sf": sf,
        "cpus": int(cpus),
        "repeats": repeats,
        "fast_cutoff_sec": FAST_CUTOFF_SEC,
        # queries where the declining-profile rule excluded the first
        # repeat from the median (see WARMUP_DROP_RATIO doc above)
        "warmup_drop_ratio": WARMUP_DROP_RATIO,
        "warmup_dropped": warmup_dropped,
        # names that got a discarded pre-warm pass before timing began
        "prewarmed_head": names[:prewarm_head],
    }
    # Output contract: stdout carries exactly two JSON lines — the full
    # per-query record, then a compact suite-level summary as the very LAST
    # line. Bounded tail captures truncate from the FRONT, so the summary
    # (the driver-critical fields) survives even when the per-query line
    # (which grows with the suite) does not. A durable full copy goes to
    # BENCH.json next to this script.
    line = json.dumps(result, separators=(",", ":"))
    summary = json.dumps(
        {
            "metric": "suite_wall_clock",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "cpus": int(cpus),
            "repeats": repeats,
            "n_queries": len(per_query),
            "n_failed": sum(1 for t in per_query.values() if t < 0),
            # explicit pointer for consumers that only see this last line:
            # the complete per-query map is the durable on-disk copy
            # (BENCH.json at the default 32 cpus, BENCH_c<N>.json for
            # scaling runs — r16 verdict item 8)
            "full_record": (
                "BENCH.json" if int(cpus) == 32 else f"BENCH_c{int(cpus)}.json"
            ),
            # top-10 slowest only, so this line stays bounded as the suite
            # grows; the full per-query map lives in BENCH.json
            "queries": dict(
                sorted(per_query.items(), key=lambda kv: -kv[1])[:10]
            ),
        },
        separators=(",", ":"),
    )
    # Record hygiene (r16 verdict item 8): the canonical BENCH.json is the
    # 32-cpu record; a scaling run (SPARK_GRAFT_CPUS != 32) writes its own
    # BENCH_c<N>.json so it can never clobber the canonical record. The
    # stdout contract (two JSON lines) is identical either way.
    bench_name = "BENCH.json" if int(cpus) == 32 else f"BENCH_c{int(cpus)}.json"
    bench_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), bench_name)
    with open(bench_path, "w") as fh:
        fh.write(line + "\n")
    sys.stdout.flush()
    print(line)
    print(summary)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
