#!/usr/bin/env python
"""Benchmark harness: runs the full query registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] in
$SPARK_GRAFT_BENCH_PASSES (default 3) INTERLEAVED passes and prints ONE
JSON line with storm-resistant per-query median/min totals plus the
pass-1 first-shot totals for cross-round continuity.

Each query is executed to completion with the noop sink (full computation,
no driver collect — measures engine time, not result transfer).

Output discipline (the driver parses stdout): Spark's JVM inherits this
process's fd 1 and log4j's console appender writes to stdout, so we dup
the real stdout away at the OS level before the JVM starts and point fd 1
at stderr for the whole run. The final JSON line is written to the saved
real-stdout fd — guaranteed to be the ONLY stdout content — and also to
BENCH_RESULT.json next to this script.
"""

from __future__ import annotations

import json
import os
import sys
import time

# ---- stdout isolation: must happen before any Spark/JVM import ----------
_REAL_STDOUT_FD = os.dup(1)  # keep the driver-facing stdout
os.dup2(2, 1)  # everything the JVM / py4j / log4j prints on fd 1 -> stderr

from kinesis_app_spark import registry  # noqa: E402
from kinesis_app_spark.engine import get_spark  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="kinesis-app-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session spin-up
    registry.q1_pricing_summary(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def run_once(name, spec) -> float:
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # Storm-resistant timing (round-3 finding): this box shows multi-
    # minute contention storms that inflated the r3 headline ~1.33x
    # UNIFORMLY (trivial and heavy queries alike — see STRESS.md and
    # VERDICT r3 "Performance"). A single sequential pass cannot separate
    # a storm from a plan regression, so the registry is timed in N
    # INTERLEAVED passes (whole registry, then again): a storm lands on
    # different queries each pass, and per-query min/median recover the
    # machine's actual cost. First-shot (pass 1) is kept for continuity
    # with BENCH_r01-r03; every raw timing ships in the artifact so no
    # discipline is selectively optimistic.
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    # wall-clock budget: if a contention storm drags a completed pass
    # past this, later passes are skipped (min/median fall back to the
    # passes that ran) — a parseable artifact beats a killed run
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "2700"))
    t_start = time.perf_counter()
    passes: dict[str, list[float]] = {n: [] for n in registry.REGISTRY}
    for p in range(n_passes):
        if p > 0 and time.perf_counter() - t_start > budget_s:
            print(
                f"BENCH BUDGET: skipping pass {p + 1}+ "
                f"({time.perf_counter() - t_start:.0f}s > {budget_s:.0f}s)",
                file=sys.stderr,
            )
            break
        for name, spec in registry.REGISTRY.items():
            try:
                t = run_once(name, spec)
                passes[name].append(t)
                print(f"BENCH p{p + 1} {t:8.2f}s {name}", file=sys.stderr)
            except Exception as e:  # noqa: BLE001 — a failed query must not hide the rest
                passes[name].append(-1.0)
                print(f"BENCH ERROR p{p + 1} {name}: {e}", file=sys.stderr)

    def _agg(ts: list[float], pick) -> float:
        ok = sorted(t for t in ts if t >= 0)
        return pick(ok) if ok else -1.0

    # a query that errored in SOME passes but succeeded in others is
    # FLAKY: its min/median recover from the good passes, but the run
    # must still flag it (round-4 advice — the single-pass harness
    # surfaced any error via exit code; interleaving must not hide them)
    err_counts = {
        n: sum(1 for t in ts if t < 0) for n, ts in passes.items()
    }
    flaky = sorted(
        n for n, ts in passes.items()
        if err_counts[n] and any(t >= 0 for t in ts)
    )
    for n in flaky:
        print(
            f"BENCH FLAKY {n}: {err_counts[n]}/{len(passes[n])} passes "
            "errored",
            file=sys.stderr,
        )

    first_shot = {n: (ts[0] if ts else -1.0) for n, ts in passes.items()}
    q_min = {n: _agg(ts, lambda s: s[0]) for n, ts in passes.items()}
    q_median = {
        n: _agg(ts, lambda s: s[len(s) // 2]) for n, ts in passes.items()
    }
    # STEADY-STATE median (round 8): pass 1 excluded whenever later
    # passes exist — the versioned_* entries build their fixture tables
    # through scratch.cached_build on the first shot after any data or
    # code change (multi-second table builds, merges, bloom indexing),
    # so a cold pass-1 number measures the BUILD, not the query; steady
    # medians measure what reruns actually cost
    q_steady = {
        n: _agg(ts[1:] if len(ts) > 1 else ts,
                lambda s: s[len(s) // 2])
        for n, ts in passes.items()
    }

    total_first = round(sum(t for t in first_shot.values() if t >= 0), 3)
    total_min = round(sum(t for t in q_min.values() if t >= 0), 3)
    total_median = round(sum(t for t in q_median.values() if t >= 0), 3)
    total_steady = round(sum(t for t in q_steady.values() if t >= 0), 3)
    n_ok = sum(1 for t in q_min.values() if t >= 0)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    summary = {
        "metric": "registry_total_runtime",
        # headline = storm-resistant per-query-median total over the
        # interleaved passes (the r3 verdict's requested discipline)
        "value": total_median,
        "unit": "sec",
        "sf": float(sf) if sf else sf_dir,
        # the registry GROWS every round (114 -> 285+ queries): totals are
        # not comparable across rounds, per-query mean is
        "n_queries": n_ok,
        # ACTUAL completed passes (budget guard may have trimmed them)
        "n_passes": max((len(ts) for ts in passes.values()), default=0),
        "sec_per_query_median": round(total_median / max(n_ok, 1), 3),
        "value_min": total_min,
        "sec_per_query_min": round(total_min / max(n_ok, 1), 3),
        # steady state: pass-1 fixture builds excluded (see q_steady)
        "value_steady": total_steady,
        "sec_per_query_median_steady": round(
            total_steady / max(n_ok, 1), 3
        ),
        # pass-1-only continuity numbers (comparable to BENCH_r01-r03)
        "value_first_shot": total_first,
        "sec_per_query": round(total_first / max(n_ok, 1), 3),
        # intermittently-erroring queries (succeeded in >=1 pass): 0 is
        # the healthy value; nonzero exits 2 so the driver sees it
        "n_flaky": len(flaky),
    }
    # Per-query medians for the driver's PERF per_query contract (round-8
    # verdict item 2): as many of the HEAVIEST entries as fit the driver's
    # ~2000-char stdout tail capture. The full 417-entry dict stays in
    # BENCH_RESULT.json — r1/r2 proved an unbounded dict overflows the
    # tail and leaves the whole line unparsed, which is worse than a
    # truncated per-query set. Heaviest-first: those carry the regression
    # signal; additions only — no prior field is removed or renamed.
    line_budget = int(
        os.environ.get("SPARK_GRAFT_BENCH_LINE_BUDGET", "1900")
    )
    queries: dict[str, float] = {}
    summary["queries"] = queries
    for n, t in sorted(
        ((n, t) for n, t in q_median.items() if t >= 0),
        key=lambda kv: (-kv[1], kv[0]),
    ):
        queries[n] = round(t, 2)
        if len(json.dumps(summary, separators=(",", ":"))) > line_budget:
            del queries[n]
            break

    # full record (every raw per-pass timing) for the judge
    full = dict(summary)
    full["queries_first_shot"] = first_shot
    full["queries_min"] = q_min
    full["queries_median"] = q_median
    full["queries_steady"] = q_steady
    full["queries_passes"] = passes
    full["queries_flaky"] = {n: err_counts[n] for n in flaky}
    result_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_RESULT.json")
    with open(result_path, "w") as fh:
        fh.write(json.dumps(full, separators=(",", ":")) + "\n")

    # the one and only stdout line, via the saved real-stdout fd — kept
    # under the driver's ~2000-char tail capture (the UNBOUNDED per-query
    # dict overflowed it in r1/r2, leaving BENCH_r{N} unparsed; the
    # bounded heaviest-first dict above is the fix)
    line = json.dumps(summary, separators=(",", ":"))
    os.write(_REAL_STDOUT_FD, (line + "\n").encode())
    if any(t < 0 for t in q_min.values()):
        return 1  # some query failed in EVERY pass
    if flaky:
        return 2  # every query has a good pass, but some also errored
    return 0


if __name__ == "__main__":
    sys.exit(main())
