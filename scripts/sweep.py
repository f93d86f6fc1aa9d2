#!/usr/bin/env python
"""Full-surface timing sweep: run EVERY registered query once at
$SPARK_GRAFT_SF_DIR (default sf0.1), cold codegen, and write
SWEEP_SF01.md sorted slowest-first. The driver correctness-checks at
sf0.01 and benches 14 headliners at sf0.1; this proves no non-headline
operator hides a blowup at 10x the correctness SF."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_source_spark import get_spark, workload  # noqa: E402

# per-query wall budget at sf0.1 (seconds): a future quadratic cannot
# hide in the sweep tail — any query over this fails the run loudly.
# Warm-session queries run 0.1-6.5 s today; the first query carries
# ~7 s of session/JIT warm-up, hence the headroom.
BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_SWEEP_BUDGET", "10"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="hss-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    # One throwaway warmup query before the timed loop (r15): whichever
    # query ran first used to absorb ~7 s of session/JIT/executor-pool
    # warm-up (egfs_timeline_scan read 8.4 s cold vs 1.4 s warm in the
    # r14 sweep) — sitting right under the growth budget, a real
    # regression in row 1 would have been masked by warm-up noise. The
    # warmup is NOT recorded and runs at the sweep SF so scan/codegen
    # paths are genuinely exercised.
    warm_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    try:
        first = next(iter(workload.queries().items()))
        first[1](spark, warm_dir).count()
    except Exception:
        pass  # the timed loop will surface any real failure
    rows = []
    failed = []
    t_all = time.perf_counter()
    for name, fn in workload.queries().items():
        t0 = time.perf_counter()
        try:
            n = fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            # confirm before recording an over-budget time: this host
            # shows sporadic multi-second hypervisor-steal stalls
            # (random queries 3-10x their usual time in otherwise-idle
            # windows), and the episodes can straddle consecutive runs
            # — so up to TWO warm re-runs (the same two-pass convention
            # scaling.py uses) separate that noise from a real blowup,
            # which exceeds the budget all three times
            for _retry in range(2):
                if dt <= BUDGET_SEC:
                    break
                t1 = time.perf_counter()
                fn(spark, sf_dir).count()
                dt = min(dt, time.perf_counter() - t1)
            rows.append((name, dt, n))
        except Exception as exc:
            failed.append((name, str(exc)[:200]))
        print(f"# {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    total = time.perf_counter() - t_all
    rows.sort(key=lambda r: -r[1])
    lines = [
        "# Full-surface sweep at sf0.1 (all registered queries, single cold run)",
        "",
        "The driver correctness-checks every query at sf0.01 and benches the",
        f"14 headliners at sf0.1; this sweep runs the ENTIRE {len(rows)}-query surface",
        "at sf0.1 once (cold codegen — first queries carry JIT cost) to prove",
        "no non-headline operator hides a blowup at 10x the correctness SF.",
        "Regenerate: `python scripts/sweep.py`.",
        "",
        f"Total: {total:.1f} s for {len(rows)} queries; "
        f"{len(failed)} failures; max single query {rows[0][1]:.1f} s.",
        "",
        f"Growth guard: any query over {BUDGET_SEC:.0f} s (except the "
        "warm-up-carrying first) FAILS the sweep — a future quadratic "
        "cannot hide in the tail. A run over budget gets up to TWO",
        "confirming re-runs (min recorded, scaling.py's two-pass",
        "convention — steal episodes straddle consecutive runs); a",
        "real blowup fails all three.",
        "",
        "| query | sec | rows |",
        "|---|---|---|",
    ]
    lines += [f"| {n} | {t:.2f} | {c} |" for n, t, c in rows]
    # the chronologically FIRST query carries session warm-up — exempt it
    first_name = next(iter(workload.queries()))
    over = [(n, t) for n, t, _ in rows
            if t > BUDGET_SEC and n != first_name]
    if over:
        lines += ["", f"## OVER BUDGET (> {BUDGET_SEC:.0f} s)", ""] + [
            f"- {n}: {t:.1f} s" for n, t in over
        ]
    if failed:
        lines += ["", "## FAILURES", ""] + [f"- {n}: {e}" for n, e in failed]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SWEEP_SF01.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"total {total:.1f}s, {len(failed)} failures, "
          f"{len(over)} over budget")
    spark.stop()
    if failed or over:
        raise SystemExit(
            f"sweep gate: {len(failed)} failures, {len(over)} queries over "
            f"the {BUDGET_SEC:.0f}s budget: {[n for n, _ in over]}"
        )


if __name__ == "__main__":
    main()
