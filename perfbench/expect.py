#!/usr/bin/env python3
"""Regenerate expected.json: the validated sink fingerprint of every query
op on the benchmark's corpus.

    python3 perfbench/expect.py

An op with a DuckDB oracle is validated when oracle.compare passes on the
same corpus. An op without one (ann_cosine_ivf, semdedup_prune) records
the fingerprint of its first run, accepted only if a second run
reproduces it; so does an op whose oracle disagrees, and the
disagreement is written beside its fingerprint ("oracle_mismatch") so
that it stays visible until the engine or the oracle is fixed. Runs
compare against this file instead of calling the oracles, which would
add their own time to every run.
"""

from __future__ import annotations

import json
import os
import sys

import run

TARGET = "queries-sf0.1"


def main() -> int:
    sys.path[:0] = [run.ROOT, run.HERE]
    os.environ["PYTHONPATH"] = run.ROOT
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run.WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.WORK, "spark-local")

    import corpus
    from hadoop_source_spark import get_spark, oracle, workload
    from sink import fingerprint
    from workloads import QUERY_OPS

    spark = get_spark(app_name="perfbench-expect", cpus=run.cpu_count(),
                      driver_memory=run.DRIVER_MEMORY,
                      extra_conf={"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cdir = os.path.join(run.WORK, "corpus", f"sf{run.BASE_SF}")
    corpus.ensure(run.BASE_SF, cdir)
    out, bad = {}, []
    for name in QUERY_OPS:
        q = workload.QUERIES[name]
        fp = fingerprint(q.fn(spark, cdir))
        rec = {"fingerprint": list(fp), "validated": "oracle"}
        if q.oracle:
            r = oracle.compare(name, q.fn(spark, cdir), q.oracle, cdir)
            if not r.ok:
                rec["oracle_mismatch"] = r.detail
        if not q.oracle or "oracle_mismatch" in rec:
            again = fingerprint(q.fn(spark, cdir))
            rec["validated"] = "first-run"
            if again != fp:
                bad.append(f"{name}: rerun gave {list(again)}")
                continue
        print(f"{TARGET} {name}: {rec}", flush=True)
        out[name] = rec
    spark.stop()
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump({TARGET: out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for b in bad:
        print("not reproducible:", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
