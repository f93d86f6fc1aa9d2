#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the engine, one op
at a time from one client, on local[cpus] (cpus = $SPARK_GRAFT_CPUS, else
the cores this process may use).

    python3 perfbench/run.py --workload queries-sf0.1 --seed 1 --seconds 10 --trace 0

Workloads
  queries-sf0.1  18 query ops (the 14 headline queries, bm25_search,
                 ec_rs_reconstruct_check, cross_source_dup_matrix,
                 semdedup_prune) on the 600k-lineitem corpus. Per-op fixed
                 cost dominates: workload build, data.table, checkpoints.
  storage-rw     writes beside reads on io and catalog: a 600k-row
                 key/value table written as a block-compressed SequenceFile,
                 the MapFile analog and the BloomMapFile analog; full read,
                 batched point gets of present and absent keys, range scans,
                 a walk of the written tree, and find/du/first ls page over
                 a seeded 100k-entry namespace.

Each run is its own process. The seed shuffles op order in each pass (for
storage-rw: writes first, then reads) and picks storage-rw's keys, ranges
and namespace; the corpus itself is fixed (corpus.py) and is built once
per checkout under .perfbench/ (not timed). Set-up, timed as setup_s, is
the session start, corpus preparation and one warm pass of every op
through the same sink, ops run concurrently. Passes then repeat until
--seconds have been measured (at least one).

Every op is timed through the sink (sink.py), which computes every output
column, and its result is checked: query fingerprints against
expected.json (validated by expect.py), storage results against
references computed from the inputs with pyarrow/numpy, and each written
copy against the source (see workloads.py). `failed` counts ops that
raised or returned a wrong result. Checks run untimed, left out of both
the pass wall and setup_s.

The last stdout line is one JSON object. With --trace 0 it holds the
end-to-end metrics: setup_s, pass_s (median wall of a pass over all ops)
and peak_rss_mb (VmHWM of the driver JVM plus this process); the lines
before it also give op_p50_s, op_tail_s with its percentile,
write_p50_s, read_p50_s and fail_ratio. With --trace 1 every pass is
traced and it holds the per-layer metrics, each summed over a pass
(median over passes). The full record (context,
per-op samples, spans) goes to .perfbench/artifacts/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = {"queries-sf0.1": "queries", "storage-rw": "storage"}
DRIVER_MEMORY = "2g"
BASE_SF = 0.1
NAMESPACE_ENTRIES = 100_000
# Stop starting passes when one more would likely end past this many
# seconds after process start (the run must end within 180 s).
DEADLINE_S = 165.0

END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
PER_PASS_LAYERS = {
    "workload.build_s": "s", "workload.build_jobs": "count",
    "workload.checkpoints": "count", "workload.checkpoint_s": "s",
    "data.table.calls": "count", "data.table.s": "s", "data.table.jobs": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.gc_s": "s", "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "kernel.run_s": "s", "kernel.worker_start_s": "s", "kernel.worker_init_s": "s",
    "kernel.sent_mb": "MB", "kernel.recv_mb": "MB",
    "io.seq_write_s": "s", "io.seq_read_s": "s", "io.kv_write_s": "s",
    "io.bloom_write_s": "s", "io.kv_get_s": "s", "io.bloom_get_s": "s",
    "io.kv_scan_s": "s", "io.kv_get_input_mb": "MB", "io.kv_get_rows_per_hit": "ratio",
    "catalog.walk_s": "s", "catalog.find_s": "s", "catalog.du_s": "s", "catalog.ls_s": "s",
    # time a traced pass spent in the probes themselves (id marks inside the
    # timed window, listener-bus waits and status-store reads after it); the
    # pass_s of a traced run minus that of an untraced one also shows it,
    # under the run-to-run spread
    "trace.overhead_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    **PER_PASS_LAYERS,
    "exec.util": "ratio", "io.written_mb": "MB",
    "write_p50_s": "s", "read_p50_s": "s", "stored_bytes_per_user_byte": "ratio",
}


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() and int(env) > 0 else len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_stat(pid: int | str) -> tuple[str, int, str] | None:
    """(state, parent pid, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return f[0], int(f[1]), f[19]


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every process under root."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        st = _proc_stat(d) if d.isdigit() else None
        if st is not None:
            children.setdefault(st[1], []).append((int(d), st[2]))
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += [pid for pid, _ in kids]
    return found


def _alive(pid: int, start: str) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[2] == start and st[0] != "Z"


def stop_spark(grace_s: float = 30.0) -> None:
    """Stop the session, then end the JVM and every process under it (the
    Python worker daemon and its workers) and wait until each has ended.
    Left alone, the JVM only exits once it sees this process end, so it
    would outlive the run."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the processes are ended below
            traceback.print_exc()
    gateway_proc = getattr(SparkContext._gateway, "proc", None)
    if gateway_proc is not None:
        gateway_proc.stdin.close()  # the JVM exits on end of its stdin
        try:
            gateway_proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            gateway_proc.kill()
            gateway_proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        left = [(pid, start) for pid, start in procs if _alive(pid, start)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid, _ in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


class Env:
    """What ops need: the session, the probes and the run's tracer."""

    def __init__(self, spark, tracer, clock):
        self.spark, self.tracer, self.clock = spark, tracer, clock


def time_op(env, op, pass_no: int, traced: bool) -> tuple[dict, object]:
    """Time one op and, in a traced pass, read its layers once the clock has
    stopped. Returns the sample and what the op produced (None if it raised)."""
    tr = env.tracer
    tr.op = op.name
    err, layer = None, None
    marks_before = env.clock.spent
    start = time.perf_counter()
    with tr.span(f"op:{op.name}", None, kind=op.kind) as root:
        tr.root = root.id
        try:
            res = op.run(env)
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            res, err = None, "".join(traceback.format_exception_only(exc)).strip()[:800]
    latency = time.perf_counter() - start
    if res is not None and traced:
        t = time.perf_counter()
        layer = op.trace(env, res)
        layer["trace.overhead_s"] = (time.perf_counter() - t
                                     + env.clock.spent - marks_before)
    return {"pass": pass_no, "op": op.name, "kind": op.kind, "traced": traced,
            "latency_s": latency, "check_s": 0.0, "error": err, "layers": layer}, res


def check_op(env, op, sample: dict, res) -> dict:
    """Check what a timed op produced. This runs after the op's trace has
    been read, so the Spark jobs of a check never count as the op's work."""
    t = time.perf_counter()
    if res is not None:
        sample["error"] = op.check(env, res)
    sample["check_s"] = time.perf_counter() - t
    if sample["error"]:
        print(f"# FAIL pass {sample['pass']} {op.name}: {sample['error']}", file=sys.stderr)
    return sample


def run_op(env, op, pass_no: int, traced: bool) -> dict:
    return check_op(env, op, *time_op(env, op, pass_no, traced))


def run_pass(env, ops, pass_no: int, traced: bool, samples: list) -> dict:
    """Run each op once, in order; returns the pass record (wall, traced,
    layer sums). The wall leaves out each op's untimed prepare and check."""
    env.tracer.active, env.tracer.pass_no = traced, pass_no
    layers: dict[str, float] = {}
    untimed = 0.0
    t0 = time.perf_counter()
    for op in ops:
        if hasattr(op, "prepare"):  # untimed: not part of the op or the pass
            t = time.perf_counter()
            op.prepare()
            untimed += time.perf_counter() - t
        samples.append(run_op(env, op, pass_no, traced))
        untimed += samples[-1]["check_s"]
        for k, v in (samples[-1]["layers"] or {}).items():
            layers[k] = layers.get(k, 0.0) + v
    env.tracer.active = False
    return {"pass": pass_no, "traced": traced,
            "wall_s": time.perf_counter() - t0 - untimed, "layers": layers}


def warm_pass(env, groups: list[list], threads: int) -> tuple[list[dict], float]:
    """One untraced call of every op, each group's ops concurrently: JIT,
    generated code and the Python workers warm up the same whichever
    thread runs an op, and the driver-side fixed cost overlaps. Returns the
    checked samples and the warm-up time, which leaves out the checks."""
    def warm(op):
        getattr(op, "prepare", lambda: None)()
        return (op, *time_op(env, op, -1, False))

    timed: list[tuple] = []
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as pool:
        for group in groups:
            timed += pool.map(warm, group)
    warm_s = time.perf_counter() - t0
    return [check_op(env, *t) for t in timed], warm_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = time.perf_counter()
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "hadoop_source_spark", "workload.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    # Everything the run writes stays in the checkout: Spark's scratch and
    # shuffle dirs, the JVM's and Python's temp files, the corpus.
    for sub in ("tmp", "spark-local", "artifacts"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM the run starts (spark-submit's launcher too): temp files in
    # the checkout, and no hsperfdata file, which the JVM always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}")))
    # Spark's Python workers import the engine: they need the root on the path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    sys.path[:0] = [ROOT, HERE]

    import numpy as np

    import corpus
    import stats
    from hadoop_source_spark import get_spark, workload
    from probes import SparkClock, Tracer
    from sink import fingerprint
    from workloads import QUERY_OPS, QueryOp, StorageInputs, storage_ops, written_bytes

    cpus = cpu_count()
    base_dir = os.path.join(WORK, "corpus", f"sf{BASE_SF}")
    t_build = time.perf_counter()
    built = corpus.ensure(BASE_SF, base_dir)
    build_s = time.perf_counter() - t_build

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        t_setup = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", cpus=cpus, driver_memory=DRIVER_MEMORY,
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                # G1 grows the heap on its pause-time goals, so the pages it
                # touches (peak_rss_mb) moved 2.1-2.8 GB between runs of the same
                # work; the serial collector grows it on the data live after each
                # collection, which the ops decide
                "spark.driver.extraJavaOptions": "-XX:+UseSerialGC",
                "spark.hadoop.hadoop.tmp.dir": os.path.join(WORK, "tmp", "hadoop"),
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job/stage/execution of the run in the status stores
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t_setup
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        rng = np.random.default_rng(args.seed)
        clock = SparkClock(spark)
        tracer = Tracer(clock)
        env = Env(spark, tracer, clock)
        if args.trace:
            workload.table = tracer.wrap_table(workload.table)
            df_cls = type(spark.range(0))  # the concrete (classic) DataFrame
            for meth in ("localCheckpoint", "checkpoint"):
                setattr(df_cls, meth, tracer.wrap_checkpoint(getattr(df_cls, meth), meth))

        storage_inputs = None
        if WORKLOADS[args.workload] == "queries":
            with open(os.path.join(HERE, "expected.json")) as fh:
                want = json.load(fh)[args.workload]
            ops = [QueryOp(n, base_dir, want.get(n, {}).get("fingerprint")) for n in QUERY_OPS]
            warm_groups = [ops]

            def order(p_rng):
                return [ops[i] for i in p_rng.permutation(len(ops))]
        else:
            storage_inputs = StorageInputs(base_dir, run_dir, rng, NAMESPACE_ENTRIES)
            writes, reads = storage_ops(
                storage_inputs, fingerprint(spark.read.parquet(storage_inputs.kv_path)))
            warm_groups = [writes, reads]
            ops = writes + reads

            def order(p_rng):
                return ([writes[i] for i in p_rng.permutation(len(writes))]
                        + [reads[i] for i in p_rng.permutation(len(reads))])

        warm_samples, warm_s = warm_pass(env, warm_groups, cpus)
        setup_s = time.perf_counter() - t_setup - sum(w["check_s"] for w in warm_samples)

        samples: list = []
        passes: list = []
        t_meas = time.perf_counter()
        while True:
            passes.append(run_pass(env, order(rng), len(passes), bool(args.trace), samples))
            if time.perf_counter() - t_meas >= args.seconds:
                break
            if time.perf_counter() - t_proc + passes[-1]["wall_s"] * 1.1 > DEADLINE_S:
                break

        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        lat = [s["latency_s"] for s in samples]
        walls = [p["wall_s"] for p in passes]
        failed = sum(1 for s in samples if s["error"])
        warm_failed = sum(1 for s in warm_samples if s["error"])
        # Op latency statistics, reported but not gated: with one sample of
        # each op per run the order statistics follow whichever op sits at that
        # rank (12-32% run-to-run spread over 5-10 runs).
        tail_v, tail_pct, tail_beyond = stats.tail(lat)
        kinds = {k: [s["latency_s"] for s in samples if s["kind"] == k] for k in ("write", "read")}
        latency = {"op_p50_s": stats.median(lat), "op_tail_s": tail_v,
                   "op_tail_percentile": tail_pct, "op_tail_samples_beyond": tail_beyond,
                   "write_p50_s": stats.median(kinds["write"]),
                   "read_p50_s": stats.median(kinds["read"]),
                   "fail_ratio": failed / max(1, len(samples)), "op_samples": len(lat)}

        metrics: dict[str, float]
        counts: dict[str, int]
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "pass_s": stats.median(walls),
                "peak_rss_mb": peak_rss_mb,
            }
            counts = {"setup_s": 1, "pass_s": len(walls), "peak_rss_mb": 1}
            units = END_TO_END
        else:
            metrics = {k: stats.median([p["layers"].get(k, 0.0) for p in passes])
                       for k in PER_PASS_LAYERS}
            metrics["exec.util"] = stats.median([
                p["layers"].get("exec.task_s", 0.0) / (p["wall_s"] * cpus) for p in passes])
            metrics["write_p50_s"] = latency["write_p50_s"]
            metrics["read_p50_s"] = latency["read_p50_s"]
            if storage_inputs is not None:
                wb = written_bytes(storage_inputs)
                metrics["io.written_mb"] = wb / 2**20
                metrics["stored_bytes_per_user_byte"] = wb / (3 * storage_inputs.user_bytes)
            else:
                metrics["io.written_mb"] = metrics["stored_bytes_per_user_byte"] = 0.0
            metrics["session.start_s"] = session_start_s
            metrics["session.warm_s"] = warm_s
            counts = {k: len(passes) for k in metrics}
            units = PER_LAYER

        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "nproc": os.cpu_count(),
            "versions": versions(), "python": platform.python_version(),
            "corpus": {"dir": os.path.relpath(base_dir, ROOT),
                       "built_this_run": built, "build_s": build_s},
            "passes": len(passes), "op_samples": len(samples),
            "latency": latency, "warm_failures": warm_failed,
            "sample_counts": counts,
        }
        artifact = {
            "context": context, "metrics": metrics, "passes": passes,
            "samples": samples, "warm_samples": warm_samples,
            "spans": tracer.records() if args.trace else [],
        }
        name = f"{args.workload}_seed{args.seed}_trace{args.trace}.json"
        with open(os.path.join(WORK, "artifacts", name), "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in metrics.items():
        print(f"{k:32s} {v:14.6f} {units[k]:6s} n={counts[k]}")
    print(f"# op_p50_s {latency['op_p50_s']:.6f} s, op_tail_s {tail_v:.6f} s at "
          f"p{tail_pct:.1f} ({tail_beyond} beyond), write_p50_s "
          f"{latency['write_p50_s']:.6f} s, read_p50_s {latency['read_p50_s']:.6f} s "
          f"(n={len(lat)} op samples)")
    print(f"# passes={len(passes)} attempted={len(samples)} failed={failed} "
          f"fail_ratio={latency['fail_ratio']} warm_failed={warm_failed} cpus={cpus}")
    print(json.dumps({
        "correct": failed == 0 and warm_failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def versions() -> dict[str, str]:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "numpy": numpy.__version__}


if __name__ == "__main__":
    sys.exit(main())
