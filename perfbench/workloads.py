"""The benchmark's ops: the query suite and the storage read/write mix.

An op is called once per pass. `run` is the timed part; `check` compares
what it produced with a reference and runs untimed; `trace` turns the
op's marks into per-layer numbers after the clock has stopped, in traced
passes only.
"""

from __future__ import annotations

import fnmatch
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hadoop_source_spark import catalog, io, workload

from sink import Fingerprint, collect, fingerprint, sink_frame

# The 14 headline queries (workload.headline_queries() at the time the
# benchmark was defined) plus four scale-path ops, listed by name so that
# a change to the registry's headline flags cannot change the benchmark.
QUERY_OPS = (
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "window_running_total", "asof_purchase_click", "events_hourly",
    "dedup_exact", "dedup_minhash_lsh", "doc_profile", "ann_cosine_topk",
    "ann_cosine_ivf", "q09_product_profit", "dedup_connected_components",
    "range_join_attribution",
    "bm25_search", "ec_rs_reconstruct_check", "cross_source_dup_matrix",
    "semdedup_prune",
)


@dataclass
class Result:
    """What a timed call produced, plus the marks the trace needs."""
    value: object = None
    marks: list = field(default_factory=list)
    handle: object = None


class QueryOp:
    kind = "query"

    def __init__(self, name: str, corpus_dir: str, expected: Fingerprint | None):
        self.name = name
        self.fn = workload.QUERIES[name].fn
        self.corpus_dir = corpus_dir
        self.expected = expected

    def run(self, env) -> Result:
        tr, clock = env.tracer, env.clock
        root = tr.root
        res = Result()
        with tr.span("workload.build", root) as b:
            tr.build_span = b.id
            res.marks.append(clock.mark() if tr.active else None)
            df = self.fn(env.spark, self.corpus_dir)
            res.marks.append(clock.mark() if tr.active else None)
        with tr.span("exec.sink", root) as s:
            agg = sink_frame(df)
            res.value = collect(agg)
        res.handle = (agg, s)
        return res

    def check(self, env, res: Result) -> str | None:
        if self.expected is None:
            return "no validated fingerprint"
        if tuple(res.value) != tuple(self.expected):
            return f"fingerprint {list(res.value)} != expected {list(self.expected)}"
        return None

    def trace(self, env, res: Result) -> dict[str, float]:
        tr, clock = env.tracer, env.clock
        m0, m1 = res.marks
        m2 = clock.mark()
        clock.settle()
        agg, sink_span = res.handle
        phases = agg._jdf.queryExecution().tracker().phases()
        plan_s, it = 0.0, phases.keys().iterator()
        while it.hasNext():
            plan_s += phases.apply(it.next()).durationMs() / 1e3
        tr.add_span("catalyst.plan", sink_span.id, sink_span.start,
                    sink_span.start + plan_s)
        ex = clock.exec_work(m0, m2)
        kern = clock.kernel_work(m0, m2)
        build = [s for s in tr.spans if s.op == self.name and s.pass_no == tr.pass_no]
        tables = [s for s in build if s.name == "data.table"]
        ckpts = [s for s in build if s.name == "workload.checkpoint"]
        b = next(s for s in build if s.name == "workload.build")
        out = {
            "workload.build_s": b.end - b.start,
            "workload.build_jobs": float(m1.job - m0.job),
            "workload.checkpoints": float(len(ckpts)),
            "workload.checkpoint_s": sum(s.end - s.start for s in ckpts),
            "data.table.calls": float(len(tables)),
            "data.table.s": sum(s.end - s.start for s in tables),
            "data.table.jobs": float(sum(s.attrs.get("jobs", 0) for s in tables)),
            "catalyst.plan_s": plan_s,
            "exec.s": max(0.0, sink_span.end - sink_span.start - plan_s),
        }
        out.update({f"exec.{k}": v for k, v in ex.items()})
        out.update({f"kernel.{k}": v for k, v in kern.items()})
        return out


# ---------------------------------------------------------------------------
# storage-rw


def _fnmatch_path(pattern: str, path: str) -> bool:
    """Hadoop glob semantics (wildcards never cross '/'), component-wise."""
    pp, xp = pattern.split("/"), path.split("/")
    return len(pp) == len(xp) and all(fnmatch.fnmatchcase(x, p) for p, x in zip(pp, xp))


def namespace(rng: np.random.Generator, n_entries: int) -> pa.Table:
    """A synthetic file tree: /ns/dNN/sM directories and files below them,
    with seeded extensions, sizes and modification times."""
    n_top = max(2, n_entries // 1000)
    tops = [f"/ns/d{i:02d}" for i in range(n_top)]
    subs = [f"{t}/s{j}" for t in tops for j in range(10)]
    n_files = n_entries - len(tops) - len(subs)
    parent = np.array(subs)[rng.integers(0, len(subs), n_files)]
    ext = np.array(("log", "parquet", "txt", "tmp"))[rng.choice(4, n_files, p=(0.4, 0.3, 0.2, 0.1))]
    names = [f"{p}/f{i:06d}.{e}" for i, (p, e) in enumerate(zip(parent, ext))]
    lengths = rng.lognormal(10.0, 2.0, n_files).astype(np.int64)
    paths = tops + subs + names
    parents = ["/ns"] * len(tops) + [s.rsplit("/", 1)[0] for s in subs] + list(parent)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    mtime = t0 + rng.integers(0, 30 * 86_400 * 10**6, len(paths))
    return pa.table({
        "path": paths,
        "parent": parents,
        "is_dir": [True] * (len(tops) + len(subs)) + [False] * n_files,
        "length": np.concatenate([np.zeros(len(tops) + len(subs), np.int64), lengths]),
        "mtime": pa.array(mtime, pa.timestamp("us")),
    })


class StorageInputs:
    """Seeded inputs and their references for one storage pass set: the kv
    table from the corpus, present/absent keys, scan ranges, a namespace
    and the glob/size/depth query over it."""

    GETS = 100
    SCANS = 4
    PAGE = 1000

    def __init__(self, corpus_dir: str, out_dir: str, rng: np.random.Generator,
                 n_entries: int):
        self.kv_path = os.path.join(corpus_dir, "kv.parquet")
        self.out_dir = out_dir
        kv = pq.read_table(self.kv_path)
        self.rows = kv.num_rows
        self.user_bytes = int(pc.sum(pc.binary_length(kv["key"])).as_py()
                              + pc.sum(pc.binary_length(kv["value"])).as_py())
        keys = np.sort(np.array(kv["key"].to_pylist()))
        uniq = np.unique(keys)
        present = [str(k) for k in rng.choice(uniq, self.GETS, replace=False)]
        # linenumber is never 0, so key*8+0 is absent but inside the key range
        absent = [f"{int(k) // 8 * 8:012d}" for k in rng.choice(uniq, self.GETS)]
        self.get_keys = present + absent
        want = pc.is_in(kv["key"], value_set=pa.array(self.get_keys))
        hits = kv.filter(want)
        self.get_rows = sorted(zip(hits["key"].to_pylist(), hits["value"].to_pylist()))
        self.get_hits = len(set(present))
        width = max(1, len(uniq) // 1000)
        starts = rng.integers(0, len(uniq) - width, self.SCANS)
        self.ranges = [(str(uniq[s]), str(uniq[s + width])) for s in starts]
        self.range_rows = [int(np.searchsorted(keys, hi) - np.searchsorted(keys, lo))
                           for lo, hi in self.ranges]

        ns = namespace(rng, n_entries)
        self.ns_path = os.path.join(out_dir, "namespace.parquet")
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(ns, self.ns_path)
        self.glob = f"/ns/d[0-{int(rng.integers(1, 10))}]*/s*/*.log"
        self.min_len = int(rng.integers(10_000, 50_000))
        paths, lengths = ns["path"].to_pylist(), ns["length"].to_pylist()
        self.find_rows = sum(
            1 for p, n in zip(paths, lengths)
            if n >= self.min_len and _fnmatch_path(self.glob, p) and len(p.split("/")) <= 5)
        du: dict[str, list[int]] = {}
        for p, par, d, n in zip(paths, ns["parent"].to_pylist(),
                                ns["is_dir"].to_pylist(), lengths):
            if not d:
                acc = du.setdefault(par, [0, 0])
                acc[0] += n
                acc[1] += 1
        self.du = {k: tuple(v) for k, v in du.items()}
        self.ls_page = sorted(paths)[: self.PAGE]

    def target(self, name: str) -> str:
        return os.path.join(self.out_dir, "written", name)


def _parts(path: str) -> list[str]:
    """A Spark output directory's part files, in partition order."""
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.startswith("part-") and f.endswith(".parquet"))


def key_order(path: str, key: str = "key") -> str | None:
    """None when the keys never decrease within each part file and the key
    column's min/max statistics rise from each row group to the next
    without overlap, and strictly from each part file to the next (range
    partitioning keeps equal keys in one file): the sparse index a sorted
    copy's point gets and scans rely on."""
    prev = None
    for f in _parts(path):
        keys = pq.read_table(f, columns=[key])[key].combine_chunks()
        if len(keys) > 1 and not pc.all(pc.greater_equal(keys[1:], keys[:-1])).as_py():
            return f"{os.path.basename(f)}: {key} not sorted within the file"
        md = pq.ParquetFile(f).metadata
        col = md.schema.to_arrow_schema().get_field_index(key)
        first = True
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            st = rg.column(col).statistics
            where = f"{os.path.basename(f)} row group {i}"
            if st is None or not st.has_min_max:
                return f"{where}: no {key} statistics"
            if prev is not None and (st.min <= prev if first else st.min < prev):
                return f"{where}: {key} min {st.min!r} overlaps the previous max {prev!r}"
            prev, first = st.max, False
    return None if prev is not None else f"{path}: no row groups"


def missing_bloom(spark, path: str, key: str = "key") -> str | None:
    """None when the key column of every row group has a bloom filter in the
    file footer. pyarrow does not expose bloom filter offsets, so the
    footers are read with the JVM's parquet library."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for f in _parts(path):
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf))
        try:
            for i, block in enumerate(reader.getFooter().getBlocks()):
                col = next(c for c in block.getColumns() if c.getPath().toDotString() == key)
                if col.getBloomFilterOffset() < 0:
                    return f"{os.path.basename(f)} row group {i}: no {key} bloom filter"
        finally:
            reader.close()
    return None


class StorageOp:
    """One io/catalog call, timed with whatever it must read to return a
    complete result. A write's target is removed and the page cache
    flushed before the clock starts, so no write pays for the last one's
    write-back. `hits` is the number of present keys a get looks up."""

    def __init__(self, name: str, kind: str, layer_metric: str, call, check,
                 target: str | None = None, hits: int = 0):
        self.name, self.kind, self.layer_metric = name, kind, layer_metric
        self._call, self._check, self.target, self.hits = call, check, target, hits

    def prepare(self) -> None:
        if self.target:
            shutil.rmtree(self.target, ignore_errors=True)
            os.sync()

    def run(self, env) -> Result:
        tr = env.tracer
        res = Result()
        res.marks.append(env.clock.mark() if tr.active else None)
        with tr.span(self.layer_metric.rsplit("_s", 1)[0], tr.root):
            res.value = self._call(env)
        return res

    def check(self, env, res: Result) -> str | None:
        return self._check(env, res.value)

    def trace(self, env, res: Result) -> dict[str, float]:
        m1 = env.clock.mark()
        env.clock.settle()
        ex = env.clock.exec_work(res.marks[0], m1)
        out = {f"exec.{k}": v for k, v in ex.items()}
        root = next(s for s in env.tracer.spans
                    if s.id == env.tracer.root)  # closed before trace() runs
        out["exec.s"] = root.end - root.start
        out[self.layer_metric] = root.end - root.start
        if self.name == "kv_get":
            # rows the get's scans read per key it found: read amplification
            out["io.kv_get_input_mb"] = ex["input_mb"]
            out["io.kv_get_rows_per_hit"] = ex["input_records"] / self.hits
        return out


def storage_ops(inp: StorageInputs, source_fp: Fingerprint) -> tuple[list, list]:
    """(write ops, read ops). Writes go first in a pass; reads need them."""

    def src(env):
        return env.spark.read.parquet(inp.kv_path)

    def copy_of_source(read, path, sorted_keys=False, bloom=False):
        """A write's check: the whole copy reads back as the source rows; a
        sorted copy's key statistics rise across row groups and files; a
        bloom copy has a key bloom filter in every row group."""
        def check(env, _value):
            fp = fingerprint(read(env.spark, path))
            if fp != source_fp:
                return f"copy {fp} != source {source_fp}"
            return ((sorted_keys and key_order(path))
                    or (bloom and missing_bloom(env.spark, path)) or None)
        return check

    def same_rows(want):
        def check(_env, got):
            return None if got == want else f"rows differ from reference ({len(got)} vs {len(want)})"
        return check

    def get_from(path):
        def call(env):
            rows = io.read_kv(env.spark, path).filter(F.col("key").isin(inp.get_keys)).collect()
            return sorted((r["key"], r["value"]) for r in rows)
        return call

    def scan(env):
        kv = io.read_kv(env.spark, inp.target("kv"))
        return [fingerprint(kv.filter((F.col("key") >= lo) & (F.col("key") < hi)))[0]
                for lo, hi in inp.ranges]

    def walk(env):
        return fingerprint(catalog.files_from_fs(env.spark, inp.target("")))[0]

    def walk_check(_env, n):
        want = sum(len(d) + len(f) for _, d, f in os.walk(inp.target("")))
        return None if n == want else f"walk saw {n} entries, tree has {want}"

    def ns(env):
        return env.spark.read.parquet(inp.ns_path)

    def find(env):
        df = catalog.find(ns(env), catalog.glob_filter("path", inp.glob),
                          F.col("length") >= inp.min_len, max_depth=5, depth_col="path")
        return fingerprint(df)[0]

    def du(env):
        rows = catalog.du(ns(env).filter(~F.col("is_dir")), "parent").collect()
        return {r["parent"]: (r["length"], r["file_count"]) for r in rows}

    def ls(env):
        page = next(catalog.paginate(catalog.ls(ns(env)), ["path"], inp.PAGE))
        return [r["path"] for r in page]

    seq, kv, bloom = inp.target("seq"), inp.target("kv"), inp.target("bloom")
    writes = [
        StorageOp("seq_write", "write", "io.seq_write_s", lambda env: io.write_sequence_file(
            src(env), seq, compression="block"),
            copy_of_source(io.read_sequence_file, seq), target=seq),
        StorageOp("kv_write", "write", "io.kv_write_s", lambda env: io.write_kv_sorted(
            src(env), kv), copy_of_source(io.read_kv, kv, sorted_keys=True), target=kv),
        StorageOp("bloom_write", "write", "io.bloom_write_s", lambda env: io.write_kv_bloom(
            src(env), bloom, expected_ndv=inp.rows),
            copy_of_source(io.read_kv, bloom, sorted_keys=True, bloom=True), target=bloom),
    ]
    reads = [
        StorageOp("seq_read", "read", "io.seq_read_s",
                  lambda env: fingerprint(io.read_sequence_file(env.spark, seq)),
                  lambda _env, fp: None if fp == source_fp else f"read back {fp} != written {source_fp}"),
        StorageOp("kv_get", "read", "io.kv_get_s", get_from(kv), same_rows(inp.get_rows),
                  hits=inp.get_hits),
        StorageOp("bloom_get", "read", "io.bloom_get_s", get_from(bloom), same_rows(inp.get_rows)),
        StorageOp("kv_scan", "read", "io.kv_scan_s", scan, same_rows(inp.range_rows)),
        StorageOp("walk", "read", "catalog.walk_s", walk, walk_check),
        StorageOp("find", "read", "catalog.find_s", find, same_rows(inp.find_rows)),
        StorageOp("du", "read", "catalog.du_s", du, same_rows(inp.du)),
        StorageOp("ls", "read", "catalog.ls_s", ls, same_rows(inp.ls_page)),
    ]
    return writes, reads


def written_bytes(inp: StorageInputs) -> int:
    total = 0
    for name in ("seq", "kv", "bloom"):
        for d, _, files in os.walk(inp.target(name)):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
