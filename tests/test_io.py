"""Format/IO round-trips — the reference's own test style
(common-test/io/TestSequenceFile.java write→read-back)."""

from __future__ import annotations

import glob
import tempfile

import pytest
from pyspark.sql import functions as F

from hadoop_source_spark import io as hio


@pytest.fixture
def kv_df(spark):
    return spark.createDataFrame(
        [(f"k{i:04d}", f"v{i}") for i in range(1000)], "key string, value string"
    )


def test_sequence_file_round_trip(spark, kv_df):
    """Real Hadoop SequenceFile: write and read back bit-identically."""
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/seq"
        hio.write_sequence_file(kv_df, path)
        back = hio.read_sequence_file(spark, path)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, kv_df.collect())
        )


def test_sequence_file_typed_block_compressed_round_trip(spark):
    """SequenceFile fidelity options (SequenceFile.java:235,:838):
    block-compressed LongWritable/BytesWritable round trip, plus
    record-compressed Int/Double — the Writable classes + CompressionType
    surface a Hadoop-migration user needs."""
    base = 1 << 32  # LongWritable needs past-int-range values (see io.py)
    df = spark.range(base, base + 200).select(
        F.col("id").alias("key"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "UTF-8").alias(
            "value"
        ),
    )
    with tempfile.TemporaryDirectory() as d:
        hio.write_sequence_file(
            df, f"{d}/seq_block",
            key_class="org.apache.hadoop.io.LongWritable",
            value_class="org.apache.hadoop.io.BytesWritable",
            compression="block",
        )
        back = hio.read_sequence_file(
            spark, f"{d}/seq_block", schema="key long, value binary"
        )
        got = {r.key: bytes(r.value) for r in back.collect()}
        assert got == {
            i: f"payload-{i}".encode() for i in range(base, base + 200)
        }

    dbl = spark.range(0, 50).select(
        F.col("id").cast("int").alias("key"),
        (F.col("id") * 1.5).alias("value"),
    )
    with tempfile.TemporaryDirectory() as d:
        hio.write_sequence_file(
            dbl, f"{d}/seq_rec",
            key_class="org.apache.hadoop.io.IntWritable",
            value_class="org.apache.hadoop.io.DoubleWritable",
            compression="record",
        )
        back = hio.read_sequence_file(
            spark, f"{d}/seq_rec", schema="key int, value double"
        )
        got = {r.key: r.value for r in back.collect()}
        assert got == {i: i * 1.5 for i in range(50)}


def test_kv_sorted_write_is_sorted_and_pruned(spark, kv_df):
    """MapFile analog: global key order across files + stats pruning."""
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/mapfile"
        hio.write_kv_sorted(kv_df, path, "key", num_partitions=4)
        back = hio.read_kv(spark, path)
        assert back.count() == 1000
        # point lookup goes through pushdown (PushedFilters in the scan)
        plan = back.filter(F.col("key") == "k0500")._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(key), EqualTo(key,k0500)" in plan
        got = back.filter(F.col("key") == "k0500").collect()
        assert [(r.key, r.value) for r in got] == [("k0500", "v500")]


def test_kv_bloom_write_carries_bloom_and_answers_lookups(spark):
    """BloomMapFile analog: parquet column bloom on the key. Receipt =
    the bloom-enabled file is measurably larger than the identical
    bloom-less write (the serialized filter bytes; pyarrow 16 exposes no
    footer accessor), pushdown still fires, and present/absent point
    lookups answer correctly — absent keys INSIDE the key range, where
    min/max pruning is blind, are the case the bloom exists for."""
    import os

    # sparse keyspace: only even keys present, so odd probes fall inside
    # [min, max] of every file and only a bloom can skip them
    kv = spark.range(0, 20000).select(
        (F.col("id") * 2).alias("key"), F.col("id").alias("value")
    )
    with tempfile.TemporaryDirectory() as d:
        plain, bloom = f"{d}/plain", f"{d}/bloom"
        hio.write_kv_sorted(kv, plain, "key", num_partitions=2)
        hio.write_kv_bloom(
            kv, bloom, "key", expected_ndv=20000, num_partitions=2
        )

        def nbytes(p):
            return sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p) if f.endswith(".parquet")
            )

        assert nbytes(bloom) > nbytes(plain)  # filter bytes are in the files
        back = hio.read_kv(spark, bloom)
        probe = back.filter(F.col("key") == 4000)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "EqualTo(key,4000)" in plan
        assert [(r.key, r.value) for r in probe.collect()] == [(4000, 2000)]
        # absent-but-in-range key: bloom's case; result must be empty
        assert back.filter(F.col("key") == 4001).count() == 0


@pytest.mark.parametrize("codec", ["gzip", "bzip2", "lz4", "deflate"])
def test_text_compression_round_trip(spark, codec):
    """Codec matrix (GzipCodec/BZip2Codec/Lz4Codec/DefaultCodec):
    write compressed text, transparent decompress on read."""
    df = spark.createDataFrame([(f"line-{i}",) for i in range(500)], "value string")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/txt_{codec}"
        hio.write_text(df, path, compression=codec)
        back = hio.read_lines(spark, path)
        assert sorted(r.value for r in back.collect()) == sorted(
            f"line-{i}" for i in range(500)
        )


@pytest.mark.parametrize("codec", ["snappy", "gzip", "zstd", "lz4"])
def test_parquet_compression_round_trip(spark, codec):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(500)], "id long, v string")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/pq_{codec}"
        hio.write_parquet(df, path, compression=codec)
        assert spark.read.parquet(path).count() == 500


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_other_formats_round_trip(spark, fmt):
    """Source plurality (FileSystem connector dispatch analog): the same
    table through csv/json/orc keeps values."""
    from hadoop_source_spark.data import table

    df = table(spark, "/root/testdata/sf0.001", "nation")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t_{fmt}"
        w = df.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        w.format(fmt).save(path)
        r = spark.read
        if fmt == "csv":
            r = r.option("header", True).option("inferSchema", True)
        back = r.format(fmt).load(path)
        assert back.count() == df.count()
        assert sorted(r.n_name for r in back.select("n_name").collect()) == sorted(
            r.n_name for r in df.select("n_name").collect()
        )


def test_getmerge_single_file(spark, kv_df):
    """CopyCommands.Merge: ONE output file, ordered."""
    import glob

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/merged"
        hio.getmerge(kv_df.select(F.concat_ws("\t", "key", "value").alias("value")),
                     path, order=["value"])
        parts = glob.glob(f"{path}/part-*")
        assert len(parts) == 1
        with open(parts[0]) as f:
            lines = f.read().splitlines()
        assert lines == sorted(lines) and len(lines) == 1000


def test_concat_union(spark, kv_df):
    a = kv_df.filter(F.col("key") < "k0500")
    b = kv_df.filter(F.col("key") >= "k0500")
    assert hio.concat([a, b]).count() == 1000


def test_partitioned_write_prunes(spark):
    """Hive-style partitioned layout: a filter on the partition column must
    become a PartitionFilter (directory pruning, the namespace-level analog
    of MapFile's index skip)."""
    from hadoop_source_spark import plans
    from hadoop_source_spark.data import table

    l = table(spark, "/root/testdata/sf0.001", "lineitem")
    with tempfile.TemporaryDirectory() as d:
        hio.write_parquet(l, f"{d}/part_lineitem", partition_by=["l_returnflag"])
        back = spark.read.parquet(f"{d}/part_lineitem")
        q = back.filter(F.col("l_returnflag") == "R")
        plan = plans.executed_plan(q)
        assert "PartitionFilters: [isnotnull(l_returnflag" in plan
        n_r = q.count()
        assert n_r == l.filter(F.col("l_returnflag") == "R").count()


def test_fair_pool_submission(spark):
    """FAIR pool routing (queue-submission parity, SURVEY §2.10)."""
    from hadoop_source_spark.session import submit_to_pool

    submit_to_pool(spark, "interactive")
    assert (
        spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        == "interactive"
    )
    assert spark.range(10).count() == 10  # jobs still run in the pool
    submit_to_pool(spark, "default")


def test_cat_format_dispatch(spark, kv_df):
    """Display.Cat/Text: extension/content sniffing picks the decoder."""
    from hadoop_source_spark import io as hio2

    # parquet file by extension
    df = hio2.cat(spark, "/root/testdata/sf0.001/nation.parquet")
    assert df.count() == 25
    with tempfile.TemporaryDirectory() as d:
        # sequence dir with explicit fmt (the `-text` decode path)
        hio.write_sequence_file(kv_df, f"{d}/seq")
        back = hio2.cat(spark, f"{d}/seq", fmt="sequence")
        assert back.count() == 1000 and back.columns == ["key", "value"]
        # text dir sniffed
        hio.write_text(kv_df.select(F.col("key").alias("value")), f"{d}/txt")
        assert hio2.cat(spark, f"{d}/txt").count() == 1000


def test_sketch_accuracy(spark):
    """Approximate aggregates (SampleQuantiles.java:50, HLL role): bounded
    relative error vs exact — the production path for 100 TB quantiles."""
    from hadoop_source_spark.data import table

    e = table(spark, "/root/testdata/sf0.01", "events")
    exact_distinct = e.select("user_id").distinct().count()
    approx_distinct = e.agg(
        F.approx_count_distinct("user_id", rsd=0.02)
    ).collect()[0][0]
    assert abs(approx_distinct - exact_distinct) / exact_distinct < 0.1

    exact_p50 = e.agg(F.percentile("value", F.lit(0.5))).collect()[0][0]
    approx_p50 = e.agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(10000))
    ).collect()[0][0]
    assert abs(approx_p50 - exact_p50) / exact_p50 < 0.05


def test_file_checksum(spark):
    df = spark.createDataFrame([("abc",)], "v string")
    row = hio.file_checksum(df, "v").collect()[0]
    assert row.md5 == "900150983cd24fb0d6963f7d28e17f72"
    assert row.crc32 == 891568578  # zlib.crc32(b"abc")
    assert row.sha256.startswith("ba7816bf")


def test_capacity_queue_hierarchy_pools():
    """CapacityScheduler queue-tree parity (CapacityScheduler.java:211):
    conf/capacity-queues.xml flattens the capacity hierarchy into FAIR
    pools with proportional weights. Needs its own FAIR-mode context, so
    runs in a subprocess: asserts the scheduler built every queue with
    the configured weight/minShare and that two queues make progress
    concurrently."""
    import subprocess
    import sys

    script = r"""
import threading, sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .appName("capacity-pools-test")
         .config("spark.scheduler.mode", "FAIR")
         .config("spark.scheduler.allocation.file",
                 "/root/repo/conf/capacity-queues.xml")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
sc = spark.sparkContext
expected = {"prod": (60, 16), "analytics": (30, 8),
            "analytics.adhoc": (21, 4), "analytics.reports": (9, 2),
            "dev": (10, 0)}
for name, (w, ms) in expected.items():
    pool = sc._jsc.sc().getPoolForName(name).get()
    assert pool.weight() == w, (name, pool.weight())
    assert pool.minShare() == ms, (name, pool.minShare())
results = {}
def run(pool):
    sc.setLocalProperty("spark.scheduler.pool", pool)
    results[pool] = spark.range(2_000_000).selectExpr("sum(id)").collect()[0][0]
threads = [threading.Thread(target=run, args=(p,)) for p in ("prod", "dev")]
[t.start() for t in threads]
[t.join(120) for t in threads]
assert results["prod"] == results["dev"] == 1999999000000
print("POOLS-OK")
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300,
    )
    assert "POOLS-OK" in out.stdout, out.stderr[-2000:]


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Small-files compaction: many tiny files in, ~target-sized files
    out, content identical."""
    from hadoop_source_spark import io as hio

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)  # 64 tiny files
    import glob as g
    n_small = len(g.glob(src + "/*.parquet"))
    assert n_small >= 32
    n_out = hio.compact_parquet(spark, src, dst, target_bytes=10**9)
    files = g.glob(dst + "/*.parquet")
    assert len(files) == n_out <= 2  # total bytes << 1 GB -> one file
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]
    import pytest as _pt
    with _pt.raises(ValueError):
        hio.compact_parquet(spark, src, dst, target_bytes=0)


@pytest.mark.parametrize("schema,rows", [
    # map<string,long> as REAL MapWritable values (MapWritable.java:37)
    ("key string, value map<string,bigint>",
     [("k1", {"a": 1, "b": 2}), ("k2", {"c": 3}), ("k3", {})]),
    # array<long> via the index-keyed MapWritable encoding
    # (ArrayWritable.java:46 has no no-arg ctor, so raw ArrayWritable is
    # unreadable even to Hadoop itself) — order must survive
    ("key string, value array<bigint>",
     [("k1", [3, 1, 2]), ("k2", [10]), ("k3", [])]),
    # TwoDArrayWritable analog (TwoDArrayWritable.java:30): nested
    # index-keyed MapWritables preserve row/column order exactly
    ("key string, value array<array<bigint>>",
     [("k1", [[1, 2, 3], [4]]), ("k2", [[], [7, 8]]), ("k3", [])]),
], ids=["map", "array", "2darray"])
def test_sequence_file_composite_round_trip(spark, tmp_path, schema, rows):
    """Composite Writables through the one writer and reader: the value
    column's Spark type picks the boxing on write, `schema` on read."""
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "seq")
    hio.write_sequence_file(df, path)
    back = hio.read_sequence_file(spark, path, schema)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(rows)
    with open(glob.glob(f"{path}/part-*")[0], "rb") as f:
        assert b"org.apache.hadoop.io.MapWritable" in f.read(256)


AVRO_SCHEMA = {
    "type": "record", "name": "Doc", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "note", "type": ["null", "string"]},
    ],
}
AVRO_RECORDS = [
    {"id": 1, "name": "a", "score": 1.5, "tags": ["x", "y"],
     "attrs": {"n": 2}, "note": "hi"},
    {"id": 2, "name": "b", "score": -0.25, "tags": [],
     "attrs": {}, "note": None},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_round_trip(codec):
    """Pure-Python Avro container: encode → decode identity for the core
    schema surface, null and deflate codecs."""
    from hadoop_source_spark.functions import avro_lite as al

    blob = al.encode_container(AVRO_SCHEMA, AVRO_RECORDS, codec=codec)
    assert list(al.decode_container(blob)) == AVRO_RECORDS


def test_cat_sniffs_avro_magic(spark, tmp_path):
    """Display.Text's Avro branch (Display.java:124-164): an Avro file
    with NO extension is recognized by magic bytes and dumped as one
    JSON line per datum."""
    import json as _json

    from hadoop_source_spark.functions import avro_lite as al

    p = tmp_path / "noext_avro_file"
    p.write_bytes(al.encode_container(AVRO_SCHEMA, AVRO_RECORDS, codec="deflate"))
    out = hio.cat(spark, str(p))
    rows = sorted(r.value for r in out.collect())
    parsed = sorted((_json.loads(v)["id"], _json.loads(v)["name"]) for v in rows)
    assert parsed == [(1, "a"), (2, "b")]
    assert len(rows) == 2


def test_zorder_layout_prunes_2d_box_queries(spark, tmp_path):
    """The point of z-ordering: for a 2-D box predicate, the number of
    files whose min/max stats overlap the box (what a stats-pruning scan
    must read) is much smaller under z-order layout than under a 1-D
    sort layout — for boxes selective on the SECOND dimension, which a
    linear sort cannot cluster."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hadoop_source_spark import layout

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        F.floor(F.col("id") / 128).alias("y"),
    )
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "linear")
    layout.zorder_write(df, zdir, "x", "y", num_files=16)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def overlapping(path, lo, hi):
        import glob as g

        hit = 0
        for f in sorted(g.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            fxmn = fymn = float("inf")
            fxmx = fymx = float("-inf")
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                cols = {row.column(c).path_in_schema: row.column(c).statistics
                        for c in range(row.num_columns)}
                fxmn = min(fxmn, cols["x"].min); fxmx = max(fxmx, cols["x"].max)
                fymn = min(fymn, cols["y"].min); fymx = max(fymx, cols["y"].max)
            if fxmx >= lo[0] and fxmn <= hi[0] and fymx >= lo[1] and fymn <= hi[1]:
                hit += 1
        return hit

    # box selective in y (the dimension the linear layout ignores)
    z_hits = overlapping(zdir, (0, 0), (127, 15))
    l_hits = overlapping(ldir, (0, 0), (127, 15))
    assert l_hits == 16, l_hits  # linear: every file spans all of y
    assert z_hits <= l_hits // 2, (z_hits, l_hits)
    # and both layouts return identical data
    assert (
        spark.read.parquet(zdir).filter("y <= 15").count()
        == spark.read.parquet(ldir).filter("y <= 15").count()
        == 16 * 128
    )


def test_z_value_matches_python_interleave(spark):
    """layout.z_value's unrolled shift/or chain == a literal Python bit
    interleave for random 16-bit pairs, plus locality sanity: nearby
    points in both dims land in the same z-quadrant."""
    import random

    from pyspark.sql import functions as F

    from hadoop_source_spark import layout

    rng = random.Random(11)
    pts = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(300)]
    pts += [(0, 0), (65535, 65535), (65535, 0), (0, 65535)]
    df = spark.createDataFrame(pts, ["xq", "yq"])
    got = {
        (r.xq, r.yq): r.z
        for r in df.select(
            "xq", "yq", layout.z_value(F.col("xq"), F.col("yq")).alias("z")
        ).collect()
    }

    def py_z(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): py_z(x, y) for x, y in pts}
    # top-bit quadrant: both dims' high bits decide the top two z bits
    assert py_z(0, 0) >> 30 == 0 and py_z(65535, 65535) >> 30 == 3
