"""Format/IO layer — the reference's storage containers, Spark-first.

SequenceFile (common/io/SequenceFile.java): Spark ships Hadoop's
SequenceFile support natively — `write_sequence_file` /
`read_sequence_file` below are REAL Hadoop-binary-compatible files
(sc.sequenceFile / rdd.saveAsSequenceFile), not an emulation. A reader of
the reference's files can hand them to this engine unchanged. Like the
reference's one createWriter keyed by value class, the one writer/reader
pair picks the Writable boxing from the value column's type: scalars per
WRITABLE_SPARK_TYPE, map/array/array<array> as (nested) MapWritables.

MapFile (common/io/MapFile.java:66-69: sorted data + sparse index): the
Spark-native equivalent is `write_kv_sorted` — key-range-partitioned,
sorted parquet whose row-group min/max statistics ARE the sparse index
(predicate pushdown bisects them exactly like MapFile.Reader.get's index
binary search). TFile's block index (TFile.java:985) maps the same way.

Compression codecs (common/io/compress/*): parquet/text codec options —
all the reference's codecs (gzip/bzip2/lz4/snappy/zstd) are built into
Spark; bzip2/gzip text inputs are transparently decompressed on read
(CompressionCodecFactory extension dispatch).

getmerge (CopyCommands.Merge) → coalesce(1) write; concat (Concat.java:37)
→ union; Display.Cat/Text format sniffing → spark.read.format dispatch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType

TEXT_CODECS = {"none", "gzip", "bzip2", "lz4", "deflate", "snappy"}
PARQUET_CODECS = {"none", "snappy", "gzip", "zstd", "lz4", "uncompressed"}


# Writable class ↔ Spark SQL type (SURVEY §1.2 type map). The PySpark
# Writable converters handle the Java-side boxing both directions.
# Caveat (Pyrolite boxing): a Python int becomes java Integer when it fits
# in 32 bits, else Long — so IntWritable is for int-range keys and
# LongWritable for values beyond 2^31 (mixed-magnitude long columns should
# write as Text or split; the reader side decodes either class fine).
WRITABLE_SPARK_TYPE = {
    "org.apache.hadoop.io.Text": "string",
    "org.apache.hadoop.io.IntWritable": "int",
    "org.apache.hadoop.io.LongWritable": "long",
    "org.apache.hadoop.io.DoubleWritable": "double",
    "org.apache.hadoop.io.BooleanWritable": "boolean",
    "org.apache.hadoop.io.BytesWritable": "binary",
}

_SEQ_OUTPUT_FORMAT = "org.apache.hadoop.mapred.SequenceFileOutputFormat"


def _writable_boxing(dtype: DataType):
    """How a value of Spark type `dtype` is boxed as a composite Writable,
    or None for the scalar types of WRITABLE_SPARK_TYPE:

    - map<k,v> → MapWritable (common/io/MapWritable.java:37): Spark's
      Writable converter boxes dict entries to typed Writables per
      MapWritable's class-id table (MapWritable.java:152 readFields);
    - array<T> → MapWritable of {IntWritable index → element}. Raw
      ArrayWritable (ArrayWritable.java:46) has NO no-arg constructor, so
      even Hadoop's own SequenceFile.Reader cannot re-instantiate it
      reflectively; the index-keyed MapWritable reads back through ANY
      Hadoop reader;
    - array<array<T>> → nested index-keyed MapWritables
      ({row → {col → element}}), the TwoDArrayWritable analog
      (TwoDArrayWritable.java:30)."""
    if isinstance(dtype, MapType):
        return dict
    if isinstance(dtype, ArrayType):
        if isinstance(dtype.elementType, ArrayType):
            return lambda v: {i: dict(enumerate(row)) for i, row in enumerate(v)}
        return lambda v: dict(enumerate(v))
    return None


def _writable_unboxing(dtype: DataType):
    """Inverse of _writable_boxing for a read: restore array (and nested
    array) order from the integer keys. None when the decoded value is
    already the column's value (scalars, map → dict)."""
    if isinstance(dtype, ArrayType):
        if isinstance(dtype.elementType, ArrayType):
            return lambda m: [[x for _, x in sorted(row.items())]
                              for _, row in sorted(m.items())]
        return lambda m: [x for _, x in sorted(m.items())]
    return None


def write_sequence_file(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    value_col: str = "value",
    key_class: str = "org.apache.hadoop.io.Text",
    value_class: str = "org.apache.hadoop.io.Text",
    compression: str = "none",
    codec: str = "org.apache.hadoop.io.compress.DefaultCodec",
) -> None:
    """Write a 2-column DataFrame as a REAL Hadoop SequenceFile —
    binary-compatible with the reference's readers.

    Fidelity options mirror SequenceFile.Writer creation
    (common/io/SequenceFile.java:235 CompressionType NONE/RECORD/BLOCK;
    :838 createWriter with key/value classes): `compression` picks the
    writer variant (record-compressed / block-compressed), `codec` the
    compression codec, and key/value Writable classes come from the
    §1.2 type map (Text, Int/Long/Double/Boolean/BytesWritable). A map,
    array or array<array> value column is written as MapWritable values
    whatever `value_class` says (see _writable_boxing)."""
    kt = WRITABLE_SPARK_TYPE[key_class]
    box = _writable_boxing(df.schema[value_col].dataType)
    if box is None:
        vt = WRITABLE_SPARK_TYPE[value_class]
        rdd = df.select(
            F.col(key_col).cast(kt), F.col(value_col).cast(vt)
        ).rdd.map(tuple)
    else:
        value_class = "org.apache.hadoop.io.MapWritable"
        rdd = df.select(
            F.col(key_col).cast(kt).alias("k"), F.col(value_col).alias("v")
        ).rdd.map(lambda r: (r.k, box(r.v)))
    if compression == "none":
        rdd.saveAsHadoopFile(path, _SEQ_OUTPUT_FORMAT, key_class, value_class)
        return
    if compression not in ("record", "block"):
        raise ValueError(f"compression must be none|record|block, got {compression}")
    conf = {
        "mapreduce.output.fileoutputformat.compress": "true",
        "mapreduce.output.fileoutputformat.compress.type": compression.upper(),
        "mapreduce.output.fileoutputformat.compress.codec": codec,
    }
    rdd.saveAsHadoopFile(
        path, _SEQ_OUTPUT_FORMAT, key_class, value_class,
        conf=conf, compressionCodecClass=codec,
    )


def read_sequence_file(
    spark: SparkSession, path: str, schema: str = "key string, value string"
) -> DataFrame:
    """Read a Hadoop SequenceFile into a (key, value) DataFrame. The
    header's key/value classes + codec drive decoding on the Java side
    (SequenceFile.Reader.init) — pass `schema` matching the Writable
    types (see WRITABLE_SPARK_TYPE); an array or array<array> value
    column is rebuilt from its index-keyed MapWritable."""
    rdd = spark.sparkContext.sequenceFile(path)
    unbox = _writable_unboxing(DataType.fromDDL(schema).fields[1].dataType)
    if unbox is not None:
        rdd = rdd.map(lambda kv: (kv[0], unbox(kv[1])))
    return spark.createDataFrame(rdd, schema)


def _key_sorted_writer(df: DataFrame, key_col: str,
                       num_partitions: int | None) -> DataFrameWriter:
    """The MapFile layout: range partitioning gives cross-file key
    ordering, sortWithinPartitions gives in-file order."""
    parted = (
        df.repartitionByRange(num_partitions, F.col(key_col))
        if num_partitions
        else df.repartitionByRange(F.col(key_col))
    )
    return parted.sortWithinPartitions(key_col).write.mode("overwrite")


def write_kv_sorted(df: DataFrame, path: str, key_col: str = "key",
                    num_partitions: int | None = None) -> None:
    """MapFile analog: globally key-sorted parquet (_key_sorted_writer);
    parquet stats give the sparse index."""
    _key_sorted_writer(df, key_col, num_partitions).parquet(path)


def write_kv_bloom(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    expected_ndv: int = 1_000_000,
    num_partitions: int | None = None,
) -> None:
    """BloomMapFile analog at the STORAGE layer (io/BloomMapFile.java:48
    keeps a DynamicBloomFilter beside the MapFile index): key-sorted
    parquet with a parquet column bloom filter on the key. Point lookups
    then skip row groups on two independent signals — min/max stats
    (the sparse index) AND the bloom filter (membership for keys INSIDE
    a range but absent from it, where min/max can't help, e.g. sparse
    key spaces). The reader needs no code change: Spark's vectorized
    parquet reader consults blooms for pushed-down equality predicates.
    functions/bloom.py remains the QUERY-layer bloom (semi-join
    reduction); this is the file-format one."""
    (
        _key_sorted_writer(df, key_col, num_partitions)
        .option(f"parquet.bloom.filter.enabled#{key_col}", "true")
        .option(
            f"parquet.bloom.filter.expected.ndv#{key_col}",
            str(expected_ndv),
        )
        .parquet(path)
    )


def read_kv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def getmerge(df: DataFrame, path: str, fmt: str = "text",
             order: list[str] | None = None) -> None:
    """CopyCommands.Merge: concatenate into ONE output file. The explicit
    coalesce(1) is the semantic point (single ordered file) — a
    deliberately non-scalable sink for small results, as in the shell."""
    out = df.orderBy(*order) if order else df
    out.coalesce(1).write.mode("overwrite").format(fmt).save(path)


def concat(dfs: list[DataFrame]) -> DataFrame:
    """Concat.java:80 — same-schema concatenation, no dedup."""
    from hadoop_source_spark.operators.setops import union_all

    return union_all(dfs)


def read_lines(spark: SparkSession, path: str, line_sep: str | None = None) -> DataFrame:
    """LineReader (common/util/LineReader.java:48): split text into lines,
    custom delimiter supported, compressed input auto-decoded."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    return reader.text(path)


def write_text(df: DataFrame, path: str, compression: str = "none") -> None:
    w = df.write.mode("overwrite")
    if compression != "none":
        w = w.option("compression", compression)
    w.text(path)


def write_parquet(df: DataFrame, path: str, compression: str = "zstd",
                  partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int = 32,
) -> None:
    """Bucketed, sorted table — the co-location primitive that deletes the
    shuffle from repeated key joins (MapFile's 'keep it sorted so readers
    can merge' philosophy applied to join locality). Joining two tables
    bucketed on the same key with the same bucket count produces a
    SortMergeJoin with NO Exchange (asserted in tests)."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a previous session may have left the managed location behind
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    leftover = os.path.join(warehouse, table_name.lower())
    if os.path.exists(leftover):
        shutil.rmtree(leftover)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)  # managed table in spark.sql.warehouse.dir
    )


def read_avro_text(spark: SparkSession, path: str) -> DataFrame:
    """Display.Text's Avro branch (Display.java:124-164,
    AvroFileInputStream:258): dump each Avro datum as one JSON line.

    The SQL avro datasource is an external module; this path decodes the
    object-container format with the pure-Python codec in
    functions/avro_lite.py, fanned out one-file-per-task via the
    binaryFile source + mapInPandas — the same per-file-stream
    parallelism the shell command has, with Arrow batch transfer."""
    import pandas as pd

    from hadoop_source_spark.functions.avro_lite import records_to_json

    def dump(batches):
        for pdf in batches:
            for content in pdf["content"]:
                yield pd.DataFrame({"value": records_to_json(bytes(content))})

    bf = spark.read.format("binaryFile").load(path)
    return bf.select("content").mapInPandas(dump, "value string")


def _sniff_magic(p: str) -> str:
    """Magic-byte dispatch, exactly Display.Text's order (Display.java:
    124-164: gzip → SequenceFile → Avro → raw)."""
    try:
        with open(p, "rb") as f:
            head = f.read(4)
    except OSError:
        return ""
    if head[:2] == b"\x1f\x8b":
        return "text"  # gzip: transparently decompressed by the text source
    if head[:3] == b"SEQ":
        return "sequence"
    if head == b"Obj\x01":
        return "avro"
    if head == b"PAR1":
        return "parquet"
    return ""


def cat(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Display.Cat/Text (common/fs/shell/Display.java:72,116): read any
    supported container, auto-sniffing the format from magic bytes the
    way Display.Text does (:124-164 — gzip/SequenceFile/Avro), falling
    back to extension and directory-listing heuristics. SequenceFile dirs
    decode to (key, value) text, Avro files to JSON lines — the `-text`
    behavior."""
    if fmt is None:
        p = path.rstrip("/")
        if os.path.isfile(p):
            fmt = _sniff_magic(p)
        ext = p.rsplit(".", 1)[-1].lower() if "." in os.path.basename(p) else ""
        fmt = fmt or {
            "parquet": "parquet", "csv": "csv", "json": "json",
            "txt": "text", "text": "text", "orc": "orc",
            "gz": "text", "bz2": "text", "avro": "avro",
        }.get(ext, "")
        if not fmt:
            # directory: sniff by contained file names
            try:
                names = os.listdir(p)
            except OSError:
                names = []
            if any(n.endswith(".parquet") for n in names):
                fmt = "parquet"
            elif any(n.endswith(".orc") for n in names):
                fmt = "orc"
            elif any(n.endswith(".avro") for n in names):
                fmt = "avro"
            elif any(n.endswith((".txt", ".json", ".csv", ".gz", ".bz2"))
                     for n in names):
                fmt = "text"
            elif any(n.startswith("part-") and "." not in n for n in names):
                fmt = "sequence"  # Hadoop seq part files have no extension
            else:
                fmt = "text"
    if fmt == "sequence":
        return read_sequence_file(spark, path)
    if fmt == "avro":
        return read_avro_text(spark, path)
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", True).option("inferSchema", True)
    return reader.format(fmt).load(path)


def file_checksum(df: DataFrame, value_col: str) -> DataFrame:
    """Display.Checksum analog: content digests via built-in hash exprs
    (MD5Hash.java:35, PureJavaCrc32.java:39)."""
    return df.select(
        F.md5(F.col(value_col).cast("binary")).alias("md5"),
        F.crc32(F.col(value_col).cast("binary")).alias("crc32"),
        F.sha2(F.col(value_col).cast("binary"), 256).alias("sha256"),
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = 512 * 1024 * 1024,
    compression: str = "zstd",
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~target_bytes each. Returns the number of output files.

    The HDFS small-files problem (every file = NameNode heap + a map task
    in the reference; every file = a scan task + footer fetch in Spark)
    is THE recurring ops pain of long-running ingest at 100 TB — a
    streaming sink writing a file per trigger per partition produces
    millions. Compaction = one distributed read + repartition(ceil(
    bytes/target)) + write; AQE-free deterministic file count so the
    output layout is reproducible.

    Scale note: repartition is a full shuffle of the data being
    compacted — at 100 TB, compact per-partition-directory (date=...)
    in independent jobs, not the whole table at once.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    import math

    df = spark.read.parquet(src)
    try:  # classic session: exact byte size via the Hadoop FileSystem
        from py4j.java_gateway import java_import

        jvm = spark.sparkContext._jvm
        java_import(jvm, "org.apache.hadoop.fs.Path")
        jpath = jvm.Path(src)
        fs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        total_bytes = fs.getContentSummary(jpath).getLength()
    except AttributeError:  # Spark Connect: no Py4J gateway — size the
        # local/file inputs directly (public inputFiles API)
        import os
        from urllib.parse import urlparse

        total_bytes = 0
        for uri in df.inputFiles():
            p = urlparse(uri)
            if p.scheme in ("file", ""):
                total_bytes += os.path.getsize(p.path)
        if total_bytes == 0:
            raise NotImplementedError(
                "compact_parquet under Spark Connect supports file: "
                "sources only (no FileSystem gateway to size others)"
            )
    n_files = max(1, int(math.ceil(total_bytes / target_bytes)))
    df.repartition(n_files).write.mode("overwrite").option(
        "compression", compression
    ).parquet(dst)
    return n_files
