"""SequenceFile v6 (common/io/SequenceFile.java) framed as Arrow columns.

The reference's container of scalar Writables — Text, BytesWritable and
Int/Long/Double/BooleanWritable — encoded and decoded a whole record
batch at a time with numpy, and served to Spark as the Python data
source `hss_sequencefile` (DataSourceArrowWriter / DataSourceReader), so
no row crosses the JVM/Python boundary as a Python object. The bytes are
the reference's, in both directions:

- header (Writer.writeFileHeader): `SEQ\\x06`, the key and value class
  names, the compressed and block-compressed flags, the codec class
  name, an empty Metadata and the file's 16-byte sync hash;
- NONE and RECORD (Writer.append): int record length, int key length,
  key, value (under RECORD the value is its own zlib stream), with an
  escape + sync before the first record that starts SYNC_INTERVAL or
  more bytes past the last sync (checkAndWriteSync);
- BLOCK (BlockCompressWriter.sync): escape + sync, vint record count,
  then key lengths, keys, value lengths and values, each its own zlib
  stream. A block closes with the record that takes its keys and values
  to io.seqfile.compress.blocksize bytes.

DefaultCodec is zlib at its default level. Each part file is read in
byte ranges cut the way SequenceFileInputFormat cuts them; a range
starts at the first sync at or after its start and runs on to the first
sync at or after its end.
"""

from __future__ import annotations

import os
import shutil
import struct
import zlib
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import BinaryIO, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import DataType, StructType

NAME = "hss_sequencefile"
MAGIC = b"SEQ\x06"
DEFAULT_CODEC = "org.apache.hadoop.io.compress.DefaultCodec"
TEXT = "org.apache.hadoop.io.Text"
SYNC_ESCAPE = b"\xff\xff\xff\xff"  # int -1 where a record length would be
SYNC_SIZE = 20  # escape + 16-byte hash
SYNC_INTERVAL = 100 * 1024  # SequenceFile.SYNC_INTERVAL
BLOCK_BYTES = 1_000_000  # io.seqfile.compress.blocksize
MIN_SPLITS = 2  # sc.sequenceFile's minPartitions
SPLIT_CAP = 32 * 1024 * 1024  # fs.local.block.size caps a split
SPLIT_SLOP = 1.1  # FileInputFormat.SPLIT_SLOP
ZLIB_THREADS = 4  # per writing task; zlib releases the GIL
BLOCKS_AHEAD = 8  # blocks compressing ahead of the file, bounding a task's memory
BATCH_ROWS = 65_536  # rows per batch read from a NONE/RECORD split

# Writable class → (Spark SQL type, Arrow type, big-endian dtype of a
# fixed-width payload; None for the length-prefixed Text/BytesWritable)
WRITABLES = {
    TEXT: ("string", pa.string(), None),
    "org.apache.hadoop.io.BytesWritable": ("binary", pa.binary(), None),
    "org.apache.hadoop.io.IntWritable": ("int", pa.int32(), ">i4"),
    "org.apache.hadoop.io.LongWritable": ("bigint", pa.int64(), ">i8"),
    "org.apache.hadoop.io.DoubleWritable": ("double", pa.float64(), ">f8"),
    "org.apache.hadoop.io.BooleanWritable": ("boolean", pa.bool_(), "u1"),
}
_CLASS_OF = {spark: cls for cls, (spark, _, _) in WRITABLES.items()}


# ---------------------------------------------------------------------------
# Vectorised framing
# ---------------------------------------------------------------------------

def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated aranges: starts[i] .. starts[i] + lens[i] - 1 for every i."""
    ends = np.cumsum(lens)
    return np.arange(int(ends[-1]) if len(ends) else 0) + np.repeat(starts - (ends - lens), lens)


def _starts(sizes: np.ndarray) -> np.ndarray:
    return np.cumsum(sizes) - sizes


def vlong_encode(values) -> tuple[np.ndarray, np.ndarray]:
    """WritableUtils.writeVLong for every value: (bytes, per-value sizes).
    -112..127 is one byte; any other value is a marker byte carrying its
    sign and width, then its magnitude (one's complement if negative)
    big-endian."""
    v = np.asarray(values, np.int64)
    single = (v >= -112) & (v <= 127)
    if single.all():
        return v.astype(np.int8).view(np.uint8), np.ones(len(v), np.int64)
    neg = v < 0
    mag = np.where(neg, ~v, v)
    width = np.zeros(len(v), np.int64)
    rest = mag.copy()
    while rest.any():
        width += rest != 0
        rest >>= 8
    sizes = np.where(single, 1, width + 1)
    at = _starts(sizes)
    out = np.empty(int(sizes.sum()), np.uint8)
    marker = np.where(single, v, np.where(neg, -120, -112) - width)
    out[at] = marker.astype(np.int8).view(np.uint8)
    for k in range(1, int(width.max()) + 1):
        m = ~single & (width >= k)
        out[at[m] + k] = (mag[m] >> (8 * (width[m] - k))) & 0xFF
    return out, sizes


def vlong_decode(buf: np.ndarray, at: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WritableUtils.readVLong at each offset `at` of `buf`: (values, sizes)."""
    first = buf[at].view(np.int8).astype(np.int64)
    width = np.where(first >= -112, 0, np.where(first < -120, -120 - first, -112 - first))
    val = np.where(width == 0, first, 0)
    for k in range(1, int(width.max(initial=0)) + 1):
        m = width >= k
        val[m] = (val[m] << 8) | buf[at[m] + k]
    neg = first < -120
    val[neg] = ~val[neg]
    return val, width + 1


def vlong_run(buf: np.ndarray, count: int) -> np.ndarray:
    """`count` vints written back to back (a block's length buffer). Each
    vint's offset depends on the ones before it, so the chain of offsets
    is found by pointer doubling rather than a loop per vint."""
    if len(buf) == count:  # every one a single byte
        return buf.view(np.int8).astype(np.int64)
    first = buf.view(np.int8).astype(np.int64)
    size = np.where(first >= -112, 1, np.where(first < -120, -119 - first, -111 - first))
    jump = np.append(np.minimum(np.arange(len(buf)) + size, len(buf)), len(buf))
    at = np.zeros(1, np.int64)
    while len(at) < count:  # at: the first 2^k offsets; jump: 2^k vints on
        at = np.concatenate([at, jump[at]])
        jump = jump[jump]
    at = at[:count]
    if count and at[-1] >= len(buf):
        raise ValueError(f"length buffer holds fewer than {count} vints")
    values, sizes = vlong_decode(buf, at)
    if count and at[-1] + sizes[-1] != len(buf):
        raise ValueError(f"length buffer holds more than {count} vints")
    return values


def _interleave(parts: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Per record, the concatenation of every part's bytes for it. Each part
    is (all records' bytes back to back, per-record byte counts)."""
    sizes = sum(s for _, s in parts)
    out = np.empty(int(sizes.sum()), np.uint8)
    at = _starts(sizes)
    for data, s in parts:
        out[_ranges(at, s)] = data
        at = at + s
    return out, sizes


def _buffers(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(value lengths, value bytes back to back) of a string/binary array."""
    n = len(col)
    if n == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.uint8)
    large = pa.types.is_large_string(col.type) or pa.types.is_large_binary(col.type)
    width = 8 if large else 4
    _, offs, data = col.buffers()
    off = np.frombuffer(offs, f"i{width}", n + 1, col.offset * width).astype(np.int64)
    raw = np.frombuffer(data, np.uint8) if data is not None else np.zeros(0, np.uint8)
    return np.diff(off), raw[off[0]:off[-1]]


def encode(cls: str, col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Writable.write of every value of `col` as class `cls`:
    (serialized values back to back, per-value sizes)."""
    width = WRITABLES[cls][2]
    if width is not None:  # Int/Long/Double/BooleanWritable: big-endian, fixed width
        fixed = col.to_numpy(zero_copy_only=False).astype(width)
        return fixed.view(np.uint8), np.full(len(col), fixed.itemsize, np.int64)
    lens, data = _buffers(col)
    if cls == TEXT:  # vint byte count, UTF-8 bytes
        prefix = vlong_encode(lens)
    else:  # BytesWritable: int byte count, bytes
        prefix = (lens.astype(">i4").view(np.uint8), np.full(len(lens), 4, np.int64))
    return _interleave([prefix, (data, lens)])


def decode(cls: str, buf: np.ndarray, at: np.ndarray, sizes: np.ndarray) -> pa.Array:
    """Inverse of `encode` for the values serialized at buf[at[i]:at[i] + sizes[i]]."""
    _, arrow, width = WRITABLES[cls]
    n = len(at)
    if width is not None:
        w = np.dtype(width).itemsize
        if (sizes != w).any():
            raise ValueError(f"{cls} record is not {w} bytes")
        fixed = buf[_ranges(at, sizes)].view(width)
        return pa.array(fixed != 0 if width == "u1" else fixed.astype(fixed.dtype.newbyteorder("=")),
                        arrow)
    if cls == TEXT:
        lens, prefix = vlong_decode(buf, at)
    else:
        lens = buf[_ranges(at, np.full(n, 4, np.int64))].view(">i4").astype(np.int64)
        prefix = 4
    if (lens < 0).any() or (prefix + lens != sizes).any():
        raise ValueError(f"{cls} record length disagrees with its own length prefix")
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] >= 2**31:
        raise ValueError(f"{offsets[-1]} bytes of {cls} exceed one Arrow batch")
    data = buf[_ranges(at + prefix, lens)]
    return pa.Array.from_buffers(arrow, n, [None, pa.py_buffer(offsets.astype(np.int32)),
                                            pa.py_buffer(data)])


# ---------------------------------------------------------------------------
# File header
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Header:
    key_class: str
    value_class: str
    compression: str  # none | record | block
    codec: str | None
    sync: bytes
    end: int  # offset of the first record or block


def _text(s: str) -> bytes:
    b = s.encode()
    return vlong_encode([len(b)])[0].tobytes() + b


def header_bytes(key_class: str, value_class: str, compression: str, sync: bytes) -> bytes:
    flags = bytes([compression != "none", compression == "block"])
    codec = _text(DEFAULT_CODEC) if compression != "none" else b""
    return MAGIC + _text(key_class) + _text(value_class) + flags + codec + struct.pack(">i", 0) + sync


def _read_vlong(f: BinaryIO) -> int:
    first = int.from_bytes(f.read(1), "big", signed=True)
    if first >= -112:
        return first
    v = int.from_bytes(f.read(-120 - first if first < -120 else -112 - first), "big")
    return ~v if first < -120 else v


def _read_text(f: BinaryIO) -> str:
    return f.read(_read_vlong(f)).decode()


def read_header(f: BinaryIO) -> Header:
    """SequenceFile.Reader.init for a version-6 file; ValueError otherwise."""
    magic = f.read(4)
    if magic != MAGIC:
        raise ValueError(f"not a version-6 SequenceFile: starts {magic!r}")
    key_class, value_class = _read_text(f), _read_text(f)
    compressed, block = f.read(2)
    codec = _read_text(f) if compressed else None
    (pairs,) = struct.unpack(">i", f.read(4))
    for _ in range(2 * pairs):  # Metadata: Text name, Text value
        _read_text(f)
    sync = f.read(16)
    kind = "block" if block else "record" if compressed else "none"
    return Header(key_class, value_class, kind, codec, sync, f.tell())


def part_files(path: str) -> list[str] | None:
    """The part files under `path` (a directory or one file), leaving out
    hidden `_`/`.` names as Hadoop's input formats do; None for a path
    that is neither, such as a glob."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    return [os.path.join(path, n) for n in sorted(os.listdir(path))
            if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(path, n))]


def decodes(path: str, types: list[DataType]) -> bool:
    """True when every part file under `path` is a version-6 file of
    scalar Writables whose Spark types are `types`, with no codec or
    DefaultCodec: what the reader here decodes."""
    files = part_files(path)
    if files is None:
        return False
    want = [t.simpleString() for t in types]
    for p in files:
        with open(p, "rb") as f:
            try:
                h = read_header(f)
            except (ValueError, struct.error):
                return False
        if h.codec not in (None, DEFAULT_CODEC):
            return False
        if [WRITABLES.get(c, (None,))[0] for c in (h.key_class, h.value_class)] != want:
            return False
    return True


# ---------------------------------------------------------------------------
# Writing
# ---------------------------------------------------------------------------

class FileWriter:
    """One SequenceFile: the header, then the records of each appended
    batch, framed as `compression` says. Under BLOCK the four buffers of
    each block are compressed on `pool` while later batches are framed;
    blocks reach the file in order."""

    def __init__(self, f: BinaryIO, key_class: str, value_class: str,
                 compression: str, pool: ThreadPoolExecutor):
        self.f, self.pool = f, pool
        self.classes, self.compression = (key_class, value_class), compression
        self.sync = os.urandom(16)
        head = header_bytes(key_class, value_class, compression, self.sync)
        f.write(head)
        self.pos, self.last_sync = len(head), 0
        self.pending: list[tuple] = []  # framed records not yet in a block
        self.pending_bytes = 0
        self.blocks: deque = deque()  # (record count, compress futures)

    def append(self, batch: pa.RecordBatch) -> None:
        k, ks = encode(self.classes[0], batch.column(0))
        v, vs = encode(self.classes[1], batch.column(1))
        if self.compression == "block":
            self._cut_blocks(k, ks, v, vs)
        else:
            self._write_records(k, ks, v, vs)

    def close(self) -> None:
        if self.pending:
            self._queue_block()
        while self.blocks:
            self._write_block()

    def _write_records(self, k, ks, v, vs) -> None:
        if self.compression == "record":  # each value is its own zlib stream
            vo = np.append(_starts(vs), len(v))
            packed = [zlib.compress(v[a:b]) for a, b in zip(vo[:-1], vo[1:])]
            vs = np.fromiter(map(len, packed), np.int64, len(packed))
            v = np.frombuffer(b"".join(packed), np.uint8)
        head = np.empty((len(ks), 2), ">i4")
        head[:, 0], head[:, 1] = ks + vs, ks
        recs, sizes = _interleave([(head.view(np.uint8).ravel(), np.full(len(ks), 8)), (k, ks), (v, vs)])
        # checkAndWriteSync: a sync before each record that starts
        # SYNC_INTERVAL or more past the end of the last one
        at = self.pos + _starts(sizes)
        cuts, shift = [], 0
        while (i := int(np.searchsorted(at, self.last_sync + SYNC_INTERVAL - shift))) < len(at):
            cuts.append(int(at[i] - self.pos))
            shift += SYNC_SIZE
            self.last_sync = int(at[i]) + shift
        done = 0
        for cut in cuts:
            self.f.write(recs[done:cut])
            self.f.write(SYNC_ESCAPE + self.sync)
            done = cut
        self.f.write(recs[done:])
        self.pos += len(recs) + shift

    def _cut_blocks(self, k, ks, v, vs) -> None:
        ko, vo = np.append(_starts(ks), len(k)), np.append(_starts(vs), len(v))
        fill = self.pending_bytes + np.cumsum(ks + vs)
        lo = 0
        # BlockCompressWriter.append: the record that brings the block's keys
        # and values to BLOCK_BYTES closes it
        while (i := int(np.searchsorted(fill, BLOCK_BYTES))) < len(fill):
            self.pending.append((k[ko[lo]:ko[i + 1]], ks[lo:i + 1], v[vo[lo]:vo[i + 1]], vs[lo:i + 1]))
            self._queue_block()
            fill -= fill[i]
            lo = i + 1
        if lo < len(ks):
            self.pending.append((k[ko[lo]:], ks[lo:], v[vo[lo]:], vs[lo:]))
            self.pending_bytes = int(fill[-1])

    def _queue_block(self) -> None:
        k, ks, v, vs = (np.concatenate(p) for p in zip(*self.pending))
        self.pending, self.pending_bytes = [], 0
        bufs = (vlong_encode(ks)[0], k, vlong_encode(vs)[0], v)
        self.blocks.append((len(ks), [self.pool.submit(zlib.compress, b) for b in bufs]))
        while len(self.blocks) > BLOCKS_AHEAD:
            self._write_block()

    def _write_block(self) -> None:
        count, futures = self.blocks.popleft()
        out = [SYNC_ESCAPE, self.sync, vlong_encode([count])[0].tobytes()]
        for fut in futures:
            packed = fut.result()
            out += [vlong_encode([len(packed)])[0].tobytes(), packed]
        self.f.write(b"".join(out))


@dataclass
class _Part(WriterCommitMessage):
    temp: str
    name: str


class _Writer(DataSourceArrowWriter):
    """saveAsHadoopFile's output layout: one part file per input
    partition, written under `<path>/_temporary/` and renamed into place
    on commit, then `_SUCCESS`."""

    def __init__(self, path: str, schema: StructType, compression: str):
        self.path, self.compression = path, compression
        self.names = schema.fieldNames()
        self.classes = [_CLASS_OF[f.dataType.simpleString()] for f in schema.fields]

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _Part:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}"
        temp = os.path.join(self.path, "_temporary", str(ctx.taskAttemptId()), name)
        os.mkdir(os.path.dirname(temp))  # fails once abort() has removed _temporary
        with open(temp, "wb") as f, ThreadPoolExecutor(ZLIB_THREADS) as pool:
            w = FileWriter(f, *self.classes, self.compression, pool)
            for batch in iterator:
                for field, col in zip(self.names, batch.columns):
                    if col.null_count:
                        raise ValueError(f"column {field!r} holds nulls; a Writable has no null")
                w.append(batch)
            w.close()
        return _Part(temp, name)

    def commit(self, messages: list[_Part]) -> None:
        for m in messages:
            os.replace(m.temp, os.path.join(self.path, m.name))
        shutil.rmtree(os.path.join(self.path, "_temporary"))
        open(os.path.join(self.path, "_SUCCESS"), "wb").close()

    def abort(self, messages: list[_Part]) -> None:
        # Tasks still being killed may add files while rmtree runs, so it is
        # repeated; none can make _temporary again.
        temp = os.path.join(self.path, "_temporary")
        for _ in range(10):
            shutil.rmtree(temp, ignore_errors=True)
            if not os.path.exists(temp):
                break


# ---------------------------------------------------------------------------
# Reading
# ---------------------------------------------------------------------------

def splits(files: list[tuple[str, int]]) -> list[tuple[str, int, int]]:
    """(path, start, length) ranges as FileInputFormat.getSplits cuts them
    for SequenceFileInputFormat, given (path, size) of every part file."""
    total = sum(n for _, n in files)
    size = max(SYNC_INTERVAL, min(total // MIN_SPLITS, SPLIT_CAP))
    out = []
    for path, n in files:
        start = 0
        while (n - start) / size > SPLIT_SLOP:
            out.append((path, start, size))
            start += size
        if n > start:
            out.append((path, start, n - start))
    return out


def _next_sync(f: BinaryIO, start: int, sync: bytes, size: int) -> int:
    """SequenceFile.Reader.sync: the offset of the first escape + sync at
    or after `start`, or `size`."""
    at = start + 4
    while at < size:
        f.seek(at)
        chunk = f.read(1 << 20)
        i = chunk.find(sync)
        if i >= 0:
            return at + i - 4
        if len(chunk) < len(sync):
            break
        at += len(chunk) - len(sync) + 1
    return size


def _blocks(f: BinaryIO, h: Header, pos: int, end: int, size: int):
    """(record count, the four decompressed buffers) of every block whose
    sync starts before `end`."""
    while pos < min(end, size):
        f.seek(pos)
        if f.read(SYNC_SIZE) != SYNC_ESCAPE + h.sync:
            raise ValueError(f"no sync before the block at {pos}")
        count = _read_vlong(f)
        bufs = [zlib.decompress(f.read(_read_vlong(f))) for _ in range(4)]
        pos = f.tell()
        yield count, [np.frombuffer(b, np.uint8) for b in bufs]


def _records(f: BinaryIO, h: Header, pos: int, end: int, size: int):
    """(buffer, record offsets into it) of a NONE/RECORD range: every
    record up to the first sync at or after `end`. A record's offset
    depends on every length before it, so this walks them one by one."""
    f.seek(pos)
    buf = bytearray(f.read(max(end - pos, 0) + SYNC_INTERVAL))
    recs, i = [], 0
    while pos + i < size:
        if i + SYNC_SIZE > len(buf):
            buf += f.read(SYNC_INTERVAL)
        (n,) = struct.unpack_from(">i", buf, i)
        if n == -1:
            if pos + i >= end:
                break
            if buf[i + 4:i + SYNC_SIZE] != h.sync:
                raise ValueError(f"bad sync at {pos + i}")
            i += SYNC_SIZE
            continue
        if i + 8 + n > len(buf):
            buf += f.read(i + 8 + n - len(buf) + SYNC_INTERVAL)
            if i + 8 + n > len(buf):
                raise ValueError(f"record at {pos + i} runs past the end of the file")
        recs.append(i)
        i += 8 + n
    return buf, np.array(recs, np.int64)


class _Reader(DataSourceReader):
    """One partition per split of every part file; one Arrow batch per
    block, or per BATCH_ROWS records of a NONE/RECORD split."""

    def __init__(self, path: str, schema: StructType):
        self.path = path
        self.schema = pa.schema([(f.name, WRITABLES[_CLASS_OF[f.dataType.simpleString()]][1])
                                 for f in schema.fields])

    def partitions(self) -> list[InputPartition]:
        files = [(p, os.path.getsize(p)) for p in part_files(self.path) or []]
        return [InputPartition(s) for s in splits(files)]

    def read(self, partition: InputPartition | None) -> Iterator[pa.RecordBatch]:
        if partition is None:  # no part files: Spark still reads one partition
            return
        path, start, length = partition.value
        with open(path, "rb") as f:
            h = read_header(f)
            size = os.fstat(f.fileno()).st_size
            pos = h.end if start <= h.end else _next_sync(f, start, h.sync, size)
            kc, vc = h.key_class, h.value_class
            if h.compression == "block":
                for count, (kl, keys, vl, vals) in _blocks(f, h, pos, start + length, size):
                    ks, vs = vlong_run(kl, count), vlong_run(vl, count)
                    if ks.sum() != len(keys) or vs.sum() != len(vals):
                        raise ValueError(f"{path}: block lengths disagree with its buffers")
                    yield self._batch(decode(kc, keys, _starts(ks), ks), decode(vc, vals, _starts(vs), vs))
                return
            buf, recs = _records(f, h, pos, start + length, size)
        raw = np.frombuffer(buf, np.uint8)
        for lo in range(0, len(recs), BATCH_ROWS):
            at = recs[lo:lo + BATCH_ROWS]
            n = raw[_ranges(at, np.full(len(at), 8, np.int64))].view(">i4").reshape(-1, 2).astype(np.int64)
            ks, vs = n[:, 1], n[:, 0] - n[:, 1]
            vbuf, vat = raw, at + 8 + ks
            if h.compression == "record":
                vals = [zlib.decompress(buf[a:a + b]) for a, b in zip(vat, vs)]
                vs = np.fromiter(map(len, vals), np.int64, len(vals))
                vbuf, vat = np.frombuffer(b"".join(vals), np.uint8), _starts(vs)
            yield self._batch(decode(kc, raw, at + 8, ks), decode(vc, vbuf, vat, vs))

    def _batch(self, keys: pa.Array, values: pa.Array) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays([keys, values], schema=self.schema)


class SequenceFileSource(DataSource):
    """Scalar-Writable SequenceFiles. Write: `.option("compression",
    none|record|block)`, the Writable classes following the two columns'
    types (WRITABLES); an existing path is refused. Read: `.schema(...)`
    names the two columns' types, which must match the files' classes."""

    @classmethod
    def name(cls) -> str:
        return NAME

    def writer(self, schema: StructType, overwrite: bool) -> _Writer:
        path = self.options["path"]
        if os.path.exists(path):
            raise FileExistsError(f"Output directory {path} already exists")
        os.makedirs(os.path.join(path, "_temporary"))
        return _Writer(path, schema, self.options.get("compression", "none"))

    def reader(self, schema: StructType) -> _Reader:
        return _Reader(self.options["path"], schema)
