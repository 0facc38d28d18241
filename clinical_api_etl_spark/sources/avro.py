"""Avro Object Container File source/sink — pure stdlib. [EXT]

The environment ships no ``spark-avro`` jar, so Avro interop was honestly
omitted through round 8 (``sources/formats.py``). This module closes the
gap the same way the PNG codec closed image decode: the **Avro OCF format
is a public specification** (https://avro.apache.org/docs/current/spec.html
"Object Container Files") implementable with ``zlib`` + ``struct`` +
``json`` alone, and Spark 4's Python DataSource API makes the result a
first-class scan/sink:

    spark.dataSource.register(AvroOcfDataSource)
    df = spark.read.format("avro_ocf").option("path", d).load()
    df.write.format("avro_ocf").option("path", d).mode("append").save()

Implemented subset (covers the engine's tables end to end):

* top-level ``record`` schemas whose fields are primitives (``null
  boolean int long float double bytes string``), nullable unions
  ``["null", T]`` / ``[T, "null"]``, arrays of primitives, and the
  ``timestamp-micros`` / ``date`` logical types (→ Spark ``timestamp`` /
  ``date``);
* ``null`` and ``deflate`` codecs (deflate = RAW zlib stream per the
  spec, ``wbits=-15``) — snappy is not in the container and is refused
  with a clear error;
* the writer emits one self-contained OCF file per partition under a
  two-phase commit (stage ``_tmp-*``, driver renames winners to
  ``part-*.avro``).

100 TB posture — the reader is **split-parallel, not file-parallel**:
OCF interleaves a 16-byte random sync marker between blocks precisely so
readers can start mid-file (the same contract Hadoop's
``AvroInputFormat`` uses). Partition planning slices each file into
``maxBytesPerPartition`` byte ranges; a reader seeks to its range start,
scans forward to the next sync marker, and consumes exactly the blocks
that BEGIN inside its range — every block is owned by exactly one range,
no coordination. Planning reads only file sizes + one header per file.

Reference parity note: the reference ingests CSV only
(etl-service/src/etl.py); Avro is [EXT] interop surface, gated like ORC
via ``src_avro_nation_summary`` (hash vs the parquet-sourced oracle).
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
import zlib
from datetime import date, datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

_MAGIC = b"Obj\x01"
_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_US = datetime(1970, 1, 1, tzinfo=timezone.utc)

# ---------------------------------------------------------------------------
# Binary encoding primitives (spec §"Binary Encoding").
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(buf: bytearray, n: int) -> None:
    n = _zigzag(n)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


class _Decoder:
    """Cursor over one decompressed block (or the file header)."""

    __slots__ = ("b", "pos")

    def __init__(self, b: bytes, pos: int = 0) -> None:
        self.b = b
        self.pos = pos

    def long(self) -> int:
        shift = 0
        acc = 0
        b = self.b
        pos = self.pos
        while True:
            byte = b[pos]
            pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        self.pos = pos
        return _unzigzag(acc)

    def raw(self, n: int) -> bytes:
        out = self.b[self.pos : self.pos + n]
        if len(out) != n:
            raise EOFError("truncated Avro data")
        self.pos += n
        return out

    def bytes_(self) -> bytes:
        return self.raw(self.long())

    def string(self) -> str:
        return self.bytes_().decode("utf-8")

    def boolean(self) -> bool:
        return self.raw(1) != b"\x00"

    def float_(self) -> float:
        return struct.unpack("<f", self.raw(4))[0]

    def double(self) -> float:
        return struct.unpack("<d", self.raw(8))[0]


# ---------------------------------------------------------------------------
# Schema: the supported Avro subset <-> Spark DDL, plus per-type codecs.
# ---------------------------------------------------------------------------

_PRIM_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "bytes": "binary",
    "string": "string",
    "null": "void",
}


def _logical(sub) -> str | None:
    if isinstance(sub, dict):
        return sub.get("logicalType")
    return None


def _nonnull_branch(sub):
    """For union schemas: the single non-null branch (or raise)."""
    branches = [s for s in sub if s != "null"]
    if len(sub) > 2 or len(branches) != 1:
        raise ValueError(f"unsupported Avro union {sub!r} (only [null, T])")
    return branches[0]


def _avro_type_to_spark(sub) -> str:
    if isinstance(sub, list):
        return _avro_type_to_spark(_nonnull_branch(sub))
    if isinstance(sub, dict):
        lt = _logical(sub)
        if lt == "timestamp-micros":
            return "timestamp"
        if lt == "timestamp-millis":
            return "timestamp"
        if lt == "date":
            return "date"
        if sub.get("type") == "array":
            return f"array<{_avro_type_to_spark(sub['items'])}>"
        return _avro_type_to_spark(sub["type"])
    if sub in _PRIM_TO_SPARK:
        return _PRIM_TO_SPARK[sub]
    raise ValueError(f"unsupported Avro type {sub!r}")


def schema_to_ddl(avro_schema: dict) -> str:
    if avro_schema.get("type") != "record":
        raise ValueError("top-level Avro schema must be a record")
    cols = [
        f"`{f['name']}` {_avro_type_to_spark(f['type'])}"
        for f in avro_schema["fields"]
    ]
    return ", ".join(cols)


def _reader_for(sub):
    """Compile one field schema to a ``_Decoder -> python value`` fn."""
    if isinstance(sub, list):
        inner = _reader_for(_nonnull_branch(sub))
        null_idx = sub.index("null")

        def read_union(d: _Decoder, _inner=inner, _null=null_idx):
            return None if d.long() == _null else _inner(d)

        return read_union
    if isinstance(sub, dict):
        lt = _logical(sub)
        if lt == "timestamp-micros":
            return lambda d: _EPOCH_US + timedelta(microseconds=d.long())
        if lt == "timestamp-millis":
            return lambda d: _EPOCH_US + timedelta(milliseconds=d.long())
        if lt == "date":
            return lambda d: _EPOCH_DATE + timedelta(days=d.long())
        if sub.get("type") == "array":
            item = _reader_for(sub["items"])

            def read_array(d: _Decoder, _item=item):
                out = []
                while True:
                    n = d.long()
                    if n == 0:
                        return out
                    if n < 0:  # block with byte-size prefix (spec)
                        n = -n
                        d.long()  # skip the byte count
                    for _ in range(n):
                        out.append(_item(d))

            return read_array
        return _reader_for(sub["type"])
    return {
        "null": lambda d: None,
        "boolean": _Decoder.boolean,
        "int": _Decoder.long,
        "long": _Decoder.long,
        "float": _Decoder.float_,
        "double": _Decoder.double,
        "bytes": _Decoder.bytes_,
        "string": _Decoder.string,
    }[sub]


def _writer_for(sub):
    """Compile one field schema to a ``(bytearray, value) -> None`` fn."""
    if isinstance(sub, list):
        inner = _writer_for(_nonnull_branch(sub))
        null_idx = sub.index("null")
        val_idx = 1 - null_idx

        def write_union(buf, v, _inner=inner):
            if v is None:
                _write_long(buf, null_idx)
            else:
                _write_long(buf, val_idx)
                _inner(buf, v)

        return write_union
    if isinstance(sub, dict):
        lt = _logical(sub)
        if lt == "timestamp-micros":

            def write_ts(buf, v: datetime):
                if v.tzinfo is None:
                    # Spark hands TimestampType values as naive datetimes in
                    # the SESSION-LOCAL zone; astimezone() on a naive value
                    # interprets it as local time — the exact inverse of the
                    # reader's aware-UTC return.
                    v = v.astimezone(timezone.utc)
                us = (v - _EPOCH_US) // timedelta(microseconds=1)
                _write_long(buf, us)

            return write_ts
        if lt == "date":
            return lambda buf, v: _write_long(buf, (v - _EPOCH_DATE).days)
        if sub.get("type") == "array":
            item = _writer_for(sub["items"])

            def write_array(buf, v, _item=item):
                if v:
                    _write_long(buf, len(v))
                    for x in v:
                        _item(buf, x)
                _write_long(buf, 0)

            return write_array
        return _writer_for(sub["type"])

    def write_bytes(buf, v):
        v = bytes(v)
        _write_long(buf, len(v))
        buf.extend(v)

    return {
        "null": lambda buf, v: None,
        "boolean": lambda buf, v: buf.append(1 if v else 0),
        "int": _write_long,
        "long": _write_long,
        "float": lambda buf, v: buf.extend(struct.pack("<f", v)),
        "double": lambda buf, v: buf.extend(struct.pack("<d", v)),
        "bytes": write_bytes,
        "string": lambda buf, v: write_bytes(buf, v.encode("utf-8")),
    }[sub]


_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "binary": "bytes",
    "string": "string",
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "date": {"type": "int", "logicalType": "date"},
}


def spark_schema_to_avro(schema) -> dict:
    """StructType -> the Avro record schema this module can round-trip."""
    fields = []
    for f in schema.fields:
        tn = f.dataType.typeName()
        if tn == "array":
            et = f.dataType.elementType.typeName()
            if et not in _SPARK_TO_AVRO:
                raise ValueError(f"unsupported array element type {et}")
            sub: object = {"type": "array", "items": _SPARK_TO_AVRO[et]}
        elif tn in _SPARK_TO_AVRO:
            sub = _SPARK_TO_AVRO[tn]
        else:
            raise ValueError(f"unsupported Spark type {tn} for Avro sink")
        if f.nullable:
            sub = ["null", sub]
        fields.append({"name": f.name, "type": sub})
    return {"type": "record", "name": "row", "fields": fields}


# ---------------------------------------------------------------------------
# OCF container: header, codecs, block framing.
# ---------------------------------------------------------------------------


def _decompress(codec: str, data: bytes) -> bytes:
    if codec == "null":
        return data
    if codec == "deflate":
        return zlib.decompress(data, wbits=-15)  # RAW deflate per spec
    raise ValueError(f"unsupported Avro codec {codec!r} (null/deflate only)")


def _compress(codec: str, data: bytes) -> bytes:
    if codec == "null":
        return data
    if codec == "deflate":
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        return c.compress(data) + c.flush()
    raise ValueError(f"unsupported Avro codec {codec!r} (null/deflate only)")


def read_header(f) -> tuple[dict, str, bytes, int]:
    """Parse the OCF header from file object ``f`` (positioned at 0).

    Returns (schema dict, codec, 16-byte sync marker, header byte length —
    INCLUDING the trailing sync, i.e. the offset where block data begins).
    """
    # Headers are usually tiny, but external tooling can write arbitrarily
    # large metadata (huge schema JSON, extra meta keys): on decoder
    # exhaustion, double the prefix and retry until the whole header fits
    # or the file itself ends (then the truncation is real).
    size = 1 << 16
    while True:
        f.seek(0)
        head = f.read(size)
        if head[:4] != _MAGIC:
            raise ValueError("not an Avro object container file (bad magic)")
        try:
            d = _Decoder(head, 4)
            meta: dict[str, bytes] = {}
            while True:
                n = d.long()
                if n == 0:
                    break
                if n < 0:
                    n = -n
                    d.long()
                for _ in range(n):
                    k = d.string()
                    meta[k] = d.bytes_()
            sync = d.raw(16)
            break
        except (EOFError, IndexError):
            if len(head) < size:
                raise EOFError("truncated Avro header")
            size *= 2
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync, d.pos


def write_ocf(path: str, avro_schema: dict, rows, field_writers, *,
              codec: str = "deflate", rows_per_block: int = 4096) -> int:
    """Write one self-contained OCF file; returns the row count."""
    sync = uuid.uuid4().bytes
    header = bytearray(_MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_long(header, len(meta))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        _write_long(header, len(kb))
        header.extend(kb)
        _write_long(header, len(v))
        header.extend(v)
    _write_long(header, 0)
    header.extend(sync)

    n_total = 0
    with open(path, "wb") as out:
        out.write(header)
        block = bytearray()
        n_block = 0

        def flush():
            nonlocal block, n_block, n_total
            if not n_block:
                return
            payload = _compress(codec, bytes(block))
            frame = bytearray()
            _write_long(frame, n_block)
            _write_long(frame, len(payload))
            out.write(bytes(frame))
            out.write(payload)
            out.write(sync)
            n_total += n_block
            block = bytearray()
            n_block = 0

        for row in rows:
            for w, v in zip(field_writers, row):
                w(block, v)
            n_block += 1
            if n_block >= rows_per_block:
                flush()
        flush()
    return n_total


# ---------------------------------------------------------------------------
# The DataSource.
# ---------------------------------------------------------------------------


class _AvroSplit(InputPartition):
    def __init__(self, path: str, lo: int, hi: int) -> None:
        self.path, self.lo, self.hi = path, lo, hi


def _avro_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.endswith(".avro") and not n.startswith(("_", "."))
    )


class _AvroReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro_ocf requires .option('path', ...)")
        self.max_bytes = int(options.get("maxBytesPerPartition", 32 << 20))

    def partitions(self):
        parts = []
        for p in _avro_files(self.path):
            size = os.path.getsize(p)
            # Slice on byte ranges; readers resolve ranges to sync-aligned
            # blocks (a block belongs to the range containing the byte at
            # which its preceding sync marker starts).
            lo = 0
            while lo < size:
                hi = min(lo + self.max_bytes, size)
                parts.append(_AvroSplit(p, lo, hi))
                lo = hi
        if not parts:
            # A directory with no part files (e.g. an overwrite by a
            # zero-partition DataFrame) is an EMPTY table, not an error —
            # emit one sentinel split whose read yields nothing. A missing
            # path still fails naturally in _avro_files/os.listdir.
            parts.append(_AvroSplit("", 0, 0))
        return parts

    def read(self, part: _AvroSplit):
        if not part.path:
            return iter(())
        return read_split(part.path, part.lo, part.hi)


def read_split(path: str, lo: int, hi: int):
    """Yield row tuples from the blocks of ``path`` whose preceding sync
    marker STARTS in ``[lo, hi)`` (the split-ownership rule — shared by
    the batch reader's byte-range partitions and the stream reader's
    whole-file reads)."""
    with open(path, "rb") as f:
        schema, codec, sync, header_len = read_header(f)
        readers = [_reader_for(fd["type"]) for fd in schema["fields"]]
        size = os.path.getsize(path)
        # Locate the first sync-marker START at offset >= lo. The
        # header's trailing sync starts at header_len - 16; block N's
        # trailing sync starts where block N+1's framing begins - 16.
        if lo <= header_len - 16:
            pos = header_len - 16
        else:
            pos = _find_sync(f, sync, lo, size)
            if pos is None:
                return
        while pos < hi:
            f.seek(pos)
            if f.read(16) != sync:
                raise ValueError(f"Avro sync mismatch at {pos} in {path}")
            frame_start = f.tell()
            head = f.read(20)  # two varlongs: count, byte size
            if not head:
                return  # clean EOF
            d = _Decoder(head)
            n_rows = d.long()
            n_bytes = d.long()
            f.seek(frame_start + d.pos)
            data = _decompress(codec, f.read(n_bytes))
            dec = _Decoder(data)
            for _ in range(n_rows):
                yield tuple(r(dec) for r in readers)
            pos = frame_start + d.pos + n_bytes


def _find_sync(f, sync: bytes, lo: int, size: int) -> int | None:
    """First offset >= lo where the 16-byte sync marker starts.

    Scans with a 15-byte overlap so markers straddling chunk boundaries
    are found; a marker straddling ``lo`` itself belongs to the PREVIOUS
    range (its start byte is < lo) — ranges partition the file exactly.
    """
    chunk = 1 << 20
    pos = lo
    carry = b""
    while pos < size:
        f.seek(pos)
        buf = carry + f.read(chunk)
        idx = buf.find(sync)
        if idx != -1:
            return pos - len(carry) + idx
        carry = buf[-15:]
        pos += chunk
    return None


class _AvroStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the OCF source: a drop-folder tail.

    The offset is the SET of consumed file names (``{"seen": [...]}``) —
    each micro-batch emits every ``.avro`` file not yet in the set, in
    sorted-name order, and ``readBetweenOffsets`` replays exactly the
    set difference, so committed batches replay deterministically after
    failure (the exactly-once contract a file-tailing source must honor;
    landing files must be renamed in atomically, the convention every
    file source shares). The offset grows with file count — the same
    growth Spark's own file-source log has (which compacts; at real
    scale this source would too, or files would be pruned by a
    retention window after commit).

    The Simple stream API reads on the driver (one partition per batch)
    — right for control-plane-sized drops; bulk backfills go through
    the split-parallel batch reader.
    """

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro_ocf requires .option('path', ...)")

    def initialOffset(self) -> dict:
        return {"seen": []}

    def _rows_for(self, names: list[str]):
        out = []
        for n in sorted(names):
            p = os.path.join(self.path, n)
            if os.path.exists(p):
                out.extend(read_split(p, 0, os.path.getsize(p)))
        return out

    def read(self, start: dict):
        seen = set(start.get("seen", []))
        have = {os.path.basename(p) for p in _avro_files(self.path)}
        new = sorted(have - seen)
        # iter() over a MATERIALIZED list: the runner's prefetch cache
        # needs a real iterator (it probes with next() when the offset
        # did not advance), and a generator would not survive its
        # copy.copy — a list_iterator satisfies both.
        return iter(self._rows_for(new)), {"seen": sorted(have | seen)}

    def readBetweenOffsets(self, start: dict, end: dict):
        new = set(end.get("seen", [])) - set(start.get("seen", []))
        return iter(self._rows_for(sorted(new)))


class _AvroCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class _AvroWriter(DataSourceWriter):
    """One OCF file per partition + two-phase commit (executors stage
    ``_tmp-*``, the driver renames winners — losing task attempts never
    publish)."""

    def __init__(self, options, schema, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro_ocf requires .option('path', ...)")
        self.codec = options.get("codec", "deflate")
        if self.codec not in ("null", "deflate"):
            raise ValueError(f"unsupported Avro codec {self.codec!r}")
        self.avro_schema = spark_schema_to_avro(schema)
        self.n_fields = len(schema.fields)
        self.overwrite = overwrite

    def write(self, iterator):
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}.avro")
        writers = [_writer_for(f["type"]) for f in self.avro_schema["fields"]]
        nf = self.n_fields
        rows = (tuple(row[i] for i in range(nf)) for row in iterator)
        n = write_ocf(tmp, self.avro_schema, rows, writers, codec=self.codec)
        return _AvroCommit(path=tmp, rows=n)

    def commit(self, messages) -> None:
        # Rename winners FIRST, then delete stale parts: a crash mid-commit
        # can leave old+new files coexisting (re-runnable), never data loss.
        # uuid-named parts guarantee winners never collide with old parts.
        winners = set()
        winner_parts = set()
        for m in messages:
            dest_name = os.path.basename(m.path).replace("_tmp-", "part-")
            os.replace(m.path, os.path.join(self.path, dest_name))
            winners.add(os.path.basename(m.path))
            winner_parts.add(dest_name)
        if self.overwrite:
            for name in os.listdir(self.path):
                if (
                    name.startswith("part-")
                    and name.endswith(".avro")
                    and name not in winner_parts
                ):
                    os.unlink(os.path.join(self.path, name))
        for name in os.listdir(self.path):
            if name.startswith("_tmp-") and name not in winners:
                os.unlink(os.path.join(self.path, name))

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.unlink(m.path)


class AvroOcfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def schema(self) -> str:
        files = _avro_files(self.options.get("path", ""))
        if not files:
            raise ValueError(
                f"no .avro files under {self.options.get('path')!r}"
            )
        with open(files[0], "rb") as f:
            schema, _, _, _ = read_header(f)
        return schema_to_ddl(schema)

    def reader(self, schema) -> _AvroReader:
        return _AvroReader(self.options)

    def simpleStreamReader(self, schema) -> _AvroStreamReader:
        return _AvroStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> _AvroWriter:
        return _AvroWriter(self.options, schema, overwrite)


# ---------------------------------------------------------------------------
# Convenience API mirroring sources/formats.py.
# ---------------------------------------------------------------------------


def register(spark) -> None:
    spark.dataSource.register(AvroOcfDataSource)


def write_avro(df, path: str, *, codec: str = "deflate") -> None:
    register(df.sparkSession)
    df.write.format("avro_ocf").option("path", path).option(
        "codec", codec
    ).mode("overwrite").save()


def read_avro(spark, path: str):
    register(spark)
    return spark.read.format("avro_ocf").option("path", path).load()


def avro_roundtrip(spark, df, path: str, *, codec: str = "deflate"):
    """Write ``df`` as Avro OCF and read it back — the format-interop seam
    ``src_avro_nation_summary`` hash-gates against the parquet oracle."""
    write_avro(df, path, codec=codec)
    return read_avro(spark, path)
