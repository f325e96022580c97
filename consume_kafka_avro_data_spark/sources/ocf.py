"""Avro Object Container Files (OCF) — the at-rest twin of the wire
format this engine is named for.

The reference consumes Confluent-FRAMED Avro from Kafka
(``src/KafkaConsumerCallback.cpp:69-83``); the same records at rest in
a data lake arrive as OCF (``.avro``) files — magic ``Obj\\x01``, a
metadata map carrying ``avro.schema`` + ``avro.codec``, a 16-byte sync
marker, then blocks of ``count, byte-size, records, sync`` (the public
Avro spec's object-container-file section).  This module covers the
jar-less deployments where the spark-avro datasource is absent (this
sandbox): the same pure-Python flat-record codec that decodes the
stream decodes the files.

Scale shape:

* **Read is two-tier, like the wire codec** (``from_confluent_avro``):
  when the spark-avro datasource is on the classpath,
  :func:`read_ocf` compiles to ``spark.read.format("avro")`` with the
  reader schema (+ declared defaults) passed as ``avroSchema`` — the
  JVM reader splits files at sync boundaries and resolves each file's
  writer schema per the spec, zero Python in the plan.  Jar-less
  deployments (this sandbox) fall back to the pure-Python tier:
  ``spark.read.format("binaryFile")`` scans the files in parallel
  (one WHOLE file per task, so keep files ≤ a task's worth), and an
  Arrow-batched ``mapInPandas`` parses blocks and resolves each
  FILE's embedded writer schema to the configured reader schema
  (``resolve_record`` — numeric promotion, writer-only fields
  skipped, reader-only fields defaulted), so a directory of mixed
  schema generations reads as one table either way.
* **Write is a driver-side export utility** (results, fixtures,
  interop samples — result-sized by contract).  A 100 TB write goes
  through the JVM spark-avro datasource when the jar is present;
  re-implementing a distributed file sink in Python would just be a
  worse copy of it.

Codecs: ``null`` and ``deflate`` (raw RFC-1951, stdlib zlib) — the two
the Avro spec requires; snappy needs a native lib and raises a clear
error.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from consume_kafka_avro_data_spark.config import SchemaConfig, _AVRO_TO_SPARK
from consume_kafka_avro_data_spark.sources.avro_codec import (
    _read_long,
    _schema_fields,
    _write_long,
    decode_one,
    encode_record,
    resolve_row,
)

OCF_MAGIC = b"Obj\x01"
_SYNC_LEN = 16
_CODECS = ("null", "deflate")


# ---------------------------------------------------------------------------
# pure-bytes layer (unit-testable without Spark)
# ---------------------------------------------------------------------------


def _write_bytes(out: bytearray, raw: bytes) -> None:
    _write_long(out, len(raw))
    out += raw


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("truncated bytes value")
    return buf[pos : pos + n], pos + n


def _write_meta_map(out: bytearray, meta: dict[str, bytes]) -> None:
    """Avro map<bytes>: one positive-count block then the 0 terminator."""
    if meta:
        _write_long(out, len(meta))
        for k, v in meta.items():
            _write_bytes(out, k.encode("utf-8"))
            _write_bytes(out, v)
    _write_long(out, 0)


def _read_meta_map(buf: bytes, pos: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _read_long(buf, pos)
        if count == 0:
            return meta, pos
        if count < 0:  # spec: negative count is followed by a byte size
            _, pos = _read_long(buf, pos)
            count = -count
        for _ in range(count):
            k, pos = _read_bytes(buf, pos)
            v, pos = _read_bytes(buf, pos)
            meta[k.decode("utf-8")] = v


def schema_fields_from_json(schema_json: str) -> list[tuple[str, str]]:
    """[(name, type)] from a flat-record Avro schema JSON; rejects
    anything outside the engine's five-primitive universe (a union or
    nested record would silently mis-decode as the wrong byte layout)."""
    sch = json.loads(schema_json)
    if sch.get("type") != "record":
        raise ValueError(f"not a record schema: {sch.get('type')!r}")
    fields = []
    for f in sch.get("fields", []):
        name = f.get("name")
        typ = f.get("type")
        if not isinstance(name, str) or not name:
            raise ValueError(f"schema field without a name: {f!r}")
        # unions/records arrive as list/dict — unhashable, so the
        # membership test must guard on str first
        if not isinstance(typ, str) or typ not in _AVRO_TO_SPARK:
            raise ValueError(
                f"field {name!r}: unsupported type {typ!r} "
                "(flat records over string/int/long/float/double only)"
            )
        fields.append((name, typ))
    if not fields:
        raise ValueError("record schema has no fields")
    return fields


def _deflate(data: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw RFC-1951
    return c.compress(data) + c.flush()


def _inflate(data: bytes) -> bytes:
    return zlib.decompress(data, -15)


def write_ocf_bytes(
    fields: list[tuple[str, str]],
    rows: Iterable[dict],
    schema_json: str,
    codec: str = "deflate",
    records_per_block: int = 1000,
) -> bytes:
    """Serialize rows to one OCF file's bytes.  The sync marker is
    md5(schema_json) — the spec only demands 16 bytes unique per file;
    a deterministic marker keeps fixtures and tests byte-reproducible."""
    import hashlib

    if codec not in _CODECS:
        raise ValueError(f"codec must be one of {_CODECS}, got {codec!r}")
    sync = hashlib.md5(schema_json.encode("utf-8")).digest()
    out = bytearray(OCF_MAGIC)
    _write_meta_map(
        out,
        {
            "avro.schema": schema_json.encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
        },
    )
    out += sync
    block: list[bytes] = []

    def flush() -> None:
        if not block:
            return
        data = b"".join(block)
        if codec == "deflate":
            data = _deflate(data)
        _write_long(out, len(block))
        _write_long(out, len(data))
        out.extend(data)  # .extend, not += (augmented assignment would
        out.extend(sync)  # rebind `out` as a local of this closure)
        block.clear()

    for row in rows:
        block.append(encode_record(fields, row))
        if len(block) >= records_per_block:
            flush()
    flush()
    return bytes(out)


def read_ocf_bytes(buf: bytes) -> tuple[list[tuple[str, str]], Iterator[dict]]:
    """(writer_fields, record iterator) from one OCF file's bytes.
    Strict: a bad magic, unknown codec, or sync-marker mismatch raises
    (at-rest files are not a lossy stream — corruption must not be
    silently skipped the way the wire DLQ routes bad frames)."""
    if buf[:4] != OCF_MAGIC:
        raise ValueError(f"not an Avro OCF (magic {buf[:4]!r})")
    meta, pos = _read_meta_map(buf, 4)
    if "avro.schema" not in meta:
        raise ValueError("OCF metadata missing avro.schema")
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in _CODECS:
        raise ValueError(
            f"unsupported OCF codec {codec!r} (null/deflate available; "
            "snappy needs a native library this environment lacks)"
        )
    fields = schema_fields_from_json(meta["avro.schema"].decode("utf-8"))
    if pos + _SYNC_LEN > len(buf):
        # a file truncated in (or before) the header sync must RAISE —
        # returning an empty record iterator would make a partially
        # uploaded lake file read as a valid empty file and lose rows
        raise ValueError("truncated OCF header (sync marker incomplete)")
    sync = buf[pos : pos + _SYNC_LEN]
    pos += _SYNC_LEN

    def records() -> Iterator[dict]:
        p = pos
        while p < len(buf):
            count, p = _read_long(buf, p)
            size, p = _read_long(buf, p)
            if count < 0 or size < 0 or p + size + _SYNC_LEN > len(buf):
                raise ValueError("truncated OCF block")
            data = buf[p : p + size]
            p += size
            if buf[p : p + _SYNC_LEN] != sync:
                raise ValueError("OCF sync marker mismatch (corrupt block)")
            p += _SYNC_LEN
            if codec == "deflate":
                data = _inflate(data)
            dpos = 0
            for _ in range(count):
                # avro_codec.decode_one steps record-by-record with a
                # cursor — the same wire walk the stream codec uses
                row, dpos = decode_one(fields, data, dpos)
                yield row
            if dpos != len(data):
                raise ValueError(
                    f"{len(data) - dpos} trailing bytes in OCF block"
                )

    return fields, records()


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------


def write_ocf(
    df: DataFrame,
    schema_config: SchemaConfig,
    path: str,
) -> int:
    """Driver-side OCF export (see module docstring for why write is
    the utility direction): shape per config, stream rows through
    ``toLocalIterator`` (one partition in driver memory at a time, not
    a collect), write ONE ``part-00000.avro``.  Returns the row count."""
    shaped = schema_config.apply(df)
    fields = _schema_fields(schema_config)
    names = [n for n, _ in fields]
    n = 0

    def rows() -> Iterator[dict]:
        nonlocal n
        for r in shaped.toLocalIterator():
            n += 1
            yield {k: r[k] for k in names}

    data = write_ocf_bytes(fields, rows(), schema_config.to_avro_schema_json())
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "part-00000.avro.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, os.path.join(path, "part-00000.avro"))
    return n


def reader_avro_schema_json(
    reader_config: SchemaConfig, defaults: dict[str, object] | None = None
) -> str:
    """The reader schema as Avro JSON with the declared ``defaults``
    injected as per-field ``default`` entries — the form the Avro
    spec's resolution rules (and the spark-avro ``avroSchema`` option)
    need to fill reader-only fields."""
    sch = json.loads(reader_config.to_avro_schema_json())
    defaults = defaults or {}
    for f in sch["fields"]:
        if f["name"] in defaults:
            f["default"] = defaults[f["name"]]
    return json.dumps(sch)


def _read_ocf_native(
    spark: SparkSession,
    path: str,
    reader_config: SchemaConfig,
    defaults: dict[str, object] | None,
) -> DataFrame:
    """JVM spark-avro tier: files split at sync boundaries, writer→
    reader resolution (promotion / skip / default) done by the
    datasource against the ``avroSchema`` reader schema.  Column order
    and Spark types are pinned to the reader config so both tiers
    return identical frames (agreement pytest, skipped jar-less).
    Contract difference vs the Python tier, by construction: a reader-
    only field with no default and a corrupt file both fail the TASK
    with Spark's own error instead of this module's ValueError."""
    reader_fields = _schema_fields(reader_config)
    df = (
        spark.read.format("avro")
        .option("avroSchema", reader_avro_schema_json(reader_config, defaults))
        # only container files, same contract as the Python tier: a
        # stray sidecar or crashed-write .tmp must not abort the read
        .option("pathGlobFilter", "*.avro")
        .load(path)
    )
    return df.select(
        *[
            F.col(n).cast(_AVRO_TO_SPARK[t]).alias(n)
            for n, t in reader_fields
        ]
    )


def read_ocf(
    spark: SparkSession,
    path: str,
    reader_config: SchemaConfig,
    defaults: dict[str, object] | None = None,
    use_native: bool | None = None,
) -> DataFrame:
    """Distributed OCF read resolved to the configured READER schema.
    ``use_native=None`` (default) probes the classpath once — same
    two-tier policy as ``from_confluent_avro`` — and routes to the JVM
    spark-avro datasource when present (splits at sync boundaries, no
    Python in the plan: the 100 TB shape); otherwise the pure-Python
    tier: binaryFile scan (one task per file) → mapInPandas parsing
    blocks → per-file writer schema resolved to the reader fields
    (promotion / skip / default — the same rules the registry stream
    path uses, so a lake directory spanning schema generations reads
    as one table).  ``defaults`` supplies values for reader-only
    fields (the Avro spec requires one; a missing default is a
    resolution error).

    Strict decode (raise, don't route): see read_ocf_bytes."""
    import pandas as pd

    from consume_kafka_avro_data_spark.sources.avro_codec import (
        _validate_defaults,
        native_avro_available,
    )

    # eager driver-side check: a wrong-typed default otherwise dies
    # mid-job in an Arrow cast (Python tier) or a spark-avro schema
    # parse (native tier), neither naming the offending config entry
    _validate_defaults(_schema_fields(reader_config), defaults or {})
    if use_native is None:
        use_native = native_avro_available(spark)
    if use_native:
        return _read_ocf_native(spark, path, reader_config, defaults)
    reader_fields = _schema_fields(reader_config)
    defaults = defaults or {}
    out_schema = StructType(
        [StructField(n, _AVRO_TO_SPARK[t], True) for n, t in reader_fields]
    )
    files = (
        spark.read.format("binaryFile")
        # only container files: a stray sidecar (or this module's own
        # .tmp left by a crashed write) must not abort the whole read
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("path", "content")
    )

    def gen(batches):
        for pdf in batches:
            # yield one frame per FILE: an Arrow input batch can carry
            # thousands of whole-file payloads, and accumulating their
            # decoded rows into one list would hold the whole batch's
            # records as Python objects at once
            for fpath, content in zip(pdf["path"], pdf["content"]):
                try:
                    writer_fields, records = read_ocf_bytes(bytes(content))
                    if writer_fields == reader_fields:
                        rows = list(records)
                    else:
                        rows = [
                            resolve_row(
                                writer_fields, reader_fields, defaults, row
                            )
                            for row in records
                        ]
                except ValueError as e:
                    # strict contract stays strict, but actionable: the
                    # operator must know WHICH lake file is corrupt
                    raise ValueError(f"{fpath}: {e}") from e
                yield pd.DataFrame(
                    {n: [r[n] for r in rows] for n, _ in reader_fields}
                    if rows
                    else {n: [] for n, _ in reader_fields}
                )

    return files.mapInPandas(gen, schema=out_schema)
