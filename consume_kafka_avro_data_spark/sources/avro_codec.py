"""Avro binary codec + Confluent wire framing, Spark-distributed.

The reference consumes Confluent-framed Avro ("CP1": magic byte 0x00 +
4-byte big-endian schema id + Avro binary body — framing configured at
``src/SchemaRegistry.cpp:24``, decode at
``src/KafkaConsumerCallback.cpp:69-83``) and re-encodes records to JSON
(``:42-67``).  Its schemas are flat records over exactly five primitive
types (``src/config/ConfigParser.cpp:154-164``): string, int, long,
float, double.

The PySpark distribution in this environment ships the core Avro jars
but NOT the ``spark-avro`` SQL datasource, so ``from_avro``/``to_avro``
are unavailable JVM-side.  For this flat-record universe the Avro binary
encoding is small and fully specified (zigzag varints, little-endian
IEEE floats, length-prefixed UTF-8), so we implement it in Python and
distribute it as Arrow-batched pandas UDFs — the sanctioned slow-path
shape (vectorized transfer, per-batch Python dispatch), never
row-at-a-time Python UDFs.  If a deployment has spark-avro on the
classpath, ``native_avro_available`` lets callers switch to the JVM
implementation; semantics are identical.

Error handling mirrors the reference's observed failure mode: a frame
whose first byte is not 0x00 (e.g. raw JSON ``{`` = 0x7B) is routed, not
fatal — decode returns a null record plus an ``_error`` string
(``Invalid CP1 magic byte 123`` appears 4× in the reference's
2024-12-21 log; counter at ``src/main.cpp:249-252``).
"""

from __future__ import annotations

import math as _math
import struct as _struct

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from consume_kafka_avro_data_spark.config import SchemaConfig, _AVRO_TO_SPARK

MAGIC = b"\x00"

# ---------------------------------------------------------------------------
# plain-Python codec (unit-testable; the pandas UDFs below call into it)
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(out: bytearray, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            # a corrupt 10-byte varint can set bits above 63; no legal
            # Avro encoder produces that (the 10th byte carries only
            # bit 63), so it must ROUTE TO THE DLQ as a ValueError —
            # masking would accept plausible wrong values as clean
            # rows, and the un-guarded Python int would crash the
            # Arrow int64 conversion outside the decode contract
            if acc > 0xFFFFFFFFFFFFFFFF:
                raise ValueError("varint overflows 64 bits")
            return _zigzag_decode(acc), pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def encode_record(fields: list[tuple[str, str]], values: dict) -> bytes:
    """Encode one record body (no framing) per the Avro binary spec.

    Null field values raise ValueError: the assembled schemas carry no
    null union (the reference's type universe, ConfigParser.cpp:154-164,
    has none), and silently coercing None — str(None) → the literal
    string 'None' — would be undetectable corruption on the wire.

    NaN additionally counts as null for int/long fields (int(nan) would
    raise an unrelated error anyway).  For float/double fields NaN IS a
    legal Avro value and round-trips (pinned by test) — with the caveat
    that on the Arrow UDF path a SQL NULL float/double also arrives as
    NaN, so a no-null-union schema cannot distinguish a conflated NULL
    from a genuine NaN payload: callers that must reject NULL floats
    should filter ``isnan`` upstream where the SQL-level nullness is
    still visible."""
    out = bytearray()
    for name, typ in fields:
        v = values[name]
        if v is None or (isinstance(v, float) and v != v and typ in ("int", "long")):
            raise ValueError(
                f"null value for field {name!r}: schema has no null union"
            )
        if typ in ("int", "long"):
            iv = int(v)
            # range-check BEFORE the wire write: _write_long masks to 64
            # bits, so an out-of-range long would silently wrap (2**63
            # encodes as -1 — undetectable corruption, the exact failure
            # the null check above exists to prevent), and an
            # out-of-int32 'int' would encode a frame every decode then
            # rejects
            lo, hi = (-(2**31), 2**31) if typ == "int" else (-(2**63), 2**63)
            if not lo <= iv < hi:
                raise ValueError(f"{typ} field {name!r} out of range: {iv}")
            _write_long(out, iv)
        elif typ == "float":
            out += _struct.pack("<f", float(v))
        elif typ == "double":
            out += _struct.pack("<d", float(v))
        elif typ == "string":
            raw = str(v).encode("utf-8")
            _write_long(out, len(raw))
            out += raw
        else:  # pragma: no cover - SchemaConfig validates types upfront
            raise ValueError(f"unsupported avro type {typ!r}")
    return bytes(out)


def decode_one(
    fields: list[tuple[str, str]], buf: bytes, pos: int = 0
) -> tuple[dict, int]:
    """Decode one record starting at ``pos``; returns (row, new_pos).
    The cursor form serves block containers (OCF packs many records per
    block); :func:`decode_record` is the whole-buffer wrapper.  Raises
    ValueError on malformed input."""
    out: dict = {}
    for name, typ in fields:
        if typ in ("int", "long"):
            out[name], pos = _read_long(buf, pos)
            if typ == "int" and not -(2**31) <= out[name] < 2**31:
                raise ValueError(f"int field {name} out of range")
        elif typ == "float":
            if pos + 4 > len(buf):
                raise ValueError("truncated float")
            (out[name],) = _struct.unpack_from("<f", buf, pos)
            pos += 4
        elif typ == "double":
            if pos + 8 > len(buf):
                raise ValueError("truncated double")
            (out[name],) = _struct.unpack_from("<d", buf, pos)
            pos += 8
        elif typ == "string":
            n, pos = _read_long(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise ValueError("truncated string")
            out[name] = buf[pos : pos + n].decode("utf-8")
            pos += n
        else:  # pragma: no cover
            raise ValueError(f"unsupported avro type {typ!r}")
    return out, pos


def decode_record(fields: list[tuple[str, str]], buf: bytes) -> dict:
    """Decode one record body; raises ValueError on malformed input
    (including trailing bytes — a wire frame carries exactly one record)."""
    out, pos = decode_one(fields, buf)
    if pos != len(buf):
        raise ValueError(f"{len(buf) - pos} trailing bytes after record")
    return out


def frame_confluent(body: bytes, schema_id: int) -> bytes:
    """Wrap an Avro body in the Confluent wire format (CP1).

    Registry ids are a Java signed int32; enforcing the range here keeps
    the decoded ``_schema_id`` inside the IntegerType column (an id ≥
    2^31 would decode fine but crash the Arrow int32 conversion)."""
    if not 0 <= schema_id < 2**31:
        raise ValueError(f"schema id {schema_id} outside int32 range")
    return MAGIC + _struct.pack(">i", schema_id) + body


def unframe_confluent(msg: bytes) -> tuple[int, bytes]:
    """Strip the CP1 header; raises ValueError with the reference's
    message shape on a bad magic byte."""
    if len(msg) < 5:
        raise ValueError(f"frame too short ({len(msg)} bytes)")
    if msg[0:1] != MAGIC:
        raise ValueError(f"Invalid CP1 magic byte {msg[0]}, expected 0")
    (schema_id,) = _struct.unpack_from(">i", msg, 1)  # signed: Java int32
    if schema_id < 0:
        raise ValueError(f"invalid negative schema id {schema_id}")
    return schema_id, msg[5:]


# ---------------------------------------------------------------------------
# Spark-distributed codec (Arrow-batched pandas UDFs)
# ---------------------------------------------------------------------------


def _schema_fields(sc: SchemaConfig) -> list[tuple[str, str]]:
    return [(sc.field_name(c), sc.field_type(c)) for c in sc.columns]


def _null_fold(
    struct_col: str,
    fields: list[tuple[str, str]],
    null: bool,
    every: bool,
) -> Column:
    """Fold per-field nullness over a struct column: ``null`` picks the
    predicate (isNull vs isNotNull), ``every`` picks the combiner (AND
    vs OR).  One home for the reduce-over-schema-fields pattern shared
    by the native decode's all-null failure test and the JSON
    recovery's any-/every-field checks (and for the empty-fields edge:
    SchemaConfig requires ≥1 column — an explicit raise, not an assert,
    so the guard survives ``python -O`` instead of silently returning
    None and crashing F.when downstream)."""
    if not fields:
        raise ValueError("cannot fold nullness over an empty field list")
    acc = None
    for n, _ in fields:
        c = F.col(f"{struct_col}.{n}")
        c = c.isNull() if null else c.isNotNull()
        acc = c if acc is None else (acc & c if every else acc | c)
    return acc


def native_avro_available(spark) -> bool:
    """True if the spark-avro SQL datasource is on Spark's classpath
    (shared probe — sees ``--packages`` jars, see jvm_class_available)."""
    from consume_kafka_avro_data_spark.sources.kafka import jvm_class_available

    return jvm_class_available(spark, "org.apache.spark.sql.avro.AvroDataToCatalyst")


def to_confluent_avro(
    df: DataFrame,
    schema_config: SchemaConfig,
    schema_id: int,
    use_native: bool | None = None,
) -> DataFrame:
    """Project per config, then encode each row to a Confluent-framed
    Avro ``value`` (binary) + the configured key column — the writer
    path the reference's producer side implies (SchemaRegistry.cpp:144-161
    registers, KafkaPoller delivers).

    ``use_native=None`` (default) probes the classpath once and compiles
    to the JVM ``to_avro`` expression when the spark-avro datasource is
    present (SURVEY §7 step 4); otherwise (and with ``use_native=False``)
    it uses the Arrow-batched pandas codec.  Both paths emit byte-
    identical CP1 frames for the flat scalar schema universe."""
    value_col = "value"
    if use_native is None:
        use_native = native_avro_available(df.sparkSession)
    if use_native:
        return _to_confluent_avro_native(df, schema_config, schema_id, value_col)
    fields = _schema_fields(schema_config)
    sid = schema_id

    @F.pandas_udf("binary")
    def enc(batch: pd.DataFrame) -> pd.Series:
        names = [n for n, _ in fields]
        return pd.Series(
            [
                frame_confluent(
                    encode_record(fields, dict(zip(names, row))), sid
                )
                for row in zip(*[batch[n] for n in names])
            ],
            dtype=object,
        )

    shaped = schema_config.apply(df)
    struct_col = F.struct(*[F.col(n) for n, _ in fields])
    return shaped.select(
        F.col(schema_config.key_column).cast("string").alias("key"),
        enc(struct_col).alias(value_col),
    )


def _to_confluent_avro_native(
    df: DataFrame, schema_config: SchemaConfig, schema_id: int, value_col: str
) -> DataFrame:
    """Pure-JVM encode: ``concat(<5-byte CP1 header literal>,
    to_avro(struct))`` — zero Python in the plan, whole-stage-codegen
    eligible.  Requires spark-avro on the classpath.

    Contract difference vs the pandas codec, by construction: a NULL
    field value fails the TASK (to_avro rejects nulls against the
    no-null-union writer schema) instead of raising a driver-side
    ValueError per row; both surface the same invariant."""
    from pyspark.sql.avro.functions import to_avro

    if not 0 <= schema_id < 2**31:
        raise ValueError(f"schema id {schema_id} outside int32 range")
    fields = _schema_fields(schema_config)
    header = MAGIC + _struct.pack(">i", schema_id)
    shaped = schema_config.apply(df)
    struct_col = F.struct(*[F.col(n) for n, _ in fields])
    body = to_avro(struct_col, schema_config.to_avro_schema_json())
    return shaped.select(
        F.col(schema_config.key_column).cast("string").alias("key"),
        F.concat(F.lit(header), body).alias(value_col),
    )


def _cp1_sid_signed(v: Column) -> Column:
    """Reconstruct the CP1 header's SIGNED int32 schema id JVM-side:
    bytes 2-5 via hex→decimal conv (unsigned), then two's-complement
    fold-down.  Registry ids are Java int32, so a high bit set means a
    negative id (which the header validator then rejects, same as the
    Python codec's signed ``>i`` unpack)."""
    sid_unsigned = F.conv(F.hex(v.substr(2, 4)), 16, 10).cast("long")
    return F.when(
        sid_unsigned >= F.lit(2**31), sid_unsigned - F.lit(2**32)
    ).otherwise(sid_unsigned)


def _cp1_header_error(
    v: Column, sid_signed: Column, expected: int | None
) -> Column:
    """JVM-side CP1 header validation producing the SAME error strings
    as the Python codec (unframe_confluent), so DLQ contents don't
    depend on which codec path a deployment runs."""
    vlen = F.length(v)
    magic = F.conv(F.hex(v.substr(1, 1)), 16, 10).cast("int")
    return (
        F.when(v.isNull(), F.lit("null value (tombstone)"))
        .when(
            vlen < 5,
            F.concat(
                F.lit("frame too short ("), vlen.cast("string"), F.lit(" bytes)")
            ),
        )
        .when(
            magic != 0,
            F.concat(
                F.lit("Invalid CP1 magic byte "),
                magic.cast("string"),
                F.lit(", expected 0"),
            ),
        )
        .when(
            sid_signed < 0,
            F.concat(
                F.lit("invalid negative schema id "), sid_signed.cast("string")
            ),
        )
        .when(
            F.lit(expected is not None) & (sid_signed != F.lit(expected or 0)),
            F.concat(
                F.lit("schema id "),
                sid_signed.cast("string"),
                F.lit(f" != expected {expected}"),
            ),
        )
    )


def _from_confluent_avro_native(
    df: DataFrame,
    schema_config: SchemaConfig,
    expected_schema_id: int | None,
    value_col: str,
    keep_raw: bool,
) -> DataFrame:
    """Pure-JVM decode (SURVEY §7 step 4; reference S2 decode at
    src/KafkaConsumerCallback.cpp:69-83): header checks as codegen'd
    expressions, ``substring(value, 6, length(value)-5)`` strips the CP1
    frame, ``from_avro(..., mode=PERMISSIVE)`` decodes the body — no
    ``BatchEvalPython``/``ArrowEvalPython`` node anywhere in the plan.

    Two deliberate contract differences vs the pandas codec, both only
    on MALFORMED bodies (header errors match byte-for-byte):
    * body decode failures all map to the one message ``malformed Avro
      body`` (from_avro's PERMISSIVE failure row carries no reason);
    * trailing bytes after a well-formed record are ignored (the Avro
      reader stops at the record boundary) instead of erroring.

    Malformed-body detection: PERMISSIVE ``from_avro`` does NOT return
    a NULL struct on failure — it returns a struct with every field
    null (Spark's AvroDataToCatalyst ``nullResultRow``) — so the
    failure test is all-fields-null, not ``isNull``.  That test is
    exact for this codec's schema universe: the writer schema has no
    null unions (``to_confluent_avro`` rejects null field values), so
    a legitimately decoded record can never have every field null.
    """
    from pyspark.sql.avro.functions import from_avro

    fields = _schema_fields(schema_config)
    _guard_decode_columns(
        df,
        value_col,
        out_names=["_error", "_schema_id"]
        + (["_raw_value"] if keep_raw else [])
        + [n for n, _ in fields],
        tmp_names=["_dec", "_err", "_sid"],
    )
    v = F.col(value_col)
    sid_signed = _cp1_sid_signed(v)
    header_err = _cp1_header_error(v, sid_signed, expected_schema_id)
    body = F.expr(f"substring({value_col}, 6, length({value_col}) - 5)")
    dec = F.when(
        header_err.isNull(),
        from_avro(
            body, schema_config.to_avro_schema_json(), {"mode": "PERMISSIVE"}
        ),
    )
    tmp = df.withColumns({"_dec": dec})
    body_err = F.when(
        F.col("_dec").isNull()
        | _null_fold("_dec", fields, null=True, every=True),
        F.lit("malformed Avro body"),
    )
    tmp = tmp.withColumns(
        {
            "_err": F.coalesce(header_err, body_err),
            "_sid": F.when(header_err.isNull(), sid_signed.cast("int")),
        }
    )
    raw = [v.alias("_raw_value")] if keep_raw else []
    ok = F.col("_err").isNull()
    return tmp.select(
        *[c for c in df.columns if c != value_col],
        *raw,
        F.col("_err").alias("_error"),
        F.when(ok, F.col("_sid")).alias("_schema_id"),
        *[F.when(ok, F.col(f"_dec.{n}")).alias(n) for n, _ in fields],
    )


def from_confluent_avro(
    df: DataFrame,
    schema_config: SchemaConfig,
    expected_schema_id: int | None = None,
    keep_raw: bool = False,
    use_native: bool | None = None,
) -> DataFrame:
    """Decode a Confluent-framed Avro ``value`` column into the
    configured fields, PERMISSIVE-style: malformed frames yield null
    fields and a non-null ``_error`` (DLQ routing, P7).

    Set ``expected_schema_id`` to also reject frames whose embedded id
    differs (multi-schema topics should instead split by id and decode
    each subset with its own schema).  ``keep_raw=True`` carries the
    undecoded frame through as ``_raw_value`` — a DLQ that persists only
    the error string cannot replay its dead letters after a schema fix.

    ``use_native=None`` (default) probes the classpath once and uses the
    pure-JVM ``from_avro`` path when spark-avro is present — the 100 TB
    hot-ingest shape, no Python in the plan — falling back to the
    Arrow-batched pandas codec in jar-less deployments (this sandbox).
    """
    value_col = "value"
    if use_native is None:
        use_native = native_avro_available(df.sparkSession)
    if use_native:
        return _from_confluent_avro_native(
            df, schema_config, expected_schema_id, value_col, keep_raw
        )
    fields = _schema_fields(schema_config)
    _guard_decode_columns(
        df,
        value_col,
        out_names=["_error", "_schema_id"]
        + (["_raw_value"] if keep_raw else [])
        + [n for n, _ in fields],
        tmp_names=["_rec"],
    )
    out_type = StructType(
        [StructField(n, _AVRO_TO_SPARK[t], True) for n, t in fields]
        + [
            StructField("_schema_id", _AVRO_TO_SPARK["int"], True),
            StructField("_error", StringType(), True),
        ]
    )
    expected = expected_schema_id

    @F.pandas_udf(out_type)
    def dec(vals: pd.Series) -> pd.DataFrame:
        rows = []
        nulls = {n: None for n, _ in fields}
        for v in vals:
            try:
                if v is None:  # Kafka tombstone (compaction delete)
                    raise ValueError("null value (tombstone)")
                sid, body = unframe_confluent(bytes(v))
                if expected is not None and sid != expected:
                    raise ValueError(
                        f"schema id {sid} != expected {expected}"
                    )
                rec = decode_record(fields, body)
                rec["_schema_id"] = sid
                rec["_error"] = None
                rows.append(rec)
            except (ValueError, UnicodeDecodeError) as e:
                rows.append({**nulls, "_schema_id": None, "_error": str(e)})
        return pd.DataFrame(rows, columns=[f.name for f in out_type.fields])

    decoded = df.withColumn("_rec", dec(F.col(value_col)))
    raw = [F.col(value_col).alias("_raw_value")] if keep_raw else []
    return decoded.select(
        *[c for c in df.columns if c != value_col],
        *raw,
        F.col("_rec._error").alias("_error"),
        F.col("_rec._schema_id").alias("_schema_id"),
        *[F.col(f"_rec.{n}").alias(n) for n, _ in fields],
    )


def _guard_decode_columns(
    df: DataFrame,
    value_col: str,
    out_names: list[str],
    tmp_names: list[str],
) -> None:
    """Fail fast when a passthrough input column collides with a decode
    output column (the select would emit two same-named columns — every
    later reference becomes ambiguous) or with an internal temp column
    (withColumn would silently REPLACE the user's data).  Same policy as
    jsonl's _corrupt_record guard."""
    passthrough = [c for c in df.columns if c != value_col]
    clash = [c for c in passthrough if c in out_names]
    if clash:
        raise ValueError(
            f"input column(s) {clash} collide with decode output "
            "columns; rename them before decoding"
        )
    clash = [c for c in passthrough if c in tmp_names]
    if clash:
        raise ValueError(
            f"input column(s) {clash} collide with the decoder's "
            "internal temp columns; rename them before decoding"
        )


def _validate_defaults(
    reader_fields: list[tuple[str, str]], defaults: dict[str, object]
) -> None:
    """Eager driver-side type check of reader defaults: a wrong-typed
    default otherwise surfaces mid-job as an unhelpful Arrow cast error
    (Python tier) or a spark-avro schema-parse failure (native tier)."""
    types = dict(reader_fields)
    for name, v in defaults.items():
        typ = types.get(name)
        if typ is None:
            continue  # default for a field the reader doesn't declare
        ok = (
            isinstance(v, int) and not isinstance(v, bool)
            if typ in ("int", "long")
            else isinstance(v, (int, float)) and not isinstance(v, bool)
            if typ in ("float", "double")
            else isinstance(v, str)
        )
        if not ok:
            raise ValueError(
                f"default for {typ} field {name!r} has incompatible "
                f"type {type(v).__name__}: {v!r}"
            )
        if typ in ("int", "long"):
            # range too, not just type: an out-of-int32 'int' default
            # passes isinstance but dies in the Arrow cast mid-job —
            # the exact failure this eager check exists to surface
            lo, hi = (
                (-(2**31), 2**31) if typ == "int" else (-(2**63), 2**63)
            )
            if not lo <= v < hi:
                raise ValueError(
                    f"default for {typ} field {name!r} out of range: {v!r}"
                )


def _json_scalar(v):
    """RFC-compliant JSON value for one decoded Avro scalar: non-finite
    floats serialize as the STRINGS "NaN"/"Infinity"/"-Infinity" —
    Spark's own to_json convention (Jackson quotes non-numeric
    numbers), and unlike json.dumps' bare NaN token it stays parseable
    by strict consumers of the interchange column."""
    if isinstance(v, float) and not _math.isfinite(v):
        if v != v:
            return "NaN"
        return "Infinity" if v > 0 else "-Infinity"
    return v


def from_confluent_avro_multi(
    df: DataFrame,
    configs: dict[int, SchemaConfig],
    keep_raw: bool = False,
) -> DataFrame:
    """Decode a MULTI-schema topic (SURVEY §7 hard part): each frame
    carries its writer-schema id in the CP1 header, so a single topic
    can interleave record shapes.  One Arrow-batched pass dispatches
    per row on the embedded id and emits the common interchange form —
    the JSON transcode (S3), exactly the reference's decode→JSON flow
    (``src/KafkaConsumerCallback.cpp:69-88``) — plus ``_schema_id`` and
    the PERMISSIVE ``_error`` column (bad magic, truncated body, or an
    id absent from ``configs``).

    Single-pass by design: the alternative (filter per id + per-id
    decode + union) re-reads the source once per schema — wrong shape
    for a 100 TB topic with many active schema versions.
    """
    import json as _json

    value_col = "value"
    fields_by_id = {i: _schema_fields(c) for i, c in configs.items()}
    _guard_decode_columns(
        df,
        value_col,
        out_names=["json", "_schema_id", "_error"]
        + (["_raw_value"] if keep_raw else []),
        tmp_names=["_rec"],
    )
    out_type = StructType(
        [
            StructField("json", StringType(), True),
            StructField("_schema_id", _AVRO_TO_SPARK["int"], True),
            StructField("_error", StringType(), True),
        ]
    )

    @F.pandas_udf(out_type)
    def dec(vals: pd.Series) -> pd.DataFrame:
        rows = []
        for v in vals:
            try:
                if v is None:  # Kafka tombstone (compaction delete)
                    raise ValueError("null value (tombstone)")
                sid, body = unframe_confluent(bytes(v))
                fields = fields_by_id.get(sid)
                if fields is None:
                    raise ValueError(f"unknown schema id {sid}")
                rec = decode_record(fields, body)
                # allow_nan=False + _json_scalar: a NaN float is a
                # legal Avro value this codec round-trips, but
                # json.dumps' bare NaN token is not RFC JSON — strict
                # consumers of the interchange column would reject the
                # row even though _error is null
                rows.append(
                    {
                        "json": _json.dumps(
                            {k: _json_scalar(x) for k, x in rec.items()},
                            allow_nan=False,
                        ),
                        "_schema_id": sid,
                        "_error": None,
                    }
                )
            except (ValueError, UnicodeDecodeError) as e:
                rows.append({"json": None, "_schema_id": None, "_error": str(e)})
        return pd.DataFrame(rows, columns=["json", "_schema_id", "_error"])

    decoded = df.withColumn("_rec", dec(F.col(value_col)))
    raw = [F.col(value_col).alias("_raw_value")] if keep_raw else []
    return decoded.select(
        *[c for c in df.columns if c != value_col],
        *raw,
        F.col("_rec.json").alias("json"),
        F.col("_rec._schema_id").alias("_schema_id"),
        F.col("_rec._error").alias("_error"),
    )


def transcode_json(df: DataFrame, schema_config: SchemaConfig) -> Column:
    """Avro→JSON transcode (S3; KafkaConsumerCallback.cpp:42-67) as a
    single JVM expression over already-decoded fields."""
    names = [schema_config.field_name(c) for c in schema_config.columns]
    return F.to_json(F.struct(*[F.col(n) for n in names]))


# ship this module by value inside UDF closures (see _serde.py)
from consume_kafka_avro_data_spark._serde import self_contained as _self_contained  # noqa: E402

_self_contained(__name__)


# ---------------------------------------------------------------------------
# schema resolution (reader vs writer evolution)
# ---------------------------------------------------------------------------

# Avro spec promotion lattice for our flat scalar subset
_PROMOTABLE = {
    ("int", "long"),
    ("int", "float"),
    ("int", "double"),
    ("long", "float"),
    ("long", "double"),
    ("float", "double"),
}


def resolve_record(
    writer_fields: list[tuple[str, str]],
    reader_fields: list[tuple[str, str]],
    defaults: dict[str, object],
    buf: bytes,
) -> dict:
    """Decode ``buf`` written with the WRITER schema, resolved to the
    READER schema per the Avro spec's resolution rules for flat records
    (the registry situation the reference lives in: each message carries
    its writer-schema id, consumers evolve independently —
    `src/SchemaRegistry.cpp:84-104`):

    * field in both → decoded, with numeric promotion along
      int→long→float→double when the reader widened it;
    * writer-only field → decoded and discarded (reader skips it);
    * reader-only field → its declared default (required by the spec for
      compatibility; missing default ⇒ resolution error).
    """
    raw = decode_record(writer_fields, buf)
    return resolve_row(writer_fields, reader_fields, defaults, raw)


def resolve_row(
    writer_fields: list[tuple[str, str]],
    reader_fields: list[tuple[str, str]],
    defaults: dict[str, object],
    raw: dict,
) -> dict:
    """The dict-level half of :func:`resolve_record` (promotion / skip /
    default over an already-decoded row) — shared with the OCF reader,
    which decodes records straight out of container blocks and must not
    pay an encode+decode round-trip per row just to resolve them."""
    wtypes = dict(writer_fields)
    out: dict = {}
    for name, rtyp in reader_fields:
        if name in wtypes:
            wtyp = wtypes[name]
            if wtyp == rtyp:
                out[name] = raw[name]
            elif (wtyp, rtyp) in _PROMOTABLE:
                out[name] = (
                    float(raw[name]) if rtyp in ("float", "double") else int(raw[name])
                )
            else:
                raise ValueError(
                    f"cannot resolve field {name!r}: writer {wtyp} vs reader {rtyp}"
                )
        elif name in defaults:
            out[name] = defaults[name]
        else:
            raise ValueError(f"reader field {name!r} absent and has no default")
    return out


def from_confluent_avro_resolved(
    df: DataFrame,
    writer_configs: dict[int, SchemaConfig],
    reader_config: SchemaConfig,
    defaults: dict[str, object] | None = None,
    keep_raw: bool = False,
) -> DataFrame:
    """Decode a topic whose frames may carry OLDER writer schemas into
    the evolved reader schema: the CP1 header's schema id selects the
    writer field list per message, then :func:`resolve_record` applies
    the spec's promotion/default rules.  PERMISSIVE like
    :func:`from_confluent_avro`: unresolvable or malformed frames yield
    null fields + ``_error`` for DLQ routing.  ``keep_raw=True``
    carries the undecoded frame as ``_raw_value`` — ESSENTIAL here: a
    frame dead-lettered for 'unknown writer schema id N' is exactly the
    one you re-decode after adding the missing writer config, which an
    error-string-only DLQ cannot do."""
    value_col = "value"
    defaults = defaults or {}
    writer_fields = {
        sid: _schema_fields(sc) for sid, sc in writer_configs.items()
    }
    reader_fields = _schema_fields(reader_config)
    _validate_defaults(reader_fields, defaults)
    _guard_decode_columns(
        df,
        value_col,
        out_names=["_error", "_schema_id"]
        + (["_raw_value"] if keep_raw else [])
        + [n for n, _ in reader_fields],
        tmp_names=["_rec"],
    )
    out_type = StructType(
        [StructField(n, _AVRO_TO_SPARK[t], True) for n, t in reader_fields]
        + [
            StructField("_schema_id", _AVRO_TO_SPARK["int"], True),
            StructField("_error", StringType(), True),
        ]
    )

    @F.pandas_udf(out_type)
    def dec(vals: pd.Series) -> pd.DataFrame:
        rows = []
        nulls = {n: None for n, _ in reader_fields}
        for v in vals:
            try:
                if v is None:  # Kafka tombstone (compaction delete)
                    raise ValueError("null value (tombstone)")
                sid, body = unframe_confluent(bytes(v))
                wf = writer_fields.get(sid)
                if wf is None:
                    raise ValueError(f"unknown writer schema id {sid}")
                rec = resolve_record(wf, reader_fields, defaults, body)
                rec["_schema_id"] = sid
                rec["_error"] = None
                rows.append(rec)
            except (ValueError, UnicodeDecodeError) as e:
                rows.append({**nulls, "_schema_id": None, "_error": str(e)})
        return pd.DataFrame(rows, columns=[f.name for f in out_type.fields])

    decoded = df.withColumn("_rec", dec(F.col(value_col)))
    raw = [F.col(value_col).alias("_raw_value")] if keep_raw else []
    return decoded.select(
        *[c for c in df.columns if c != value_col],
        *raw,
        F.col("_rec._error").alias("_error"),
        F.col("_rec._schema_id").alias("_schema_id"),
        *[F.col(f"_rec.{n}").alias(n) for n, _ in reader_fields],
    )


def recover_json_frames(
    dlq: DataFrame,
    schema_config: SchemaConfig,
    value_col: str = "value",
) -> DataFrame:
    """Re-decode dead letters whose raw frame is UTF-8 JSON — the
    reference's observed production corruption (a producer shipped raw
    JSON onto the Avro topic; ``Invalid CP1 magic byte 123`` = ``{``
    appears 4× in its 2024-12-21 log, ``src/main.cpp:249-252``, where
    the reference could only count them).  With the DLQ retaining the
    undecoded frame (``keep_raw=True`` → ``_raw_value`` → the DLQ's
    ``value``), those dead letters are recoverable: parse the frame as
    a JSON object keyed by the CONFIGURED field names and split
    recovered rows from still-dead ones.

    Returns the DLQ columns plus the configured fields and two flags:

    * ``_recovered`` — the parse succeeded and populated at least one
      configured field (an all-null parse, e.g. a JSON object with only
      foreign keys, stays dead: it carries no usable signal);
    * ``_complete`` — EVERY configured field is populated.  Only
      ``_complete`` rows are safe to feed back through the normal sink
      path unfiltered (the graph merge is idempotent, so replaying them
      is always safe); ``_recovered`` -but-incomplete rows carry the
      fields that did parse for manual triage, and pushing them into
      ``triples_from`` would merge null-named vertices.

    Pure-JVM plan: one ``from_json`` (PERMISSIVE — unparseable input
    yields a null struct) over the frame cast to string."""
    fields = _schema_fields(schema_config)
    _guard_decode_columns(
        dlq,
        value_col,
        out_names=[n for n, _ in fields] + ["_recovered", "_complete"],
        tmp_names=["_rec"],
    )
    json_schema = StructType(
        [StructField(n, _AVRO_TO_SPARK[t], True) for n, t in fields]
    )
    parsed = F.from_json(F.col(value_col).cast("string"), json_schema)
    tmp = dlq.withColumn("_rec", parsed)
    rec_ok = F.col("_rec").isNotNull()
    ok = rec_ok & _null_fold("_rec", fields, null=False, every=False)
    complete = rec_ok & _null_fold("_rec", fields, null=False, every=True)
    return tmp.select(
        *dlq.columns,
        *[F.when(ok, F.col(f"_rec.{n}")).alias(n) for n, _ in fields],
        ok.alias("_recovered"),
        complete.alias("_complete"),
    )
