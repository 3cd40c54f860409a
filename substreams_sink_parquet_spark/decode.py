"""Decode raw block payloads into typed columns — the Spark translation of
the reference's ProtoConverter.Append path (converter_proto.go:53-61).

Input: a "bronze" DataFrame with (block_number: long, block_id: string,
payload: binary) — exactly the RawConverter shape the reference defines but
never wires up (converter_raw.go:22-26); we expose it as the raw mode AND
use it as the decode input.

Decode runs as ``mapInPandas``: Arrow-batched, one Python worker per
partition — the scalable shape for a Python decoder (there is no protobuf
runtime in this image, so JVM-side from_protobuf is not available; the
pure-Python wire codec in protowire.py does the work). The decoded columns
are produced directly into the final StructType so Spark's Arrow writer
builds the columnar batches.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    MapType,
    Row,
    StructType,
    TimestampType,
)

from . import protowire as pw
from .schema import SchemaOptions, block_schema

RAW_SCHEMA_DDL = "block_number bigint, block_id string, payload binary"


def _gate_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive's (mtime, size) changed since that importer last
    read it. PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and before Python 3.13 each cached zipimporter
    (about 16 over ``pyspark.zip``) then re-reads the archive's whole
    directory: about 0.3 s of CPU per task around a sub-millisecond UDF
    body. 3.13 made that re-read lazy. Idempotent; the first call per
    importer still re-reads."""
    import os
    import sys
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "_gated"):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or self.__dict__.get("_zip_stamp") != stamp:
            reread(self)
            self._zip_stamp = stamp

    invalidate_caches._gated = True
    cls.invalidate_caches = invalidate_caches


def _convert(value: object, f: pw.FieldSpec, dtype: DataType, opts: SchemaOptions):
    """Decoded python value → Spark-compatible value for the target type."""
    if value is None:
        return None
    if f.is_map:
        key_f, val_f = f.message.field("key"), f.message.field("value")
        if isinstance(dtype, MapType):
            return {
                _convert_scalar(k, key_f, dtype.keyType): _convert_leaf(
                    v, val_f, dtype.valueType, opts
                )
                for k, v in value.items()
            }
        # entries-compat: ArrayType(Struct<key,value>) with insertion order
        elem = dtype.elementType
        return [
            {
                "key": _convert_scalar(k, key_f, elem["key"].dataType),
                "value": _convert_leaf(v, val_f, elem["value"].dataType, opts),
            }
            for k, v in value.items()
        ]
    if f.repeated:
        elem_t = dtype.elementType if isinstance(dtype, ArrayType) else dtype
        return [_convert_leaf(v, f, elem_t, opts, as_element=True) for v in value]
    return _convert_leaf(value, f, dtype, opts)


def _convert_leaf(value, f: pw.FieldSpec, dtype: DataType, opts: SchemaOptions,
                  as_element: bool = False):
    if value is None:
        return None
    if f.kind == pw.K_MESSAGE and not f.is_map:
        if isinstance(dtype, TimestampType):
            # rewrite_well_known: google.protobuf.Timestamp {seconds, nanos}
            # → tz-AWARE UTC datetime (a naive one would be reinterpreted in
            # the session timezone); Spark timestamps are µs, nanos truncate
            secs = int(value.get("seconds", 0) or 0)
            nanos = int(value.get("nanos", 0) or 0)
            return _dt.datetime.fromtimestamp(
                secs, tz=_dt.timezone.utc
            ) + _dt.timedelta(microseconds=nanos // 1000)
        return _convert_message(value, f.message, dtype, opts)
    return _convert_scalar(value, f, dtype)


def _convert_scalar(value, f_or_kind, dtype: DataType):
    kind = f_or_kind.kind if isinstance(f_or_kind, pw.FieldSpec) else f_or_kind
    if isinstance(dtype, DecimalType):
        return Decimal(int(value))
    if kind in (pw.K_UINT64, pw.K_FIXED64):
        # LongType compat mode: reinterpret as two's complement (documented
        # overflow behavior; DecimalType default mode is lossless)
        v = int(value)
        return v - (1 << 64) if v >= (1 << 63) else v
    if kind == pw.K_FLOAT:
        return float(value)
    return value


def _convert_message(msg: dict, spec: pw.MessageSpec, dtype: StructType,
                     opts: SchemaOptions) -> dict:
    out = {}
    for f in spec.fields:
        out[f.name] = _convert(msg.get(f.name), f, dtype[f.name].dataType, opts)
    return out


def decode_payloads(
    raw: DataFrame,
    spec: pw.MessageSpec,
    opts: SchemaOptions | None = None,
    include_block_meta: bool = True,
    on_error: str = "fail",
) -> DataFrame:
    """(block_number, block_id, payload) → typed columns per the derived schema.

    NULL payloads are skipped (the reference silently skips nil MapOutput,
    sinker.go:158-160). Unset proto fields decode to NULL columns
    (converter_proto.go:137-143).

    ``on_error``: "fail" (default) propagates decode errors and kills the
    job — right for development; "null" quarantines corrupt payloads instead
    of failing a 100 TB run: the row survives with all payload columns NULL
    and ``_corrupt = true`` (requires ``include_block_meta`` so the bad block
    stays addressable). The reference has no corrupt-input story at all —
    proto.Unmarshal failure aborts the sink (converter_proto.go:55-57)."""
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be fail|null, got {on_error!r}")
    quarantine = on_error == "null"
    if quarantine and not include_block_meta:
        raise ValueError("on_error='null' requires include_block_meta")
    opts = opts or SchemaOptions()
    out_schema = block_schema(spec, opts, include_block_meta=include_block_meta)
    struct_t = StructType(
        [f for f in out_schema.fields if f.name not in ("block_number", "block_id")]
    )
    if quarantine:
        from pyspark.sql.types import BooleanType, StructField

        out_schema = StructType(
            list(out_schema.fields) + [StructField("_corrupt", BooleanType())]
        )
    col_names = [f.name for f in out_schema.fields]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _gate_zip_invalidation()  # installs once per worker process
        for pdf in batches:
            rows = []
            for bn, bid, payload in zip(
                pdf["block_number"], pdf["block_id"], pdf["payload"]
            ):
                if payload is None:
                    continue
                try:
                    decoded = pw.decode_message(bytes(payload), spec)
                    converted = _convert_message(decoded, spec, struct_t, opts)
                except Exception:
                    if not quarantine:
                        raise
                    nulls = dict.fromkeys(col_names)
                    rows.append({
                        **nulls,
                        "block_number": int(bn), "block_id": bid, "_corrupt": True,
                    })
                    continue
                if include_block_meta:
                    row = {"block_number": int(bn), "block_id": bid, **converted}
                else:
                    row = converted
                if quarantine:
                    row["_corrupt"] = False
                rows.append(row)
            if quarantine:
                # object dtype so quarantined Nones stay None (numeric
                # columns would otherwise coerce them to NaN, which the
                # struct/long Arrow converters reject)
                yield pd.DataFrame(rows, columns=col_names, dtype=object)
            else:
                yield pd.DataFrame(rows, columns=col_names)

    return raw.mapInPandas(decode_batches, out_schema)


def raw_table(raw: DataFrame) -> DataFrame:
    """Bronze passthrough mode — the reference's RawConverter shape
    (converter_raw.go:22-26, dead code there; first-class here)."""
    return raw.select("block_number", "block_id", "payload")


__all__ = ["decode_payloads", "raw_table", "RAW_SCHEMA_DDL", "Row"]
