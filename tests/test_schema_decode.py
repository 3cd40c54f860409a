"""Descriptor→StructType mapping and the mapInPandas decode path."""

from decimal import Decimal

from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructType,
)

from substreams_sink_parquet_spark import protowire as pw
from substreams_sink_parquet_spark.decode import decode_payloads
from substreams_sink_parquet_spark.schema import SchemaOptions, block_schema, message_type

from .test_protowire import BLOCK, FULL_VALUES


def test_type_mapping_defaults():
    t = message_type(BLOCK)
    assert isinstance(t["i32"].dataType, IntegerType)
    assert isinstance(t["si32"].dataType, IntegerType)
    assert isinstance(t["u32"].dataType, LongType)          # widened
    assert isinstance(t["u64"].dataType, DecimalType)       # lossless default
    assert t["u64"].dataType == DecimalType(20, 0)
    assert isinstance(t["en"].dataType, IntegerType)        # enum number
    assert isinstance(t["meta"].dataType, StructType)
    assert isinstance(t["transfers"].dataType, ArrayType)
    assert isinstance(t["transfers"].dataType.elementType, StructType)
    assert isinstance(t["tags"].dataType, ArrayType)
    assert isinstance(t["attrs"].dataType, MapType)         # native map default
    assert all(f.nullable for f in t.fields)                # every field nullable


def test_type_mapping_compat_modes():
    t = message_type(BLOCK, SchemaOptions(uint64_as="long", map_as="entries"))
    assert isinstance(t["u64"].dataType, LongType)
    entries = t["attrs"].dataType
    assert isinstance(entries, ArrayType)
    assert [f.name for f in entries.elementType.fields] == ["key", "value"]


def test_block_schema_meta_columns():
    s = block_schema(BLOCK)
    assert [f.name for f in s.fields[:2]] == ["block_number", "block_id"]
    assert not s["block_number"].nullable
    compat = block_schema(BLOCK, include_block_meta=False)
    assert compat.fields[0].name == "b"


def _raw_df(spark, rows):
    return spark.createDataFrame(rows, "block_number bigint, block_id string, payload binary")


def test_decode_full_row(spark):
    payload = pw.encode_message(FULL_VALUES, BLOCK)
    raw = _raw_df(spark, [(7, "0xabc", bytearray(payload))])
    out = decode_payloads(raw, BLOCK).collect()
    assert len(out) == 1
    r = out[0]
    assert r.block_number == 7 and r.block_id == "0xabc"
    assert r.i32 == -42 and r.si64 == -123456789
    assert r.u64 == Decimal(2**64 - 1)                      # lossless uint64
    assert r.meta.author == "alice" and r.meta.height == 99
    assert [t.amount for t in r.transfers] == [Decimal(10), Decimal(2**63)]
    assert r.tags == ["x", "y"] and r.nums == [1, -2, 3]
    assert r.attrs == {"k1": 1, "k2": -2}
    assert r.by == bytearray(b"\x00\x01\xff")


def test_decode_unset_fields_null(spark):
    payload = pw.encode_message({"s": "only"}, BLOCK)
    raw = _raw_df(spark, [(1, "b1", bytearray(payload))])
    r = decode_payloads(raw, BLOCK).collect()[0]
    assert r.s == "only"
    for col in ("i32", "u64", "meta", "transfers", "attrs", "db"):
        assert r[col] is None, col


def test_decode_skips_null_payloads(spark):
    payload = pw.encode_message({"s": "x"}, BLOCK)
    raw = _raw_df(spark, [(1, "b1", bytearray(payload)), (2, "b2", None)])
    out = decode_payloads(raw, BLOCK).collect()
    assert [r.block_number for r in out] == [1]             # nil output skipped


def test_decode_entries_compat_mode(spark):
    payload = pw.encode_message(FULL_VALUES, BLOCK)
    raw = _raw_df(spark, [(1, "b", bytearray(payload))])
    opts = SchemaOptions(uint64_as="long", map_as="entries")
    r = decode_payloads(raw, BLOCK, opts).collect()[0]
    assert r.u64 == -1                                      # documented overflow wrap
    assert sorted((e.key, e.value) for e in r.attrs) == [("k1", 1), ("k2", -2)]


def test_decode_on_error_null_quarantines_corrupt_payloads(spark):
    from substreams_sink_parquet_spark.decode import decode_payloads

    from .test_protowire import BLOCK

    good = pw.encode_message({"i64": 7, "s": "ok"}, BLOCK)
    corrupt = b"\xff\xff\xff\xff\xff"  # truncated varint tag
    raw = spark.createDataFrame(
        [(1, "a", bytearray(good)), (2, "b", bytearray(corrupt))],
        "block_number bigint, block_id string, payload binary",
    )
    rows = {r.block_number: r for r in
            decode_payloads(raw, BLOCK, on_error="null").collect()}
    assert rows[1]._corrupt is False and rows[1].i64 == 7
    assert rows[2]._corrupt is True and rows[2].i64 is None

    # default mode still fails loudly
    import pytest as _pytest
    with _pytest.raises(Exception):
        decode_payloads(raw, BLOCK).collect()


def test_decode_well_known_timestamp(spark):
    """rewrite_well_known end-to-end (ADVICE round 1): the schema maps
    google.protobuf.Timestamp to TimestampType AND the decode path converts
    {seconds, nanos} to a UTC instant instead of crashing."""
    import datetime

    from pyspark.sql.types import TimestampType

    ts_spec = pw.MessageSpec(
        "google.protobuf.Timestamp",
        (
            pw.FieldSpec("seconds", 1, pw.K_INT64),
            pw.FieldSpec("nanos", 2, pw.K_INT32),
        ),
    )
    evt = pw.MessageSpec(
        "test.Event",
        (
            pw.FieldSpec("name", 1, pw.K_STRING),
            pw.FieldSpec("at", 2, pw.K_MESSAGE, message=ts_spec),
        ),
    )
    opts = SchemaOptions(rewrite_well_known=True)
    assert isinstance(block_schema(evt, opts)["at"].dataType, TimestampType)

    payload = pw.encode_message(
        {"name": "e1", "at": {"seconds": 1_700_000_000, "nanos": 123_456_789}},
        evt,
    )
    raw = spark.createDataFrame(
        [(1, "0x1", bytearray(payload))],
        "block_number bigint, block_id string, payload binary",
    )
    row = decode_payloads(raw, evt, opts).collect()[0]
    got = row.at
    if got.tzinfo is None:  # session-tz rendering; compare as UTC instant
        got = got.astimezone(datetime.timezone.utc)
    expect = datetime.datetime(
        2023, 11, 14, 22, 13, 20, 123456, tzinfo=datetime.timezone.utc
    )
    assert got == expect
    assert row.name == "e1"


def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """The worker-side gate on ``zipimporter.invalidate_caches``: no
    directory re-read while the archive is unchanged, one after it is
    rewritten — and the importer then sees the new contents. No Spark."""
    import os
    import sys
    import zipfile
    import zipimport

    import pytest

    from substreams_sink_parquet_spark.decode import _gate_zip_invalidation

    if sys.version_info >= (3, 13):
        pytest.skip("invalidate_caches re-reads lazily from Python 3.13")
    archive = str(tmp_path / "pkg.zip")

    def build(modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            for name in modules:
                z.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")

    build(["a"])
    importer = zipimport.zipimporter(archive + "/zpkg/")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    _gate_zip_invalidation()
    _gate_zip_invalidation()  # idempotent: gates once, not twice
    importer.invalidate_caches()  # first sight of this importer: reads
    reads.clear()
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []
    build(["a", "bb"])
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("bb") is not None
