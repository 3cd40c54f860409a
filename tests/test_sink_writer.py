"""Batch writer: rotation, padded names, backfill, ordering, explode layout
(SURVEY.md §5.3 round-trip fixtures)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from substreams_sink_parquet_spark import protowire as pw
from substreams_sink_parquet_spark.decode import decode_payloads
from substreams_sink_parquet_spark.sink.explode import explode_all, explode_targets
from substreams_sink_parquet_spark.sink.writer import WriterOptions, read_lake, write_ranges

from .test_protowire import BLOCK, TRANSFER  # noqa: F401


def _blocks_df(spark, block_numbers):
    rows = [
        (
            bn,
            f"0x{bn:x}",
            bytearray(
                pw.encode_message(
                    {
                        "i64": bn * 10,
                        "s": f"blk-{bn}",
                        "transfers": [
                            {"from_addr": f"a{bn}", "amount": bn, "ok": True},
                            {"from_addr": f"b{bn}", "amount": bn + 1, "ok": False},
                        ],
                        "tags": [f"t{bn}", f"t{bn + 1}"],
                        "nums": [bn, -bn],
                    },
                    BLOCK,
                )
            ),
        )
        for bn in block_numbers
    ]
    return spark.createDataFrame(rows, "block_number bigint, block_id string, payload binary")


def test_write_rotation_and_names(spark, tmp_path):
    out = str(tmp_path / "lake")
    os.makedirs(out)
    # blocks spanning 3 ranges of 10, with a gap range [10,20)
    df = decode_payloads(_blocks_df(spark, [0, 3, 9, 25, 21]), BLOCK)
    files = write_ranges(df, out, WriterOptions(partition_size=10, start_block=0, pad=10))
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",  # backfilled empty gap
        "0000000020-0000000030.parquet",
    ]
    # gap file exists, has the right schema, zero rows
    gap = pq.read_table(os.path.join(out, files[1]))
    assert gap.num_rows == 0
    assert "block_number" in gap.schema.names
    # rows ordered by block inside each file (reference min-heap invariant)
    f0 = pq.read_table(os.path.join(out, files[0]))
    assert f0.column("block_number").to_pylist() == [0, 3, 9]
    f2 = pq.read_table(os.path.join(out, files[2]))
    assert f2.column("block_number").to_pylist() == [21, 25]
    # lake reads back as one table
    assert read_lake(spark, out).count() == 5


def test_end_block_clamps_last_range(spark, tmp_path):
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, [12]), BLOCK)
    files = write_ranges(
        df, out, WriterOptions(partition_size=10, start_block=0, end_block=15, pad=6)
    )
    assert "000010-000015.parquet" in files


def test_compression_codec_applied(spark, tmp_path):
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, [1, 2]), BLOCK)
    write_ranges(df, out, WriterOptions(partition_size=10, compression="snappy"))
    f = pq.ParquetFile(os.path.join(out, "0000000000-0000000010.parquet"))
    assert f.metadata.row_group(0).column(0).compression == "SNAPPY"


def test_explode_layout(spark, tmp_path):
    df = decode_payloads(_blocks_df(spark, [1, 2]), BLOCK)
    children = explode_all(df, BLOCK)
    assert set(children) == {"transfers", "tags", "nums"}  # maps excluded
    t = children["transfers"]
    # message elements flattened: no wrapper struct (converter_field.go:28-35)
    assert t.columns == ["block_number", "block_id", "from_addr", "amount", "ok"]
    rows = t.orderBy("block_number", "from_addr").collect()
    assert [r.from_addr for r in rows] == ["a1", "b1", "a2", "b2"]
    # scalar list → single column named after the field (converter_field.go:24-27)
    tags = children["tags"]
    assert tags.columns == ["block_number", "block_id", "tags"]
    assert tags.count() == 4
    # attrs is a map → not an explode target (factory.go:207-220 guard)
    assert all(f.name != "attrs" for f in explode_targets(BLOCK))


def test_exploded_tables_write_to_subdirs(spark, tmp_path):
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, [1, 2]), BLOCK)
    for name, child in explode_all(df, BLOCK).items():
        sub = os.path.join(out, name)
        os.makedirs(sub, exist_ok=True)
        write_ranges(child, sub, WriterOptions(partition_size=10))
    assert os.path.exists(
        os.path.join(out, "transfers", "0000000000-0000000010.parquet")
    )
    back = spark.read.parquet(os.path.join(out, "transfers", "*.parquet"))
    assert back.count() == 4
    assert back.filter(F.col("block_number") == 1).count() == 2


def test_read_lake_prunes_files_by_range(spark, tmp_path):
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, [0, 5, 12, 17, 25, 33]), BLOCK)
    write_ranges(df, out, WriterOptions(partition_size=10, start_block=0, pad=10))

    # a probe of [12, 19] must open only the [10,20) file
    probe = read_lake(spark, out, start_block=12, end_block=19)
    assert sorted(r.block_number for r in probe.collect()) == [12, 17]
    scanned = [
        f for f in probe.inputFiles() if f.endswith(".parquet")
    ]
    assert len(scanned) == 1 and "0000000010-0000000020" in scanned[0]

    # open-ended probes prune on the other side too
    assert sorted(
        r.block_number for r in read_lake(spark, out, start_block=25).collect()
    ) == [25, 33]

    # a probe with no overlapping files is an explicit error, not a scan
    with pytest.raises(FileNotFoundError):
        read_lake(spark, out, start_block=1000, end_block=2000)


def test_lake_coverage_same_start_conflicting_end_is_overlap(spark, tmp_path):
    """Same range start with DIFFERENT ends (e.g. a clamped 0-500 beside a
    0-1000) is a conflict, not a -part sibling pair (ADVICE r2)."""
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sink.writer import lake_coverage

    out = tmp_path / "lake"
    out.mkdir()
    for n in ("0000000000-0000000500.parquet", "0000000000-0000001000.parquet",
              "0000001000-0000002000.parquet"):
        (out / n).write_bytes(b"x")  # names only — coverage never reads footers
    rep = lake_coverage(HadoopFS(spark, str(out)), str(out))
    assert rep["overlaps"] == [(0, 500)]
    assert not rep["contiguous"]


def test_lake_coverage_part_siblings_stay_contiguous(spark, tmp_path):
    """True -partNNNN siblings share BOTH endpoints and must not be flagged."""
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sink.writer import lake_coverage

    out = tmp_path / "lake"
    out.mkdir()
    for n in ("0000000000-0000001000-part0000.parquet",
              "0000000000-0000001000-part0001.parquet",
              "0000001000-0000002000.parquet"):
        (out / n).write_bytes(b"x")
    rep = lake_coverage(HadoopFS(spark, str(out)), str(out))
    assert rep["overlaps"] == [] and rep["gaps"] == []
    assert rep["contiguous"]


def test_write_tasks_subsplits_large_ranges_in_block_order(spark, tmp_path):
    """write_tasks > n_ranges: a large range finalizes as ordered -partNNNN
    siblings (encode parallelism above ranges-per-batch, VERDICT r4 #5);
    name-sorted parts concatenate to the globally block-sorted range."""
    out = str(tmp_path / "lake")
    os.makedirs(out)
    # 2 ranges of 100 blocks each, written with 8-way encode parallelism
    df = decode_payloads(_blocks_df(spark, list(range(200))), BLOCK)
    files = write_ranges(
        df, out,
        WriterOptions(partition_size=100, start_block=0, pad=10, write_tasks=8),
    )
    by_range = {}
    for f in files:
        by_range.setdefault(f.split("-part")[0].split(".parquet")[0], []).append(f)
    assert len(by_range) == 2
    assert any(len(v) > 1 for v in by_range.values())  # actually sub-split
    for parts in by_range.values():
        blocks = []
        for p in sorted(parts):
            blocks += pq.read_table(os.path.join(out, p)).column(
                "block_number"
            ).to_pylist()
        assert blocks == sorted(blocks)  # name order == block order
    # the full lake reads back complete and the name-index prunes correctly
    assert read_lake(spark, out).count() == 200
    assert read_lake(spark, out, start_block=150, end_block=160).count() == 11


def test_write_tasks_small_ranges_keep_plain_single_file(spark, tmp_path):
    """write_tasks must not shatter a batch of many small ranges — with
    n_ranges >= write_tasks the one-file-per-range rotation holds."""
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, [0, 5, 12, 27]), BLOCK)
    files = write_ranges(
        df, out,
        WriterOptions(partition_size=10, start_block=0, pad=10, write_tasks=2),
    )
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",
        "0000000020-0000000030.parquet",
    ]


def test_mixed_staged_layout_raises_instead_of_dropping_rows(spark, tmp_path):
    """A staged range dir holding BOTH __sub= dirs and flat part files
    (e.g. a partial retry under a changed write_tasks setting) must raise
    like every other layout violation — silently ignoring the flat files
    would drop their rows from finalize (ADVICE r5)."""
    import pyarrow as pa

    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sink.writer import _range_parts

    part_dir = tmp_path / "staging" / "__range_start=0"
    sub = part_dir / "__sub=0"
    sub.mkdir(parents=True)
    tbl = pa.table({"block_number": [1, 2]})
    pq.write_table(tbl, str(sub / "part-00000.parquet"))
    pq.write_table(tbl, str(part_dir / "part-00001.parquet"))  # flat leftover
    fs = HadoopFS(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="mixed staged layout"):
        _range_parts(fs.list_sizes(str(part_dir), recursive=True), str(part_dir))
    # a clean sub layout still resolves
    os.remove(str(part_dir / "part-00001.parquet"))
    parts = _range_parts(fs.list_sizes(str(part_dir), recursive=True), str(part_dir))
    assert [p for p, _ in parts] == ["__sub=0/part-00000.parquet"]
