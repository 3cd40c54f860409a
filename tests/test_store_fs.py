"""Object-store write path (fsio + writer), soft rotation, parquet tuning.

The reference reaches file/s3/gs/az through its dstore layer
(store_adapter.go:10-17, factory.go:155-175); here the same role is played
by the Hadoop FileSystem API. These tests drive the FULL writer path through
(a) an explicit ``file://`` URL and (b) a genuinely different scheme
(``viewfs://`` with a mount-table), plus the byte-based soft rotation and
the parquet tuning knobs (run.go:44-49 parity)."""

import os

import pyarrow.parquet as pq
import pytest

from substreams_sink_parquet_spark.decode import decode_payloads
from substreams_sink_parquet_spark.fsio import HadoopFS, normalize_store_url, url_join
from substreams_sink_parquet_spark.sink.writer import (
    WriterOptions,
    covered_spans,
    read_lake,
    write_ranges,
)
from substreams_sink_parquet_spark.sources import stage_raw_blocks, synth_blocks
from substreams_sink_parquet_spark.streaming.stream_sink import run_pipeline

from .test_protowire import BLOCK
from .test_sink_writer import _blocks_df


def test_normalize_store_url():
    assert normalize_store_url("s3a://bucket/lake") == "s3a://bucket/lake"
    assert normalize_store_url("viewfs://x/lake") == "viewfs://x/lake"
    assert normalize_store_url("file:///tmp/x") == "file:///tmp/x"
    assert normalize_store_url("/tmp/x") == "file:///tmp/x"
    assert normalize_store_url("rel/x").startswith("file:///")


def test_write_ranges_through_file_url(spark, tmp_path):
    """The whole finalize+backfill pass against an explicit file:// URL —
    the path that previously crashed on os.listdir."""
    local = tmp_path / "lake"
    local.mkdir()
    out = f"file://{local}"
    df = decode_payloads(_blocks_df(spark, [0, 3, 9, 25, 21]), BLOCK)
    files = write_ranges(df, out, WriterOptions(partition_size=10, start_block=0))
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",  # backfilled gap
        "0000000020-0000000030.parquet",
    ]
    on_disk = sorted(f for f in os.listdir(local) if f.endswith(".parquet"))
    assert on_disk == files
    t = pq.read_table(local / files[0])
    assert t.column("block_number").to_pylist() == [0, 3, 9]
    assert read_lake(spark, out).count() == 5
    # bounded probe through the URL path too
    probe = read_lake(spark, out, start_block=21, end_block=29)
    assert sorted(r.block_number for r in probe.collect()) == [21, 25]


def test_write_ranges_through_second_scheme(spark, tmp_path):
    """A scheme that is NOT the local default: viewfs:// with a mount table.
    Exercises scheme resolution + rename/list/delete through a different
    FileSystem implementation, proving the writer holds no file:-only
    assumptions."""
    local = tmp_path / "mnt"
    local.mkdir()
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("fs.viewfs.mounttable.sinktest.link./lake", f"file://{local}")
    out = "viewfs://sinktest/lake"
    df = decode_payloads(_blocks_df(spark, [1, 2, 15]), BLOCK)
    files = write_ranges(df, out, WriterOptions(partition_size=10, start_block=0))
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",
    ]
    assert sorted(f for f in os.listdir(local) if f.endswith(".parquet")) == files
    assert read_lake(spark, out).count() == 3
    fs = HadoopFS(spark, out)
    assert fs.fs.getClass().getName().endswith("ViewFileSystem")


def test_target_file_bytes_soft_rotation(spark, tmp_path):
    """--target-file-bytes (run.go:48): a fat range splits into -partNNNN
    files under the byte target; names sort in block order; lake reads are
    unchanged; backfill sees the split range as covered."""
    out = str(tmp_path / "lake")
    os.makedirs(out)
    # one range [0,1000) with 600 fat-ish rows; tiny byte target forces a split
    df = decode_payloads(_blocks_df(spark, list(range(0, 600))), BLOCK)
    opts = WriterOptions(partition_size=1000, start_block=0, target_file_bytes=16_000)
    files = write_ranges(df, out, opts)
    parts = [f for f in files if "-part" in f]
    assert len(parts) >= 2, files
    assert all(f.startswith("0000000000-0000001000-part") for f in parts)
    # every split file is under ~2x the soft target (soft = approximate)
    for f in parts:
        assert os.path.getsize(os.path.join(out, f)) < 2 * opts.target_file_bytes
    # name order == block order across parts (rotation ordering contract)
    seen = []
    for f in sorted(parts):
        seen += pq.read_table(os.path.join(out, f)).column("block_number").to_pylist()
    assert seen == sorted(seen) and len(seen) == 600
    # read-back is unchanged and complete
    assert read_lake(spark, out).count() == 600
    assert sorted(
        r.block_number for r in read_lake(spark, out, start_block=0, end_block=5).collect()
    ) == [0, 1, 2, 3, 4, 5]
    # the split range counts as covered: no empty backfill on a later write
    fs = HadoopFS(spark, out)
    assert covered_spans(fs, out) == [(0, 1000)]
    df2 = decode_payloads(_blocks_df(spark, [2500]), BLOCK)
    files2 = write_ranges(df2, out, WriterOptions(partition_size=1000, start_block=0))
    assert "0000001000-0000002000.parquet" in files2  # gap filled
    assert "0000000000-0000001000.parquet" not in files2  # covered, not re-touched


def test_write_ranges_validates_supplied_ranges(spark, tmp_path):
    """ADVICE round 1: a wrong caller-supplied `ranges` list must abort
    loudly before finalize, naming the discrepancy."""
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, [1, 2]), BLOCK)
    with pytest.raises(ValueError, match="supplied-but-absent.*500"):
        write_ranges(df, out, WriterOptions(partition_size=10), ranges=[0, 500])
    with pytest.raises(ValueError, match="staged-but-unsupplied.*0"):
        write_ranges(df, out, WriterOptions(partition_size=10), ranges=[])


def test_parquet_stats_toggle(spark, tmp_path):
    """--parquet-stats parity (writer.go:93-118): column statistics present
    by default, absent when disabled — verified from the footer."""
    def _write(sub, write_stats):
        out = str(tmp_path / sub)
        os.makedirs(out)
        df = decode_payloads(_blocks_df(spark, list(range(20))), BLOCK)
        write_ranges(df, out, WriterOptions(partition_size=100, write_stats=write_stats))
        md = pq.ParquetFile(os.path.join(out, "0000000000-0000000100.parquet")).metadata
        return md.row_group(0).column(0).statistics

    assert _write("on", True) is not None
    assert _write("off", False) is None


def test_zstd_compression_level(spark, tmp_path):
    """--compression-level parity (run.go:44): higher zstd level compresses
    the same data smaller — verified by output size."""
    sizes = {}
    for lvl in (1, 19):
        out = str(tmp_path / f"lvl{lvl}")
        os.makedirs(out)
        df = decode_payloads(_blocks_df(spark, list(range(300))), BLOCK)
        write_ranges(
            df, out,
            WriterOptions(partition_size=1000, compression="zstd",
                          compression_level=lvl, dict_encoding=False),
        )
        sizes[lvl] = os.path.getsize(os.path.join(out, "0000000000-0000001000.parquet"))
    assert sizes[19] < sizes[1], sizes


def test_page_size_knob(spark, tmp_path):
    """--page-size parity (run.go:46): a tiny page size means many more page
    headers for the same rows — the file must grow measurably."""
    sizes = {}
    for label, page in (("small", 256), ("default", None)):
        out = str(tmp_path / f"pg_{label}")
        os.makedirs(out)
        df = decode_payloads(_blocks_df(spark, list(range(400))), BLOCK)
        write_ranges(
            df, out,
            WriterOptions(partition_size=1000, compression="none",
                          page_size=page, dict_encoding=False),
        )
        sizes[label] = os.path.getsize(os.path.join(out, "0000000000-0000001000.parquet"))
    # 256-byte pages → hundreds of extra page headers vs the 1 MiB default
    assert sizes["small"] > sizes["default"] + 1000, sizes


def _payload(bn):
    return {"i64": bn * 10, "s": f"blk-{bn}",
            "transfers": [{"from_addr": f"a{bn}", "amount": bn, "ok": True}],
            "tags": [f"t{bn}"]}


def test_stream_stop_block_finalizes_clamped_range(spark, tmp_path):
    """ADVICE round 1 (medium): with --stop-block, the terminal clamped range
    must become ready from blocks alone (readiness clamps the range end), and
    backfill below it must use the ACTUAL clamped file as template."""
    input_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    # ONLY blocks 10..14 with stop at 15: terminal range [10,15) + gap below
    stage_raw_blocks(spark, input_dir, synth_blocks(BLOCK, list(range(10, 15)), _payload))
    opts = WriterOptions(partition_size=10, start_block=0, end_block=15)
    q, sink = run_pipeline(spark, input_dir, out_dir, BLOCK, ckpt, opts=opts)
    q.awaitTermination(120)
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    assert files == [
        "0000000000-0000000010.parquet",  # backfilled from the CLAMPED template
        "0000000010-0000000015.parquet",  # clamped terminal range, no close() needed
    ]
    assert pq.read_table(os.path.join(out_dir, files[1])).column(
        "block_number"
    ).to_pylist() == list(range(10, 15))
    assert pq.read_table(os.path.join(out_dir, files[0])).num_rows == 0


def test_stream_close_drains_heldback_ranges(spark, tmp_path):
    """Close parity (writer.go:275-277): with a holdback, the terminal range
    can never satisfy the readiness inequality — close() finalizes it."""
    input_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    stage_raw_blocks(spark, input_dir, synth_blocks(BLOCK, list(range(0, 15)), _payload))
    opts = WriterOptions(partition_size=10, start_block=0, end_block=15)
    q, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, undo_holdback=5
    )
    q.awaitTermination(120)
    # [0,10) ready (14 >= 10+5-1); [10,15) held back (needs max_seen >= 19)
    assert sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet")) == [
        "0000000000-0000000010.parquet"
    ]
    sink.close()
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000015.parquet",
    ]
    import glob as _glob

    assert not _glob.glob(os.path.join(out_dir, "_live", "epoch=*", "range_start=*"))
    total = sum(
        pq.read_table(os.path.join(out_dir, f)).num_rows for f in files
    )
    assert total == 15


def test_backfill_fans_out_many_gaps_without_per_gap_jobs(spark, tmp_path):
    """A sparse write across a wide block span backfills every gap through
    the FS thread pool — one template job, then plain writes. 200 gaps keeps
    the test honest about the fan-out path actually running concurrently."""
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, [0, 2010]), BLOCK)
    files = write_ranges(df, out, WriterOptions(partition_size=10, start_block=0))
    assert len(files) == 202  # 2 data ranges + 200 backfilled gaps
    gap = pq.read_table(os.path.join(out, "0000000990-0000001000.parquet"))
    assert gap.num_rows == 0 and "block_number" in gap.schema.names
    # every backfilled file is byte-identical (same template payload)
    import hashlib

    hashes = {
        hashlib.md5(open(os.path.join(out, f), "rb").read()).hexdigest()
        for f in files
        if f not in ("0000000000-0000000010.parquet", "0000002010-0000002020.parquet")
    }
    assert len(hashes) == 1
    assert read_lake(spark, out).count() == 2


def test_fs_rename_missing_source_raises(spark, tmp_path):
    fs = HadoopFS(spark, str(tmp_path))
    with pytest.raises(IOError):
        fs.rename(str(tmp_path / "nope.bin"), str(tmp_path / "dst.bin"))


def test_row_group_rows_is_exact(spark, tmp_path):
    """--row-group-rows maps to parquet.block.row.count.limit: row groups
    cap at exactly the configured row count (footer-verified)."""
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = decode_payloads(_blocks_df(spark, list(range(0, 500))), BLOCK)
    write_ranges(df, out, WriterOptions(partition_size=1000, row_group_rows=100))
    md = pq.ParquetFile(os.path.join(out, "0000000000-0000001000.parquet")).metadata
    assert md.num_row_groups >= 5
    assert max(md.row_group(i).num_rows for i in range(md.num_row_groups)) <= 100


def test_stream_close_drains_exploded_children(spark, tmp_path):
    """close() must drain the child tables of --explode mode too."""
    input_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    stage_raw_blocks(spark, input_dir, synth_blocks(BLOCK, list(range(0, 8)), _payload))
    opts = WriterOptions(partition_size=10, start_block=0, end_block=8)
    q, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts,
        undo_holdback=5, explode=True,
    )
    q.awaitTermination(120)
    sink.close()
    name = "0000000000-0000000008.parquet"
    assert name in os.listdir(out_dir)
    for child in ("transfers", "tags"):
        assert name in os.listdir(os.path.join(out_dir, child)), child
    t = pq.read_table(os.path.join(out_dir, "transfers", name))
    assert t.num_rows == 8  # one transfer per block, all drained


def test_stream_pipeline_through_file_url(spark, tmp_path):
    """The full streaming path (live appends, batch finalize, backfill)
    against a file:// URL out_dir — no os.* assumptions anywhere."""
    input_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    local_out = tmp_path / "out"
    local_out.mkdir()
    out_url = f"file://{local_out}"
    stage_raw_blocks(spark, input_dir, synth_blocks(BLOCK, list(range(0, 25)), _payload))
    opts = WriterOptions(partition_size=10, start_block=0)
    q, sink = run_pipeline(spark, input_dir, out_url, BLOCK, ckpt, opts=opts)
    q.awaitTermination(120)
    files = sorted(f for f in os.listdir(local_out) if f.endswith(".parquet"))
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",
    ]
    t = pq.read_table(local_out / files[0])
    assert t.column("block_number").to_pylist() == list(range(10))
    import glob as _glob

    assert _glob.glob(str(local_out / "_live" / "epoch=*" / "range_start=20"))


def test_bloom_filter_columns_written(spark, tmp_path):
    """--bloom-filter COL writes a per-column bloom filter: the file grows
    by the filter's bitset (KBs for this ndv) with identical data."""
    sizes = {}
    for label, cols in (("off", ()), ("on", ("block_id",))):
        out = str(tmp_path / f"bloom_{label}")
        os.makedirs(out)
        df = decode_payloads(_blocks_df(spark, list(range(0, 400))), BLOCK)
        write_ranges(
            df, out,
            WriterOptions(partition_size=1000, bloom_filter_columns=cols),
        )
        sizes[label] = os.path.getsize(os.path.join(out, "0000000000-0000001000.parquet"))
    assert sizes["on"] > sizes["off"] + 1000, sizes


def test_content_fingerprint_detects_change_and_globs(spark, tmp_path):
    """The release-resume change detector: stable across reads, changes
    on append/rewrite/delete, resolves GLOB paths (a glob --docs must
    not silently fingerprint as 'absent' — that would defeat the
    in-place-mutation invalidation entirely), and costs a bounded
    number of gateway calls (content summary + one top-level listing),
    never a per-file walk."""
    import time

    from substreams_sink_parquet_spark.fsio import HadoopFS

    d = tmp_path / "data"
    d.mkdir()
    (d / "a.parquet").write_text("aa")
    (d / "b.parquet").write_text("bbb")
    fs = HadoopFS(spark, str(tmp_path))

    f_dir = fs.content_fingerprint(str(d))
    f_glob = fs.content_fingerprint(str(d / "*.parquet"))
    assert f_dir not in ("absent",) and f_glob not in ("absent",)
    assert fs.content_fingerprint(str(d)) == f_dir          # stable
    assert fs.content_fingerprint(str(d / "zz*")) == "absent"

    time.sleep(0.01)
    (d / "c.parquet").write_text("c")                       # append
    f_dir2 = fs.content_fingerprint(str(d))
    assert f_dir2 != f_dir
    assert fs.content_fingerprint(str(d / "*.parquet")) != f_glob

    (d / "a.parquet").write_text("aaaa")                    # rewrite
    assert fs.content_fingerprint(str(d)) != f_dir2

    (d / "c.parquet").unlink()                              # delete
    f_dir3 = fs.content_fingerprint(str(d))
    assert f_dir3 not in (f_dir, f_dir2)


def test_file_stamp_single_stat_change_detector(spark, tmp_path):
    """file_stamp: (bytes, mtime) of one file, None for absent — and the
    stat goes straight to getFileStatus (no exists() pre-probe), so a
    file deleted by a racing writer reads as None rather than an opaque
    Java exception. A rewrite changes the stamp (the vocab-memo staleness
    guard relies on that)."""
    import time

    from substreams_sink_parquet_spark.fsio import HadoopFS

    fs = HadoopFS(spark, str(tmp_path))
    p = tmp_path / "meta.json"
    assert fs.file_stamp(str(p)) is None
    p.write_text('{"a": 1}')
    s1 = fs.file_stamp(str(p))
    assert s1 is not None and s1[0] == len('{"a": 1}')
    time.sleep(0.02)
    p.write_text('{"a": 1}')  # same bytes, later mtime
    s2 = fs.file_stamp(str(p))
    assert s2 != s1 and s2[0] == s1[0]
    p.unlink()
    assert fs.file_stamp(str(p)) is None


def test_listings_make_one_store_call_and_read_absent_as_empty(spark, tmp_path):
    """listdir, list_sizes and is_dir make ONE FileSystem call each (a
    recursive list_sizes one per tree level): no exists() pre-probe, a
    missing path reads as empty (or False) from the FileNotFoundException.
    Starts no Spark job."""
    from substreams_sink_parquet_spark.fsio import HadoopFS

    fs = HadoopFS(spark, str(tmp_path))
    calls = []

    class Counting:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            calls.append(name)
            return getattr(self._inner, name)

    fs.fs = Counting(fs.fs)
    d = tmp_path / "d"
    missing = str(tmp_path / "nope")
    for call, empty in ((fs.listdir, []), (fs.list_sizes, {}),
                        (lambda u: fs.list_sizes(u, recursive=True), {}),
                        (fs.is_dir, False)):
        calls.clear()
        assert call(missing) == empty
        assert len(calls) == 1, calls
    (d / "sub").mkdir(parents=True)
    (d / "a.parquet").write_bytes(b"aa")
    (d / "sub" / "b.parquet").write_bytes(b"bbb")
    for call, want in ((fs.listdir, ["a.parquet", "sub"]),
                       (fs.list_sizes, {"a.parquet": 2}),
                       (lambda u: fs.list_sizes(u, recursive=True),
                        {"a.parquet": 2, "sub/b.parquet": 3}),
                       (fs.is_dir, True)):
        calls.clear()
        assert call(str(d)) == want
        assert len(calls) == (2 if isinstance(want, dict) and len(want) == 2
                              else 1), calls
