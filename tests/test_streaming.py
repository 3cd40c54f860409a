"""Structured Streaming sink: end-to-end drain, exactly-once resume via
checkpoint (replacing the reference's cursor file), undo holdback, reorg."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from substreams_sink_parquet_spark.sink.writer import WriterOptions
from substreams_sink_parquet_spark.sources import stage_raw_blocks, synth_blocks
from substreams_sink_parquet_spark.streaming.stream_sink import run_pipeline

from .test_protowire import BLOCK


def _payload(bn: int) -> dict:
    return {
        "i64": bn * 10,
        "s": f"blk-{bn}",
        "transfers": [{"from_addr": f"a{bn}", "amount": bn, "ok": True}],
        "tags": [f"t{bn}"],
    }


def _stage_blocks(spark, input_dir, block_numbers, batch_id):
    stage_raw_blocks(spark, input_dir, synth_blocks(BLOCK, block_numbers, _payload))


def _final_files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_stream_end_to_end(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_blocks(spark, input_dir, list(range(0, 25)), 0)

    opts = WriterOptions(partition_size=10, start_block=0)
    query, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, available_now=True
    )
    query.awaitTermination(120)

    # ranges [0,10) and [10,20) are final; [20,30) still live (no block >= 29 seen)
    assert _final_files(out_dir) == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",
    ]
    t = pq.read_table(os.path.join(out_dir, "0000000000-0000000010.parquet"))
    assert t.column("block_number").to_pylist() == list(range(10))  # sorted
    import glob as _glob

    assert _glob.glob(os.path.join(out_dir, "_live", "epoch=*", "range_start=20"))


def test_stream_checkpoint_resume_no_duplicates(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=10, start_block=0)

    _stage_blocks(spark, input_dir, list(range(0, 12)), 0)
    q1, _ = run_pipeline(spark, input_dir, out_dir, BLOCK, ckpt, opts=opts)
    q1.awaitTermination(120)

    # feeder appends more blocks; a NEW query with the same checkpoint resumes
    _stage_blocks(spark, input_dir, list(range(12, 31)), 1)
    q2, _ = run_pipeline(spark, input_dir, out_dir, BLOCK, ckpt, opts=opts)
    q2.awaitTermination(120)

    files = _final_files(out_dir)
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",
        "0000000020-0000000030.parquet",
    ]
    total = sum(
        pq.read_table(os.path.join(out_dir, f)).num_rows for f in files
    )
    assert total == 30  # blocks 0..29 exactly once; block 30 still live


def test_undo_holdback_delays_finalize(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=10, start_block=0)

    _stage_blocks(spark, input_dir, list(range(0, 25)), 0)
    q, _ = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, undo_holdback=10
    )
    q.awaitTermination(120)
    # with holdback 10, range [10,20) needs max_seen >= 29: only [0,10) final
    assert _final_files(out_dir) == ["0000000000-0000000010.parquet"]


def test_undo_retracts_live_blocks(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=10, start_block=0)

    _stage_blocks(spark, input_dir, list(range(0, 25)), 0)
    q, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, undo_holdback=100
    )
    q.awaitTermination(120)
    assert _final_files(out_dir) == []  # everything held back

    sink.undo(last_valid_block=17)  # reorg: drop blocks 18+
    live = spark.read.parquet(os.path.join(out_dir, "_live"))
    assert live.agg({"block_number": "max"}).collect()[0][0] == 17
    assert live.count() == 18


def test_stream_explode_child_tables(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=10, start_block=0)

    _stage_blocks(spark, input_dir, list(range(0, 15)), 0)
    q, _ = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, explode=True
    )
    q.awaitTermination(120)
    assert "0000000000-0000000010.parquet" in _final_files(
        os.path.join(out_dir, "transfers")
    )
    t = pq.read_table(
        os.path.join(out_dir, "transfers", "0000000000-0000000010.parquet")
    )
    assert t.schema.names == ["block_number", "block_id", "from_addr", "amount", "ok"]
    assert t.num_rows == 10


def test_compact_live_preserves_rows(spark, tmp_path):
    from substreams_sink_parquet_spark.sink.maintenance import (
        compact_live,
        live_file_counts,
    )

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=100, start_block=0)

    # three micro-batch appends into the same (never-finalized) range
    for batch, blocks in enumerate([range(0, 5), range(5, 10), range(10, 15)]):
        _stage_blocks(spark, input_dir, list(blocks), batch)
        q, _ = run_pipeline(
            spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, undo_holdback=1000
        )
        q.awaitTermination(120)

    from substreams_sink_parquet_spark.fsio import HadoopFS

    fs = HadoopFS(spark, out_dir)
    before = live_file_counts(fs, out_dir)
    assert before[0] >= 3  # one+ file per micro-batch
    rows_before = sorted(
        r.block_number
        for r in spark.read.parquet(os.path.join(out_dir, "_live")).collect()
    )

    result = compact_live(spark, out_dir, target_files=1)
    assert result[0][0] == before[0] and result[0][1] == 1
    rows_after = sorted(
        r.block_number
        for r in spark.read.parquet(os.path.join(out_dir, "_live")).collect()
    )
    assert rows_after == rows_before == list(range(15))


def test_streaming_with_rocksdb_state_store(spark, tmp_path):
    """RocksDB is the 100 TB state-store setting — prove the provider loads
    and checkpoints stateful aggregation state in this image."""
    from substreams_sink_parquet_spark.streaming.stateful import (
        watermarked_window_counts,
    )

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    df = spark.createDataFrame(
        [(0, "a", 1), (5, "a", 1), (65, "a", 1)], "sec long, kind string, value long"
    ).selectExpr("timestamp_seconds(sec) AS ts", "kind", "value")
    df.coalesce(1).write.mode("append").parquet(in_dir)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out: list = []
        stream = spark.readStream.schema(df.schema).parquet(in_dir)
        q = (
            watermarked_window_counts(stream)
            .writeStream.foreachBatch(lambda d, _e: out.extend(d.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert {(r.win_start, r.n) for r in out} == {(0, 2), (60, 1)}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a mid-batch crash the SAME epoch
    re-runs. The epoch-keyed overwrite in _append_live must make that replay
    a no-op instead of doubling the staged rows."""
    from substreams_sink_parquet_spark.streaming.stream_sink import StreamingSink

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    sink = StreamingSink(
        spark=spark, spec=BLOCK, out_dir=out_dir,
        opts=WriterOptions(partition_size=10, start_block=0),
        undo_holdback=1000,  # keep everything live
    )
    raw = _blocks_df(spark, [0, 1, 2, 3])
    sink.process_batch(raw, epoch_id=0)
    live = os.path.join(out_dir, "_live")
    assert spark.read.parquet(live).count() == 4

    sink.process_batch(raw, epoch_id=0)  # crash-replay of the same epoch
    assert spark.read.parquet(live).count() == 4  # NOT 8

    sink.process_batch(_blocks_df(spark, [4, 5]), epoch_id=1)  # next epoch
    df = spark.read.parquet(live)
    assert df.count() == 6
    assert sorted(r.block_number for r in df.collect()) == [0, 1, 2, 3, 4, 5]


def _live_setup_three_epochs(spark, tmp_path):
    """Three micro-batches staged into one never-finalized range."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=100, start_block=0)
    for batch, blocks in enumerate([range(0, 5), range(5, 10), range(10, 15)]):
        _stage_blocks(spark, input_dir, list(blocks), batch)
        q, _ = run_pipeline(
            spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, undo_holdback=1000
        )
        q.awaitTermination(120)
    return out_dir


def test_compact_recovery_commits_mid_swap_crash(spark, tmp_path):
    """Crash AFTER the compacted write + manifest and AFTER the source
    deletes but BEFORE the rename: the rows exist only in _compact_{rs}.
    Recovery must finish the swap, not drop them (ADVICE r2: the old
    delete-then-rename order silently lost this window)."""
    import json

    from substreams_sink_parquet_spark.fsio import HadoopFS, url_join
    from substreams_sink_parquet_spark.sink import maintenance as m

    out_dir = _live_setup_three_epochs(spark, tmp_path)
    fs = HadoopFS(spark, out_dir)
    live = url_join(out_dir, "_live")

    srcs = m._range_dirs(fs, live, 0)
    assert len(srcs) >= 3
    tmp = url_join(live, "_compact_0")
    (
        spark.read.parquet(*srcs)
        .repartition(1).sortWithinPartitions("block_number")
        .write.mode("overwrite").parquet(tmp)
    )
    rel = [s[len(live) + 1:] for s in srcs]
    fs.write_bytes(
        url_join(tmp, "_MERGED.json"),
        json.dumps({"range_start": 0, "sources": rel}).encode(),
    )
    for s in srcs:  # the commit phase got this far, then crashed
        fs.delete(s, recursive=True)

    actions = m.recover_compact_leftovers(fs, out_dir)
    assert actions == {"_compact_0": "committed"}
    rows = sorted(
        r.block_number
        for r in spark.read.parquet(os.path.join(out_dir, "_live")).collect()
    )
    assert rows == list(range(15))  # nothing lost
    assert not fs.exists(tmp)


def test_compact_recovery_drops_uncommitted_leftover(spark, tmp_path):
    """A _compact_ dir WITHOUT a manifest never reached its commit point:
    sources are intact, so recovery deletes the partial write."""
    from substreams_sink_parquet_spark.fsio import HadoopFS, url_join
    from substreams_sink_parquet_spark.sink import maintenance as m

    out_dir = _live_setup_three_epochs(spark, tmp_path)
    fs = HadoopFS(spark, out_dir)
    live = url_join(out_dir, "_live")
    tmp = url_join(live, "_compact_0")
    spark.read.parquet(*m._range_dirs(fs, live, 0)).write.parquet(tmp)

    actions = m.recover_compact_leftovers(fs, out_dir)
    assert actions == {"_compact_0": "dropped_uncommitted"}
    assert not fs.exists(tmp)
    rows = sorted(
        r.block_number
        for r in spark.read.parquet(os.path.join(out_dir, "_live")).collect()
    )
    assert rows == list(range(15))  # sources untouched

    # and a full compact_live run afterwards still converges to one file
    result = m.compact_live(spark, out_dir, target_files=1)
    assert result[0][1] == 1


def test_stream_finalize_splits_with_target_file_bytes(spark, tmp_path):
    """target_file_bytes splits finalized ranges into -partNNNN files; the
    backfill schema template must not re-read the (absent) plain-named file
    (ADVICE r2: PATH_NOT_FOUND inside foreachBatch)."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_blocks(spark, input_dir, list(range(0, 25)), 0)

    opts = WriterOptions(partition_size=10, start_block=0, target_file_bytes=800)
    query, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, available_now=True
    )
    query.awaitTermination(120)

    files = _final_files(out_dir)
    assert any("-part" in f for f in files), files
    total = sum(pq.read_table(os.path.join(out_dir, f)).num_rows for f in files)
    assert total == 20  # both finalized ranges complete, no crash
    blocks = sorted(
        b
        for f in files
        for b in pq.read_table(os.path.join(out_dir, f)).column("block_number").to_pylist()
    )
    assert blocks == list(range(20))


def test_undo_deep_reorg_retracts_finalized_ranges(spark, tmp_path):
    """A reorg deeper than undo_holdback must retract already-finalized
    files: ranges above the fork deleted, the spanning range demoted back to
    the live area, and a re-fed stream re-finalizes to a contiguous lake
    (VERDICT r2 Missing #1 / SURVEY §7.2 partition-rewrite escape hatch)."""
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sink.writer import lake_coverage

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=10, start_block=0)

    _stage_blocks(spark, input_dir, list(range(0, 36)), 0)
    q, sink = run_pipeline(spark, input_dir, out_dir, BLOCK, ckpt, opts=opts)
    q.awaitTermination(120)
    assert _final_files(out_dir) == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",
        "0000000020-0000000030.parquet",
    ]

    sink.undo(last_valid_block=17)  # fork point UNDER the finalize horizon

    # finalized: only the fully-valid [0,10) file survives
    assert _final_files(out_dir) == ["0000000000-0000000010.parquet"]
    # the spanning range's surviving rows were demoted to the live area
    live = spark.read.parquet(os.path.join(out_dir, "_live"))
    assert sorted(r.block_number for r in live.collect()) == list(range(10, 18))

    # reorg branch re-feeds blocks 18.. and the lake converges
    _stage_blocks(spark, input_dir, list(range(18, 42)), 1)
    q2, sink2 = run_pipeline(spark, input_dir, out_dir, BLOCK, ckpt, opts=opts)
    q2.awaitTermination(120)
    files = _final_files(out_dir)
    assert files == [
        "0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet",
        "0000000020-0000000030.parquet",
        "0000000030-0000000040.parquet",
    ]
    blocks = sorted(
        b
        for f in files
        for b in pq.read_table(os.path.join(out_dir, f)).column("block_number").to_pylist()
    )
    assert blocks == list(range(40))  # every block exactly once, no orphans
    rep = lake_coverage(HadoopFS(spark, out_dir), out_dir)
    assert rep["contiguous"]


def test_undo_deep_reorg_keeps_exploded_children_in_lockstep(spark, tmp_path):
    """Deep-reorg retraction must hit exploded child tables too — orphaned
    child rows above the fork would silently survive otherwise."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    opts = WriterOptions(partition_size=10, start_block=0)

    _stage_blocks(spark, input_dir, list(range(0, 36)), 0)
    q, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, explode=True
    )
    q.awaitTermination(120)
    tdir = os.path.join(out_dir, "transfers")
    assert len(_final_files(tdir)) == 3

    sink.undo(last_valid_block=17)

    assert _final_files(tdir) == ["0000000000-0000000010.parquet"]
    child_live = spark.read.parquet(os.path.join(tdir, "_live"))
    assert sorted(r.block_number for r in child_live.collect()) == list(range(10, 18))
    # main table agrees
    assert _final_files(out_dir) == ["0000000000-0000000010.parquet"]


def test_finalize_listing_is_single_pass(spark, tmp_path, monkeypatch):
    """_finalize_ready must list the live tree ONCE per batch — O(epochs),
    not O(epochs × ranges) py4j round-trips (VERDICT r2 Wrong #1)."""
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.streaming.stream_sink import StreamingSink

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    sink = StreamingSink(
        spark=spark, spec=BLOCK, out_dir=out_dir,
        opts=WriterOptions(partition_size=10, start_block=0),
        undo_holdback=1000,  # accumulate epochs without finalizing
    )
    n_epochs, n_ranges = 4, 3
    for e in range(n_epochs):
        sink.process_batch(_blocks_df(spark, list(range(0, n_ranges * 10, 2))), e)

    calls = {"live": 0}
    orig = HadoopFS.listdir

    def counting(self, url):
        if "/_live" in url:
            calls["live"] += 1
        return orig(self, url)

    monkeypatch.setattr(HadoopFS, "listdir", counting)
    sink._finalize_ready(out_dir, force=True)
    # one root listing + one per epoch; nothing per-range on the live tree
    assert calls["live"] <= n_epochs + 1, calls


def test_finalize_drops_emptied_epoch_dirs(spark, tmp_path):
    """Epochs whose every range finalized must disappear — the _SUCCESS
    marker previously kept them 'non-empty', accumulating one stray dir per
    micro-batch forever (the very growth that made listing O(epochs))."""
    from substreams_sink_parquet_spark.streaming.stream_sink import StreamingSink

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    sink = StreamingSink(
        spark=spark, spec=BLOCK, out_dir=out_dir,
        opts=WriterOptions(partition_size=10, start_block=0),
        undo_holdback=1000,
    )
    for e in range(3):
        sink.process_batch(_blocks_df(spark, [0, 1, 2, 3]), e)
    sink._finalize_ready(out_dir, force=True)
    live = os.path.join(out_dir, "_live")
    leftover = os.listdir(live) if os.path.exists(live) else []
    assert [d for d in leftover if d.startswith("epoch=")] == []


def test_nil_payload_tip_still_advances_horizon(spark, tmp_path):
    """A sparse module's tip blocks carry no output (nil payload —
    sinker.go:158-160 skips them at decode, but the cursor still advances).
    The holdback horizon must track the RAW stream, not the decoded rows:
    range [0,10) is only ready here because the nil-payload blocks 9-12
    count as seen."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    blocks = synth_blocks(BLOCK, range(0, 9), _payload)
    blocks += [(bn, f"0x{bn:08x}", None) for bn in range(9, 13)]  # sparse tip
    stage_raw_blocks(spark, input_dir, blocks)

    opts = WriterOptions(partition_size=10, start_block=0)
    query, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts,
        undo_holdback=3, available_now=True,
    )
    query.awaitTermination(120)

    # ready iff max_seen >= 10 + 3 - 1 = 12 — true only via the nil tip
    assert sink._max_seen == 12
    assert _final_files(out_dir) == ["0000000000-0000000010.parquet"]
    t = pq.read_table(os.path.join(out_dir, "0000000000-0000000010.parquet"))
    assert t.column("block_number").to_pylist() == list(range(9))  # nils skipped


def test_finalize_merges_schema_across_epoch_drift(spark, tmp_path):
    """Regression (review finding): live epochs spanning an ADDITIVE schema
    upgrade must finalize with the union schema — without mergeSchema one
    file's footer wins and the added column is silently dropped before the
    staged sources are deleted."""
    from substreams_sink_parquet_spark.fsio import HadoopFS, url_join
    from substreams_sink_parquet_spark.streaming.stream_sink import StreamingSink

    out = str(tmp_path / "out")
    sink = StreamingSink(
        spark=spark, spec=BLOCK, out_dir=out,
        opts=WriterOptions(partition_size=10, start_block=0),
        check_schema=False,
    )
    fs = HadoopFS(spark, out)
    # stage two epochs by hand: v1 lacks the additive column, v2 has it
    v1 = spark.createDataFrame([(0, "a")], "block_number long, s string")
    v2 = spark.createDataFrame([(1, "b", 7)], "block_number long, s string, extra long")
    v1.write.parquet(url_join(out, "_live", "epoch=0", "range_start=0"))
    v2.write.parquet(url_join(out, "_live", "epoch=1", "range_start=0"))
    sink._max_seen = 15  # range [0,10) fully past
    sink._finalize_ready(out)
    got = spark.read.parquet(url_join(out, "0000000000-0000000010.parquet"))
    assert "extra" in got.columns
    rows = {r.block_number: r.asDict() for r in got.collect()}
    assert rows[1]["extra"] == 7 and rows[0]["extra"] is None


def test_stream_restart_recovers_stranded_compaction(spark, tmp_path):
    """Regression (review finding): a compaction that crashed after deleting
    its sources but before the swap leaves rows only in _compact_{rs};
    restarting the stream must recover them — not paper over the range
    with an empty backfill file."""
    import json as _json

    from substreams_sink_parquet_spark.fsio import HadoopFS, url_join
    from substreams_sink_parquet_spark.sink.maintenance import _MANIFEST

    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _stage_blocks(spark, input_dir, list(range(0, 8)), 0)
    opts = WriterOptions(partition_size=10, start_block=0)
    query, sink = run_pipeline(
        spark, input_dir, out, BLOCK, str(tmp_path / "ck1"), opts=opts,
        undo_holdback=100, available_now=True,  # holdback keeps range live
    )
    query.awaitTermination(120)
    fs = HadoopFS(spark, out)
    live = url_join(out, "_live")
    # simulate the crash state: rows moved aside to a committed _compact_0,
    # sources deleted, swap never happened
    srcs = [
        f"epoch={e.split('=')[1]}/range_start=0"
        for e in fs.listdir(live) if e.startswith("epoch=")
    ]
    df = spark.read.parquet(*[url_join(live, s) for s in srcs])
    tmp_dir = url_join(live, "_compact_0")
    df.coalesce(1).write.parquet(tmp_dir)
    fs.write_bytes(
        url_join(tmp_dir, _MANIFEST),
        _json.dumps({"range_start": 0, "sources": srcs}).encode(),
    )
    for s in srcs:
        fs.delete(url_join(live, s), recursive=True)
    # restart: more blocks arrive, range [0,10) eventually finalizes
    _stage_blocks(spark, input_dir, list(range(8, 120)), 1)
    query, sink = run_pipeline(
        spark, input_dir, out, BLOCK, str(tmp_path / "ck1"), opts=opts,
        undo_holdback=0, available_now=True,
    )
    query.awaitTermination(120)
    sink.close()
    got = spark.read.parquet(url_join(out, "0000000000-0000000010.parquet"))
    assert got.count() == 10  # the stranded rows survived recovery


def test_undo_lake_safe_under_partition_size_mismatch(spark, tmp_path):
    """Regression (review finding): offline undo with a defaulted/mismatched
    partition size must still retract above-fork rows from live dirs — the
    spanning test reads the data's max block, not opts.partition_size."""
    from substreams_sink_parquet_spark.fsio import url_join
    from substreams_sink_parquet_spark.streaming.stream_sink import undo_lake

    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _stage_blocks(spark, input_dir, list(range(0, 30)), 0)
    opts = WriterOptions(partition_size=10000, start_block=0)  # big ranges
    query, sink = run_pipeline(
        spark, input_dir, out, BLOCK, str(tmp_path / "ck"), opts=opts,
        undo_holdback=10**6, available_now=True,  # everything stays live
    )
    query.awaitTermination(120)
    undo_lake(spark, out, last_valid_block=14)  # opts=None: default size 5000
    import glob as _glob

    live_files = _glob.glob(f"{out}/_live/epoch=*/range_start=*/*.parquet")
    kept = spark.read.parquet(*live_files)
    assert kept.agg(F.max("block_number")).collect()[0][0] == 14


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """The backpressure knob must split a staged backlog into multiple
    bounded micro-batches (one offsets entry per batch in the checkpoint)."""
    from substreams_sink_parquet_spark.sink.writer import WriterOptions, read_lake
    from substreams_sink_parquet_spark.streaming.stream_sink import run_pipeline

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for batch, blocks in enumerate([range(0, 10), range(10, 20), range(20, 30)]):
        _stage_blocks(spark, input_dir, list(blocks), batch)
    q, _ = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt,
        opts=WriterOptions(partition_size=10, start_block=0),
        undo_holdback=0,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    n_batches = len([
        f for f in os.listdir(os.path.join(ckpt, "offsets")) if not f.startswith(".")
    ])
    assert n_batches >= 3  # one file admitted per trigger
    assert read_lake(spark, out_dir).count() == 30


def test_stream_finalize_subsplits_with_write_tasks(spark, tmp_path):
    """write_tasks in the streaming finalize: few-but-large ready ranges
    sub-split into block-ordered -partNNNN files (encode parallelism above
    ranges-per-batch), and the lake reads back complete and ordered."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_blocks(spark, input_dir, list(range(0, 250)), 0)

    opts = WriterOptions(partition_size=100, start_block=0, write_tasks=8)
    query, sink = run_pipeline(
        spark, input_dir, out_dir, BLOCK, ckpt, opts=opts, available_now=True
    )
    query.awaitTermination(120)

    files = _final_files(out_dir)
    assert any("-part" in f for f in files), files
    by_range = {}
    for f in files:
        by_range.setdefault(f.split("-part")[0], []).append(f)
    for parts in by_range.values():
        blocks = []
        for p in sorted(parts):
            blocks += pq.read_table(
                os.path.join(out_dir, p)
            ).column("block_number").to_pylist()
        assert blocks == sorted(blocks)  # name order == block order
    total = sum(pq.read_table(os.path.join(out_dir, f)).num_rows for f in files)
    assert total == 200  # ranges [0,100) and [100,200) finalized complete


def test_replay_after_multi_epoch_finalize_keeps_all_rows(spark, tmp_path):
    """A finalize may merge SEVERAL epochs' live rows into one final file;
    if the process crashes before that batch's checkpoint commit, the
    replayed batch re-appends only ITS OWN epoch's rows — and used to
    re-finalize the range from them alone, overwriting the complete file
    with a subset (rename is delete-dst-first). The guard skips a range
    whose final file already exists and drops the replayed live subset
    (code review r11)."""
    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=opts, undo_holdback=0)
    sink.process_batch(_blocks_df(spark, [0, 1, 2]), epoch_id=0)
    # epoch 1 pushes the horizon past range [0,10): finalize merges BOTH
    # epochs' live rows into the final file
    sink.process_batch(_blocks_df(spark, [3, 4, 15]), epoch_id=1)
    final = [n for n in _final_files(out_dir) if n.startswith("00")]
    assert len(final) == 1
    fpath = os.path.join(out_dir, final[0])
    assert spark.read.parquet(fpath).count() == 5

    # crash-replay: a FRESH sink (restarted process) replays epoch 1 only
    sink2 = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                          opts=opts, undo_holdback=0)
    sink2.process_batch(_blocks_df(spark, [3, 4, 15]), epoch_id=1)
    got = sorted(
        r.block_number for r in spark.read.parquet(fpath).collect()
    )
    assert got == [0, 1, 2, 3, 4]  # epoch 0's rows survived the replay
    # and the replayed live subset for the finalized range is gone
    live = os.path.join(out_dir, "_live")
    if os.path.exists(live):
        live_blocks = {
            r.block_number for r in spark.read.parquet(live).collect()
        }
        assert live_blocks == {15}


def test_undo_live_crash_mid_rewrite_recovers(spark, tmp_path):
    """Crash between the rewrite's delete(src) and rename strands the kept
    rows in the staging dir. The old src+'_rewrite' name int()-poisoned
    every later live_index listing; the '_'-prefixed staging name is
    invisible to listings and the next undo's repair pre-pass renames a
    complete orphan back into place before retracting (code review r11)."""
    import shutil

    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    sink = StreamingSink(
        spark=spark, spec=BLOCK, out_dir=out_dir,
        opts=WriterOptions(partition_size=100, start_block=0),
        undo_holdback=1000,
    )
    sink.process_batch(_blocks_df(spark, [0, 1, 2, 3, 4, 5]), epoch_id=0)
    src = os.path.join(out_dir, "_live", "epoch=0", "range_start=0")
    stranded = os.path.join(out_dir, "_live", "epoch=0",
                            "_rewrite_range_start=0")
    # simulate the crash window: rewrite committed, src deleted, rename
    # never ran — the only copy of the rows sits in the staging dir
    shutil.move(src, stranded)
    assert sink._live_index(os.path.join(out_dir, "_live")) == {
        "epoch=0": []
    } or "epoch=0" in sink._live_index(os.path.join(out_dir, "_live"))
    sink.undo(last_valid_block=3)
    live_blocks = sorted(
        r.block_number
        for r in spark.read.parquet(os.path.join(out_dir, "_live")).collect()
    )
    assert live_blocks == [0, 1, 2, 3]
    assert not os.path.exists(stranded)


def test_undo_lake_refuses_off_grid_partition_size(spark, tmp_path):
    """The offline undo CLI with a defaulted/mismatched --partition-size
    would demote a spanning file's rows onto the wrong native grid (the
    hazard _undo_live already defends against from the data); the
    finalized path now validates the finalized names against the opts
    grid and refuses loudly (code review r11)."""
    import pytest

    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink, undo_lake,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=opts, undo_holdback=0)
    sink.process_batch(_blocks_df(spark, list(range(0, 20)) + [35]),
                       epoch_id=0)
    assert len([n for n in _final_files(out_dir)]) == 2  # 0-10, 10-20

    with pytest.raises(ValueError, match="grid"):
        undo_lake(spark, out_dir, 12)  # defaulted partition_size=5000

    # with the lake's real opts the spanning demote works
    undo_lake(spark, out_dir, 12, opts=opts)
    names = _final_files(out_dir)
    assert all(not n.startswith("0000000010") for n in names)
    demoted = spark.read.parquet(
        os.path.join(out_dir, "_live", "epoch=-2", "range_start=10")
    )
    assert sorted(r.block_number for r in demoted.collect()) == [10, 11, 12]


def test_undo_lake_retracts_rollup_too(spark, tmp_path):
    """The offline undo path retracts _rollup/ in lockstep (it reloads
    _SPEC.json), instead of leaving bucket totals that still include the
    retracted blocks for the re-fed stream to double-count against
    (code review r11)."""
    from substreams_sink_parquet_spark.fsio import url_join
    from substreams_sink_parquet_spark.streaming.rollup import (
        RollupSpec, read_rollup,
    )
    from substreams_sink_parquet_spark.streaming.stream_sink import (
        run_pipeline, undo_lake,
    )

    spec = RollupSpec(
        bucket_col="block_number", bucket_size=10,
        measures={"n_rows": ("count", "*"), "hi": ("max", "block_number")},
    )
    in_dir, out, ckpt = (str(tmp_path / "in"), str(tmp_path / "lake"),
                         str(tmp_path / "ck"))
    _stage_blocks(spark, in_dir, list(range(0, 25)), 0)
    opts = WriterOptions(partition_size=10, start_block=0)
    q, _ = run_pipeline(spark, in_dir, out, BLOCK, ckpt, opts=opts,
                        undo_holdback=0, rollup_spec=spec)
    q.awaitTermination(120)

    undo_lake(spark, out, 14, opts=opts)
    got = {
        r.bucket: (r.n_rows, r.hi)
        for r in read_rollup(spark, url_join(out, "_rollup"), spec).collect()
    }
    assert got == {0: (10, 9), 10: (5, 14)}  # 15..24 retracted offline


def test_finalize_crash_mid_rename_recovers_from_live(spark, tmp_path):
    """ADVICE r11 (high): _finalize renames staged parts over an UNORDERED
    thread pool, so a crash can leave -part0000 in the lake while later
    parts still sit in _staging. The r11 replay guard read part0000 as a
    complete finalize and deleted the intact live sources; the next
    finalize's mode('overwrite') on _staging then destroyed the stranded
    parts — silent row loss. The repair pre-pass instead drops the partial
    final parts plus the staging roots and re-finalizes from the intact
    live dirs (code review r12)."""
    import glob
    import shutil

    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=opts, undo_holdback=1000)
    sink.process_batch(_blocks_df(spark, list(range(10))), epoch_id=0)
    assert _final_files(out_dir) == []  # holdback keeps everything live

    # simulate the crash state: a pre-crash finalize split [0,10) in two,
    # renamed only part0000 (a SUBSET), and died with the remainder still
    # in _staging — the live sources are intact (they are deleted only
    # after _finalize returns, which deletes _staging first)
    src = os.path.join(out_dir, "_live", "epoch=0", "range_start=0")
    subset = spark.read.parquet(src).filter(F.col("block_number") <= 4)
    subset.coalesce(1).write.parquet(str(tmp_path / "subset"))
    pf = glob.glob(str(tmp_path / "subset" / "part-*.parquet"))[0]
    shutil.copy(
        pf, os.path.join(out_dir, "0000000000-0000000010-part0000.parquet")
    )
    stranded = os.path.join(out_dir, "_staging", "__range_start=0")
    os.makedirs(stranded)
    shutil.copy(pf, os.path.join(stranded, "part-00001.parquet"))

    # restarted process: a new batch pushes the horizon past the range
    sink2 = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                          opts=opts, undo_holdback=0)
    sink2.process_batch(_blocks_df(spark, [15]), epoch_id=1)

    finals = [n for n in _final_files(out_dir) if n.startswith("0000000000")]
    got = sorted(
        b
        for n in finals
        for b in pq.read_table(
            os.path.join(out_dir, n)
        ).column("block_number").to_pylist()
    )
    assert got == list(range(10))  # every row survived, exactly once
    assert not os.path.exists(os.path.join(out_dir, "_staging"))


def test_undo_crash_before_demotion_self_heals_on_restart(spark, tmp_path):
    """ADVICE r11 (medium): a crash between undo's demotion staging and the
    finalized-file delete used to leave BOTH; a restart without re-running
    undo then served the stale pre-reorg file forever while the guard
    discarded the demoted + re-fed live rows. The per-group marker is now
    written BEFORE any mutation, so the worst crash point (marker written,
    demotion never ran) re-demotes from the still-intact file on the next
    finalize pass and deletes the stale file (code review r12)."""
    import json

    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=opts, undo_holdback=0)
    sink.process_batch(_blocks_df(spark, list(range(10)) + [15]), epoch_id=0)
    final = "0000000000-0000000010.parquet"
    assert final in _final_files(out_dir)

    # crash IMMEDIATELY after the marker write: no demotion, no delete
    os.makedirs(os.path.join(out_dir, "_undo_markers"))
    with open(os.path.join(out_dir, "_undo_markers", "0-10.json"), "w") as f:
        json.dump({"fork": 7, "files": [final]}, f)

    # restart WITHOUT re-running undo; any batch triggers the repair
    sink2 = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                          opts=opts, undo_holdback=0)
    sink2.process_batch(_blocks_df(spark, [25]), epoch_id=0)

    finals = [n for n in _final_files(out_dir) if n.startswith("0000000000")]
    got = sorted(
        b
        for n in finals
        for b in pq.read_table(
            os.path.join(out_dir, n)
        ).column("block_number").to_pylist()
    )
    assert got == list(range(8))  # blocks 8,9 retracted; 0..7 re-finalized
    assert not os.path.exists(os.path.join(out_dir, "_undo_markers"))


def test_undo_crash_after_delete_trusts_demoted_rows(spark, tmp_path):
    """The other side of the marker contract: deletion only begins after
    the demotion completed, so a marker whose files are (partly) gone must
    TRUST the epoch=-2 dirs — re-demoting from the surviving subset would
    overwrite complete demoted rows with a partial group's
    (code review r12)."""
    import json

    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=opts, undo_holdback=0)
    sink.process_batch(_blocks_df(spark, list(range(10)) + [15]), epoch_id=0)
    final = "0000000000-0000000010.parquet"
    fpath = os.path.join(out_dir, final)

    # simulate: demotion complete (epoch=-2 holds blocks 0..7), file
    # deleted, crash before the marker delete
    kept = spark.read.parquet(fpath).filter(F.col("block_number") <= 7)
    kept.write.parquet(
        os.path.join(out_dir, "_live", "epoch=-2", "range_start=0")
    )
    os.remove(fpath)
    for crc in [os.path.join(out_dir, "." + final + ".crc")]:
        if os.path.exists(crc):
            os.remove(crc)
    os.makedirs(os.path.join(out_dir, "_undo_markers"))
    with open(os.path.join(out_dir, "_undo_markers", "0-10.json"), "w") as f:
        json.dump({"fork": 7, "files": [final]}, f)

    sink2 = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                          opts=opts, undo_holdback=0)
    sink2.process_batch(_blocks_df(spark, [25]), epoch_id=0)

    finals = [n for n in _final_files(out_dir) if n.startswith("0000000000")]
    got = sorted(
        b
        for n in finals
        for b in pq.read_table(
            os.path.join(out_dir, n)
        ).column("block_number").to_pylist()
    )
    assert got == list(range(8))
    assert not os.path.exists(os.path.join(out_dir, "_undo_markers"))


def test_torn_undo_marker_does_not_wedge_the_stream(spark, tmp_path):
    """ADVICE r12 (medium): the marker used to be committed with a plain
    write_bytes, so a crash mid-write left torn JSON that json.loads()
    raised on at the start of EVERY later batch — no data loss (the marker
    precedes all mutation) but a permanently wedged stream. The marker is
    now committed tmp+rename, and the repair drops an unparseable marker
    (provably pre-mutation under the old writer) with a warning instead of
    raising. A stale dot-tmp from a crash mid-write is likewise swept."""
    import json

    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=opts, undo_holdback=0)
    sink.process_batch(_blocks_df(spark, list(range(10)) + [15]), epoch_id=0)
    final = "0000000000-0000000010.parquet"
    assert final in _final_files(out_dir)

    markers = os.path.join(out_dir, "_undo_markers")
    os.makedirs(markers)
    # torn committed marker (legacy non-atomic write, crashed mid-write)
    with open(os.path.join(markers, "0-10.json"), "w") as f:
        f.write('{"fork": 7, "fil')
    # uncommitted tmp from the new atomic path, crashed before the rename
    with open(os.path.join(markers, ".10-20.json.tmp"), "w") as f:
        json.dump({"fork": 7, "files": [final]}, f)
    # committed marker with a malformed files list (not a range name)
    with open(os.path.join(markers, "20-30.json"), "w") as f:
        json.dump({"fork": 7, "files": ["not-a-range-file"]}, f)

    # restart: the next batch must converge, not raise
    sink2 = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                          opts=opts, undo_holdback=0)
    import warnings as _w

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        sink2.process_batch(_blocks_df(spark, [25]), epoch_id=0)
    assert any("undo marker" in str(r.message) for r in rec)

    # markers swept, finalized data untouched (markers predate mutation)
    assert not os.path.exists(markers)
    got = sorted(
        pq.read_table(os.path.join(out_dir, final))
        .column("block_number").to_pylist()
    )
    assert got == list(range(10))


def test_undo_marker_commit_is_atomic(tmp_path, spark):
    """The marker write itself goes through tmp+rename: after a successful
    undo there is never a bare-written marker, and mid-protocol the only
    non-final name ever present is the dot-tmp (ignored by the repair)."""
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=opts, undo_holdback=0)
    sink.process_batch(_blocks_df(spark, list(range(20)) + [25]), epoch_id=0)

    renames: list[tuple[str, str]] = []
    orig_rename = HadoopFS.rename

    def spy(self, src, dst, overwrite=True):
        renames.append((src, dst))
        return orig_rename(self, src, dst, overwrite)

    HadoopFS.rename = spy
    try:
        sink.undo(last_valid_block=14)
    finally:
        HadoopFS.rename = orig_rename
    marker_renames = [
        (s, d) for s, d in renames if "_undo_markers" in d
    ]
    assert marker_renames, "undo must commit its marker via tmp+rename"
    for src, dst in marker_renames:
        assert "/." in src and src.endswith(".tmp")
        assert dst.endswith(".json")


def test_batch_of_complete_ranges_is_written_once(spark, tmp_path,
                                                  monkeypatch):
    """A plain-mode batch whose ranges all complete inside it runs ONE
    parquet write — the live append — and finalize renames its one
    block-sorted file per range into place: no _staging, no rewrite."""
    from pyspark.sql import DataFrameWriter

    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                         opts=WriterOptions(partition_size=10, start_block=0))
    raw = _blocks_df(spark, list(range(29, -1, -1)))  # unsorted input
    writes = []
    orig = DataFrameWriter.parquet

    def counting(self, path, *args, **kwargs):
        writes.append(path)
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    sink.process_batch(raw, epoch_id=0)
    assert len(writes) == 1 and "/_live/" in writes[0], writes
    assert not os.path.exists(os.path.join(out_dir, "_staging"))
    files = _final_files(out_dir)
    assert len(files) == 3
    for i, f in enumerate(files):
        got = pq.read_table(os.path.join(out_dir, f)).column("block_number")
        assert got.to_pylist() == list(range(10 * i, 10 * i + 10))


def test_unmarked_live_dir_is_merged_not_renamed(spark, tmp_path):
    """Only a file the append wrote (its epoch dir carries the range-files
    marker) is renamed into place. A single-source live dir without the
    marker — an older layout, here one unsorted file — is merged, so the
    final file comes out block-sorted."""
    from substreams_sink_parquet_spark.fsio import url_join
    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    out = str(tmp_path / "out")
    sink = StreamingSink(spark=spark, spec=BLOCK, out_dir=out,
                         opts=WriterOptions(partition_size=10, start_block=0),
                         check_schema=False)
    rows = [(b, f"s{b}") for b in (7, 3, 9, 0, 5, 1, 8, 2, 6, 4)]
    spark.createDataFrame(rows, "block_number long, s string").coalesce(
        1
    ).write.parquet(url_join(out, "_live", "epoch=0", "range_start=0"))
    sink._max_seen = 15
    sink._finalize_ready(out)
    got = pq.read_table(os.path.join(out, "0000000000-0000000010.parquet"))
    assert got.column("block_number").to_pylist() == list(range(10))


def test_rename_finalize_crash_then_replay_converges(spark, tmp_path,
                                                     monkeypatch):
    """A crash after the first rename of a rename-path finalize: offsets
    are uncommitted, so a fresh sink replays the epoch — it re-appends the
    rows, the final-file guard drops those of the range already renamed,
    and the rest are renamed. Every block lands exactly once, the lake is
    contiguous and nothing is left live."""
    import pytest

    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sink.writer import lake_coverage
    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    opts = WriterOptions(partition_size=10, start_block=0)
    raw = _blocks_df(spark, list(range(30)))

    def first_move_then_crash(self, moves):
        self.rename(*list(moves)[0])
        raise IOError("crash after the first rename")

    with monkeypatch.context() as m:
        m.setattr(HadoopFS, "rename_all", first_move_then_crash)
        with pytest.raises(IOError, match="first rename"):
            StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                          opts=opts).process_batch(raw, epoch_id=0)
    assert len(_final_files(out_dir)) == 1

    StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                  opts=opts).process_batch(raw, epoch_id=0)
    blocks = sorted(
        b
        for f in _final_files(out_dir)
        for b in pq.read_table(
            os.path.join(out_dir, f)
        ).column("block_number").to_pylist()
    )
    assert blocks == list(range(30))
    assert lake_coverage(HadoopFS(spark, out_dir), out_dir)["contiguous"]
    live = os.path.join(out_dir, "_live")
    assert not os.path.exists(live) or os.listdir(live) == []
