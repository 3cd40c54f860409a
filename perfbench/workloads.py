"""The workloads. Each drives the package only through its public
entry points and returns its measurements, its operation counts and the
problems its checks found.

``ingest-backlog``  a staged backlog drained by ``run_pipeline`` with
                    ``available_now`` and explode on, then ``close()``.
``ingest-live``     an open-loop feeder publishing one staged file per tick
                    into a running 2-second-trigger stream, explode off.
``corpus-dedup``    crawl increments drained one epoch each by
                    ``run_corpus_pipeline(near_dup=True)`` into one corpus
                    whose dedup indexes grow, read back by ``corpus_docs``.

The read path (``read_lake``) is timed in traced ``ingest-backlog`` runs
only, by queries over the lake the last drain built.

In a traced run operations alternate between untraced and traced (drains,
micro-batches, epochs); the per-layer metrics come from the traced ones
and the ratio of the two groups' median operation times, minus one, is the
tracing overhead. Alternating keeps any drift over the run (warm-up, host
load) out of that ratio.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import checks
import gen as G
from spans import (
    Tracer,
    finalize_lags,
    in_window,
    median,
    percentile,
    tail_percentile,
)

# ingest-backlog: the reference CLI's defaults (8 files per trigger,
# 5000-block ranges) over files of 1000 blocks: one drain is a micro-batch
# of 8000 blocks and one of 4000. Smaller files would give more batches per
# run (a tail beyond the median needs 20) but make per-batch fixed cost
# dominate: at 250 blocks per file a drain ran at a third of the rate.
BACKLOG_FILES = 12
BACKLOG_BLOCKS_PER_FILE = 1000
BACKLOG_PARTITION = 5000
BACKLOG_FILES_PER_TRIGGER = 8
BACKLOG_WARM_DRAINS = 1
# the first timed drain still runs slower than later ones (by about a
# fifth); the throughput is the median of the timed drains
BACKLOG_MIN_DRAINS = 2

# ingest-live: 1000 blocks/s in ticks of 0.25 s; one tick = one range. The
# trigger interval is the CLI's --flush-interval-s 2: at 1 s, one micro-batch
# (about 0.8 s of fixed cost even for a single range on a 4-CPU host) leaves
# no headroom, so host noise tips the stream into back-to-back batches and the
# lag swings with it.
LIVE_RATE = 1000
LIVE_TICK_S = 0.25
LIVE_TRIGGER_S = 2
LIVE_WARM_S = 4.0
LIVE_DRAIN_TIMEOUT_S = 20.0

# corpus-dedup: crawl increments of CORPUS_DOCS documents, a fifth of them
# planted duplicates of earlier ones, one epoch each into one growing corpus
# that an untimed increment of CORPUS_WARM_DOCS starts (the first epoch in
# a process runs about three times as long as a steady one). The timed
# epoch is the first to screen against a non-empty index, so it still pays
# that path's one-time plan compilation (about 1.5 times a steady epoch),
# as a job that ingests each increment in a fresh process always does; a
# second warm-up epoch would add about 12 s to every run. The quality gate
# stays off: its Gopher rules reject random-vocabulary text.
CORPUS_DOCS = 800
CORPUS_WARM_DOCS = 100

# read path (traced ingest-backlog runs only): queries over the drained lake
READ_SCAN_SPAN = 2500
READ_TRACE_S = 3.0

# bounds a hung drain, so that a run still ends in bounded time
STREAM_TIMEOUT_S = 120

PER_LAYER_UNITS = {
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows_per_batch": "count",
    "stream_sink.batch_s": "s",
    "stream_sink.batch_spark_jobs": "count",
    "stream_sink.wal_commit_ms": "ms",
    "stream_sink.commit_offsets_ms": "ms",
    "decode.s": "s",
    "decode.blocks_per_s": "1/s",
    "writer.append_live_s": "s",
    "writer.finalize_s": "s",
    "writer.backfill_s": "s",
    "writer.files_written": "count",
    "writer.bytes_written": "B",
    "writer.write_amp": "ratio",
    "explode.tables": "count",
    "explode.child_rows_per_block": "ratio",
    "explode.child_append_s": "s",
    "fsio.listdir_calls": "count",
    "fsio.exists_calls": "count",
    "fsio.rename_calls": "count",
    "fsio.delete_calls": "count",
    "fsio.s": "s",
    "read_lake.plan_s": "s",
    "read_lake.files_selected": "count",
    "read_lake.prune_ratio": "ratio",
    "query.exec_s": "s",
    "query.spark_jobs": "count",
    "jvm.gc_ms": "ms",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "B",
    "spark.executor_run_s": "s",
    "corpus.epoch_s": "s",
    "corpus.index_rows": "count",
    "corpus.admitted": "count",
    "corpus.rejected_exact": "count",
    "corpus.rejected_near": "count",
    "corpus.reject_precision": "ratio",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "bytes_per_input_byte": "B/B",
    "ok_ops_ratio": "ratio",
    "peak_mem_mb": "MB",
}

FS_METHODS = ("listdir", "exists", "is_dir", "list_sizes", "mkdirs", "delete",
              "rename", "rename_all", "read_bytes", "write_bytes", "write_bytes_all")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    started: float                  # process start, for setup_s
    tracer: Tracer = field(default_factory=Tracer)
    _mark: float = 0.0

    def phase(self, out: "Outcome", name: str) -> None:
        """Record in ``out.info`` the seconds since the previous phase (or
        since the process started)."""
        now = time.time()
        out.info[name] = round(now - (self._mark or self.started), 3)
        self._mark = now


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    # traced runs: fills the per-layer metrics that need Spark's event log,
    # called with the parsed log after the session has stopped
    finish: object = None


def block_spec():
    from substreams_sink_parquet_spark import protowire as pw

    kinds = {"string": pw.K_STRING, "uint64": pw.K_UINT64, "uint32": pw.K_UINT32}
    transfer = pw.MessageSpec("bench.Block.Transfer", tuple(
        pw.FieldSpec(n, i, kinds[k]) for n, i, k in G.TRANSFER_FIELDS
    ))
    return pw.MessageSpec("bench.Block", tuple(
        pw.FieldSpec(n, i, pw.K_MESSAGE, repeated=True, message=transfer)
        if k == "transfers" else pw.FieldSpec(n, i, kinds[k])
        for n, i, k in G.BLOCK_FIELDS
    ))


def latency_metrics(samples: list[float], out: Outcome) -> None:
    if not samples:
        return
    q = tail_percentile(len(samples))
    out.e2e["latency_p50_s"] = median(samples)
    # at q = 50 the tail is the median itself
    out.e2e["latency_tail_s"] = median(samples) if q == 50 else percentile(samples, q)
    out.info["latency_samples"] = len(samples)
    out.info["latency_tail_percentile"] = q


# -- tracing --------------------------------------------------------------------


def install_tracing(ctx: Ctx, alternate_batches: bool = False) -> None:
    """Wrap the package's public functions and methods with spans, and
    count, on the operation span they run under, the parquet files each
    live append wrote and the final range files (and their bytes) each
    finalize pass created. With ``alternate_batches`` only odd-numbered
    micro-batches are traced."""
    from substreams_sink_parquet_spark import fsio
    from substreams_sink_parquet_spark.sink import writer
    from substreams_sink_parquet_spark.streaming import stream_sink

    t = ctx.tracer
    lock = threading.Lock()  # explode appends run on a thread pool

    def add(**counts):
        op = t.current_op()
        if op is not None:
            with lock:
                for k, n in counts.items():
                    op.attrs[k] = op.attrs.get(k, 0) + n

    def appended(_state, self, df, table_dir, epoch_id):
        add(files=count_files(os.path.join(table_dir, "_live", f"epoch={epoch_id}")))

    def listing(self, table_dir, force=False):
        return set(os.listdir(table_dir)) if os.path.isdir(table_dir) else set()

    def finalized(before, self, table_dir, force=False):
        new = [n for n in set(os.listdir(table_dir)) - before if checks.RANGE_FILE.match(n)]
        add(files=len(new),
            final_bytes=sum(os.path.getsize(os.path.join(table_dir, n)) for n in new))

    sink_cls = stream_sink.StreamingSink
    t.wrap(sink_cls, "process_batch", "stream_sink.batch", op=True,
           enable=(lambda self, raw, epoch_id: epoch_id % 2 == 1)
           if alternate_batches else None)
    t.wrap(sink_cls, "close", "stream_sink.close", op=True)
    t.wrap(sink_cls, "_append_live",
           lambda self, df, table_dir, epoch_id: "writer.append_live"
           if table_dir == self.out_dir else "explode.child_append",
           after=appended)
    t.wrap(sink_cls, "_finalize_ready", "writer.finalize", before=listing, after=finalized)
    t.wrap(stream_sink, "backfill_empty", "writer.backfill")
    t.wrap(stream_sink, "_finalize", "writer.finalize_renames")
    t.wrap(stream_sink, "explode_all", "explode.plan")
    t.wrap(stream_sink, "decode_payloads", "decode.plan")
    t.wrap(stream_sink, "ensure_schema_compatible", "writer.schema_check")
    t.wrap(writer, "read_lake", "read_lake.plan")
    for m in FS_METHODS:
        t.wrap(fsio.HadoopFS, m, f"fsio.{m}")


def progress_layers(progress: list[dict], out: Outcome) -> None:
    """Source and commit timings from ``StreamingQuery.recentProgress``."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not batches:
        return
    d = [p["durationMs"] for p in batches]
    out.layer["sources.latest_offset_ms"] = median([x.get("latestOffset", 0) for x in d])
    out.layer["sources.get_batch_ms"] = median([x.get("getBatch", 0) for x in d])
    out.layer["sources.rows_per_batch"] = median([p["numInputRows"] for p in batches])
    out.layer["stream_sink.wal_commit_ms"] = median([x.get("walCommit", 0) for x in d])
    out.layer["stream_sink.commit_offsets_ms"] = median([x.get("commitOffsets", 0) for x in d])


def op_layers(ctx: Ctx, ops, out: Outcome, events) -> None:
    """Per-operation medians of the file-system calls, the trace coverage
    and the Spark task metrics under the traced operations ``ops``."""
    t = ctx.tracer
    fs_counts = {k: [] for k in ("listdir", "exists", "rename", "delete")}
    fs_s, coverage = [], []
    self_t = t.self_times()
    for op in ops:
        kinds = Counter(s.name for s in t.per_op(op, "fsio."))
        for k in fs_counts:
            fs_counts[k].append(kinds[f"fsio.{k}"])
        fs_s.append(t.covered(op, "fsio."))
        coverage.append(1 - self_t[op.sid] / op.dur if op.dur > 0 else 0.0)
    for k, v in fs_counts.items():
        out.layer[f"fsio.{k}_calls"] = median(v)
    out.layer["fsio.s"] = median(fs_s)
    out.layer["trace.coverage"] = median(coverage)
    tasks_per_op = [[x for x in events.tasks if op.start <= x["end"] <= op.end] for op in ops]
    out.layer["jvm.gc_ms"] = median([sum(x["gc_ms"] for x in ts) for ts in tasks_per_op])
    out.layer["spark.tasks"] = median([len(ts) for ts in tasks_per_op])
    out.layer["spark.shuffle_bytes"] = median(
        [sum(x["shuffle_bytes"] for x in ts) for ts in tasks_per_op])
    out.layer["spark.executor_run_s"] = median(
        [sum(x["run_ms"] for x in ts) / 1000.0 for ts in tasks_per_op])


def batch_layers(ctx: Ctx, ops, out: Outcome, events) -> None:
    """Per-batch medians of the layer spans under the traced micro-batches
    ``ops``."""
    t = ctx.tracer
    if not ops:
        return
    op_layers(ctx, ops, out, events)
    out.layer["stream_sink.batch_s"] = median([op.dur for op in ops])
    out.layer["writer.append_live_s"] = median([t.covered(op, "writer.append_live") for op in ops])
    out.layer["writer.finalize_s"] = median([t.covered(op, "writer.finalize") for op in ops])
    out.layer["writer.backfill_s"] = median([t.covered(op, "writer.backfill") for op in ops])
    out.layer["explode.child_append_s"] = median(
        [t.covered(op, "explode.child_append") for op in ops])
    out.layer["explode.tables"] = median(
        [sum(1 for s in t.per_op(op, "explode.child_append")) for op in ops])
    out.layer["writer.files_written"] = median([op.attrs.get("files", 0) for op in ops])
    out.layer["stream_sink.batch_spark_jobs"] = median(
        [in_window(events.jobs, op.start, op.end) for op in ops])


def count_files(directory: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(directory):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


# -- shared streaming helpers ----------------------------------------------------------


def drain(*args, **kwargs):
    """``run_pipeline(*args, available_now=True, **kwargs)`` to the end of
    its input, then ``close()``. Returns (query, seconds); a failed query
    raises."""
    from substreams_sink_parquet_spark.streaming.stream_sink import run_pipeline

    t0 = time.time()
    query, sink = run_pipeline(*args, available_now=True, **kwargs)
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"drain did not finish in {STREAM_TIMEOUT_S} s")
    sink.close()
    return query, time.time() - t0


def lake_bytes(ctx: Ctx, lake_dir: str, tables=("",)) -> tuple[int, dict]:
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sink.writer import lake_coverage

    total, cov = 0, {}
    for name in tables:
        d = os.path.join(lake_dir, name) if name else lake_dir
        c = lake_coverage(HadoopFS(ctx.spark, d), d)
        cov[name or "main"] = c
        total += c["bytes"]
    return total, cov


def check_lake(ctx: Ctx, lake_dir: str, gen: G.BlockGen, n_blocks: int,
               n_children: int | None, rng: random.Random, samples: int = 8) -> list[str]:
    """The lake holds blocks ``[0, n_blocks)`` contiguously, one row each,
    and (unless ``n_children`` is None) ``n_children`` transfer rows; sampled
    blocks equal the generator's payloads."""
    problems = []
    tables = ("",) if n_children is None else ("", "transfers")
    _bytes, cov = lake_bytes(ctx, lake_dir, tables)
    for name, c in cov.items():
        if not c["contiguous"]:
            problems.append(f"{name}: lake not contiguous: gaps {c['gaps'][:3]} "
                            f"overlaps {c['overlaps'][:3]}")
    problems += checks.check_rows(lake_dir, n_blocks, "main")
    if n_children is not None:
        problems += checks.check_rows(os.path.join(lake_dir, "transfers"), n_children,
                                      "transfers")
    blocks = [rng.randrange(n_blocks) for _ in range(samples)]
    problems += checks.check_block_rows(lake_dir, gen, blocks,
                                        child=None if n_children is None else "transfers")
    return problems


# -- ingest-backlog ----------------------------------------------------------------------


def ingest_backlog(ctx: Ctx) -> Outcome:
    from substreams_sink_parquet_spark.sink.writer import WriterOptions

    out = Outcome()
    ctx.phase(out, "session_s")
    if ctx.trace:
        install_tracing(ctx)
    spec = block_spec()
    gen = G.BlockGen(ctx.seed)
    in_dir = os.path.join(ctx.work, "backlog-in")
    staged = G.stage_blocks(gen, in_dir, BACKLOG_FILES, BACKLOG_BLOCKS_PER_FILE)
    for f in staged:
        G.publish(f.path)
    n_blocks = sum(f.count for f in staged)
    n_children = sum(f.children for f in staged)
    payload_bytes = sum(f.payload_bytes for f in staged)
    opts = WriterOptions(partition_size=BACKLOG_PARTITION)
    ctx.phase(out, "inputs_s")

    def one_drain(tag: str):
        lake = os.path.join(ctx.work, f"lake-{tag}")
        q, dt = drain(ctx.spark, in_dir, lake, spec, os.path.join(ctx.work, f"ckpt-{tag}"),
                      opts=opts, explode=True,
                      max_files_per_trigger=BACKLOG_FILES_PER_TRIGGER)
        return lake, q.recentProgress, dt

    # warm-up: an untimed drain of the same backlog (the first drain in a
    # fresh process runs far slower than later ones)
    for k in range(BACKLOG_WARM_DRAINS):
        one_drain(f"warm{k}")
    ctx.phase(out, "warmup_s")
    out.e2e["setup_s"] = time.time() - ctx.started

    rng = random.Random(ctx.seed)
    drains, batch_s = [], []
    t_end = time.time() + ctx.seconds
    last_lake = None
    # a traced run times drains untraced, traced, untraced: the drains still
    # speed up over a run, and this order keeps that out of the overhead
    min_drains = 3 if ctx.trace else BACKLOG_MIN_DRAINS
    while out.failed < 3 and (time.time() < t_end or len(drains) < min_drains):
        k = len(drains)
        traced = ctx.trace and k % 2 == 1
        ctx.tracer.enabled = traced
        out.attempted += 1
        try:
            lake, progress, dt = one_drain(str(k))
        except Exception as e:  # a failed drain is counted, not fatal
            out.failed += 1
            out.problems.append(f"drain {k}: {type(e).__name__}: {e}")
            continue
        ctx.tracer.enabled = False
        drains.append((dt, traced, progress))
        batch_s += [p["durationMs"]["triggerExecution"] / 1000.0
                    for p in progress if p.get("numInputRows", 0) > 0]
        out.problems += check_lake(ctx, lake, gen, n_blocks, n_children, rng)
        if last_lake:  # checked; keep the disk small on long runs
            shutil.rmtree(last_lake)
        last_lake = lake
    if not drains:
        return out
    plain = [dt for dt, traced, _ in drains if not traced]
    out.e2e["throughput_per_s"] = n_blocks / median(plain) if plain else 0.0
    latency_metrics(batch_s, out)
    total, _ = lake_bytes(ctx, last_lake, ("", "transfers"))
    out.e2e["bytes_per_input_byte"] = total / payload_bytes
    out.info.update(drains=len(drains), blocks_per_drain=n_blocks,
                    drain_s=[round(d[0], 3) for d in drains])

    if ctx.trace:
        traced_dt = [dt for dt, tr, _ in drains if tr]
        if plain and traced_dt:
            out.layer["trace.overhead"] = median(traced_dt) / median(plain) - 1
        progress_layers([p for _, tr, ps in drains if tr for p in ps], out)
        out.layer["explode.child_rows_per_block"] = n_children / n_blocks
        decode_only(ctx, spec, in_dir, n_blocks, out)
        ctx.tracer.enabled = True
        read_queries(ctx, last_lake, gen, n_blocks, READ_TRACE_S, out)
        ctx.tracer.enabled = False
        n_files = len(checks.range_files(last_lake))

        def finish(events):
            finish_traced_ingest(ctx, out, events)
            read_layers(ctx, out, events, n_files)

        out.finish = finish
    return out


def decode_only(ctx: Ctx, spec, in_dir: str, n_blocks: int, out: Outcome) -> None:
    """Decode the staged input into Spark's no-op sink: the decode layer
    alone, with no write, finalize or streaming around it."""
    from substreams_sink_parquet_spark.decode import decode_payloads

    raw = ctx.spark.read.parquet(in_dir)
    times = []
    for _ in range(3):
        t0 = time.time()
        decode_payloads(raw, spec).write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    out.layer["decode.s"] = median(times)
    out.layer["decode.blocks_per_s"] = n_blocks / median(times)


def finish_traced_ingest(ctx: Ctx, out: Outcome, events, since: float = 0.0) -> None:
    """Per-layer metrics of the traced operations of an ingest run that
    started at ``since`` or later."""
    ops = [op for op in ctx.tracer.ops("stream_sink.batch") if op.start >= since]
    batch_layers(ctx, ops, out, events)
    writes = ops + [op for op in ctx.tracer.ops("stream_sink.close") if op.start >= since]
    final = sum(op.attrs.get("final_bytes", 0) for op in writes)
    written = [sum(x["out_bytes"] for x in events.tasks if op.start <= x["end"] <= op.end)
               for op in writes]
    out.layer["writer.bytes_written"] = median(written[:len(ops)]) if ops else 0.0
    out.layer["writer.write_amp"] = sum(written) / final if final else 0.0


# -- ingest-live -------------------------------------------------------------------------


def ingest_live(ctx: Ctx) -> Outcome:
    from substreams_sink_parquet_spark.partition import file_name
    from substreams_sink_parquet_spark.sink.writer import WriterOptions
    from substreams_sink_parquet_spark.streaming.stream_sink import run_pipeline

    out = Outcome()
    ctx.phase(out, "session_s")
    if ctx.trace:
        install_tracing(ctx, alternate_batches=True)
    spec = block_spec()
    gen = G.BlockGen(ctx.seed)
    per_tick = int(LIVE_RATE * LIVE_TICK_S)
    n_ticks = int(round((LIVE_WARM_S + ctx.seconds) / LIVE_TICK_S))
    first_measured = int(round(LIVE_WARM_S / LIVE_TICK_S))
    in_dir = os.path.join(ctx.work, "live-in")
    staged = G.stage_blocks(gen, in_dir, n_ticks, per_tick)
    opts = WriterOptions(partition_size=per_tick)
    ctx.phase(out, "inputs_s")

    # warm-up: a short drain through the same non-explode path
    warm_dir = os.path.join(ctx.work, "live-warm")
    for f in G.stage_blocks(G.BlockGen(ctx.seed + 1), warm_dir, 3, per_tick):
        G.publish(f.path)
    drain(ctx.spark, warm_dir, os.path.join(ctx.work, "lake-warm"), spec,
          os.path.join(ctx.work, "ckpt-warm"), opts=opts, explode=False,
          max_files_per_trigger=1)
    ctx.phase(out, "warmup_s")
    out.e2e["setup_s"] = time.time() - ctx.started

    lake = os.path.join(ctx.work, "lake-live")
    stream_start = time.time()
    query, _sink = run_pipeline(ctx.spark, in_dir, lake, spec,
                                os.path.join(ctx.work, "ckpt-live"), opts=opts,
                                explode=False, available_now=False,
                                flush_interval=f"{LIVE_TRIGGER_S} seconds",
                                max_files_per_trigger=1000)
    due, published = [], []
    stop = threading.Event()
    # Spark starts processing-time batches on multiples of the interval since
    # the epoch; ticks at fixed offsets from that grid make the trigger wait
    # of each tick the same in every run
    t0 = (time.time() // LIVE_TRIGGER_S + 2) * LIVE_TRIGGER_S + LIVE_TICK_S / 2

    def feeder():
        for k, f in enumerate(staged):
            when = t0 + k * LIVE_TICK_S
            delay = when - time.time()
            if delay > 0 and stop.wait(delay):
                return
            G.publish(f.path)
            published.append(time.time())
            due.append(when)

    th = threading.Thread(target=feeder, name="feeder", daemon=True)
    try:
        th.start()
        th.join(timeout=LIVE_WARM_S + ctx.seconds + 30)
        stop.set()
        # wait for every measured range's final file
        due_by_range = {staged[k].first: due[k] for k in range(first_measured, len(due))}
        names = {rs: file_name(rs, rs + per_tick) for rs in due_by_range}
        deadline = time.time() + LIVE_DRAIN_TIMEOUT_S
        while time.time() < deadline and query.isActive:
            if all(os.path.exists(os.path.join(lake, n)) for n in names.values()):
                break
            time.sleep(0.05)
        progress = query.recentProgress
        if not query.isActive and query.exception() is not None:
            out.problems.append(f"stream failed: {query.exception()}")
    finally:
        stop.set()
        query.stop()
    # a final file's ctime is the moment the finalize rename made it appear
    appeared = {}
    for rs, n in names.items():
        try:
            appeared[rs] = os.stat(os.path.join(lake, n)).st_ctime
        except FileNotFoundError:
            pass
    lags, missing = finalize_lags(due_by_range, appeared)
    out.attempted = len(due_by_range)
    out.failed = len(missing)
    if missing:
        out.problems.append(f"{len(missing)} ranges never finalized, first {missing[:3]}")
    # the lag figures assume the feeder kept to its schedule
    late = max(p - d for p, d in zip(published, due))
    out.info["generator_late_s"] = late
    if late > LIVE_TICK_S / 2:
        out.problems.append(f"feeder fell {late:.3f} s behind its schedule "
                            f"(more than half a {LIVE_TICK_S} s tick)")
    out.info["ticks"] = len(due)
    latency_metrics(list(lags.values()), out)
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in busy) / 1000.0
    out.e2e["throughput_per_s"] = sum(p["numInputRows"] for p in busy) / busy_s if busy_s else 0.0
    out.info["batches"] = len(busy)

    # the final files hold blocks [0, end of the last final range)
    final = checks.range_files(lake)
    if not final:
        out.problems.append("no range was finalized")
        return out
    n_final_blocks = final[-1][1]
    out.problems += check_lake(ctx, lake, gen, n_final_blocks, None, random.Random(ctx.seed))
    total, _ = lake_bytes(ctx, lake)
    payload = sum(f.payload_bytes for f in staged if f.first < n_final_blocks)
    out.e2e["bytes_per_input_byte"] = total / payload

    if ctx.trace:
        by_parity = [[p["durationMs"]["triggerExecution"] for p in busy
                      if p["batchId"] % 2 == parity] for parity in (0, 1)]
        if all(by_parity):
            out.layer["trace.overhead"] = median(by_parity[1]) / median(by_parity[0]) - 1
        progress_layers(progress, out)
        out.finish = lambda events: finish_traced_ingest(ctx, out, events, stream_start)
    return out


# -- read path: measured in traced ingest-backlog runs --------------------------------------


class LakeTruth:
    """Per-block values the read-path checks compare against."""

    def __init__(self, gen: G.BlockGen, n_blocks: int) -> None:
        self.gas = [0] * n_blocks
        self.tx = [0] * n_blocks
        self.n_tr = [0] * n_blocks
        self.amount = [0] * n_blocks
        for bn in range(n_blocks):
            p = gen.payload(bn)
            self.gas[bn] = p["gas_used"]
            self.tx[bn] = p["tx_count"]
            self.n_tr[bn] = len(p["transfers"])
            self.amount[bn] = sum(t["amount"] for t in p["transfers"])

    def main_agg(self, lo: int, hi: int) -> tuple:
        return (hi - lo + 1, sum(self.gas[lo:hi + 1]), sum(self.tx[lo:hi + 1]))

    def child_agg(self, lo: int, hi: int) -> tuple:
        return (sum(self.n_tr[lo:hi + 1]), sum(self.amount[lo:hi + 1]))


def read_queries(ctx: Ctx, lake: str, gen: G.BlockGen, n_blocks: int, seconds: float,
                 out: Outcome) -> None:
    """A point lookup, a range aggregate on the main table and one on the
    ``transfers`` child, in turn, through ``read_lake`` for ``seconds``
    (at least one of each); every answer is checked. Each query is one
    traced operation."""
    from pyspark.sql import functions as F

    from substreams_sink_parquet_spark.sink import writer

    truth = LakeTruth(gen, n_blocks)
    rng = random.Random(ctx.seed)
    point_cols = ("hash", "gas_used", "tx_count", "miner", "timestamp")
    kinds = ("point", "scan", "child_scan")
    t_end = time.time() + seconds
    i = 0
    while i < len(kinds) or time.time() < t_end:
        kind = kinds[i % len(kinds)]
        i += 1
        lo = rng.randrange(n_blocks - READ_SCAN_SPAN)
        hi = lo if kind == "point" else lo + READ_SCAN_SPAN - 1
        with ctx.tracer.span("query", op=True) as op:
            if kind == "point":
                df = writer.read_lake(ctx.spark, lake, lo, hi)
            elif kind == "scan":
                df = writer.read_lake(ctx.spark, lake, lo, hi).agg(
                    F.count("*"), F.sum("gas_used"), F.sum("tx_count"))
            else:
                df = writer.read_lake(ctx.spark, os.path.join(lake, "transfers"), lo, hi).agg(
                    F.count("*"), F.sum("amount"))
            with ctx.tracer.span("query.exec"):
                rows = df.collect()
        op.attrs["files"] = len(df.inputFiles())
        if kind == "point":
            want = gen.payload(lo)
            ok = len(rows) == 1 and all(checks.plain(rows[0][k]) == want[k] for k in point_cols)
            got = rows[:1]
        else:
            got = tuple(checks.plain(v) or 0 for v in rows[0])
            want = truth.main_agg(lo, hi) if kind == "scan" else truth.child_agg(lo, hi)
            ok = got == want
        if not ok:
            out.problems.append(f"{kind} [{lo}, {hi}]: read {got!r}, generated {want!r}")


def read_layers(ctx: Ctx, out: Outcome, events, n_files: int) -> None:
    """Per-query medians of the read path's spans."""
    t = ctx.tracer
    ops = t.ops("query")
    out.layer["read_lake.plan_s"] = median([t.covered(op, "read_lake.plan") for op in ops])
    out.layer["query.exec_s"] = median([t.covered(op, "query.exec") for op in ops])
    files = median([op.attrs["files"] for op in ops])
    out.layer["read_lake.files_selected"] = files
    out.layer["read_lake.prune_ratio"] = files / n_files
    out.layer["query.spark_jobs"] = median(
        [in_window(events.jobs, op.start, op.end) for op in ops])


# -- corpus-dedup ------------------------------------------------------------------------


def install_corpus_tracing(ctx: Ctx) -> None:
    """Spans for the corpus pipeline: the epoch, its parse/quarantine split,
    the exact and near-duplicate stages, the file-system calls, and the
    parquet writes that run the epoch's Spark jobs."""
    from pyspark.sql.readwriter import DataFrameWriter

    from substreams_sink_parquet_spark import fsio
    from substreams_sink_parquet_spark.llm import dedup
    from substreams_sink_parquet_spark.streaming import corpus_stream

    t = ctx.tracer
    t.wrap(corpus_stream.CorpusSink, "process_batch", "corpus.epoch", op=True)
    t.wrap(corpus_stream, "split_quarantine", "corpus.parse")
    t.wrap(corpus_stream, "incremental_dedup", "corpus.exact")
    t.wrap(dedup, "incremental_neardup", "corpus.near")
    t.wrap(DataFrameWriter, "parquet", "corpus.write")
    for m in FS_METHODS:
        t.wrap(fsio.HadoopFS, m, f"fsio.{m}")


def corpus_epoch(ctx: Ctx, hidden: list[str], in_dir: str, lake: str, ckpt: str) -> float:
    """Publish one staged crawl increment and drain it as one epoch of
    ``run_corpus_pipeline(near_dup=True)``; return its seconds. A failed
    epoch raises."""
    from substreams_sink_parquet_spark.streaming.corpus_stream import run_corpus_pipeline

    for path in hidden:
        G.publish(path)
    t0 = time.time()
    query, _sink = run_corpus_pipeline(ctx.spark, in_dir, lake, ckpt, near_dup=True)
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"epoch did not finish in {STREAM_TIMEOUT_S} s")
    return time.time() - t0


def corpus_dedup(ctx: Ctx) -> Outcome:
    from substreams_sink_parquet_spark.streaming.corpus_stream import corpus_docs

    out = Outcome()
    ctx.phase(out, "session_s")
    if ctx.trace:
        install_corpus_tracing(ctx)
    crawl = G.CorpusGen(ctx.seed)
    in_dir = os.path.join(ctx.work, "corpus-in")
    lake = os.path.join(ctx.work, "corpus")
    ckpt = os.path.join(ctx.work, "ckpt-corpus")
    published: list[G.Doc] = []
    input_bytes = 0

    def next_epoch(n_docs: int) -> float:
        nonlocal input_bytes
        k = len(published)
        docs = crawl.increment(n_docs)
        hidden = G.stage_docs(docs, in_dir, f"crawl-{k:08d}")
        input_bytes += sum(os.path.getsize(p) for p in hidden)
        published.extend(docs)
        return corpus_epoch(ctx, hidden, in_dir, lake, ckpt)

    # warm-up: the corpus's first, smaller increment, untimed
    next_epoch(CORPUS_WARM_DOCS)
    ctx.phase(out, "warmup_s")
    out.e2e["setup_s"] = time.time() - ctx.started

    # every increment goes into the same corpus, so the indexes grow
    epochs = []                              # (seconds, traced)
    t_end = time.time() + ctx.seconds
    # a traced run times epochs traced, untraced, traced: the epochs still
    # speed up over a run, and this order keeps that out of the overhead
    while not epochs or time.time() < t_end or (ctx.trace and len(epochs) < 3):
        traced = ctx.trace and len(epochs) % 2 == 0
        ctx.tracer.enabled = traced
        out.attempted += 1
        try:
            epochs.append((next_epoch(CORPUS_DOCS), traced))
        except Exception as e:  # counted; a later increment would replay it
            out.failed += 1
            out.problems.append(f"epoch {out.attempted}: {type(e).__name__}: {e}")
            break
        finally:
            ctx.tracer.enabled = False
    problems, stats = checks.check_corpus(lake, published)
    out.problems += problems
    n_read = corpus_docs(ctx.spark, lake).count()
    if n_read != stats["admitted"]:
        out.problems.append(f"corpus_docs reads {n_read} docs, the lake holds "
                            f"{stats['admitted']}")
    if not epochs:
        return out
    plain = [dt for dt, traced in epochs if not traced]
    out.e2e["throughput_per_s"] = CORPUS_DOCS * len(plain) / sum(plain) if plain else 0.0
    latency_metrics(plain, out)
    out.e2e["bytes_per_input_byte"] = checks.tree_bytes(lake) / input_bytes
    out.info.update(epochs=len(epochs), docs_per_epoch=CORPUS_DOCS,
                    epoch_s=[round(dt, 3) for dt, _ in epochs], **stats)

    if ctx.trace:
        traced_dt = [dt for dt, tr in epochs if tr]
        if plain and traced_dt:
            out.layer["trace.overhead"] = median(traced_dt) / median(plain) - 1
        for k in ("admitted", "rejected_exact", "rejected_near", "reject_precision",
                  "index_rows"):
            out.layer[f"corpus.{k}"] = stats[k]

        def finish(events):
            ops = ctx.tracer.ops("corpus.epoch")
            if ops:
                op_layers(ctx, ops, out, events)
                out.layer["corpus.epoch_s"] = median([op.dur for op in ops])

        out.finish = finish
    return out


WORKLOADS = {
    "ingest-backlog": ingest_backlog,
    "ingest-live": ingest_live,
    "corpus-dedup": corpus_dedup,
}
