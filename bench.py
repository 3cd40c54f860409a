"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints the full JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}
followed by compact summary JSON lines (jobs + totals + a size-capped
per-query dict) repeating the verdict-critical numbers, sized so a
2,000-char stdout tail always captures them whole.

Each query is forced end-to-end with the noop sink (computes every output
column, no driver collection) after one untimed warm-up of the JVM/codegen.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: covers scan+agg, broadcast join, shuffle join, window frames,
# event-time windows, top-k, dedup (exact + MinHash-LSH), similarity top-k,
# text stats, JSON, and the TPC-H-shaped composite pipelines — the operators
# whose plans matter at 100 TB. The reported "value" covers exactly this set
# so round-over-round totals stay comparable.
HEADLINE = [
    "q_agg_basic",
    "q_join_broadcast",
    "q_join_inner",
    "q_join_asof",
    "q_topk",
    "q_win_frame",
    "q_stream_window",
    "q_stream_session",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_sim_topk",
    "q_text_stats",
    "q_fn_json",
    "q_udtf",
    "q_composite_topk",
    "q_composite_volume",
]

# Most expensive plans added in round 2 — benched so regressions are visible,
# totalled separately ("extended_total_sec") to keep "value" comparable with
# earlier rounds.
EXTENDED = [
    "q_dedup_jaccard",
    "q_dedup_clusters",
    "q_dedup_substring",
    "q_text_repetition",
    "q_text_filter_pipeline",
    # round 3
    "q_dedup_semantic",
    "q_multimodal_frames",
    "q_decontaminate",
    "q_text_perplexity",
    "q_pipeline_pretrain",
    "q_sim_topk_pq",
    "q_text_bpe",
    "q_dedup_clusters_star",
    # round 5
    "q_dedup_substring_clean",
    "q_text_bm25",
    "q_text_winnow",
    "q_sample_dsir",
    "q_retrieval_hybrid",
    # round 6
    "q_text_bm25_batch",
    "q_dedup_winnow_pairs",
    "q_dedup_lines",
    "q_retrieval_hybrid_batch",
    "q_decontaminate_winnow",
    "q_pipeline_curate",
    # round 7 — benched SERVE-ONLY from a once-per-run prebuilt index
    # (build timed separately as lex_index_build_sec; see main())
    "q_text_bm25_indexed",
    "q_retrieval_hybrid_indexed",
    # round 7 — profiling family. q_profile_columns is the catalog's
    # EXACT mode (multi-column COUNT DISTINCT: Expand + distinct-values
    # shuffle — the documented oracle-gate trade); the _approx row is the
    # bench-local HLL scale default (see main()), so the artifact shows
    # BOTH sides of the trade.
    "q_profile_columns",
    "q_profile_columns_approx",
    "q_profile_quantiles",
    # round 8 — trainer-artifact export (writes shards + manifest to a
    # temp dir per pass: the number includes the write, which IS the
    # operator), topic-rebalanced sampling, and OPQ (next to its plain-PQ
    # baseline q_sim_topk_pq so the rotation's cost is visible)
    "q_export_shards",
    "q_sample_cluster_balanced",
    "q_sim_topk_opq",
    # round 9 — the composed mixture->materialize->shard write (includes
    # the physical export of the upsampled mixture, which IS the operator)
    "q_export_mixture",
    # the round-8 capstone composition (gate -> dedup -> decontaminate ->
    # mixture) — one declarative plan end to end
    "q_pipeline_release",
]


SINK_BLOCKS = 20_000  # reference worked example is 15k blocks (README.md:28-29)

# Recorded-solo references for the contended flag, measured on an idle
# round-7 dev box (local[32], min of 3 timed passes after warm-up, no
# co-running Spark) at the bench TAIL — after the full catalog + sink
# sweep, in the same long-lived session (see the calibration comment in
# main() for why position matters).
CAL_JVM_SOLO_REF = 0.176
CAL_PY_SOLO_REF = 1.35


def contended_verdict(calibration: float, calibration_py: float,
                      pre_plain: list, post_plain: list,
                      cal_ref: float = CAL_JVM_SOLO_REF,
                      cal_py_ref: float = CAL_PY_SOLO_REF):
    """The contention flag as a PURE function of the four measured inputs,
    so a pytest can pin its behavior on synthetic sample sets (VERDICT
    r10, Next #2) — the flag has decided whether a round's headline is
    comparable for three rounds running, which makes its logic part of
    the measured surface, not incidental plumbing.

    Two calibration signals (either probe >1.3x its recorded-solo
    reference; the 1.3x is the uniform contention factor measured on
    this host) and two sink signals on plain-mode samples:

    * within-PRE spread >2x — instability across identical warmed
      passes before any sweep debt exists (a genuinely co-tenant box;
      the JIT ramp that used to mimic this shape is gone now that the
      sink warms up at full size before timing);
    * steady-state LEVEL drop, best-pre vs best-post >2x — the session
      degraded for good mid-bench (the r4 collapse shape), while a lone
      slow post pass (GC debt) leaves the post max intact and must NOT
      flag.

    Returns (contended, reasons, sink_spread_ratio, sink_post_drop_ratio).
    """
    sink_spread_ratio = round(
        max(pre_plain) / max(min(pre_plain), 1e-9), 2)
    sink_post_drop_ratio = round(
        max(pre_plain) / max(max(post_plain), 1e-9), 2)
    reasons = []
    if calibration > 1.3 * cal_ref:
        reasons.append(
            f"jvm_calibration {calibration} > 1.3x solo {cal_ref}")
    if calibration_py > 1.3 * cal_py_ref:
        reasons.append(
            f"py_calibration {calibration_py} > 1.3x solo {cal_py_ref}")
    if sink_spread_ratio > 2.0:
        reasons.append(
            f"sink pre-sweep sample spread {sink_spread_ratio}x > 2x")
    if sink_post_drop_ratio > 2.0:
        reasons.append(
            f"sink post-sweep steady-state drop {sink_post_drop_ratio}x > 2x")
    return bool(reasons), reasons, sink_spread_ratio, sink_post_drop_ratio


def bench_sink(spark, plain_only: bool = False) -> dict:
    """Blocks/sec through the full ingest path: staged raw parquet →
    protobuf decode (mapInPandas) → range partition → rotating padded-name
    parquet writes incl. backfill. This is the reference's primary job
    (stream-to-batch conversion), so its throughput is a headline number.

    Returns ALL per-mode samples plus a decode-stage probe, not just the
    max: BENCH_r04 reported a 4x sink swing on an unchanged code path, and
    a single best-of-3 number could not distinguish run contention from a
    real regression (VERDICT r4, Wrong #1). Runs BEFORE the query sweep in
    main() for the same reason — the r4 collapse reproduced only after the
    29-query x 3-pass sweep had degraded the shared JVM (measured: fresh
    plain 16.4k vs post-sweep 5.8k blocks/s on identical code)."""
    import shutil
    import tempfile

    from substreams_sink_parquet_spark import protowire as pw
    from substreams_sink_parquet_spark.decode import decode_payloads
    from substreams_sink_parquet_spark.sink.writer import WriterOptions, write_ranges
    from substreams_sink_parquet_spark.sources import stage_raw_blocks, synth_blocks

    spec = pw.MessageSpec("bench.Block", (
        pw.FieldSpec("height", 1, pw.K_UINT64),
        pw.FieldSpec("hash", 2, pw.K_STRING),
        pw.FieldSpec("gas", 3, pw.K_DOUBLE),
        pw.FieldSpec("transfers", 4, pw.K_MESSAGE, repeated=True,
                     message=pw.MessageSpec("bench.Transfer", (
                         pw.FieldSpec("from_addr", 1, pw.K_STRING),
                         pw.FieldSpec("to_addr", 2, pw.K_STRING),
                         pw.FieldSpec("amount", 3, pw.K_INT64),
                     ))),
    ))

    def payload(bn: int) -> dict:
        return {
            "height": bn,
            "hash": f"0x{bn:016x}",
            "gas": bn * 1.5,
            "transfers": [
                {"from_addr": f"a{bn % 997}", "to_addr": f"b{(bn + 1) % 997}",
                 "amount": bn * 10 + j}
                for j in range(3)
            ],
        }

    work = tempfile.mkdtemp(prefix="bench_sink_")
    try:
        in_dir = os.path.join(work, "in")
        # stage in 4 files (untimed — the feeder is external in production)
        chunk = SINK_BLOCKS // 4
        for c in range(4):
            stage_raw_blocks(
                spark, in_dir,
                synth_blocks(spec, range(c * chunk, (c + 1) * chunk), payload),
            )
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        # write_tasks deliberately OFF here: this 20k-block micro-batch is
        # DECODE-dominated (decode_stage_sec ~0.65 of a ~1s job), so
        # sub-splitting the 4 ranges only adds per-file overhead — measured
        # 20.3k (off) vs 14.3k (write_tasks=32) blocks/s in one session.
        # The knob's win case is the write-dominated catch-up batch, which
        # bench_catchup_write measures explicitly.
        wopts = WriterOptions(partition_size=5000)

        from substreams_sink_parquet_spark.partition import range_start_col
        from substreams_sink_parquet_spark.sink.explode import explode_all

        ranges = [
            r[0]
            for r in spark.read.parquet(in_dir)
            .select(range_start_col("block_number", 0, 5000).alias("rs"))
            .distinct()
            .collect()
        ]

        # 3 samples each, ALL reported: the whole measured job is ~1-3 s,
        # where one GC pause or a co-running process is a 30%+ swing — the
        # max alone hid exactly that in r4
        def run_plain(out_dir: str) -> float:
            os.makedirs(out_dir)
            t0 = time.time()
            raw = spark.read.parquet(in_dir).repartition(cpus)  # CPU-bound decode
            decoded = decode_payloads(raw, spec)
            write_ranges(decoded, out_dir, wopts, ranges=ranges)
            return SINK_BLOCKS / (time.time() - t0)

        # untimed FULL-SIZE warm-up passes — minimum 3, then keep going
        # (capped at 5) while throughput still improves >15% pass over
        # pass: the old 1,000-block single-range warm-up left the first
        # timed samples mid-JIT-ramp — BENCH_r10's pre-sweep read
        # 3.5k → 3.3k → 8.1k blocks/s while the SAME code measured
        # 21-27k post-sweep, and the ramp tripped the >2x spread
        # contention flag on what was an idle box, eating the round's
        # like-for-like comparison for the second round running (VERDICT
        # r10, Wrong #2 / Next #2). The 3-pass floor matters: that r10
        # box ramped THROUGH a noise dip (3.5 → 3.3 → 8.1), so any
        # adaptive rule consulting only the first pair quits inside the
        # ramp. Warming the exact timed job (full size, all ranges) also
        # spawns the whole Python worker pool, which the small warm-up
        # existed for.
        prev = None
        for wi in range(5):
            cur = run_plain(os.path.join(work, f"warm{wi}"))
            if wi >= 2 and cur < 1.15 * prev:
                break
            prev = cur

        # exploded ingest — the reference's flagship mode (README.md:33-41):
        # main table + one table per root repeated field, decode persisted
        # so it runs once, not once per table. Table writes run CONCURRENTLY
        # (independent directories; Spark's cache manager locks per
        # partition, so racing jobs materialize the decode exactly once).
        # Re-measured under r5's controlled conditions: concurrent beat
        # sequential in 3/3 independent probes (23.2k vs 16.6k blocks/s
        # fresh, ~1.4x) — r4's inversion was machine contention, so the
        # concurrent default stands; the _seq control keeps tracking it.
        def run_exploded(out_ex: str, workers: int | None = None) -> float:
            from concurrent.futures import ThreadPoolExecutor

            os.makedirs(out_ex)
            t0 = time.time()
            decoded = decode_payloads(
                spark.read.parquet(in_dir).repartition(cpus), spec
            ).persist()
            try:
                jobs = [(out_ex, decoded)]
                for name, child in explode_all(decoded, spec).items():
                    child_dir = os.path.join(out_ex, name)
                    os.makedirs(child_dir, exist_ok=True)
                    jobs.append((child_dir, child))
                with ThreadPoolExecutor(
                    max_workers=workers or len(jobs)
                ) as pool:
                    list(pool.map(
                        lambda j: write_ranges(j[1], j[0], wopts, ranges=ranges),
                        jobs,
                    ))
            finally:
                decoded.unpersist()
            return SINK_BLOCKS / (time.time() - t0)

        samples = {
            "plain": [
                round(run_plain(os.path.join(work, f"out{i}")), 1)
                for i in range(3)
            ],
        }
        if not plain_only:
            # one untimed exploded pass before ITS timed samples: the plain
            # warm-up above never touches the dynamic-partition child-table
            # path, so the first timed exploded sample started cold —
            # BENCH_r11's exploded pre-sweep ramped 14.2k → 18.0k → 21.4k
            # (1.5x in-set), making the reported max a ramp artifact
            # (VERDICT r11 Wrong #1 / Next #3). One pass suffices: the JVM
            # and worker pool are already hot from the plain warm-up.
            run_exploded(os.path.join(work, "warm_ex"))
            samples["exploded"] = [
                round(run_exploded(os.path.join(work, f"out_ex{i}")), 1)
                for i in range(3)
            ]
            # sequential control for the same job list: tracks the
            # concurrency win (exploded_write_workers parity) round over
            # round instead of leaving the claim as a code comment
            samples["exploded_seq"] = [
                round(run_exploded(os.path.join(work, f"out_exs{i}"), workers=1), 1)
                for i in range(3)
            ]

        # decode-stage probe: time the mapInPandas decode alone (noop sink)
        # so a future sink swing can be attributed to decode vs write
        t0 = time.time()
        decode_payloads(
            spark.read.parquet(in_dir).repartition(cpus), spec
        ).write.format("noop").mode("overwrite").save()
        decode_sec = round(time.time() - t0, 3)

        return {"samples": samples, "decode_stage_sec": decode_sec}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_catchup_write(spark) -> dict:
    """The write_tasks win case, measured in isolation: a catch-up batch of
    400k pre-decoded rows across 4 LARGE ranges, where parquet encode (not
    protobuf decode) dominates. Default one-task-per-range caps encode at 4
    cores of 32; write_tasks=cpus sub-splits each range into block-ordered
    -partNNNN files (sink/writer.py:stage_ranges). Two timed samples
    per mode after one warm-up; all samples reported."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from substreams_sink_parquet_spark.sink.writer import (
        WriterOptions,
        write_ranges,
    )

    n = 400_000
    ps = n // 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    df = (
        spark.range(n).withColumnRenamed("id", "block_number")
        .withColumn("block_id", F.concat(F.lit("0x"), F.hex("block_number")))
        .withColumn("body", F.repeat(F.sha2(F.col("block_id"), 256), 8))
        .repartition(cpus)
        .persist()
    )
    df.count()
    ranges = list(range(0, n, ps))
    work = tempfile.mkdtemp(prefix="bench_catchup_")
    try:
        def one(wt: int | None) -> float:
            out = tempfile.mkdtemp(dir=work)
            t0 = time.time()
            write_ranges(df, out, WriterOptions(partition_size=ps, write_tasks=wt),
                         ranges=ranges)
            return round(n / (time.time() - t0), 1)

        one(None)  # warm-up (first dynamic-partition write pays setup)
        samples = {
            "one_task_per_range": [one(None), one(None)],
            "subsplit": [one(cpus), one(cpus)],
        }
        return samples
    finally:
        shutil.rmtree(work, ignore_errors=True)
        df.unpersist()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from substreams_sink_parquet_spark.catalog import queries
    from substreams_sink_parquet_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    def run(name: str, job_tag: str | None = None) -> None:
        if job_tag is not None:
            spark.sparkContext.setJobGroup(job_tag, name)
        try:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
        finally:
            if job_tag is not None:
                spark.sparkContext.setJobGroup("", "")
        # measurement isolation: a query that caches internally (e.g. the
        # label-propagation loop in q_dedup_clusters) must not leave its
        # cache behind to slow every later measurement
        spark.catalog.clearCache()

    def _jobs_in_group(tag: str) -> int:
        return len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(tag)
        )

    run("q_agg_basic")  # JVM / codegen warm-up, untimed

    # IO-state calibration (VERDICT r13 Next #5 / r12 ADVICE #5): time a
    # fixed full parquet re-read of the documents table BEFORE the
    # headline passes — twice, so cold-vs-warm page cache is visible
    # (the r13 session-start baseline ran on a cold cache and read 1.7x
    # high with both existing calibrations green). Purely additive: the
    # contended_verdict logic and every timed query are untouched; the
    # second (warm) read doubles as the cache warm-up the first query
    # pass used to pay implicitly.
    def _calibrate_io() -> float:
        from substreams_sink_parquet_spark.tables import load as _load

        t0 = time.time()
        _load(spark, sf_dir, "documents").write.format("noop").mode(
            "overwrite").save()
        return round(time.time() - t0, 3)

    calibration_io = _calibrate_io()
    calibration_io_warm = _calibrate_io()

    # Sink bench runs FIRST (after only the one-query warm-up) so the
    # headline ingest number is measured in a known JVM state; a second
    # pass after the sweep exposes drift/contention (r4's "collapse" never
    # reproduced in controlled fresh-vs-post-sweep probes — the bench must
    # make co-running load visible rather than silently absorb it).
    sink_pre = bench_sink(spark)
    catchup = bench_catchup_write(spark)

    # Indexed-retrieval entries: the CATALOG callables rebuild the postings
    # index inside every call — the right contract for the oracle gate
    # (self-contained, hash-checked end to end) but the wrong thing to time
    # three passes of: a lake deployment builds the index once per corpus
    # version and serves many queries from it. Build ONCE here (timed →
    # lex_index_build_sec) and override the two entries with serve-only
    # closures, so their per-pass numbers measure what the index exists
    # for: retrieval that never re-tokenizes the corpus.
    import tempfile

    from substreams_sink_parquet_spark.llm.lexical_index import (
        write_lexical_index)
    from substreams_sink_parquet_spark.llm.similarity import (
        _HYBRID_BATCH, _HYBRID_K, retrieve_hybrid_indexed)
    from substreams_sink_parquet_spark.llm.text import _BM25_BATCH_QUERIES
    from substreams_sink_parquet_spark.tables import load

    lex_dir = tempfile.mkdtemp(prefix="bench_lexidx_")
    t0 = time.time()
    write_lexical_index(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        lex_dir, n_buckets=64,
    )
    lex_build_sec = round(time.time() - t0, 3)

    def _serve_bm25_indexed(spark, sf_dir):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from substreams_sink_parquet_spark.llm.lexical_index import (
            bm25_scores_indexed)

        from substreams_sink_parquet_spark.operators._helpers import tiny_df

        queries_df = tiny_df(
            spark, list(_BM25_BATCH_QUERIES), "query_id int, query string"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("bm25").desc(), "doc_id")
        return (
            bm25_scores_indexed(spark, lex_dir, queries_df)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
        )

    def _serve_hybrid_indexed(spark, sf_dir):
        from substreams_sink_parquet_spark.operators._helpers import tiny_df

        qtbl = tiny_df(
            spark, list(_HYBRID_BATCH), "query_id int, query string, vec_id bigint"
        )
        return retrieve_hybrid_indexed(
            spark, lex_dir, qtbl, load(spark, sf_dir, "embeddings"),
            k=_HYBRID_K, top=10,
        )

    def _profile_columns_approx(spark, sf_dir):
        # the HLL scale mode of q_profile_columns: same columns, sketch
        # distinct — the exchange is column-count-sized
        from substreams_sink_parquet_spark.operators import profiling as P

        return P.profile_table(load(spark, sf_dir, "orders"),
                               P._PROFILE_COLS)

    serve_overrides = {
        "q_text_bm25_indexed": _serve_bm25_indexed,
        "q_retrieval_hybrid_indexed": _serve_hybrid_indexed,
        "q_profile_columns_approx": _profile_columns_approx,
    }
    qs = dict(qs, **serve_overrides)

    # three passes per query; the comparable per-query number stays the
    # MINIMUM (steady-state cost), with median + spread (max−min) reported
    # alongside so sub-noise-floor round-over-round deltas are identifiable
    # as noise (VERDICT r4, Next #6).
    # Root cause of the heavy-codegen spread (VERDICT r6, Next #3 —
    # q_dedup_minhash): the first pass pays whole-stage-codegen COMPILE +
    # C2 JIT tiering on a plan with an unusually wide generated-class
    # surface (band explode + signature HOFs), measured solo as
    # 8.4 → 2.1 → 1.8 → 1.7 → 1.7 → 1.6 s over six passes — monotone
    # warm-up convergence to ±8%, NOT AQE flapping. min-of-3 therefore
    # under-samples steady state by at most one warm-up tail; read
    # queries_passes (monotone decreasing = warm-up, spikes = stalls)
    # before calling a round-over-round delta real.
    # HEADLINE passes finish before EXTENDED starts so the heavy extended
    # plans can't pollute the round-over-round-comparable headline numbers
    # with GC pressure.
    # per-pass GC time (driver == executor JVM in local mode) so a stalled
    # pass self-diagnoses: BENCH_r07/r08 each flagged one stalled pass on
    # q_retrieval_hybrid while a solo run stalled a different query at the
    # same POSITION — positional GC/compile debt from the preceding query,
    # not query-intrinsic cost (VERDICT r8, Wrong #3). The gc_ms delta in
    # each stalled entry separates "JVM spent the pass collecting" from a
    # genuine plan stall without a rerun.
    _gc_beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()

    def _gc_ms() -> int:
        return sum(_gc_beans.get(i).getCollectionTime()
                   for i in range(_gc_beans.size()))

    raw: dict[str, list[float]] = {}
    raw_gc: dict[str, list[int]] = {}
    raw_jobs: dict[str, list[int]] = {}
    for group in (HEADLINE, EXTENDED):
        for _pass in range(3):
            # rotate the EXTENDED order by a third per pass so positional
            # debt lands on a different successor each time and the
            # min-of-3 sheds it; HEADLINE keeps its fixed order — its
            # numbers are the round-over-round comparable set and
            # reordering would change what each query's warm-up paid for.
            # (queries_passes for EXTENDED is therefore not a positional
            # warm-up curve; read gc_ms to classify a spike.)
            if group is EXTENDED:
                shift = _pass * len(group) // 3
                order = group[shift:] + group[:shift]
            else:
                order = group
            for name in order:
                tag = f"bench:{name}:{_pass}"
                g0 = _gc_ms()
                t0 = time.time()
                run(name, job_tag=tag)
                raw.setdefault(name, []).append(round(time.time() - t0, 3))
                raw_gc.setdefault(name, []).append(_gc_ms() - g0)
                # Spark jobs per timed pass: an operator that grows an
                # extra driver-side action (VERDICT r9, Wrong #1 — the
                # two boundary-sampling collects would have shown here a
                # round earlier) is visible as a job-count step even when
                # wall time hides it. min across passes: AQE re-plans can
                # add stage-jobs on a cold first pass.
                raw_jobs.setdefault(name, []).append(_jobs_in_group(tag))

    timings = {n: min(v) for n, v in raw.items()}
    jobs = {n: min(v) for n, v in raw_jobs.items()}
    medians = {n: round(sorted(v)[len(v) // 2], 3) for n, v in raw.items()}
    spreads = {n: round(max(v) - min(v), 3) for n, v in raw.items()}
    # a pass >5x the query's min is a JVM stall (GC / co-running load), not
    # a regression — flag it so 10-15 s spread entries self-identify
    # (VERDICT r5, Wrong #2); each entry carries its pass index and the
    # pass's GC time so the artifact tells GC debt from a real stall
    stalled = {
        n: [
            {"sec": t, "pass": i, "gc_ms": raw_gc[n][i]}
            for i, t in enumerate(v)
            if t > 5 * min(v) and t - min(v) > 1.0
        ]
        for n, v in raw.items()
    }
    stalled = {n: v for n, v in stalled.items() if v}

    # post-sweep sink re-run (plain mode only): if this diverges from the
    # pre-sweep samples, the session degraded mid-bench — the round's
    # verdict should read the samples, not guess
    sink_post = bench_sink(spark, plain_only=True)

    # machine-state calibration LAST — fixed, code-independent workloads
    # measured after every other number so they perturb none of them (the
    # sink in particular must stay "after only the one-query warm-up" for
    # round-over-round comparability).
    # Shared-host background load scales EVERY query by the same factor
    # (measured one afternoon: a uniform 1.3x across all 16 headline
    # queries, zero stalled passes); dividing headline by calibration
    # separates code regressions from a busy box when comparing rounds.
    #
    # TWO probes, because r6 proved one is not enough (VERDICT r6,
    # Wrong #1): BENCH_r06 ran with the sink -40% and the mapInPandas
    # decode stage 1.5x slow, yet the JVM-only probe read "clean box" —
    # co-running Spark degrades the Python-worker pool (fork/IPC/Arrow)
    # long before it degrades a pure-JVM codegen scan. The companion
    # probe routes a fixed 5M-row workload through mapInPandas so
    # Python-worker contention shows up in a calibration number.
    from pyspark.sql import functions as F

    def _calibrate() -> float:
        t0 = time.time()
        # bit_xor, not sum: 50M hash longs overflow a SUM under ANSI mode
        spark.range(50_000_000).select(
            F.xxhash64("id").alias("h")
        ).agg(F.expr("bit_xor(h)")).collect()
        return time.time() - t0

    def _calibrate_py() -> float:
        import pandas as pd

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

        def _batch_sum(it):
            for pdf in it:
                yield pd.DataFrame({"s": [int(pdf["id"].sum())]})

        t0 = time.time()
        spark.range(5_000_000).repartition(cpus).mapInPandas(
            _batch_sum, "s long"
        ).agg(F.sum("s")).collect()
        return time.time() - t0

    _calibrate()  # warm-up
    calibration = round(min(_calibrate() for _ in range(3)), 3)
    _calibrate_py()  # warm-up (Arrow serializer + worker reuse paths)
    calibration_py = round(min(_calibrate_py() for _ in range(3)), 3)

    # Calibration-reference position note: the first cut of the Python
    # reference (0.90) was measured in a fresh dev session and the probe
    # then read a stable 1.31-1.35 at the bench tail on the same idle box
    # (two consecutive solo runs), tripping the flag on every clean run —
    # a Python-worker pool that has served 160+ queries is simply slower
    # to feed than a fresh one; hence the refs are recorded AT THIS
    # POSITION. A different host baseline shows up as BOTH probes off by
    # the same stable factor round over round, which the verdict can
    # re-baseline. Thresholds, signals, and the why live on
    # contended_verdict (module level, pytest-pinned).
    contended, contended_reasons, sink_spread_ratio, sink_post_drop_ratio = \
        contended_verdict(calibration, calibration_py,
                          sink_pre["samples"]["plain"],
                          sink_post["samples"]["plain"])

    total = round(sum(timings[n] for n in HEADLINE), 3)
    pre = sink_pre["samples"]
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_spread": spreads,
        # raw per-pass timings (pass order preserved): lets a verdict
        # attribute a large spread to one stalled pass vs genuine
        # pass-to-pass instability (VERDICT r6, Wrong #2 on
        # q_dedup_minhash) without a rerun
        "queries_passes": raw,
        "queries_jobs": jobs,
        "value_covers": HEADLINE,
        "extended_total_sec": round(sum(timings[n] for n in EXTENDED), 3),
        "sink_blocks_per_sec": max(pre["plain"]),
        "sink_blocks_per_sec_exploded": max(pre["exploded"]),
        "sink_blocks_per_sec_exploded_seq": max(pre["exploded_seq"]),
        "sink_samples_pre_sweep": pre,
        "sink_samples_post_sweep": sink_post["samples"],
        "sink_decode_stage_sec": sink_pre["decode_stage_sec"],
        "catchup_write_rows_per_sec": catchup,
        # one-time postings-index build at this SF; the two *_indexed
        # query timings are serve-only passes against this artifact
        "lex_index_build_sec": lex_build_sec,
        # serve-only {sec, jobs} for the indexed-retrieval family, named
        # explicitly (VERDICT r10, Wrong #3): these are min-of-3 passes
        # of the SERVE closures above against the prebuilt index — zero
        # build jobs included — so a df-tree or partition-pruning
        # regression in the serve plan shows as a job-count step, not
        # a diluted mixed number. The serve job floor is pytest-pinned
        # (tests/test_lexical_index.py).
        "serve_only_indexed": {
            n: {"sec": timings[n], "jobs": jobs[n]}
            for n in ("q_text_bm25_indexed", "q_retrieval_hybrid_indexed")
        },
        "stalled_passes": stalled,
        "calibration_sec": calibration,
        "calibration_py_sec": calibration_py,
        "calibration_io_sec": calibration_io,
        "calibration_io_warm_sec": calibration_io_warm,
        "sink_plain_spread_ratio": sink_spread_ratio,
        "sink_post_drop_ratio": sink_post_drop_ratio,
        "contended": contended,
        "contended_reasons": contended_reasons,
        "sf": sf,
    }))
    # Per-query job counts for the headline set as their OWN compact
    # line: they must survive into the driver's 2,000-char stdout tail
    # alongside the final compact line below.
    jobs_line = json.dumps({
        "metric": "headline_jobs",
        "jobs": {n: jobs[n] for n in HEADLINE},
        # serve-only job counts for the indexed-retrieval family (zero
        # index-build jobs — the serve closures hit the prebuilt index),
        # kept in the tail so a serve-plan regression survives the
        # driver's 2,000-char stdout window
        "serve_jobs": {
            n: jobs[n]
            for n in ("q_text_bm25_indexed", "q_retrieval_hybrid_indexed")
        },
        "compact": True,
    })
    print(jobs_line)

    # The driver keeps only the last 2,000 chars of stdout; the enriched
    # JSON above outgrew that in round 5, truncating the headline "value"
    # out of BENCH_r05.json (VERDICT r5, Wrong #1). This trailing compact
    # line repeats the verdict-critical numbers so the tail always proves
    # the gate on its own. Round 14 (VERDICT r13, Next #2): it now also
    # carries a per-query "queries" dict — every HEADLINE min (the
    # round-over-round comparable set) plus as many of the most
    # expensive EXTENDED mins as fit — sized so that this line plus the
    # jobs line above stay within the driver's 2,000-char window, so
    # PERF per_query / geomean / low-core scaling ratios stop coming
    # back empty. Existing keys are unchanged; the dict is additive.
    def _final_line(qdict: dict) -> str:
        return json.dumps({
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "queries": qdict,
            "extended_total_sec": round(
                sum(timings[n] for n in EXTENDED), 3),
            "sink_blocks_per_sec": max(pre["plain"]),
            "sink_blocks_per_sec_exploded": max(pre["exploded"]),
            "n_stalled_passes": sum(len(v) for v in stalled.values()),
            "calibration_sec": calibration,
            "calibration_py_sec": calibration_py,
            "calibration_io_sec": calibration_io,
            "contended": contended,
            "sf": sf,
            "compact": True,
        })

    qtail = {n: timings[n] for n in HEADLINE}
    ext_by_cost = sorted(EXTENDED, key=lambda q: -timings[q])
    for n in ext_by_cost:
        qtail[n] = timings[n]
    while (len(_final_line(qtail)) + len(jobs_line) + 2 > 1900
           and len(qtail) > len(HEADLINE)):
        # shed the cheapest extended entry; headline entries never drop
        for n in reversed(ext_by_cost):
            if n in qtail:
                del qtail[n]
                break
    print(_final_line(qtail))
    import shutil

    shutil.rmtree(lex_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
