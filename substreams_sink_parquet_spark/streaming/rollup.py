"""Continuous rollup: an incrementally-maintained aggregate lake
(TimescaleDB "continuous aggregate" / hypertable rollup, Spark-first).

The reference sink only lands raw rows; any aggregate view over 100 TB of
them is a full scan. A continuous rollup maintains the aggregate AS the
stream lands: each micro-batch writes its per-bucket PARTIAL aggregates to
an epoch-keyed directory, and readers merge partials with the aggregate's
own algebra (sum of sums, sum of counts, min of mins, max of maxes —
avg is derived sum/count at read time, never stored). The roll-up query
then scans kilobytes of partials instead of terabytes of rows.

Why this shape is exactly-once and scales:

- **Partial writes are epoch-keyed and overwrite-idempotent** — the same
  trick the main sink's live area uses (stream_sink.py `_append_live`): an
  at-least-once replay of batch N rewrites ``epoch=N`` instead of
  double-counting it. No transactions needed; idempotence is layout.
- **Merge-on-read is algebraic**: any decomposable aggregate (sum, count,
  min, max, and anything derivable from them) re-aggregates partials with
  the SAME grouping — associativity means batch boundaries are invisible.
  This is the classic partial-aggregation contract Spark itself uses
  map-side; here it is materialized across time instead of across tasks.
- **Compaction** folds accumulated epoch dirs into one merged partial
  (write-aside + atomic-rename swap, crash-safe: the merged dir is built
  under a ``_merge_tmp`` name and the swap is re-runnable), so read cost
  stays O(buckets), not O(batches), on a long-running stream.
- At 100 TB: partials are tiny (buckets x groups rows per batch); the only
  shuffle is the per-batch groupBy on (bucket, groups) — map-side combined,
  keyed by bounded cardinality.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsio import HadoopFS, url_join

_ALGEBRA = {"sum", "count", "min", "max"}


@dataclass
class RollupSpec:
    """What to maintain: bucket + group keys + decomposable measures.

    ``measures``: {out_name: (agg, col)} with agg in sum|count|min|max.
    ``avg`` requests are expressed by the caller as sum+count and divided
    at read time (see :func:`read_rollup`'s derived columns).
    """

    bucket_col: str = "block_number"
    bucket_size: int = 1000
    group_cols: tuple[str, ...] = ()
    measures: dict[str, tuple[str, str]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        for name, (agg, _col) in self.measures.items():
            if agg not in _ALGEBRA:
                raise ValueError(
                    f"measure {name!r}: {agg!r} is not decomposable; use "
                    f"one of {sorted(_ALGEBRA)} (derive avg at read time)"
                )

    def to_json(self) -> str:
        import json

        return json.dumps(
            {
                "bucket_col": self.bucket_col,
                "bucket_size": self.bucket_size,
                "group_cols": list(self.group_cols),
                "measures": {k: list(v) for k, v in self.measures.items()},
            }
        )

    @classmethod
    def from_json(cls, raw: str) -> "RollupSpec":
        import json

        d = json.loads(raw)
        return cls(
            bucket_col=d["bucket_col"],
            bucket_size=d["bucket_size"],
            group_cols=tuple(d["group_cols"]),
            measures={k: tuple(v) for k, v in d["measures"].items()},
        )

    def bucket_expr(self):
        # pmod, not %: Spark's % keeps the dividend's sign, so a negative
        # bucket_col value would land in the bucket ABOVE it (-5 % 10 = -5
        # → bucket 0 instead of -10); pmod gives floor semantics for any
        # sign and is identical for the non-negative common case
        # (code review r12).
        # MIGRATION NOTE (ADVICE r12): this was a code-semantics change the
        # _SPEC.json guard cannot see — a rollup dir whose partials were
        # bucketed under the pre-r12 % semantics passes the spec check, and
        # merge-on-read then mixes floor and truncate bucketing for
        # NEGATIVE keys in one result. Harmless for non-negative bucket
        # columns (block numbers — every in-tree producer); rollups over
        # signed bucket columns built before r12 must be compacted or
        # rebuilt before appending post-r12 partials.
        b = F.col(self.bucket_col).cast("long")
        return (b - F.pmod(b, F.lit(self.bucket_size))).alias("bucket")

    def partial_aggs(self) -> list:
        out = []
        for name, (agg, col) in self.measures.items():
            out.append(getattr(F, agg)(col).alias(name))
        return out

    def merge_aggs(self) -> list:
        # the merge of a partial uses the aggregate's own combine: counts
        # SUM together; min/max idempotently re-min/re-max; sums sum.
        remap = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
        return [
            getattr(F, remap[agg])(name).alias(name)
            for name, (agg, _col) in self.measures.items()
        ]


def guard_stream_id(fs: HadoopFS, history_dir: str, stream_id: str | None,
                    what: str = "rollup") -> None:
    """Refuse epoch-dir overwrites from a DIFFERENT stream: epoch ids
    restart at 0 under a fresh/lost checkpoint, and an unguarded restart
    would replace accumulated ``epoch={id}`` history one dir at a time.
    The first write records ``stream_id`` (recommended: the checkpoint
    path) in ``_STREAM_ID``; a mismatch raises instead of destroying
    history. Shared by every epoch-keyed history the sink maintains
    (rollup partials, ingest profiles)."""
    if stream_id is None:
        return
    marker = url_join(history_dir, "_STREAM_ID")
    if fs.exists(marker):
        prev = fs.read_bytes(marker).decode()
        if prev != stream_id:
            raise RuntimeError(
                f"{what} at {history_dir} was built by stream "
                f"{prev!r}; refusing epoch overwrite from {stream_id!r} "
                "— a fresh checkpoint restarts epoch ids at 0 and would "
                f"silently replace history. Compact and archive the old "
                f"{what}, or delete _STREAM_ID to adopt it deliberately."
            )
    else:
        fs.write_bytes(marker, stream_id.encode())


def write_rollup_partial(
    df: DataFrame, rollup_dir: str, spec: RollupSpec, epoch_id: int,
    stream_id: str | None = None,
) -> None:
    """One micro-batch's partial aggregates -> ``epoch={id}`` (idempotent
    overwrite; replays of the SAME stream cannot double-count).

    ``stream_id`` arms :func:`guard_stream_id`'s history guard."""
    fs = HadoopFS(df.sparkSession, rollup_dir)
    spec_file = url_join(rollup_dir, "_SPEC.json")
    if not fs.exists(spec_file):
        fs.write_bytes(spec_file, spec.to_json().encode())
    else:
        # refuse a CHANGED spec against accumulated partials (code review
        # r12): epoch dirs written under a different grouping/measure set
        # are schema-heterogeneous, and the merge read (no mergeSchema)
        # would silently drop or misread measure columns from the older
        # epochs instead of failing. One tiny JSON read per micro-batch.
        prev = fs.read_bytes(spec_file).decode()
        if RollupSpec.from_json(prev) != spec:
            raise ValueError(
                f"rollup at {rollup_dir} was built with a different spec "
                f"({prev}) — partials under mixed specs cannot merge. "
                "Compact and archive the old rollup (or delete the dir) "
                "before writing with the new spec."
            )
    guard_stream_id(fs, rollup_dir, stream_id, what="rollup")
    partial = df.groupBy(spec.bucket_expr(), *spec.group_cols).agg(
        *spec.partial_aggs()
    )
    partial.write.mode("overwrite").parquet(
        url_join(rollup_dir, f"epoch={epoch_id}")
    )


def rollup_sink(rollup_dir: str, spec: RollupSpec, stream_id: str | None = None):
    """foreachBatch callable maintaining the rollup lake:
    ``stream.writeStream.foreachBatch(rollup_sink(dir, spec, ckpt))``.
    Pass the checkpoint path as ``stream_id`` to arm the history guard."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        write_rollup_partial(batch_df, rollup_dir, spec, epoch_id, stream_id)

    return fn


def read_rollup(
    spark: SparkSession,
    rollup_dir: str,
    spec: RollupSpec,
    derived: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Merge all partials into the current aggregate view.

    STRICTLY NON-MUTATING. read_rollup is the advertised query API for a
    rollup the running stream continuously maintains, so a reader may race
    the stream's own in-batch ``compact_rollup``: a read-path recovery that
    deletes a manifest-less ``_merge_tmp`` could destroy the compactor's
    write AFTER its parquet data landed but BEFORE its manifest did — the
    compactor would then commit a gutted directory and delete every source
    epoch. Instead, interrupted swaps are handled read-only:

    - a ``_merge_tmp`` WITH a manifest is a finished merge whose sources
      may be partially deleted — it is read as an extra source and the
      epochs its manifest names are excluded (they are the merged rows'
      originals; surviving ones would double-count);
    - a ``_merge_tmp`` WITHOUT a manifest is an unfinished write whose
      sources are intact — ignored entirely.

    Actual repair stays with the writer-side entry points
    (``compact_rollup`` / ``retract_rollup``), which own the single-writer
    role and call ``_recover_rollup``.

    ``derived``: {out_name: (sum_measure, count_measure)} ratio columns
    computed AFTER the merge (the only correct place for avg-like
    measures). Scans O(buckets x batches-since-compaction) partial rows —
    kilobytes — never the raw lake.
    """
    import json

    fs = HadoopFS(spark, rollup_dir)
    tmp = url_join(rollup_dir, "_merge_tmp")
    manifest = url_join(tmp, "_MERGED.json")

    def _resolve() -> list[str]:
        """One consistent snapshot attempt. TOCTOU (ADVICE r4): checking
        the manifest BEFORE listing leaves a window where the compactor
        writes the manifest and deletes source epochs between the two
        calls — the reader would then see neither the merged rows nor the
        sources. Re-checking the manifest AFTER the listing closes it: if
        it appeared (or its source set changed) mid-scan, rebuild the
        paths from the post-listing state, which by the single-writer
        commit order (manifest outlives source deletes) is consistent."""
        for attempt in range(3):
            had_manifest = fs.exists(manifest)
            excluded: set[str] = set()
            paths: list[str] = []
            if had_manifest:
                excluded = set(json.loads(fs.read_bytes(manifest))["sources"])
                paths.append(tmp)  # manifest file is _-prefixed: invisible
            listing = [d for d in fs.listdir(rollup_dir) if d.startswith("epoch=")]
            if attempt < 2 and fs.exists(manifest) != had_manifest:
                continue  # compactor raced the scan: take a fresh snapshot
            # the LAST attempt always completes — returning the truncated
            # [tmp]-only snapshot here would silently drop every live epoch,
            # the exact under-count this loop exists to prevent; a stale
            # final snapshot is instead caught by the read retry below
            paths.extend(
                url_join(rollup_dir, d) for d in listing if d not in excluded
            )
            return paths

    # no sources at all: preserve the historical error shape of an empty
    # glob read rather than inventing a schema
    try:
        parts = spark.read.parquet(*(_resolve() or [url_join(rollup_dir, "epoch=*")]))
    except Exception:
        # paths deleted between the listing and the eager footer read
        # (commit completed mid-scan): one re-resolved retry sees the
        # post-commit state (epoch=-1 in place, tmp gone)
        parts = spark.read.parquet(*(_resolve() or [url_join(rollup_dir, "epoch=*")]))
    merged = parts.groupBy("bucket", *spec.group_cols).agg(*spec.merge_aggs())
    for name, (s, c) in (derived or {}).items():
        # try_divide: a count measure over a column whose values are all
        # null in some bucket merges to 0, and a plain division would
        # abort the whole read under ANSI (the driver default) — the
        # bucket's average is correctly 'nothing to average' (NULL), not
        # an error (code review r12)
        merged = merged.withColumn(name, F.try_divide(F.col(s), F.col(c)))
    return merged


def _recover_rollup(fs: HadoopFS, rollup_dir: str) -> None:
    """Replay or discard an interrupted compaction swap — the shared
    write-ahead protocol (``foldswap.recover_fold``): a ``_merge_tmp``
    WITH its manifest finished the write and is re-committed; one WITHOUT
    is dropped; a stale destination manifest is tidied."""
    from ..foldswap import recover_fold

    recover_fold(fs, rollup_dir, "_merge_tmp")


def compact_rollup(
    spark: SparkSession,
    rollup_dir: str,
    spec: RollupSpec,
    include_latest: bool = False,
) -> int:
    """Fold epoch partials into one (``epoch=-1``), bounding read cost on a
    long-running stream. Crash-safe: the merged partial is written aside to
    ``_merge_tmp`` with a manifest of the source epochs; the manifest
    OUTLIVES the rename (the foldswap protocol — deleting it earlier would
    make a crash between delete and rename look like an uncommitted write
    and destroy the only copy). Interrupted swaps
    are replayed by the next compact OR read.

    By default the highest-numbered epoch is NOT folded
    (``include_latest=False``): if the stream crashed after writing batch
    N's partial but before committing offset N, the checkpoint replay will
    rewrite ``epoch=N`` — folding it first would count batch N twice.
    Excluding the trailing epoch makes compaction safe against a crashed
    (not just cleanly stopped) stream at the cost of one unfolded dir.
    Pass ``include_latest=True`` only for a terminally drained stream.
    Returns the number of epochs folded."""
    import json

    fs = HadoopFS(spark, rollup_dir)
    tmp = url_join(rollup_dir, "_merge_tmp")
    _recover_rollup(fs, rollup_dir)
    epochs = sorted(
        (d for d in fs.listdir(rollup_dir) if d.startswith("epoch=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )
    if not include_latest and epochs and int(epochs[-1].split("=", 1)[1]) >= 0:
        epochs = epochs[:-1]
    if len(epochs) < 2:
        return 0
    merged = (
        spark.read.parquet(*[url_join(rollup_dir, e) for e in epochs])
        .groupBy("bucket", *spec.group_cols)
        .agg(*spec.merge_aggs())
    )
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    from ..foldswap import write_fold_manifest

    write_fold_manifest(fs, tmp, epochs)
    _commit_rollup_merge(fs, rollup_dir, epochs)
    return len(epochs)


def _commit_rollup_merge(fs: HadoopFS, rollup_dir: str, srcs) -> None:
    """Idempotent swap via the shared protocol (``foldswap.commit_fold``):
    delete sources, rename ``_merge_tmp`` (manifest still inside) into
    ``epoch=-1``, THEN drop the manifest from its destination."""
    from ..foldswap import commit_fold

    commit_fold(fs, rollup_dir, "_merge_tmp", list(srcs))


def load_rollup_spec(fs: HadoopFS, rollup_dir: str) -> RollupSpec | None:
    """Reconstruct the spec persisted by the first partial write (None if
    the rollup was never written or predates spec persistence)."""
    spec_file = url_join(rollup_dir, "_SPEC.json")
    if not fs.exists(spec_file):
        return None
    return RollupSpec.from_json(fs.read_bytes(spec_file).decode())


def retract_rollup(
    spark: SparkSession,
    rollup_dir: str,
    spec: RollupSpec,
    last_valid_block: int,
    rescan_df: DataFrame | None,
) -> None:
    """Reorg retraction for the rollup — bucket-selective, never a full
    corpus rescan.

    Partials are keyed by bucket, so a fork at block F poisons exactly the
    buckets intersecting (F, inf): buckets entirely below F are correct as
    accumulated and are carried over by a pure partial merge; the ONE
    bucket spanning F is rebuilt from ``rescan_df`` (the caller supplies
    the surviving rows of [bucket_start(F), F] — a range-pruned lake+live
    read, kilobytes at any lake size); buckets above F are dropped (the
    re-fed stream re-accumulates them in new epochs). Uses the same
    write-aside + manifest-outlives-rename swap as compaction, so a crash
    at any point is recovered by the next read/compact/retract."""
    import json

    fs = HadoopFS(spark, rollup_dir)
    if not fs.exists(rollup_dir):
        return
    _recover_rollup(fs, rollup_dir)
    epochs = [d for d in fs.listdir(rollup_dir) if d.startswith("epoch=")]
    if not epochs:
        return
    fork_bucket = last_valid_block - last_valid_block % spec.bucket_size
    parts = spark.read.parquet(*[url_join(rollup_dir, e) for e in epochs])
    below = (
        parts.where(F.col("bucket") < fork_bucket)
        .groupBy("bucket", *spec.group_cols)
        .agg(*spec.merge_aggs())
    )
    pieces = [below]
    if rescan_df is not None:
        spanning = (
            rescan_df.where(
                (F.col(spec.bucket_col) >= fork_bucket)
                & (F.col(spec.bucket_col) <= last_valid_block)
            )
            .groupBy(spec.bucket_expr(), *spec.group_cols)
            .agg(*spec.partial_aggs())
        )
        pieces.append(spanning)
    rebuilt = pieces[0]
    for p in pieces[1:]:
        rebuilt = rebuilt.unionByName(p)
    tmp = url_join(rollup_dir, "_merge_tmp")
    rebuilt.coalesce(1).write.mode("overwrite").parquet(tmp)
    from ..foldswap import write_fold_manifest

    write_fold_manifest(fs, tmp, epochs)
    _commit_rollup_merge(fs, rollup_dir, epochs)
