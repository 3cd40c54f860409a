"""Streaming pipeline: staged raw blocks → decoded, range-partitioned lake.

Reference translation (SURVEY.md §3.1):

- gRPC stream source (sinker.go:91) → a file-source ``readStream`` over a
  staging directory of raw block parquet (block_number, block_id, payload).
  An external feeder appends files; Spark's file source tracks what's been
  consumed.
- cursor file save-per-block (cursor.go:27-32, sinker.go:225) →
  ``checkpointLocation``: offsets commit only after the batch's files are
  durable, which strictly improves on the reference's cursor-ahead-of-upload
  hazard (writer.go:350-371).
- flush policy rows/time (sinker.go:166-190) → micro-batch trigger.
- undo/reorg handling, which the reference stubs as a passthrough
  (undo_buffer.go:19-28): implemented here as the *intended* holdback — a
  range is finalized (renamed to its padded name) only once
  ``max_seen_block >= range_end + undo_holdback`` (range_end clamped to
  ``--stop-block``); younger blocks stay in a re-writable staging area, and
  ``undo(last_valid_block)`` drops staged rows above the fork point.
- Close-time drain (writer.go:275-277: the reference finalizes the current
  partial, end-clamped file on Close): :meth:`StreamingSink.close` finalizes
  every remaining live range after the query stops — without it, a
  ``--stop-block`` run's terminal clamped range could never satisfy the
  holdback inequality and would sit in ``_live/`` forever.
- .partial → final rename (writer.go:80-85): the live area holds one
  block-sorted file per range per epoch, and finalize renames it into place;
  only a range spanning several live sources is merged (``write_ranges``).

All file metadata operations go through :mod:`..fsio` (Hadoop FileSystem),
so the lake root may be file://, s3a://, gs:// or abfs://.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import protowire as pw
from ..decode import decode_payloads
from ..fsio import RANGE_FILES_MARKER, HadoopFS, live_index, live_range_dirs, url_join
from ..partition import range_start_col
from ..schema import SchemaOptions
from ..sink.explode import explode_all
from ..sink.writer import (
    WriterOptions,
    _finalize,
    _range_end as _writer_range_end,
    _split_range_name,
    _stage_partitioning,
    backfill_empty,
    file_name,
    ensure_schema_compatible,
    parquet_write_options,
    write_ranges,
)


@dataclass
class StreamingSink:
    """foreachBatch sink with undo holdback.

    Layout under ``out_dir``:
      - ``_live/epoch=E/range_start=N/`` rows of not-yet-final ranges
        (re-writable on reorg): one block-sorted file per range per epoch,
        which finalize renames into place;
      - ``{rs:010d}-{re:010d}.parquet`` finalized immutable range files.
    """

    spark: SparkSession
    spec: pw.MessageSpec | None  # None only for offline maintenance (undo_lake)
    out_dir: str
    opts: WriterOptions = field(default_factory=WriterOptions)
    schema_opts: SchemaOptions = field(default_factory=SchemaOptions)
    undo_holdback: int = 0
    explode: bool = False
    check_schema: bool = True
    # --exploded-write-workers parity (run.go:51): concurrency of the
    # per-table append jobs in explode mode. 0 = auto (one worker per
    # table); 1 = sequential (the reference's 0=sync).
    exploded_write_workers: int = 0
    # optional continuous rollup (streaming/rollup.py): per-batch partial
    # aggregates of the DECODED rows land under ``_rollup/`` next to the
    # lake, so "total per bucket" queries read kilobytes of partials, not
    # the raw 100 TB. None = off.
    rollup_spec: object | None = None
    # identity of the owning stream (the checkpoint path): arms the
    # rollup's _STREAM_ID guard — a fresh checkpoint restarts epoch ids at
    # 0 and must not silently overwrite accumulated rollup history
    stream_id: str | None = None
    # fold rollup epoch partials every N batches (include_latest=False, so
    # the possibly-uncommitted trailing epoch is never folded) — bounds
    # read_rollup's listing at O(N) dirs on a continuous stream
    rollup_compact_every: int = 64
    # optional per-epoch column profiles of the DECODED rows
    # (operators/profiling.py, HLL-sketch distinct — the exchange is
    # column-count-sized whatever the batch size): each epoch writes a
    # kilobyte row-per-column snapshot under ``_profile/epoch={id}/``, so
    # value-level ingest drift (null-rate spikes, cardinality collapse,
    # range walk) is queryable history, complementing the structural
    # ensure_schema_compatible guard. None = off.
    profile_columns: list[str] | None = None
    _max_seen: int = -1
    _schema_checked: bool = False

    def __post_init__(self) -> None:
        self._fs = HadoopFS(self.spark, self.out_dir)
        self._batch_ranges = 1  # set per batch by process_batch

    def _child_dirs(self) -> list[str]:
        if not self.explode:
            return []
        return [
            url_join(self.out_dir, f.name)
            for f in self.spec.fields
            if f.repeated and not f.is_map
        ]

    # -- foreachBatch entry -------------------------------------------------

    def process_batch(self, raw_batch: DataFrame, epoch_id: int) -> None:
        if self.opts.end_block is not None:
            # --stop-block is exclusive: the reference's stream never
            # delivers blocks past it; a misbehaving feeder must not be able
            # to smuggle them into (or beyond) the clamped terminal range
            raw_batch = raw_batch.filter(
                F.col("block_number") < self.opts.end_block
            )
        if self.opts.start_block > 0:
            # symmetric guard below the anchor: range_start_col (unlike the
            # batch path's range_for, which raises) would silently assign a
            # below-anchor range start, producing a rogue file outside the
            # contiguity invariant
            raw_batch = raw_batch.filter(
                F.col("block_number") >= self.opts.start_block
            )
        # The holdback horizon needs max(block_number) over the RAW batch —
        # decoded rows won't do: nil payloads are skipped at decode
        # (sinker.go:158-160 parity), and a sparse module's tip blocks would
        # then never advance the horizon. One aggregate over the pruned
        # block_number column gives the horizon and, from the min, the
        # number of ranges the append repartitions the batch into.
        lo, hi = raw_batch.agg(
            F.min("block_number"), F.max("block_number")
        ).first()
        if hi is not None:
            self._max_seen = max(self._max_seen, int(hi))
            start, size = self.opts.start_block, self.opts.partition_size
            self._batch_ranges = (hi - start) // size - (lo - start) // size + 1
        will_persist = (
            (self.explode and bool(self._child_dirs()))
            or self.rollup_spec is not None
            or bool(self.profile_columns)
        )
        decoded = decode_payloads(raw_batch, self.spec, self.schema_opts)
        if self.check_schema and not self._schema_checked:
            # Cross-run guard the reference lacks: a resumed run whose .spkg
            # (or SchemaOptions) drifted incompatibly from the lake's files
            # must fail HERE, not mix irreconcilable footers. Additive
            # field additions pass (merge_schema=True reads span them).
            # One footer read per table, once per query lifetime.
            ensure_schema_compatible(self.spark, self.out_dir, decoded.schema)
            if self.explode:
                for name, child in explode_all(decoded, self.spec).items():
                    ensure_schema_compatible(
                        self.spark, url_join(self.out_dir, name), child.schema
                    )
            self._schema_checked = True
        if will_persist:
            # each table write is its own action; without a persist the
            # mapInPandas protobuf decode re-runs once per table (main +
            # every exploded child, + the rollup partial) — the single most
            # expensive stage in the batch, paid N times for no reason
            decoded = decoded.persist()
        try:
            appends = [(decoded, self.out_dir)]
            if self.explode:
                for name, child in explode_all(decoded, self.spec).items():
                    child_dir = url_join(self.out_dir, name)
                    self._fs.mkdirs(child_dir)
                    appends.append((child, child_dir))
            workers = (
                len(appends) if self.exploded_write_workers == 0
                else min(self.exploded_write_workers, len(appends))
            )
            if len(appends) == 1 or workers <= 1:
                for df, table_dir in appends:
                    self._append_live(df, table_dir, epoch_id)
            else:
                # independent target directories: run the per-table append
                # jobs concurrently. The persisted decode materializes once
                # under whichever job reaches a partition first (the cache
                # manager locks per partition), so this overlaps the child
                # explode+write with the main write instead of paying the
                # tables serially — the same shape a multi-sink cluster job
                # would use.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=workers) as pool:
                    list(pool.map(
                        lambda a: self._append_live(a[0], a[1], epoch_id),
                        appends,
                    ))
            if self.profile_columns:
                # decode is persisted whenever profiling is on: one extra
                # sketch-aggregate job over cached partitions, writing a
                # row-per-column epoch snapshot. Epoch-keyed overwrite =
                # replay-idempotent (same contract as _append_live); the
                # _STREAM_ID guard stops a fresh checkpoint's epoch 0 from
                # silently replacing recorded history.
                from ..operators.profiling import profile_table
                from .rollup import guard_stream_id

                profile_dir = url_join(self.out_dir, "_profile")
                guard_stream_id(self._fs, profile_dir, self.stream_id,
                                what="ingest-profile history")
                prof = profile_table(decoded, self.profile_columns)
                prof.coalesce(1).write.mode("overwrite").parquet(
                    url_join(profile_dir, f"epoch={epoch_id}")
                )
            if self.rollup_spec is not None:
                # decode is persisted whenever the rollup is on, so this is
                # one tiny agg job over cached partitions
                from .rollup import compact_rollup, write_rollup_partial

                rollup_dir = url_join(self.out_dir, "_rollup")
                write_rollup_partial(
                    decoded,
                    rollup_dir,
                    self.rollup_spec,
                    epoch_id,
                    stream_id=self.stream_id,
                )
                if (
                    self.rollup_compact_every
                    and epoch_id > 0
                    and epoch_id % self.rollup_compact_every == 0
                ):
                    # safe mid-stream: the trailing (possibly uncommitted)
                    # epoch is excluded, and foreachBatch serializes us —
                    # the stream IS the single writer
                    compact_rollup(
                        self.spark, rollup_dir, self.rollup_spec,
                        include_latest=False,
                    )
        finally:
            if will_persist:
                decoded.unpersist()
        self._finalize_ready(self.out_dir)
        for child_dir in self._child_dirs():
            self._finalize_ready(child_dir)

    def _append_live(self, df: DataFrame, table_dir: str, epoch_id: int) -> None:
        """Stage the epoch's rows as ``write_ranges`` stages them — one
        block-sorted file per range under ``_live/epoch={id}/range_start=N/``
        — and mark the epoch dir so finalize may rename them into place (a
        ``write_tasks`` sub-split leaves several files: unmarked, merged).
        OVERWRITES the epoch directory: foreachBatch is at-least-once, and
        after a mid-batch crash the same epoch re-runs; an append-mode write
        would duplicate every row the first attempt got out, while the
        epoch-keyed overwrite makes the replay idempotent (the batchId-based
        dedup contract). Committed epochs never re-run."""
        ranged = df.withColumn(
            "__range_start",
            range_start_col("block_number", self.opts.start_block, self.opts.partition_size),
        )
        staged, part_cols = _stage_partitioning(
            ranged, self._batch_ranges, self.opts, "block_number"
        )
        writer = (
            staged.sortWithinPartitions(*part_cols, "block_number")
            .drop("__sub")
            .withColumnRenamed("__range_start", "range_start")
            .write.mode("overwrite")
        )
        for k, v in parquet_write_options(self.opts).items():
            writer = writer.option(k, v)
        epoch_dir = url_join(table_dir, "_live", f"epoch={epoch_id}")
        writer.partitionBy("range_start").parquet(epoch_dir)
        if "__sub" not in part_cols:
            self._fs.write_bytes(url_join(epoch_dir, RANGE_FILES_MARKER), b"")

    # -- finalize -----------------------------------------------------------

    def _range_end(self, rs: int) -> int:
        return _writer_range_end(rs, self.opts)

    def _live_index(self, live: str) -> dict[str, list[int]]:
        return live_index(self._fs, live)  # shared sweep (fsio.live_index)

    @staticmethod
    def _live_ranges(idx: dict[str, list[int]]) -> list[int]:
        return sorted({rs for rss in idx.values() for rs in rss})

    @staticmethod
    def _range_dirs(idx: dict[str, list[int]], live: str, rs: int) -> list[str]:
        return live_range_dirs(idx, live, rs)

    def _ready_ranges(self, idx: dict[str, list[int]]) -> list[int]:
        """Ranges safely behind the holdback horizon. The end is CLAMPED to
        --stop-block: a terminal partial range [rs, end_block) is ready once
        every block below end_block has been seen (plus holdback)."""
        return [
            rs
            for rs in self._live_ranges(idx)
            if self._max_seen >= self._range_end(rs) + self.undo_holdback - 1
        ]

    def _repair_stranded_finalize(self, table_dir: str) -> None:
        """Converge a finalize that crashed mid-flight (code review r12).

        ``_finalize``/``_split_oversize`` rename staged files over an
        UNORDERED thread pool (fsio.rename_all), so a crash can leave
        ``-part0000.parquet`` in the lake while later parts still sit in
        ``_staging``/``_staging_resplit`` — a final-looking name that is
        actually a subset. Staging is deleted only after its renames, and
        the live source dirs only after that, so a surviving staging root
        PROVES the live dirs still hold every row of the crashed pass.
        Recovery: drop the partially-renamed final files for every
        stranded range plus the staging roots, and let the normal holdback
        finalize rebuild them from the intact live dirs. Without this, the
        replay guard would read part0000 as "complete", delete the live
        sources, and the next finalize's overwrite of _staging would
        destroy the stranded parts — silent row loss."""
        prefix = "__range_start="
        roots = [
            url_join(table_dir, "_staging"),
            url_join(table_dir, "_staging_resplit"),
        ]
        stranded: set[int] = set()
        found = False
        for root in roots:
            if not self._fs.exists(root):
                continue
            found = True
            for d in self._fs.listdir(root):
                if d.startswith(prefix):
                    stranded.add(int(d[len(prefix):]))
        if not found:
            return
        if stranded:
            for name in self._fs.listdir(table_dir):
                parsed = _split_range_name(name)
                if parsed is not None and parsed[0] in stranded:
                    self._fs.delete(url_join(table_dir, name), recursive=False)
        for root in roots:
            self._fs.delete(root, recursive=True)

    def _undo_marker_dir(self, table_dir: str) -> str:
        return url_join(table_dir, "_undo_markers")

    def _repair_undo_markers(self, table_dir: str) -> None:
        """Finish a demotion that crashed mid-flight (code review r12).

        ``_undo_finalized`` writes a per-group marker (fork + file names)
        BEFORE mutating the group, demotes the kept rows to ``epoch=-2``,
        deletes the group's files, then drops the marker. A surviving
        marker therefore means the group is in one of two states:

        - every listed file still present → the deletion phase never began,
          so the demotion may be incomplete. Re-demote from the intact
          files using the marker's fork (idempotent overwrite), then
          delete them.
        - some listed file already gone → deletion only starts after the
          demotion completed, so the ``epoch=-2`` dirs are whole; just
          delete the remaining stale files. (Reading the SURVIVING subset
          to re-demote here would overwrite the complete epoch=-2 dirs
          with a partial group's rows — the one wrong move.)

        Without this repair, a restart after an undo crash leaves the
        stale pre-reorg file in place and the replay guard would discard
        the demoted + re-fed live rows, serving reorged blocks forever."""
        markers_dir = self._undo_marker_dir(table_dir)
        if not self._fs.exists(markers_dir):
            return
        import json

        import warnings

        for name in sorted(self._fs.listdir(markers_dir)):
            marker = url_join(markers_dir, name)
            if name.startswith("."):
                # uncommitted tmp from a crash mid-marker-write: the commit
                # rename never happened, so the group was never mutated —
                # drop it and let the undo be re-issued
                self._fs.delete(marker, recursive=False)
                continue
            payload = self._fs.read_bytes(marker).decode("utf-8", "replace")
            try:
                meta = json.loads(payload)
                files = list(meta["files"])
                fork = int(meta["fork"])
                if not files or any(
                    _split_range_name(n) is None for n in files
                ):
                    raise ValueError(f"malformed files list: {files[:3]!r}")
            except (ValueError, KeyError, TypeError) as e:
                # A torn/garbled marker can only come from the pre-r13
                # non-atomic write, and that write happened BEFORE any
                # mutation — the group is untouched, so the marker is safe
                # to drop (ADVICE r12: one torn marker must not wedge
                # every subsequent finalize/undo behind a JSONDecodeError).
                warnings.warn(
                    f"dropping unparseable undo marker {marker} ({e}); it "
                    "predates any mutation of its group — re-issue the "
                    "undo if the demotion is still wanted",
                    stacklevel=2,
                )
                self._fs.delete(marker, recursive=False)
                continue
            present = [
                n for n in files
                if self._fs.exists(url_join(table_dir, n))
            ]
            spanning = _split_range_name(files[0])[0] <= fork
            if spanning and len(present) == len(files):
                self._demote_group(
                    table_dir, [url_join(table_dir, n) for n in files], fork
                )
            for n in present:
                self._fs.delete(url_join(table_dir, n), recursive=False)
            self._fs.delete(marker, recursive=False)
        self._fs.delete(markers_dir, recursive=True)

    def _finalize_ready(self, table_dir: str, force: bool = False) -> None:
        """Finalize every fully-past range (``force``: every live range —
        terminal drain only, Close parity). A range whose only source is a
        file the append wrote (a marked epoch) is renamed into place by
        ``_finalize``, metadata only. The rest (several epochs, compacted
        ``epoch=-1`` or demoted ``epoch=-2`` rows, an unmarked epoch) are
        merged through ``write_ranges`` in one Spark job."""
        # crash repairs BEFORE the existence guard below (code review r12):
        # a stranded _staging(_resplit) means a pre-crash merge or re-split
        # never finished its renames (its live sources are intact — they are
        # deleted only after _finalize returns), so a final part file the
        # guard would probe may be an incomplete SUBSET; a stranded
        # _undo_markers entry means a demotion crashed and the probed file
        # may be a STALE pre-reorg file. Both repairs converge the lake so
        # the guard's existence probe is trustworthy.
        self._repair_stranded_finalize(table_dir)
        self._repair_undo_markers(table_dir)
        live = url_join(table_dir, "_live")
        marked: set[str] = set()
        idx = live_index(self._fs, live, marked)
        ranges = self._live_ranges(idx) if force else self._ready_ranges(idx)
        if not ranges:
            return
        # crash-replay guard (code review r11): a range whose FINAL file
        # already exists was completely finalized by a pre-crash pass —
        # one that may have merged EARLIER epochs' live rows the replayed
        # batch does not carry (or renamed its file). Re-finalizing from the
        # replay's live dirs alone would OVERWRITE the complete file with a
        # subset (HadoopFS.rename is delete-dst-first), silently losing the
        # earlier epochs' rows. The replayed live rows are a subset of
        # what that finalize already wrote, so drop them and skip the
        # range. The undo path cannot collide with this rule: demotion
        # writes a marker before touching the range, and the marker repair
        # above deletes the stale finalized file (re-demoting first when
        # the crash predates the demotion) before this probe runs.
        def finalized(rs: int) -> bool:
            base = file_name(rs, self._range_end(rs), self.opts.pad)
            part0 = base[: -len(".parquet")] + "-part0000.parquet"
            return any(self._fs.exists(url_join(table_dir, n))
                       for n in (base, part0))

        fresh = [rs for rs in ranges if not finalized(rs)]
        srcs = {rs: self._range_dirs(idx, live, rs) for rs in ranges}
        renames = {rs: srcs[rs][0] for rs in fresh if len(srcs[rs]) == 1
                   and srcs[rs][0].split("/")[-2] in marked}
        merges = [rs for rs in fresh if rs not in renames]
        template = None
        if renames:
            template = url_join(table_dir, _finalize(
                self.spark, self._fs, renames, table_dir, self.opts)[0])
        if merges:
            # mergeSchema: epochs may span an additive schema upgrade
            # (allowed by ensure_schema_compatible) — without it Spark reads
            # ONE file's footer and would silently drop the added column
            # from the finalized file before the sources are deleted
            template = (
                self.spark.read.option("basePath", live)
                .option("mergeSchema", "true")
                .parquet(*[d for rs in merges for d in srcs[rs]])
                .drop("epoch", "range_start")
            )
            write_ranges(template, table_dir, self.opts, backfill=False,
                         ranges=merges)
        for d in (d for ds in srcs.values() for d in ds):
            self._fs.delete(d, recursive=True)
        # Drop epochs emptied by finalize or the guard — decided from the
        # index, no re-listing. Such an epoch holds only markers (_SUCCESS,
        # _RANGE_FILES), which previously kept it "non-empty" and
        # accumulated one stray dir per micro-batch forever.
        rset = set(ranges)
        for e, rss in idx.items():
            if set(rss) <= rset:
                self._fs.delete(url_join(live, e), recursive=True)
        # Contiguity: empty files for gaps below the finalized horizon.
        # Readiness is monotone in range start, so no still-live range can
        # sit below a finalized one — anything missing there is a true gap.
        if fresh and max(fresh) > self.opts.start_block:
            backfill_empty(self.spark, template, table_dir, self.opts,
                           upto=max(fresh) - 1)

    # -- terminal drain -----------------------------------------------------

    def close(self) -> None:
        """Finalize every remaining live range (reference Close semantics,
        writer.go:275-277). Call ONLY after the query has terminated at its
        natural end (--stop-block reached, or availableNow drain complete):
        a mid-stream restart should instead leave live ranges in place for
        the resumed query to keep appending to."""
        self._finalize_ready(self.out_dir, force=True)
        for child_dir in self._child_dirs():
            self._finalize_ready(child_dir, force=True)

    # -- reorg --------------------------------------------------------------

    RETRACT_EPOCH = -2  # reserved live epoch for rows demoted out of
    # finalized files by a deep reorg (streaming epochs are >= 0; -1 is the
    # compaction epoch, maintenance.COMPACTED_EPOCH)

    def undo(self, last_valid_block: int) -> None:
        """Retract every block above the fork point — live AND finalized
        (HandleBlockUndoSignal, sinker.go:142-148 — which the reference turns
        into an error or no-op; SURVEY §7.2's partition-rewrite escape hatch).

        Live area: staged range dirs above the fork are deleted; the dir
        spanning the fork is rewritten filtered to ``<= last_valid_block``.

        Finalized area (a reorg deeper than ``undo_holdback``): range files
        entirely above the fork are deleted; the file(s) spanning the fork
        are DEMOTED — their still-valid rows move back into the live area
        under the reserved ``epoch=-2`` — so the re-fed stream completes the
        range and re-finalizes it through the normal holdback path. Applied
        to the main table and every exploded child, keeping them in lockstep.

        Crash safety: each retracted group is covered by a marker under
        ``_undo_markers/`` written before any mutation and removed after
        the group's files are deleted, so a crash at ANY point converges —
        on the next undo run, the next finalize pass, or a plain stream
        restart — via :meth:`_repair_undo_markers`, never a loss and never
        a stale pre-reorg file left serving (code review r12)."""
        for table_dir in [self.out_dir] + self._child_dirs():
            self._undo_finalized(table_dir, last_valid_block)
            self._undo_live(table_dir, last_valid_block)
        self._retract_rollup(last_valid_block)
        self._max_seen = min(self._max_seen, last_valid_block)

    def _retract_rollup(self, last_valid_block: int) -> None:
        """Keep ``_rollup/`` in lockstep with a reorg: buckets above the
        fork are dropped, the spanning bucket is rebuilt from the surviving
        rows (range-pruned lake + live read — kilobytes at any lake size),
        buckets below carry over untouched. No-op when no rollup exists.
        The spec is reloaded from the persisted ``_SPEC.json`` so offline
        ``undo_lake``/CLI runs (which have no RollupSpec in hand) retract
        correctly too."""
        from .rollup import load_rollup_spec, retract_rollup

        rollup_dir = url_join(self.out_dir, "_rollup")
        if not self._fs.exists(rollup_dir):
            return
        spec = self.rollup_spec or load_rollup_spec(self._fs, rollup_dir)
        if spec is None:
            return
        fork_bucket = last_valid_block - last_valid_block % spec.bucket_size
        pieces = []
        from ..sink.writer import read_lake

        try:
            pieces.append(
                read_lake(self.spark, self.out_dir, fork_bucket, last_valid_block)
            )
        except FileNotFoundError:
            pass
        live = url_join(self.out_dir, "_live")
        if self._fs.exists(live) and self._fs.listdir(live):
            pieces.append(
                self.spark.read.parquet(live).where(
                    (F.col("block_number") >= fork_bucket)
                    & (F.col("block_number") <= last_valid_block)
                )
            )
        rescan = None
        if pieces:
            rescan = pieces[0]
            for p in pieces[1:]:
                rescan = rescan.unionByName(p, allowMissingColumns=True)
        retract_rollup(
            self.spark, rollup_dir, spec, last_valid_block, rescan
        )

    def _undo_live(self, table_dir: str, last_valid_block: int) -> None:
        live = url_join(table_dir, "_live")
        # repair stranded rewrite staging from a crashed prior undo (code
        # review r11): the tmp dir is "_"-prefixed so every reader —
        # live_index's range_start= prefix filter AND Spark/Hadoop's
        # hidden-path rule — skips it, but a crash in the delete→rename
        # window leaves the kept rows ONLY there. src missing → the tmp
        # is a complete committed rewrite (the delete only runs after the
        # write returns): rename it into place and let this undo re-derive
        # from it; src present → the original survived, drop the tmp.
        if self._fs.exists(live):
            for e in self._fs.listdir(live):
                ep = url_join(live, e)
                for name in self._fs.listdir(ep):
                    if not name.startswith("_rewrite_range_start="):
                        continue
                    src = url_join(
                        ep, name[len("_rewrite_"):])
                    if self._fs.exists(src):
                        self._fs.delete(url_join(ep, name), recursive=True)
                    else:
                        self._fs.rename(url_join(ep, name), src)
        idx = self._live_index(live)
        for rs in self._live_ranges(idx):
            for src in self._range_dirs(idx, live, rs):
                if rs > last_valid_block:
                    self._fs.delete(src, recursive=True)
                    continue
                # Spanning test from the DATA, not opts.partition_size: an
                # offline undo_lake run with a defaulted/mismatched
                # partition size must not classify a dir as "entirely below
                # the fork" and silently retain above-fork rows. One tiny
                # footer-stat agg per live dir — undo is a rare, stopped-
                # stream operation.
                hi = (
                    self.spark.read.parquet(src)
                    .agg(F.max("block_number"))
                    .collect()[0][0]
                )
                if hi is None or hi <= last_valid_block:
                    continue
                kept = self.spark.read.parquet(src).filter(
                    F.col("block_number") <= last_valid_block
                )
                if not kept.take(1):
                    # an all-rolled-back dir must disappear, not become a
                    # zero-row staging dir finalize would trip over
                    self._fs.delete(src, recursive=True)
                    continue
                # "_"-prefixed sibling, NOT src + "_rewrite": a dir named
                # range_start=N_rewrite matches live_index's prefix filter
                # and int()-poisons every later listing if a crash strands
                # it — while an underscore prefix is invisible to both
                # live_index and Spark's hidden-path rule, and the repair
                # pre-pass above converges it on the next undo run
                parent, base = src.rsplit("/", 1)
                tmp = url_join(parent, "_rewrite_" + base)
                # one block-sorted file, like the append wrote: the epoch's
                # range-files marker must stay true for this dir
                writer = (
                    kept.coalesce(1).sortWithinPartitions("block_number")
                    .write.mode("overwrite")
                )
                for k, v in parquet_write_options(self.opts).items():
                    writer = writer.option(k, v)
                writer.parquet(tmp)
                self._fs.delete(src, recursive=True)
                self._fs.rename(tmp, src)

    def _demote_group(self, table_dir: str, paths: list[str],
                      last_valid_block: int) -> None:
        """Stage a spanning finalized group's surviving rows back into the
        live area under ``epoch=-2``, split onto NATIVE partition_size
        ranges — a tiered file (tier_finalized) spans several native
        ranges, and staging them all under the file's own start would
        re-finalize into a misnamed file that breaks name-keyed pruning.
        Idempotent (per-range overwrite) — the marker repair re-runs it."""
        kept = self.spark.read.parquet(*paths).filter(
            F.col("block_number") <= last_valid_block
        ).persist()
        try:
            starts = [
                r[0]
                for r in kept.select(
                    range_start_col(
                        "block_number", self.opts.start_block,
                        self.opts.partition_size,
                    ).alias("rs")
                ).distinct().collect()
            ]
            for s in sorted(starts):
                dst = url_join(
                    table_dir, "_live",
                    f"epoch={self.RETRACT_EPOCH}", f"range_start={s}",
                )
                part = kept.filter(
                    (F.col("block_number") >= s)
                    & (F.col("block_number") < s + self.opts.partition_size)
                )
                writer = part.write.mode("overwrite")
                for k, v in parquet_write_options(self.opts).items():
                    writer = writer.option(k, v)
                writer.parquet(dst)
        finally:
            kept.unpersist()

    def _undo_finalized(self, table_dir: str, last_valid_block: int) -> None:
        # converge any previously-crashed finalize/undo first: a stranded
        # _staging's partially-renamed final parts would otherwise be read
        # as demotable groups (duplicating rows the intact live dirs still
        # hold), and a stranded marker's group must finish its crashed
        # demotion before new groups are computed (code review r12)
        self._repair_stranded_finalize(table_dir)
        self._repair_undo_markers(table_dir)
        groups: dict[tuple[int, int], list[str]] = {}
        for name in self._fs.listdir(table_dir):
            parsed = _split_range_name(name)
            if parsed is not None:
                groups.setdefault((parsed[0], parsed[1]), []).append(name)
        # the _undo_live rule applied to the finalized path (code review
        # r11): an offline undo_lake run with a defaulted/mismatched
        # --partition-size would demote a spanning file's rows onto the
        # WRONG native grid, and the restarted stream re-finalizes them
        # into misnamed overlapping files. Every finalized range start
        # must sit on the opts grid — tiered files start on native
        # boundaries, so this holds for them too. (Residual: a grid whose
        # native size divides the mistaken one passes; always pass the
        # lake's real --partition-size to offline undo.)
        off_grid = sorted(
            rs for rs, _re in groups
            if (rs - self.opts.start_block) % self.opts.partition_size
        )
        if off_grid and any(
            rs <= last_valid_block < re_ - 1 for rs, re_ in groups
        ):
            raise ValueError(
                f"undo: finalized range starts {off_grid[:5]} are not on "
                f"the (start_block={self.opts.start_block}, "
                f"partition_size={self.opts.partition_size}) grid — the "
                "spanning-file demotion would stage rows under wrong "
                "native ranges. Pass the lake's actual --partition-size "
                "/ --start-block to the undo command"
            )
        import json

        markers_dir = self._undo_marker_dir(table_dir)
        for (rs, re_), names in sorted(groups.items()):
            if re_ - 1 <= last_valid_block:
                continue  # fully below the fork — untouched
            paths = [url_join(table_dir, n) for n in names]
            # per-group marker BEFORE any mutation (code review r12): a
            # crash anywhere between here and the marker delete leaves a
            # record that _repair_undo_markers can complete — re-demote
            # from the still-intact files, or finish the deletes. Written
            # after the grid validation above so a repair re-demotion
            # never stages onto an unvalidated grid.
            # tmp + rename (ADVICE r12): the marker is a commit record the
            # repair json.loads()es at the start of every later pass — a
            # crash mid-write_bytes must leave an ignorable dot-tmp, never
            # a torn committed marker that wedges the stream.
            marker = url_join(markers_dir, f"{rs}-{re_}.json")
            tmp_marker = url_join(markers_dir, f".{rs}-{re_}.json.tmp")
            self._fs.write_bytes(
                tmp_marker,
                json.dumps(
                    {"fork": last_valid_block, "files": sorted(names)}
                ).encode("utf-8"),
            )
            self._fs.rename(tmp_marker, marker)
            if rs <= last_valid_block:
                self._demote_group(table_dir, paths, last_valid_block)
            for p in paths:
                self._fs.delete(p, recursive=False)
            self._fs.delete(marker, recursive=False)
        if self._fs.exists(markers_dir) and not self._fs.listdir(markers_dir):
            self._fs.delete(markers_dir, recursive=True)


def lake_table_dirs(fs: HadoopFS, out_dir: str) -> list[str]:
    """Main table dir + every exploded-child table dir under a sink lake,
    discovered from the layout (child tables are the non-hidden
    subdirectories; everything else in the root is range files). Range-file
    names are screened BEFORE the per-entry is_dir probe so the FS call
    count scales with the handful of child tables, not the lake's files."""
    children = []
    for name in fs.listdir(out_dir):
        if name.startswith(("_", ".")) or _split_range_name(name) is not None:
            continue
        p = url_join(out_dir, name)
        if fs.is_dir(p):
            children.append(p)
    return [out_dir] + sorted(children)


def undo_lake(
    spark: SparkSession,
    out_dir: str,
    last_valid_block: int,
    opts: WriterOptions | None = None,
) -> None:
    """Offline deep-reorg retraction over a whole sink lake (CLI escape
    hatch). Discovers exploded child tables from the directory layout —
    no descriptor needed — and applies the same live+finalized retraction
    :meth:`StreamingSink.undo` performs, to every table. Run it against a
    STOPPED query; the restarted stream re-feeds from the fork point."""
    sink = StreamingSink(
        spark=spark, spec=None, out_dir=out_dir, opts=opts or WriterOptions()
    )
    for table_dir in lake_table_dirs(sink._fs, out_dir):
        sink._undo_finalized(table_dir, last_valid_block)
        sink._undo_live(table_dir, last_valid_block)
    # keep _rollup/ in lockstep too (code review r11): _retract_rollup
    # reloads the persisted _SPEC.json precisely so this offline path can
    # retract without a RollupSpec in hand — skipping it left the rollup
    # serving bucket totals that still included the retracted blocks, and
    # the restarted stream's re-fed partials then double-counted them
    sink._retract_rollup(last_valid_block)


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    spec: pw.MessageSpec,
    checkpoint_dir: str,
    opts: WriterOptions | None = None,
    schema_opts: SchemaOptions | None = None,
    undo_holdback: int = 0,
    explode: bool = False,
    available_now: bool = True,
    flush_interval: str = "1 second",
    exploded_write_workers: int = 0,
    max_files_per_trigger: int = 8,
    rollup_spec=None,
    profile_columns: list[str] | None = None,
):
    """readStream over staged raw-block parquet → StreamingSink.

    ``available_now=True`` drains the staging dir then stops (batch-like,
    used by tests); otherwise a continuous micro-batch trigger with the
    reference's default 1 s flush cadence (run.go:50).
    ``max_files_per_trigger`` is the backpressure knob (the Spark-native
    analogue of the reference's processing-buffer caps, run.go:59-61): it
    bounds how much staged input one micro-batch admits, so a sink
    restarted against a deep backlog catches up in bounded-memory steps
    instead of one giant batch."""
    sink = StreamingSink(
        spark=spark,
        spec=spec,
        out_dir=out_dir,
        opts=opts or WriterOptions(),
        schema_opts=schema_opts or SchemaOptions(),
        undo_holdback=undo_holdback,
        explode=explode,
        exploded_write_workers=exploded_write_workers,
        rollup_spec=rollup_spec,
        stream_id=checkpoint_dir,
        profile_columns=profile_columns,
    )
    sink._fs.mkdirs(out_dir)
    # Repair any _compact_* leftover from a compaction run that crashed
    # mid-swap BEFORE streaming resumes: the live index only matches
    # epoch=* entries, so a committed-but-unswapped compaction dir would
    # otherwise be invisible — its range drops out of the index and the
    # contiguity backfill would paper over it with an EMPTY range file
    # while the real rows sit stranded.
    # Same hazard for _tier_* leftovers (tier_finalized crashing after its
    # commit deleted the source range files but before the rename): the
    # sources are gone, so span-aware backfill would fabricate EMPTY files
    # over their blocks while the merged rows sit stranded in the tmp dir.
    from ..sink.maintenance import recover_compact_leftovers, recover_tier_leftovers

    for table_dir in [out_dir] + sink._child_dirs():
        recover_compact_leftovers(sink._fs, table_dir)
        recover_tier_leftovers(sink._fs, table_dir)
    from ..sources.staging import raw_stream

    stream = raw_stream(spark, input_dir, max_files_per_trigger=max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink.process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=flush_interval)
    query = writer.start()
    return query, sink
