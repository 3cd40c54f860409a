"""Lake maintenance: compaction of the streaming sink's live area.

Each micro-batch stages its rows under ``_live/epoch={id}/range_start=N/``
(epoch-keyed so at-least-once batch replays overwrite instead of duplicate,
stream_sink.py `_append_live`); a long-running sink with a large
undo-holdback accumulates one epoch directory per micro-batch per range
before finalization compacts them. Small files are the classic lake
pathology — footer-per-file overhead, listing cost, tiny row groups — so
compaction is a first-class maintenance op, not an afterthought.

``compact_live`` merges every live range's epoch directories into a single
block-sorted staging dir under the reserved ``epoch=-1``. Run it ONLY
against a terminated query whose checkpoint is committed: a replayable
(uncommitted) trailing epoch merged into ``epoch=-1`` would duplicate its
rows when the replay re-creates the epoch directory. That is the same
single-writer discipline the reference assumes for its .partial files
(writer.go:80-85).

Crash safety: the multi-directory swap (delete N source epoch dirs, rename
the compacted dir into place) cannot be atomic on a plain FS, so each range
compaction is a fold through :mod:`..foldswap`: the compacted data is
written to ``_compact_{rs}``, a ``_MERGED.json`` manifest naming exactly the
source dirs arms the commit, and ``commit_fold`` deletes those sources and
renames the tmp dir to ``epoch=-1/range_start={rs}``. ``recover_fold``
re-runs an armed commit and drops an unarmed (or torn-manifest) tmp, whose
sources are intact — ``compact_live`` and the streaming sink's start-up
recovery both run it first. No crash point loses rows.

All file metadata operations go through the Hadoop FS layer (fsio), so the
table dir may live on any supported object store.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from ..foldswap import FOLDED_EPOCH, commit_fold, recover_fold, write_fold_manifest
from ..foldswap import MANIFEST as _MANIFEST  # noqa: F401 (the commit record's name)
from ..fsio import HadoopFS, live_index as _shared_live_index, live_range_dirs, url_join
from ..partition import file_name
from .writer import _read_range_dirs

COMPACTED_EPOCH = -1


def _epoch_dirs(fs: HadoopFS, live: str) -> list[str]:
    return [d for d in fs.listdir(live) if d.startswith("epoch=")]


def _live_index(fs: HadoopFS, live: str) -> dict[str, list[int]]:
    return _shared_live_index(fs, live)  # shared sweep (fsio.live_index)


def _range_dirs(fs: HadoopFS, live: str, rs: int,
                idx: dict[str, list[int]] | None = None) -> list[str]:
    if idx is None:
        idx = _live_index(fs, live)
    return live_range_dirs(idx, live, rs)


def live_file_counts(fs: HadoopFS, table_dir: str) -> dict[int, int]:
    """{range_start: parquet file count across all epochs} for the live area
    (a ``write_tasks`` range dir holds one file per ``__sub=K`` dir)."""
    live = url_join(table_dir, "_live")
    out: dict[int, int] = {}
    for e, rss in _live_index(fs, live).items():
        for rs in rss:
            n = sum(
                1 for f in fs.listdir(url_join(live, e, f"range_start={rs}"))
                if f.startswith("__sub=")
                or (f.endswith(".parquet") and not f.startswith(("_", ".")))
            )
            out[rs] = out.get(rs, 0) + n
    return out


def _compacted(rs: int) -> str:
    return f"{FOLDED_EPOCH}/range_start={rs}"


def _drop_empty_epochs(fs: HadoopFS, live: str) -> None:
    for e in _epoch_dirs(fs, live):  # epochs a fold's deletes emptied
        if not fs.listdir(url_join(live, e)):
            fs.delete(url_join(live, e), recursive=True)


def recover_compact_leftovers(fs: HadoopFS, table_dir: str) -> dict[str, str]:
    """Repair ``_compact_*`` leftovers from a crashed compact_live run.

    Returns {tmp_dir_name: action}: ``recover_fold`` re-runs the commit of
    a leftover whose manifest armed it ("committed" — the rows may exist
    only there if the crash hit mid-swap) and drops one that never armed
    ("dropped_uncommitted" — its sources are intact)."""
    live = url_join(table_dir, "_live")
    actions: dict[str, str] = {}
    for d in fs.listdir(live):
        if not d.startswith("_compact_"):
            continue
        fs.mkdirs(url_join(live, FOLDED_EPOCH))
        done = recover_fold(fs, live, d, _compacted(int(d[len("_compact_"):])))
        actions[d] = "committed" if done == "committed" else "dropped_uncommitted"
    if actions:
        _drop_empty_epochs(fs, live)
    return actions


def compact_live(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    min_files: int = 2,
    compression: str = "zstd",
) -> dict[int, tuple[int, int]]:
    """Compact every live range with >= min_files files (across epochs).

    Returns {range_start: (files_before, files_after)}. Rows are preserved
    exactly; files come out block-sorted so later finalization keeps the
    per-file ordering invariant. Crash-safe via the fold-and-swap protocol
    (module docstring); any leftovers from a previous crashed run are
    recovered first."""
    fs = HadoopFS(spark, table_dir)
    live = url_join(table_dir, "_live")
    recover_compact_leftovers(fs, table_dir)
    idx = _live_index(fs, live)
    done: dict[int, tuple[int, int]] = {}
    for rs, n in sorted(live_file_counts(fs, table_dir).items()):
        if n < min_files:
            continue
        srcs = _range_dirs(fs, live, rs, idx)
        df = _read_range_dirs(spark, srcs)
        tmp = f"_compact_{rs}"
        (
            df.repartition(target_files)
            .sortWithinPartitions("block_number")
            .write.mode("overwrite")
            .option("compression", compression)
            .parquet(url_join(live, tmp))
        )
        # point of no return: from here the fold's commit owns the swap
        # and can be replayed from any crash point
        rel = [s[len(live) + 1:] for s in srcs]
        write_fold_manifest(fs, url_join(live, tmp), rel)
        fs.mkdirs(url_join(live, FOLDED_EPOCH))
        commit_fold(fs, live, tmp, rel, _compacted(rs))
        _drop_empty_epochs(fs, live)
        dst = url_join(live, _compacted(rs))
        done[rs] = (n, sum(
            1 for f in fs.listdir(dst)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ))
    return done


# -- Finalized-area tiering ------------------------------------------------

_TIER_MANIFEST = "_TIERED.json"


def recover_tier_leftovers(fs: HadoopFS, out_dir: str) -> dict[str, str]:
    """Repair ``_tier_*`` leftovers from a crashed tier_finalized run —
    same write-ahead-commit contract as the live-area compactor: a tmp dir
    WITH a manifest finished its write and its commit is replayed; one
    without never committed and is dropped (sources intact)."""
    actions: dict[str, str] = {}
    for d in fs.listdir(out_dir):
        if not d.startswith("_tier_"):
            continue
        tmp = url_join(out_dir, d)
        manifest = url_join(tmp, _TIER_MANIFEST)
        if fs.exists(manifest):
            m = json.loads(fs.read_bytes(manifest))
            _commit_tier(fs, out_dir, tmp, m)
            actions[d] = "committed"
        else:
            fs.delete(tmp, recursive=True)
            actions[d] = "dropped_uncommitted"
    return actions


def _commit_tier(fs: HadoopFS, out_dir: str, tmp: str, m: dict) -> None:
    """Idempotent commit: delete the source range files, move the merged
    part file(s) into their padded tier name(s), drop the tmp dir.
    Replayable from any crash point (deletes are no-ops; each rename is
    guarded by a per-target mapping pinned in the manifest).

    The manifest's ``parts`` maps each staged part file to its final
    name (code review r12): repartition(1) promises one part, but a
    session-level ``spark.sql.files.maxRecordsPerFile`` splits a task's
    output into several — the old single-part commit renamed the FIRST
    and deleted the rest with the tmp dir, silent row loss. With the
    mapping, every part lands under a deterministic ``-partNNNN`` name
    (block order == name order: one task wrote them in sequence), and a
    replay renames only what is still staged. Pre-r12 manifests (no
    ``parts``) fall back to the single-part path."""
    for s in m["sources"]:
        fs.delete(url_join(out_dir, s), recursive=False)
    if "parts" in m:
        for part, name in m["parts"]:
            src = url_join(tmp, part)
            if fs.exists(src):
                fs.rename(src, url_join(out_dir, name))
    else:
        dst = url_join(out_dir, m["name"])
        if not fs.exists(dst):
            part = next(
                (n for n in fs.listdir(tmp)
                 if n.endswith(".parquet") and not n.startswith(("_", "."))),
                None,
            )
            if part is None:  # crashed after a previous replay moved it
                raise FileNotFoundError(
                    f"tier commit for {m['name']}: no part file in {tmp}"
                )
            fs.rename(url_join(tmp, part), dst)
    fs.delete(tmp, recursive=True)


def tier_finalized(
    spark: SparkSession,
    out_dir: str,
    tier_blocks: int,
    pad: int = 10,
    compression: str = "zstd",
    opts=None,
) -> dict[str, tuple[int, int]]:
    """Re-chunk aged finalized range files into ``tier_blocks``-sized files.

    The sink writes ``partition_size``-block files (reference default 5000)
    because that is the right granularity for a LIVE frontier: small
    finalize units, fine-grained undo. It is the wrong granularity for a
    100 TB archive — 10x the files means 10x the footers, listings and
    scheduler splits forever. Tiering merges each complete, grid-aligned
    group of consecutive range files into one ``{T}-{T+tier_blocks}``
    file. The name contract is unchanged (names ARE the partition index),
    so ``read_lake`` pruning, ``lake_coverage`` contiguity and deep-reorg
    undo all keep working on tiered lakes; ``backfill_empty`` is
    span-aware (writer.covered_spans) so a resumed sink never backfills
    inside a tiered span.

    Only COMPLETE tiers merge: a group qualifies iff its files' spans
    concatenate exactly to [T, T+tier_blocks) — the frontier tail and any
    incomplete region are untouched, so tiering is safe to run behind an
    active sink's finalize horizon (single-writer discipline: do not tier
    the same directory from two jobs at once). Rows are block-sorted per
    output file, preserving the per-file ordering invariant. Crash-safe:
    write to ``_tier_{T}`` + manifest, then delete-sources/rename —
    leftovers from a crash are recovered first, from either side of the
    commit point.

    Pass ``opts`` (WriterOptions) to write tiered files with the lake's
    full parquet tuning (bloom filters, zstd level, row-group sizing) —
    tiered files are final and are never rewritten by a later finalize.

    Returns {new_file_name: (files_merged, rows)}.
    """
    from .writer import _split_range_name

    fs = HadoopFS(spark, out_dir)
    recover_tier_leftovers(fs, out_dir)
    files: list[tuple[int, int, str]] = []
    for n in fs.listdir(out_dir):
        parsed = _split_range_name(n)
        if parsed is not None:
            files.append((parsed[0], parsed[1], n))
    if not files:
        return {}
    files.sort()
    anchor = files[0][0]
    groups: dict[int, list[tuple[int, int, str]]] = {}
    for rs, re_, n in files:
        t = anchor + ((rs - anchor) // tier_blocks) * tier_blocks
        if re_ <= t + tier_blocks:  # straddlers (already-tiered bigger files) stay
            groups.setdefault(t, []).append((rs, re_, n))
    done: dict[str, tuple[int, int]] = {}
    for t, members in sorted(groups.items()):
        if len(members) < 2:
            continue  # already one file (tiered or single oversize range)
        # complete tier: member spans concatenate exactly to [t, t+tier)
        pos, ok = t, True
        for rs, re_, _n in members:  # -part siblings share a span
            if rs == pos:
                pos = max(pos, re_)
            elif not (rs < pos and re_ <= pos):
                ok = False
                break
        if not ok or pos != t + tier_blocks:
            continue
        srcs = [url_join(out_dir, n) for _rs, _re, n in members]
        df = spark.read.option("mergeSchema", "true").parquet(*srcs)
        tmp = url_join(out_dir, f"_tier_{t}")
        writer = (
            df.repartition(1)
            .sortWithinPartitions("block_number")
            .write.mode("overwrite")
        )
        if opts is not None:
            # tiered files are FINAL — unlike compact_live output (which a
            # later finalize rewrites with full options), so the caller's
            # WriterOptions (bloom filters, zstd level, row-group/page/dict/
            # stats tuning) must be applied here or lost from the archive
            from .writer import parquet_write_options

            for k, v in parquet_write_options(opts).items():
                writer = writer.option(k, v)
        else:
            writer = writer.option("compression", compression)
        writer.parquet(tmp)
        name = file_name(t, t + tier_blocks, pad)
        # pin the staged-part -> final-name mapping BEFORE the commit
        # phase: one part gets the plain tier name; a maxRecordsPerFile
        # split (one task, so name order == block order) gets contiguous
        # -partNNNN names the lake's readers already understand
        staged = sorted(
            n for n in fs.listdir(tmp)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        if len(staged) == 1:
            parts = [[staged[0], name]]
        else:
            base = name[: -len(".parquet")]
            parts = [
                [p, f"{base}-part{i:04d}.parquet"]
                for i, p in enumerate(staged)
            ]
        manifest = {
            "name": name,
            "sources": [n for _rs, _re, n in members],
            "parts": parts,
        }
        fs.write_bytes(
            url_join(tmp, _TIER_MANIFEST), json.dumps(manifest).encode()
        )
        n_rows = spark.read.parquet(tmp).count()
        _commit_tier(fs, out_dir, tmp, manifest)
        done[name] = (len(members), n_rows)
    return done
