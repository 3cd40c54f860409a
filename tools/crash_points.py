"""Crash-point enumeration for the block sink.

Runs one small scenario through ``StreamingSink``: partition size 4,
holdback 2, explode on, three batches across range boundaries, an undo
inside a finalized range (demotion to ``epoch=-2``), a re-feed, an undo
inside a live range (rewrite), a re-feed, then ``close``. A first run
records, in order, every ``HadoopFS`` mutation (``mkdirs``, ``delete``,
``rename``, ``write_bytes``) and every ``DataFrameWriter.parquet`` call.
Then, for each mutation index k, the scenario reruns in a fresh lake with
a raise at k. A fresh sink (a restarted process) replays the crashed batch
under the same epoch id, re-issues the crashed undo or re-runs ``close``,
and the scenario finishes. After ``close`` these invariants are checked:

- ``lake_coverage`` contiguity, main and child table;
- every block exactly once in both tables;
- no pre-reorg row (each re-feed carries a new payload version);
- ``_live``, ``_staging``, ``_staging_resplit`` and ``_undo_markers``
  hold no file.

The FS fan-outs (``rename_all``, ``write_bytes_all``) run sequentially
here, and the per-table appends run one at a time
(``exploded_write_workers=1``), so that mutation k names the same call in
every run.

``--write-tasks N`` sets the scenario's ``WriterOptions.write_tasks``, so
that a range written by a batch alone splits into ``__sub=K`` block
sub-ranges and finalizes as ``-partNNNN`` siblings.

Usage::

    python tools/crash_points.py [--ks 0,7,12] [--write-tasks N] [--json OUT.json]

Prints one line per k and exits non-zero if any k breaks an invariant.
One run takes seconds; the full sweep takes minutes, which is why this is
a tool and not a tier-1 test.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import replace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import DataFrameWriter

from substreams_sink_parquet_spark import protowire as pw
from substreams_sink_parquet_spark.fsio import HadoopFS
from substreams_sink_parquet_spark.sink.writer import (
    WriterOptions,
    _split_range_name,
    lake_coverage,
)
from substreams_sink_parquet_spark.streaming.stream_sink import StreamingSink

TRANSFER = pw.MessageSpec("crash.Transfer", (
    pw.FieldSpec("from_addr", 1, pw.K_STRING),
    pw.FieldSpec("amount", 2, pw.K_UINT64),
))
BLOCK = pw.MessageSpec("crash.Block", (
    pw.FieldSpec("s", 1, pw.K_STRING),
    pw.FieldSpec("transfers", 2, pw.K_MESSAGE, repeated=True, message=TRANSFER),
))
OPTS = WriterOptions(partition_size=4, start_block=0)
HOLDBACK = 2

# (kind, args): batches carry (epoch id, blocks, payload version)
STEPS = [
    ("batch", (0, range(0, 6), 0)),    # finalizes [0,4) by rename
    ("batch", (1, range(6, 11), 0)),   # [4,8): epoch 1 absorbs epoch 0's rows
    ("batch", (2, range(11, 15), 0)),  # [8,12): epoch 2 absorbs epoch 1's
    ("undo", 5),                       # inside finalized [4,8): demote 4, 5
    ("batch", (3, range(6, 14), 1)),   # re-feed: [4,8) absorbs epoch=-2
    ("undo", 12),                      # inside live [12,16): rewrite
    ("batch", (4, range(13, 18), 2)),  # re-feed: [12,16) absorbs epoch 3's
    ("close", None),                   # [16,20) renamed
]


def expected_versions() -> dict[int, int]:
    """Block -> payload version the lake must serve after the scenario."""
    want: dict[int, int] = {}
    for kind, arg in STEPS:
        if kind == "batch":
            for bn in arg[1]:
                want[bn] = arg[2]
        elif kind == "undo":
            want = {bn: v for bn, v in want.items() if bn <= arg}
    return want


def raw_frames(spark) -> dict[int, object]:
    frames = {}
    for kind, arg in STEPS:
        if kind != "batch":
            continue
        epoch, blocks, ver = arg
        rows = [
            (bn, f"0x{bn:x}-v{ver}", bytearray(pw.encode_message({
                "s": f"blk-{bn}-v{ver}",
                "transfers": [{"from_addr": f"a{bn}-v{ver}", "amount": bn}],
            }, BLOCK)))
            for bn in blocks
        ]
        frames[epoch] = spark.createDataFrame(
            rows, "block_number bigint, block_id string, payload binary"
        ).cache()
        frames[epoch].count()
    return frames


class Crash(Exception):
    """The injected failure at mutation k."""


class Recorder:
    def __init__(self, root: str, crash_at: int | None = None):
        self.root = root
        self.crash_at = crash_at
        self.log: list[tuple[str, str]] = []

    def tick(self, kind: str, path) -> None:
        rel = str(path).split(self.root, 1)[-1].lstrip("/")
        if self.crash_at is not None and len(self.log) == self.crash_at:
            self.crash_at = None
            raise Crash(f"{kind} {rel}")
        self.log.append((kind, rel))


@contextmanager
def recording(rec: Recorder):
    saved = []

    def hook(owner, name):
        orig = getattr(owner, name)
        saved.append((owner, name, orig))

        def call(self, path, *args, **kwargs):
            rec.tick(name, path)
            return orig(self, path, *args, **kwargs)

        setattr(owner, name, call)

    for name in ("mkdirs", "delete", "rename", "write_bytes"):
        hook(HadoopFS, name)
    hook(DataFrameWriter, "parquet")

    def rename_all(self, moves):
        for src, dst in moves:
            self.rename(src, dst)

    def write_bytes_all(self, targets, payload):
        for t in targets:
            self.write_bytes(t, payload)

    for name, fn in (("rename_all", rename_all),
                     ("write_bytes_all", write_bytes_all)):
        saved.append((HadoopFS, name, getattr(HadoopFS, name)))
        setattr(HadoopFS, name, fn)
    try:
        yield
    finally:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)


def new_sink(spark, out_dir: str, opts: WriterOptions) -> StreamingSink:
    return StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir, opts=opts,
                         undo_holdback=HOLDBACK, explode=True,
                         exploded_write_workers=1)


def apply(sink: StreamingSink, step, frames) -> None:
    kind, arg = step
    if kind == "batch":
        sink.process_batch(frames[arg[0]], epoch_id=arg[0])
    elif kind == "undo":
        sink.undo(arg)
    else:
        sink.close()


def run_scenario(spark, out_dir: str, frames, opts: WriterOptions = OPTS,
                 crash_at: int | None = None):
    """Returns (mutation log, crashed step index and call, or None)."""
    os.makedirs(out_dir)
    rec = Recorder(out_dir, crash_at)
    crashed = None
    with recording(rec):
        sink = new_sink(spark, out_dir, opts)
        for i, step in enumerate(STEPS):
            try:
                apply(sink, step, frames)
            except Crash as e:
                crashed = (i, str(e))
                sink = new_sink(spark, out_dir, opts)  # the restarted process
                apply(sink, step, frames)
    return rec.log, crashed


def check(spark, out_dir: str, want: dict[int, int]) -> list[str]:
    """Every broken invariant, as one line each; [] when the lake is sound."""
    problems = []
    fs = HadoopFS(spark, out_dir)
    for table, col in ((out_dir, "s"),
                       (os.path.join(out_dir, "transfers"), "from_addr")):
        name = os.path.basename(table) if table != out_dir else "main"
        cov = lake_coverage(fs, table)
        if not cov["contiguous"]:
            problems.append(f"{name}: gaps {cov['gaps']} overlaps {cov['overlaps']}")
        rows = []
        for f in sorted(os.listdir(table)):
            if _split_range_name(f) is not None:
                t = pq.read_table(os.path.join(table, f),
                                  columns=["block_number", col])
                rows += zip(t.column("block_number").to_pylist(),
                            t.column(col).to_pylist())
        counts = Counter(bn for bn, _ in rows)
        dup = sorted(bn for bn, n in counts.items() if n > 1)
        missing = sorted(set(want) - set(counts))
        extra = sorted(set(counts) - set(want))
        stale = sorted({bn for bn, v in rows
                        if bn in want and not v.endswith(f"-v{want[bn]}")})
        for label, bad in (("duplicated", dup), ("missing", missing),
                           ("unexpected", extra), ("pre-reorg", stale)):
            if bad:
                problems.append(f"{name}: {label} blocks {bad}")
        for d in ("_live", "_staging", "_staging_resplit", "_undo_markers"):
            left = [os.path.relpath(os.path.join(root, f), table)
                    for root, _, files in os.walk(os.path.join(table, d))
                    for f in files]
            if left:
                problems.append(f"{name}: {d} not empty: {left[:4]}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ks", help="comma-separated crash indices (default: all)")
    ap.add_argument("--write-tasks", type=int, default=None,
                    help="WriterOptions.write_tasks for the scenario")
    ap.add_argument("--json", help="write per-k outcomes here")
    args = ap.parse_args()
    opts = replace(OPTS, write_tasks=args.write_tasks)

    from substreams_sink_parquet_spark.session import get_spark

    spark = get_spark("crash_points", master="local[2]",
                      extra_conf={"spark.sql.shuffle.partitions": "2",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    frames = raw_frames(spark)
    want = expected_versions()  # blocks 0..17
    work = tempfile.mkdtemp(prefix="crash_points_")
    try:
        t0 = time.time()
        log, _ = run_scenario(spark, os.path.join(work, "clean"), frames, opts)
        clean = check(spark, os.path.join(work, "clean"), want)
        clean_s = time.time() - t0
        kinds = Counter(kind for kind, _ in log)
        print(f"clean run: {len(log)} mutation points {dict(kinds)}, "
              f"{clean_s:.1f} s, {'ok' if not clean else clean}", flush=True)
        ks = ([int(k) for k in args.ks.split(",")] if args.ks
              else list(range(len(log))))
        outcomes = []
        for k in ks:
            out_dir = os.path.join(work, f"k{k}")
            t0 = time.time()
            try:
                _, crashed = run_scenario(spark, out_dir, frames, opts,
                                          crash_at=k)
                problems = check(spark, out_dir, want)
            except Exception as e:  # the replay itself failed
                crashed, problems = None, [f"replay raised {type(e).__name__}: "
                                           f"{str(e).splitlines()[0][:200]}"]
            step = STEPS[crashed[0]][0] if crashed else "-"
            outcomes.append({
                "k": k, "call": f"{log[k][0]} {log[k][1]}" if k < len(log) else None,
                "step": step, "ok": not problems, "problems": problems,
                "seconds": round(time.time() - t0, 1),
            })
            o = outcomes[-1]
            print(f"k={k:3d} {o['step']:5s} {o['call']}: "
                  f"{'ok' if o['ok'] else '; '.join(problems)} ({o['seconds']} s)",
                  flush=True)
            shutil.rmtree(out_dir, ignore_errors=True)
        failed = [o["k"] for o in outcomes if not o["ok"]]
        summary = {"mutation_points": len(log), "kinds": dict(kinds),
                   "clean_ok": not clean, "clean_s": round(clean_s, 1),
                   "checked": len(outcomes), "failed": failed,
                   "outcomes": outcomes}
        print(json.dumps({k: v for k, v in summary.items() if k != "outcomes"}))
        if args.json:
            with open(args.json, "w") as f:
                json.dump(summary, f, indent=1)
        return 1 if failed or clean else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
