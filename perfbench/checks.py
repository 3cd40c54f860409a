"""Correctness checks against the generator's known values.

The lake is read back with pyarrow, not through the package, so a fault
in the package's read path cannot hide a fault in its write path. Each
check returns a list of problems; an empty list means the check passed.
"""

from __future__ import annotations

import os
import re
from decimal import Decimal

import pyarrow.compute as pc
import pyarrow.parquet as pq

RANGE_FILE = re.compile(r"^(\d+)-(\d+)(?:-part\d+)?\.parquet$")


def range_files(table_dir: str) -> list[tuple[int, int, str]]:
    """(range start, range end, path) of every final range file."""
    out = []
    for name in os.listdir(table_dir):
        m = RANGE_FILE.match(name)
        if m:
            out.append((int(m.group(1)), int(m.group(2)), os.path.join(table_dir, name)))
    return sorted(out)


def lake_rows(table_dir: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for _, _, p in range_files(table_dir))


def check_rows(table_dir: str, expected: int, what: str) -> list[str]:
    got = lake_rows(table_dir)
    return [] if got == expected else [f"{what}: {got} rows in lake, generator made {expected}"]


def plain(v):
    """``v`` with Decimals (Spark's uint64) turned into ints, recursively."""
    if isinstance(v, Decimal):
        return int(v)
    if isinstance(v, list):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    return v


def _read_block(table_dir: str, bn: int) -> list[dict]:
    for rs, re_, path in range_files(table_dir):
        if rs <= bn < re_:
            t = pq.read_table(path)
            return t.filter(pc.equal(t["block_number"], bn)).to_pylist()
    return []


def _transfer_key(t: dict):
    return (t["from_addr"], t["to_addr"], t["amount"], t["token"])


def check_block_rows(lake_dir: str, gen, blocks, child: str | None = "transfers") -> list[str]:
    """Sampled rows of the main table (and the exploded child table when
    ``child`` is set) equal the generator's payload for those blocks."""
    problems = []
    for bn in blocks:
        want = gen.payload(bn)
        rows = _read_block(lake_dir, bn)
        if len(rows) != 1:
            problems.append(f"block {bn}: {len(rows)} main rows")
            continue
        got = plain(rows[0])
        if got.get("block_id") != gen.block_id(bn):
            problems.append(f"block {bn}: block_id {got.get('block_id')!r}")
        for k, v in want.items():
            g = got.get(k)
            if k == "transfers":
                g = sorted(map(_transfer_key, g or []))
                v = sorted(map(_transfer_key, v))
            if g != v:
                problems.append(f"block {bn}: {k} = {g!r}, generated {v!r}")
        if child is not None:
            kids = [plain(r) for r in _read_block(os.path.join(lake_dir, child), bn)]
            if sorted(map(_transfer_key, kids)) != sorted(map(_transfer_key, want["transfers"])):
                problems.append(f"block {bn}: {len(kids)} {child} rows differ from generated")
    return problems


def tree_bytes(directory: str) -> int:
    """Bytes of every parquet file under ``directory``."""
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(directory)
               for f in files if f.endswith(".parquet"))


def _parquet_files(directory: str) -> list[str]:
    return sorted(os.path.join(root, f)
                  for root, _dirs, files in os.walk(directory)
                  for f in files if f.endswith(".parquet"))


def check_corpus(out_dir: str, published) -> tuple[list[str], dict]:
    """The admitted corpus under ``out_dir`` holds exactly the originals
    among the ``published`` documents (``gen.Doc``), each once and with its
    text. Also returns the admitted and rejected counts, the rejected split
    by whether an admitted document has the same text (exact) or not
    (near), the share of rejections that hit planted duplicates, and the
    rows of the exact and near-duplicate indexes."""
    admitted: dict[int, str] = {}
    problems = []
    for path in _parquet_files(os.path.join(out_dir, "docs")):
        for row in pq.read_table(path, columns=["doc_id", "text"]).to_pylist():
            if row["doc_id"] in admitted:
                problems.append(f"doc {row['doc_id']} admitted twice")
            admitted[row["doc_id"]] = row["text"]
    want = {d.doc_id: d.text for d in published if d.source_id is None}
    missing = sorted(set(want) - set(admitted))
    extra = sorted(set(admitted) - set(want))
    if missing:
        problems.append(f"{len(missing)} original docs not admitted, first {missing[:5]}")
    if extra:
        problems.append(f"{len(extra)} duplicate docs admitted, first {extra[:5]}")
    wrong = [i for i in set(want) & set(admitted) if admitted[i] != want[i]]
    if wrong:
        problems.append(f"{len(wrong)} admitted docs differ from the generated text, "
                        f"first {sorted(wrong)[:5]}")
    texts = set(admitted.values())
    rejected = [d for d in published if d.doc_id not in admitted]
    exact = sum(1 for d in rejected if d.text in texts)
    planted = sum(1 for d in rejected if d.source_id is not None)
    index_rows = sum(pq.ParquetFile(p).metadata.num_rows
                     for sub in ("_index", "_neardup_index")
                     for p in _parquet_files(os.path.join(out_dir, sub)))
    return problems, {
        "admitted": len(admitted),
        "rejected_exact": exact,
        "rejected_near": len(rejected) - exact,
        "reject_precision": planted / len(rejected) if rejected else 1.0,
        "index_rows": index_rows,
    }
