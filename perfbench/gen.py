"""Seeded input generators for the benchmark.

Everything here is plain Python plus pyarrow: no Spark job is started to
make inputs, and nothing from the package under test is used, so the
expected values the checks compare against come from an independent
encoder.

Staged block files have the sink's bronze shape ``(block_number bigint,
block_id string, payload binary)``. ``payload`` is a protobuf ``bench.Block``
message (see ``BLOCK_FIELDS``) with a repeated ``transfers`` child, so
explode mode writes one child table. Block ``bn`` depends only on
``(seed, bn)``. Block files' modification times are stamped strictly
increasing, because the streaming file source admits files in
modification-time order and the sink finalizes a range once a later block
has been seen.

Crawl increments are JSONL shards in the corpus pipeline's document shape
(``doc_id``, ``text``, ``lang``, ``source``, ``n_chars``) with planted exact
and one-word-edited duplicates (``CorpusGen``).

Files are written under a dot-name and renamed into place, so a file
source listing the directory never sees a partial file.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

RAW_SCHEMA = pa.schema(
    [("block_number", pa.int64()), ("block_id", pa.string()), ("payload", pa.binary())]
)

# (name, field number, kind) — kind is one of "string", "uint64", "uint32"
# or "transfers" (the repeated child message).
TRANSFER_FIELDS = (
    ("from_addr", 1, "string"),
    ("to_addr", 2, "string"),
    ("amount", 3, "uint64"),
    ("token", 4, "string"),
)
BLOCK_FIELDS = (
    ("hash", 1, "string"),
    ("timestamp", 2, "uint64"),
    ("gas_used", 3, "uint64"),
    ("miner", 4, "string"),
    ("tx_count", 5, "uint32"),
    ("transfers", 6, "transfers"),
)
GENESIS_TS = 1_700_000_000


# -- protobuf wire encoding (independent of the package's codec) -----------


def _varint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _emit_len(out: bytearray, fnum: int, payload: bytes) -> None:
    _varint(out, (fnum << 3) | 2)
    _varint(out, len(payload))
    out += payload


def _encode(values: dict, fields) -> bytes:
    out = bytearray()
    for name, fnum, kind in fields:
        v = values.get(name)
        if v is None:
            continue
        if kind == "string":
            _emit_len(out, fnum, v.encode("utf-8"))
        elif kind in ("uint64", "uint32"):
            _varint(out, fnum << 3)
            _varint(out, v)
        else:
            for t in v:
                _emit_len(out, fnum, _encode(t, TRANSFER_FIELDS))
    return bytes(out)


def encode_block(values: dict) -> bytes:
    return _encode(values, BLOCK_FIELDS)


# -- blocks -----------------------------------------------------------------


def _hex(rng: random.Random, n_bytes: int) -> str:
    return f"{rng.getrandbits(8 * n_bytes):0{2 * n_bytes}x}"


@dataclass(frozen=True)
class BlockGen:
    """Deterministic chain segment: ``payload(bn)`` depends on seed and bn."""

    seed: int

    def __post_init__(self) -> None:
        rng = random.Random(self.seed * 7919 + 17)
        object.__setattr__(
            self, "_addrs", tuple("0x" + _hex(rng, 20) for _ in range(2048))
        )
        object.__setattr__(
            self, "_miners", tuple("0x" + _hex(rng, 20) for _ in range(32))
        )
        object.__setattr__(
            self, "_tokens", tuple(f"TOK{i:02d}" for i in range(16))
        )

    @staticmethod
    def block_id(bn: int) -> str:
        return f"0x{bn:016x}"

    def payload(self, bn: int) -> dict:
        rng = random.Random((self.seed << 40) | bn)
        addrs = self._addrs
        return {
            "hash": "0x" + _hex(rng, 32),
            "timestamp": GENESIS_TS + 12 * bn,
            "gas_used": rng.randrange(1_000_000, 30_000_000),
            "miner": self._miners[rng.randrange(len(self._miners))],
            "tx_count": rng.randrange(0, 300),
            "transfers": [
                {
                    "from_addr": addrs[rng.randrange(len(addrs))],
                    "to_addr": addrs[rng.randrange(len(addrs))],
                    "amount": rng.getrandbits(40),
                    "token": self._tokens[rng.randrange(len(self._tokens))],
                }
                for _ in range(rng.randrange(0, 5))
            ],
        }

    def table(self, first: int, count: int) -> tuple[pa.Table, int, int]:
        """Raw rows for blocks ``[first, first + count)``, their total
        payload bytes and their total number of transfers."""
        bns = list(range(first, first + count))
        values = [self.payload(bn) for bn in bns]
        payloads = [encode_block(v) for v in values]
        table = pa.table(
            {
                "block_number": bns,
                "block_id": [self.block_id(bn) for bn in bns],
                "payload": payloads,
            },
            schema=RAW_SCHEMA,
        )
        n_children = sum(len(v["transfers"]) for v in values)
        return table, sum(len(p) for p in payloads), n_children


def write_hidden(table: pa.Table, directory: str, name: str, mtime_ns: int) -> str:
    """Write ``table`` as ``.name`` (invisible to Spark's file source) with
    the given modification time; return the hidden path."""
    os.makedirs(directory, exist_ok=True)
    hidden = os.path.join(directory, "." + name)
    pq.write_table(table, hidden, compression="none")
    os.utime(hidden, ns=(mtime_ns, mtime_ns))
    return hidden


def publish(hidden: str) -> str:
    """Atomically rename a hidden staged file to its visible name."""
    directory, name = os.path.split(hidden)
    visible = os.path.join(directory, name[1:])
    os.rename(hidden, visible)
    return visible


@dataclass
class StagedFile:
    path: str  # hidden path until published
    first: int
    count: int
    payload_bytes: int
    children: int


def stage_blocks(gen: BlockGen, directory: str, n_files: int, blocks_per_file: int,
                 first_block: int = 0) -> list[StagedFile]:
    """Write ``n_files`` hidden raw-block files of consecutive blocks, with
    modification times 1 ms apart in block order."""
    base_ns = 1_600_000_000 * 10**9
    out = []
    for k in range(n_files):
        first = first_block + k * blocks_per_file
        table, nbytes, n_children = gen.table(first, blocks_per_file)
        path = write_hidden(
            table, directory, f"blocks-{first:010d}.parquet", base_ns + k * 10**6
        )
        out.append(StagedFile(path, first, blocks_per_file, nbytes, n_children))
    return out


# -- crawl documents ------------------------------------------------------------


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    source_id: int | None   # the original this doc duplicates, or None
    exact: bool             # an exact copy (True) or a one-word edit (False)


class CorpusGen:
    """Deterministic crawl: documents of random words from a fixed
    vocabulary, with planted duplicates of earlier originals. The same seed
    and the same sequence of ``increment`` calls give the same documents.

    A planted duplicate is either an exact copy of an earlier original or
    the same text with one word replaced, and its ``doc_id`` is higher than
    its source's, so a sequential dedup admits the source and rejects the
    copy. Unrelated documents share no word 3-grams beyond chance, so the
    originals are exactly the documents a correct dedup admits."""

    def __init__(self, seed: int, exact_share: float = 0.1, edit_share: float = 0.1,
                 words: tuple[int, int] = (80, 160), vocabulary: int = 4096) -> None:
        self.exact_share, self.edit_share, self.words = exact_share, edit_share, words
        rng = random.Random(seed * 104729 + 3)
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = set()
        while len(vocab) < vocabulary:
            vocab.add("".join(rng.choice(letters) for _ in range(rng.randrange(3, 10))))
        self._vocab = tuple(sorted(vocab))
        self._rng = random.Random(seed)
        self._originals: list[Doc] = []
        self._next_id = 0

    def increment(self, n_docs: int) -> list[Doc]:
        """The next ``n_docs`` documents, doc_ids continuing in arrival
        order."""
        rng, vocab, originals, out = self._rng, self._vocab, self._originals, []
        for _ in range(n_docs):
            doc_id = self._next_id
            self._next_id += 1
            r = rng.random()
            if originals and r < self.exact_share:
                src = originals[rng.randrange(len(originals))]
                out.append(Doc(doc_id, src.text, src.doc_id, True))
            elif originals and r < self.exact_share + self.edit_share:
                src = originals[rng.randrange(len(originals))]
                words = src.text.split(" ")
                pos = rng.randrange(len(words))
                new = words[pos]
                while new == words[pos]:
                    new = vocab[rng.randrange(len(vocab))]
                words[pos] = new
                out.append(Doc(doc_id, " ".join(words), src.doc_id, False))
            else:
                n_words = rng.randrange(*self.words)
                text = " ".join(vocab[rng.randrange(len(vocab))] for _ in range(n_words))
                doc = Doc(doc_id, text, None, False)
                originals.append(doc)
                out.append(doc)
        return out


def doc_line(doc: Doc, source: str) -> str:
    return json.dumps({"doc_id": doc.doc_id, "text": doc.text, "lang": "en",
                       "source": source, "n_chars": len(doc.text)})


def stage_docs(docs: list[Doc], directory: str, name: str, shards: int = 4) -> list[str]:
    """Write ``docs`` as ``shards`` hidden JSONL files; return their hidden
    paths (publish each to make it visible)."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for s in range(shards):
        hidden = os.path.join(directory, f".{name}-{s}.jsonl")
        with open(hidden, "w", encoding="utf-8") as fh:
            for doc in docs[s::shards]:
                fh.write(doc_line(doc, name) + "\n")
        paths.append(hidden)
    return paths
