"""Self-tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen as G
from spans import Span, Tracer, finalize_lags, percentile, tail_percentile, union_length


# -- percentile rule --------------------------------------------------------------


@pytest.mark.parametrize("n,q", [(10, 50), (20, 50), (21, 52), (50, 80), (100, 90),
                                  (1000, 90)])
def test_tail_percentile_known_points(n, q):
    assert tail_percentile(n) == q


def test_tail_percentile_leaves_ten_beyond():
    for n in range(20, 400):
        q = tail_percentile(n)
        assert n - math.ceil(q * n / 100) >= 10
        if q < 90:  # the next percentile up would leave fewer than ten
            assert n - math.ceil((q + 1) * n / 100) < 10


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 90) == 90
    assert percentile(xs, 50) == 50
    assert percentile([3.0], 90) == 3.0


# -- lag join ---------------------------------------------------------------------


def test_finalize_lags_join_and_missing():
    due = {0: 10.0, 200: 10.1, 400: 10.2}
    appeared = {0: 11.5, 400: 11.0, 999: 1.0}
    lags, missing = finalize_lags(due, appeared)
    assert lags == pytest.approx({0: 1.5, 400: 0.8})
    assert missing == [200]


# -- spans --------------------------------------------------------------------------


def test_union_length_overlaps_counted_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children():
    t = Tracer()
    t.spans = [
        Span(1, "op", 0.0, 10.0, None, 1),
        Span(2, "a", 1.0, 4.0, 1, 1),
        Span(3, "b", 3.0, 6.0, 1, 1),   # overlaps a (helper thread)
        Span(4, "c", 2.0, 3.0, 2, 1),
    ]
    self_t = t.self_times()
    assert self_t[1] == pytest.approx(5.0)   # 10 - union(1..6)
    assert self_t[2] == pytest.approx(2.0)
    assert t.covered(t.spans[0], "a") == pytest.approx(3.0)


def test_tracer_records_only_when_enabled():
    t = Tracer()

    class Box:
        def work(self, x):
            return x * 2

    t.wrap(Box, "work", "box.work")
    assert Box().work(2) == 4 and t.spans == []
    t.enabled = True
    with t.span("op", op=True):
        Box().work(3)
    names = [(s.name, s.op) for s in t.spans]
    assert ("box.work", t.spans[-1].sid) in names


def test_wrap_hooks_and_per_call_enable():
    t = Tracer()
    seen = []

    class Box:
        def work(self, x):
            seen.append(("work", t.enabled))
            return x + 1

    t.wrap(Box, "work", "box.work", op=True, enable=lambda self, x: x % 2 == 1,
           before=lambda self, x: x * 10,
           after=lambda state, self, x: seen.append(("after", state)))
    assert Box().work(2) == 3          # even: untraced, no hooks
    assert Box().work(3) == 4          # odd: traced, hooks around the span
    assert seen == [("work", False), ("work", True), ("after", 30)]
    assert [s.name for s in t.spans] == ["box.work"] and not t.enabled


# -- generators are functions of the seed -------------------------------------------


def test_block_generator_is_seeded(tmp_path):
    a = G.stage_blocks(G.BlockGen(7), str(tmp_path / "a"), 3, 50)
    b = G.stage_blocks(G.BlockGen(7), str(tmp_path / "b"), 3, 50)
    c = G.stage_blocks(G.BlockGen(8), str(tmp_path / "c"), 3, 50)
    for x, y in zip(a, b):
        assert open(x.path, "rb").read() == open(y.path, "rb").read()
        assert (x.payload_bytes, x.children) == (y.payload_bytes, y.children)
    assert open(a[0].path, "rb").read() != open(c[0].path, "rb").read()
    mtimes = [os.stat(f.path).st_mtime_ns for f in a]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def _crawl(seed):
    g = G.CorpusGen(seed)
    return [g.increment(50), g.increment(200)]


def test_corpus_generator_is_seeded_and_plants_later_duplicates():
    a, b, c = _crawl(3), _crawl(3), _crawl(4)
    assert a == b and a != c
    docs = [d for inc in a for d in inc]
    assert [d.doc_id for d in docs] == list(range(250))
    by_id = {d.doc_id: d for d in docs}
    dups = [d for d in docs if d.source_id is not None]
    assert any(d.exact for d in dups) and any(not d.exact for d in dups)
    for d in dups:
        src = by_id[d.source_id]
        assert src.source_id is None and src.doc_id < d.doc_id
        if d.exact:
            assert d.text == src.text
        else:
            diff = [x != y for x, y in zip(d.text.split(" "), src.text.split(" "))]
            assert sum(diff) == 1 and len(diff) == len(src.text.split(" "))


def test_encoder_matches_package_decoder():
    pw = pytest.importorskip("substreams_sink_parquet_spark.protowire")
    import workloads

    g = G.BlockGen(1)
    for bn in (0, 1, 99):
        got = pw.decode_message(G.encode_block(g.payload(bn)), workloads.block_spec())
        want = g.payload(bn)
        if not want["transfers"]:
            want.pop("transfers")
        assert got == want


# -- the lake checker rejects a dropped row -------------------------------------------


def _write_lake(lake: str, gen: G.BlockGen, ranges, drop=None) -> None:
    os.makedirs(lake)
    for rs, re_ in ranges:
        rows = []
        for bn in range(rs, re_):
            if bn == drop:
                continue
            rows.append({"block_number": bn, "block_id": gen.block_id(bn), **gen.payload(bn)})
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(lake, f"{rs:010d}-{re_:010d}.parquet"))


def test_checker_accepts_whole_lake_and_rejects_dropped_row(tmp_path):
    g = G.BlockGen(2)
    ranges = [(0, 5), (5, 10)]
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_lake(good, g, ranges)
    _write_lake(bad, g, ranges, drop=6)
    assert checks.check_rows(good, 10, "main") == []
    assert checks.check_block_rows(good, g, range(10), child=None) == []
    assert checks.check_rows(bad, 10, "main")
    assert checks.check_block_rows(bad, g, [6], child=None)


def _write_corpus(out_dir: str, docs) -> None:
    os.makedirs(os.path.join(out_dir, "docs", "epoch=0"))
    pq.write_table(pa.Table.from_pylist([{"doc_id": d.doc_id, "text": d.text} for d in docs]),
                   os.path.join(out_dir, "docs", "epoch=0", "part-0.parquet"))


def test_corpus_checker_accepts_originals_only(tmp_path):
    docs = [d for inc in _crawl(5) for d in inc]
    originals = [d for d in docs if d.source_id is None]
    good = str(tmp_path / "good")
    _write_corpus(good, originals)
    problems, stats = checks.check_corpus(good, docs)
    assert problems == []
    assert stats["admitted"] == len(originals)
    assert stats["rejected_exact"] == sum(1 for d in docs if d.exact)
    assert stats["rejected_exact"] + stats["rejected_near"] == len(docs) - len(originals)
    assert stats["reject_precision"] == 1.0
    dropped = str(tmp_path / "dropped")
    _write_corpus(dropped, originals[1:])
    assert checks.check_corpus(dropped, docs)[0]
    leaked = str(tmp_path / "leaked")
    _write_corpus(leaked, originals + [next(d for d in docs if d.source_id is not None)])
    assert checks.check_corpus(leaked, docs)[0]


# -- the harness prints exactly the metrics BENCHMARK.json declares ----------------------


def test_benchmark_json_matches_harness():
    import json

    import workloads as W

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the harness")
    with open(path) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == W.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == W.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
