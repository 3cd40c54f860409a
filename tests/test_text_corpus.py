"""JSONL corpus source: clean rows parse typed, malformed lines are
quarantined with the raw text — one shared scan, job never aborts."""

import json
import os

import pytest

from substreams_sink_parquet_spark.sources.text_corpus import (
    CORRUPT_COL,
    read_jsonl_corpus,
    split_quarantine,
)
from substreams_sink_parquet_spark.tables import load


def test_jsonl_corpus_roundtrip_with_quarantine(spark, tmp_path):
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    rows = [r.asDict() for r in docs.collect()]
    shard = tmp_path / "shard-00000.jsonl"
    bad_lines = ['{"doc_id": 1, "text": "truncated', "not json at all", '["array"]']
    with open(shard, "w") as f:
        for i, r in enumerate(rows):
            f.write(json.dumps(r) + "\n")
            if i < len(bad_lines):  # interleave damage between clean lines
                f.write(bad_lines[i] + "\n")

    corpus = read_jsonl_corpus(spark, str(shard))
    clean, bad = split_quarantine(corpus)

    assert clean.count() == len(rows)
    assert CORRUPT_COL not in clean.columns
    # typed columns survive the round trip
    got = {(r.doc_id, r.lang, r.n_chars) for r in clean.collect()}
    want = {(r["doc_id"], r["lang"], r["n_chars"]) for r in rows}
    assert got == want
    # every damaged line is captured verbatim (array line parses as a JSON
    # value but not as a document row — PERMISSIVE still quarantines it)
    captured = {r[CORRUPT_COL] for r in bad.collect()}
    assert set(bad_lines) <= captured


def test_jsonl_schema_never_inferred(spark, tmp_path):
    # missing fields -> null, extra fields -> ignored; output schema is fixed
    shard = tmp_path / "drift.jsonl"
    shard.write_text('{"doc_id": 7, "text": "t", "unexpected_key": 1}\n')
    clean, bad = split_quarantine(read_jsonl_corpus(spark, str(shard)))
    row = clean.collect()[0]
    assert row.doc_id == 7 and row.lang is None
    assert "unexpected_key" not in clean.columns
    assert bad.count() == 0


def test_streaming_corpus_builder_dedups_across_batches(spark, tmp_path):
    """JSONL stream -> quarantine split -> incremental dedup against the
    persistent hash index. Two runs over one checkpoint: the second run's
    re-crawled content must be rejected, its genuinely-new content
    admitted, and corrupt lines quarantined — never fatal, never admitted."""
    import json as _json

    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        corpus_docs,
        run_corpus_pipeline,
    )

    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "web",
             "n_chars": len(text)}
        )

    (in_dir / "shard0.jsonl").write_text(
        "\n".join([doc(1, "alpha doc"), doc(2, "beta doc"),
                   doc(3, "alpha doc"),          # in-batch dup: doc 1 keeps
                   "{truncated garbage"]) + "\n"
    )
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt)
    q.awaitTermination(120)
    got = {r.doc_id: r.text for r in corpus_docs(spark, out_dir).collect()}
    assert got == {1: "alpha doc", 2: "beta doc"}

    # second crawl increment: one re-crawl (rejected), one new (admitted)
    (in_dir / "shard1.jsonl").write_text(
        "\n".join([doc(9, "alpha doc"), doc(10, "gamma doc")]) + "\n"
    )
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt)
    q.awaitTermination(120)
    got = {r.doc_id: r.text for r in corpus_docs(spark, out_dir).collect()}
    assert got == {1: "alpha doc", 2: "beta doc", 10: "gamma doc"}
    # every admitted text is unique — the corpus invariant
    texts = [r.text for r in corpus_docs(spark, out_dir).collect()]
    assert len(texts) == len(set(texts))
    # quarantine captured the bad line verbatim
    bad = spark.read.parquet(str(tmp_path / "out" / "_quarantine")).collect()
    assert any("truncated" in r[0] for r in bad)


def test_corpus_batch_replay_does_not_self_reject(spark, tmp_path):
    """At-least-once replay: a re-run epoch must not see its own crashed
    attempt's index hashes, or it would reject its own documents and
    overwrite the epoch with nothing."""
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    batch = spark.createDataFrame(
        [(1, "alpha doc", "en", "web", 9, None),
         (2, "beta doc", "en", "web", 8, None)],
        f"doc_id long, text string, lang string, source string, n_chars long, {CORRUPT_COL} string",
    )
    sink = CorpusSink(spark=spark, out_dir=str(tmp_path / "out"))
    sink.process_batch(batch, 0)
    sink.process_batch(batch, 0)  # replay after simulated crash
    got = {r.doc_id for r in corpus_docs(spark, str(tmp_path / "out")).collect()}
    assert got == {1, 2}


def test_compact_index_merges_epochs_and_dedup_still_works(spark, tmp_path):
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        compact_index,
        corpus_docs,
        recover_index_compact,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out)
    sink.process_batch(
        spark.createDataFrame([(1, "aa", "en", "w", 2, None)], ddl), 0
    )
    sink.process_batch(
        spark.createDataFrame([(2, "bb", "en", "w", 2, None)], ddl), 1
    )
    sink.process_batch(
        spark.createDataFrame([(3, "dd", "en", "w", 2, None)], ddl), 2
    )
    # epochs 0 and 1 merge; the TRAILING epoch=2 is never merged — it may
    # be an uncommitted crashed attempt whose replay must still find (and
    # exclude) its own directory by name
    assert compact_index(spark, out) is True
    fs = HadoopFS(spark, out)
    assert sorted(
        e for e in fs.listdir(out + "/_index") if e.startswith("epoch=")
    ) == ["epoch=-1", "epoch=2"]
    # the compacted index still rejects re-crawled content
    sink.process_batch(
        spark.createDataFrame(
            [(9, "aa", "en", "w", 2, None), (10, "cc", "en", "w", 2, None)], ddl
        ),
        3,
    )
    got = {r.doc_id for r in corpus_docs(spark, out).collect()}
    assert got == {1, 2, 3, 10}
    # crash recovery: a tmp WITHOUT a manifest is an uncommitted partial
    # write — dropped, sources intact
    fs.mkdirs(out + "/_index/_compact")
    assert recover_index_compact(fs, out) == {"_index": "dropped"}
    assert not fs.exists(out + "/_index/_compact")
    # re-compaction folds epoch=-1 + all-but-trailing back together; no
    # hash is ever lost across compactions
    assert compact_index(spark, out) is True  # merge epoch=-1, 2; keep 3
    got = {r.text_hash for r in spark.read.parquet(out + "/_index").collect()}
    assert len(got) == 4  # aa, bb, dd, cc


def test_corpus_neardup_rejects_edited_recrawls(spark, tmp_path):
    """The fuzzy second stage: a re-crawl with one word changed slips past
    the exact hash but must be rejected by MinHash signature overlap
    against the persistent band index; genuinely new text is admitted."""
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    base = ("the quick brown fox jumps over the lazy dog while the "
            "patient cat watches from the warm sunny windowsill nearby")
    edited = base.replace("lazy", "crazy")  # 1 word of 20: J ~ 0.75
    other = ("completely unrelated content about distributed query engines "
             "and their shuffle partitioning strategies at large scale")

    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out, near_dup=True)
    sink.process_batch(
        spark.createDataFrame([(1, base, "en", "w", len(base), None)], ddl), 0
    )
    sink.process_batch(
        spark.createDataFrame(
            [(5, edited, "en", "w", len(edited), None),
             (6, other, "en", "w", len(other), None)],
            ddl,
        ),
        1,
    )
    got = {r.doc_id for r in corpus_docs(spark, out).collect()}
    assert got == {1, 6}
    # replay safety: re-running an epoch must not self-reject via its own
    # band index (or exact index) and must converge to the same corpus
    sink.process_batch(
        spark.createDataFrame(
            [(5, edited, "en", "w", len(edited), None),
             (6, other, "en", "w", len(other), None)],
            ddl,
        ),
        1,
    )
    got = {r.doc_id for r in corpus_docs(spark, out).collect()}
    assert got == {1, 6}


def test_incremental_neardup_in_batch_keeps_lowest(spark):
    from substreams_sink_parquet_spark.llm.dedup import incremental_neardup

    # ~40 words, one changed => J ~ 0.92: band-collision probability
    # ~1-(1-0.92^4)^8 > 0.999, and the hashes are deterministic
    base = " ".join(f"word{i}" for i in range(40))
    batch = spark.createDataFrame(
        [(3, base.replace("word17", "other")), (7, base), (9, "x y z q w e r t")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "band_id int, band_hash bigint, sig array<bigint>")
    got = {r.doc_id for r in incremental_neardup(batch, empty).select("doc_id").distinct().collect()}
    assert got == {3, 9}  # 7 near-dups 3; the LOWER id wins


def test_corpus_empty_batch_is_harmless(spark, tmp_path):
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out, near_dup=True)
    sink.process_batch(spark.createDataFrame([], ddl), 0)  # empty first batch
    sink.process_batch(
        spark.createDataFrame([(1, "some doc text here", "en", "w", 18, None)], ddl), 1
    )
    sink.process_batch(spark.createDataFrame([], ddl), 2)  # empty later batch
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {1}


def test_corpus_short_docs_are_admitted_not_cross_rejected(spark, tmp_path):
    """Regression (review finding): two-word docs have no 3-word shingle, so
    their MinHash signatures would all be the sentinel vector — distinct
    short docs must NOT near-dup-reject each other, in-batch or across
    batches, and must never enter the band index."""
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out, near_dup=True)
    sink.process_batch(
        spark.createDataFrame(
            [(1, "hello world", "en", "w", 11, None),
             (2, "stock prices", "en", "w", 12, None)],  # distinct 2-word docs
            ddl,
        ),
        0,
    )
    sink.process_batch(
        spark.createDataFrame(
            [(3, "weather report", "en", "w", 14, None)], ddl  # also short
        ),
        1,
    )
    got = {r.doc_id for r in corpus_docs(spark, out).collect()}
    assert got == {1, 2, 3}
    # exact dedup still applies to short docs
    sink.process_batch(
        spark.createDataFrame(
            [(9, "hello world", "en", "w", 11, None)], ddl
        ),
        2,
    )
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {1, 2, 3}


def test_corpus_null_docid_line_does_not_poison_index(spark, tmp_path):
    """Regression (review finding): a parseable line missing doc_id must not
    write its text_hash to the index while dropping the document — a later
    corrected re-crawl of the same text must be admitted."""
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out)
    sink.process_batch(
        spark.createDataFrame(
            [(None, "real document text", "en", "w", 18, None)], ddl
        ),
        0,
    )
    assert corpus_docs(spark, out).count() == 0
    sink.process_batch(
        spark.createDataFrame(
            [(9, "real document text", "en", "w", 18, None)], ddl
        ),
        1,
    )
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {9}


def test_corpus_docs_empty_store_reads_as_zero_rows(spark, tmp_path):
    from substreams_sink_parquet_spark.streaming.corpus_stream import corpus_docs

    df = corpus_docs(spark, str(tmp_path / "never_written"))
    assert df.count() == 0
    assert "doc_id" in df.columns and "text" in df.columns


# -- embedding (semantic) third stage ---------------------------------------

_EDDL = ("doc_id long, text string, lang string, source string, n_chars long, "
         "embedding array<float>, _corrupt_line string")


def _edoc(doc_id, text, emb):
    return (doc_id, text, "en", "w", len(text), emb, None)


def test_corpus_embed_stage_rejects_paraphrase_recrawls_across_restarts(
    spark, tmp_path
):
    """The semantic third stage: a paraphrased re-crawl shares NO n-grams
    (exact hash and MinHash both pass it) but its embedding is
    near-identical — it must be rejected against the persistent
    (bucket, embedding) index, across sink restarts and epoch replays;
    genuinely different embeddings and embedding-less docs are admitted."""
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    e1 = [1.0, 0.2, -0.5, 0.8]
    e1_near = [1.001, 0.2, -0.5, 0.801]          # cosine ~ 1.0
    e_other = [-0.9, 1.5, 2.0, -0.1]             # far from e1
    out = str(tmp_path / "out")

    def sink():  # a fresh instance per drain = a restart (state is on disk)
        return CorpusSink(
            spark=spark, out_dir=out, near_dup=True,
            embed_dup=True, embed_threshold=0.99, embed_dim=4,
        )

    sink().process_batch(
        spark.createDataFrame([_edoc(1, "the original document text", e1)], _EDDL),
        0,
    )
    batch1 = spark.createDataFrame(
        [
            _edoc(5, "a fully rephrased rendition sharing zero trigrams", e1_near),
            _edoc(6, "genuinely novel content with its own meaning", e_other),
            _edoc(7, "no embedding shipped for this one", None),
        ],
        _EDDL,
    )
    sink().process_batch(batch1, 1)   # restart before batch 1
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {1, 6, 7}
    # crash replay of epoch 1: must not self-reject via its own index dirs
    sink().process_batch(batch1, 1)
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {1, 6, 7}
    # a later re-crawl near doc 6's embedding is rejected after ANOTHER restart
    sink().process_batch(
        spark.createDataFrame(
            [_edoc(9, "yet another wording of that novel content",
                   [x * 1.001 for x in e_other])],
            _EDDL,
        ),
        2,
    )
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {1, 6, 7}


def test_incremental_embedding_neardup_in_batch_and_unscreenables(spark):
    from substreams_sink_parquet_spark.llm.similarity import (
        incremental_embedding_neardup,
    )

    batch = spark.createDataFrame(
        [
            (3, [1.0, 0.0, 0.5, -0.2]),
            (7, [1.0005, 0.0, 0.5, -0.2001]),   # near-dup of 3: higher id loses
            (9, [-2.0, 1.0, 0.1, 0.9]),         # distinct
            (11, None),                         # unscreenable: null
            (13, [1.0, 2.0]),                   # unscreenable: wrong dim
        ],
        "doc_id long, embedding array<float>",
    )
    empty = spark.createDataFrame([], "bucket bigint, embedding array<float>")
    rows = incremental_embedding_neardup(
        batch, empty, threshold=0.99, dim=4
    ).collect()
    assert {r.doc_id for r in rows} == {3, 9, 11, 13}
    by_id = {r.doc_id: r for r in rows}
    assert by_id[11].bucket is None and by_id[13].bucket is None
    assert by_id[3].bucket is not None and by_id[9].bucket is not None


def test_compact_index_merges_embed_epochs_and_still_rejects(spark, tmp_path):
    """_embed_index participates in index compaction: epochs below the
    trailing one fold into epoch=-1, and a post-compaction paraphrase
    re-crawl is still rejected against the merged index."""
    from substreams_sink_parquet_spark.fsio import HadoopFS, url_join
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        compact_index,
        corpus_docs,
    )

    out = str(tmp_path / "out")
    sink = CorpusSink(
        spark=spark, out_dir=out, embed_dup=True,
        embed_threshold=0.99, embed_dim=4,
    )
    vecs = {0: [1.0, 0.1, 0.2, 0.3], 1: [-1.0, 0.5, 0.1, -0.9],
            2: [0.3, -1.2, 0.8, 0.4]}
    for e, v in vecs.items():
        sink.process_batch(
            spark.createDataFrame([_edoc(e + 1, f"text number {e}", v)], _EDDL), e
        )
    assert compact_index(spark, out)
    fs = HadoopFS(spark, out)
    left = sorted(
        d for d in fs.listdir(url_join(out, "_embed_index"))
        if d.startswith("epoch=")
    )
    assert left == ["epoch=-1", "epoch=2"]  # trailing epoch never folded
    sink.process_batch(
        spark.createDataFrame(
            [_edoc(50, "recrawl wording of text zero",
                   [x * 0.999 for x in vecs[0]])],
            _EDDL,
        ),
        3,
    )
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {1, 2, 3}


def test_embed_stage_multiprobe_rejects_one_plane_miss(spark):
    """Single-probe LSH admits a paraphrase whenever ONE hyperplane
    separates the near-identical pair (~24% of 0.99-cosine pairs at 6
    planes). The batch side probes Hamming-1 buckets, so a planted pair
    that lands in adjacent buckets must still be rejected."""
    from substreams_sink_parquet_spark.llm.similarity import (
        incremental_embedding_neardup,
        lsh_bucket,
    )
    from pyspark.sql import functions as F

    dim, planes = 8, 6
    base = [1.0, 0.4, -0.3, 0.8, 0.1, -0.6, 0.2, 0.5]

    def bucket_of(vecs):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "doc_id long, embedding array<float>",
        )
        return [r.bucket for r in lsh_bucket(df, "embedding", dim, planes)
                .orderBy("doc_id").collect()]

    # search deterministic small perturbations for a Hamming-1 neighbor
    # with near-1 cosine (exists whenever base sits close to one plane)
    b0 = bucket_of([base])[0]
    planted = None
    for axis in range(dim):
        for eps in (0.02, 0.05, 0.1, 0.2, -0.02, -0.05, -0.1, -0.2):
            cand = list(base)
            cand[axis] += eps
            b1 = bucket_of([cand])[0]
            if b1 != b0 and bin(b1 ^ b0).count("1") == 1:
                planted = cand
                break
        if planted:
            break
    assert planted is not None, "fixture search failed: widen eps grid"
    index = spark.createDataFrame(
        [(b0, [float(x) for x in base])], "bucket long, embedding array<float>"
    )
    got = incremental_embedding_neardup(
        spark.createDataFrame(
            [(42, [float(x) for x in planted])],
            "doc_id long, embedding array<float>",
        ),
        index,
        threshold=0.99,
        dim=dim,
        n_planes=planes,
    ).collect()
    assert got == []  # rejected despite the bucket mismatch


def test_embed_stage_in_batch_rejection_is_batch_order_independent(spark):
    """Doc 5 is corpus-rejected; doc 9 near-dups doc 5 but NOT the corpus
    row. Rejecting 9 against the non-surviving 5 would admit an identical
    re-crawl of 9 next batch (5 left no index rows) — so 9 must be
    admitted NOW, matching the across-batch outcome."""
    import math

    from substreams_sink_parquet_spark.llm.similarity import (
        incremental_embedding_neardup,
        lsh_bucket,
    )

    def unit(theta):  # cos 7deg = .9925 >= .99; cos 14deg = .9703 < .99
        return [float(math.cos(theta)), float(math.sin(theta)), 0.0, 0.0]

    x, d5, d9 = unit(0.0), unit(math.radians(7)), unit(math.radians(14))
    idx_rows = lsh_bucket(
        spark.createDataFrame([(0, x)], "doc_id long, embedding array<float>"),
        "embedding", 4, 6,
    ).select("bucket", "embedding")
    batch = spark.createDataFrame(
        [(5, d5), (9, d9)], "doc_id long, embedding array<float>"
    )
    admitted = {
        r.doc_id
        for r in incremental_embedding_neardup(
            batch, idx_rows, threshold=0.99, dim=4, n_planes=6
        ).collect()
    }
    assert admitted == {9}


def test_embed_stage_chain_of_three_matches_sequential_arrival(spark):
    """A-B-C chain inside ONE batch (B~A, C~B, C!~A): sequential arrival
    would admit A, reject B (vs A), then admit C (B left no index rows and
    C !~ A). The in-batch greedy must produce exactly that — rejecting C
    against the already-rejected B would diverge from what C's identical
    re-crawl gets next batch."""
    import math

    from substreams_sink_parquet_spark.llm.similarity import (
        incremental_embedding_neardup,
    )

    def unit(deg):
        t = math.radians(deg)
        return [float(math.cos(t)), float(math.sin(t)), 0.0, 0.0]

    batch = spark.createDataFrame(
        [(1, unit(0)), (2, unit(7)), (3, unit(14))],
        "doc_id long, embedding array<float>",
    )
    empty = spark.createDataFrame([], "bucket bigint, embedding array<float>")
    admitted = {
        r.doc_id
        for r in incremental_embedding_neardup(
            batch, empty, threshold=0.99, dim=4
        ).collect()
    }
    assert admitted == {1, 3}


def test_pathological_pair_cap_falls_back_conservatively(spark, monkeypatch):
    """With the exact-greedy pair cap forced to 1, the A-B-C chain takes
    the LEFT SEMI fallback: B AND C are both rejected (conservative
    over-rejection of the mid-chain doc), never an error, never a
    quadratic materialization. With the normal cap, the same input admits
    C (exact greedy) — both branches are deterministic."""
    import math

    from substreams_sink_parquet_spark.llm import dedup as dedup_mod
    from substreams_sink_parquet_spark.llm.similarity import (
        incremental_embedding_neardup,
    )

    def unit(deg):
        t = math.radians(deg)
        return [float(math.cos(t)), float(math.sin(t)), 0.0, 0.0]

    batch = spark.createDataFrame(
        [(1, unit(0)), (2, unit(7)), (3, unit(14))],
        "doc_id long, embedding array<float>",
    )
    empty = spark.createDataFrame([], "bucket bigint, embedding array<float>")

    def run():
        return {
            r.doc_id
            for r in incremental_embedding_neardup(
                batch, empty, threshold=0.99, dim=4
            ).collect()
        }

    assert run() == {1, 3}                      # exact greedy path
    monkeypatch.setattr(dedup_mod, "_MAX_EXACT_PAIRS", 1)
    assert run() == {1}                         # fallback: over-rejects C


def test_bm25_matches_reference_formula(spark):
    """bm25_scores must equal a plain-Python Okapi BM25 computed on the
    same tiny corpus (k1=1.2, b=0.75, +1-inside-log idf), and rank a
    term-dense doc above a sparse one; term-free docs score 0."""
    import math

    from substreams_sink_parquet_spark.llm.text import bm25_scores

    corpus = {
        1: "spark merge join fast spark merge join",
        2: "spark alone among many other plain filler words here",
        3: "nothing relevant in this document at all whatsoever",
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["spark", "merge", "join", "fast"]).collect()}

    toks = {d: t.split(" ") for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    expect = {}
    for d, w in toks.items():
        s = 0.0
        for t in ("spark", "merge", "join", "fast"):
            tf = w.count(t)
            df = sum(1 for ww in toks.values() if t in ww)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            s += round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(w) / avgdl)), 9)
        expect[d] = round(s, 6)
    assert got == pytest.approx(expect, abs=1e-6)
    assert got[1] > got[2] > got[3] == 0.0


def test_winnowing_guarantee_on_shared_substring(spark):
    """The winnowing guarantee: documents sharing a substring of length
    >= k + w - 1 MUST share at least one selected fingerprint. Density:
    far fewer fingerprints than k-grams."""
    from substreams_sink_parquet_spark.llm.text import winnow_fingerprints

    k, w = 12, 4
    shared = "the quick brown fox jumps over the lazy dog today"  # >> k+w-1
    docs = spark.createDataFrame(
        [
            (1, "prefix words here " + shared + " and unique tail one"),
            (2, "totally different opening text " + shared + " other ending"),
            (3, "no overlap with anything else in this corpus entry"),
        ],
        "doc_id long, text string",
    )
    # recompute the selected SETS (not just the digest) via the same API
    # internals: two docs sharing the substring must intersect
    from pyspark.sql import functions as F

    n_grams = F.length("text") - k + 1
    h = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.substring(F.md5(F.col("text").substr(i + 1, F.lit(k))), 1, 8),
    )
    mins = F.transform(
        F.sequence(F.lit(0), F.size(F.col("h")) - w),
        lambda j: F.array_min(F.slice(F.col("h"), j + 1, w)),
    )
    sets = {
        r.doc_id: set(r.fps)
        for r in docs.select("doc_id", h.alias("h"))
        .select("doc_id", F.array_distinct(mins).alias("fps"))
        .collect()
    }
    assert sets[1] & sets[2], "shared substring must share a fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])
    out = {r.doc_id: r for r in winnow_fingerprints(docs, k=k, w=w).collect()}
    text_len = len("prefix words here " + shared + " and unique tail one")
    assert out[1].n_fingerprints < (text_len - k + 1) / 2  # density win


def test_corpus_quality_gate_rejects_before_index(spark, tmp_path):
    """Quality stage 0: a gated doc is rejected WITH a reason under
    _rejects/, never admitted, and — the load-bearing property — its hash
    never enters the dedup index, so a later IMPROVED re-crawl of related
    content is judged on its own merits. Good docs flow through all
    stages untouched."""
    import json as _json

    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        corpus_docs,
        run_corpus_pipeline,
    )

    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    good = ("the quick brown fox jumps over the lazy dog while a calm "
            "river flows past the old stone bridge and children play in "
            "the warm afternoon sun near tall green trees")  # passes gate
    short = "tiny doc"  # too_short

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "web",
             "n_chars": len(text)}
        )

    (in_dir / "s0.jsonl").write_text(
        "\n".join([doc(1, good), doc(2, short)]) + "\n"
    )
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt,
                               quality_gate=True)
    q.awaitTermination(120)
    got = {r.doc_id for r in corpus_docs(spark, out_dir).collect()}
    assert got == {1}
    rejects = spark.read.parquet(str(tmp_path / "out" / "_rejects")).collect()
    assert [(r.doc_id, r.verdict) for r in rejects] == [(2, "too_short")]
    # the rejected doc's hash is NOT in the index: a later admissible doc
    # with the SAME text must not be blocked by the rejected twin
    idx = spark.read.parquet(str(tmp_path / "out" / "_index")).collect()
    assert len(idx) == 1  # only the good doc's hash
    # replay convergence: rerunning the same checkpointed input changes nothing
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt,
                               quality_gate=True)
    q.awaitTermination(120)
    assert {r.doc_id for r in corpus_docs(spark, out_dir).collect()} == {1}
    assert spark.read.parquet(str(tmp_path / "out" / "_rejects")).count() == 1


def test_bm25_batch_matches_single_query_and_guards_hot_terms(spark):
    """bm25_scores_batch over a query table must agree with bm25_scores
    per query (same formula, sparse output contract: zero-score docs are
    omitted), dedupe repeated query terms, and drop terms whose document
    frequency exceeds the hot-term guard."""
    from substreams_sink_parquet_spark.llm.text import bm25_scores, bm25_scores_batch

    corpus = {
        1: "spark merge join fast spark merge join",
        2: "spark alone among many other plain filler words here",
        3: "nothing relevant in this document at all whatsoever",
        4: "merge fast merge fast spark words here today",
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    queries = spark.createDataFrame(
        [(10, "spark merge join fast"), (20, "words here"),
         (30, "spark spark spark")],  # repeated terms dedupe to one
        "query_id int, query string",
    )
    got = {
        (r.query_id, r.doc_id): r.bm25
        for r in bm25_scores_batch(docs, queries).collect()
    }
    for qid, terms in ((10, ["spark", "merge", "join", "fast"]),
                       (20, ["words", "here"]), (30, ["spark"])):
        single = {r.doc_id: r.bm25 for r in bm25_scores(docs, terms).collect()}
        for d, s in single.items():
            if s != 0.0:
                assert got[(qid, d)] == pytest.approx(s, abs=1e-6), (qid, d)
            else:
                assert (qid, d) not in got  # sparse contract
    # n_terms_matched counts DISTINCT matched terms
    n_match = {
        (r.query_id, r.doc_id): r.n_terms_matched
        for r in bm25_scores_batch(docs, queries).collect()
    }
    assert n_match[(10, 1)] == 4 and n_match[(10, 2)] == 1
    assert n_match[(30, 1)] == 1
    # hot-term guard: 'spark' appears in 3 of 4 docs; max_doc_freq=2 drops
    # it everywhere, so query 30 vanishes and query 10 loses its spark
    # contribution but keeps merge/join/fast
    guarded = {
        (r.query_id, r.doc_id): r.bm25
        for r in bm25_scores_batch(docs, queries, max_doc_freq=2).collect()
    }
    assert not any(q == 30 for q, _ in guarded)
    assert guarded[(10, 1)] < got[(10, 1)]
    assert (20, 2) in guarded  # df('words')=2 survives the guard


def test_winnow_overlap_pairs_surface_shared_substrings_only(spark):
    """The overlap-pair operator built on the winnowing guarantee: two
    documents sharing a substring of length >= k + w - 1 MUST surface as
    a pair; documents with no substantial overlap must not (min_shared=2
    screens single-fingerprint hash noise). The hot-fingerprint guard
    drops boilerplate shared by too many documents."""
    from substreams_sink_parquet_spark.llm.text import winnow_overlap_pairs

    k, w = 12, 4
    shared = "the quick brown fox jumps over the lazy dog today and tomorrow"
    boiler = "standard footer all rights reserved contact us legal terms apply"
    docs = spark.createDataFrame(
        [
            (1, "prefix words here " + shared + " unique tail number one"),
            (2, "different opening text " + shared + " other ending text"),
            (3, "no overlap with anything else in this corpus entry line"),
            (4, "completely distinct content about unrelated topics appears"),
        ] + [(100 + i, f"doc body variant {i} " + boiler) for i in range(6)],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared_fps
        for r in winnow_overlap_pairs(docs, k=k, w=w, min_shared=2,
                                      max_fp_freq=None).collect()
    }
    assert (1, 2) in pairs  # guaranteed by the shared >= k+w-1 substring
    assert not any(3 in p or 4 in p for p in pairs)  # disjoint docs: no pair
    # the 6 boilerplate docs all pair with each other (15 pairs)
    assert sum(1 for a, b in pairs if a >= 100 and b >= 100) == 15
    # guard: the boilerplate fingerprints are shared by 6 docs; capping
    # fingerprint frequency at 5 removes every boilerplate-only pair but
    # keeps the organic (1, 2) overlap
    guarded = {
        (r.doc_a, r.doc_b)
        for r in winnow_overlap_pairs(docs, k=k, w=w, min_shared=2,
                                      max_fp_freq=5).collect()
    }
    assert (1, 2) in guarded
    assert not any(a >= 100 and b >= 100 for a, b in guarded)


def test_line_dedup_cuts_cross_doc_boilerplate_only(spark):
    """CCNet-style line dedup: a boilerplate line repeated across
    documents is cut from every document; lines unique to one document
    survive IN ORDER — including a line repeated only WITHIN one doc
    (the duplicate decision counts distinct documents, not occurrences);
    a doc made entirely of boilerplate comes back empty, not absent."""
    from substreams_sink_parquet_spark.llm.dedup import line_dedup

    footer = "all rights reserved contact us"
    docs = spark.createDataFrame(
        [
            (1, f"alpha unique line\n{footer}\nbeta unique line"),
            (2, f"gamma content here\n{footer}\ndelta content there"),
            (3, "self repeated line\nself repeated line\nown text"),
            (4, footer),
            (5, f"  {footer} \nepsilon"),  # trimmed compare still matches
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs, min_dup_docs=2).collect()}
    assert got[1].clean_text == "alpha unique line\nbeta unique line"
    assert got[1].n_lines == 3 and got[1].n_removed == 1
    assert got[2].clean_text == "gamma content here\ndelta content there"
    # within-doc repetition is not cross-doc boilerplate: kept
    assert got[3].clean_text == "self repeated line\nself repeated line\nown text"
    assert got[3].n_removed == 0
    # all-boilerplate doc: present, empty
    assert got[4].clean_text == "" and got[4].n_removed == 1
    # the padded footer variant trims to the same hash: cut
    assert got[5].clean_text.strip() == "epsilon"
    assert set(got) == {1, 2, 3, 4, 5}


def test_corpus_line_dedup_stage_cuts_cumulative_boilerplate(spark, tmp_path):
    """Streaming boilerplate stage: line hotness accumulates across the
    persistent _line_index, so a footer that never co-occurs within one
    batch still gets cut once enough admitted documents carried it; docs
    emptied by the cut land in _line_rejects (never silently vanish);
    replaying an epoch excludes its own counts and converges."""
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        compact_index,
        corpus_docs,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    footer = "all rights reserved contact us"
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out, line_dedup_min_docs=3)

    def batch(rows, epoch):
        sink.process_batch(
            spark.createDataFrame(
                [(i, t, "en", "w", len(t), None) for i, t in rows], ddl
            ),
            epoch,
        )

    # epochs 0 and 1: footer seen in 1 doc each — below the threshold,
    # admitted verbatim (hotness is cumulative, not per-batch)
    batch([(1, f"alpha unique\n{footer}")], 0)
    batch([(2, f"beta unique\n{footer}")], 1)
    got = {r.doc_id: r.text for r in corpus_docs(spark, out).collect()}
    assert got[1] == f"alpha unique\n{footer}"
    assert got[2] == f"beta unique\n{footer}"
    # epoch 2: cumulative footer count reaches 3 — cut from this batch's
    # docs; the all-footer doc empties out and is recorded, not admitted
    batch([(3, f"gamma unique\n{footer}"), (4, footer)], 2)
    got = {r.doc_id: r.text for r in corpus_docs(spark, out).collect()}
    assert got[3] == "gamma unique"
    assert 4 not in got
    rej = spark.read.parquet(out + "/_line_rejects").collect()
    assert {r.doc_id for r in rej} == {4}
    # n_chars tracks the CLEANED text
    n4 = {r.doc_id: r.n_chars for r in corpus_docs(spark, out).collect()}
    assert n4[3] == len("gamma unique")
    # replay epoch 2: its own first-attempt counts are excluded, so the
    # decision (and the admitted corpus) is identical
    batch([(3, f"gamma unique\n{footer}"), (4, footer)], 2)
    got2 = {r.doc_id: r.text for r in corpus_docs(spark, out).collect()}
    assert got2 == got
    # compaction SUMS the per-epoch counts (distinct would forget 2 of 3
    # footer sightings) — post-compact, the footer stays hot for epoch 3
    assert compact_index(spark, out) is True
    batch([(5, f"delta unique\n{footer}")], 3)
    got3 = {r.doc_id: r.text for r in corpus_docs(spark, out).collect()}
    assert got3[5] == "delta unique"


def test_winnow_decontaminate_guarantee_and_tokenization_blindspot(spark):
    """The winnowing guarantee applied to decontamination: a training doc
    sharing a >= k+w-1 char substring with an eval doc MUST be flagged —
    including when punctuation edits shift every word boundary (the
    word-n-gram scan's blind spot); clean docs are not flagged."""
    from substreams_sink_parquet_spark.llm.dedup import decontaminate
    from substreams_sink_parquet_spark.llm.text import winnow_decontaminate

    k, w = 12, 4
    bench = "what is the capital city of france and when was it founded"
    train = spark.createDataFrame(
        [
            (1, "some page quoting: " + bench + " verbatim in its body"),
            # same chars, but punctuation glued to words shifts EVERY
            # word 8-gram — the n-gram scan cannot see this one
            (2, "quiz page: " + bench.replace(" founded", ", founded?")),
            (3, "entirely unrelated content about parquet row groups"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, bench)], "doc_id long, text string"
    )
    flagged = {
        r.doc_id: r.n_eval_docs
        for r in winnow_decontaminate(train, eval_set, k=k, w=w).collect()
    }
    assert 1 in flagged and flagged[1] == 1
    assert 2 in flagged          # char-level catches the punctuation edit
    assert 3 not in flagged
    # the word-8-gram scan misses doc 2's contamination prefix? doc 2
    # still shares the long un-edited word prefix, so compare on a doc
    # where EVERY 8-gram is broken: interleave punctuation throughout
    # keep one >= k+w-1 char run ("capital city of", 15 chars) intact so
    # the winnowing guarantee applies; every word boundary elsewhere is
    # riddled, so no word 8-gram survives for the n-gram scan
    riddled = bench.replace(" ", ", ").replace(
        "capital, city, of,", "capital city of,"
    )
    train2 = spark.createDataFrame(
        [(9, "prefix " + riddled + " suffix")], "doc_id long, text string"
    )
    ng = {r.doc_id for r in decontaminate(train2, eval_set, n=8).collect()}
    assert 9 not in ng           # n-gram scan blind
    wd = {
        r.doc_id
        for r in winnow_decontaminate(train2, eval_set, k=8, w=3).collect()
    }
    assert 9 in wd               # fingerprints still catch shared chars


def test_source_curation_flags_trap_and_spam_domains_only(spark):
    """Whole-source pruning semantics: a scraper-trap source (identical
    pages) flags on dup_rate, an all-rejects source flags on keep_rate,
    and a healthy source with organic docs does not flag."""
    from substreams_sink_parquet_spark.llm.text import source_curation_report

    healthy = ("the quick brown fox jumps over a lazy dog while the patient "
               "cat watches from a warm sunny windowsill nearby today and "
               "it is a fine day of calm weather in the garden")
    rows = (
        [(i, healthy + f" variant {i}", "good") for i in range(10)]
        + [(100 + i, "copy of the same page body here", "trap")
           for i in range(10)]
        + [(200 + i, f"x{i}", "spam") for i in range(10)]  # all too_short
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    rep = {r.source: r for r in source_curation_report(docs).collect()}
    assert not rep["good"].flagged and rep["good"].keep_rate == 1.0
    assert rep["trap"].flagged and rep["trap"].dup_rate == 0.9
    assert rep["spam"].flagged and rep["spam"].keep_rate == 0.0
    assert rep["trap"].n_unique_texts == 1 and rep["good"].n_unique_texts == 10


def test_line_retro_stale_audit_matches_batch_diff_exactly(spark, tmp_path):
    """VERDICT r6 Next #4: the incremental stage's shard-local trade —
    docs admitted BEFORE a line crossed the hotness threshold keep it —
    is measured, not just documented: line_retro_stale returns exactly
    the docs where the streamed corpus diverges from a batch line_dedup
    pass over the same input, with the per-doc stale-line count."""
    from substreams_sink_parquet_spark.llm.dedup import line_dedup
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
        line_retro_stale,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    footer = "all rights reserved contact us"
    rows = [
        # epoch 0: footer hotness 2 < 3 — docs 1, 2 admitted WITH it
        (0, [(1, f"alpha unique\n{footer}\nalpha tail"),
             (2, f"beta unique\n{footer}")]),
        # epoch 1: cumulative hotness 2+2 >= 3 — cut from docs 3, 4 only
        (1, [(3, f"gamma unique\n{footer}"),
             (4, f"delta unique\n{footer}\ndelta tail")]),
        (2, [(5, "epsilon unique only")]),
    ]
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out, line_dedup_min_docs=3)
    for epoch, batch_rows in rows:
        sink.process_batch(
            spark.createDataFrame(
                [(i, t, "en", "w", len(t), None) for i, t in batch_rows], ddl
            ),
            epoch,
        )

    audit = {r.doc_id: r.n_stale_lines
             for r in line_retro_stale(spark, out, min_dup_docs=3).collect()}
    assert audit == {1: 1, 2: 1}  # admitted pre-threshold, 1 stale line each

    # ground truth: the batch pass over the SAME input — the audit set
    # must equal the streamed-vs-batch text diff EXACTLY, nothing more
    all_docs = spark.createDataFrame(
        [(i, t) for _, batch_rows in rows for i, t in batch_rows],
        "doc_id long, text string",
    )
    batch_clean = {r.doc_id: r.clean_text
                   for r in line_dedup(all_docs, min_dup_docs=3).collect()}
    streamed = {r.doc_id: r.text for r in corpus_docs(spark, out).collect()}
    diverged = {d for d, t in streamed.items() if batch_clean[d] != t}
    assert diverged == set(audit)
    # and the gap is the footer itself: stale docs still carry it
    assert all(footer in streamed[d] for d in audit)
    # a corpus with no line index (stage off) audits empty, not a crash
    out2 = str(tmp_path / "out2")
    CorpusSink(spark=spark, out_dir=out2).process_batch(
        spark.createDataFrame([(9, "solo", "en", "w", 4, None)], ddl), 0
    )
    assert line_retro_stale(spark, out2, min_dup_docs=3).count() == 0


def test_corpus_stream_records_per_epoch_doc_profiles(spark, tmp_path):
    """profile=True: each batch snapshots the ADMITTED docs' derived
    chars/words/lang distribution under _profile/epoch={id} — same layout
    and drift reader as the block sink's ingest history. Rejected dups do
    not count: the profile describes what the corpus serves."""
    import json as _json

    from substreams_sink_parquet_spark.operators.profiling import (
        profile_history_drift,
        read_profile_history,
    )
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        run_corpus_pipeline,
    )

    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "web",
             "n_chars": len(text)}
        )

    (in_dir / "s0.jsonl").write_text(
        "\n".join([doc(1, "tiny doc"), doc(2, "other tiny doc")]) + "\n"
    )
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt,
                               profile=True)
    q.awaitTermination(120)
    # second batch: one re-crawl (rejected, must not be profiled), one
    # much longer admitted doc that moves the chars range
    (in_dir / "s1.jsonl").write_text(
        "\n".join([doc(9, "tiny doc"),
                   doc(10, " ".join(f"w{i}" for i in range(40)))]) + "\n"
    )
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt,
                               profile=True)
    q.awaitTermination(120)

    hist = read_profile_history(spark, out_dir)
    rows = {(r.epoch, r.column): r for r in hist.collect()}
    assert rows[(0, "chars")].n_rows == 2
    assert rows[(1, "chars")].n_rows == 1          # only doc 10 admitted
    assert int(rows[(1, "words")].min_repr) == 40
    drift = {r.column: r for r in profile_history_drift(hist).collect()}
    assert drift["chars"].drifted and drift["chars"].range_changed


def test_corpus_docs_as_of_epoch_is_a_pruned_snapshot(spark, tmp_path):
    """Time-travel read: as_of_epoch=N returns exactly the corpus as it
    stood after batch N committed, and because epoch is the partition
    column the later epochs' files never enter the plan (partition
    pruning, not a post-scan filter)."""
    import json as _json

    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        corpus_docs,
        run_corpus_pipeline,
    )

    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "web",
             "n_chars": len(text)}
        )

    for batch, texts in enumerate([[(1, "alpha doc")], [(2, "beta doc")]]):
        (in_dir / f"s{batch}.jsonl").write_text(
            "\n".join(doc(i, t) for i, t in texts) + "\n")
        q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt)
        q.awaitTermination(120)

    assert {r.doc_id for r in corpus_docs(spark, out_dir).collect()} == {1, 2}
    snap = corpus_docs(spark, out_dir, as_of_epoch=0)
    assert [r.doc_id for r in snap.collect()] == [1]
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "epoch" in plan.split("PartitionFilters", 1)[1][:120]


def test_corpus_profile_history_guards_fresh_checkpoints(spark, tmp_path):
    """A fresh checkpoint restarts epoch ids at 0; the corpus _profile
    history must refuse the overwrite loudly (same _STREAM_ID contract
    as the rollup and block-sink profile histories)."""
    import json as _json

    import pytest

    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        run_corpus_pipeline,
    )

    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    in_dir.mkdir()
    (in_dir / "s0.jsonl").write_text(_json.dumps(
        {"doc_id": 1, "text": "alpha doc", "lang": "en", "source": "web",
         "n_chars": 9}) + "\n")
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir,
                               str(tmp_path / "ckpt"), profile=True)
    q.awaitTermination(120)

    (in_dir / "s1.jsonl").write_text(_json.dumps(
        {"doc_id": 2, "text": "beta doc", "lang": "en", "source": "web",
         "n_chars": 8}) + "\n")
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir,
                               str(tmp_path / "ckpt2"), profile=True)
    with pytest.raises(Exception, match="refusing epoch overwrite"):
        q.awaitTermination(120)


def test_corpus_decontamination_gate_rejects_before_index(spark, tmp_path):
    """Decontamination gate: a doc sharing an 8-gram with the eval set is
    rejected WITH its hit count under _contam_rejects/, never admitted,
    and its hash never enters the dedup index; clean docs flow through.
    The gate is stateless, so a checkpointed replay converges; a missing
    eval path fails at construction, not on batch 47."""
    import json as _json

    import pytest

    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        corpus_docs,
        run_corpus_pipeline,
    )

    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    eval_text = ("what is the capital of freedonia the answer is "
                 "sylvania city of course my friend")
    clean_a = ("the quick brown fox jumps over the lazy dog while a calm "
               "river flows past the old stone bridge in the sun")
    clean_b = ("children play near tall green trees beside the warm "
               "meadow as evening settles over the quiet village")
    leaked = "some padding words then " + eval_text + " and a tail here"

    ev_dir = str(tmp_path / "eval")
    spark.createDataFrame(
        [(100, eval_text)], "doc_id long, text string"
    ).write.parquet(ev_dir)

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "web",
             "n_chars": len(text)}
        )

    (in_dir / "s0.jsonl").write_text(
        "\n".join([doc(1, clean_a), doc(2, leaked), doc(3, clean_b)]) + "\n"
    )
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt,
                               decontaminate_eval_dir=ev_dir)
    q.awaitTermination(120)
    assert {r.doc_id for r in corpus_docs(spark, out_dir).collect()} == {1, 3}
    rej = spark.read.parquet(
        str(tmp_path / "out" / "_contam_rejects")
    ).collect()
    assert len(rej) == 1 and rej[0].doc_id == 2 and rej[0].n_grams_hit > 0
    idx = spark.read.parquet(str(tmp_path / "out" / "_index"))
    assert idx.count() == 2  # only the clean docs' hashes

    # replay convergence (stateless gate + epoch-overwrite writes)
    q, _ = run_corpus_pipeline(spark, str(in_dir), out_dir, ckpt,
                               decontaminate_eval_dir=ev_dir)
    q.awaitTermination(120)
    assert {r.doc_id for r in corpus_docs(spark, out_dir).collect()} == {1, 3}
    assert spark.read.parquet(
        str(tmp_path / "out" / "_contam_rejects")
    ).count() == 1

    # unreadable eval set: loud at construction
    with pytest.raises(ValueError, match="decontaminate_eval_dir"):
        run_corpus_pipeline(spark, str(in_dir), str(tmp_path / "out2"),
                            str(tmp_path / "ckpt2"),
                            decontaminate_eval_dir=str(tmp_path / "nope"))


def test_corpus_decontamination_winnow_mode_catches_edited_copy(spark,
                                                                tmp_path):
    """Winnow mode: a punctuation/casing-edited copy of an eval item —
    which shares NO word 8-gram with it — is still rejected (shared
    >= k+w-1 char substrings survive the edits); clean docs pass; the
    same edited copy sails through ngram mode, pinning that the mode
    actually changes the detector. Unknown mode fails at construction."""
    import json as _json

    import pytest

    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        corpus_docs,
        run_corpus_pipeline,
    )

    eval_text = ("what is the capital of freedonia the answer is "
                 "sylvania city of course my friend")
    # every word survives, but punctuation shifts every 8-gram boundary
    edited = ("What, is the capital of freedonia; the answer is "
              "sylvania city -- of course, my friend!")
    clean = ("children play near tall green trees beside the warm "
             "meadow as evening settles over the quiet village")

    ev_dir = str(tmp_path / "eval")
    spark.createDataFrame(
        [(100, eval_text)], "doc_id long, text string"
    ).write.parquet(ev_dir)

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "web",
             "n_chars": len(text)}
        )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "s0.jsonl").write_text(
        "\n".join([doc(1, edited), doc(2, clean)]) + "\n"
    )

    # ngram mode misses the edited copy (boundaries shifted)
    q, _ = run_corpus_pipeline(
        spark, str(in_dir), str(tmp_path / "out_ng"),
        str(tmp_path / "ckpt_ng"), decontaminate_eval_dir=ev_dir,
    )
    q.awaitTermination(120)
    got = {r.doc_id
           for r in corpus_docs(spark, str(tmp_path / "out_ng")).collect()}
    assert got == {1, 2}

    # winnow mode catches it
    q, _ = run_corpus_pipeline(
        spark, str(in_dir), str(tmp_path / "out_wn"),
        str(tmp_path / "ckpt_wn"), decontaminate_eval_dir=ev_dir,
        decontaminate_mode="winnow",
    )
    q.awaitTermination(120)
    got = {r.doc_id
           for r in corpus_docs(spark, str(tmp_path / "out_wn")).collect()}
    assert got == {2}
    rej = spark.read.parquet(
        str(tmp_path / "out_wn" / "_contam_rejects")
    ).collect()
    assert len(rej) == 1 and rej[0].doc_id == 1

    with pytest.raises(ValueError, match="decontaminate_mode"):
        run_corpus_pipeline(
            spark, str(in_dir), str(tmp_path / "out_x"),
            str(tmp_path / "ckpt_x"), decontaminate_eval_dir=ev_dir,
            decontaminate_mode="typo",
        )


def test_sink_restart_repairs_crashed_index_compact(spark, tmp_path):
    """A compact_index crashed inside its commit window (sources deleted,
    ``_compact`` armed with its manifest, not yet renamed) leaves the
    folded dedup hashes ONLY in the tmp dir — the per-batch membership
    reads list ``epoch=`` dirs, so without repair a RESTARTED stream
    would silently re-admit everything the fold covered. CorpusSink
    repairs on construction (writer-side recover), so the restarted
    stream still rejects the duplicates."""
    import json

    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.sources.text_corpus import CORRUPT_COL
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        compact_index,
        corpus_docs,
    )

    ddl = (f"doc_id long, text string, lang string, source string, "
           f"n_chars long, {CORRUPT_COL} string")
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out)
    sink.process_batch(
        spark.createDataFrame([(1, "aa", "en", "w", 2, None)], ddl), 0
    )
    sink.process_batch(
        spark.createDataFrame([(2, "bb", "en", "w", 2, None)], ddl), 1
    )
    sink.process_batch(
        spark.createDataFrame([(3, "cc", "en", "w", 2, None)], ddl), 2
    )
    assert compact_index(spark, out) is True
    # rewind the commit's rename: epoch=-1 (holding epochs 0+1's hashes)
    # back to an armed _compact naming its deleted sources
    root = tmp_path / "out" / "_index"
    (root / "epoch=-1").rename(root / "_compact")
    (root / "_compact" / "_MERGED.json").write_text(
        json.dumps({"sources": ["epoch=0", "epoch=1"]})
    )
    # restart: a fresh sink over the same out_dir repairs on construction
    sink2 = CorpusSink(spark=spark, out_dir=out)
    fs = HadoopFS(spark, out)
    assert fs.exists(out + "/_index/epoch=-1")
    assert not fs.exists(out + "/_index/_compact")
    # and the repaired index still rejects the folded epochs' content
    sink2.process_batch(
        spark.createDataFrame(
            [(9, "aa", "en", "w", 2, None),   # dup of folded epoch 0
             (10, "bb", "en", "w", 2, None),  # dup of folded epoch 1
             (11, "dd", "en", "w", 2, None)], ddl
        ),
        3,
    )
    got = {r.doc_id for r in corpus_docs(spark, out).collect()}
    assert got == {1, 2, 3, 11}


def test_quality_gate_fails_closed_on_null_text(spark):
    """A NULL text (ingest yields one for a missing 'text' key on an
    otherwise-clean JSONL line) used to fall through every numeric rule
    (NULL conditions are false) to 'keep' — a contentless document
    passing the Gopher gate. It now names its drop reason (code review
    r11); the DuckDB oracle CASE carries the same first rule."""
    from pyspark.sql import functions as F

    from substreams_sink_parquet_spark.llm.text import quality_verdict_expr

    good = " ".join(f"word{i}" for i in range(30)) + " the end is here"
    df = spark.createDataFrame(
        [(1, None), (2, good)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.v
        for r in df.select(
            "doc_id", quality_verdict_expr().alias("v")
        ).collect()
    }
    assert got[1] == "null_text"
    assert got[2] == "keep"


def test_text_stats_and_hashing_tf_survive_degenerate_docs(spark, tmp_path):
    """Single-word and empty-text documents are in-contract: the bigram
    index expression used sequence(0, -1) — which DESCENDS in Spark —
    and crashed with INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI; the
    punct_ratio division by length('') aborted with DIVIDE_BY_ZERO.
    Both now degrade exactly like their DuckDB oracles (empty bigram
    list; NULL ratio)."""
    from substreams_sink_parquet_spark.catalog import registry

    spark.createDataFrame(
        [(1, "en", "solo"), (2, "en", ""), (3, "en", "two words here")],
        "doc_id long, lang string, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    reg = registry()
    tf = {r.doc_id: r for r in
          reg["q_text_hashing_tf_delta"].fn(spark, str(tmp_path)).collect()}
    assert set(tf) == {1, 2, 3}
    assert all(r.tf_mass_ok for r in tf.values())
    assert tf[1].n_bigrams == 0 and tf[3].n_bigrams == 2
    stats = {r.doc_id: r for r in
             reg["q_text_stats"].fn(spark, str(tmp_path)).collect()}
    assert stats[2].punct_ratio is None  # 0/0 -> NULL, the DuckDB value
    assert stats[1].punct_ratio == 0.0


def test_chunk_documents_covers_and_preserves_columns(spark):
    """The pre-export chunker the export module's docstring names: full
    sliding-window coverage (1 + ceil(max(len-size,0)/stride) windows),
    every non-text column carried through, chunk length bounded by
    size_chars, null-text rows dropped."""
    import pytest

    from substreams_sink_parquet_spark.llm.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "en", "a" * 500), (2, "fr", "short"), (3, "de", None)],
        "doc_id long, lang string, text string",
    )
    out = chunk_documents(docs, size_chars=200, stride=160).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc.get(2, [])) == 1
    assert by_doc[2][0].text == "short" and by_doc[2][0].lang == "fr"
    chunks = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [c.chunk_id for c in chunks] == [0, 1, 2]
    assert all(len(c.text) <= 200 for c in chunks)
    assert chunks[-1].chunk_id * 160 + 200 >= 500  # final window covers
    assert "".join(c.text[:160] for c in chunks[:-1]) == "a" * 320
    assert 3 not in by_doc  # null text: no chunks
    with pytest.raises(ValueError, match="positive"):
        chunk_documents(docs, size_chars=0)


_DDL_R11 = ("doc_id long, text string, lang string, source string, "
            f"n_chars long, {CORRUPT_COL} string")


def test_fresh_checkpoint_refuses_existing_corpus(spark, tmp_path):
    """A lost/recreated checkpoint restarts epoch ids at 0: its epoch
    overwrites would destroy old epochs' docs/_index one dir at a time
    WHILE the re-fed copies are rejected against those same indexes —
    documents permanently lost with no record (code review r11). The
    _STREAM_ID guard refuses the mismatched stream loudly."""
    import pytest

    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink, corpus_docs,
    )

    out = str(tmp_path / "out")
    rows = [(1, "alpha doc", "en", "w", 9, None)]
    a = CorpusSink(spark=spark, out_dir=out, stream_id="ckpt-a")
    a.process_batch(spark.createDataFrame(rows, _DDL_R11), 3)
    with pytest.raises(RuntimeError, match="built by stream"):
        CorpusSink(spark=spark, out_dir=out, stream_id="ckpt-b") \
            .process_batch(spark.createDataFrame(rows, _DDL_R11), 0)
    # the original stream continues fine; corpus intact
    a.process_batch(
        spark.createDataFrame([(2, "beta doc", "en", "w", 8, None)],
                              _DDL_R11), 4)
    assert {r.doc_id for r in corpus_docs(spark, out).collect()} == {1, 2}
    # a sink without a stream_id (ad-hoc/test usage) is unguarded
    CorpusSink(spark=spark, out_dir=str(tmp_path / "out2")) \
        .process_batch(spark.createDataFrame(rows, _DDL_R11), 0)


def test_drift_and_in_batch_dup_rejects_are_visible(spark, tmp_path):
    """Null-key schema drift and in-batch doc_id collisions are recorded
    to _drift_rejects with a reason, then dropped — previously the null
    filter was the pipeline's only SILENT drop, and duplicate in-batch
    doc_ids sailed through the admitted-id join as duplicate corpus rows
    (double-counting lexical/LM append stats)."""
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink, corpus_docs,
    )

    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out)
    sink.process_batch(spark.createDataFrame(
        [
            (1, "alpha doc", "en", "w", 9, None),
            (1, "alpha doc", "en", "w", 9, None),      # in-batch dup id
            (None, "orphan text", "en", "w", 11, None),  # null key
            (7, None, "en", "w", 0, None),               # null text
            (2, "beta doc", "en", "w", 8, None),
        ], _DDL_R11), 0)
    docs = corpus_docs(spark, out).collect()
    assert sorted(r.doc_id for r in docs) == [1, 2]  # each exactly once
    rej = spark.read.parquet(out + "/_drift_rejects").collect()
    reasons = sorted(((r.doc_id, r.reason) for r in rej),
                     key=lambda t: (t[0] is not None, t[0] or 0, t[1]))
    assert reasons == [(None, "null_key"), (1, "dup_doc_id_in_batch"),
                       (7, "null_key")]


def test_line_dedup_preserves_blank_lines_and_trailing_newline(
        spark, tmp_path):
    """The stage's only mutation is the advertised one — cutting lines
    that appear in >= N docs. Blank lines (paragraph structure) and the
    trailing newline survive reconstruction; previously every blank line
    was silently deleted corpus-wide even with no hot line, making the
    exact-dedup hash depend on whether line-dedup was configured
    (code review r11)."""
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink, corpus_docs,
    )

    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out, line_dedup_min_docs=3)
    footer = "all rights reserved"
    rows = [
        (1, f"para one\n\npara two\n{footer}\n", "en", "w", 0, None),
        (2, f"second doc\n\nmore text\n{footer}", "en", "w", 0, None),
        (3, f"third doc\n{footer}", "en", "w", 0, None),
        (4, "\n \n", "en", "w", 0, None),  # whitespace-only: rejected
    ]
    sink.process_batch(spark.createDataFrame(rows, _DDL_R11), 0)
    got = {r.doc_id: r.text for r in corpus_docs(spark, out).collect()}
    # hot footer cut, blank lines and trailing newline preserved
    assert got[1] == "para one\n\npara two\n"
    assert got[2] == "second doc\n\nmore text"
    assert got[3] == "third doc"
    assert 4 not in got
    rej = spark.read.parquet(out + "/_line_rejects").collect()
    assert {r.doc_id for r in rej} == {4}


def test_corpus_docs_empty_root_carries_epoch_column(spark, tmp_path):
    """The empty-corpus frame has the same schema as a populated one —
    epoch included — so epoch-based plans resolve before the first batch
    commits instead of throwing UNRESOLVED_COLUMN only on the empty
    case."""
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        corpus_docs,
    )

    df = corpus_docs(spark, str(tmp_path / "nope"), as_of_epoch=5)
    assert "epoch" in df.columns
    assert df.select("doc_id", "epoch").count() == 0


def test_recycled_external_artifact_dir_refuses_foreign_stream(spark, tmp_path):
    """The corpus-root guard (r11) protects THIS corpus's restarts, but a
    NEW stream pointed at a RECYCLED external LM/index dir passed it —
    its epoch-0 append overwrote the other stream's epoch-0 count deltas
    silently. The epoch-keyed external artifacts now carry their own
    _STREAM_ID binding, released by a full retrain (code review r12)."""
    import pytest

    from substreams_sink_parquet_spark.llm.lm import write_bigram_lm
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
    )

    lm_dir = str(tmp_path / "lm")
    docs = spark.createDataFrame(
        [(100, "seed words here")], "doc_id long, text string"
    )
    write_bigram_lm(docs, lm_dir, n_buckets=4)

    rows = [(1, "alpha doc words", "en", "w", 15, None)]
    a = CorpusSink(spark=spark, out_dir=str(tmp_path / "outA"),
                   stream_id="ckpt-a", lm_dir=lm_dir)
    a.process_batch(spark.createDataFrame(rows, _DDL_R11), 0)

    # a DIFFERENT stream (fresh corpus root, so the corpus guard passes)
    # must not adopt the LM's epoch history
    b = CorpusSink(spark=spark, out_dir=str(tmp_path / "outB"),
                   stream_id="ckpt-b", lm_dir=lm_dir)
    with pytest.raises(RuntimeError, match="built by stream"):
        b.process_batch(spark.createDataFrame(rows, _DDL_R11), 0)

    # a retrain supersedes (and deletes) the epoch history — the marker is
    # released with it, so the new stream appends cleanly from epoch 0
    write_bigram_lm(docs, lm_dir, n_buckets=4)
    b.process_batch(spark.createDataFrame(rows, _DDL_R11), 0)


def test_reject_dirs_are_written_only_for_nonempty_classes(spark, tmp_path):
    """The quarantine and drift dirs of an epoch exist only when that
    epoch rejected rows of their class; a replay of the epoch without
    rejects removes the dirs its earlier attempt wrote."""
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
    )

    out = tmp_path / "out"
    sink = CorpusSink(spark=spark, out_dir=str(out))
    dirty = [(1, "alpha doc", "en", "w", 9, None),
             (1, "alpha doc", "en", "w", 9, None),        # in-batch dup id
             (None, None, None, None, None, "{broken")]   # unparseable
    clean = [(2, "beta doc", "en", "w", 8, None)]
    sink.process_batch(spark.createDataFrame(dirty, _DDL_R11), 0)
    sink.process_batch(spark.createDataFrame(clean, _DDL_R11), 1)
    assert [r[0] for r in spark.read.parquet(
        str(out / "_quarantine" / "epoch=0")).collect()] == ["{broken"]
    assert [(r.doc_id, r.reason) for r in spark.read.parquet(
        str(out / "_drift_rejects" / "epoch=0")).collect()] \
        == [(1, "dup_doc_id_in_batch")]
    for name in ("_quarantine", "_drift_rejects"):
        assert not (out / name / "epoch=1").exists()
    # replay epoch 0 without its bad rows: its stale reject dirs go
    sink.process_batch(spark.createDataFrame(clean, _DDL_R11), 0)
    for name in ("_quarantine", "_drift_rejects"):
        assert not (out / name / "epoch=0").exists()


def test_near_dup_epoch_computes_signatures_once_and_sizes_files(
        spark, tmp_path, monkeypatch):
    """One near-dup epoch computes its MinHash signatures once; a small
    epoch writes docs, _index and _neardup_index as one file each; and the
    index increments hold exactly the admitted docs' digests."""
    import glob
    import hashlib

    from substreams_sink_parquet_spark.llm import dedup
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    real = dedup.minhash_signatures
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_signatures", counted)

    def text(i):
        return " ".join(f"w{i}x{j}" for j in range(40))

    def row(doc_id, t):
        return (doc_id, t, "en", "w", len(t), None)

    epochs = [
        [row(i, text(i)) for i in range(20)],
        [row(i, text(i)) for i in range(100, 120)]
        + [row(200, text(0)),                               # exact dup
           row(201, text(1).replace("w1x17", "edited")),   # near dup
           row(202, "two words")],                          # unscreenable
    ]
    out = str(tmp_path / "out")
    sink = CorpusSink(spark=spark, out_dir=out, near_dup=True)
    for epoch_id, rows in enumerate(epochs):
        before = len(calls)
        sink.process_batch(spark.createDataFrame(rows, _DDL_R11), epoch_id)
        assert len(calls) == before + 1
    for sub in ("docs", "_index", "_neardup_index"):
        files = glob.glob(os.path.join(out, sub, "epoch=1", "*.parquet"))
        assert len(files) == 1, (sub, files)
    admitted = corpus_docs(spark, out).filter("epoch = 1").select(
        "doc_id", "text")
    texts = {r.doc_id: r.text for r in admitted.collect()}
    assert set(texts) == set(range(100, 120)) | {202}
    index = spark.read.parquet(os.path.join(out, "_index", "epoch=1"))
    assert sorted(r.text_hash for r in index.collect()) == sorted(
        hashlib.md5(t.encode()).hexdigest() for t in texts.values())

    def band_rows(df):
        return sorted((r.band_id, r.band_hash, list(r.sig))
                      for r in df.collect() if r.band_id is not None)

    nd_index = spark.read.parquet(os.path.join(out, "_neardup_index", "epoch=1"))
    assert band_rows(nd_index) == band_rows(dedup.banded_minhash(admitted))
