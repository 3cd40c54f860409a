"""Persisted BM25 postings index (llm/lexical_index.py): indexed ==
direct scores to the digit (build, appends, compaction), partition-pruned
query plans that never touch documents.text, and the crash-safety
contracts (meta commit marker, epoch stats marker)."""

import json
import re
import zlib

import pytest
from pyspark.sql import functions as F

from substreams_sink_parquet_spark.llm import lexical_index as L
from substreams_sink_parquet_spark.llm.text import (
    _BM25_BATCH_QUERIES,
    bm25_scores_batch,
)
from substreams_sink_parquet_spark.tables import load


def _docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").select("doc_id", "text")


def _queries(spark):
    return spark.createDataFrame(
        list(_BM25_BATCH_QUERIES), "query_id int, query string"
    )


def _collect(df):
    return sorted(
        (r.query_id, r.doc_id, r.bm25, r.n_terms_matched)
        for r in df.collect()
    )


def test_indexed_equals_direct_exactly(spark, sf_dir, tmp_path):
    """The headline contract: scores served from the index equal the
    direct (re-tokenize every call) formulation to the digit, including
    the max_doc_freq hot-term guard."""
    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=16)
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == _collect(
        bm25_scores_batch(docs, qs)
    )
    assert _collect(
        L.bm25_scores_indexed(spark, idx, qs, max_doc_freq=400)
    ) == _collect(bm25_scores_batch(docs, qs, max_doc_freq=400))


def test_query_scans_only_matched_buckets_never_documents(spark, sf_dir,
                                                          tmp_path):
    """The point of the layout: the postings scan carries a STATIC
    partition filter of exactly the buckets the query terms hash into
    (crc32 % n_buckets, computed driver-side with zlib), the exact-term
    filter is pushed to the parquet source, and documents.text appears
    nowhere in the plan."""
    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=16)
    qs = _queries(spark)
    res = L.bm25_scores_indexed(spark, idx, qs)
    fmt = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    m = re.search(r"PartitionFilters: \[term_bucket#\d+ IN \(([^)]+)\)", fmt)
    assert m, fmt
    terms = {t for _, q in _BM25_BATCH_QUERIES for t in q.split()}
    expected = {zlib.crc32(t.encode()) % 16 for t in terms}
    assert {int(b) for b in m.group(1).split(",")} == expected
    assert re.search(r"PushedFilters: \[.*In\(term", fmt), fmt
    assert sf_dir not in fmt  # the corpus table is not in the plan


def test_epoch_append_keeps_scores_exact(spark, sf_dir, tmp_path):
    """Appends are NOT approximate (no frozen-stats drift, unlike the ANN
    index's frozen codebooks): per-epoch stats deltas keep n_docs/avgdl
    current and df derives from the scanned postings, so base+appends ==
    a direct pass over the full corpus. A replayed epoch overwrites
    itself and converges (at-least-once safety)."""
    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter((F.col("doc_id") % 4) == 1)
    half_c = docs.filter((F.col("doc_id") % 4) == 3)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(half_a, idx, n_buckets=16)
    L.append_epoch_to_lexical_index(half_b, idx, epoch_id=0)
    L.append_epoch_to_lexical_index(half_c, idx, epoch_id=1)
    direct = _collect(bm25_scores_batch(docs, qs))
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == direct
    # at-least-once replay of epoch 1: overwrite, not double-insert
    L.append_epoch_to_lexical_index(half_c, idx, epoch_id=1)
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == direct


def test_compaction_preserves_scores_and_trailing_epoch(spark, sf_dir,
                                                        tmp_path):
    """Folding epochs into epoch=-1 (postings concatenated, stats deltas
    summed) changes no score; the highest-numbered epoch survives by
    name (its crashed replay relies on overwriting it)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 600)
    qs = _queries(spark)
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    idx = str(tmp_path / "lex")
    L.write_lexical_index(parts[0], idx, n_buckets=16)
    for i, p in enumerate(parts[1:]):
        L.append_epoch_to_lexical_index(p, idx, epoch_id=i)
    before = _collect(L.bm25_scores_indexed(spark, idx, qs))
    assert before == _collect(bm25_scores_batch(docs, qs))
    assert L.compact_lexical_epochs(spark, idx, min_epochs=2)
    ep_root = tmp_path / "lex" / "postings_epochs"
    names = {p.name for p in ep_root.iterdir()}
    assert names == {"epoch=-1", "epoch=2"}  # trailing epoch kept by name
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == before
    # folded stats JSON is the sum of the folded deltas
    folded = json.loads((ep_root / "epoch=-1" / "_EPOCH_STATS.json").read_text())
    n1 = parts[1].count()
    n2 = parts[2].count()
    assert folded["n_docs"] == n1 + n2


def test_missing_meta_and_missing_epoch_stats_fail_loudly(spark, sf_dir,
                                                          tmp_path):
    """Crash-safety loudness: postings without the meta commit marker are
    refused (rebuild crashed mid-overwrite), and an epoch dir whose stats
    JSON is missing (append crashed between postings and stats writes) is
    refused BY NAME so the operator knows which batch to replay."""
    docs = _docs(spark, sf_dir).limit(50)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=4)
    L.append_epoch_to_lexical_index(docs.limit(10), idx, epoch_id=7)
    (tmp_path / "lex" / "postings_epochs" / "epoch=7"
     / "_EPOCH_STATS.json").unlink()
    with pytest.raises(FileNotFoundError, match="epoch=7"):
        L.bm25_scores_indexed(spark, idx, qs).collect()
    (tmp_path / "lex" / "_LEX_META.json").unlink()
    with pytest.raises(FileNotFoundError, match="_LEX_META"):
        L.bm25_scores_indexed(spark, idx, qs)


def test_empty_build_then_appends_only(spark, sf_dir, tmp_path):
    """The corpus-stream bootstrap shape: an index built over an EMPTY
    seed corpus (meta n_docs=0, no postings files) serves appends alone,
    still equal to direct scores over exactly the appended docs."""
    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    empty = docs.filter(F.lit(False))
    idx = str(tmp_path / "lex")
    L.write_lexical_index(empty, idx, n_buckets=8)
    assert L.bm25_scores_indexed(spark, idx, qs).count() == 0
    sub = docs.filter(F.col("doc_id") < 300)
    L.append_epoch_to_lexical_index(sub, idx, epoch_id=0)
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == _collect(
        bm25_scores_batch(sub, qs)
    )


def test_empty_query_terms_returns_empty(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir).limit(20)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=4)
    qs = spark.createDataFrame([(1, " ")], "query_id int, query string")
    assert L.bm25_scores_indexed(spark, idx, qs).count() == 0


def test_degenerate_returns_inherit_query_id_type(spark, sf_dir, tmp_path):
    """ADVICE r7: the populated path inherits query_id's type from the
    caller's table (bigint from a parquet --queries-table), so the two
    empty-result early returns must derive it the same way instead of
    hardcoding int — schema must agree between the degenerate and
    populated cases for any caller type."""
    docs = _docs(spark, sf_dir).limit(20)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=4)
    for qid_t, qid in (("bigint", 7), ("int", 7), ("string", "7")):
        qs = spark.createDataFrame(
            [(qid, "the")], f"query_id {qid_t}, query string"
        )
        populated = L.bm25_scores_indexed(spark, idx, qs)
        no_terms = L.bm25_scores_indexed(
            spark, idx, qs.withColumn("query", F.lit(" "))
        )
        # names + types must agree (nullability flags legitimately differ
        # between a join output and a literal empty frame)
        assert [(f.name, f.dataType) for f in no_terms.schema] == \
               [(f.name, f.dataType) for f in populated.schema], qid_t
        assert no_terms.schema["query_id"].dataType.simpleString() == qid_t
    # empty-index early return (no postings frames) agrees too
    empty_idx = str(tmp_path / "lex_empty")
    L.write_lexical_index(docs.filter(F.lit(False)), empty_idx, n_buckets=4)
    qs = spark.createDataFrame([(7, "the")], "query_id bigint, query string")
    out = L.bm25_scores_indexed(spark, empty_idx, qs)
    assert out.count() == 0
    assert out.schema["query_id"].dataType.simpleString() == "bigint"


def test_corpus_stream_lexical_appends_track_admissions(spark, tmp_path):
    """CorpusSink composition: admitted docs (and ONLY admitted docs —
    rejects leave no postings) become retrievable per batch; a replayed
    epoch converges; scores equal direct BM25 over the admitted corpus."""
    from substreams_sink_parquet_spark.sources.text_corpus import DOC_SCHEMA
    from substreams_sink_parquet_spark.streaming.corpus_stream import (
        CorpusSink,
        corpus_docs,
    )

    idx = str(tmp_path / "lex")
    out = str(tmp_path / "corpus")
    L.write_lexical_index(
        spark.createDataFrame([], "doc_id long, text string"), idx,
        n_buckets=8,
    )
    sink = CorpusSink(spark=spark, out_dir=out, lexical_index_dir=idx)

    def batch(rows):
        return spark.createDataFrame(rows, DOC_SCHEMA)

    def doc(i, text):
        return (i, text, "en", "web", len(text), None, None)

    b0 = batch([doc(1, "alpha beta gamma"), doc(2, "delta epsilon zeta")])
    sink.process_batch(b0, 0)
    # batch 1 re-crawls doc 1's text (rejected by the exact index) and
    # adds one new doc
    b1 = batch([doc(3, "alpha beta gamma"), doc(4, "eta theta iota")])
    sink.process_batch(b1, 1)
    sink.process_batch(b1, 1)  # crash replay of the same epoch
    qs = spark.createDataFrame(
        [(1, "alpha iota"), (2, "zeta")], "query_id int, query string"
    )
    admitted = corpus_docs(spark, out).select("doc_id", "text")
    assert sorted(r.doc_id for r in admitted.collect()) == [1, 2, 4]
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == _collect(
        bm25_scores_batch(admitted, qs)
    )


def test_corpus_stream_requires_prebuilt_lexical_index(spark, tmp_path):
    from substreams_sink_parquet_spark.streaming.corpus_stream import CorpusSink

    with pytest.raises(ValueError, match="lex-build"):
        CorpusSink(spark=spark, out_dir=str(tmp_path / "c"),
                   lexical_index_dir=str(tmp_path / "nowhere"))


# -- hybrid retrieval served from the persisted indexes --------------------


def _hybrid_qtbl(spark):
    from substreams_sink_parquet_spark.llm.similarity import _HYBRID_BATCH

    return spark.createDataFrame(
        list(_HYBRID_BATCH), "query_id int, query string, vec_id bigint"
    )


def _hybrid_rows(df):
    return sorted(
        (r.query_id, r.doc_id, r.rrf_score, r.n_lists, r.rank)
        for r in df.collect()
    )


def test_hybrid_indexed_identical_to_corpus_scan_hybrid(spark, sf_dir,
                                                        tmp_path):
    """The serving contract: because indexed BM25 equals the direct
    formulation to the digit and the RRF tail is shared code, hybrid
    retrieval served from the postings index is ROW-IDENTICAL to the
    corpus-scan hybrid — scores, list counts, ranks, cutoffs."""
    from substreams_sink_parquet_spark.llm.similarity import (
        _HYBRID_K,
        retrieve_hybrid_batch,
        retrieve_hybrid_indexed,
    )

    docs = _docs(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    qtbl = _hybrid_qtbl(spark)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=16)
    assert _hybrid_rows(
        retrieve_hybrid_indexed(spark, idx, qtbl, emb, k=_HYBRID_K, top=10)
    ) == _hybrid_rows(
        retrieve_hybrid_batch(docs, qtbl, emb, k=_HYBRID_K, top=10)
    )


def test_hybrid_indexed_plan_has_no_documents_scan(spark, sf_dir, tmp_path):
    """The point of serving from the index: documents.text is nowhere in
    the hybrid retrieval plan — the lexical side reads pruned postings
    buckets, the vector side reads the embeddings table."""
    from substreams_sink_parquet_spark.llm.similarity import (
        _HYBRID_K,
        retrieve_hybrid_indexed,
    )

    idx = str(tmp_path / "lex")
    L.write_lexical_index(_docs(spark, sf_dir), idx, n_buckets=16)
    res = retrieve_hybrid_indexed(
        spark, idx, _hybrid_qtbl(spark), load(spark, sf_dir, "embeddings"),
        k=_HYBRID_K, top=10,
    )
    fmt = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "documents" not in fmt
    assert re.search(r"PartitionFilters: \[term_bucket#\d+ IN", fmt), fmt


def test_hybrid_fully_indexed_ann_variant_wiring(spark, sf_dir, tmp_path):
    """The scale path (postings index + IVF-PQ index): output equals the
    deterministic composition of its two served lists through the shared
    RRF tail, and ``exclude_self=False`` means a query_id colliding with
    a corpus vec_id cannot suppress that document."""
    from substreams_sink_parquet_spark.llm import ann_index as A
    from substreams_sink_parquet_spark.llm import similarity as S
    from substreams_sink_parquet_spark.llm.similarity import (
        _fuse_rank_batch,
        retrieve_hybrid_indexed,
    )

    emb = load(spark, sf_dir, "embeddings")
    dim = S.embedding_dim(spark, sf_dir)
    lex = str(tmp_path / "lex")
    ann = str(tmp_path / "ann")
    L.write_lexical_index(_docs(spark, sf_dir), lex, n_buckets=16)
    A.write_ann_index(emb, ann, dim=dim)
    qtbl = _hybrid_qtbl(spark)

    got = retrieve_hybrid_indexed(
        spark, lex, qtbl, emb, k=10, top=5, ann_index_dir=ann, nprobe=4
    )
    bm = L.bm25_rank_indexed(spark, lex, qtbl.select("query_id", "query"), 10)
    probes = qtbl.selectExpr("query_id as q_id", "vec_id").join(
        emb.selectExpr("vec_id", "embedding as q_vec"), "vec_id"
    ).select("q_id", "q_vec")
    cs = A.ann_topk(spark, ann, probes, k=10, nprobe=4,
                    exclude_self=False).selectExpr(
        "q_id as query_id", "neighbor_id as doc_id", "rank"
    )
    assert _hybrid_rows(got) == _hybrid_rows(_fuse_rank_batch([bm, cs], 10, 5))

    # exclude_self=False: probe q_id == corpus vec_id must still surface
    # its own (ADC-nearest) vector; the default neighbor contract drops it
    self_q = emb.filter(F.col("vec_id") == 3).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    with_self = A.ann_topk(spark, ann, self_q, k=10, nprobe=99,
                           exclude_self=False)
    assert 3 in {r.neighbor_id for r in with_self.collect()}
    without = A.ann_topk(spark, ann, self_q, k=10, nprobe=99)
    assert 3 not in {r.neighbor_id for r in without.collect()}


def test_cli_retrieve_index_hybrid(spark, sf_dir, tmp_path, capsys):
    """`retrieve-index --embeddings`: hybrid rows identical to the
    corpus-scan `retrieve --embeddings` CLI, plus the loud usage errors
    (missing vec_id column, --ann-index without --embeddings)."""
    from substreams_sink_parquet_spark.cli import main

    idx = str(tmp_path / "lex")
    L.write_lexical_index(_docs(spark, sf_dir), idx, n_buckets=16)
    qt = str(tmp_path / "qt")
    _hybrid_qtbl(spark).write.parquet(qt)
    emb_path = f"{sf_dir}/embeddings.parquet"
    docs_path = f"{sf_dir}/documents.parquet"

    assert main(["retrieve-index", idx, "--queries-table", qt,
                 "--embeddings", emb_path, "--k", "5"]) == 0
    indexed = [json.loads(x)
               for x in capsys.readouterr().out.strip().splitlines()]
    assert main(["retrieve", docs_path, "--queries-table", qt,
                 "--embeddings", emb_path, "--k", "5"]) == 0
    direct = [json.loads(x)
              for x in capsys.readouterr().out.strip().splitlines()]
    assert indexed == direct
    assert {x["rank"] for x in indexed if x["query_id"] == 1} == {1, 2, 3, 4, 5}

    # usage errors, not tracebacks
    qt_novec = str(tmp_path / "qt_novec")
    _hybrid_qtbl(spark).drop("vec_id").write.parquet(qt_novec)
    assert main(["retrieve-index", idx, "--queries-table", qt_novec,
                 "--embeddings", emb_path]) == 2
    assert main(["retrieve-index", idx, "--query", "alpha",
                 "--embeddings", emb_path]) == 2
    assert main(["retrieve-index", idx, "--queries-table", qt,
                 "--ann-index", str(tmp_path / "ann")]) == 2


def test_serve_plan_has_no_window_df_is_broadcast_join(spark, sf_dir,
                                                       tmp_path):
    """With the precomputed df/ tree, the serve plan carries NO window
    over the matched postings — a hot term's full postings list was
    previously repartitioned by term just to count df (VERDICT r9,
    Next #4); df now arrives as a broadcast join of a ≤|query terms|-row
    sum-merged table. Pinned on the executed plan, base and base+epochs
    both."""
    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 0), idx, n_buckets=16
    )
    plan = L.bm25_scores_indexed(spark, idx, qs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # the df join, never a shuffle
    L.append_epoch_to_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 1), idx, epoch_id=0
    )
    plan = L.bm25_scores_indexed(spark, idx, qs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan


def test_crashed_compact_serves_from_armed_fold(spark, sf_dir, tmp_path):
    """A compact crashed inside commit_fold — sources deleted,
    ``_compact`` (manifest inside) not yet renamed — must not change a
    score: the folded postings/df exist ONLY in the armed tmp at that
    point, and the old ``epoch=``-only listing silently dropped them.
    The serve path's tolerant listing reads the armed fold in place of
    the sources its manifest names, for BOTH trees — including the
    mixed state where one tree folded and the other's fold is still
    armed (the trees converge independently)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 600)
    qs = _queries(spark)
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    idx = str(tmp_path / "lex")
    L.write_lexical_index(parts[0], idx, n_buckets=16)
    for i, p in enumerate(parts[1:]):
        L.append_epoch_to_lexical_index(p, idx, epoch_id=i)
    want = _collect(L.bm25_scores_indexed(spark, idx, qs))
    assert L.compact_lexical_epochs(spark, idx, min_epochs=2)

    # rewind BOTH trees' renames: epoch=-1 back to an armed _compact
    for tree in ("postings_epochs", "df_epochs"):
        root = tmp_path / "lex" / tree
        (root / "epoch=-1").rename(root / "_compact")
        (root / "_compact" / "_MERGED.json").write_text(
            json.dumps({"sources": ["epoch=0", "epoch=1"]})
        )
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == want

    # mixed state: postings fold committed, df fold still armed
    proot = tmp_path / "lex" / "postings_epochs"
    (proot / "_compact" / "_MERGED.json").unlink()
    (proot / "_compact").rename(proot / "epoch=-1")
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == want

    # the next compact converges the remaining armed tree
    L.compact_lexical_epochs(spark, idx, min_epochs=99)
    assert not (tmp_path / "lex" / "df_epochs" / "_compact").exists()
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == want


def test_pre_df_index_still_serves_exactly(spark, sf_dir, tmp_path):
    """An index built before the df/ tree existed (meta without has_df)
    serves through the historical window path, bit-identically — and
    appends against it stay window-served rather than writing orphan df
    deltas."""
    import shutil

    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 0), idx, n_buckets=16
    )
    # strip the index back to the pre-df layout (drop the Hadoop local-FS
    # checksum sidecar too — the meta is rewritten behind its back)
    meta_p = tmp_path / "lex" / "_LEX_META.json"
    meta = json.loads(meta_p.read_text())
    del meta["has_df"]
    meta_p.write_text(json.dumps(meta))
    crc = tmp_path / "lex" / "._LEX_META.json.crc"
    if crc.exists():
        crc.unlink()
    shutil.rmtree(tmp_path / "lex" / "df")
    L.append_epoch_to_lexical_index(
        docs.filter(F.col("doc_id") % 2 == 1), idx, epoch_id=0
    )
    assert not (tmp_path / "lex" / "df_epochs").exists()
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == _collect(
        bm25_scores_batch(docs, qs)
    )


def test_df_deltas_sum_merge_to_rebuild_exactly(spark, sf_dir, tmp_path):
    """The df EPOCH DELTAS themselves (not just the scores they feed) are
    exact: base + appended df tables sum-merged per term equal the df
    table a full rebuild over the grown corpus computes — including
    terms that exist only in epochs, only in the base, and in both.
    Compaction preserves the merged values."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 800)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    parts = [docs.filter(F.col("doc_id") % 4 == 1),
             docs.filter(F.col("doc_id") % 4 == 3)]
    idx = str(tmp_path / "grown")
    L.write_lexical_index(half_a, idx, n_buckets=16)
    for i, p in enumerate(parts):
        L.append_epoch_to_lexical_index(p, idx, epoch_id=i)
    full = str(tmp_path / "rebuilt")
    L.write_lexical_index(docs, full, n_buckets=16)

    def merged_df(trees):
        frames = [spark.read.schema(L._DF_SCHEMA).parquet(d)
                  for d in trees]
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        return {
            r.term: r.df
            for r in u.groupBy("term").agg(F.sum("df").alias("df")).collect()
        }

    want = merged_df([f"{full}/df"])
    got = merged_df([f"{idx}/df",
                          f"{idx}/df_epochs/epoch=0",
                          f"{idx}/df_epochs/epoch=1"])
    assert got == want
    # fold epochs 0 and... the trailing rule keeps epoch=1; add one more
    # so {0, 1} fold and re-check through the folded tree
    L.append_epoch_to_lexical_index(docs.filter(F.lit(False)), idx,
                                    epoch_id=2)
    assert L.compact_lexical_epochs(spark, idx, min_epochs=2)
    got_folded = merged_df([f"{idx}/df",
                                 f"{idx}/df_epochs/epoch=-1",
                                 f"{idx}/df_epochs/epoch=2"])
    assert got_folded == want


def test_missing_df_twin_fails_loudly_not_silently(spark, sf_dir,
                                                   tmp_path):
    """A committed postings epoch with no df twin (e.g. appended by a
    pre-df writer against a has_df index) is an INCONSISTENT index: an
    inner df join would silently drop that epoch's unique terms from
    scoring. The serve path left-joins and raises per-row instead —
    the family's loud-failure contract (_read_epoch_stats rule)."""
    import shutil

    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    # empty base: every matched term lives only in the appended epoch,
    # so stripping that epoch's df twin leaves NO df row for any of them
    L.write_lexical_index(docs.filter(F.lit(False)), idx, n_buckets=16)
    L.append_epoch_to_lexical_index(docs, idx, epoch_id=0)
    assert L.bm25_scores_indexed(spark, idx, qs).count() > 0
    # strip the epoch's df twin, leaving a fully-committed postings epoch
    shutil.rmtree(tmp_path / "lex" / "df_epochs" / "epoch=0")
    with pytest.raises(Exception, match="df tree is missing term"):
        L.bm25_scores_indexed(spark, idx, qs).collect()


def test_df_tree_fully_pruned_fails_actionably(spark, sf_dir, tmp_path):
    """has_df set but NEITHER df/ nor any committed df_epochs/ present
    (manual prune, partial restore): the loud FileNotFoundError with the
    rebuild/re-append hint — not the bare IndexError that indexing an
    empty frame list used to raise (ADVICE r10)."""
    import shutil

    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=16)
    shutil.rmtree(tmp_path / "lex" / "df")
    with pytest.raises(FileNotFoundError, match="rebuild"):
        L.bm25_scores_indexed(spark, idx, qs)


# serve-path driver-action ceiling: 7 measured at local[4]/sf0.001,
# 8 in BENCH_r10 at local[32]/sf0.1 (AQE query stages vary by layout);
# pin the larger observed value — the signal is a STEP (a new eager
# action), not a one-stage wobble
SERVE_JOB_BUDGET = 8
HYBRID_SERVE_JOB_BUDGET = 12


def test_serve_path_job_count_pinned(spark, sf_dir, tmp_path):
    """Serve-only job budget for the indexed family (VERDICT r10,
    Wrong #3): scoring a built index end-to-end costs a BOUNDED number
    of driver actions — a regression that adds a job (an eager df-tree
    rebuild, a lost broadcast, a partition-pruning fallback rescan)
    fails here before it dilutes BENCH's serve_only_indexed numbers."""
    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=16)
    sc = spark.sparkContext
    sc.setJobGroup("lex-serve-jobs", "bm25_scores_indexed serve actions")
    try:
        L.bm25_scores_indexed(spark, idx, qs).write.format("noop").mode(
            "overwrite").save()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("lex-serve-jobs")
    assert len(jobs) <= SERVE_JOB_BUDGET, (
        f"serve path grew to {len(jobs)} jobs (budget "
        f"{SERVE_JOB_BUDGET}): {jobs}"
    )


def test_hybrid_serve_path_job_count_pinned(spark, sf_dir, tmp_path):
    """Same serve-only job budget pin for the hybrid (BM25 + cosine +
    RRF) retrieval against a built index: 11 measured at
    local[4]/sf0.001, 12 in BENCH_r10 at local[32]/sf0.1 — pin the
    larger observed value; a step above it means a new eager action
    crept into the fused serve plan."""
    from substreams_sink_parquet_spark.llm.similarity import (
        _HYBRID_BATCH, _HYBRID_K, retrieve_hybrid_indexed,
    )
    from substreams_sink_parquet_spark.tables import load

    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "lex")
    L.write_lexical_index(docs, idx, n_buckets=16)
    qtbl = spark.createDataFrame(
        list(_HYBRID_BATCH), "query_id int, query string, vec_id bigint"
    )
    emb = load(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("hybrid-serve-jobs", "retrieve_hybrid_indexed actions")
    try:
        retrieve_hybrid_indexed(
            spark, idx, qtbl, emb, k=_HYBRID_K, top=10
        ).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("hybrid-serve-jobs")
    assert len(jobs) <= HYBRID_SERVE_JOB_BUDGET, (
        f"hybrid serve path grew to {len(jobs)} jobs (budget "
        f"{HYBRID_SERVE_JOB_BUDGET}): {jobs}"
    )


def test_failed_rebuild_leaves_old_index_serving(spark, sf_dir, tmp_path,
                                                 monkeypatch):
    """A rebuild stages its trees under _rebuild/ and swaps them in only
    once they are written: a rebuild whose postings write fails leaves the
    old meta and the old postings serving."""
    from pyspark.sql import DataFrameWriter

    docs = _docs(spark, sf_dir)
    qs = _queries(spark)
    idx = str(tmp_path / "lex")
    meta = L.write_lexical_index(docs.limit(50), idx, n_buckets=4)
    before = _collect(L.bm25_scores_indexed(spark, idx, qs))
    assert before
    orig = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if path.rstrip("/").endswith("postings"):
            raise IOError("postings write failed")
        return orig(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", failing)
        with pytest.raises(IOError, match="postings write failed"):
            L.write_lexical_index(docs, idx, n_buckets=4)
    assert L.read_lexical_meta(spark, idx) == meta
    assert _collect(L.bm25_scores_indexed(spark, idx, qs)) == before
