"""Persisted BM25 postings index: lexical retrieval as a LAKE ARTIFACT.

The in-memory formulations (``text.bm25_scores`` / ``text.bm25_scores_batch``)
re-tokenize and re-explode the corpus on every call — right for a one-shot
query, wrong for a serving corpus (VERDICT r6, Next #2: the ANN side has a
persisted index, llm/ann_index.py; this is its lexical counterpart). The
corpus is tokenized ONCE into a postings table and every later query is a
partition-pruned scan of only the buckets its terms hash into:

  ``{index_dir}/postings/term_bucket={b}/``  (term, doc_id, tf, dl) rows,
                                             PARTITIONED BY TERM-HASH BUCKET
  ``{index_dir}/df/term_bucket={b}/``        (term, df) — document frequency
                                             PRECOMPUTED at build/append time
  ``{index_dir}/_LEX_META.json``             corpus stats (n_docs, sum_dl)
                                             + n_buckets; the COMMIT MARKER

- ``term_bucket = crc32(term) % n_buckets``: CRC-32 because the standard
  polynomial is computable identically driver-side (``zlib.crc32``) and
  executor-side (``F.crc32``), so the probed buckets resolve from the (tiny)
  query term set WITHOUT a Spark job and the pruning filter is a STATIC
  ``isin`` the parquet source sees at planning time — the ann_index pattern.
  A query touches |query-term buckets| / n_buckets of the index, physically;
  the exact-term ``isin`` on top pushes into row-group stats.
- tf/dl live in the scanned postings; df is PRECOMPUTED into a parallel
  ``df/`` tree at build/append time (one cheap aggregate over the just-
  written postings artifact — never a second corpus tokenize), pruned by
  the same bucket/term isin at serve time and sum-merged across base +
  epoch deltas (a (term, doc) pair lives in exactly one epoch, so per-epoch
  df counts ADD). Serving therefore never runs a count-over-window on the
  unioned postings — for a hot term that window repartitioned the term's
  entire postings list before scoring (VERDICT r9, Next #4); now df arrives
  as a broadcast join of a ≤|query terms|-row table. Only the corpus-wide
  normalizers (n_docs, sum_dl → avgdl) need global state, and those are two
  numbers in the meta JSON. An index built before the df tree existed
  (``has_df`` absent from its meta) still serves exactly, through the old
  window-over-matched-postings path.
- scoring parameters (k1, b, max_doc_freq) stay QUERY-TIME arguments — the
  index stores raw counts, so retuning costs nothing (the reason FAISS-style
  frozen-codebook drift does not apply here: there is no trained artifact).

Streaming growth: ``append_epoch_to_lexical_index`` lands each batch's
postings in ``postings_epochs/epoch={id}/term_bucket={b}/`` and OVERWRITES
per epoch — the same replay-safe idempotence contract as every other corpus
index (an at-least-once foreachBatch replay converges instead of
double-inserting). Unlike the ANN index's frozen codebooks, appends here keep
scores EXACT: each epoch carries its own ``_EPOCH_STATS.json`` (n_docs,
sum_dl delta — bytes), the read path sums base + epoch stats driver-side, and
df is computed from the scanned postings — so ``bm25_scores_indexed`` over
base+appends equals ``bm25_scores_batch`` over the full corpus to the digit
(pinned by pytest). The caller owns doc_id dedup across batches (compose
with the corpus builder's screens upstream), exactly as with the ANN index.

Crash-safety: ``_LEX_META.json`` is the commit marker — a rebuild stages
its trees under ``_rebuild/`` and only then deletes the meta, swaps the trees
in by rename and rewrites the meta; every read path refuses postings
without meta loudly. An epoch dir whose stats JSON is missing (crash between
the postings write and the stats write) is likewise refused BY NAME: its
replay overwrites both, restoring consistency.
"""

from __future__ import annotations

import json
import zlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register
from ..fsio import HadoopFS, url_join
from ..tables import load

_META = "_LEX_META.json"
_EPOCH_STATS = "_EPOCH_STATS.json"

_POSTINGS_SCHEMA = (
    "term string, doc_id long, dl int, tf long, term_bucket int"
)
_DF_SCHEMA = "term string, df long, term_bucket int"


def _df_from_postings(spark: SparkSession, postings_dir: str) -> DataFrame:
    """(term, df, term_bucket) aggregated from a just-written postings
    dir — reads the compact index artifact back (COLUMN-PRUNED to the
    two grouping columns), never re-tokenizes the corpus; one row per
    (term, doc) pair in the dir, so count == df.

    Deliberately NOT derived from a persisted copy of the postings frame
    (optimization r14, tried and rejected with numbers): persisting the
    postings across the partitioned write pins the cached plan's output
    partitioning, so the write loses AQE partition coalescing and runs
    at the full shuffle-partition count — 32 tasks x up-to-n_buckets
    dynamic-partition files each instead of a handful — and the build
    measured 7.7 s vs 2.2 s (interleaved min-of-5 at sf0.1) against
    this read-back formulation. The artifact read is the cheaper side
    of the trade at every scale: it scans two small columns of the
    compressed index, not the corpus."""
    return (
        spark.read.schema(_POSTINGS_SCHEMA).parquet(postings_dir)
        .groupBy("term", "term_bucket")
        .agg(F.count("*").alias("df"))
        .select("term", "df", "term_bucket")
    )


def _present_buckets(fs: HadoopFS, part_dir: str) -> list[int]:
    """Bucket ids physically present under a partitioned dir — ONE
    listdir RPC; the build stores this as the meta manifest so serves
    list only the probed buckets (guide §6: file listing)."""
    return sorted(
        int(c.split("=", 1)[1])
        for c in fs.listdir(part_dir)
        if c.startswith("term_bucket=")
    )


def _postings(docs: DataFrame, n_buckets: int,
              text_col: str, id_col: str) -> DataFrame:
    """(term, doc_id, dl, tf, term_bucket) — the SAME tokenization as the
    direct path (text.bm25_scores_batch: whitespace split, dl counts every
    token incl. empties) so indexed and direct scores agree to the digit.
    Empty-string tokens are dropped from the postings (a query term is
    never empty — the direct path's broadcast term-set join drops them the
    same way) but still count toward dl."""
    words = F.split(F.col(text_col), " ")
    return (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            words.alias("w"),
            F.size(words).alias("dl"),
        )
        .select("doc_id", "dl", F.explode("w").alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "term_bucket",
            (F.crc32(F.encode("term", "UTF-8")) % n_buckets).cast("int"),
        )
    )


def _corpus_stats(docs: DataFrame, text_col: str) -> dict:
    """(n_docs, sum_dl) of ``docs`` in one aggregate — exact integer
    count/sum, computed before the build mutates anything, so a corpus-data
    error aborts with the old index intact."""
    r = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("sum_dl"),
    ).first()
    return {"n_docs": int(r["n_docs"]), "sum_dl": int(r["sum_dl"] or 0)}


def write_lexical_index(docs: DataFrame, index_dir: str,
                        n_buckets: int = 64,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> dict:
    """Tokenize the corpus once and lay the postings down partitioned by
    term bucket. Returns the metadata dict it persisted.

    The corpus stats (n_docs, sum_dl) come from one aggregate; the df tree
    derives from a column-pruned read-back of the just-written compact
    artifact (see _df_from_postings for why persisting instead measured
    3.5x slower). The meta additionally records ``buckets`` — the bucket
    ids physically present — so serves list only the probed bucket dirs
    (one listdir at build replaces n_buckets dir listings per serve).

    Stage-and-swap (ann_index.write_ann_index's commit marker): the new
    postings and df trees are written under ``_rebuild/`` first, so a build
    that fails before the swap leaves the old index serving. The swap
    deletes the meta, replaces the trees by rename and writes the meta
    last; a crash inside it leaves postings without meta, which every read
    path refuses loudly. A successful rebuild clears any
    ``postings_epochs`` appends: they are superseded by the full-corpus
    rebuild (the caller rebuilds FROM the grown corpus)."""
    spark = docs.sparkSession
    fs = HadoopFS(spark, index_dir)
    stats = _corpus_stats(docs, text_col)
    build = url_join(index_dir, "_rebuild")
    build_post = url_join(build, "postings")
    _postings(docs, n_buckets, text_col, id_col).write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(build_post)
    _df_from_postings(spark, build_post).write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(url_join(build, "df"))
    meta = {"n_buckets": int(n_buckets), "has_df": True,
            "buckets": _present_buckets(fs, build_post), **stats}
    meta_path = url_join(index_dir, _META)
    fs.delete(meta_path, recursive=False)
    # a rebuild also releases the old stream's epoch-history binding
    # (_STREAM_ID): the superseding epochs are gone, so a NEW stream may
    # append from epoch 0 without tripping the corpus-stream guard (code
    # review r12)
    for stale in ("postings", "df", "postings_epochs", "df_epochs",
                  "_STREAM_ID"):
        fs.delete(url_join(index_dir, stale), recursive=True)
    for tree in ("postings", "df"):
        fs.rename(url_join(build, tree), url_join(index_dir, tree))
    fs.delete(build, recursive=True)
    fs.write_bytes(meta_path, json.dumps(meta).encode())
    return meta


def read_lexical_meta(spark: SparkSession, index_dir: str) -> dict:
    fs = HadoopFS(spark, index_dir)
    meta_path = url_join(index_dir, _META)
    if not fs.exists(meta_path):
        raise FileNotFoundError(
            f"lexical index at {index_dir!r} has no {_META} — either it was "
            "never built (write_lexical_index / `lex-build`) or a rebuild "
            "crashed mid-overwrite; rebuild before querying"
        )
    return json.loads(fs.read_bytes(meta_path))


def append_epoch_to_lexical_index(new_docs: DataFrame, index_dir: str,
                                  epoch_id: int,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> None:
    """Replay-safe streaming append: the batch's postings OVERWRITE
    ``postings_epochs/epoch={id}/`` (bucket partitioning preserved inside
    the epoch dir, so query-time pruning is unchanged), its (term, df)
    deltas under ``df_epochs/epoch={id}/`` (aggregated from the epoch's
    just-written postings, overwritten with the same idempotence), and
    the batch's (n_docs, sum_dl) delta lands as ``_EPOCH_STATS.json``
    beside the postings — written LAST of the three, so an epoch whose
    postings or df crashed mid-write has no stats file and is refused by
    name until the replay repairs all of it. The delta stats are one
    aggregate over the batch, taken before any mutation (build parity); the
    df delta is an aggregate over the epoch's just-written compact artifact
    (bytes-scale — see _df_from_postings for why the persisted-frame
    alternative measured slower). The caller owns doc_id dedup vs the base
    build and other epochs (the corpus stream's screens do exactly that
    upstream)."""
    spark = new_docs.sparkSession
    meta = read_lexical_meta(spark, index_dir)
    fs = HadoopFS(spark, index_dir)
    stats = _corpus_stats(new_docs, text_col)
    post = _postings(new_docs, meta["n_buckets"], text_col, id_col)
    ep_dir = url_join(index_dir, "postings_epochs", f"epoch={int(epoch_id)}")
    # clear a previous attempt's stats first: a replay that crashes before
    # its own stats write must not leave the OLD attempt's stats beside
    # the NEW attempt's postings
    stats_path = url_join(ep_dir, _EPOCH_STATS)
    if fs.exists(stats_path):
        fs.delete(stats_path, recursive=False)
    post.write.mode("overwrite").partitionBy("term_bucket").parquet(ep_dir)
    if meta.get("has_df"):
        _df_from_postings(spark, ep_dir).write.mode("overwrite").partitionBy(
            "term_bucket"
        ).parquet(url_join(index_dir, "df_epochs", f"epoch={int(epoch_id)}"))
    fs.write_bytes(stats_path, json.dumps(stats).encode())


def compact_lexical_epochs(spark: SparkSession, index_dir: str,
                           min_epochs: int = 2) -> bool:
    """Fold per-batch postings appends into one ``epoch=-1`` dir (still
    bucket-partitioned; its stats JSON is the SUM of the folded deltas) —
    bounds the O(epochs) listing a long-running corpus stream
    accumulates. Same write-ahead manifest-swap protocol and rules as
    compact_ann_epochs: run only against a stopped stream; the
    HIGHEST-numbered epoch is never folded (a crashed batch's replay
    relies on overwriting its own epoch dir by name). A (term, doc)
    pair appears in at most one epoch (caller-owned doc dedup), so the
    postings fold is a concatenation, not a merge; the parallel
    ``df_epochs`` tree folds with a groupBy-SUM (the same term recurs
    across epochs) and each tree converges INDEPENDENTLY — a crash
    between the two folds leaves one folded and one not, which reads
    identically (folding preserves per-term totals) and the next
    compact call finishes the other."""
    folded_post = _fold_posting_epochs(spark, index_dir, min_epochs)
    folded_df = _fold_df_epochs(spark, index_dir, min_epochs)
    return folded_post or folded_df


def _fold_posting_epochs(spark: SparkSession, index_dir: str,
                         min_epochs: int) -> bool:
    from ..foldswap import (
        commit_fold,
        foldable_epoch_names,
        write_fold_manifest,
    )

    fs = HadoopFS(spark, index_dir)
    ep_root = url_join(index_dir, "postings_epochs")
    epochs = foldable_epoch_names(fs, ep_root, min_epochs)
    if epochs is None:
        return False
    stats = {"n_docs": 0, "sum_dl": 0}
    with_data = []
    for e in epochs:
        ep_dir = url_join(ep_root, e)
        s = _read_epoch_stats(fs, ep_dir, e)
        stats["n_docs"] += s["n_docs"]
        stats["sum_dl"] += s["sum_dl"]
        if any(c.startswith("term_bucket=") for c in fs.listdir(ep_dir)):
            with_data.append(e)
    tmp = url_join(ep_root, "_compact")
    if with_data:
        merged = spark.read.option("basePath", ep_root).parquet(
            *[url_join(ep_root, e) for e in with_data]
        ).drop("epoch")
        merged.write.mode("overwrite").partitionBy("term_bucket").parquet(tmp)
    else:
        fs.mkdirs(tmp)
    fs.write_bytes(url_join(tmp, _EPOCH_STATS), json.dumps(stats).encode())
    write_fold_manifest(fs, tmp, epochs)
    commit_fold(fs, ep_root, "_compact", epochs)
    return True


def _fold_df_epochs(spark: SparkSession, index_dir: str,
                    min_epochs: int) -> bool:
    from ..foldswap import (
        commit_fold,
        foldable_epoch_names,
        write_fold_manifest,
    )

    fs = HadoopFS(spark, index_dir)
    ep_root = url_join(index_dir, "df_epochs")
    epochs = foldable_epoch_names(fs, ep_root, min_epochs)
    if epochs is None:
        return False
    with_data = [
        e for e in epochs
        if any(c.startswith("term_bucket=")
               for c in fs.listdir(url_join(ep_root, e)))
    ]
    tmp = url_join(ep_root, "_compact")
    if with_data:
        merged = (
            spark.read.option("basePath", ep_root).parquet(
                *[url_join(ep_root, e) for e in with_data]
            )
            .drop("epoch")
            .groupBy("term", "term_bucket")
            .agg(F.sum("df").alias("df"))
            .select("term", "df", "term_bucket")
        )
        merged.write.mode("overwrite").partitionBy("term_bucket").parquet(tmp)
    else:
        fs.mkdirs(tmp)
    write_fold_manifest(fs, tmp, epochs)
    commit_fold(fs, ep_root, "_compact", epochs)
    return True


def _read_epoch_stats(fs: HadoopFS, ep_dir: str, name: str) -> dict:
    stats_path = url_join(ep_dir, _EPOCH_STATS)
    if not fs.exists(stats_path):
        raise FileNotFoundError(
            f"lexical index epoch {name} has postings but no {_EPOCH_STATS} "
            "— its append crashed between the postings write and the stats "
            "write; replay the batch (the epoch overwrite repairs both)"
        )
    return json.loads(fs.read_bytes(stats_path))


def _collect_query_terms(queries: DataFrame) -> list[str]:
    """Distinct non-empty terms across the query table — driver-side, the
    same query-table-sized bounded collect as ann_topk's probed-cell
    resolution, and the reason the bucket pruning can be a STATIC isin."""
    rows = queries.select(
        F.explode(
            F.array_distinct(F.split("query", " "))
        ).alias("term")
    ).filter(F.length("term") > 0).distinct().collect()
    return sorted(r.term for r in rows)


def bm25_scores_indexed(spark: SparkSession, index_dir: str,
                        queries: DataFrame,
                        k1: float = 1.2, b: float = 0.75,
                        max_doc_freq: int | None = None) -> DataFrame:
    """``text.bm25_scores_batch`` served from the persisted index: same
    output contract (query_id, doc_id, bm25, n_terms_matched — one row
    per pair with >=1 matching term), same scores to the digit, but the
    corpus-scale tokenize+explode is GONE — the plan opens only the
    postings partitions the query terms hash into (static bucket isin →
    partition pruning; exact-term isin → row-group pruning) plus any
    epoch appends, never ``documents.text``.

    df comes from the PRECOMPUTED ``df/`` tree (same bucket/term pruning,
    per-epoch deltas sum-merged into a ≤|query terms|-row broadcast
    side), so the serve plan carries no window over the matched postings
    — a hot term's full postings list is never repartitioned by term
    before scoring. A pre-df index (no ``has_df`` in meta) falls back to
    the historical window, bit-identically. n_docs/avgdl come from meta
    + per-epoch deltas, summed driver-side from kilobytes of JSON; the
    epoch listing is tolerant of a crashed compact (foldswap's
    manifest-aware read — an armed ``_compact`` is read in place of the
    sources its manifest names). The scoring tail — broadcast
    query-terms join, per-term decimal contribution, per-(query, doc)
    sum — is the direct formulation's, unchanged."""
    from ..foldswap import tolerant_epoch_names

    meta = read_lexical_meta(spark, index_dir)
    fs = HadoopFS(spark, index_dir)
    terms = _collect_query_terms(queries)
    # query_id's type follows the caller's table (int fixture vs bigint
    # parquet --queries-table) so the degenerate returns agree with the
    # populated path's inherited schema
    qid_t = queries.schema["query_id"].dataType.simpleString()
    empty_schema = (f"query_id {qid_t}, doc_id long, bm25 double,"
                    " n_terms_matched long")
    if not terms:
        return spark.createDataFrame([], empty_schema)
    buckets = sorted({
        zlib.crc32(t.encode("utf-8")) % meta["n_buckets"] for t in terms
    })

    def _pruned(df: DataFrame) -> DataFrame:
        return df.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        ).select("term", "doc_id", "dl", "tf")

    def _any_hit(present: list[int] | None) -> bool:
        """True when the tree MAY hold a probed bucket. ``present`` is
        the build-time meta manifest (base trees; None on a pre-r14
        index = assume hits) or the per-epoch listdir parse the stats
        check already paid for. A tree with no probed bucket is skipped
        without constructing its scan — an OOV-heavy query then never
        lists or plans that tree at all. Reading the HIT trees stays a
        single-root scan + static isin: the explicit-paths alternative
        (one read rooted at each probed bucket dir) was measured 0.05-
        0.25 s SLOWER per serve at local[32] — per-path driver listing
        overhead exceeds the saved recursive listing on a local FS —
        and was rejected (optimization r14; numbers in
        OPTIMIZATION_r14.md)."""
        return present is None or bool(set(present) & set(buckets))

    manifest = meta.get("buckets")  # pre-r14 index: None -> assume hits
    frames = []
    post_dir = url_join(index_dir, "postings")
    if fs.exists(post_dir) and _any_hit(manifest):
        # explicit schema: an index built over an empty seed corpus (the
        # corpus-stream bootstrap) has a postings dir with no files to
        # infer from
        frames.append(_pruned(
            spark.read.schema(_POSTINGS_SCHEMA).parquet(post_dir)
        ))
    n_docs, sum_dl = meta["n_docs"], meta["sum_dl"]
    ep_root = url_join(index_dir, "postings_epochs")
    if fs.exists(ep_root):
        # tolerant listing: an armed _compact (crashed fold) holds the
        # only copy of its folded postings and replaces its sources; an
        # unarmed one is an uncommitted tmp and is skipped
        for e in tolerant_epoch_names(fs, ep_root):
            ep_dir = url_join(ep_root, e)
            s = _read_epoch_stats(fs, ep_dir, e)
            n_docs += s["n_docs"]
            sum_dl += s["sum_dl"]
            # one listdir per epoch (the postings-present check needs it
            # anyway); its parse doubles as the epoch's bucket manifest
            present = sorted(
                int(c.split("=", 1)[1]) for c in fs.listdir(ep_dir)
                if c.startswith("term_bucket=")
            )
            if present and _any_hit(present):
                frames.append(_pruned(
                    spark.read.schema(_POSTINGS_SCHEMA).parquet(ep_dir)
                ))
    if not frames or n_docs == 0:
        return spark.createDataFrame([], empty_schema)
    postings = frames[0]
    for f in frames[1:]:
        postings = postings.unionByName(f)
    if meta.get("has_df"):
        df_frames = []

        def _pruned_df(df: DataFrame) -> DataFrame:
            return df.filter(
                F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
            ).select("term", "df")

        df_tree_present = False
        base_df = url_join(index_dir, "df")
        if fs.exists(base_df):
            df_tree_present = True
            # the df tree derives from the same postings the manifest
            # describes, so the build manifest's early-out applies
            if _any_hit(manifest):
                df_frames.append(_pruned_df(
                    spark.read.schema(_DF_SCHEMA).parquet(base_df)
                ))
        df_root = url_join(index_dir, "df_epochs")
        if fs.exists(df_root):
            for e in tolerant_epoch_names(fs, df_root):
                ep_dir = url_join(df_root, e)
                present = sorted(
                    int(c.split("=", 1)[1]) for c in fs.listdir(ep_dir)
                    if c.startswith("term_bucket=")
                )
                if present:
                    df_tree_present = True
                    if _any_hit(present):
                        df_frames.append(_pruned_df(
                            spark.read.schema(_DF_SCHEMA).parquet(ep_dir)
                        ))
        if not df_tree_present:
            # meta promises a df tree but neither df/ nor any committed
            # df_epochs/ exists (manual prune, partial restore): the
            # family's contract is the loud, actionable error — indexing
            # df_frames[0] would raise a bare IndexError instead
            raise FileNotFoundError(
                f"lexical index at {index_dir!r}: has_df is set but no "
                "df/ tree and no committed df_epochs/ — the document-"
                "frequency state was removed out of band; rebuild "
                "(lex-build) or re-append an epoch with the current "
                "writer to restore it"
            )
        if not df_frames:
            # trees exist but hold none of the probed buckets while the
            # postings DID match some — an inconsistent index; the empty
            # df side routes every matched posting into the LEFT-join
            # null guard below, preserving the historical loud failure
            df_frames.append(
                spark.createDataFrame([], "term string, df long"))
        dft = df_frames[0]
        for f in df_frames[1:]:
            dft = dft.unionByName(f)
        dft = dft.groupBy("term").agg(F.sum("df").alias("df"))
        # LEFT join + loud per-row guard, not an inner join: a matched
        # posting whose term has no df row means the df tree is
        # inconsistent with the postings tree (e.g. an epoch appended by
        # a pre-df writer against a has_df index) — an inner join would
        # silently DROP those postings from scoring, while this family's
        # contract is to fail loudly (the _read_epoch_stats rule). Costs
        # one null test per matched posting; never fires on a consistent
        # index.
        postings = postings.join(F.broadcast(dft), "term", "left")
        postings = postings.withColumn(
            "df",
            F.when(
                F.col("df").isNull(),
                F.raise_error(F.concat(
                    F.lit("lexical index df tree is missing term "),
                    F.col("term"),
                    F.lit(" present in the postings — re-append the "
                          "epoch with the current writer or rebuild "
                          "(lex-build)"),
                )).cast("long"),
            ).otherwise(F.col("df")),
        )
    else:
        # pre-df index: the historical window over matched postings
        postings = postings.withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
    if max_doc_freq is not None:
        postings = postings.filter(F.col("df") <= max_doc_freq)
    qterms = queries.select(
        "query_id",
        F.explode(F.array_distinct(F.split("query", " "))).alias("term"),
    ).filter(F.length("term") > 0)
    scored = postings.join(F.broadcast(qterms), "term")
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    norm = F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / avgdl)
    tfd = F.col("tf").cast("double")
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = F.round(
        idf * tfd * F.lit(k1 + 1.0) / (tfd + norm), 9
    ).cast("decimal(20,9)")
    return (
        scored.select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("c").cast("double"), 6).alias("bm25"),
            F.count("*").cast("long").alias("n_terms_matched"),
        )
    )


def bm25_rank_indexed(spark: SparkSession, index_dir: str,
                      queries: DataFrame, k: int,
                      max_doc_freq: int | None = None) -> DataFrame:
    """(query_id, doc_id, rank) per-query BM25 top-``k`` served from the
    persisted index — the ranking tail of similarity.bm25_rank_batch over
    :func:`bm25_scores_indexed`, so cutoffs and tie-breaks (score desc,
    doc_id asc) cannot diverge between the corpus-scan and index-served
    retrieval paths."""
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        bm25_scores_indexed(spark, index_dir, queries,
                            max_doc_freq=max_doc_freq)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank")
    )


# -- catalog entry: indexed batch retrieval, driver-hash-checked -----------
#
# Same 6-query fixture and same DuckDB oracle SHAPE as q_text_bm25_batch
# (text.py), so the driver hash-checks that scores served FROM the index
# equal first-principles BM25 computed by a different engine — the
# indexed==direct pin at the correctness gate, not just in pytest.


def _indexed_oracle() -> str:
    from .text import _bm25_batch_oracle

    return _bm25_batch_oracle()


@register(
    "q_text_bm25_indexed",
    _indexed_oracle(),
    doc="Batch BM25 served from the persisted postings index: builds the "
        "index (one corpus tokenize into bucket-partitioned postings, a "
        "precomputed df tree aggregated from them, + a 2-number meta), "
        "then scores the same 6-query fixture as "
        "q_text_bm25_batch by scanning ONLY the buckets the query terms "
        "hash into — documents.text never appears in the query plan. "
        "Hash-checked against the same first-principles DuckDB oracle, "
        "so indexed == direct is pinned at the gate",
)
def q_text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .text import _BM25_BATCH_QUERIES

    index_dir = tempfile.mkdtemp(prefix="lexidx_")
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        write_lexical_index(docs, index_dir, n_buckets=64)
        from ..operators._helpers import tiny_df

        queries = tiny_df(
            spark, list(_BM25_BATCH_QUERIES), "query_id int, query string"
        )
        scored = bm25_scores_indexed(spark, index_dir, queries)
        w = Window.partitionBy("query_id").orderBy(
            F.col("bm25").desc(), "doc_id"
        )
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "doc_id", "bm25",
                    F.col("n_terms_matched").cast("long")
                    .alias("n_terms_matched"),
                    F.col("rank").cast("long").alias("rank"))
        )
        # materialize the bounded top-k (|queries| x 10 rows) BEFORE the
        # finally removes the index the lazy plan would read from — each
        # catalog/bench invocation previously leaked its mkdtemp dir
        from ..operators._helpers import collected_df

        return collected_df(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
