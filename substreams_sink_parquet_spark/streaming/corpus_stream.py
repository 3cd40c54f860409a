"""Streaming corpus builder: JSONL document stream → quarantine split →
exact dedup against a persistent content-hash index → clean corpus lake.

This is the continuously-ingesting version of ``llm.dedup.incremental_dedup``:
crawl increments arrive as JSONL shards in a staging directory; each
micro-batch admits only documents whose content hash is absent from every
PREVIOUS batch's index, then appends the admitted docs and their hashes.
The index is hash-only (16-byte digests) — the anti join never moves
document text, so its cost scales with the index, not the corpus
(dedup.py:incremental_dedup docstring has the 100 TB join math; bucket the
index by hash for a zero-shuffle anti join).

Layout under ``out_dir``:
  - ``docs/epoch={id}/``           admitted documents of one micro-batch
  - ``_index/epoch={id}/``         their content hashes (the dedup index)
  - ``_neardup_index/epoch={id}/`` MinHash band rows (near_dup stage)
  - ``_embed_index/epoch={id}/``   LSH (bucket, embedding) rows (embed stage)
  - ``_quarantine/epoch={id}/``    unparseable raw lines (forensics)
  - ``_drift_rejects/epoch={id}/`` null-key rows and in-batch doc_id
    collisions; like the quarantine, written only when non-empty

The finally admitted rows (``kept``) are computed once per batch, persisted,
and carry the digests the stages computed (``text_hash``, and ``sig`` with
near_dup on): ``docs`` drops them, and the ``_index`` and ``_neardup_index``
increments are map-only projections of ``kept``, so no stage result is
joined back or recomputed for a write.

Exactly-once under at-least-once replays, same contract as the block sink
(stream_sink.py:_append_live): every output is keyed by epoch and
OVERWRITTEN, so a replayed batch converges. The one extra subtlety here:
the index read EXCLUDES the current epoch's own directory — a replayed
batch must not see the hashes its crashed first attempt wrote, or it would
reject its own documents and overwrite the epoch with nothing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsio import HadoopFS, url_join
from ..llm.dedup import incremental_dedup
from ..sources.text_corpus import CORRUPT_COL, DOC_SCHEMA, split_quarantine


@dataclass
class CorpusSink:
    spark: SparkSession
    out_dir: str
    # fuzzy second stage: reject docs that are near-duplicates (MinHash
    # signature overlap >= neardup_threshold) of the already-admitted
    # corpus — catches re-crawls that arrive slightly edited and so slip
    # past the exact hash. The band index persists under
    # ``_neardup_index/epoch={id}/`` with the same replay contract.
    near_dup: bool = False
    neardup_threshold: float = 0.5
    # semantic third stage: reject docs whose inline EMBEDDING is
    # near-identical (LSH-bucket-blocked rounded cosine >= embed_threshold)
    # to an already-admitted doc's — catches paraphrased/translated
    # re-crawls that share no n-grams at all. The (bucket, embedding)
    # index persists under ``_embed_index/epoch={id}/`` with the same
    # replay contract; docs without an embedding pass unscreened.
    embed_dup: bool = False
    embed_threshold: float = 0.99
    embed_dim: int | None = None
    embed_planes: int = 6
    # serving-index composition: when set, each batch's FINALLY-admitted
    # docs that carry a valid inline embedding are ALSO encoded into the
    # persisted IVF-PQ index at this path (frozen codebooks, epoch-keyed
    # replay-safe append — llm.ann_index.append_epoch_to_ann_index), so
    # `ann-query` serves the corpus as of the last committed batch with
    # no rebuild. The index must already exist (`ann-build`): codebooks
    # are trained artifacts, not something a micro-batch should invent.
    ann_index_dir: str | None = None
    # lexical serving-index composition (the BM25 counterpart of
    # ann_index_dir): when set, each batch's FINALLY-admitted docs are
    # ALSO tokenized into the persisted postings index at this path
    # (epoch-keyed replay-safe append + per-epoch stats delta —
    # llm.lexical_index.append_epoch_to_lexical_index), so
    # `retrieve-index` serves the corpus as of the last committed batch
    # with no rebuild AND no re-tokenize — scores stay exactly equal to
    # direct BM25 over the admitted corpus (epoch stats keep n_docs/avgdl
    # fresh; there is no frozen trained artifact on the lexical side).
    # The index must already exist (`lex-build`, possibly over an empty
    # seed corpus): its bucket count is layout metadata the appends must
    # agree with. Admission screens upstream guarantee the doc_id dedup
    # the append contract requires.
    lexical_index_dir: str | None = None
    # fluency-model composition (the bigram-LM counterpart of
    # lexical_index_dir): when set, each batch's FINALLY-admitted docs
    # append their unigram/bigram count deltas to the persisted LM at
    # this path (epoch-keyed replay-safe append + per-epoch stats delta —
    # llm.lm.append_epoch_to_bigram_lm), so `lm-score` against a live
    # corpus reflects the corpus as of the last committed batch with no
    # retrain. The LM must already exist (`lm-train`; an empty seed
    # corpus is fine) and be min_count=1 (a pruned base refuses appends
    # — merged deltas cannot reproduce what a retrain would keep).
    lm_dir: str | None = None
    # CCNet fluency gate (after the rule cascade, before decontamination
    # and every dedup index): score each batch under a PERSISTED
    # target-domain bigram LM (llm/lm.py — typically `lm-train`ed on the
    # reference domain; distinct from lm_dir, which is the live APPEND
    # target) and reject docs whose add-alpha-smoothed neg-avg-logprob
    # exceeds ``lm_gate_max_score`` — the CCNet "does this read like the
    # reference domain" screen at admission, so disfluent docs never
    # enter an index and an improved re-crawl is not blocked by a
    # garbled twin's hash. Rejections land under
    # ``_lm_rejects/epoch={id}`` (doc_id, lang, n_bigrams,
    # neg_avg_logprob) — visible, never silent. Docs the model cannot
    # measure (single-word: n_bigrams=0, null score) are KEPT —
    # "nothing to measure" is not "disfluent". Stateless given the
    # model, so replays converge by the epoch-overwrite contract.
    lm_gate_dir: str | None = None
    # REQUIRED alongside lm_gate_dir: there is no universal perplexity
    # ceiling — calibrate on a scored sample (`lm-score` quantiles)
    lm_gate_max_score: float | None = None
    lm_gate_alpha: float = 0.1
    # boilerplate stage (runs FIRST, before the quality gate and every
    # dedup index): cut lines that appear in >= line_dedup_min_docs
    # distinct documents across the batch PLUS the whole already-admitted
    # corpus (CCNet's cross-document paragraph cut — menus, footers,
    # cookie banners repeat across a site's every page). Per-epoch
    # (lh, n_docs) counts persist under ``_line_index/epoch={id}`` with
    # the same replay contract; documents left EMPTY by the cut are
    # dropped and recorded under ``_line_rejects/epoch={id}`` — visible,
    # never silent. Incremental trade, same as CCNet's shard-local cut:
    # a line that becomes hot later does not retro-clean earlier epochs.
    line_dedup_min_docs: int | None = None
    # quality stage 0: drop documents failing the Gopher-style rule
    # cascade (llm.text.quality_verdict_expr — the same single source of
    # truth q_text_filter_pipeline and the trained classifier's weak
    # labeler use) BEFORE any dedup stage, so rejected docs never enter
    # any index and a later IMPROVED re-crawl of the same content is not
    # blocked by a low-quality twin's hash. Rejections are recorded
    # (doc_id, lang, verdict) under ``_rejects/epoch={id}`` — visible,
    # not silent, same philosophy as the quarantine — and the filter is
    # stateless, so replays converge by the epoch-overwrite contract.
    quality_gate: bool = False
    # decontamination gate (after quality, before every dedup index):
    # reject docs sharing any word ``decontaminate_ngram``-gram with the
    # benchmark set at ``decontaminate_eval_dir`` (a parquet of (doc_id,
    # text)). The eval gram index is computed ONCE at construction
    # (benchmark-suite-sized, broadcast per batch); the gate is stateless
    # so replays converge by the epoch-overwrite contract. Rejections —
    # (doc_id, lang, n_grams_hit) — land under
    # ``_contam_rejects/epoch={id}``: a contaminated doc must never enter
    # ANY index (admitting it and dropping at export time would let its
    # hash block a later clean re-crawl).
    decontaminate_eval_dir: str | None = None
    decontaminate_ngram: int = 8
    # "ngram" (default, word 8-grams: verbatim leakage) or "winnow"
    # (char-level winnowing fingerprints: any shared substring of
    # >= winnow_k + winnow_w - 1 chars is GUARANTEED to surface, so a
    # punctuation/casing-edited copy of an eval item is caught where word
    # n-grams miss it — RefinedWeb-style robust ingest decontamination)
    decontaminate_mode: str = "ngram"
    decontaminate_winnow_k: int = 16
    decontaminate_winnow_w: int = 6
    # per-epoch distribution snapshots of the FINALLY-admitted docs
    # (operators/profiling.py document_profile — chars/words/lang in
    # sketch mode): kilobyte rows under ``_profile/epoch={id}`` with the
    # same epoch-overwrite replay contract as every other per-epoch
    # artifact here, read back with read_profile_history /
    # profile_history_drift — the corpus-shape counterpart of the block
    # sink's ``run --profile-columns`` history. ``stream_id``
    # (run_corpus_pipeline passes the checkpoint path) arms the same
    # ``_STREAM_ID`` guard the rollup and sink-profile histories carry:
    # a FRESH checkpoint restarts epoch ids at 0 and must not silently
    # overwrite recorded history one dir at a time. The guard covers the
    # corpus root too (process_batch): a fresh checkpoint's epoch
    # overwrites would destroy old epochs' docs/_index WHILE the re-fed
    # copies are being rejected against those same indexes — the content
    # indexes screen duplicates, they do not make the doc dirs safe.
    profile: bool = False
    stream_id: str | None = None

    def __post_init__(self) -> None:
        self._fs = HadoopFS(self.spark, self.out_dir)
        # writer-side repair on (re)start: a compact_index crashed inside
        # its commit window (sources deleted, ``_compact`` not yet renamed)
        # leaves the folded index rows ONLY in the armed tmp, and the
        # per-batch membership reads list ``epoch=`` dirs — without this, a
        # restarted stream would silently re-ADMIT duplicates of everything
        # the crashed fold covered until someone re-ran compact_index. The
        # sink owns the dir single-writer (compaction runs only against a
        # stopped stream), so repairing here cannot race a live compactor.
        recover_index_compact(self._fs, self.out_dir)
        if self.embed_dup and not self.embed_dim:
            raise ValueError(
                "embed_dup=True needs embed_dim (embedding dimension is "
                "pipeline metadata — never inferred from a batch, which "
                "may be empty)"
            )
        if self.ann_index_dir is not None:
            from ..llm.ann_index import read_ann_meta

            # fail at construction, not on batch 47: the frozen-codebook
            # append path is meaningless without a built index
            try:
                self._ann_meta = read_ann_meta(self.spark, self.ann_index_dir)
            except Exception as e:
                raise ValueError(
                    f"ann_index_dir={self.ann_index_dir!r} holds no readable "
                    "_ANN_META.json — build the index first (`ann-build` / "
                    "write_ann_index), then point the corpus stream at it"
                ) from e
        self._eval_grams = None
        if self.decontaminate_mode not in ("ngram", "winnow"):
            raise ValueError(
                f"decontaminate_mode={self.decontaminate_mode!r} — use "
                "'ngram' (verbatim word n-grams) or 'winnow' (char-level "
                "fingerprints, robust to tokenization edits)"
            )
        if self.decontaminate_eval_dir is not None:
            # fail at construction on an unreadable eval set; the index
            # is eval-sized (MBs) and reused by every micro-batch
            try:
                ev = self.spark.read.parquet(self.decontaminate_eval_dir)
                self._eval_grams = (
                    self._contam_keys(ev).select("gram").distinct().persist()
                )
                self._eval_grams.count()  # materialize + validate now
            except Exception as e:
                raise ValueError(
                    f"decontaminate_eval_dir={self.decontaminate_eval_dir!r}"
                    " is not a readable parquet of (doc_id, text) rows —"
                    f" the eval set must exist before the stream starts: {e}"
                ) from e
        if self.lexical_index_dir is not None:
            from ..llm.lexical_index import read_lexical_meta

            # same fail-at-construction contract as the ANN index: the
            # append path needs the build's bucket count
            try:
                read_lexical_meta(self.spark, self.lexical_index_dir)
            except Exception as e:
                raise ValueError(
                    f"lexical_index_dir={self.lexical_index_dir!r} holds no "
                    "readable _LEX_META.json — build the index first "
                    "(`lex-build` / write_lexical_index, an empty seed "
                    "corpus is fine), then point the corpus stream at it"
                ) from e
        if self.lm_dir is not None:
            from ..llm.lm import read_lm_meta

            # same fail-at-construction contract: the append path needs
            # the build's bucket count AND its min_count=1 exactness
            # precondition — surface both before the stream starts, not
            # on batch 47
            try:
                lm_meta = read_lm_meta(self.spark, self.lm_dir)
            except Exception as e:
                raise ValueError(
                    f"lm_dir={self.lm_dir!r} holds no readable "
                    "_LM_META.json — train the seed model first "
                    "(`lm-train` / write_bigram_lm, an empty seed corpus "
                    "is fine), then point the corpus stream at it"
                ) from e
            if int(lm_meta.get("min_count", 1)) > 1:
                raise ValueError(
                    f"lm_dir={self.lm_dir!r} was trained with min_count="
                    f"{lm_meta['min_count']} — a count-pruned LM cannot "
                    "accept exact streaming appends; retrain the seed "
                    "with min_count=1"
                )
        if (self.lm_gate_dir is None) != (self.lm_gate_max_score is None):
            raise ValueError(
                "lm_gate_dir and lm_gate_max_score come as a pair: the "
                "fluency gate needs both the trained target-domain model "
                "and an explicit perplexity ceiling (no universal default "
                "exists — calibrate on a scored sample via `lm-score`)"
            )
        if self.lm_gate_dir is not None:
            from ..llm.lm import read_lm_meta as _read_lm_meta

            # fail at construction, not on batch 47: the gate is
            # meaningless without a trained reference-domain model
            try:
                _read_lm_meta(self.spark, self.lm_gate_dir)
            except Exception as e:
                raise ValueError(
                    f"lm_gate_dir={self.lm_gate_dir!r} holds no readable "
                    "_LM_META.json — train the target-domain model first "
                    "(`lm-train` / write_bigram_lm), then point the gate "
                    "at it"
                ) from e

    def _contam_keys(self, docs: DataFrame) -> DataFrame:
        """One (doc_id-free) leak-key column per mode — word grams or
        winnowing fingerprints — applied identically to the eval set (at
        construction) and each batch (map-only), so the two sides can
        never tokenize apart."""
        if self.decontaminate_mode == "winnow":
            from ..llm.text import _winnow_selected

            return _winnow_selected(
                docs.select("doc_id", "text"),
                self.decontaminate_winnow_k, self.decontaminate_winnow_w,
            ).select(
                "doc_id", F.explode_outer("fps").alias("gram")
            ).filter(F.col("gram").isNotNull())
        from ..llm.dedup import shingle_array

        return docs.select(
            "doc_id",
            F.explode(
                shingle_array("text", self.decontaminate_ngram)
            ).alias("gram"),
        )

    def _index_dirs(self, root_name: str, exclude_epoch: int) -> list[str]:
        index_root = url_join(self.out_dir, root_name)
        if not self._fs.exists(index_root):
            return []
        return [
            url_join(index_root, e)
            for e in self._fs.listdir(index_root)
            if e.startswith("epoch=") and e != f"epoch={exclude_epoch}"
        ]

    @staticmethod
    def _reject_counts(batch: DataFrame) -> tuple[int, int]:
        """(quarantined, drift-rejected) row counts of one parsed batch, from
        one aggregate: unparseable lines; and parsed rows that are not
        their doc_id's single keeper (a null doc_id or text, or an in-batch
        doc_id collision past its first row)."""
        parsed = F.col(CORRUPT_COL).isNull()
        keyed = parsed & F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        row = batch.agg(
            F.count(F.when(~parsed, 1)).alias("bad"),
            F.count(F.when(parsed, 1)).alias("parsed"),
            F.countDistinct(F.when(keyed, F.col("doc_id"))).alias("ids"),
        ).first()
        return row.bad, row.parsed - row.ids

    def _write_rejects(self, rows: DataFrame, n_rows: int, root_name: str,
                       epoch_id: int) -> None:
        """Write one reject class's epoch dir when the class is non-empty;
        otherwise delete any dir an earlier attempt of this epoch left, so
        a replay converges either way (a missing dir counts as zero)."""
        path = url_join(self.out_dir, root_name, f"epoch={epoch_id}")
        if n_rows:
            rows.write.mode("overwrite").parquet(path)
        else:
            self._fs.delete(path)

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        from .rollup import guard_stream_id

        # fresh-checkpoint guard (code review r11): epoch ids restart at 0
        # under a lost/recreated checkpoint, and the epoch-keyed overwrites
        # below would destroy old epochs' docs/_index one dir at a time
        # WHILE the re-fed copies are being rejected against those same
        # indexes — documents permanently lost with no record anywhere.
        # The content indexes screen duplicates; they do not make the doc
        # dirs safe against a different stream's epoch numbering.
        guard_stream_id(self._fs, self.out_dir, self.stream_id,
                        what="corpus")
        # persist the PARSED batch before any action: the reject count and
        # the quarantine and drift writes below are full actions, and
        # without this each paid its own JSONL/WARC parse of the whole
        # staged input — the dominant per-batch cost at crawl scale (code
        # review r11)
        batch = batch.persist()
        to_unpersist: list[DataFrame] = [batch]
        line_postings = None
        try:
            clean, bad = split_quarantine(batch)
            n_bad, n_drift = self._reject_counts(batch)
            self._write_rejects(bad, n_bad, "_quarantine", epoch_id)
            # A parseable line missing doc_id or text is schema drift, not
            # a document: its text_hash must not reach the index (the null
            # key drops the doc itself from the admitted join, permanently
            # blocking a later, corrected re-crawl of the same text). And
            # two in-batch rows sharing one doc_id would BOTH survive the
            # admitted-id join, double-counting postings and n_docs in the
            # lexical/LM appends whose contracts require caller-side
            # doc_id dedup. Both are recorded to _drift_rejects, then
            # dropped — the visible-reject policy every other stage here
            # follows; neither drop is silent (code review r11).
            drift = clean.filter(
                F.col("doc_id").isNull() | F.col("text").isNull()
            ).select("doc_id", "lang", "source",
                     F.lit("null_key").alias("reason"))
            clean = clean.filter(
                F.col("doc_id").isNotNull() & F.col("text").isNotNull()
            ).withColumn(
                "__rn",
                F.row_number().over(
                    # deterministic keeper under replay: lowest text hash
                    Window.partitionBy("doc_id").orderBy(F.md5("text"))
                ),
            )
            drift = drift.unionByName(
                clean.filter(F.col("__rn") > 1)
                .select("doc_id", "lang", "source",
                        F.lit("dup_doc_id_in_batch").alias("reason"))
            )
            self._write_rejects(drift, n_drift, "_drift_rejects", epoch_id)
            clean = clean.filter(F.col("__rn") == 1).drop("__rn")
            index_dirs = self._index_dirs(
                "_index", exclude_epoch=int(epoch_id))
            if index_dirs:
                index = self.spark.read.parquet(*index_dirs)
            else:
                index = self.spark.createDataFrame([], "text_hash string")
            if self.line_dedup_min_docs is not None:
                clean = clean.persist()
                to_unpersist.append(clean)
                # strip the full whitespace class, not F.trim (spaces
                # only): a CRLF corpus leaves every line ending in \r, so
                # space-trim would hash the CRLF and LF variants of one
                # footer differently and keep \r-only "blank" lines
                stripped = F.regexp_replace("line", r"^\s+|\s+$", "")
                # ALL lines ride to the reconstruction; blank lines are
                # exempt from hotness (lh NULL — never counted, never
                # hot, never cut), so the stage's only mutation is the
                # advertised one: cutting lines that appear in >= N docs.
                # The previous filter-then-rebuild silently deleted every
                # blank line (and the trailing newline) from every
                # document even when NO line was hot — destroying
                # paragraph structure corpus-wide and making the exact-
                # dedup hash depend on whether line-dedup was configured
                # (code review r11).
                all_lines = clean.select(
                    "doc_id",
                    F.posexplode(F.split("text", "\n")).alias("pos", "line"),
                ).withColumn("lh", F.when(stripped != "", F.md5(stripped)))
                lines = all_lines.filter(F.col("lh").isNotNull())
                line_postings = lines.select("doc_id", "lh")
                batch_counts = lines.groupBy("lh").agg(
                    F.countDistinct("doc_id").cast("long").alias("n_docs")
                ).persist()
                to_unpersist.append(batch_counts)
                li_dirs = self._index_dirs(
                    "_line_index", exclude_epoch=int(epoch_id)
                )
                prior = (
                    self.spark.read.parquet(*li_dirs)
                    if li_dirs
                    else self.spark.createDataFrame(
                        [], "lh string, n_docs long"
                    )
                )
                # hotness = batch occurrences + every prior epoch's counts
                # (admitted docs are deduped, so cross-epoch doc overlap
                # cannot double-count a document)
                hot = (
                    batch_counts.unionByName(prior.select("lh", "n_docs"))
                    .groupBy("lh")
                    .agg(F.sum("n_docs").alias("n_docs"))
                    .filter(F.col("n_docs") >= self.line_dedup_min_docs)
                    .select("lh", F.lit(True).alias("is_hot"))
                )
                # null lh (blank lines) never matches a hot row: kept
                tagged = all_lines.join(hot, "lh", "left").withColumn(
                    "is_hot", F.coalesce("is_hot", F.lit(False))
                )
                rebuilt = tagged.groupBy("doc_id").agg(
                    F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        ~F.col("is_hot"),
                                        F.struct("pos", "line"),
                                    )
                                )
                            ),
                            lambda s: s.line,
                        ),
                    ).alias("__clean_text"),
                    # whitespace-only and fully-boilerplate docs still get
                    # recorded-then-dropped: with blanks now preserved,
                    # "no content survived" means no non-blank kept line,
                    # not an empty reconstruction string
                    F.max(
                        F.when(
                            ~F.col("is_hot") & F.col("lh").isNotNull(), 1
                        ).otherwise(0)
                    ).alias("__has_content"),
                ).filter(F.col("__has_content") == 1).drop(
                    "__has_content"
                ).persist()
                to_unpersist.append(rebuilt)
                # whitespace-only and boilerplate-emptied docs: recorded,
                # then dropped — the stage must never vanish a document
                clean.join(
                    rebuilt.select("doc_id"), "doc_id", "left_anti"
                ).select("doc_id", "lang", "source").write.mode(
                    "overwrite"
                ).parquet(
                    url_join(self.out_dir, "_line_rejects", f"epoch={epoch_id}")
                )
                clean = (
                    clean.join(rebuilt, "doc_id")
                    .withColumn("text", F.col("__clean_text"))
                    .drop("__clean_text")
                    .withColumn("n_chars", F.length("text").cast("long"))
                )
                # NOTE: the durable _line_index increment is written at the
                # bottom with the other indexes, filtered to FINALLY-kept
                # docs — counting the raw batch here would let rejected
                # re-crawl duplicates inflate cross-epoch hotness (every
                # index records only finally-admitted docs). The in-batch
                # HOT decision above deliberately uses the raw batch
                # counts: within one shard, boilerplate is boilerplate
                # regardless of which copies later dedup away.
            if self.quality_gate:
                from ..llm.text import quality_verdict_expr

                graded = clean.withColumn(
                    "__verdict", quality_verdict_expr()
                ).persist()
                to_unpersist.append(graded)
                graded.filter(F.col("__verdict") != "keep").select(
                    "doc_id", "lang", F.col("__verdict").alias("verdict")
                ).write.mode("overwrite").parquet(
                    url_join(self.out_dir, "_rejects", f"epoch={epoch_id}")
                )
                clean = graded.filter(
                    F.col("__verdict") == "keep"
                ).drop("__verdict")
            else:
                clean = clean.persist()
                to_unpersist.append(clean)
            if self.lm_gate_dir is not None:
                from ..llm.lm import score_with_lm

                # one scoring pass per batch: the batch's bigrams join the
                # persisted vocabulary-scale count tables (never collected
                # or broadcast) — the CCNet screen at its production cost
                scored = score_with_lm(
                    self.spark, self.lm_gate_dir,
                    clean.select("doc_id", "text"),
                    alpha=self.lm_gate_alpha,
                ).persist()
                to_unpersist.append(scored)
                # null scores (n_bigrams=0) fail the > comparison and are
                # kept — measurable and unmeasurable stay distinguishable
                disfluent = scored.filter(
                    F.col("neg_avg_logprob") > float(self.lm_gate_max_score)
                )
                clean.join(disfluent, "doc_id").select(
                    "doc_id", "lang", "n_bigrams", "neg_avg_logprob"
                ).write.mode("overwrite").parquet(
                    url_join(self.out_dir, "_lm_rejects", f"epoch={epoch_id}")
                )
                clean = clean.join(
                    disfluent.select("doc_id"), "doc_id", "left_anti"
                )
            if self._eval_grams is not None:
                tr_g = self._contam_keys(clean)
                contaminated = (
                    tr_g.join(F.broadcast(self._eval_grams), "gram")
                    .groupBy("doc_id")
                    .agg(F.countDistinct("gram").alias("n_grams_hit"))
                    .persist()
                )
                to_unpersist.append(contaminated)
                clean.join(contaminated, "doc_id").select(
                    "doc_id", "lang", "n_grams_hit"
                ).write.mode("overwrite").parquet(
                    url_join(self.out_dir, "_contam_rejects",
                             f"epoch={epoch_id}")
                )
                clean = clean.join(
                    contaminated.select("doc_id"), "doc_id", "left_anti"
                )
            # stage 1: exact content hash vs the persistent hash index;
            # kept carries text_hash so the _index increment is a
            # projection of it
            admitted = incremental_dedup(clean, index).persist()
            to_unpersist.append(admitted)
            kept = clean.join(admitted, "doc_id")
            nd_admitted = None
            if self.near_dup:
                from ..llm.dedup import incremental_neardup

                nd_dirs = self._index_dirs(
                    "_neardup_index", exclude_epoch=int(epoch_id)
                )
                if nd_dirs:
                    nd_index = self.spark.read.parquet(*nd_dirs)
                else:
                    nd_index = self.spark.createDataFrame(
                        [], "band_id int, band_hash bigint, sig array<bigint>"
                    )
                # stage 2: MinHash band overlap vs the persistent band
                # index; the result comes back persisted. kept carries each
                # admitted doc's sig from one row per doc (its first band,
                # or a short doc's all-null row) — no shuffle
                nd_admitted = incremental_neardup(
                    kept, nd_index, threshold=self.neardup_threshold
                )
                to_unpersist.append(nd_admitted)
                kept = kept.join(
                    nd_admitted.filter(
                        F.coalesce("band_id", F.lit(0)) == 0
                    ).select("doc_id", "sig"),
                    "doc_id",
                )
            ed_admitted = None
            if self.embed_dup:
                from ..llm.similarity import incremental_embedding_neardup

                ed_dirs = self._index_dirs(
                    "_embed_index", exclude_epoch=int(epoch_id)
                )
                if ed_dirs:
                    ed_index = self.spark.read.parquet(*ed_dirs)
                else:
                    ed_index = self.spark.createDataFrame(
                        [], "bucket bigint, embedding array<float>"
                    )
                # stage 3: embedding cosine vs the persistent bucket index
                ed_admitted = incremental_embedding_neardup(
                    kept, ed_index,
                    threshold=self.embed_threshold,
                    dim=self.embed_dim,
                    n_planes=self.embed_planes,
                ).persist()
                to_unpersist.append(ed_admitted)
                kept = kept.join(
                    ed_admitted.select("doc_id").distinct(), "doc_id"
                )
            kept = kept.persist()
            to_unpersist.append(kept)
            docs = kept.drop("text_hash", "sig")
            docs.write.mode("overwrite").parquet(
                url_join(self.out_dir, "docs", f"epoch={epoch_id}")
            )
            # EVERY index records only FINALLY-admitted docs: a doc a later
            # stage rejects must leave no trace in any earlier stage's
            # index, or a future re-crawl of content that is NOT in the
            # corpus would be rejected against it. The exact and MinHash
            # increments are projections of kept, which carries both
            # digests. Unscreenable docs carry a null sig — only real
            # signatures are persisted.
            if nd_admitted is not None:
                from ..llm.dedup import _band_rows

                _band_rows(
                    kept.filter(F.col("sig").isNotNull()).select("doc_id", "sig")
                ).select("band_id", "band_hash", "sig").write.mode(
                    "overwrite"
                ).parquet(
                    url_join(self.out_dir, "_neardup_index", f"epoch={epoch_id}")
                )
            if ed_admitted is not None:
                # the embed stage is LAST: ed_admitted == finally kept by
                # construction, no re-filter join needed
                ed_admitted.filter(
                    F.col("bucket").isNotNull()
                ).select("bucket", "embedding").write.mode(
                    "overwrite"
                ).parquet(
                    url_join(self.out_dir, "_embed_index", f"epoch={epoch_id}")
                )
            kept.select("text_hash").write.mode("overwrite").parquet(
                url_join(self.out_dir, "_index", f"epoch={epoch_id}")
            )
            if line_postings is not None:
                # as-crawled line sightings of FINALLY-admitted docs only:
                # a re-crawl the dedup stages reject must not inflate a
                # line's cross-epoch hotness (one rejected duplicate per
                # epoch would alone push any of its lines past the
                # threshold)
                line_postings.join(
                    kept.select("doc_id"), "doc_id"
                ).groupBy("lh").agg(
                    F.countDistinct("doc_id").cast("long").alias("n_docs")
                ).write.mode("overwrite").parquet(
                    url_join(self.out_dir, "_line_index", f"epoch={epoch_id}")
                )
            if self.ann_index_dir is not None:
                from ..llm.ann_index import append_epoch_to_ann_index

                # the _profile guard's rule, extended to the EXTERNAL
                # epoch-keyed artifacts (code review r12): the corpus-root
                # guard at the top of process_batch protects this stream's
                # own restarts, but a NEW stream pointed at a RECYCLED
                # index/LM dir from another corpus would pass it and then
                # overwrite that artifact's epoch=0.. deltas one batch at
                # a time — silent count/posting corruption with no record
                guard_stream_id(
                    HadoopFS(self.spark, self.ann_index_dir),
                    self.ann_index_dir, self.stream_id,
                    what="ann-index epoch history",
                )
                # only embeddable docs enter the serving index (null /
                # wrong-dim embeddings have no vector to serve); the
                # epoch-keyed overwrite makes a replayed batch converge
                embeddable = kept.filter(
                    F.col("embedding").isNotNull()
                    & (F.size("embedding") == self._ann_meta["dim"])
                ).select("doc_id", "embedding")
                append_epoch_to_ann_index(
                    embeddable, self.ann_index_dir, int(epoch_id),
                    vec_col="embedding", id_col="doc_id",
                    # the filter above IS the validation; validate=True
                    # would re-check it with an extra Spark job per batch.
                    # Pass the SAME construction-time meta the filter used:
                    # a per-batch re-read could see a concurrent retrain
                    # with a different dim, and filter and encoder would
                    # silently disagree.
                    validate=False,
                    meta=self._ann_meta,
                )
            if self.profile:
                from ..operators.profiling import document_profile
                from .rollup import guard_stream_id

                # kept is persisted: one sketch-aggregate job over cached
                # partitions, a row per derived metric per epoch
                profile_dir = url_join(self.out_dir, "_profile")
                guard_stream_id(self._fs, profile_dir, self.stream_id,
                                what="corpus-profile history")
                document_profile(kept).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(url_join(profile_dir, f"epoch={epoch_id}"))
            if self.lexical_index_dir is not None:
                from ..llm.lexical_index import append_epoch_to_lexical_index

                guard_stream_id(
                    HadoopFS(self.spark, self.lexical_index_dir),
                    self.lexical_index_dir, self.stream_id,
                    what="lexical-index epoch history",
                )
                # index the text AS ADMITTED (post line-dedup cleaning) —
                # retrieval must rank what the corpus serves, and the
                # epoch-keyed overwrite makes a replayed batch converge
                append_epoch_to_lexical_index(
                    kept.select("doc_id", "text"),
                    self.lexical_index_dir, int(epoch_id),
                )
            if self.lm_dir is not None:
                from ..llm.lm import append_epoch_to_bigram_lm

                guard_stream_id(
                    HadoopFS(self.spark, self.lm_dir),
                    self.lm_dir, self.stream_id,
                    what="bigram-LM epoch history",
                )
                # count the text AS ADMITTED, same rule as the lexical
                # append: the fluency model must reflect what the corpus
                # serves, and the epoch-keyed overwrite makes a replayed
                # batch converge
                append_epoch_to_bigram_lm(
                    kept.select("doc_id", "text"),
                    self.lm_dir, int(epoch_id),
                )
        finally:
            for df in to_unpersist:
                df.unpersist()


def corpus_docs(spark: SparkSession, out_dir: str,
                as_of_epoch: int | None = None) -> DataFrame:
    """The admitted corpus (union of every epoch's docs). An empty corpus —
    no micro-batch ever ran, or none admitted anything — reads as zero
    rows, not a PATH_NOT_FOUND crash.

    ``as_of_epoch`` is a snapshot read: only documents admitted in epochs
    <= N (the corpus as it stood after batch N committed). Because
    ``epoch`` IS the partition column, the filter is pure partition
    pruning — later epochs' files are never opened — which makes
    reproducing an earlier training run's exact corpus a zero-cost
    time-travel read, not a restore job."""
    docs_root = url_join(out_dir, "docs")
    if not HadoopFS(spark, out_dir).exists(docs_root):
        from ..sources.text_corpus import DOC_SCHEMA
        from pyspark.sql import types as T

        # epoch (the partition column a populated corpus carries) is part
        # of the schema here too, so epoch-based plans built before the
        # first batch commits resolve instead of throwing
        # UNRESOLVED_COLUMN only on the empty case (code review r11)
        return spark.createDataFrame(
            [], T.StructType(
                [f for f in DOC_SCHEMA.fields if f.name != CORRUPT_COL]
                + [T.StructField("epoch", T.IntegerType())]
            )
        )
    # mergeSchema: a corpus written across engine versions can mix epochs
    # with and without the optional embedding column; without the merge,
    # Spark takes one arbitrary footer's schema and the column appears or
    # vanishes run-to-run
    df = (
        spark.read.option("basePath", docs_root)
        .option("mergeSchema", "true")
        .parquet(docs_root)
    )
    if as_of_epoch is not None:
        df = df.filter(F.col("epoch") <= int(as_of_epoch))
    return df


def line_retro_stale(spark: SparkSession, out_dir: str,
                     min_dup_docs: int) -> DataFrame:
    """QUANTIFY the boilerplate stage's documented shard-local trade
    (VERDICT r6, Next #4): a line that becomes hot only after some docs
    were already admitted never retro-cleans those earlier epochs —
    CCNet's own trade. This audit measures it instead of just documenting
    it: (doc_id, n_stale_lines) for every ADMITTED doc still carrying a
    line whose CUMULATIVE ``_line_index`` hotness has reached
    ``min_dup_docs`` (pass the sink's ``line_dedup_min_docs``). Pytest
    pins the audit set to exactly the diff between the streamed corpus
    and a batch :func:`llm.dedup.line_dedup` pass over the same input —
    so the incremental-vs-batch gap is a measured count, and running the
    audit after a re-clean (re-admit the flagged docs through a fresh
    batch pass) returning empty is the "caught up" signal.

    100 TB shape: the hotness fold is one sum exchange over the
    kilobyte-per-line index digests; admitted docs explode into lines
    map-side and join the hot set on the line hash (AQE broadcasts it
    when small); one groupBy(doc_id) for the counts. Same strip+md5 line
    identity as the stage itself, so audit and cut can never disagree on
    what a "line" is."""
    docs = corpus_docs(spark, out_dir).select("doc_id", "text")
    fs = HadoopFS(spark, out_dir)
    empty = spark.createDataFrame([], "doc_id long, n_stale_lines long")
    li_root = url_join(out_dir, "_line_index")
    if not fs.exists(li_root):
        return empty
    dirs = [
        url_join(li_root, e)
        for e in fs.listdir(li_root)
        if e.startswith("epoch=")
    ]
    if not dirs:
        return empty
    hot = (
        spark.read.parquet(*dirs)
        .groupBy("lh")
        .agg(F.sum("n_docs").alias("n_docs"))
        .filter(F.col("n_docs") >= min_dup_docs)
        .select("lh")
    )
    stripped = F.regexp_replace("line", r"^\s+|\s+$", "")
    lines = (
        docs.select("doc_id", F.explode(F.split("text", "\n")).alias("line"))
        .filter(stripped != "")
        .select("doc_id", F.md5(stripped).alias("lh"))
    )
    return lines.join(hot, "lh").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_stale_lines")
    )


def run_corpus_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    flush_interval: str = "1 second",
    near_dup: bool = False,
    neardup_threshold: float = 0.5,
    embed_dup: bool = False,
    embed_threshold: float = 0.99,
    embed_dim: int | None = None,
    embed_planes: int = 6,
    ann_index_dir: str | None = None,
    lexical_index_dir: str | None = None,
    lm_dir: str | None = None,
    lm_gate_dir: str | None = None,
    lm_gate_max_score: float | None = None,
    lm_gate_alpha: float = 0.1,
    input_format: str = "jsonl",
    quality_gate: bool = False,
    line_dedup_min_docs: int | None = None,
    profile: bool = False,
    decontaminate_eval_dir: str | None = None,
    decontaminate_ngram: int = 8,
    decontaminate_mode: str = "ngram",
):
    """readStream over document shards → CorpusSink.

    ``input_format="jsonl"`` (default): ``spark.readStream.text`` +
    PERMISSIVE ``from_json`` — the streaming twin of
    ``sources.text_corpus.read_jsonl_corpus`` (same schema, same
    quarantine semantics). ``input_format="warc"``: WARC/WET crawl shards
    via ``sources.warc_corpus.stream_warc_corpus`` (marker-delimited
    record split, JVM-side header parse) — structurally broken records
    arrive with the raw record in the corrupt column and take the same
    quarantine path. Either way file tracking and offsets come from the
    standard file source and the parse stays JVM-side.
    """
    sink = CorpusSink(
        spark=spark, out_dir=out_dir,
        near_dup=near_dup, neardup_threshold=neardup_threshold,
        embed_dup=embed_dup, embed_threshold=embed_threshold,
        embed_dim=embed_dim, embed_planes=embed_planes,
        ann_index_dir=ann_index_dir, lexical_index_dir=lexical_index_dir,
        lm_dir=lm_dir,
        lm_gate_dir=lm_gate_dir, lm_gate_max_score=lm_gate_max_score,
        lm_gate_alpha=lm_gate_alpha,
        quality_gate=quality_gate,
        line_dedup_min_docs=line_dedup_min_docs,
        profile=profile,
        decontaminate_eval_dir=decontaminate_eval_dir,
        decontaminate_ngram=decontaminate_ngram,
        decontaminate_mode=decontaminate_mode,
        stream_id=checkpoint_dir,
    )
    sink._fs.mkdirs(out_dir)
    if input_format == "warc":
        from ..sources.warc_corpus import WARC_MARKER, parse_warc_docs

        raw = spark.readStream.option("lineSep", WARC_MARKER).text(input_dir)
        parsed = parse_warc_docs(raw, ("conversion",)).select(
            "doc_id", "text", "lang", "source", "n_chars",
            F.lit(None).cast("array<float>").alias("embedding"),
            F.col("_corrupt_record").alias(CORRUPT_COL),
        )
    elif input_format == "jsonl":
        parsed = (
            spark.readStream.text(input_dir)
            .select(
                F.from_json(
                    "value",
                    DOC_SCHEMA,
                    {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
                ).alias("__d")
            )
            .select("__d.*")
        )
    else:
        raise ValueError(
            f"input_format={input_format!r}: expected 'jsonl' or 'warc'"
        )
    writer = parsed.writeStream.foreachBatch(sink.process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=flush_interval)
    return writer.start(), sink


# -- index maintenance ------------------------------------------------------

COMPACTED_EPOCH = -1


def _commit_index_compact(fs: HadoopFS, index_root: str, srcs: list[str]) -> None:
    """Swap a fully-written ``_compact`` dir into ``epoch=-1`` via the
    shared write-ahead protocol (``foldswap.commit_fold``) — idempotent
    from any crash point. Duplicated hashes during the swap window are
    harmless — the index feeds a LEFT ANTI join, for which membership is
    idempotent."""
    from ..foldswap import commit_fold

    commit_fold(fs, index_root, "_compact", srcs)


#: (root dir, columns, merge mode). Membership indexes merge by DISTINCT
#: (the anti/band joins only test membership); the line-count index must
#: SUM its per-epoch counts per hash — distinct would collapse a line seen
#: in 40 documents across 40 epochs down to one count.
_INDEX_ROOTS = (
    ("_index", ["text_hash"], "distinct"),
    ("_neardup_index", ["band_id", "band_hash", "sig"], "distinct"),
    ("_embed_index", ["bucket", "embedding"], "distinct"),
    ("_line_index", ["lh", "n_docs"], "sum_counts"),
)


def recover_index_compact(fs: HadoopFS, out_dir: str) -> dict[str, str]:
    """Repair ``_compact`` leftovers from a crashed compact_index run, for
    every index root, via the shared protocol (``foldswap.recover_fold``):
    with a manifest the write finished — re-run its commit; without one it
    never committed and its sources are intact — drop it. Returns
    {root_name: action} for roots that needed repair."""
    from ..foldswap import recover_fold

    actions: dict[str, str] = {}
    for root_name, _cols, _mode in _INDEX_ROOTS:
        index_root = url_join(out_dir, root_name)
        if not fs.exists(index_root):
            continue
        action = recover_fold(fs, index_root, "_compact")
        if action is not None:
            actions[root_name] = action
    return actions


def compact_index(spark: SparkSession, out_dir: str, min_epochs: int = 2) -> bool:
    """Merge the corpus indexes' per-batch epoch dirs into one ``epoch=-1``
    dir each — every stage index present (exact hash, MinHash band,
    embedding bucket). A long-running corpus build accumulates one small index file
    set per micro-batch per index — the classic small-file pathology; at
    scale, run this on a cadence (and write the result bucketed by the
    join key, Spark's ``DataFrameWriter.bucketBy``, so the per-batch
    joins co-locate). Run ONLY
    against a stopped stream, the same single-writer discipline as sink
    compaction.

    The HIGHEST-numbered epoch is never merged: foreachBatch commits each
    batch before starting the next, so only the trailing epoch can be an
    uncommitted crashed attempt — and its replay relies on finding (and
    excluding) its own directory BY NAME. Merging it into ``epoch=-1``
    would make the replay see its first attempt's hashes, reject every one
    of its own documents, and overwrite the epoch with nothing.

    Crash-safe: data + a manifest naming the merged sources land in
    ``_compact`` first; the commit phase (delete sources, rename into
    place) is idempotent and re-runnable via ``recover_index_compact``,
    which is also invoked automatically here."""
    from ..foldswap import foldable_epoch_names

    fs = HadoopFS(spark, out_dir)
    recover_index_compact(fs, out_dir)
    did = False
    for root_name, cols, mode in _INDEX_ROOTS:
        index_root = url_join(out_dir, root_name)
        # recover=False: recover_index_compact above already repaired
        # every root in one pass
        epochs = foldable_epoch_names(fs, index_root, min_epochs,
                                      recover=False)
        if epochs is None:
            continue
        merged = spark.read.parquet(
            *[url_join(index_root, e) for e in epochs]
        ).select(*cols)
        if mode == "sum_counts":
            key = [c for c in cols if c != "n_docs"]
            merged = merged.groupBy(*key).agg(
                F.sum("n_docs").cast("long").alias("n_docs")
            ).select(*cols)
        else:
            merged = merged.distinct()
        tmp = url_join(index_root, "_compact")
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        from ..foldswap import write_fold_manifest

        write_fold_manifest(fs, tmp, epochs)
        _commit_index_compact(fs, index_root, epochs)
        did = True
    return did
