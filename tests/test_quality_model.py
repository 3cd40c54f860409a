"""Trained quality classifier: the model must generalize the weak rule
labels — agree with them on training data and rank held-out junk below
held-out prose — with zero-shuffle scoring."""

import pytest

from pyspark.sql import functions as F

from substreams_sink_parquet_spark.llm.quality_model import (
    score_quality,
    train_quality_model,
    weak_quality_labels,
)

GOOD = (
    "the quick brown fox jumps over a lazy dog and then it runs to the river "
    "bank where the water is cold and the light of the morning sun is warm "
    "and the day begins in a quiet town full of people going to work"
)
BAD_SYMBOLS = "!!! ??? ;;; ::: ,,, ... !!! ??? ;;; ::: ,,, ... !!! ??? ;;; :::"
BAD_REPeat = "spam " * 60


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(40):
        rows.append((i, f"{GOOD} extra words number {i} close the note here"))
    for i in range(40, 70):
        rows.append((i, BAD_SYMBOLS))
    for i in range(70, 100):
        rows.append((i, BAD_REPeat))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_weak_labels_match_rule_cascade(spark, corpus):
    got = {r.doc_id: r.label for r in weak_quality_labels(corpus).collect()}
    assert all(got[i] == 1.0 for i in range(40))
    assert all(got[i] == 0.0 for i in range(40, 100))


def test_model_generalizes_to_held_out_docs(spark, corpus):
    train = corpus.where(F.col("doc_id") % 5 != 0)
    held = corpus.where(F.col("doc_id") % 5 == 0)
    model = train_quality_model(train)
    scores = {r.doc_id: r.p_keep for r in score_quality(model, held).collect()}
    good = [v for k, v in scores.items() if k < 40]
    bad = [v for k, v in scores.items() if k >= 40]
    # perfect separation on this corpus: every held-out good doc outranks
    # every held-out bad doc
    assert min(good) > max(bad)


def test_scoring_is_map_only(spark, corpus):
    from substreams_sink_parquet_spark.plans.inspect import plan_report

    model = train_quality_model(corpus)
    rep = plan_report(score_quality(model, corpus))
    assert rep.shuffle_exchanges == 0


def test_sample_mod_trains_on_hash_slice(spark, corpus):
    # 1/2 slice still separates; determinism: same slice -> same coefficients
    m1 = train_quality_model(corpus, sample_mod=2)
    m2 = train_quality_model(corpus, sample_mod=2)
    c1 = m1.stages[-1].coefficients
    c2 = m2.stages[-1].coefficients
    assert c1 == c2


def test_model_trains_after_stream_batch_and_lexical_build(spark, tmp_path):
    """MLlib fit in a session that already ran a plain-mode stream batch
    and a lexical-index build. Neither may leave an observed-metrics
    listener behind: once a DataFrame.observe() has run, Spark 4.1 fails
    every later MLlib fit in the session (NotSerializableException:
    ObservationManager)."""
    from substreams_sink_parquet_spark.llm.lexical_index import (
        write_lexical_index,
    )
    from substreams_sink_parquet_spark.sink.writer import WriterOptions
    from substreams_sink_parquet_spark.streaming.stream_sink import (
        StreamingSink,
    )

    from .test_protowire import BLOCK
    from .test_sink_writer import _blocks_df

    out_dir = str(tmp_path / "lake")
    StreamingSink(spark=spark, spec=BLOCK, out_dir=out_dir,
                  opts=WriterOptions(partition_size=10)).process_batch(
        _blocks_df(spark, list(range(12))), epoch_id=0)
    docs = spark.createDataFrame(
        [(i, f"{GOOD} extra words number {i} close the note here"
          if i % 2 else BAD_SYMBOLS) for i in range(20)],
        "doc_id long, text string",
    )
    write_lexical_index(docs, str(tmp_path / "lex"), n_buckets=4)
    model = train_quality_model(docs)
    scores = {r.doc_id: r.p_keep for r in score_quality(model, docs).collect()}
    assert min(scores[i] for i in range(1, 20, 2)) > max(
        scores[i] for i in range(0, 20, 2))
