"""Degenerate-input robustness: empty frames, single rows, null text, and
non-numeric width settings.

At 100 TB a partition-pruned or freshly-bootstrapped pipeline routinely hands
operators an EMPTY (or one-row) frame; an operator that throws on it takes
the whole job down. Each test asserts the operator returns a well-formed
(usually empty) result instead of raising.
"""

import importlib
import logging
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, source string")


@pytest.fixture()
def null_docs(spark):
    return spark.createDataFrame(
        [(1, None, "web"), (2, "", "web"), (3, "real text here", "books")],
        "doc_id long, text string, source string",
    )


def test_dedup_ops_on_empty(empty_docs):
    from spark_ensemble_spark.operators.dedup import (
        exact_dedup,
        minhash_dup_pairs,
        simhash_dup_pairs,
    )

    assert exact_dedup(empty_docs, ["text"], "doc_id").count() == 0
    assert minhash_dup_pairs(empty_docs, "text", "doc_id").count() == 0
    assert simhash_dup_pairs(empty_docs, "text", "doc_id").count() == 0


def test_corpus_ops_on_empty(empty_docs):
    from spark_ensemble_spark.operators.corpus import (
        corpus_profile,
        strip_boilerplate,
        tfidf_top_terms,
        top_ngrams,
    )

    assert strip_boilerplate(empty_docs).count() == 0
    assert corpus_profile(empty_docs).count() == 0
    assert tfidf_top_terms(empty_docs).count() == 0
    assert top_ngrams(empty_docs).count() == 0


def test_null_and_empty_text_survive(null_docs):
    """NULL/'' text must flow through (coalesced), never drop rows or throw —
    dedup signatures keep one row per doc id."""
    from spark_ensemble_spark.operators.dedup import minhash_signatures
    from spark_ensemble_spark.operators.corpus import strip_boilerplate
    from spark_ensemble_spark.operators.text import analyze_documents

    sigs = minhash_signatures(null_docs, "text", "doc_id")
    assert sigs.count() == 3
    stripped = {r["doc_id"]: r["text"] for r in strip_boilerplate(null_docs).collect()}
    assert set(stripped) == {1, 2, 3}
    assert stripped[1] == "" and stripped[2] == ""
    assert analyze_documents(null_docs).count() == 3


def test_embeddings_ops_on_empty(spark):
    from spark_ensemble_spark.operators.embeddings import dim_stats, split_by_hash

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert dim_stats(empty).count() == 0
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert split_by_hash(docs, "doc_id", {"a": 0.5, "b": 0.5}).count() == 0


def test_range_join_empty_sides(spark):
    from spark_ensemble_spark.operators.joins import range_join

    pts = spark.createDataFrame([], "user_id long, ts timestamp")
    iv = spark.createDataFrame(
        [], "user_id long, w_start timestamp, w_end timestamp"
    )
    out = range_join(pts, iv, "ts", "w_start", "w_end", 60, keys=["user_id"])
    assert out.count() == 0


def test_weighted_median_single_row(spark):
    from spark_ensemble_spark.functions.stats import weighted_median_of

    df = spark.createDataFrame([(42.0, 3.0)], "v double, w double")
    assert weighted_median_of(df, "v", "w").first()["weighted_median"] == 42.0


def test_round5_ops_on_empty(empty_docs, spark):
    from spark_ensemble_spark.functions.metrics import (
        classification_metrics,
        regression_metrics,
    )
    from spark_ensemble_spark.operators.corpus import (
        repetition_signals,
        temperature_mixing_rates,
    )
    from spark_ensemble_spark.operators.dedup import chunk_dedup, dedup_against_corpus

    assert repetition_signals(empty_docs).count() == 0
    assert chunk_dedup(empty_docs, "text", "doc_id").count() == 0
    assert temperature_mixing_rates(empty_docs, "source").count() == 0
    assert dedup_against_corpus(empty_docs, empty_docs, "text", "doc_id").count() == 0
    empty_scored = spark.createDataFrame([], "label double, prediction double")
    r = regression_metrics(empty_scored).first()
    assert r.n == 0 and r.rmse is None  # 0/0 propagates as NULL, not a crash
    assert classification_metrics(empty_scored).count() == 0


def test_round5_ops_on_null_text(null_docs):
    from spark_ensemble_spark.operators.corpus import repetition_signals
    from spark_ensemble_spark.operators.dedup import chunk_dedup

    rows = {r.doc_id: r for r in repetition_signals(null_docs).collect()}
    assert rows[1].dup_token_fraction == 0.0  # NULL text
    assert rows[2].dup_3gram_char_fraction == 0.0  # empty text
    cd = {r.doc_id: r for r in chunk_dedup(null_docs, "text", "doc_id", 4).collect()}
    assert set(cd) == {1, 2, 3}  # null/empty docs still come back


def test_pq_empty_queries(spark):
    from spark_ensemble_spark.operators.similarity import (
        pq_fixed_codebooks,
        pq_topk,
    )

    corpus = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8)], "vec_id long, embedding array<double>"
    )
    books = pq_fixed_codebooks(dim=8, num_subspaces=2, num_codewords=4)
    empty_q = corpus.filter(F.col("vec_id") < 0)
    assert pq_topk(corpus, empty_q, books, k=3).count() == 0


def test_continuation_ops_on_empty(empty_docs, spark):
    from spark_ensemble_spark.operators.corpus import (
        bigram_logprob_score,
        dsir_log_weights,
        split_by_hash,
        unigram_logprob_score,
    )
    from spark_ensemble_spark.operators.dedup import semantic_dedup
    from spark_ensemble_spark.operators.similarity import ann_recall

    assert bigram_logprob_score(empty_docs).count() == 0
    assert unigram_logprob_score(empty_docs).count() == 0
    assert split_by_hash(empty_docs, "doc_id", {"a": 1.0, "b": 1.0}).count() == 0
    assert (
        dsir_log_weights(
            empty_docs.withColumn("t", F.lit(True)), target_col="t", buckets=16
        ).count()
        == 0
    )
    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    assert semantic_dedup(empty_vecs, "embedding", "vec_id", cents).count() == 0
    empty_topk = spark.createDataFrame(
        [], "query_id long, neighbor_id long, rank int"
    )
    assert ann_recall(empty_topk, empty_topk, k=5).count() == 0


def test_continuation_ops_null_text(null_docs):
    from spark_ensemble_spark.operators.corpus import (
        bigram_logprob_score,
        dsir_log_weights,
    )

    bi = {r.doc_id: r.n_bigrams for r in bigram_logprob_score(null_docs).collect()}
    assert bi[1] == 0 and bi[2] == 0 and bi[3] > 0  # null/empty never dropped
    w = dsir_log_weights(
        null_docs.withColumn("t", F.col("source") == "books"),
        target_col="t",
        buckets=64,
    )
    assert w.count() == 3  # every doc scores, null text included


def test_psi_empty_snapshot(spark):
    """An empty comparison side is fully smoothed — finite terms, no crash."""
    from spark_ensemble_spark.functions.metrics import (
        population_stability_index,
    )

    a = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    b = spark.createDataFrame([], "v double")
    rows = population_stability_index(a, b, "v", [1.5]).collect()
    assert rows and all(abs(r.psi_term) < float("inf") for r in rows)


def test_round7_ops_on_empty(empty_docs, spark):
    """r7 operators on empty frames: the Arrow seams must still emit their
    declared schema with zero rows (a mapInPandas iterator that never
    yields), packing and PCA projection must return empty well-formed
    frames."""
    from spark_ensemble_spark.operators.corpus import pack_token_windows
    from spark_ensemble_spark.operators.embeddings import pca_project
    from spark_ensemble_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        frame_sample,
        resize_image,
        synthetic_bmp_corpus,
        synthetic_video_corpus,
        synthetic_wav_corpus,
    )

    bmp = synthetic_bmp_corpus(empty_docs)
    assert decode_image(bmp).count() == 0
    assert decode_image(bmp).columns == [
        "doc_id", "width", "height", "mean_r", "mean_g", "mean_b", "top_left_r",
    ]
    assert resize_image(bmp).count() == 0
    assert decode_audio(synthetic_wav_corpus(empty_docs)).count() == 0
    assert frame_sample(synthetic_video_corpus(empty_docs)).count() == 0

    packed = pack_token_windows(empty_docs)
    assert packed.count() == 0
    assert packed.columns == [
        "doc_id", "bucket", "n_tokens", "start_offset", "first_window", "last_window",
    ]

    proj = {"mean": [0.0, 0.0], "components": [[1.0, 0.0]], "offsets": [0.0]}
    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = pca_project(empty_vecs, proj)
    assert out.count() == 0 and out.columns == ["vec_id", "embedding", "pca"]


_RUNNER_LOG = "spark_ensemble_spark.streaming.runner"


@pytest.mark.parametrize("partitions, want", [("auto", 6), ("12", 12), ("4", 4)])
def test_replay_width_survives_non_numeric_shuffle_partitions(caplog, partitions, want):
    """``spark.sql.shuffle.partitions=auto`` (Databricks) falls back to
    ``defaultParallelism`` with a warning; a number keeps its width."""
    from spark_ensemble_spark.streaming.corpus import _replay_width

    spark = SimpleNamespace(
        conf=SimpleNamespace(get={"spark.sql.shuffle.partitions": partitions}.__getitem__),
        sparkContext=SimpleNamespace(defaultParallelism=6),
    )
    with caplog.at_level(logging.WARNING, logger=_RUNNER_LOG):
        assert _replay_width(spark) == want
    assert ("not an integer" in caplog.text) == (partitions == "auto")


@pytest.mark.parametrize("value, want", [("auto", 8), ("", 8), ("3", 3), (None, 8)])
def test_replay_shuffle_env_survives_non_numeric_value(monkeypatch, caplog, value, want):
    """A non-numeric ``SPARK_ENSEMBLE_STREAM_SHUFFLE`` no longer fails the
    import of the streaming package: it falls back to 8 with a warning."""
    from spark_ensemble_spark.streaming import runner

    seq = runner._SEQ  # keep memory-sink names unique across the reloads
    if value is None:
        monkeypatch.delenv("SPARK_ENSEMBLE_STREAM_SHUFFLE", raising=False)
    else:
        monkeypatch.setenv("SPARK_ENSEMBLE_STREAM_SHUFFLE", value)
    try:
        with caplog.at_level(logging.WARNING, logger=_RUNNER_LOG):
            assert importlib.reload(runner)._REPLAY_SHUFFLE == want
        assert ("not an integer" in caplog.text) == (value in ("auto", ""))
    finally:
        monkeypatch.undo()
        importlib.reload(runner)._SEQ = seq
