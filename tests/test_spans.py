"""Span-level exact-substring dedup (operators/spans.py).

Oracle parity for docs_repeated_spans / docs_span_scrub runs in
tests/test_oracles.py automatically; here are the semantic
properties the SQL replay can't express as equality."""

from pyspark.sql import functions as F

from spark_ensemble_spark.operators import spans as S


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_boilerplate_is_found_and_canonical_survives(spark):
    boiler = "subscribe to our newsletter for daily updates and offers now"
    rows = [
        (0, f"alpha beta {boiler} gamma delta"),
        (1, f"one two three four {boiler}"),
        (2, f"{boiler} five six seven eight nine ten"),
        (3, "completely unrelated text with no repeats at all here ok"),
    ]
    spans = S.repeated_spans(_docs(spark, rows), k=5).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0 is the minimal home of the boilerplate: no span
    assert 0 not in by_doc
    assert 3 not in by_doc
    # docs 1 and 2 each flag exactly the planted passage, with provenance
    # pointing at its canonical home (doc 0)
    for d in (1, 2):
        assert len(by_doc[d]) == 1, by_doc
        assert by_doc[d][0]["span_text"] == boiler
        assert by_doc[d][0]["source_doc"] == 0
    scrubbed = {
        r["doc_id"]: r
        for r in S.scrub_repeated_spans(_docs(spark, rows), k=5).collect()
    }
    assert scrubbed[0]["n_spans"] == 0
    assert scrubbed[0]["text_scrubbed"] == f"alpha beta {boiler} gamma delta"
    assert scrubbed[1]["text_scrubbed"] == "one two three four"
    assert scrubbed[2]["text_scrubbed"] == "five six seven eight nine ten"
    assert scrubbed[1]["n_words_removed"] == len(boiler.split())


def test_adjacent_grams_merge_to_one_maximal_span(spark):
    shared = " ".join(f"w{i}" for i in range(20))  # 20-word passage
    rows = [
        (0, f"{shared} tail0 tail1"),
        (1, f"head0 head1 {shared}"),
    ]
    spans = S.repeated_spans(_docs(spark, rows), k=8).collect()
    assert len(spans) == 1  # doc 1 only, merged into ONE span
    (sp,) = spans
    assert sp["doc_id"] == 1
    assert (sp["span_start"], sp["span_end"]) == (2, 21)
    assert sp["span_words"] == 20
    assert sp["n_source_grams"] == 13  # 20 - 8 + 1


def test_min_len_filters_short_spans(spark):
    shared = "a b c d e f g h"  # exactly k=8 words
    rows = [(0, f"{shared} x y z"), (1, f"p q r {shared}")]
    assert S.repeated_spans(_docs(spark, rows), k=8, min_len=9).count() == 0
    assert S.repeated_spans(_docs(spark, rows), k=8, min_len=8).count() == 1


def test_intra_doc_repeat_alone_is_not_flagged(spark):
    # the same 8-gram twice in ONE doc is repetition, not cross-doc dup
    phrase = "r1 r2 r3 r4 r5 r6 r7 r8"
    rows = [(0, f"{phrase} mid {phrase}"), (1, "nothing shared here at all")]
    assert S.repeated_spans(_docs(spark, rows), k=8).count() == 0


def test_scrub_accounting_and_spans_disjoint(spark, sf_dir):
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spans = S.repeated_spans(docs, k=8)
    # spans within a doc are maximal => pairwise disjoint with gaps > 0
    a, b = spans.alias("a"), spans.alias("b")
    overlaps = (
        a.join(b, on=(F.col("a.doc_id") == F.col("b.doc_id")))
        .filter(F.col("a.span_start") < F.col("b.span_start"))
        .filter(F.col("b.span_start") <= F.col("a.span_end") + 1)
        .count()
    )
    assert overlaps == 0
    # removed word count == total span coverage per doc
    cover = spans.groupBy("doc_id").agg(
        F.sum("span_words").alias("covered"), F.count("*").alias("n")
    )
    scrub = S.scrub_repeated_spans(docs, k=8)
    bad = (
        scrub.join(cover, "doc_id", "left")
        .filter(
            (F.col("n_words_removed") != F.coalesce(F.col("covered"), F.lit(0)))
            | (F.col("n_spans") != F.coalesce(F.col("n"), F.lit(0)))
        )
        .count()
    )
    assert bad == 0
    assert scrub.count() == docs.count()


def test_partition_invariance(spark, sf_dir):
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = sorted(map(tuple, S.repeated_spans(docs, k=8).collect()))
    b = sorted(map(tuple, S.repeated_spans(docs.repartition(13), k=8).collect()))
    assert a == b and len(a) > 0


def test_incremental_equals_full_when_corpus_ids_below(spark, sf_dir):
    """With corpus ids strictly below delivery ids, the incremental run
    against the persisted gram index must equal the full-corpus run
    restricted to delivery docs (the dedup_against_corpus equivalence,
    at span granularity)."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    corpus = docs.filter(F.col("doc_id") < n // 2)
    delivery = docs.filter(F.col("doc_id") >= n // 2)
    index = S.span_gram_index(corpus, k=8)
    inc = sorted(
        map(tuple, S.repeated_spans_incremental(delivery, index, k=8).collect())
    )
    full = sorted(
        map(
            tuple,
            S.repeated_spans(docs, k=8)
            .filter(F.col("doc_id") >= n // 2)
            .collect(),
        )
    )
    assert inc == full and len(inc) > 0
    # and the scrub variants agree too
    a = sorted(
        map(tuple, S.scrub_delivery_spans(delivery, index, k=8).collect())
    )
    b = sorted(
        map(
            tuple,
            S.scrub_repeated_spans(docs, k=8)
            .filter(F.col("doc_id") >= n // 2)
            .collect(),
        )
    )
    assert a == b


def test_index_is_mergeable(spark, sf_dir):
    """span_gram_index over a corpus equals the min-doc union of the
    indexes of any partition of that corpus."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    whole = S.span_gram_index(docs, k=8)
    part = (
        S.span_gram_index(docs.filter(F.col("doc_id") % 2 == 0), k=8)
        .unionByName(S.span_gram_index(docs.filter(F.col("doc_id") % 2 == 1), k=8))
        .groupBy("gram_hash")
        .agg(F.min("min_doc").alias("min_doc"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, part.collect())
    )


def test_holder_index_view_equals_gram_index(spark, sf_dir):
    """span_index_view(span_holder_index(corpus)) == span_gram_index(corpus):
    the deletable token-scale layout collapses to exactly the vocab-sized
    serving shape."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    via_holders = S.span_index_view(S.span_holder_index(docs, k=8))
    direct = S.span_gram_index(docs, k=8)
    assert sorted(map(tuple, via_holders.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_holder_index_delete_equals_rebuild(spark, sf_dir):
    """Tombstone maintenance: removing a doc wave from the holder index and
    collapsing must equal an index built from scratch on the post-delete
    corpus — including min-doc RE-ELECTION for grams whose canonical holder
    was removed (the removal wave doc_id % 3 == 0 takes out low ids, which
    are exactly the min-doc canonicals)."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    holders = S.span_holder_index(docs, k=8)
    removed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    maintained = S.span_index_view(
        S.remove_from_span_holder_index(holders, removed)
    )
    rebuilt = S.span_gram_index(docs.filter(F.col("doc_id") % 3 != 0), k=8)
    m = sorted(map(tuple, maintained.collect()))
    r = sorted(map(tuple, rebuilt.collect()))
    assert m == r and len(m) > 0
    # the wave really did hit canonicals (re-election exercised, not vacuous)
    full = dict(map(tuple, S.span_gram_index(docs, k=8).collect()))
    assert any(v % 3 == 0 for v in full.values())


def test_holder_index_string_ids_match_gram_index(spark):
    """Holders must take min over the ORIGINAL id type like
    span_gram_index does ('10' < '9' lexicographically): a premature
    numeric cast would flip canonicals for string ids."""
    text = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [("9", text), ("10", text)], "doc_id string, text string"
    )
    via_holders = sorted(
        map(tuple, S.span_index_view(S.span_holder_index(docs, k=8)).collect())
    )
    direct = sorted(map(tuple, S.span_gram_index(docs, k=8).collect()))
    assert via_holders == direct and len(direct) > 0


def test_span_index_stream_multibatch_merges_to_batch_index(spark, sf_dir, tmp_path):
    """Several micro-batches (maxFilesPerTrigger=1 over a 4-file corpus)
    of gram-index partials must merge to exactly the from-scratch batch
    index, and the delivery scrub served from the streamed index must
    equal the batch incremental scrub."""
    from spark_ensemble_spark.sources.datasets import load_table
    from spark_ensemble_spark.streaming.corpus import (
        read_span_index_dir,
        span_index_stream,
    )
    from spark_ensemble_spark.streaming.runner import replay_session

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    delivery = docs.filter(F.col("doc_id") % 4 == 0)

    src = str(tmp_path / "corpus_files")
    corpus.repartition(4).write.parquet(src)
    rs = replay_session(spark)
    probe = rs.read.parquet(src)
    stream = (
        rs.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx_path = str(tmp_path / "span_index")
    ckpt = str(tmp_path / "ckpt")
    q = span_index_stream(stream, index_path=idx_path, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import glob as _glob

    n_batches = len(_glob.glob(f"{idx_path}/grams/batch_id=*"))
    assert n_batches >= 3, n_batches  # genuinely multi-batch

    streamed = read_span_index_dir(spark, idx_path)
    batch = S.span_gram_index(corpus, k=8)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    a = sorted(map(tuple, S.scrub_delivery_spans(delivery, streamed, k=8).collect()))
    b = sorted(map(tuple, S.scrub_delivery_spans(delivery, batch, k=8).collect()))
    assert a == b


def test_scrub_handles_empty_and_null_text(spark):
    """Zero-word documents (empty, whitespace-only, NULL) must pass
    through the scrub untouched — F.sequence(0, -1) DESCENDS on Spark,
    so the kept-fold needs the empty-array guard (r9c review finding)."""
    rows = [
        (0, ""),
        (1, "   "),
        (2, None),
        (3, "some actual words in this one document here now ok fine"),
    ]
    got = {
        r["doc_id"]: r
        for r in S.scrub_repeated_spans(_docs(spark, rows), k=8).collect()
    }
    for d in (0, 1, 2):
        assert got[d]["n_words"] == 0
        assert got[d]["n_words_removed"] == 0
        assert got[d]["text_scrubbed"] == ""
    assert got[3]["n_words"] == 11
    # incremental path too
    idx = S.span_gram_index(_docs(spark, [(9, "a b c d e f g h i")]), k=8)
    inc = {
        r["doc_id"]: r
        for r in S.scrub_delivery_spans(_docs(spark, rows), idx, k=8).collect()
    }
    assert inc[0]["text_scrubbed"] == "" and inc[2]["n_words"] == 0
