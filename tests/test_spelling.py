"""SymSpell-style spelling correction (operators/spelling.py).

Oracle parity for docs_spell_correct runs in tests/test_oracles.py;
here are the semantic properties."""

from pyspark.sql import functions as F

from spark_ensemble_spark.operators import spelling as SP


def _vocab(spark, rows):
    return spark.createDataFrame(rows, "term string, freq long")


def _q(spark, terms):
    return spark.createDataFrame([(t,) for t in terms], "qterm string")


def test_deletion_typo_and_insertion_typo_corrected(spark):
    vocab = _vocab(spark, [("table", 100), ("label", 50), ("spark", 80)])
    idx = SP.deletion_index(vocab)
    got = {
        r["qterm"]: r
        for r in SP.correct_terms(
            _q(spark, ["tble", "tablee", "spark", "zzzz"]), idx
        ).collect()
    }
    assert got["tble"]["correction"] == "table"  # deletion typo, dist 1
    assert got["tablee"]["correction"] == "table"  # insertion typo, dist 1
    assert got["spark"]["distance"] == 0  # exact match wins
    assert got["zzzz"]["correction"] is None
    assert got["zzzz"]["n_candidates"] == 0


def test_tie_broken_by_frequency_then_term(spark):
    # "cat" is distance 1 from both "cart" and "cast"
    vocab = _vocab(spark, [("cart", 10), ("cast", 99)])
    got = SP.correct_terms(_q(spark, ["cat"]), SP.deletion_index(vocab)).collect()
    assert got[0]["correction"] == "cast"  # higher freq wins
    vocab2 = _vocab(spark, [("cart", 10), ("cast", 10)])
    got2 = SP.correct_terms(_q(spark, ["cat"]), SP.deletion_index(vocab2)).collect()
    assert got2[0]["correction"] == "cart"  # equal freq: lexicographic


def test_distance_bound_enforced(spark):
    # "substitution at distance 1 via shared deletion variant" must pass,
    # but a term needing 3 edits must not be suggested even if a variant
    # collides
    vocab = _vocab(spark, [("abcdef", 5)])
    got = {
        r["qterm"]: r
        for r in SP.correct_terms(
            _q(spark, ["abcdex", "xxxdef"]), SP.deletion_index(vocab)
        ).collect()
    }
    assert got["abcdex"]["correction"] == "abcdef"  # dist 1
    assert got["xxxdef"]["correction"] is None  # dist 3: filtered


def test_transposition_within_two_edits(spark):
    vocab = _vocab(spark, [("table", 100)])
    got = SP.correct_terms(_q(spark, ["tabel"]), SP.deletion_index(vocab)).collect()
    assert got[0]["correction"] == "table" and got[0]["distance"] == 2


def test_rows_never_dropped_and_deterministic(spark, sf_dir):
    from spark_ensemble_spark.queries import ALL_SPARK_QUERIES

    df = ALL_SPARK_QUERIES["docs_spell_correct"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == df.select("qterm").distinct().count()
    again = ALL_SPARK_QUERIES["docs_spell_correct"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_prefix_suggest_semantics(spark):
    vocab = _vocab(
        spark, [("table", 100), ("tablet", 60), ("tag", 90), ("go", 5)]
    )
    got = SP.prefix_suggest(vocab, min_len=2, max_len=4, topk=2).collect()
    by_prefix = {}
    for r in got:
        by_prefix.setdefault(r["prefix"], []).append((r["rank"], r["term"]))
    assert sorted(by_prefix["ta"]) == [(1, "table"), (2, "tag")]  # by freq
    assert sorted(by_prefix["tabl"]) == [(1, "table"), (2, "tablet")]
    assert by_prefix["go"] == [(1, "go")]  # a short term completes itself


def test_prefix_includes_whole_short_terms(spark):
    vocab = _vocab(spark, [("go", 5)])
    got = SP.prefix_suggest(vocab, min_len=2, max_len=4, topk=2).collect()
    assert [(r["prefix"], r["term"]) for r in got] == [("go", "go")]


def test_typo_tolerant_bm25_equals_clean_query(spark, sf_dir):
    """Correcting 'sprk windw join' must retrieve exactly what the clean
    'spark window join' retrieves (same ids, scores, ranks)."""
    from spark_ensemble_spark.queries import _BM25_K, _BM25_MAX_DF, _spell_vocab
    from spark_ensemble_spark.operators.retrieval import bm25_topk
    from spark_ensemble_spark.queries import ALL_SPARK_QUERIES
    from spark_ensemble_spark.sources.datasets import load_table

    typo = {
        (r["query_id"], r["doc_id"], r["score_micro"], r["rank"])
        for r in ALL_SPARK_QUERIES["docs_bm25_typo_tolerant"](spark, sf_dir)
        .filter(F.col("query_id") == "q_join")
        .collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    clean_q = spark.createDataFrame(
        [("q_join", "spark window join")], "query_id string, query_text string"
    )
    clean = {
        (r["query_id"], r["doc_id"], r["score_micro"], r["rank"])
        for r in bm25_topk(docs, clean_q, k=_BM25_K, max_df=_BM25_MAX_DF).collect()
    }
    assert typo == clean and len(typo) > 0
