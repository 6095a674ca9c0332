"""Plan-shape assertions (the 100 TB design contract) + IO + pipeline
composability + weighted-instance (FIXTURES.md F4) coverage."""

import pytest
from pyspark.ml import Pipeline
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.linalg import Vectors
from pyspark.ml.regression import DecisionTreeRegressor
from pyspark.sql import functions as F

from spark_ensemble_spark.plans.explain import (
    has_broadcast_hint,
    has_cartesian,
    pushed_filters,
    scan_columns,
)
from spark_ensemble_spark.queries import ALL_SPARK_QUERIES as SPARK_QUERIES
from spark_ensemble_spark.sources.io import read_libsvm


def test_q3_plan_shape(spark, sf_dir):
    df = SPARK_QUERIES["q3_top_revenue_orders"](spark, sf_dir)
    # no static broadcast hint on any side: customer (even mktsegment-
    # filtered) and orders scale with SF — AQE must be free to pick
    # sort-merge at production scale (VERDICT r1 "What's wrong" #2)
    assert not has_broadcast_hint(df)
    assert not has_cartesian(df)
    # the segment filter must reach the customer scan
    assert any("BUILDING" in f for f in pushed_filters(df))
    # lineitem scan reads only the join key + money columns
    li_scan = [c for c in scan_columns(df) if "l_orderkey" in c][0]
    assert set(li_scan) <= {"l_orderkey", "l_extendedprice", "l_discount"}


def test_q1_column_pruning(spark, sf_dir):
    df = SPARK_QUERIES["q1_pricing_summary"](spark, sf_dir)
    cols = scan_columns(df)[0]
    assert "l_orderkey" not in cols and "l_shipdate" not in cols


def test_exact_dedup_no_cartesian(spark, sf_dir):
    df = SPARK_QUERIES["dedup_exact"](spark, sf_dir)
    assert not has_cartesian(df)


def test_q17_decorrelated_plan(spark, sf_dir):
    """The correlated scalar subquery must run as ONE grouped aggregate
    joined back — no per-outer-row rescan, no nested loop, brand filter
    pushed to the part scan."""
    df = SPARK_QUERIES["q17_small_quantity_revenue"](spark, sf_dir)
    assert not has_cartesian(df)
    assert not has_broadcast_hint(df)
    assert any("Brand#23" in f for f in pushed_filters(df))


def test_q18_semi_join_plan(spark, sf_dir):
    from spark_ensemble_spark.plans.explain import executed_plan

    df = SPARK_QUERIES["q18_large_orders"](spark, sf_dir)
    plan = executed_plan(df)
    assert "LeftSemi" in plan  # IN-subquery ran as a semi join
    assert not has_cartesian(df)


def test_asof_join_plan(spark, sf_dir):
    """as-of join: single exchange on the key, window sort, no join node at
    all (union + carry-forward formulation) — in particular no nested loop."""
    df = SPARK_QUERIES["events_asof_last_order"](spark, sf_dir)
    assert not has_cartesian(df)
    from spark_ensemble_spark.plans.explain import executed_plan

    plan = executed_plan(df)
    assert "Window" in plan and "Union" in plan


def test_srp_topk_no_cartesian(spark, sf_dir):
    df = SPARK_QUERIES["similarity_srp_topk"](spark, sf_dir)
    assert not has_cartesian(df)


def test_read_libsvm(spark, tmp_path):
    p = tmp_path / "sample.svm"
    p.write_text("1.0 1:0.5 3:1.5\n0.0 2:2.0\n")
    df = read_libsvm(spark, str(p), num_features=3)
    rows = df.orderBy(F.desc("label")).collect()
    assert rows[0].label == 1.0
    assert list(rows[0].features) == [0.5, 0.0, 1.5]


def test_pipeline_composability(spark, sf_dir):
    """Our estimators are pyspark.ml stages: they compose in a Pipeline after
    a VectorAssembler, like any built-in estimator."""
    from spark_ensemble_spark import BaggingRegressor
    from spark_ensemble_spark.sources.datasets import REGRESSION_FEATURES, load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("label"),
        *[F.col(c).cast("double").alias(c) for c in REGRESSION_FEATURES],
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=REGRESSION_FEATURES, outputCol="features"),
            BaggingRegressor(
                baseLearner=DecisionTreeRegressor(maxDepth=3), numBaseLearners=2
            ),
        ]
    )
    model = pipe.fit(li)
    out = model.transform(li)
    assert out.select("prediction").first()[0] is not None


def test_weighted_instances(spark):
    """FIXTURES.md F4: a weight column reaches the base learner; zero-weight
    rows must not influence the fit (Dummy-mean ignores weights by reference
    semantics, so use the boosting path where weights enter the fit)."""
    from spark_ensemble_spark import BaggingRegressor

    rows = [(1.0, 1.0, Vectors.dense([1.0]))] * 50 + [
        (100.0, 0.0001, Vectors.dense([1.0]))
    ] * 50
    df = spark.createDataFrame(rows, ["label", "w", "features"])
    base = DecisionTreeRegressor(maxDepth=2)
    model = BaggingRegressor(
        baseLearner=base,
        numBaseLearners=2,
        replacement=False,
        subsampleRatio=1.0,
        weightCol="w",
    ).fit(df)
    pred = model.transform(df).select("prediction").first()[0]
    # nearly all weight on label 1.0 → prediction close to 1, far from mean 50.5
    assert pred < 10.0


def test_salted_join_matches_plain_join(spark, sf_dir):
    from spark_ensemble_spark.functions.skew import salted_join
    from spark_ensemble_spark.sources.datasets import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    ).first()
    salted = salted_join(li, orders, "l_orderkey", salt=4).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    ).first()
    assert (plain.n, plain.q) == (salted.n, salted.q)


def test_pipeline_model_save_load(spark, sf_dir, tmp_path):
    """PipelineModel persistence with our python-native stage inside."""
    from pyspark.ml import Pipeline, PipelineModel

    from spark_ensemble_spark import BaggingRegressor
    from spark_ensemble_spark.sources.datasets import REGRESSION_FEATURES, load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("label"),
        *[F.col(c).cast("double").alias(c) for c in REGRESSION_FEATURES],
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=REGRESSION_FEATURES, outputCol="features"),
            BaggingRegressor(
                baseLearner=DecisionTreeRegressor(maxDepth=2), numBaseLearners=2
            ),
        ]
    )
    model = pipe.fit(li)
    p = str(tmp_path / "pipe_model")
    model.save(p)
    loaded = PipelineModel.load(p)
    orig = model.transform(li).select("prediction").collect()
    re = loaded.transform(li).select("prediction").collect()
    assert orig == re


def test_cross_validator_compat(spark, sf_dir):
    """Our estimators work inside pyspark.ml tuning (copy(extra) + fit with
    ParamMaps), so existing model-selection code ports unchanged."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    from spark_ensemble_spark import BaggingRegressor
    from spark_ensemble_spark.sources.datasets import regression_dataset

    ds = regression_dataset(spark, sf_dir).limit(2000).cache()
    est = BaggingRegressor(
        baseLearner=DecisionTreeRegressor(maxDepth=3), numBaseLearners=2
    )
    grid = (
        ParamGridBuilder()
        .addGrid(est.subsampleRatio, [0.5, 1.0])
        .build()
    )
    cv = CrossValidator(
        estimator=est,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(metricName="rmse"),
        numFolds=2,
        parallelism=2,
        seed=1,
    )
    model = cv.fit(ds)
    assert len(model.avgMetrics) == 2
    assert model.bestModel.numModels == 2


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    from spark_ensemble_spark.plans.explain import executed_plan
    from spark_ensemble_spark.sources.datasets import load_table
    from spark_ensemble_spark.sources.io import write_bucketed_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed_table(li, "li_bucketed", "l_orderkey", 8)
    write_bucketed_table(orders, "orders_bucketed", "o_orderkey", 8)
    a = spark.table("li_bucketed")
    b = spark.table("orders_bucketed")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        joined.count()
        plan = executed_plan(joined)
        # co-located buckets: the join runs with no shuffle exchange
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_partitioned_parquet_roundtrip(spark, sf_dir, tmp_path):
    from spark_ensemble_spark.sources.datasets import load_table
    from spark_ensemble_spark.sources.io import read_parquet, write_parquet

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = read_parquet(spark, out)
    assert back.count() == orders.count()
    # partition pruning: a status filter should scan only one directory
    pruned = back.filter(F.col("o_orderstatus") == "F")
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_iteration_cache_checkpoint_paths(spark, tmp_path):
    """DFIterationCache truncates lineage with localCheckpoint by default and
    with RELIABLE checkpoint() when a checkpoint dir is set (the fault-
    tolerant path a real cluster needs for long iterative fits)."""
    from spark_ensemble_spark.core.utils import DFIterationCache

    df = spark.range(100).withColumn("x", F.col("id") * 2)

    def truncated(d):
        # a checkpointed DataFrame's lineage collapses to a LogicalRDD scan
        return "LogicalRDD" in d._jdf.queryExecution().analyzed().toString()

    # local path (no checkpoint dir set)
    cache = DFIterationCache(interval=1)
    out = cache.update(df)
    assert out.count() == 100
    assert truncated(out)
    cache.close()

    # reliable path
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        cache = DFIterationCache(interval=1)
        out = cache.update(df)
        assert out.count() == 100
        assert truncated(out)
        # reliable checkpoints materialize files under the checkpoint dir
        import glob

        assert glob.glob(str(tmp_path / "ckpt" / "*")), "no checkpoint files written"
        cache.close()
    finally:
        # unset so other tests stay on the fast localCheckpoint path (the
        # Python API has no unsetter; clear the Scala field via py4j)
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.apply(None)
        )


def test_csv_and_orc_roundtrip(spark, sf_dir, tmp_path):
    from spark_ensemble_spark.sources.datasets import load_table
    from spark_ensemble_spark.sources.io import read_csv

    nation = load_table(spark, sf_dir, "nation")
    csv_path = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(csv_path)
    back = read_csv(spark, csv_path, schema=nation.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

    orc_path = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(orc_path)
    back_orc = spark.read.orc(orc_path)
    assert back_orc.count() == nation.count()


def test_weighted_median_no_global_window(spark, sf_dir):
    """The lineitem-sized side must never funnel through a single-partition
    global window: the running-weight Window is partitioned by the range-
    partition id, and the input is range-repartitioned (parallel local
    sorts). Only the tiny per-partition summary may use an unpartitioned
    window."""
    from spark_ensemble_spark.plans.explain import executed_plan

    df = SPARK_QUERIES["weighted_median_price"](spark, sf_dir)
    plan = executed_plan(df)
    assert "rangepartitioning" in plan.lower() or "REPARTITION" in plan
    # the running-weight window over the big side carries the pid partition key
    big_windows = [l for l in plan.split("\n") if "Window" in l and "pid" in l]
    assert big_windows, plan


def test_multimodal_no_exchange_before_arrow(spark, sf_dir):
    """decode_stub_features maps straight over the pruned scan: no forced
    repartition/exchange feeding the Arrow worker (measured ~10x overhead at
    bench scale for zero win once the byte math is vectorized)."""
    from spark_ensemble_spark.operators.multimodal import (
        decode_stub_features,
        documents_as_binary,
    )
    from spark_ensemble_spark.plans.explain import executed_plan
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(decode_stub_features(documents_as_binary(docs)))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_embedding_lsh_plan_no_cartesian(spark, sf_dir):
    df = SPARK_QUERIES["embedding_dup_pairs_lsh"](spark, sf_dir)
    assert not has_cartesian(df)


def test_write_sorted_parquet_ordered_ranges(spark, tmp_path):
    """Sorted write produces non-overlapping, internally-sorted files — the
    property that lets min/max stats prune reads on the sort key."""
    import glob

    import pyarrow.parquet as pq

    from spark_ensemble_spark.sources.io import write_sorted_parquet

    df = spark.range(0, 10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "sorted")
    write_sorted_parquet(df, out, ["k"], num_ranges=4)
    ranges = []
    for f in sorted(glob.glob(f"{out}/*.parquet")):
        t = pq.read_table(f, columns=["k"])["k"].to_pylist()
        if not t:
            continue
        assert t == sorted(t), "file not internally sorted"
        ranges.append((min(t), max(t)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1,hi1)} {(lo2,hi2)}"
    total = spark.read.parquet(out).count()
    assert total == 10_000


def test_contamination_overlap_broadcasts_eval_side(spark, sf_dir):
    """The scale guarantee of the contamination check: the eval side is
    BROADCAST (the 100 TB corpus side never shuffles for the join) and no
    cartesian product appears."""
    from spark_ensemble_spark.operators.corpus import contamination_overlap
    from spark_ensemble_spark.plans.explain import has_broadcast_join, has_cartesian
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    out = contamination_overlap(docs, eval_df, shingle_size=8)
    assert has_broadcast_join(out)
    assert not has_cartesian(out)


def test_corpus_profile_single_shuffle(spark, sf_dir):
    """The dataset-card profile must be ONE aggregation pass: a single
    exchange (on the stratum key), no joins at all."""
    from spark_ensemble_spark.operators.corpus import corpus_profile
    from spark_ensemble_spark.plans.explain import executed_plan
    from spark_ensemble_spark.sources.datasets import load_table

    plan = executed_plan(corpus_profile(load_table(spark, sf_dir, "documents")))
    assert plan.count("Exchange") <= 2, plan  # plan tree + reuse ref
    assert "Join" not in plan


def test_repetition_signals_zero_shuffle(spark, sf_dir):
    """The whole Gopher repetition block must stay a narrow projection —
    any Exchange here means a per-row signal grew a corpus-wide shuffle."""
    from spark_ensemble_spark.operators.corpus import repetition_signals
    from spark_ensemble_spark.sources.datasets import load_table

    df = repetition_signals(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_chunk_dedup_plan_no_cartesian(spark, sf_dir):
    """Chunk dedup joins by chunk key and doc id only — never a nested-loop
    or cartesian corpus join."""
    from spark_ensemble_spark.operators.dedup import chunk_dedup
    from spark_ensemble_spark.sources.datasets import load_table

    df = chunk_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id", 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_topk_broadcasts_query_side(spark, sf_dir):
    """PQ/ADC: the query side (LUTs) is broadcast; the corpus side is scored
    in place — the only wide stage is the per-query top-k window."""
    from spark_ensemble_spark.operators.similarity import (
        pq_fixed_codebooks,
        pq_topk,
    )
    from spark_ensemble_spark.sources.datasets import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fixed_codebooks(dim=64, num_subspaces=8, num_codewords=16)
    df = pq_topk(emb, emb.filter(F.col("vec_id") < 5), books, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    # corpus side: no hash-partition exchange before the scoring join; the
    # one hashpartitioning exchange is the rank window on query_id
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_ivfpq_topk_equijoin_on_cell(spark, sf_dir):
    """IVF-PQ: candidates surface via a broadcast EQUI-join on the cell id
    (never an all-pairs join — that is the IVF half of the bargain), and the
    only hash-partition exchange is the per-query top-k window."""
    from spark_ensemble_spark.operators.similarity import (
        ivf_fixed_centroids,
        ivfpq_topk,
        pq_fixed_codebooks,
    )
    from spark_ensemble_spark.sources.datasets import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_fixed_centroids(dim=64, num_clusters=8, seed=23)
    books = pq_fixed_codebooks(dim=64, num_subspaces=8, num_codewords=16)
    df = ivfpq_topk(emb, emb.filter(F.col("vec_id") < 5), cents, books, k=5, nprobe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_ivfpq_prunes_candidates_vs_flat_pq(spark, sf_dir):
    """The IVF prune must actually cut the candidate set: with 8 cells and
    nprobe=3, scored candidates are a strict subset of flat PQ's (which scans
    every corpus row per query)."""
    from spark_ensemble_spark.operators.similarity import (
        ivf_fixed_centroids,
        ivfpq_topk,
        pq_fixed_codebooks,
        pq_topk,
    )
    from spark_ensemble_spark.sources.datasets import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    cents = ivf_fixed_centroids(dim=64, num_clusters=8, seed=23)
    books = pq_fixed_codebooks(dim=64, num_subspaces=8, num_codewords=16)
    ivfpq = ivfpq_topk(emb, q, cents, books, k=n, nprobe=3)
    flat = pq_topk(emb, q, books, k=n)
    n_ivfpq, n_flat = ivfpq.count(), flat.count()
    assert n_flat == 5 * (n - 1)
    assert 0 < n_ivfpq < n_flat, (n_ivfpq, n_flat)
    # and where both score a pair, the ADC distance is identical (same codes,
    # same LUT — the IVF stage only prunes, never rescores)
    both = ivfpq.alias("a").join(
        flat.alias("b"), ["query_id", "neighbor_id"]
    ).filter(F.col("a.adc_dist") != F.col("b.adc_dist"))
    assert both.count() == 0


def test_ivfpq_residual_beats_no_residual_recall(spark):
    """Residual encoding (codes quantize v − centroid(cell)) must strictly
    beat raw-vector encoding on clustered data at identical serving cost
    (VERDICT r5 #5). Fixture: 4 well-separated clusters at magnitude ~8 with
    ~N(0, 0.25) within-cluster noise, fixed pseudo-random codebooks whose
    codewords live near the origin — raw vectors are far outside the
    codeword range so raw-PQ ADC ranks near-randomly, while residuals sit
    inside it. Truth = exact squared-L2 top-k computed in-process."""
    import random

    from spark_ensemble_spark.operators.similarity import (
        ivfpq_topk,
        pq_fixed_codebooks,
    )

    from pyspark.sql import functions as F

    dim, k, n_per = 16, 5, 50
    rnd = random.Random(7)
    cents = [[8.0 if j // 4 == i else 0.0 for j in range(dim)] for i in range(4)]
    rows = []
    for i in range(4 * n_per):
        c = cents[i % 4]
        rows.append((i, [c[j] + rnd.gauss(0, 0.25) for j in range(dim)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    q = df.filter(F.col("vec_id") < 5)
    books = pq_fixed_codebooks(dim=dim, num_subspaces=4, num_codewords=16)

    vecs = {i: v for i, v in rows}
    truth = {}
    for qid in range(5):
        qv = vecs[qid]
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, vecs[i])), i)
            for i in vecs
            if i != qid
        )
        truth[qid] = {i for _, i in d[:k]}

    def recall(residual):
        out = ivfpq_topk(
            df, q, cents, books, k=k, nprobe=2, residual=residual
        ).collect()
        hits = sum(1 for r in out if r.neighbor_id in truth[r.query_id])
        return hits / (5 * k)

    r_res, r_raw = recall(True), recall(False)
    df.unpersist()
    assert r_res > r_raw, (r_res, r_raw)
    # untrained random codewords bound the ceiling, but residual codes must
    # still be far above chance (k/(n−1) ≈ 0.025 here)
    assert r_res >= 0.4, r_res


def test_verify_folds_evaluate_once(spark, sf_dir):
    """Structural pin for the r6 eval-once fix: the expensive verify
    expression (the cosine fold) must appear exactly once in the optimized
    plan — predicate pushdown used to clone it into the Filter below the
    Project, re-running an interpreted CodegenFallback fold per candidate
    (2× on verify stages). If a future optimizer change collapses the
    explode(array(...)) barrier, this catches it."""
    import re

    from spark_ensemble_spark.operators.dedup import embedding_dup_pairs
    from spark_ensemble_spark.sources.datasets import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, "embedding", "vec_id", threshold=0.9, dim=64)
    pplan = pairs._jdf.queryExecution().optimizedPlan().toString()
    # the cosine fold (3 aggregates: dot + two norms) must not be cloned
    # into any Filter node — filters may only reference the generated column
    filter_lines = [ln for ln in pplan.split("\n") if re.match(r"\s*\+?-?\s*Filter ", ln)]
    assert filter_lines, pplan
    for ln in filter_lines:
        assert "aggregate(" not in ln, ln[:300]


def test_decontaminate_plan_is_literal_free(spark, sf_dir):
    """The Bloom decontamination filter's plan carries no md5 and no mask
    literal: the per-gram md5 + Bloom probes run in one Arrow seam, after
    an r6-era shape that cloned an interpreted md5 fold ~6× per row."""
    from spark_ensemble_spark.operators.corpus import ngram_bloom_build
    from spark_ensemble_spark.sources.datasets import load_table
    from spark_ensemble_spark.streaming.corpus import decontaminate_stream

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = ngram_bloom_build(
        docs.filter(F.col("doc_id") % 20 == 0), "text", 8, 1 << 20, 4
    )
    batch = decontaminate_stream(docs, words, "text", "doc_id", 8, 4, 0.5)
    plan = batch._jdf.queryExecution().optimizedPlan().toString()
    # r13 shape: the per-gram md5 + Bloom probes moved into the Arrow seam
    # (one MapInPandas node), so NO md5 expression — and, critically, no
    # 16384-long mask array literal — may appear in the plan: a streaming
    # consumer re-analyzes its plan every micro-batch, and the literal-free
    # tree is what keeps that re-analysis cheap. The gram split must still
    # be the JVM _shingle_strings expression (tokenization parity with the
    # batch md5 oracles), pinned via its regexp_replace normalization.
    assert plan.count("md5") == 0, f"Bloom md5 back in the plan: {plan.count('md5')}"
    assert "MapInPandas" in plan, plan[:500]
    assert "regexp_replace" in plan, "JVM gram normalization left the plan"
    assert len(plan) < 100_000, f"plan tree ballooned: {len(plan)} chars"


def test_leakage_safe_splits_plan_single_equijoin(spark, sf_dir):
    """The leakage guard must stay one corpus equi-join + a narrow split
    projection: no cartesian product, no broadcast-nested-loop, and the
    split draw itself adds no exchange (the only exchanges belong to the
    connected-components subtree over the pair members)."""
    from spark_ensemble_spark.operators.corpus import leakage_safe_splits
    from spark_ensemble_spark.sources.datasets import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    pairs = (
        ids.filter(F.col("doc_id") % 100 <= 29)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    )
    out = leakage_safe_splits(docs, pairs, {"a": 0.5, "b": 0.5}, seed=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_score_stream_plan_is_stateless(spark, sf_dir):
    """Online inference must add ZERO streaming state: the scored stream's
    plan carries no state-store operator (no aggregation, no dedup, no
    stream join) — the model is pure column expressions over the source."""
    from pyspark.ml.functions import array_to_vector

    from spark_ensemble_spark import DummyRegressor
    from spark_ensemble_spark.regression.bagging import BaggingRegressor
    from spark_ensemble_spark.sources.datasets import load_events
    from spark_ensemble_spark.streaming.events import read_events_stream
    from spark_ensemble_spark.streaming.scoring import score_stream

    from pyspark.sql import functions as F

    def feats(df):
        return df.select(
            "event_id",
            array_to_vector(F.array(F.lit(1.0))).alias("features"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("label"),
        )

    model = BaggingRegressor(
        baseLearner=DummyRegressor(strategy="mean"), numBaseLearners=2
    ).fit(feats(load_events(spark, sf_dir)))
    scored = score_stream(model, feats(read_events_stream(spark, sf_dir)))
    assert scored.isStreaming
    plan = scored._jdf.queryExecution().analyzed().toString()
    for stateful in ("Aggregate", "Deduplicate", "FlatMapGroupsWithState"):
        assert stateful not in plan, plan


def test_write_zorder_parquet_prunes_both_columns(spark, tmp_path):
    """Z-ordered layout: per-file min/max spans must be a small fraction of
    the global range on BOTH interleaved columns (a single-column sort only
    narrows its own column; a naive write narrows neither), and the row set
    must be byte-identical to the input."""
    import glob

    import pyarrow.parquet as pq

    from spark_ensemble_spark.sources.io import write_zorder_parquet

    n = 40_000
    df = spark.range(n).select(
        (F.col("id") * 7919 % 1000).alias("x"),
        (F.col("id") * 104729 % 1000).alias("y"),
        F.col("id").alias("v"),
    )
    out = str(tmp_path / "zorder")
    write_zorder_parquet(df, out, ["x", "y"], bits=10, num_ranges=16)

    def mean_span(col):
        spans = []
        for f in glob.glob(f"{out}/*.parquet"):
            t = pq.read_table(f, columns=[col])[col].to_pylist()
            if t:
                spans.append(max(t) - min(t))
        return sum(spans) / len(spans)

    # global range is ~999 on each column; z-ordering 16 files over a
    # 1000x1000 grid should land per-file spans well under half the range
    assert mean_span("x") < 450
    assert mean_span("y") < 450
    got = spark.read.parquet(out)
    assert got.count() == n
    assert got.columns == ["x", "y", "v"]  # the z key is dropped
    assert got.agg(F.sum("v")).first()[0] == n * (n - 1) // 2


def test_quality_classifier_composition(spark, sf_dir):
    """The two halves of the engine compose: corpus-operator signals
    (repetition block + quality/token stats, all zero-shuffle Catalyst
    exprs) feed a bagged-tree classifier through a stock VectorAssembler,
    and the fitted ensemble beats the no-information prior on held-out rows
    — the fasttext-style quality-classifier pattern, end to end."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler

    from spark_ensemble_spark.classification.bagging import BaggingClassifier
    from spark_ensemble_spark.functions.metrics import classification_metrics
    from spark_ensemble_spark.operators.corpus import repetition_signals
    from spark_ensemble_spark.operators.text import quality_score, token_count
    from spark_ensemble_spark.sources.datasets import load_table

    docs = repetition_signals(load_table(spark, sf_dir, "documents"))
    feats = ["dup_token_fraction", "dup_3gram_char_fraction",
             "top_bigram_fraction", "quality", "n_tokens", "n_chars_d"]
    ds = docs.select(
        # learnable target: long docs (n_chars is text-derived, so the
        # features carry signal without being the label itself)
        (F.col("n_chars") > 280).cast("double").alias("label"),
        F.col("dup_token_fraction"),
        F.col("dup_3gram_char_fraction"),
        F.col("top_bigram_fraction"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        token_count(F.col("text")).cast("double").alias("n_tokens"),
        (F.length("text") % 7).cast("double").alias("n_chars_d"),
    )
    train, test = ds.randomSplit([0.8, 0.2], seed=11)
    model = BaggingClassifier(
        baseLearner=DecisionTreeClassifier(maxDepth=5),
        numBaseLearners=5,
        subsampleRatio=0.8,
        replacement=True,
        seed=3,
    ).fit(VectorAssembler(inputCols=feats, outputCol="features").transform(train))
    scored = model.transform(
        VectorAssembler(inputCols=feats, outputCol="features").transform(test)
    )
    per_class = classification_metrics(scored).collect()
    acc = sum(r.tp for r in per_class) / sum(r.support for r in per_class)
    prior = max(r.support for r in per_class) / sum(r.support for r in per_class)
    assert acc > prior + 0.05, (acc, prior)


def test_semantic_dedup_equijoin_on_cluster(spark, sf_dir):
    """SemDeDup's pair stage is an equi-join on the cluster id — never a
    cartesian/nested-loop corpus join — and assignment is a narrow argmin
    (no exchange before the cluster join beyond the join's own)."""
    from spark_ensemble_spark.operators.dedup import semantic_dedup
    from spark_ensemble_spark.operators.similarity import ivf_fixed_centroids
    from spark_ensemble_spark.sources.datasets import load_table

    cents = ivf_fixed_centroids(dim=64, num_clusters=8)
    emb = load_table(spark, sf_dir, "embeddings")
    df = semantic_dedup(emb, "embedding", "vec_id", cents, threshold=0.95)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_broadcasts_logratio_never_corpus(spark, sf_dir):
    """DSIR's scoring join broadcasts the buckets-row log-ratio table; the
    corpus-sized per-doc frame is never broadcast (the only corpus-sized
    wide op is its bucket-count groupBy)."""
    from pyspark.sql import functions as F

    from spark_ensemble_spark.operators.corpus import dsir_log_weights
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__t", F.col("lang") == "en"
    )
    df = dsir_log_weights(docs, buckets=1024, target_col="__t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the broadcast inputs are the 1024-row log-ratio table and two 1-row
    # totals; a corpus-sized build side would show a scan of documents
    # directly under a BroadcastExchange (the scan feeds exchanges/aggs
    # instead)
    import re

    for m in re.finditer(r"BroadcastExchange[^\n]*\n(?:\s*\+- [^\n]*\n){0,2}", plan):
        assert "FileScan parquet" not in m.group(0), m.group(0)


def test_pack_token_windows_plan_single_shuffle(spark, sf_dir):
    """The packing manifest's scale contract: ONE hash exchange (the bucket
    key) + the per-bucket window sort — no join, no extra shuffle, and the
    window's sort keys are exactly (bucket, doc_id)."""
    from spark_ensemble_spark.operators.corpus import pack_token_windows
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = pack_token_windows(docs, capacity=256, num_buckets=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pca_projection_save_load_roundtrip(spark, tmp_path):
    """The exported projection is a serving artifact: JSON round-trip
    preserves every literal bit, so the re-loaded fold chains produce
    identical projections."""
    from spark_ensemble_spark.operators.embeddings import (
        load_pca_projection,
        pca_project,
        save_pca_projection,
        train_pca_projection,
    )

    df = spark.createDataFrame(
        [(i, [float((i * 13 + j * 7) % 17) for j in range(8)]) for i in range(50)],
        ["vec_id", "embedding"],
    ).cache()
    proj = train_pca_projection(df, k=3, dim=8)
    p = str(tmp_path / "pca.json")
    save_pca_projection(proj, p)
    loaded = load_pca_projection(p)
    assert loaded == proj  # bit-exact: floats survive JSON round-trip
    a = pca_project(df, proj).select("vec_id", "pca").collect()
    b = pca_project(df, loaded).select("vec_id", "pca").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    df.unpersist()


def test_bm25_broadcasts_query_side_never_corpus(spark, sf_dir):
    """BM25's joins broadcast only query-sized frames (query terms, the
    pruned df table, the 1-row stats aggregate); the corpus posting table
    is never broadcast and never cross-joined — the plan must show
    broadcast hash joins and zero cartesian/nested-loop nodes, with the
    posting prune (left-semi against the query vocabulary) present."""
    from spark_ensemble_spark.operators.retrieval import bm25_topk
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [("q1", "spark window join"), ("q2", "hash scan")],
        "query_id string, query_text string",
    )
    out = bm25_topk(docs, qs, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the ONLY nested-loop nodes allowed are the 1-row stats crossJoins
    # (the repo-wide broadcast-1-row-aggregate idiom): one feeding the
    # per-term idf on the vocab-sized qdf frame (r10 — det_ln evaluates
    # once per query term, not per posting row), one feeding the tf-norm's
    # dl/avgdl on the matched rows; anything more would mean a corpus-
    # sized cross product
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "LeftSemi" in plan, "posting prune against query vocabulary missing"
    assert "BroadcastHashJoin" in plan
    # no corpus-sized build side: nothing directly under a BroadcastExchange
    # may be a parquet scan (query frames are createDataFrame locals; the
    # pruned df table hangs off aggregates)
    import re

    for m in re.finditer(r"BroadcastExchange[^\n]*\n(?:\s*\+- [^\n]*\n){0,2}", plan):
        assert "FileScan parquet" not in m.group(0), m.group(0)


def test_bm25_index_serving_equivalence_and_no_term_shuffle(spark, sf_dir, tmp_path):
    """Serving from a term-bucketed persisted BM25 index returns EXACTLY
    the inline result, and the per-term df aggregation runs on the bucket
    distribution — no exchange keyed on the term column anywhere in the
    serving plan (the only exchanges belong to the (query, doc) scoring agg
    and the per-query window)."""
    from spark_ensemble_spark.operators.retrieval import bm25_topk, build_bm25_index
    from spark_ensemble_spark.sources.datasets import load_table
    from spark_ensemble_spark.sources.io import write_bucketed_table

    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [("q1", "spark window join"), ("q2", "hash scan merge")],
        "query_id string, query_text string",
    )
    inline = {
        (r.query_id, r.doc_id): (r.score_micro, r.rank)
        for r in bm25_topk(docs, qs, k=5).collect()
    }

    postings, stats = build_bm25_index(docs)
    spark.sql("DROP TABLE IF EXISTS bm25_idx_test")
    import shutil

    shutil.rmtree("spark-warehouse/bm25_idx_test", ignore_errors=True)
    write_bucketed_table(postings, "bm25_idx_test", "term", num_buckets=8)
    idx = spark.table("bm25_idx_test")
    served_df = bm25_topk(None, qs, k=5, index=idx, index_stats=stats)
    served = {
        (r.query_id, r.doc_id): (r.score_micro, r.rank)
        for r in served_df.collect()
    }
    assert served == inline and inline

    plan = served_df._jdf.queryExecution().executedPlan().toString()
    # AQE plan strings append the pre-adaptive "Initial Plan" — judge the
    # FINAL plan only
    final = plan.split("== Initial Plan ==")[0]
    import re

    term_exchanges = [
        m.group(0)
        for m in re.finditer(r"Exchange hashpartitioning\(__t#\d+,", final)
    ]
    assert not term_exchanges, term_exchanges
    assert "Bucketed: true" in final
    spark.sql("DROP TABLE IF EXISTS bm25_idx_test")


def test_rerank_topk_broadcast_probe_no_corpus_shuffle(spark, sf_dir):
    """The two-stage rerank's full-precision fetch must be a BROADCAST hash
    probe of the corpus scan (the shortlist is k'·|queries| rows — small by
    construction): the FINAL plan carries no sort-merge join and no
    exchange keyed on the corpus id — the only exchange is the
    shortlist-sized per-query window partitioning."""
    import re

    from spark_ensemble_spark.operators.similarity import (
        brute_force_topk,
        rerank_topk,
    )
    from spark_ensemble_spark.sources.datasets import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    shortlist = brute_force_topk(emb, q, k=10).select("query_id", "neighbor_id")
    df = rerank_topk(emb, q, shortlist, k=5)
    assert df.count() > 0  # materialize so AQE finalizes the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, final
    assert "BroadcastHashJoin" in final
    corpus_exchanges = [
        m.group(0)
        for m in re.finditer(r"Exchange hashpartitioning\(neighbor_id#\d+[,L]", final)
    ]
    assert not corpus_exchanges, corpus_exchanges


def test_filtered_ann_and_hybrid_serving_plan_shapes(spark, sf_dir):
    """r9 composition queries keep the repo's join discipline: the
    metadata pre-filter of filtered vector search is a BROADCAST left-semi
    (one hash probe of the metadata table, never a corpus shuffle), and
    the full hybrid serving composition (persisted BM25 index ⊕ IVF-PQ
    shortlist → rerank → RRF) contains no cartesian product, no sort-merge
    join, and only the 1-row stats BroadcastNestedLoopJoins."""
    import spark_ensemble_spark.queries as q

    f = q.similarity_filtered_topk(spark, sf_dir)
    plan = f._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan

    s = q.docs_hybrid_serving(spark, sf_dir)
    p2 = s._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in p2
    # two 1-row stats crossJoins since r10: the per-term idf on the
    # vocab-sized qdf frame plus the tf-norm's dl/avgdl (see
    # test_bm25_broadcasts_query_side_never_corpus)
    assert p2.count("BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin" not in p2


def test_maxsim_and_facets_plan_shapes(spark, sf_dir):
    """Late-r9 plan discipline: (1) MaxSim's token-pair stage probes the
    corpus-token frame with a BROADCAST of (shortlist × query tokens) —
    no sort-merge join, no exchange keyed on the corpus doc id below the
    probe; (2) bm25_facets broadcasts the match set against the facet
    projection — no corpus shuffle, no cartesian."""
    import spark_ensemble_spark.queries as q

    m = q.docs_maxsim_rerank(spark, sf_dir)
    assert m.count() > 0
    p1 = m._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in p1
    assert "SortMergeJoin" not in p1
    assert "BroadcastHashJoin" in p1

    f = q.docs_bm25_facets(spark, sf_dir)
    assert f.count() > 0
    p2 = f._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in p2
    assert "SortMergeJoin" not in p2
    assert "BroadcastHashJoin" in p2


def test_pii_scrub_plan_is_narrow(spark, sf_dir):
    """The PII fold must stay a single narrow projection over the scan:
    no exchange, no join, no aggregate anywhere in the scrub plan — the
    property that makes it free at 100 TB (and a legal stateless
    streaming projection)."""
    from spark_ensemble_spark.operators.pii import inject_pii, scrub_pii
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = scrub_pii(inject_pii(docs))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Join", "Aggregate", "Sort"):
        assert op not in plan, (op, plan)


def test_ltr_features_join_is_shortlist_sized(spark, sf_dir):
    """LTR's feature join runs on two top-k frames only — the final plan
    may shuffle k·|queries| rows but must contain no cartesian product
    and no exchange below either branch's window output that is keyed on
    a corpus column."""
    import spark_ensemble_spark.queries as q

    df = q.docs_ltr_rerank(spark, sf_dir)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan


def test_pagerank_and_gap_fill_plan_shapes(spark, sf_dir):
    """Late-r9 iteration/resample discipline: PageRank's per-iteration plan
    is equi-joins + hash aggregates only (no cartesian product, no global
    single-partition sort anywhere in the final plan), and gap_fill's only
    window partitions by user — no empty-frame global window."""
    import spark_ensemble_spark.queries as q

    pr = q.docs_pagerank(spark, sf_dir)
    assert pr.count() > 0
    p1 = pr._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in p1

    gf = q.events_gap_fill_hourly(spark, sf_dir)
    assert gf.count() > 0
    p2 = gf._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in p2
    # every Window must partition by user_id — a global (unpartitioned)
    # window would funnel the grid through one task
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", p2):
        assert "user_id" in m.group(0), m.group(0)


def test_spans_plan_shapes(spark, sf_dir):
    """Span dedup's 100-TB contract: (a) the gram-table tokenization is
    pinned behind the eval-once barrier (exactly ONE Generate carrying the
    word split per scan branch — the r6 fold hazard would clone it into
    every try_element_at), (b) no cartesian product anywhere, (c) the
    islands walk adds no second exchange between its two windows (both
    partition by doc)."""
    from spark_ensemble_spark.operators import spans as S
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = S.repeated_spans(docs, k=8)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join Cross" not in plan and "Cartesian" not in plan
    # one split(...) evaluation per gram-table branch: the barrier keeps the
    # tokenization out of the per-position lambda
    n_split = plan.count("split(lower(trim(")
    assert n_split <= 2, (n_split, plan)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physical


def test_crawl_pipeline_plan_single_window_exchange(spark, sf_dir):
    """The batch crawl verdict row is narrow except the canonical-pick
    window: exactly one data-sized exchange (on url_norm), no join of two
    data-sized frames (the fixture join collapses into the same scan),
    no aggregate."""
    import spark_ensemble_spark.queries as q

    df = q.docs_crawl_pipeline(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(url_norm") >= 1
    assert "HashAggregate" not in plan


def test_bm25_serve_after_delete_plan(spark, sf_dir):
    """Tombstone serving must stay index-shaped: no cartesian product, the
    removed-id anti-join broadcast (never a shuffled anti-join of a tiny
    id list), and the documents scan pruned to (doc_id, text) — the
    maintained index is served, not a re-tokenized corpus."""
    from spark_ensemble_spark.plans.explain import (
        executed_plan,
        has_broadcast_join,
        scan_columns,
    )

    df = SPARK_QUERIES["docs_bm25_serve_after_delete"](spark, sf_dir)
    # the only nested-loop join allowed is the 1-row corpus-stats
    # crossJoin every BM25 plan carries; a true cartesian is a bug
    assert "CartesianProduct" not in executed_plan(df)
    assert has_broadcast_join(df)
    for cols in scan_columns(df):
        if "text" in cols:
            assert set(cols) <= {"doc_id", "text"}


def test_embed_bridge_plan(spark, sf_dir):
    """The raw-text→ANN bridge: one documents scan pruned to
    (doc_id, text), no cartesian product, broadcast-only joins (the IVF
    cell equi-join's probe side is query-sized)."""
    from spark_ensemble_spark.plans.explain import (
        has_cartesian,
        scan_columns,
    )

    df = SPARK_QUERIES["docs_embed_ann_topk"](spark, sf_dir)
    assert not has_cartesian(df)
    doc_scans = [c for c in scan_columns(df) if "text" in c]
    assert doc_scans and all(set(c) <= {"doc_id", "text"} for c in doc_scans)


def test_authority_boosted_search_plan(spark, sf_dir):
    """The PageRank top-k must be TakeOrderedAndProject (per-partition heap
    + k-row driver merge), NEVER a global row_number window — a
    single-task sort of the corpus-sized rank frame at 100× (VERDICT r10
    "What's wrong" #3).  The only windows left in the plan are the k-row
    rank stamp and rrf_fuse's per-query top-k (both partitioned or
    k-row-sized inputs)."""
    from spark_ensemble_spark.plans.explain import executed_plan

    df = SPARK_QUERIES["docs_authority_boosted_search"](spark, sf_dir)
    plan = executed_plan(df)
    lines = plan.splitlines()
    tko = [i for i, l in enumerate(lines) if "TakeOrderedAndProject" in l]
    assert tko, "PageRank top-k must lower to TakeOrderedAndProject"
    # The rank-stamp window runs on the ALREADY-LIMITED k-row frame: in the
    # printed tree (root first) the window sits ABOVE its TakeOrdered child,
    # so every rank_scaled window line must be FOLLOWED by a
    # TakeOrderedAndProject line deeper in the plan.  The pre-fix shape —
    # row_number over Window.orderBy(rank_scaled) directly on the full
    # PageRank frame — has a rank_scaled window with NO TakeOrdered below
    # it (global sort + single-partition exchange instead), which this
    # positional check rejects while the bare `in plan` check did not.
    win_idx = [
        i
        for i, l in enumerate(lines)
        if "Window" in l and "rank_scaled" in l
    ]
    for i in win_idx:
        assert any(
            j > i for j in tko
        ), f"rank_scaled window at plan line {i} has no TakeOrdered child"


def test_phrase_search_plan(spark, sf_dir):
    """phrase_topk's plan must prune the token stream through a broadcast
    join on the (tiny) query-token side before any exchange, keep both
    vote aggregations partial (map-side combine), push the per-query
    top-k below the final exchange via WindowGroupLimit, and never
    self-join or broadcast the corpus."""
    from spark_ensemble_spark.operators.retrieval import phrase_topk
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [("p1", "table scan"), ("p2", "batch batch")],
        "query_id string, query_text string",
    )
    plan = phrase_topk(docs, qs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan, "top-k must prune below the exchange"
    # no corpus-sized build side under any broadcast exchange
    import re

    for m in re.finditer(r"BroadcastExchange[^\n]*\n(?:\s*\+- [^\n]*\n){0,2}", plan):
        assert "FileScan parquet" not in m.group(0), m.group(0)
