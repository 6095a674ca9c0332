"""Every registered DuckDB oracle, checked by the one gate in
``spark_ensemble_spark/oracle.py``.

* ``test_oracle`` runs the full gate (type audits, names, row counts, the
  object lane and the Arrow/pandas lane) over every oracle row outside the
  driver's 50-row window: folded twins and post-registry additions. A new
  ``@query(name, oracle)`` joins it with no test edit.
* ``test_oracle_types`` runs the DuckDB side of the type audit, which only
  binds the query, over every oracle, one case per hazard class. The 50
  window rows' values are checked by ``scripts/check_correctness.py``, whose
  Spark side would add minutes here.
* The gate itself is tested on planted frames, and the registry's bench
  tags are pinned.
"""

import importlib.util
import os

import pytest

from spark_ensemble_spark import oracle
from spark_ensemble_spark.queries import (
    ALL_ORACLES,
    ALL_SPARK_QUERIES,
    BENCH_QUERIES,
    ML_FITS,
    ORACLES,
    SPARK_QUERIES,
)

EXTRA = sorted(set(ALL_ORACLES) - set(ORACLES))


@pytest.fixture(scope="module")
def con(sf_dir):
    return oracle.connect(sf_dir)


@pytest.mark.parametrize("name", EXTRA)
def test_oracle(spark, sf_dir, con, name):
    sdf = ALL_SPARK_QUERIES[name](spark, sf_dir)
    assert oracle.oracle_problems(sdf, con.sql(ALL_ORACLES[name])) == []


@pytest.fixture(scope="module")
def bound(con):
    """Each oracle bound once, shared by its per-hazard audits: some take
    seconds to bind."""
    rels = {}

    def bind(name):
        if name not in rels:
            rels[name] = con.sql(ALL_ORACLES[name])
        return rels[name]

    return bind


@pytest.mark.parametrize("hazard", oracle.HAZARDS)
@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_oracle_types(bound, name, hazard):
    # one case per class, so a failing case names the class that went wrong
    problems = oracle.audit_types(bound(name))
    assert [p for p in problems if p.startswith(f"oracle emits {hazard} ")] == []


def test_extra_set_is_nonempty():
    # the adapted TPC-H queries must be present and folded (not displacing
    # driver-verified registry rows)
    for q in (
        "q7_nation_trade",
        "q10_returned_revenue",
        "q14_promo_revenue",
        "q19_banded_revenue",
        "q22_idle_customers",
    ):
        assert q in EXTRA, q


# Each pair renders alike on the object lane or hides from one side's audit,
# and each must still fail the gate.
_PLANTED_BAD = {
    # str(Decimal('1')) == '1': only the Spark-side DECIMAL audit sees it
    "spark_decimal": ("CAST(1 AS DECIMAL(10,0))", "CAST(1 AS BIGINT)"),
    "duck_decimal": ("CAST(1 AS BIGINT)", "CAST(1 AS DECIMAL(10,0))"),
    # DuckDB's integer sum() is HUGEINT, float64 on the Arrow path
    "duck_hugeint": ("CAST(1 AS BIGINT)", "sum(1)"),
    "bigint_vs_double": ("CAST(1 AS BIGINT)", "CAST(1 AS DOUBLE)"),
}


@pytest.mark.parametrize("case", sorted(_PLANTED_BAD))
def test_gate_fails_planted_mismatch(spark, con, case):
    spark_expr, duck_expr = _PLANTED_BAD[case]
    sdf = spark.sql(f"SELECT {spark_expr} AS x")
    assert oracle.oracle_problems(sdf, con.sql(f"SELECT {duck_expr} AS x")) != []


def test_gate_passes_safe_types(spark, con):
    sql = (
        "SELECT * FROM (VALUES"
        " (CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE), 'x', TRUE),"
        " (CAST(NULL AS BIGINT), CAST('NaN' AS DOUBLE), NULL, FALSE))"
        " AS t(a, b, c, d)"
    )
    assert oracle.oracle_problems(spark.sql(sql), con.sql(sql)) == []


# Registered queries the bench does not time (bench=False); every other
# registered query is timed, so only a wrong tag fails the pin below.
_NOT_BENCHED = {
    "chunk_documents_256", "customer_value_deciles", "dedup_funnel_report",
    "dedup_keep_best", "discount_quantity_stats", "distinct_users_daily",
    "dummy_median_regressor", "dummy_quantile_regressor",
    "embedding_dup_pairs", "events_daily_retention",
    "events_hourly_gapfilled", "events_session_window",
    "feature_hashing_bow", "fuzzy_part_name_pairs",
    "lineitem_measures_unpivot", "monthly_revenue_trend",
    "pack_sequences_2048", "q11_valuable_parts", "q13_order_count_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_variety",
    "q19_banded_revenue", "q20_major_suppliers", "q21_exclusive_suppliers",
    "q22_idle_customers", "q2_min_price_supplier", "q6_revenue_forecast",
    "q8_nation_market_share", "q9_nation_year_revenue", "revenue_cube",
    "sample_fixed_per_stratum", "text_quality", "user_activity_features",
    "winsorized_order_stats",
}


def test_bench_set_is_pinned():
    assert len(BENCH_QUERIES) == len(set(BENCH_QUERIES))
    assert set(BENCH_QUERIES) == set(ALL_SPARK_QUERIES) - _NOT_BENCHED


def test_ml_fit_set_is_pinned():
    assert ML_FITS == {
        "dummy_mean_regressor", "dummy_prior_classifier",
        "bagging_tree_regressor", "bagging_tree_classifier",
        "bagging_dummy_mean_regressor", "bagging_dummy_prior_classifier",
        "boosting_tree_regressor", "boosting_tree_classifier",
        "boosting_dummy_median_regressor", "boosting_dummy_prior_classifier",
        "gbm_tree_regressor", "gbm_tree_classifier",
        "gbm_dummy_mean_regressor", "gbm_dummy_prior_classifier",
        "stacking_tree_classifier", "stacking_dummy_regressor",
        "stacking_dummy_prior_classifier",
        "regression_metrics_dummy_median", "classification_metrics_dummy_prior",
    }
    assert ML_FITS <= set(BENCH_QUERIES)


def _check_correctness_script():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "check_correctness.py",
    )
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_check_correctness_selects_from_whole_registry():
    script = _check_correctness_script()
    window, unknown = script.select([])
    assert list(window) == list(SPARK_QUERIES) and unknown == []
    # a row outside the window is checked against its own oracle
    assert "q7_nation_trade" not in SPARK_QUERIES
    rows, unknown = script.select(["q7_nation_trade"])
    assert rows == {
        "q7_nation_trade": (
            ALL_SPARK_QUERIES["q7_nation_trade"],
            ALL_ORACLES["q7_nation_trade"],
        )
    }
    assert unknown == []
    rows, unknown = script.select(["q7_nation_trade", "no_such_query"])
    assert unknown == ["no_such_query"]
    # an unknown name exits non-zero before any Spark work
    assert script.main(["/nonexistent", "no_such_query"]) == 2
