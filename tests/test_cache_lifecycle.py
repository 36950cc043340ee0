"""Cache lifecycle: operators that persist an intermediate and return
a dimension-bounded result must release every block before returning
(operators/util.materialize_release) — a long-lived session composing
them must not accumulate orphaned executor storage. Operators whose
OUTPUT scales with the corpus (d3/x4 pair enumerations) intentionally
keep their cache attached to the returned lazy plan instead; they are
not in this sweep."""

from __future__ import annotations

import pytest

from mirrulations_iceberg_spark.operators import collect_queries

from .conftest import SF_DIR

QUERIES, _ = collect_queries()

#: Every query that cache()/persist()-es internally and returns a
#: bounded result. New cache sites must either release-and-join this
#: list or document why their cache rides the returned plan.
RELEASING = (
    "w7_ntile_deciles",
    "w11_funnel_steps",
    "e2_training_pipeline",
    "e6_budget_select",
    "x2_ann_lsh_topk",
    "x5_ann_ivf_topk",
    "x11_ivf_tuning_curve",
    "x6_embedding_dedup_apply",
    "d7_dedup_apply_lsh",
)


@pytest.mark.parametrize("name", RELEASING)
def test_bounded_result_queries_release_their_caches(spark, name):
    spark.catalog.clearCache()
    QUERIES[name](spark, SF_DIR).collect()
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs()
    assert persistent.size() == 0, f"{name} leaked {persistent.size()} cached RDD(s)"


def test_materialize_release_round_trips_in_the_jvm(spark):
    """The released result is a LocalRelation holding exactly the
    collected rows and schema — decimal, date, microsecond timestamp,
    array with a null, struct and a null string included."""
    from mirrulations_iceberg_spark.operators.util import materialize_release

    src = spark.sql(
        "SELECT CAST(12345.6789 AS DECIMAL(18,4)) AS dec,"
        " DATE'2024-02-29' AS d,"
        " TIMESTAMP'2024-02-29 12:34:56.123456' AS ts,"
        " array(1, NULL, 3) AS arr,"
        " named_struct('k', 'a', 'v', 2L) AS st,"
        " CAST(NULL AS STRING) AS s"
    )
    cached = spark.range(3).cache()
    cached.count()
    out = materialize_release(spark, src, cached)
    assert out.schema == src.schema
    assert out.collect() == src.collect()
    assert "LocalRelation" in out._jdf.queryExecution().analyzed().toString()
    assert not cached.is_cached
