"""Building a plan starts no Spark job.

Operators that pick their physical path from the input (blocklist size
or type, benchmark n-gram count, centroid count, ``k`` against the
window group-limit threshold, a row total the caller already holds)
must decide without looking at data: a lazy API that fires an eager job
at plan time (a ``collect()`` of a DataFrame argument, a ``count()`` to
size a branch) runs it again for every plan a caller builds and never
shows up in the result.  Each
regime of each selector is built under its own job group, and
``statusTracker`` must report no job for that group.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from snowy_json_spark.operators import dedup, referential, similarity, text, topk, uniqueness, urls
from snowy_json_spark.sources.tables import local_frame


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "https://a.ads.example.com/x", "the quick brown fox", [0.1] * 4, "k1", 0.5)],
        "id long, url string, text string, vec array<double>, key string, score double",
    )


def _words(n_words: int) -> list[str]:
    return [" ".join(f"w{i}" for i in range(n_words))]


# regime → (plan builder, plan-string marker, marker expected): the
# marker tells the regime's path apart
CASES = {
    "blocklist_literal": (
        lambda spark, df: urls.flag_blocked_hosts(
            df, "url", [f"d{i}.example" for i in range(urls.BLOCKLIST_LITERAL_MAX)]
        ),
        "Join", False,
    ),
    "blocklist_long_list": (
        lambda spark, df: urls.flag_blocked_hosts(
            df, "url", [f"d{i}.example" for i in range(urls.BLOCKLIST_LITERAL_MAX + 1)]
        ),
        "Join", True,
    ),
    "blocklist_dataframe": (
        lambda spark, df: urls.blocklist_filter(
            df, "url", spark.range(3).select(F.concat(F.lit("d"), F.col("id").cast("string")))
        ),
        "Join", True,
    ),
    # n words give n - 2 distinct trigrams
    "contamination_literal": (
        lambda spark, df: text.contamination_counts(
            df, "id", "text", _words(text.CONTAMINATION_LITERAL_MAX + 2)
        ),
        "Join", False,
    ),
    "contamination_join": (
        lambda spark, df: text.contamination_counts(
            df, "id", "text", _words(text.CONTAMINATION_LITERAL_MAX + 3)
        ),
        "Join", True,
    ),
    "ivf_expr": (
        lambda spark, df: similarity.with_ivf_cell(
            df, "vec", np.random.RandomState(0).rand(similarity.IVF_EXPR_MAX_CELLS, 4)
        ),
        "pythonUDF", False,
    ),
    "ivf_arrow": (
        lambda spark, df: similarity.with_ivf_cell(
            df, "vec", np.random.RandomState(0).rand(similarity.IVF_EXPR_MAX_CELLS + 1, 4)
        ),
        "pythonUDF", True,
    ),
    # the caller's row total (the fixture's one row) bounds the candidate
    # count, so no count() sizes the join
    "uniqueness_row_bound": (
        lambda spark, df: uniqueness.uniqueness_violations(
            df, ["url"], "#/x-table-checks/url_unique", n_rows=1
        ),
        "strategy=broadcast", True,
    ),
    "topk_window": (
        lambda spark, df: topk.top_k_per_key(df, "key", [F.col("score").desc()], 1000),
        "_tkb", False,
    ),
    "topk_two_stage": (
        lambda spark, df: topk.top_k_per_key(df, "key", [F.col("score").desc()], 1001),
        "_tkb", True,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_plan_build_starts_no_job(spark, docs, jobs_started, case):
    build, marker, present = CASES[case]
    built = []
    assert jobs_started(lambda: built.append(build(spark, docs))) == []
    plan = built[0]._jdf.queryExecution().optimizedPlan().toString()
    assert (marker in plan) == present, (case, marker)


def test_job_probe_sees_a_job(docs, jobs_started):
    assert jobs_started(docs.count)


def _referential(spark, df):
    dim = local_frame(spark, [(c,) for c in ("k1", "k2", "k1")], "key string")
    return referential.anti_join_violations(df, "key", dim, "key")


def _probe(spark, df):
    batch = local_frame(spark, [(7, "the quick brown fox jumps")], "id long, text string")
    new_sigs, new_bands = dedup.minhash_index(batch, "id", "text")
    index_sigs, index_bands = dedup.minhash_index(df, "id", "text")
    return dedup.probe_index(new_sigs, new_bands, index_sigs, index_bands, "id")


# join regime → (plan builder, spark.sql.autoBroadcastJoinThreshold or
# None for the session's, physical-operator counts the plan must show).
# A sized dim or batch under the threshold is broadcast with no
# dim-side aggregate; at -1 the referential dim is reduced to distinct
# keys (partial + final HashAggregate) and every join shuffles.
JOIN_CASES = {
    "referential_broadcast": (
        _referential, None, {"BroadcastHashJoin": 1, "SortMergeJoin": 0, "HashAggregate": 0}
    ),
    "referential_shuffle": (
        _referential, -1, {"BroadcastHashJoin": 0, "SortMergeJoin": 1, "HashAggregate": 2}
    ),
    "probe_index_broadcast": (_probe, None, {"BroadcastHashJoin": 3, "SortMergeJoin": 0}),
    "probe_index_shuffle": (_probe, -1, {"BroadcastHashJoin": 0, "SortMergeJoin": 3}),
}


@pytest.mark.parametrize("case", sorted(JOIN_CASES))
def test_join_regime_builds_without_job(spark, docs, jobs_started, broadcast_threshold, case):
    """The size rule decides from plan statistics alone, and each regime
    plans the joins it names."""
    build, threshold, counts = JOIN_CASES[case]
    key = "spark.sql.autoBroadcastJoinThreshold"
    with broadcast_threshold(threshold if threshold is not None else spark.conf.get(key)):
        built = []
        assert jobs_started(lambda: built.append(build(spark, docs))) == []
        plan = built[0]._jdf.queryExecution().sparkPlan().toString()
    assert {op: plan.count(op) for op in counts} == counts, plan
