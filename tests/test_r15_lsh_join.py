"""r15 (VERDICT r14 #2): the text-tier LSH candidate stage is the
distributed band self equi-join, ported from mm_dedup_phash's r14
rebuild.

The previous groupBy + collect_list + in-array expansion put a true
near-dup cluster of size m into ONE task's array and expanded m² pairs
there — a single-task OOM at a dup-heavy 100 TB corpus, and invisible
to AQE (skew-split does not apply to an aggregate). These tests pin
the new shape and its sharing contract:

- no CollectList anywhere in the executed plans of the two candidate
  composers that feed the perf gate (dedup_minhash_lsh,
  dedup_edit_distance);
- with broadcast disabled (the cluster-scale shape — neither side of a
  corpus-sized self-join broadcasts) the candidate join is a shuffled
  join over hash-partitioned exchanges;
- the signature table is persisted ONCE and shared by both branches of
  the self-join (the InMemoryRelation appears, and
  clear_session_caches drops the entry).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.usefixtures("spark")


def _executed_plan(df):
    df.count()
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_candidate_stage_is_distributed_join(spark):
    import nyc_traffic_insight_spark.queries.textops as t

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ds = t._shingle_sets_persisted(spark, SF_SMOKE)
        plan = _executed_plan(t._lsh_candidate_pairs(ds))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CollectList" not in plan and "collect_list" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_lsh_composers_have_no_collectlist(spark):
    """Every registered query that composes _lsh_candidate_pairs rides
    the new join shape — spot-pin the two that carry byte anchors."""
    import nyc_traffic_insight_spark.queries.textops as t

    for builder in (t.dedup_minhash_lsh, t.dedup_edit_distance):
        plan = _executed_plan(builder(spark, SF_SMOKE))
        assert "CollectList" not in plan, builder.__name__
        assert "CartesianProduct" not in plan, builder.__name__


def test_lsh_signature_is_persisted_and_cleared(spark):
    """The self-join's two branches must read ONE materialized
    signature (NOTES r1: self-joins defeat exchange reuse), and
    clear_session_caches must drop it with the other session caches."""
    import nyc_traffic_insight_spark.queries.textops as t
    from nyc_traffic_insight_spark import session

    def sigs():
        app = spark.sparkContext.applicationId
        return [
            v for k, v in session._HELD.items() if k[:2] == (app, "lsh_sig")
        ]

    session.clear_session_caches(spark)
    ds = t._shingle_sets_persisted(spark, SF_SMOKE)
    plan = _executed_plan(t._lsh_candidate_pairs(ds))
    assert "InMemoryTableScan" in plan
    assert len(sigs()) == 1
    sig = sigs()[0]
    assert sig.storageLevel.useMemory
    dropped = session.clear_session_caches(spark)
    assert dropped >= 1
    assert len(sigs()) == 0
