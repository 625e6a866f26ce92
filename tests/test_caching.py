"""Cache hygiene: operator-internal persists are tracked and releasable,
so a long-lived session (bench suite, notebook, driver loop) does not
accumulate dead cached tables."""

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.caching import (
    release_operator_caches,
    tracked_count,
    tracked_persist,
)


def _persistent_ids(spark) -> set:
    """Ids of currently-persistent RDDs. localCheckpoint-based loops
    (connected components, BPE training) leave checkpoint RDDs here
    until the async ContextCleaner runs, so tests must compare SETS
    (no net-new ids survive a release) rather than exact counts — a
    stale entry from a previous test vanishing mid-test would shift a
    count-based baseline."""
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_tracked_persist_release_roundtrip(spark):
    release_operator_caches()  # clean slate
    base_ids = _persistent_ids(spark)
    df = tracked_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    df.count()  # materialise the cache
    assert len(_persistent_ids(spark) - base_ids) == 1
    assert tracked_count() == 1
    assert release_operator_caches() == 1
    assert tracked_count() == 0
    assert _persistent_ids(spark) <= base_ids
    # released frames still recompute correctly
    assert df.count() == 100


@pytest.mark.parametrize("op", ["minhash", "embedding", "dense_ids"])
def test_operators_leave_no_net_new_caches(spark, op):
    from hds_functions_spark.operators.dedup import (
        embedding_near_dup_pairs,
        minhash_pairs,
    )
    from hds_functions_spark.operators.ids import assign_dense_ids

    release_operator_caches()
    base_ids = _persistent_ids(spark)
    if op == "minhash":
        df = spark.createDataFrame(
            [(i, f"document number {i} with shared text body") for i in range(40)],
            "doc_id: long, text: string",
        )
        minhash_pairs(df).count()
    elif op == "embedding":
        df = spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)],
            "vec_id: long, embedding: array<double>",
        )
        embedding_near_dup_pairs(
            df, n_planes=4, bands=2, dim=8, threshold=0.0
        ).count()
    else:
        df = spark.createDataFrame(
            [(i, f"k{i % 3}") for i in range(50)], "v: long, g: string"
        )
        assign_dense_ids(df, order_by=["v"]).count()
    assert tracked_count() >= 1  # the operator registered its persist
    release_operator_caches()
    # no net-new persisted tables: anything still cached predates the op
    assert _persistent_ids(spark) <= base_ids


def test_observe_metrics_single_pass(spark):
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.quality import observe_metrics

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id: long, v: string"
    )
    observed, obs = observe_metrics(
        df, "t", {"n": F.count(F.lit(1)), "nulls": F.count(F.when(F.col("v").isNull(), 1))}
    )
    assert observed.count() == 3  # the action that fires the observation
    assert obs.get == {"n": 3, "nulls": 1}

    import pytest

    with pytest.raises(ValueError, match="at least one"):
        observe_metrics(df, "t2", {})


def test_tracked_persist_does_not_adopt_foreign_persist(spark):
    """An operator calling tracked_persist on an input its caller
    already persisted must NOT track it — otherwise
    release_operator_caches unpersists the frame behind its owner's
    back and every later consumer silently recomputes the upstream on
    every scan (the r10 winnowing-family bench anomaly)."""
    from pyspark import StorageLevel

    from hds_functions_spark.caching import (
        release_operator_caches,
        tracked_count,
        tracked_persist,
    )

    release_operator_caches()  # clean slate
    owner = spark.range(10).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        owner.count()  # materialise
        before = tracked_count()
        got = tracked_persist(owner)
        assert got is owner
        assert tracked_count() == before  # NOT adopted
        release_operator_caches()
        # the owner's persistence survives the bulk release
        assert owner.storageLevel != StorageLevel.NONE
        # an unpersisted frame is still persisted + tracked as before
        fresh = tracked_persist(spark.range(5))
        assert fresh.storageLevel != StorageLevel.NONE
        assert tracked_count() == 1
        release_operator_caches()
        assert fresh.storageLevel == StorageLevel.NONE
    finally:
        owner.unpersist()
