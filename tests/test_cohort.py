"""Cohort-construction tests: criteria chain, null-as-fail, flowchart
equivalence across physical strategies, validation errors."""

import pytest
from pyspark.errors import AnalysisException

from hds_functions_spark import (
    apply_inclusion_criteria,
    create_inclusion_columns,
    create_inclusion_flowchart,
    validate_cohort_columns,
    validate_inclusion_criteria,
)

CRITERIA = {"valid_id": "person_id IS NOT NULL", "age_ok": "age < 65"}


@pytest.fixture()
def cohort(spark):
    data = [
        (1, "id_001", 30),
        (2, "id_002", 70),
        (3, None, 40),
        (4, "id_001", 50),  # duplicate person -> n_row != n_distinct_id
        (5, "id_003", None),  # null age -> 'age < 65' is null -> FAIL
    ]
    return spark.createDataFrame(data, "row_id: long, person_id: string, age: int")


def test_apply_inclusion_criteria_filters_and_drops(cohort):
    out = apply_inclusion_criteria(cohort, CRITERIA)
    assert out.columns == ["row_id", "person_id", "age"]
    assert sorted(r["row_id"] for r in out.collect()) == [1, 4]


def test_keep_inclusion_flags(cohort):
    out = apply_inclusion_criteria(cohort, CRITERIA, drop_inclusion_flags=False)
    for col in ["valid_id", "age_ok", "criteria_0", "criteria_1", "criteria_2", "include"]:
        assert col in out.columns


def test_null_criterion_fails(cohort):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    row5 = {r["row_id"]: r for r in flagged.collect()}[5]
    assert row5["age_ok"] is False  # null -> False
    assert row5["include"] is False


def test_cumulative_chain_order(cohort):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    rows = {r["row_id"]: r for r in flagged.collect()}
    # row 2: valid_id True, age_ok False -> criteria_1 True, criteria_2 False
    assert rows[2]["criteria_1"] is True and rows[2]["criteria_2"] is False
    # row 3: valid_id False -> criteria_1 False regardless of age_ok True
    assert rows[3]["age_ok"] is True
    assert rows[3]["criteria_1"] is False and rows[3]["criteria_2"] is False


@pytest.mark.parametrize("strategy", ["two_level", "unpivot"])
def test_flowchart_counts(cohort, strategy):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    fc = create_inclusion_flowchart(flagged, CRITERIA, strategy=strategy)
    rows = fc.collect()
    assert [r["criteria"] for r in rows] == ["criteria_0", "criteria_1", "criteria_2"]
    assert [r["criteria_index"] for r in rows] == [0, 1, 2]
    assert [r["description"] for r in rows] == ["Original table", "valid_id", "age_ok"]
    assert rows[0]["expression"] == ""
    assert rows[1]["expression"] == "person_id IS NOT NULL"
    # n_row: all 5 -> 4 (row 3 out) -> 2 (rows 2, 5 out)
    assert [r["n_row"] for r in rows] == [5, 4, 2]
    # distinct ids: 3 non-null -> 3 -> 1 (id_001 only)
    assert [r["n_distinct_id"] for r in rows] == [3, 3, 1]
    # deltas: null for criteria_0 (no lag predecessor)
    assert rows[0]["excluded_rows"] is None and rows[0]["excluded_ids"] is None
    assert [r["excluded_rows"] for r in rows[1:]] == [1, 2]
    assert [r["excluded_ids"] for r in rows[1:]] == [0, 2]


def test_flowchart_strategies_equivalent(cohort):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    a = create_inclusion_flowchart(flagged, CRITERIA, strategy="two_level").collect()
    b = create_inclusion_flowchart(flagged, CRITERIA, strategy="unpivot").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_flowchart_saved_via_table_directory(cohort, tmp_path):
    target = tmp_path / "flowchart"
    directory = {"fc": {"path": str(target), "format": "parquet"}}
    out = apply_inclusion_criteria(
        cohort, CRITERIA, flowchart_table="fc", table_directory=directory
    )
    assert sorted(r["row_id"] for r in out.collect()) == [1, 4]
    saved = cohort.sparkSession.read.parquet(str(target))
    assert saved.count() == 3


def test_flowchart_flagged_frame_is_tracked_and_released(cohort, tmp_path):
    """The flagged frame persisted for the flowchart is tracked, so the
    bulk release frees it instead of leaking it for the session."""
    from hds_functions_spark.caching import release_operator_caches, tracked_count

    def reads_cache(df):
        plan = df.select("*")._jdf.queryExecution().optimizedPlan()
        return "InMemoryRelation" in plan.toString()

    release_operator_caches()
    directory = {"fc": {"path": str(tmp_path / "fc"), "format": "parquet"}}
    out = apply_inclusion_criteria(
        cohort, CRITERIA, flowchart_table="fc", table_directory=directory
    )
    assert tracked_count() == 1
    assert reads_cache(out)
    assert release_operator_caches() == 1
    assert not reads_cache(out)
    assert sorted(r["row_id"] for r in out.collect()) == [1, 4]


def test_validate_inclusion_criteria_errors(cohort):
    with pytest.raises(TypeError, match="must be a dictionary"):
        validate_inclusion_criteria(cohort, [("a", "b")])
    with pytest.raises(TypeError, match="must be a string"):
        validate_inclusion_criteria(cohort, {"flag": 42})


def test_validate_cohort_columns_conflicts(spark):
    df = spark.createDataFrame([(1, "p", True)], ["row_id", "person_id", "include"])
    with pytest.raises(ValueError, match="conflicting columns"):
        validate_cohort_columns(df, {}, "row_id", "person_id")
    df2 = spark.createDataFrame([(1, "p", 1)], ["row_id", "person_id", "age_ok"])
    with pytest.raises(ValueError, match="conflicting"):
        validate_cohort_columns(df2, {"age_ok": "1=1"}, "row_id", "person_id")


def test_validate_cohort_columns_missing_ids(spark):
    df = spark.createDataFrame([(1,)], ["row_id"])
    with pytest.raises(AnalysisException, match="person_id"):
        validate_cohort_columns(df, {}, "row_id", "person_id")


def test_empty_criteria(cohort):
    out = apply_inclusion_criteria(cohort, {})
    assert out.count() == 5
