"""Registry consistency guards: the driver contract stays complete and
the README capability table stays honest as queries are added."""

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def test_every_query_has_an_oracle():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(qs) == set(oracles), (
        f"missing oracles: {set(qs) - set(oracles)}; "
        f"orphan oracles: {set(oracles) - set(qs)}"
    )
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_driver_priority_queries_land_in_first_50():
    """The driver's correctness gate verifies exactly the first 50 entries of
    ``queries()`` in iteration order. Every name in DRIVER_PRIORITY (no prior
    driver-green row, or changed this round) must be registered and land
    inside that window."""
    import __spark_entry__ as e
    from hds_functions_spark.registry import DRIVER_PRIORITY

    names = list(e.queries())
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY)), "dup priority"
    unregistered = [n for n in DRIVER_PRIORITY if n not in names]
    assert not unregistered, f"priority names not registered: {unregistered}"
    window = set(names[:50])
    # the list may exceed the 50-slot window (round 6 rotates 51 names in;
    # the surplus deliberately queues for the next round) — what must hold
    # is that the first 50 priority names actually fill the gate
    outside = [n for n in DRIVER_PRIORITY[:50] if n not in window]
    assert not outside, f"priority queries outside the first-50 gate: {outside}"
    # queries() and oracle_sql() iterate in the same order (oracle-less
    # streaming-style entries excepted).
    oracle_names = list(e.oracle_sql())
    assert oracle_names == [n for n in names if n in set(oracle_names)]


def test_readme_lists_every_query():
    import __spark_entry__ as e

    root = os.path.join(os.path.dirname(__file__), "..")
    readme = open(os.path.join(root, "README.md")).read()
    missing = [q for q in e.queries() if f"`{q}`" not in readme]
    assert not missing, f"queries absent from README table: {missing}"
    n = len(e.queries())
    assert f"({n} entries" in readme, (
        f"README registry count is stale (actual: {n})"
    )
    # ALL prose counts must track the registry, not just the table
    # heading — r9's verdict caught "(151 named queries" three waves
    # stale. Any "(N entries" / "(N named queries" in the README must
    # say the current N.
    stale = [
        m.group(0)
        for m in re.finditer(
            r"(\d+) (?:entries|named queries|driver queries|registered today)",
            readme,
        )
        if int(m.group(1)) != n
    ]
    assert not stale, (
        f"README prose counts stale (actual: {n}): {stale}"
    )


def test_oracles_parse_in_duckdb():
    """Every oracle must at least BIND against empty same-schema views —
    catches SQL syntax/function drift without running data."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        schema = pq.read_schema(f"{sf}/{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet') LIMIT 0"
        )
        del schema
    failures = []
    for name, sql in e.oracle_sql().items():
        try:
            con.execute(sql)
        except Exception as exc:
            failures.append((name, str(exc)[:120]))
    assert not failures, failures


def test_normalise_event_ts_dual_layouts(spark, tmp_path):
    """The testdata generator has shipped events.parquet as TIMESTAMP(NANOS)
    (read as long under nanosAsLong) and as TIMESTAMP(MICROS) (read as
    timestamp_ntz). Both layouts must normalise to identical instants, and
    an already-normalised frame must pass through unchanged."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hds_functions_spark.registry import normalise_event_ts

    instants = pd.to_datetime(
        ["2024-01-01 00:00:00.123456", "2024-06-30 23:59:59.999999"]
    )
    nanos_path = str(tmp_path / "nanos.parquet")
    micros_path = str(tmp_path / "micros.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(instants, type=pa.timestamp("ns"))}),
        nanos_path,
    )
    pq.write_table(
        pa.table({"ts": pa.array(instants, type=pa.timestamp("us"))}),
        micros_path,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_df = spark.read.parquet(nanos_path)
    micros_df = spark.read.parquet(micros_path)
    assert dict(nanos_df.dtypes)["ts"] == "bigint"
    assert dict(micros_df.dtypes)["ts"] == "timestamp_ntz"

    out_n = normalise_event_ts(nanos_df)
    out_m = normalise_event_ts(micros_df)
    assert dict(out_n.dtypes)["ts"] == "timestamp"
    assert dict(out_m.dtypes)["ts"] == "timestamp"
    vals_n = sorted(r["ts"] for r in out_n.collect())
    vals_m = sorted(r["ts"] for r in out_m.collect())
    assert vals_n == vals_m
    assert vals_n[0].microsecond == 123456  # integer ns->us truncation

    # already-timestamp passes through without an extra projection
    again = normalise_event_ts(out_m)
    assert again is out_m


def test_normalise_event_ts_rejects_bad_layouts(spark):
    import pytest
    from pyspark.sql import functions as F

    from hds_functions_spark.registry import normalise_event_ts

    no_ts = spark.range(3).withColumnRenamed("id", "user_id")
    with pytest.raises(ValueError, match="missing a 'ts' column"):
        normalise_event_ts(no_ts)

    stringy = spark.range(3).withColumn("ts", F.lit("2024-01-01"))
    with pytest.raises(ValueError, match="unexpected dtype 'string'"):
        normalise_event_ts(stringy)


def test_no_module_state_keyed_on_the_spark_application():
    """No library module keeps state keyed on
    ``sparkContext.applicationId``: a query's result and cost must not
    depend on which queries ran before it in the same session."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "hds_functions_spark"
    hits = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "applicationId" in line
    ]
    assert hits == []
