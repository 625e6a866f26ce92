"""Persisted-index incremental ANN (round 10): the IVF build/probe
factoring, PQ codebook persistence round-trips, and the
embedding-decontamination operator."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_compose_identity(spark, emb):
    """ivf_cosine_topk IS probe(build(...)): the one-shot path and the
    two-step path must agree row-for-row (single arithmetic path)."""
    from hds_functions_spark.operators.similarity import (
        ivf_cosine_topk,
        ivf_index_build,
        ivf_probe_index,
    )

    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    one_shot = ivf_cosine_topk(emb, queries, k=3, n_centroids=8, n_probe=2)
    index = ivf_index_build(emb, n_centroids=8)
    two_step = ivf_probe_index(
        index, queries, k=3, n_centroids=8, n_probe=2
    )
    assert _rows(one_shot) == _rows(two_step)
    assert one_shot.columns == ["query_id", "vec_id", "cosine_sim", "row_index"]


def test_ivf_persisted_index_identity(spark, emb, tmp_path):
    """Probing an index SAVED (partitioned by centroid_id) and reloaded
    equals probing the in-memory build — the parquet round-trip loses
    nothing, including the partition-column reordering load_table
    reads back."""
    from hds_functions_spark.operators.similarity import (
        ivf_index_build,
        ivf_probe_index,
    )
    from hds_functions_spark.sources.tables import load_table, save_table

    index = ivf_index_build(emb, n_centroids=8)
    td = {"idx": {"path": str(tmp_path / "idx"), "format": "parquet"}}
    save_table(index, "idx", td, partition_by="centroid_id")
    loaded = load_table("idx", td)
    # one directory per inverted list — the probe-prunable layout
    assert any(
        d.startswith("centroid_id=") for d in os.listdir(str(tmp_path / "idx"))
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ivf_probe_index(index, queries, k=3, n_centroids=8, n_probe=2)
    b = ivf_probe_index(loaded, queries, k=3, n_centroids=8, n_probe=2)
    assert _rows(a) == _rows(b)


def test_pq_codebook_roundtrip(spark, emb, tmp_path):
    """to_rows -> parquet -> from_rows reproduces the trained nested
    lists EXACTLY (doubles round-trip parquet bit-for-bit), so ADC over
    the loaded codebook equals ADC over the trained one."""
    from hds_functions_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_rows,
        pq_codebooks_to_rows,
        pq_encode,
        pq_train,
    )

    books = pq_train(emb, m=4, k=4, n_iter=1, dim=64, round_digits=4)
    rows_df = pq_codebooks_to_rows(spark, books)
    rows_df.write.mode("overwrite").parquet(str(tmp_path / "books"))
    loaded = pq_codebooks_from_rows(
        spark.read.parquet(str(tmp_path / "books"))
    )
    assert loaded == books

    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert _rows(pq_adc_topk(codes, queries, books, k=3)) == _rows(
        pq_adc_topk(codes, queries, loaded, k=3)
    )


def test_pq_codebook_frame_validation(spark):
    from hds_functions_spark.operators.similarity import (
        pq_codebooks_from_rows,
    )

    empty = spark.createDataFrame(
        [], "subspace int, cluster int, centroid array<double>"
    )
    with pytest.raises(ValueError, match="empty"):
        pq_codebooks_from_rows(empty)
    holey = spark.createDataFrame(
        [(0, 0, [1.0]), (1, 1, [2.0])],
        "subspace int, cluster int, centroid array<double>",
    )
    with pytest.raises(ValueError, match="holes"):
        pq_codebooks_from_rows(holey)


def test_pq_ingest_encode_matches_full_encode(spark, emb):
    """Encoding a later batch against corpus-trained codebooks gives the
    same codes those vectors would get from pq_encode over everything
    with the same books — encode is per-row, so incremental ingest is
    exact, not approximate."""
    from hds_functions_spark.operators.similarity import pq_encode, pq_train

    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    books = pq_train(corpus, m=4, k=4, n_iter=1, dim=64, round_digits=4)
    inc = pq_encode(batch, books)
    full = pq_encode(emb, books).join(
        batch.select("vec_id"), on="vec_id"
    )
    assert _rows(inc) == _rows(full)


def test_ivf_index_append_extends_index(spark, emb):
    """Appending a batch assigned against the FROZEN centroids must (a)
    give each batch vector the same centroid the full build would, and
    (b) make probes see batch vectors as neighbors — the absorbed-batch
    contract."""
    from hds_functions_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_probe_index,
    )

    # batch = % 10 == 9 so centroids 0..7 ALL stay corpus-side and the
    # full rebuild's quantizer is identical to the frozen one
    corpus = emb.filter(F.col("vec_id") % 10 != 9)
    batch = emb.filter(F.col("vec_id") % 10 == 9)
    index = ivf_index_build(corpus, n_centroids=8)
    appended = ivf_index_append(index, batch, n_centroids=8)
    # (a) same assignment as a full rebuild
    full = ivf_index_build(emb, n_centroids=8)
    got = {
        r["vec_id"]: r["centroid_id"] for r in appended.collect()
    }
    want = {
        r["vec_id"]: r["centroid_id"]
        for r in full.join(batch.select("vec_id"), on="vec_id").collect()
    }
    assert got == want
    # (b) a probe of index+appended equals a probe of the full build
    union = index.unionByName(appended)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ivf_probe_index(union, queries, k=3, n_centroids=8, n_probe=2)
    b = ivf_probe_index(full, queries, k=3, n_centroids=8, n_probe=2)
    assert _rows(a) == _rows(b)


def test_ivf_assignment_drift_contract(spark, emb):
    """Drift monitor invariants: per-centroid counts sum to the input
    sizes; a batch DRAWN FROM the corpus distribution (an exact copy)
    shows sim_delta == 0 on every list it touches."""
    from hds_functions_spark.operators.similarity import (
        ivf_assignment_drift,
        ivf_index_build,
    )

    corpus = emb.filter(F.col("vec_id") < 400)
    index = ivf_index_build(corpus, n_centroids=8)
    # batch = the corpus itself re-ingested (worst-case "no drift")
    drift = ivf_assignment_drift(index, corpus, n_centroids=8).collect()
    assert sum(r["n_corpus"] for r in drift) == 400
    assert sum(r["n_batch"] for r in drift) == 400
    for r in drift:
        assert r["n_corpus"] == r["n_batch"]
        assert r["sim_delta"] == 0.0
    # a single off-distribution vector lands in exactly one list and
    # carries its own mean (n_batch totals 1)
    one = emb.filter(F.col("vec_id") == 450)
    d1 = ivf_assignment_drift(index, one, n_centroids=8).collect()
    assert sum(r["n_batch"] for r in d1) == 1
    assert sum(r["n_corpus"] for r in d1) == 400  # corpus side unchanged


def test_embedding_contamination_flags_planted_dup(spark, emb):
    """A corpus vector duplicated into the eval set must be flagged with
    max_cosine == 1.0 (identical embedding -> same inverted list ->
    scored exactly), and every reported hit must clear the threshold."""
    from hds_functions_spark.operators.contamination import (
        embedding_contamination,
    )
    from hds_functions_spark.operators.similarity import ivf_index_build

    corpus = emb.filter(F.col("vec_id") < 400)
    # eval set: doc 9000 is byte-identical to corpus doc 123
    planted = emb.filter(F.col("vec_id") == 123).select(
        F.lit(9000).cast("long").alias("query_id"), "embedding"
    )
    index = ivf_index_build(corpus, n_centroids=8)
    out = embedding_contamination(
        index, planted, threshold=0.9, n_centroids=8, n_probe=2
    ).collect()
    flagged = {r["vec_id"]: r for r in out}
    assert 123 in flagged
    assert flagged[123]["max_cosine"] == pytest.approx(1.0)
    assert all(r["max_cosine"] >= 0.9 for r in out)


def test_ivf_probe_plan_shape(spark, emb, tmp_path):
    """Probing a LOADED index (the production shape): the probe side
    broadcasts into a plain index-file scan — NO corpus-side hash
    exchange anywhere except the final per-query top-k window. A saved
    index means corpus work = scan probed lists, never re-assign or
    reshuffle the corpus."""
    from hds_functions_spark.operators.similarity import (
        ivf_index_build,
        ivf_probe_index,
    )
    from hds_functions_spark.sources.tables import load_table, save_table

    td = {"idx": {"path": str(tmp_path / "idx"), "format": "parquet"}}
    save_table(
        ivf_index_build(emb, n_centroids=8), "idx", td,
        partition_by="centroid_id",
    )
    loaded = load_table("idx", td)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = (
        ivf_probe_index(loaded, queries, k=3, n_centroids=8, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # every hash exchange is QUERY-side (_qid: the n_probe ranking and
    # the final top-k windows over the benchmark-sized query set); the
    # index/corpus side reaches the probe join as an unshuffled scan
    ex_lines = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert ex_lines and all("_qid" in line for line in ex_lines), plan
    assert not any("_cid" in line for line in ex_lines), plan


def test_index_centroid_validation_fails_closed(spark, emb):
    """ADVICE r10 (medium): an index whose id space is non-zero-based
    yields an empty derived centroid table, which would make a probe
    generate zero candidates and a decontamination pass read as 'no
    contamination found'. The consumers must RAISE, not fail open."""
    from hds_functions_spark.operators.contamination import (
        embedding_contamination,
    )
    from hds_functions_spark.operators.similarity import (
        ivf_assignment_drift,
        ivf_index_append,
        ivf_index_build,
        ivf_probe_index,
    )

    index = ivf_index_build(emb.filter(F.col("vec_id") < 200), n_centroids=8)
    # shift the id space: no rows with vec_id < 8 remain
    bad = index.withColumn("vec_id", F.col("vec_id") + 10_000)
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="coarse centroids"):
        ivf_probe_index(bad, q, k=1, n_centroids=8, n_probe=2)
    with pytest.raises(ValueError, match="coarse centroids"):
        embedding_contamination(bad, q, n_centroids=8, n_probe=2)
    with pytest.raises(ValueError, match="coarse centroids"):
        ivf_index_append(bad, emb.limit(1), n_centroids=8)
    with pytest.raises(ValueError, match="coarse centroids"):
        ivf_assignment_drift(bad, emb.limit(1), n_centroids=8)
    # a SMALL shortfall is tolerated (a filtered corpus legitimately
    # loses a few low ids): drop one of the 8 centroid rows -> fine
    seven = index.filter(F.col("vec_id") != 3)
    assert ivf_probe_index(
        seven, q, k=1, n_centroids=8, n_probe=2
    ).count() >= 0
    # far below half -> refuse
    two_left = index.filter(~F.col("vec_id").isin(0, 1, 2, 4, 5, 6))
    with pytest.raises(ValueError, match="coarse centroids"):
        ivf_probe_index(two_left, q, k=1, n_centroids=8, n_probe=2)


def test_drift_quantizer_rounding_threaded(spark, emb):
    """ADVICE r10 (low): the batch-side centroid assignment inside
    ivf_assignment_drift must use the quantizer's rounding (threaded
    via quantizer_round_digits, default 6 = ivf_index_build's default)
    — with a matching value, a batch that IS the corpus shows zero
    drift regardless of the output round_digits."""
    from hds_functions_spark.operators.similarity import (
        ivf_assignment_drift,
        ivf_index_build,
    )

    corpus = emb.filter(F.col("vec_id") < 300)
    # build with a coarser quantizer rounding than the default
    index = ivf_index_build(corpus, n_centroids=8, round_digits=2)
    drift = ivf_assignment_drift(
        index, corpus, n_centroids=8, quantizer_round_digits=2
    ).collect()
    assert sum(r["n_batch"] for r in drift) == 300
    for r in drift:
        assert r["n_corpus"] == r["n_batch"]


def test_index_rebuild_keeps_earlier_index_readable(spark, emb):
    """Each registry index build saves to a directory of its own, so a
    second build never deletes the files an earlier loaded index reads."""
    from urllib.parse import urlparse

    import hds_functions_spark.registry_ext  # noqa: F401  (chain order)
    from hds_functions_spark.registry_ext8 import _ivf_persisted_index

    sf = os.path.dirname(urlparse(emb.inputFiles()[0]).path)
    first = _ivf_persisted_index(spark, sf)
    expected = _rows(first)
    second = _ivf_persisted_index(spark, sf)
    assert first.inputFiles()[0] != second.inputFiles()[0]
    assert _rows(first) == expected == _rows(second)
