"""Unit tests for the round-5 additions: Markov transitions, time-decayed
aggregates, OOV rate, and padding-waste profiling."""

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.operators.events import (
    time_decayed_agg,
    transition_counts,
)
from hds_functions_spark.operators.packing import padding_waste_profile
from hds_functions_spark.operators.profiling import oov_rate


def _events(spark):
    rows = [
        (1, 10, datetime(2024, 1, 1, 0, 0), "view", 1.0),
        (2, 10, datetime(2024, 1, 1, 0, 1), "click", 2.0),
        (3, 10, datetime(2024, 1, 1, 0, 2), "buy", 4.0),
        (4, 20, datetime(2024, 1, 1, 0, 0), "view", 1.0),
        (5, 20, datetime(2024, 1, 1, 0, 3), "view", 1.0),
        # same-ts pair for user 30: event_id breaks the tie
        (6, 30, datetime(2024, 1, 1, 0, 0), "click", 0.0),
        (7, 30, datetime(2024, 1, 1, 0, 0), "view", 0.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )


def test_transition_counts_basic(spark):
    out = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in transition_counts(_events(spark)).collect()
    }
    assert out[("view", "click")] == 1
    assert out[("click", "buy")] == 1
    assert out[("view", "view")] == 1
    assert out[("click", "view")] == 1  # user 30, ordered by event_id
    assert sum(out.values()) == 4  # last event of each user emits nothing


def test_transition_counts_no_cross_user_pairing(spark):
    # single-event users produce no transitions
    df = _events(spark).filter(F.col("event_id").isin(3, 4))
    assert transition_counts(df).count() == 0


def test_time_decay_anchor_and_halflife(spark):
    df = _events(spark).filter(F.col("user_id").isin(10, 20))
    out = {
        r["user_id"]: r
        for r in time_decayed_agg(
            df, half_life_days=1 / 1440  # half-life = 1 minute
        ).collect()
    }
    # global max ts = 00:03 (user 20). user 20: events at age 3min, 0min
    # -> weights 1/8 and 1
    assert out[20]["decayed_count"] == pytest.approx(1.125, abs=1e-6)
    # user 10: ages 3,2,1 min -> weights 1/8,1/4,1/2; values 1,2,4
    assert out[10]["decayed_count"] == pytest.approx(0.875, abs=1e-6)
    assert out[10]["decayed_value"] == pytest.approx(
        1 / 8 + 2 / 4 + 4 / 2, abs=1e-6
    )
    assert out[10]["n_events"] == 3


def test_time_decay_rejects_bad_halflife(spark):
    with pytest.raises(ValueError, match="half_life_days"):
        time_decayed_agg(_events(spark), half_life_days=0)


def _docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog"),
        (3, ""),  # empty doc must survive with NULL rate
        (4, "zzz qqq"),  # fully OOV
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_oov_rate(spark):
    docs = _docs(spark)
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("dog",), ("mat",)], "token string"
    )
    out = {r["doc_id"]: r for r in oov_rate(docs, vocab).collect()}
    assert out[1]["n_tokens"] == 6 and out[1]["n_oov"] == 2  # sat, on
    assert out[1]["oov_rate"] == pytest.approx(2 / 6, abs=1e-6)
    assert out[2]["n_oov"] == 0 and out[2]["oov_rate"] == 0.0
    assert out[3]["n_tokens"] == 0 and out[3]["oov_rate"] is None
    assert out[4]["oov_rate"] == 1.0


def test_oov_rate_lowercases_against_vocab(spark):
    docs = spark.createDataFrame([(1, "The THE the")], "doc_id long, text string")
    vocab = spark.createDataFrame([("the",)], "token string")
    (row,) = oov_rate(docs, vocab).collect()
    assert row["n_oov"] == 0


def test_padding_waste_profile(spark):
    lens = spark.createDataFrame(
        [(0,), (1,), (64,), (65,), (100,), (600,)], "n long"
    )
    out = {
        r["bucket_len"]: r
        for r in padding_waste_profile(
            lens, "n", bucket=64, max_len=512
        ).collect()
    }
    # len 0 and 1 and 64 -> bucket 64; 65 and 100 -> 128; 600 trunc 512
    assert out[64]["n_seqs"] == 3
    assert out[64]["total_tokens"] == 65
    assert out[64]["total_padding"] == 3 * 64 - 65
    assert out[128]["n_seqs"] == 2
    assert out[128]["total_padding"] == (128 - 65) + (128 - 100)
    assert out[512]["n_seqs"] == 1 and out[512]["total_padding"] == 0
    assert out[512]["pad_frac"] == 0.0
    assert out[128]["pad_frac"] == pytest.approx(
        ((128 - 65) + (128 - 100)) / (2 * 128), abs=1e-6
    )


def test_padding_waste_validates(spark):
    lens = spark.createDataFrame([(1,)], "n long")
    with pytest.raises(ValueError):
        padding_waste_profile(lens, "n", bucket=0)


def test_daily_count_anomalies(spark):
    from hds_functions_spark.operators.events import daily_count_anomalies

    # user 1: 29 quiet days (1 event) + one 20-event spike
    rows = []
    eid = 0
    for d in range(1, 30):
        rows.append((eid, 1, datetime(2024, 1, d, 12), "e", 0.0)); eid += 1
    for _ in range(20):
        rows.append((eid, 1, datetime(2024, 1, 30, 12), "e", 0.0)); eid += 1
    # user 2: constant volume -> stddev 0 -> no flags
    for d in range(1, 11):
        rows.append((eid, 2, datetime(2024, 1, d, 12), "e", 0.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    out = daily_count_anomalies(df, z_threshold=2.0).collect()
    assert len(out) == 1
    assert out[0]["user_id"] == 1 and out[0]["n_events"] == 20
    assert out[0]["z"] > 5


def test_degree_distribution(spark):
    from hds_functions_spark.operators.dedup import degree_distribution

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "id_a long, id_b long"
    )
    out = {r["degree"]: r["n_nodes"] for r in degree_distribution(pairs).collect()}
    # node 1 has degree 3; nodes 2,3 degree 2; node 4 degree 1
    assert out == {3: 1, 2: 2, 1: 1}


def test_cluster_near_pairs_and_semantic_dedup(spark):
    from hds_functions_spark.operators.clustering import (
        cluster_near_pairs,
        semantic_dedup,
    )

    # cluster A near (1,0): ids 1,2 are near-dups; id 3 orthogonal-ish
    # but same cluster; cluster B near (-1,0): ids 4,5 near-dups
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.04]),
        (3, [0.5, 0.86]),
        (4, [-1.0, 0.0]),
        (5, [-0.999, -0.04]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [-1.0, 0.0]]
    pairs = cluster_near_pairs(df, cents, threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and (4, 5) in got
    assert all(a < b for a, b in got)
    assert (1, 3) not in got  # dot = 0.5 < 0.95

    kept = {r["vec_id"] for r in semantic_dedup(df, cents, threshold=0.95).collect()}
    assert kept == {1, 3, 4}  # 2 and 5 lose to their lower-id near-dups


def test_semantic_dedup_no_pairs_keeps_all(spark):
    from hds_functions_spark.operators.clustering import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    kept = semantic_dedup(df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.99)
    assert kept.count() == 2


def test_pivot_counts(spark):
    from hds_functions_spark.operators.wrangling import pivot_counts

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "b"), (2, "zzz")],
        "k long, t string",
    )
    out = {r["k"]: r for r in pivot_counts(df, "k", "t", ["a", "b"],
                                           count_col_prefix="n_").collect()}
    assert out[1]["n_a"] == 2 and out[1]["n_b"] == 1
    assert out[2]["n_a"] == 0 and out[2]["n_b"] == 1  # absent -> 0, zzz ignored
    import pytest
    with pytest.raises(ValueError, match="values"):
        pivot_counts(df, "k", "t", [])


def test_scd2_collapse(spark):
    from hds_functions_spark.sources.tables import scd2_collapse

    rows = [
        # key 1: value changes at v3 -> two runs
        (1, "x", 1), (1, "x", 2), (1, "y", 3),
        # key 2: constant across all versions -> one current run
        (2, "x", 1), (2, "x", 2), (2, "x", 3),
        # key 3: absent at v2 with SAME value -> gap splits the run
        (3, "x", 1), (3, "x", 3),
        # key 4: only in v1 (deleted): run ends at its own max -> current
        (4, "x", 1),
    ]
    df = spark.createDataFrame(rows, "k long, v string, version int")
    out = scd2_collapse(df, ["k"], "version", ["v"])
    got = {(r["k"], r["valid_from"]): (r["v"], r["valid_to"])
           for r in out.collect()}
    assert got[(1, 1)] == ("x", 2) and got[(1, 3)] == ("y", None)
    assert got[(2, 1)] == ("x", None)
    assert got[(3, 1)] == ("x", 1) and got[(3, 3)] == ("x", None)
    assert got[(4, 1)] == ("x", None)
    assert len(got) == 6


def test_scd2_validates(spark):
    import pytest
    from hds_functions_spark.sources.tables import scd2_collapse

    df = spark.createDataFrame([(1, "x", 1)], "k long, v string, version int")
    with pytest.raises(ValueError, match="non-empty"):
        scd2_collapse(df, [], "version", ["v"])


def test_bpe_pair_counts(spark):
    from hds_functions_spark.operators.profiling import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "aab AAB x"), (2, "ab")], "doc_id long, text string"
    )
    out = {r["pair"]: r["count"] for r in
           bpe_pair_counts(df, top_n=10).collect()}
    # 'aab' twice (lowercased) -> aa x2, ab x2; plus 'ab' -> ab x3
    assert out["ab"] == 3 and out["aa"] == 2
    assert "x" not in out  # single-char tokens emit no pairs


def test_bpe_pair_counts_top_n_deterministic(spark):
    from hds_functions_spark.operators.profiling import bpe_pair_counts

    df = spark.createDataFrame([(1, "ba ab ba ab")], "doc_id long, text string")
    out = bpe_pair_counts(df, top_n=1).collect()
    assert len(out) == 1 and out[0]["pair"] == "ab"  # tie -> lexical order


def test_rfm_scores(spark):
    from hds_functions_spark.operators.events import rfm_scores

    rows = []
    eid = 0
    # 8 users with increasing frequency and value, decreasing recency
    for u in range(8):
        for i in range(u + 1):
            rows.append((eid, u, datetime(2024, 1, 1 + u, 12), "e", float(u)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    out = {r["user_id"]: r for r in rfm_scores(df, n_tiles=4).collect()}
    assert out[7]["recency_days"] == 0.0 and out[7]["frequency"] == 8
    assert out[7]["monetary"] == 7.0 * 8
    # most recent, most frequent, highest value user: top tile for f/m,
    # bottom (best) tile for recency
    assert out[7]["f_score"] == 3 and out[7]["m_score"] == 3
    assert out[7]["r_score"] == 0
    assert out[0]["f_score"] == 0 and out[0]["r_score"] == 3
    for r in out.values():
        for c in ("r_score", "f_score", "m_score"):
            assert 0 <= r[c] <= 3


def test_type_cooccurrence_pmi(spark):
    import math
    from hds_functions_spark.operators.events import type_cooccurrence_pmi

    # 4 sessions (users, single burst each): ab, ab, a, c
    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0), "a", 0.0),
        (2, 1, datetime(2024, 1, 1, 0, 1), "b", 0.0),
        (3, 2, datetime(2024, 1, 1, 0, 0), "a", 0.0),
        (4, 2, datetime(2024, 1, 1, 0, 1), "b", 0.0),
        (5, 3, datetime(2024, 1, 1, 0, 0), "a", 0.0),
        (6, 4, datetime(2024, 1, 1, 0, 0), "c", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    out = type_cooccurrence_pmi(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"], r["n_ab"]) == ("a", "b", 2)
    # pmi = ln(n_ab * N / (n_a * n_b)) = ln(2*4 / (3*2))
    assert r["pmi"] == pytest.approx(round(math.log(8 / 6), 6), abs=1e-9)


def test_type_cooccurrence_sessions_split(spark):
    from hds_functions_spark.operators.events import type_cooccurrence_pmi

    # same user, two bursts 2h apart: a+b never share a session
    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0), "a", 0.0),
        (2, 1, datetime(2024, 1, 1, 2, 0), "b", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    assert type_cooccurrence_pmi(df, gap_seconds=1800).count() == 0


def test_oov_rate_shuffle_path_matches_broadcast_path(spark):
    from hds_functions_spark.operators.profiling import oov_rate

    docs = _docs(spark)
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("dog",), ("mat",)], "token string"
    )
    a = sorted(map(tuple, oov_rate(docs, vocab).collect()))
    b = sorted(map(tuple, oov_rate(docs, vocab, broadcast_vocab=False).collect()))
    assert a == b


def test_l_diversity_violations(spark):
    from hds_functions_spark.operators.privacy import l_diversity_violations

    rows = [
        # group (a, 1): 3 rows, all sensitive 'x' -> homogeneous
        ("a", 1, "x"), ("a", 1, "x"), ("a", 1, "x"),
        # group (b, 1): diverse
        ("b", 1, "x"), ("b", 1, "y"), ("b", 1, "z"),
    ]
    df = spark.createDataFrame(rows, "seg string, nat int, s string")
    out = l_diversity_violations(df, ["seg", "nat"], "s", l=2).collect()
    assert len(out) == 1
    assert out[0]["seg"] == "a" and out[0]["n_distinct_sensitive"] == 1
    assert out[0]["n_rows"] == 3  # k-anonymous yet disclosive
    with pytest.raises(ValueError, match="l must be"):
        l_diversity_violations(df, ["seg"], "s", l=1)


def test_unpivot_columns_roundtrip(spark):
    from hds_functions_spark.operators.wrangling import unpivot_columns

    df = spark.createDataFrame(
        [(1, 10.0, 2.5), (2, 20.0, 5.0)], "k long, a double, b double"
    )
    out = unpivot_columns(df, ["k"], ["a", "b"]).collect()
    assert len(out) == 4
    got = {(r["k"], r["metric"]): r["value"] for r in out}
    assert got[(1, "a")] == 10.0 and got[(2, "b")] == 5.0
    with pytest.raises(ValueError):
        unpivot_columns(df, ["k"], [])


def test_correlation_matrix(spark):
    from hds_functions_spark.operators.profiling import correlation_matrix

    # y = 2x exactly, z anti-correlated with x
    rows = [(float(i), 2.0 * i, float(10 - i)) for i in range(10)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = {(r["col_a"], r["col_b"]): r["corr"]
           for r in correlation_matrix(df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0
    assert len(out) == 3
    with pytest.raises(ValueError):
        correlation_matrix(df, ["x"])


def test_zipf_fit_recovers_planted_slope(spark):
    from hds_functions_spark.operators.profiling import zipf_fit

    # counts = C * rank^-1.5 exactly -> slope -1.5, zero residual
    rows = [(i, 1000000.0 * (i + 1) ** -1.5) for i in range(100)]
    vocab = spark.createDataFrame(rows, "vocab_id long, count double")
    (r,) = zipf_fit(vocab).collect()
    assert r["zipf_slope"] == pytest.approx(-1.5, abs=1e-6)
    assert r["n_vocab"] == 100


def test_pipeline_semantic_prep_invariants(spark):
    import builtins

    import __spark_entry__ as e
    from hds_functions_spark.registry_ext2 import _kmeans_centroids
    from hds_functions_spark.operators.clustering import kmeans_assign

    sf = "/root/testdata/sf0.001"
    out = e.queries()["pipeline_semantic_prep"](spark, sf).collect()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sizes = {
        r["cluster"]: r["count"]
        for r in kmeans_assign(emb, _kmeans_centroids(spark, sf))
        .groupBy("cluster").count().collect()
    }
    n_docs = builtins.sum(r["n_docs"] for r in out)
    assert 0 < n_docs <= emb.count()
    for r in out:
        assert r["n_docs"] <= sizes[r["cluster"]]  # gate only removes
        assert 0.5 <= r["mean_quality"] <= 1.0
        assert r["total_tokens"] > 0


def test_dedup_events_in_window(spark):
    from hds_functions_spark.operators.events import dedup_events_in_window

    rows = [
        (1, 10, datetime(2024, 1, 1, 0, 0, 0), "a", 0.0),
        (2, 10, datetime(2024, 1, 1, 0, 2, 0), "a", 0.0),  # same 5-min bucket
        (3, 10, datetime(2024, 1, 1, 0, 6, 0), "a", 0.0),  # next bucket
        (4, 10, datetime(2024, 1, 1, 0, 0, 30), "b", 0.0),  # other type kept
        (5, 20, datetime(2024, 1, 1, 0, 0, 0), "a", 0.0),  # other user kept
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    kept = {r["event_id"] for r in dedup_events_in_window(
        df, ["user_id", "event_type"], window_seconds=300).collect()}
    assert kept == {1, 3, 4, 5}


def test_dedup_events_in_window_validates_window(spark):
    import pytest

    from hds_functions_spark.operators.events import dedup_events_in_window

    df = spark.createDataFrame(
        [(1, 10, datetime(2024, 1, 1), "a", 0.0)],
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    )
    for bad in (0, -300, True, 1.5):
        with pytest.raises(ValueError, match="window_seconds"):
            dedup_events_in_window(df, ["user_id"], window_seconds=bad)


def test_rfm_null_metric_scores_null(spark):
    from hds_functions_spark.operators.events import rfm_scores

    rows = [
        (10, datetime(2024, 1, 1), None),
        (10, datetime(2024, 1, 2), None),  # all-NULL values: NULL monetary
        (20, datetime(2024, 1, 3), 5.0),
        (20, datetime(2024, 1, 4), 7.0),
        (30, datetime(2024, 1, 5), 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {r["user_id"]: r for r in rfm_scores(df, n_tiles=2).collect()}
    assert out[10]["monetary"] is None and out[10]["m_score"] is None
    assert out[20]["m_score"] is not None
    # the other dimensions still score for the all-NULL-value key
    assert out[10]["r_score"] is not None and out[10]["f_score"] is not None


def test_top_types_per_window(spark):
    from hds_functions_spark.operators.events import top_types_per_window

    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 10), "a", 0.0),
        (2, 1, datetime(2024, 1, 1, 0, 20), "a", 0.0),
        (3, 1, datetime(2024, 1, 1, 0, 30), "b", 0.0),
        (4, 1, datetime(2024, 1, 1, 1, 10), "b", 0.0),
        (5, 1, datetime(2024, 1, 1, 1, 20), "c", 0.0),  # tie -> 'b' wins
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    out = {r["window_start"].hour: (r["event_type"], r["n_events"])
           for r in top_types_per_window(df).collect()}
    assert out[0] == ("a", 2)
    assert out[1] == ("b", 1)  # tie with c, type ascending wins


def test_temperature_weights(spark):
    from hds_functions_spark.operators.sampling import temperature_weights

    rows = [("big", ) for _ in range(80)] + [("small", ) for _ in range(20)]
    df = spark.createDataFrame(rows, "source string")
    out = {r["source"]: r for r in temperature_weights(df, alpha=0.5).collect()}
    import math
    z = math.sqrt(80) + math.sqrt(20)
    assert out["big"]["weight"] == pytest.approx(round(math.sqrt(80) / z, 6), abs=1e-9)
    # flattening: small source over-sampled per doc, big under-sampled
    assert out["small"]["per_doc_rate"] > 1 > out["big"]["per_doc_rate"]
    # alpha=0 -> uniform across sources
    u = {r["source"]: r["weight"] for r in temperature_weights(df, alpha=0.0).collect()}
    assert u["big"] == u["small"] == 0.5
    with pytest.raises(ValueError):
        temperature_weights(df, alpha=-1)


def test_active_user_stats(spark):
    from hds_functions_spark.operators.events import active_user_stats

    rows = [
        (1, 1, datetime(2024, 1, 1, 10), "e", 0.0),
        (2, 2, datetime(2024, 1, 1, 11), "e", 0.0),
        (3, 1, datetime(2024, 1, 2, 10), "e", 0.0),
        (4, 3, datetime(2024, 2, 1, 10), "e", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    out = {str(r["day"]): r for r in active_user_stats(df).collect()}
    assert out["2024-01-01"]["dau"] == 2 and out["2024-01-01"]["mau"] == 2
    assert out["2024-01-01"]["stickiness"] == 1.0
    assert out["2024-01-02"]["dau"] == 1 and out["2024-01-02"]["mau"] == 2
    assert out["2024-01-02"]["stickiness"] == 0.5
    assert out["2024-02-01"]["mau"] == 1


def test_type_token_ratio(spark):
    from hds_functions_spark.functions.text import add_type_token_ratio

    df = spark.createDataFrame(
        [(1, "a b a B"), (2, "x y z"), (3, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["type_token_ratio"]
           for r in add_type_token_ratio(df).collect()}
    assert out[1] == 0.5   # {a, b} over 4 tokens, case-folded
    assert out[2] == 1.0
    assert out[3] is None


class TestAttribution:
    def _events(self, spark):
        rows = [
            # user 10: two touches then a purchase within lookback
            (1, 10, datetime(2024, 1, 1, 10, 0), "click", 0.0),
            (2, 10, datetime(2024, 1, 1, 11, 0), "view", 0.0),
            (3, 10, datetime(2024, 1, 1, 12, 0), "purchase", 9.0),
            # user 20: touch OUTSIDE the 1h lookback -> organic conversion
            (4, 20, datetime(2024, 1, 1, 8, 0), "click", 0.0),
            (5, 20, datetime(2024, 1, 1, 12, 0), "purchase", 5.0),
            # user 30: touch AFTER the purchase never credits
            (6, 30, datetime(2024, 1, 1, 12, 0), "purchase", 1.0),
            (7, 30, datetime(2024, 1, 1, 13, 0), "click", 0.0),
        ]
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
                  "event_type string, value double"
        )

    def test_linear_splits_credit(self, spark):
        from hds_functions_spark.operators.events import attribute_conversions

        out = {
            r["event_type"]: (r["n_conversions"], r["total_credit"])
            for r in attribute_conversions(
                self._events(spark), lookback_seconds=3 * 3600,
                model="linear",
            ).collect()
        }
        # only user 10's purchase credits: 0.5 click + 0.5 view
        assert out == {"click": (1, 0.5), "view": (1, 0.5)}

    def test_last_touch_takes_all(self, spark):
        from hds_functions_spark.operators.events import attribute_conversions

        out = {
            r["event_type"]: r["total_credit"]
            for r in attribute_conversions(
                self._events(spark), lookback_seconds=3 * 3600,
                model="last_touch",
            ).collect()
        }
        assert out == {"view": 1.0}  # the latest pre-purchase touch

    def test_first_touch(self, spark):
        from hds_functions_spark.operators.events import attribute_conversions

        out = {
            r["event_type"]: r["total_credit"]
            for r in attribute_conversions(
                self._events(spark), lookback_seconds=3 * 3600,
                model="first_touch",
            ).collect()
        }
        assert out == {"click": 1.0}

    def test_lookback_and_causality(self, spark):
        from hds_functions_spark.operators.events import attribute_conversions

        # lookback long enough to reach user 20's early click
        out = attribute_conversions(
            self._events(spark), lookback_seconds=6 * 3600, model="linear"
        )
        total = {r["event_type"]: r["n_conversions"] for r in out.collect()}
        assert total["click"] == 2  # users 10 and 20 both credit clicks
        # user 30's post-purchase click still never credits: credit mass
        # equals the number of credited conversions
        mass = sum(r["total_credit"] for r in out.collect())
        assert mass == 2.0

    def test_validation(self, spark):
        import pytest

        from hds_functions_spark.operators.events import attribute_conversions

        with pytest.raises(ValueError, match="model"):
            attribute_conversions(self._events(spark), model="u_shaped")
        with pytest.raises(ValueError, match="lookback"):
            attribute_conversions(self._events(spark), lookback_seconds=0)
