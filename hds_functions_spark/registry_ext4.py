"""Extension-layer query registry, part 4 (round-7 additions).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical values
by construction. Round-7 focus: depth on existing families (VERDICT r6
item 9) — each query here also sits in the round-7 ``DRIVER_PRIORITY``
window so it lands a driver-green row the round it ships.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import ORACLES, QUERIES, _register, _t  # noqa: F401

# Direct `import hds_functions_spark.registry_extN` must see every
# upstream ORACLES/QUERIES entry this module reads at import time:
# pull the chain head, which registers all earlier ext modules before
# this body continues. Via the normal chain import this resolves to
# the already-in-progress module in sys.modules (PEP 328 circular
# import), a no-op.
from . import registry_ext  # noqa: E402,F401
from .registry_ext3 import (
    _BM25_B,
    _BM25_K1,
    _BM25_MAX_DF,
    _BM25_NGRAM,
    _BM25_TOPK,
    _bm25_inputs,
    _duck_bm25_scored,
)

# --- BM25 with MaxScore dynamic pruning ----------------------------------


@_register(
    "retrieval_bm25_pruned",
    f"""
WITH {_duck_bm25_scored()}
SELECT query_id, doc_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS INTEGER)
           AS rank
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, doc_id) <= {_BM25_TOPK}
""",
)
def retrieval_bm25_pruned(spark, sf_dir):
    """MaxScore dynamic pruning (Turtle & Flood; the WAND family) over
    the same corpus/queries/constants as retrieval_bm25 — and the ORACLE
    IS retrieval_bm25's full-scoring SQL: the driver hash-verifies that
    pruning is lossless, not approximately-close. Frequent (low-idf)
    query terms never join the corpus postings; a seed pass over the
    rarest terms sets the per-query threshold, the ub running total
    marks non-essential terms, and only candidate docs are scored (over
    all their terms, via the doc_id-side join that reuses the postings'
    existing hash partitioning). See operators/retrieval.py:
    bm25_topk_pruned for the exactness argument."""
    from .operators.retrieval import bm25_topk_pruned

    docs, queries = _bm25_inputs(spark, sf_dir)
    return bm25_topk_pruned(
        docs, queries, k=_BM25_TOPK,
        k1=_BM25_K1, b=_BM25_B, max_df_frac=_BM25_MAX_DF,
        term_ngram=_BM25_NGRAM,
    )


# --- triangle counting on the similarity graph ---------------------------

_TRI_MIN_JACCARD = 0.5


def _duck_triangles_sql() -> str:
    from .registry_ext import _duck_minhash_sql

    return f"""
WITH mh AS (SELECT * FROM ({_duck_minhash_sql()})),
e AS (SELECT id_a AS a, id_b AS b FROM mh
      WHERE est_jaccard >= {_TRI_MIN_JACCARD}),
deg AS (SELECT n, count(*) AS deg
        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
        GROUP BY 1),
o AS (SELECT CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS u,
             CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS v
      FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
w AS (SELECT e1.u AS u, e1.v AS x, e2.v AS y
      FROM o e1 JOIN o e2 ON e1.u = e2.u WHERE e1.v < e2.v),
t AS (SELECT w.u, w.x, w.y
      FROM w JOIN (SELECT least(u, v) AS x, greatest(u, v) AS y FROM o) c
      USING (x, y)),
corners AS (SELECT unnest([u, x, y]) AS node FROM t)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY 1
"""


def _sim_edges(spark, sf_dir):
    """The thresholded MinHash similarity-edge table of the corpus: LSH
    candidate pairs ``(id_a, id_b, est_jaccard)`` with est_jaccard >= 0.5."""
    from .operators.dedup import minhash_pairs
    from .registry_ext import _MH_BANDS, _MH_NUM_HASHES, _MH_SHINGLE

    docs = _t(spark, sf_dir, "documents").filter(
        F.length("text") >= _MH_SHINGLE
    )
    return minhash_pairs(
        docs,
        num_hashes=_MH_NUM_HASHES,
        shingle_size=_MH_SHINGLE,
        bands=_MH_BANDS,
    ).filter(F.col("est_jaccard") >= _TRI_MIN_JACCARD)


@_register("graph_triangles", None)  # oracle attached below
def graph_triangles(spark, sf_dir):
    """Per-node triangle counts over the MinHash similarity graph
    (edges = LSH candidate pairs with est_jaccard >= 0.5 — the same
    edge set the connected-components dedup consumes): the local
    clustering signal that separates core near-duplicates (deep in a
    near-clique, many triangles) from bridge documents chaining two
    unrelated clusters together (few). Degree-ordered compact-forward
    scheme — sum(outdeg^2) <= m^1.5 wedge fanout, each triangle found
    once at its smallest apex; see operators/graph.py:triangle_count."""
    from .caching import tracked_persist
    from .operators.graph import triangle_count

    # triangle_count reads its edge list three times before it persists
    edges = tracked_persist(_sim_edges(spark, sf_dir))
    return triangle_count(edges, "id_a", "id_b")


ORACLES["graph_triangles"] = _duck_triangles_sql()


# --- theta-sketch set algebra over KMV sketches --------------------------

_THETA_K = 256
_THETA_DOMAIN_INT = 1 << 60


def _duck_theta_ops_sql() -> str:
    k = _THETA_K
    return f"""
WITH dv AS (
  SELECT DISTINCT l_returnflag AS s, l_orderkey AS v
  FROM lineitem WHERE l_orderkey IS NOT NULL),
h AS (
  SELECT s, v,
         ('0x' || substr(md5(v::VARCHAR), 1, 15))::BIGINT
             / {_THETA_DOMAIN_INT}.0 AS u
  FROM dv),
sk AS (
  SELECT s, u FROM h QUALIFY row_number() OVER (
    PARTITION BY s ORDER BY u) <= {k}),
meta AS (
  SELECT s, CASE WHEN count(*) < {k} THEN 1.0 ELSE max(u) END AS theta
  FROM sk GROUP BY 1),
pp AS (
  SELECT a.s AS set_a, b.s AS set_b, least(a.theta, b.theta) AS theta
  FROM meta a JOIN meta b ON a.s < b.s),
rr AS (
  SELECT set_a, set_b, theta, u, 1 AS ia, 0 AS ib
  FROM sk JOIN pp ON sk.s = pp.set_a WHERE u < theta
  UNION ALL
  SELECT set_a, set_b, theta, u, 0, 1
  FROM sk JOIN pp ON sk.s = pp.set_b WHERE u < theta),
m AS (
  SELECT set_a, set_b, theta, u, max(ia) AS a, max(ib) AS b
  FROM rr GROUP BY 1, 2, 3, 4),
agg AS (
  SELECT set_a, set_b, theta,
         CAST(count(*) AS BIGINT) AS union_n,
         CAST(sum(a * b) AS BIGINT) AS intersect_n
  FROM m GROUP BY 1, 2, 3),
ex AS (
  SELECT a.s AS set_a, b.s AS set_b,
         CAST(count(*) AS BIGINT) AS exact_intersect
  FROM dv a JOIN dv b ON a.v = b.v AND a.s < b.s GROUP BY 1, 2),
sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM dv GROUP BY 1)
SELECT agg.set_a, agg.set_b, round(agg.theta, 9) AS theta,
       union_n, intersect_n,
       round(union_n / agg.theta, 4) AS union_est,
       round(intersect_n / agg.theta, 4) AS intersect_est,
       round(intersect_n::DOUBLE / union_n, 4) AS jaccard_est,
       sa.n + sb.n - coalesce(exact_intersect, 0) AS exact_union,
       coalesce(exact_intersect, 0) AS exact_intersect,
       round(abs(round(union_n / agg.theta, 4)
                 - (sa.n + sb.n - coalesce(exact_intersect, 0)))
             / (sa.n + sb.n - coalesce(exact_intersect, 0)), 4)
           AS union_rel_err
FROM agg
LEFT JOIN ex ON agg.set_a = ex.set_a AND agg.set_b = ex.set_b
JOIN sizes sa ON agg.set_a = sa.s
JOIN sizes sb ON agg.set_b = sb.s
"""


@_register("sketch_theta_ops", None)  # oracle attached below
def sketch_theta_ops(spark, sf_dir):
    """Theta-sketch set algebra: estimated distinct-order union /
    intersection / Jaccard for every pair of return flags, each set
    sketched ONCE (k=256 minimum hashes) — the pairwise-overlap
    profiler that at 100 TB replaces |sets|^2 exact distinct joins with
    arithmetic over k-row sketches. Ships WITH the exact audit columns
    (the kmv_distinct convention): the estimator runs under a measured
    accuracy gate, not on trust. See
    functions/sketches.py:kmv_pairwise_ops."""
    from .functions.sketches import kmv_pairwise_ops

    li = _t(spark, sf_dir, "lineitem")
    ops = kmv_pairwise_ops(li, "l_orderkey", "l_returnflag", k=_THETA_K)
    dv = (
        li.filter(F.col("l_orderkey").isNotNull())
        .select(F.col("l_returnflag").alias("s"), F.col("l_orderkey").alias("v"))
        .distinct()
    )
    inter = (
        dv.alias("a")
        .join(
            dv.alias("b"),
            (F.col("a.v") == F.col("b.v")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(
            F.col("a.s").alias("set_a"), F.col("b.s").alias("set_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    sizes = dv.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    return (
        ops.join(inter, on=["set_a", "set_b"], how="left")
        .join(
            F.broadcast(sizes.select(F.col("s").alias("set_a"),
                                     F.col("n").alias("_na"))),
            on="set_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("s").alias("set_b"),
                                     F.col("n").alias("_nb"))),
            on="set_b",
        )
        .select(
            "set_a", "set_b", "theta", "union_n", "intersect_n",
            "union_est", "intersect_est", "jaccard_est",
            (
                F.col("_na") + F.col("_nb")
                - F.coalesce(F.col("exact_intersect"), F.lit(0))
            ).alias("exact_union"),
            F.coalesce(F.col("exact_intersect"), F.lit(0)).alias(
                "exact_intersect"
            ),
            F.round(
                F.abs(
                    F.col("union_est")
                    - (
                        F.col("_na") + F.col("_nb")
                        - F.coalesce(F.col("exact_intersect"), F.lit(0))
                    )
                )
                / (
                    F.col("_na") + F.col("_nb")
                    - F.coalesce(F.col("exact_intersect"), F.lit(0))
                ),
                4,
            ).alias("union_rel_err"),
        )
    )


ORACLES["sketch_theta_ops"] = _duck_theta_ops_sql()


# --- mergeable histogram quantiles ---------------------------------------

_HQ_BINS = 128
_HQ_PROBS = [0.25, 0.5, 0.75, 0.9, 0.99]


def _duck_histogram_quantiles_sql() -> str:
    probs = ", ".join(repr(p) for p in _HQ_PROBS)
    nb = _HQ_BINS
    return f"""
WITH v AS (SELECT o_orderstatus AS g, o_totalprice::DOUBLE AS x
           FROM orders WHERE o_totalprice IS NOT NULL),
r AS (SELECT min(x) AS lo, (max(x) - min(x)) / {nb} AS w FROM v),
b AS (SELECT g, lo, w,
             CASE WHEN w = 0 THEN 0
                  ELSE CAST(least(floor((x - lo) / w), {nb - 1}) AS INT)
             END AS bin
      FROM v CROSS JOIN r),
c AS (SELECT g, lo, w, bin, count(*) AS cnt FROM b GROUP BY 1, 2, 3, 4),
cm AS (SELECT *, sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
              sum(cnt) OVER (PARTITION BY g) AS n
       FROM c),
p AS (SELECT CAST(unnest([{probs}]) AS DOUBLE) AS prob),
e AS (SELECT g, prob, lo, w, bin, cnt, cum, prob * n AS target
      FROM cm CROSS JOIN p),
h AS (SELECT * FROM e WHERE cum >= target AND (cum - cnt) < target),
ex AS (SELECT g, CAST(unnest([{probs}]) AS DOUBLE) AS prob,
              unnest([{", ".join(f"quantile_cont(x, {p!r})" for p in _HQ_PROBS)}])
                  AS exact
       FROM v GROUP BY g)
SELECT h.g AS o_orderstatus, h.prob,
       round(CASE WHEN w = 0 THEN lo
             ELSE lo + bin * w + w * (target - (cum - cnt)) / cnt
             END, 6) AS estimate,
       round(ex.exact, 6) AS exact,
       round(abs(round(CASE WHEN w = 0 THEN lo
                       ELSE lo + bin * w + w * (target - (cum - cnt)) / cnt
                       END, 6) - round(ex.exact, 6)), 6) AS abs_err
FROM h JOIN ex ON h.g = ex.g AND h.prob = ex.prob
"""


@_register("sketch_histogram_quantiles", None)  # oracle attached below
def sketch_histogram_quantiles(spark, sf_dir):
    """Order-price quantiles per order status from a 128-bin MERGEABLE
    histogram, audited against the exact percentile in the same row —
    the distributed-quantile state that merges by addition (across
    partitions, batches, days; the rollup-state contract), where the
    exact percentile holds every value in one buffer. Estimate error is
    bounded by one bin width; measured abs_err lands well inside it.
    See functions/sketches.py:histogram_quantiles."""
    from .functions.sketches import histogram_quantiles

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    est = histogram_quantiles(
        orders, "o_totalprice", _HQ_PROBS, ["o_orderstatus"],
        n_bins=_HQ_BINS,
    )
    exact = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .groupBy("o_orderstatus")
        .agg(
            F.percentile(
                F.col("o_totalprice").cast("double"),
                F.array(*[F.lit(p) for p in _HQ_PROBS]),
            ).alias("_ex")
        )
        .select(
            "o_orderstatus",
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(p) for p in _HQ_PROBS]).alias("prob"),
                    F.col("_ex").alias("exact"),
                )
            ).alias("_z"),
        )
        .select(
            "o_orderstatus",
            F.col("_z.prob").alias("prob"),
            F.round(F.col("_z.exact"), 6).alias("exact"),
        )
    )
    return (
        est.join(exact, on=["o_orderstatus", "prob"])
        .select(
            "o_orderstatus",
            "prob",
            "estimate",
            "exact",
            F.round(F.abs(F.col("estimate") - F.col("exact")), 6).alias(
                "abs_err"
            ),
        )
    )


ORACLES["sketch_histogram_quantiles"] = _duck_histogram_quantiles_sql()


# --- robust winnowing (MOSS) substring-copy detection --------------------

_WN_GRAM = 8
_WN_WINDOW = 12
_WN_MIN_SHARED = 4
_WN_MAX_DF = 50


def _duck_winnow_fp_cte() -> str:
    """CTE chain ending in ``kept(doc_id, fingerprint)`` — the df-capped
    winnowing fingerprint table both winnowing oracles build on."""
    from .operators.dedup import WINNOW_BASE, WINNOW_PRIME

    k, w = _WN_GRAM, _WN_WINDOW
    # unrolled Karp-Rabin over the char-code list (identical fold to the
    # Spark operator; ascii() = Unicode code point in both engines)
    ghash = "CAST(cs[i] AS BIGINT)"
    for j in range(1, k):
        ghash = f"(({ghash}) * {WINNOW_BASE} + cs[i + {j}]) % {WINNOW_PRIME}"
    return f"""
t AS (SELECT doc_id, lower(text) AS s FROM documents
      WHERE length(text) >= {k + w - 1}),
cl AS (SELECT doc_id, s,
              list_transform(generate_series(1, length(s)),
                             i -> ascii(substr(s, i, 1))) AS cs
       FROM t),
h AS (SELECT doc_id,
             list_transform(generate_series(1, length(s) - {k} + 1),
                            i -> {ghash}) AS hs
      FROM cl),
sel AS (SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(hs) - {w} + 1),
                 j -> list_min(hs[j:j + {w} - 1]))) AS fps
        FROM h),
fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM sel),
dfreq AS (SELECT fingerprint, count(*) AS df FROM fp GROUP BY 1),
kept AS (SELECT fp.doc_id, fp.fingerprint
         FROM fp JOIN dfreq USING (fingerprint) WHERE df <= {_WN_MAX_DF})"""


def _duck_winnowing_sql() -> str:
    return f"""
WITH {_duck_winnow_fp_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {_WN_MIN_SHARED}
"""


def _winnow_fps(spark, sf_dir):
    """The winnowing fingerprint table ``(doc_id, fingerprint)`` of the
    corpus."""
    from .operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        gram_size=_WN_GRAM,
        window=_WN_WINDOW,
    )


@_register("dedup_winnowing", None)  # oracle attached below
def dedup_winnowing(spark, sf_dir):
    """Robust winnowing (the MOSS copy-detector): document pairs
    sharing >= 4 window-minimum 8-gram fingerprints — the VERBATIM-copy
    signal that complements MinHash's whole-document set overlap (any
    shared substring of 15+ chars is guaranteed to leave an identical
    fingerprint in both docs, at ~2/(window+1) sampling of the grams).
    Fingerprint extraction is pure per-doc array HOFs (no shuffle);
    pairing is the fingerprint-keyed equi self-join with the hot-
    fingerprint df cap. See operators/dedup.py:winnowing_fingerprints."""
    from .operators.dedup import winnowing_overlap_pairs

    return winnowing_overlap_pairs(
        _winnow_fps(spark, sf_dir),
        min_shared=_WN_MIN_SHARED,
        max_doc_freq=_WN_MAX_DF,
    )


ORACLES["dedup_winnowing"] = _duck_winnowing_sql()


# --- t-closeness privacy audit -------------------------------------------

_TC_BAND = 50000.0
_TC_T = 0.005


def _duck_t_closeness_sql() -> str:
    return f"""
WITH base AS (
  SELECT o_orderstatus, year(o_orderdate) AS yr,
         CAST(floor(o_totalprice / {_TC_BAND}) AS BIGINT) AS s
  FROM orders WHERE o_totalprice IS NOT NULL),
gl AS (SELECT s, count(*) AS gn FROM base GROUP BY 1),
gq AS (
  SELECT s,
         sum(gn) OVER (ORDER BY s) / (sum(gn) OVER ()) AS cumq,
         count(*) OVER () AS m
  FROM gl),
groups AS (
  SELECT o_orderstatus, yr, CAST(count(*) AS BIGINT) AS n_rows
  FROM base GROUP BY 1, 2),
grid AS (SELECT * FROM groups CROSS JOIN gq),
cv AS (
  SELECT o_orderstatus, yr, s, count(*) AS cn
  FROM base GROUP BY 1, 2, 3),
j AS (
  SELECT grid.*, coalesce(cn, 0) AS cn
  FROM grid LEFT JOIN cv USING (o_orderstatus, yr, s)),
c AS (
  SELECT *, sum(cn) OVER (PARTITION BY o_orderstatus, yr
                          ORDER BY s) / n_rows::DOUBLE AS cump
  FROM j),
emd AS (
  SELECT o_orderstatus, yr, n_rows,
         round(sum(abs(cump - cumq)) / (max(m) - 1), 6) AS t_distance
  FROM c GROUP BY 1, 2, 3)
SELECT * FROM emd WHERE t_distance > {_TC_T}
"""


@_register("privacy_t_closeness", None)  # oracle attached below
def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit over (order status, order year) groups with the
    price band (50k-wide, ordered) as the sensitive attribute — the
    skewness-attack check that completes the k-anonymity /
    l-diversity / t-closeness release-audit trio: a group can be large
    AND diverse yet still leak when its value DISTRIBUTION deviates
    from the table's. Ordered EMD via one cumulative window per group
    over a groups x values grid — every stage group-cardinality-
    bounded. See operators/privacy.py:t_closeness_violations."""
    from .operators.privacy import t_closeness_violations

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year(F.col("o_orderdate")).alias("yr"),
        F.floor(F.col("o_totalprice") / _TC_BAND)
        .cast("long")
        .alias("s"),
    )
    return t_closeness_violations(
        orders, ["o_orderstatus", "yr"], "s", t=_TC_T
    )


ORACLES["privacy_t_closeness"] = _duck_t_closeness_sql()


# --- TF-IDF all-pairs document similarity --------------------------------

_APSS_MAX_DF = 0.05
_APSS_K = 5


def _duck_tfidf_topk_sql() -> str:
    from .registry_ext3 import _DUCK_TOK, _duck_bigrams

    return f"""
WITH d AS (SELECT doc_id, {_DUCK_TOK} AS t FROM documents),
bg AS (SELECT doc_id, {_duck_bigrams('t')} AS g FROM d),
toks AS (SELECT doc_id, unnest(g) AS term FROM bg),
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
nn AS (SELECT count(*) AS n FROM documents),
dft AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
kept AS (
  SELECT term, ln(1 + n::DOUBLE / df) AS idf
  FROM dft CROSS JOIN nn WHERE df <= n * {_APSS_MAX_DF}),
w AS (SELECT doc_id, term, tf * idf AS w FROM post JOIN kept USING (term)),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b USING (term) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
cos AS (
  SELECT id_a, id_b, round(dot / (na.norm * nb.norm), 6) AS cosine
  FROM dots JOIN norms na ON id_a = na.doc_id
  JOIN norms nb ON id_b = nb.doc_id),
bidir AS (
  SELECT id_a AS doc_id, id_b AS neighbor_id, cosine FROM cos
  UNION ALL
  SELECT id_b, id_a, cosine FROM cos)
SELECT doc_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY cosine DESC, neighbor_id)
            AS INTEGER) AS rank
FROM bidir
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY cosine DESC, neighbor_id) <= {_APSS_K}
"""


@_register("similarity_tfidf_topk", None)  # oracle attached below
def similarity_tfidf_topk(spark, sf_dir):
    """Top-5 nearest documents per document by TF-IDF cosine over
    bigram terms — all-pairs similarity search in the SPARSE term
    space: the no-embedding-model nearest-document audit (MinHash
    measures shingle-set overlap, embeddings measure dense semantics;
    this measures shared DISCRIMINATIVE vocabulary, weighted). The df
    cap (5%) is doing the APSS prefix-filter's job: frequent terms
    carry ~zero idf weight but dominate sum(df^2) join fanout — over
    the kept vocabulary the cosine is exact. See
    operators/retrieval.py:tfidf_doc_topk."""
    from .operators.retrieval import tfidf_doc_topk

    return tfidf_doc_topk(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        k=_APSS_K,
        term_ngram=2,
        max_df_frac=_APSS_MAX_DF,
    )


ORACLES["similarity_tfidf_topk"] = _duck_tfidf_topk_sql()


_WNI_MOD = 5  # doc_id % 5 == 0 -> the "nightly batch"; rest -> corpus


def _duck_winnowing_incremental_sql() -> str:
    return f"""
WITH {_duck_winnow_fp_cte()},
newf AS (SELECT * FROM kept WHERE doc_id % {_WNI_MOD} = 0),
corpf AS (SELECT * FROM kept WHERE doc_id % {_WNI_MOD} != 0),
build AS (
  SELECT fingerprint, doc_id AS id_b, FALSE AS cross_batch FROM newf
  UNION ALL
  SELECT fingerprint, doc_id, TRUE FROM corpf)
SELECT n.doc_id AS id_a, b.id_b, CAST(count(*) AS BIGINT) AS n_shared,
       b.cross_batch
FROM newf n JOIN build b USING (fingerprint)
WHERE b.cross_batch OR n.doc_id < b.id_b
GROUP BY 1, 2, 4 HAVING count(*) >= {_WN_MIN_SHARED}
"""


@_register("dedup_winnowing_incremental", None)  # oracle attached below
def dedup_winnowing_incremental(spark, sf_dir):
    """Continuous-ingest substring-copy detection: every ~5th document
    plays the nightly batch probing the standing corpus's winnowing
    fingerprint table — corpus x corpus work is never recomputed, each
    ingest costs |batch| x bucket density (the verbatim-copy mirror of
    dedup_incremental's MinHash shape). The df cap counts corpus AND
    batch together, which makes the emitted slice provably identical
    to the full pair build restricted to batch-touching pairs (pinned
    by test). See operators/dedup.py:winnowing_overlap_incremental."""
    from .caching import tracked_persist
    from .operators.dedup import winnowing_overlap_incremental

    fps = tracked_persist(_winnow_fps(spark, sf_dir))  # read by both sides
    is_new = F.col("doc_id") % _WNI_MOD == 0
    return winnowing_overlap_incremental(
        fps.filter(is_new),
        fps.filter(~is_new),
        min_shared=_WN_MIN_SHARED,
        max_doc_freq=_WN_MAX_DF,
    )


ORACLES["dedup_winnowing_incremental"] = _duck_winnowing_incremental_sql()


# --- streaming histogram quantiles ---------------------------------------

_SH_BOUNDS = (0.0, 600.0)
_SH_BINS = 64
_SH_PROBS = [0.5, 0.9, 0.99]


def _duck_stream_hist_sql() -> str:
    lo, hi = _SH_BOUNDS
    nb = _SH_BINS
    w = (hi - lo) / nb
    probs = ", ".join(repr(p) for p in _SH_PROBS)
    return f"""
WITH v AS (SELECT event_type, value::DOUBLE AS x FROM events
           WHERE value IS NOT NULL),
b AS (SELECT event_type,
             CAST(least(greatest(floor((x - {lo!r}) / {w!r}), 0),
                        {nb - 1}) AS INT) AS bin
      FROM v),
c AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
cm AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
               AS cum,
              sum(cnt) OVER (PARTITION BY event_type) AS n
       FROM c),
p AS (SELECT CAST(unnest([{probs}]) AS DOUBLE) AS prob),
e AS (SELECT event_type, prob, bin, cnt, cum, prob * n AS target
      FROM cm CROSS JOIN p),
h AS (SELECT * FROM e WHERE cum >= target AND (cum - cnt) < target)
SELECT event_type, prob,
       round({lo!r} + bin * {w!r}
             + {w!r} * (target - (cum - cnt)) / cnt, 6) AS estimate
FROM h
"""


@_register("streaming_histogram", None)  # oracle attached below
def streaming_histogram(spark, sf_dir):
    """Streaming per-event-type value quantiles from the mergeable
    fixed-range histogram: the bin-count state folds micro-batch by
    micro-batch (complete mode, AvailableNow), the drained state feeds
    the SAME quantile read-out the batch operator uses
    (quantiles_from_bin_counts — shared code, cannot drift), and the
    oracle recomputes the identical fixed-bound histogram in one batch
    pass. State per event type is 64 longs at any stream length. See
    streaming/stream_ops.py:stream_histogram_bins."""
    from .functions.sketches import quantiles_from_bin_counts
    from .registry_ext import _STATE_PARTITIONS, _events_stream
    from .streaming import run_stream_to_memory, stream_histogram_bins

    bins = stream_histogram_bins(
        _events_stream(spark, sf_dir),
        "value",
        bounds=_SH_BOUNDS,
        n_bins=_SH_BINS,
        group_by=["event_type"],
    )
    drained = run_stream_to_memory(
        bins, output_mode="complete", state_partitions=_STATE_PARTITIONS
    )
    return quantiles_from_bin_counts(
        drained, ["event_type"], _SH_PROBS
    )


ORACLES["streaming_histogram"] = _duck_stream_hist_sql()


# --- count-min inner product: join-size estimation -----------------------


#: wider than the default top-k sketch: the inner-product excess is
#: ||f_A||_1 * ||f_B||_1 / width, so width prices estimate precision
_JE_WIDTH = 8192


def _duck_join_estimate_sql() -> str:
    from .functions.sketches import _CM_DEPTH

    def cm_col(expr, j):
        return (
            f"('0x' || substr(md5({expr} || '#{j}'), 1, 15))::BIGINT"
            f" % {_JE_WIDTH}"
        )

    cells_a = "\nUNION ALL\n".join(
        f"SELECT {j} AS cm_row, {cm_col('o_custkey::VARCHAR', j)} AS cm_col"
        f" FROM orders WHERE o_custkey IS NOT NULL"
        for j in range(_CM_DEPTH)
    )
    cells_b = "\nUNION ALL\n".join(
        f"SELECT {j} AS cm_row, {cm_col('l_suppkey::VARCHAR', j)} AS cm_col"
        f" FROM lineitem WHERE l_suppkey IS NOT NULL"
        for j in range(_CM_DEPTH)
    )
    zeros = " UNION ALL ".join(
        f"SELECT {j} AS cm_row, 0 AS dot" for j in range(_CM_DEPTH)
    )
    return f"""
WITH ca AS ({cells_a}),
sa AS (SELECT cm_row, cm_col, count(*) AS c FROM ca GROUP BY 1, 2),
cb AS ({cells_b}),
sb AS (SELECT cm_row, cm_col, count(*) AS c FROM cb GROUP BY 1, 2),
dots AS (
  SELECT sa.cm_row, sum(sa.c * sb.c) AS dot
  FROM sa JOIN sb USING (cm_row, cm_col) GROUP BY 1),
full_rows AS (
  SELECT cm_row, max(dot) AS dot
  FROM (SELECT * FROM dots UNION ALL {zeros}) GROUP BY 1),
est AS (SELECT CAST(min(dot) AS BIGINT) AS join_size_est FROM full_rows),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_join_size
  FROM orders o JOIN lineitem l ON o.o_custkey = l.l_suppkey)
SELECT join_size_est, exact_join_size,
       CAST(join_size_est >= exact_join_size AS BOOLEAN)
           AS never_underestimates,
       round((join_size_est - exact_join_size)
             / greatest(exact_join_size, 1)::DOUBLE, 4) AS rel_excess
FROM est CROSS JOIN ex
"""


@_register("quality_join_estimate", None)  # oracle attached below
def quality_join_estimate(spark, sf_dir):
    """Join-size ESTIMATION from two count-min sketches (the Cormode-
    Muthukrishnan inner-product estimator): price the orders-x-lineitem
    equi-join (o_custkey = l_suppkey — a deliberately skewed,
    non-FK pairing) from two depth-x-width states WITHOUT scanning
    either table at decision time — the sketch-family counterpart of
    the exact quality_join_audit, with the never-underestimates
    guarantee and the measured excess as oracle-verified output
    columns. At 100 TB the sketches are maintained incrementally
    (count_min_table state merges by addition) and every join price is
    depth*width arithmetic. See functions/sketches.py:cm_inner_product."""
    from .functions.sketches import (
        _CM_DEPTH,
        cm_inner_product,
        count_min_table,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sa = count_min_table(orders, "o_custkey", width=_JE_WIDTH)
    sb = count_min_table(li, "l_suppkey", width=_JE_WIDTH)
    est = cm_inner_product(sa, sb, depth=_CM_DEPTH)
    exact = orders.join(
        li, orders["o_custkey"] == li["l_suppkey"]
    ).agg(F.count(F.lit(1)).alias("exact_join_size"))
    return est.crossJoin(F.broadcast(exact)).select(
        "join_size_est",
        "exact_join_size",
        (F.col("join_size_est") >= F.col("exact_join_size")).alias(
            "never_underestimates"
        ),
        F.round(
            (F.col("join_size_est") - F.col("exact_join_size"))
            / F.greatest(F.col("exact_join_size"), F.lit(1)).cast("double"),
            4,
        ).alias("rel_excess"),
    )


ORACLES["quality_join_estimate"] = _duck_join_estimate_sql()


# --- similarity-weighted PageRank ----------------------------------------

_WPR_ITER = 2
_WPR_DAMPING = 0.85
_WPR_RD = 9


def _duck_weighted_pagerank_sql() -> str:
    from .registry_ext import _duck_minhash_sql

    d = _WPR_DAMPING
    parts = [f"""
mh AS (SELECT * FROM ({_duck_minhash_sql()})),
be AS (
  SELECT id_a AS src, id_b AS dst, est_jaccard AS w FROM mh
  WHERE est_jaccard >= {_TRI_MIN_JACCARD}
  UNION ALL
  SELECT id_b, id_a, est_jaccard FROM mh
  WHERE est_jaccard >= {_TRI_MIN_JACCARD}),
e AS (SELECT src, dst, sum(w) AS w FROM be GROUP BY 1, 2),
deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
ne AS (SELECT src, dst, e.w / deg AS w FROM e JOIN deg USING (src)),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
n AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / n.n, {_WPR_RD}) AS rank
       FROM nodes CROSS JOIN n)"""]
    prev = "r0"
    for i in range(1, _WPR_ITER + 1):
        parts.append(f""",
c{i} AS (
  SELECT ne.dst AS node, sum(r.rank * ne.w) AS cin
  FROM {prev} r JOIN ne ON r.node = ne.src
  GROUP BY 1),
d{i} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
  WHERE node NOT IN (SELECT src FROM deg)),
r{i} AS (
  SELECT nodes.node,
         round({1 - d} / n.n
               + {d} * (coalesce(cin, 0) + dm / n.n), {_WPR_RD}) AS rank
  FROM nodes LEFT JOIN c{i} USING (node)
  CROSS JOIN n CROSS JOIN d{i})""")
        prev = f"r{i}"
    return "WITH " + "".join(parts) + f"\nSELECT node, rank FROM {prev}"


@_register("graph_pagerank_weighted", None)  # oracle attached below
def graph_pagerank_weighted(spark, sf_dir):
    """Similarity-WEIGHTED PageRank over the MinHash edge table:
    rank flows proportionally to est_jaccard, so a document central to
    a tight near-duplicate neighbourhood outranks one with the same
    degree but weaker ties — the curation centrality signal (which dup
    is the canonical one?) that complements triangle counts (local
    density) and CC (membership) on the SAME graph.
    est_jaccard values are exact dyadic rationals (k/32), so
    out-strength sums and transition weights are bit-reproducible in
    any engine — the unrolled-CTE oracle proves every iteration.
    See operators/graph.py:pagerank (weight_col)."""
    from .operators.graph import pagerank

    pairs = _sim_edges(spark, sf_dir)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                    F.col("est_jaccard").alias("w"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                    F.col("est_jaccard").alias("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    return pagerank(
        edges,
        n_iter=_WPR_ITER,
        damping=_WPR_DAMPING,
        round_digits=_WPR_RD,
        weight_col="w",
    )


ORACLES["graph_pagerank_weighted"] = _duck_weighted_pagerank_sql()


# --- Markov stationary distribution of the event-type chain --------------

_MS_ITER = 8
_MS_RD = 9

#: AS MATERIALIZED: without it DuckDB inlines the window CTE into every
#: unrolled iteration's reference and the 8-fold re-evaluation of the
#: events window OOMs at sf0.1
_DUCK_TRANSITION_PAIRS = """
tp AS MATERIALIZED (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
tc AS MATERIALIZED (
  SELECT from_type, to_type, count(*) AS n
  FROM tp WHERE to_type IS NOT NULL GROUP BY 1, 2
)"""


def _duck_markov_stationary_sql() -> str:
    parts = [f"""
{_DUCK_TRANSITION_PAIRS},
e AS (SELECT from_type AS src, to_type AS dst, n::DOUBLE AS w FROM tc),
deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
ne AS (SELECT src, dst, e.w / deg AS w FROM e JOIN deg USING (src)),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
n AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / n.n, {_MS_RD}) AS rank
       FROM nodes CROSS JOIN n)"""]
    prev = "r0"
    for i in range(1, _MS_ITER + 1):
        parts.append(f""",
c{i} AS (
  SELECT ne.dst AS node, sum(r.rank * ne.w) AS cin
  FROM {prev} r JOIN ne ON r.node = ne.src GROUP BY 1),
d{i} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
  WHERE node NOT IN (SELECT src FROM deg)),
r{i} AS (
  SELECT nodes.node,
         round(coalesce(cin, 0) + dm / n.n, {_MS_RD}) AS rank
  FROM nodes LEFT JOIN c{i} USING (node)
  CROSS JOIN n CROSS JOIN d{i})""")
        prev = f"r{i}"
    return (
        "WITH " + "".join(parts)
        + f"""
SELECT node AS event_type, rank AS stationary_prob FROM {prev}"""
    )


@_register("events_markov_stationary", None)  # oracle attached below
def events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the first-order event-type Markov
    chain — where user behaviour SETTLES (the long-run share of each
    event type under the learned transition dynamics), vs the
    transition-count table's one-step view. Spark-first composition,
    zero new machinery: transition_counts feeds pagerank with
    damping=1.0 and count weights — the undamped weighted power
    iteration IS pi = pi P (integer weights are fp-exact, strengths and
    transition probabilities bit-reproducible; per-iteration rounding
    makes the unrolled-CTE oracle reproduce all 8 iterations
    bit-for-bit). Dangling term kept for formula parity (zero here:
    every observed type transitions onward at these scales)."""
    from .operators.events import transition_counts
    from .operators.graph import pagerank
    from .registry import normalise_event_ts

    ev = normalise_event_ts(_t(spark, sf_dir, "events"))
    tc = transition_counts(ev)
    out = pagerank(
        tc,
        src_col="from_type",
        dst_col="to_type",
        n_iter=_MS_ITER,
        damping=1.0,
        round_digits=_MS_RD,
        weight_col="n_transitions",
    )
    return out.select(
        F.col("node").alias("event_type"),
        F.col("rank").alias("stationary_prob"),
    )


ORACLES["events_markov_stationary"] = _duck_markov_stationary_sql()


from . import registry_ext5  # noqa: E402,F401  (round-8 registrations)
