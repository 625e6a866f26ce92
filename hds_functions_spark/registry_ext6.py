"""Extension-layer query registry, part 6 (round-9 additions).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical
values by construction. Round-9 focus: DSIR importance-resampling data
selection (Xie et al. 2023) — score every raw-pool document by how
target-like it is under hashed bag-of-ngram models, then draw the
selection with deterministic Gumbel top-k. The md5 bucket hash and the
hash-derived Gumbel noise are bit-identical in DuckDB, so the oracle
replays SELECTION end-to-end, not just the weights.
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

# --- DSIR importance resampling (Xie et al. 2023) --------------------------

#: hashed-feature space size (the paper's 10k buckets)
_DSIR_BUCKETS = 10_000
#: add-alpha smoothing for both bucket distributions
_DSIR_ALPHA = 1.0
#: resample size for the Gumbel top-k query
_DSIR_K = 50
#: selection salt (changes the Gumbel draw, never the weights)
_DSIR_SALT = "r9"
#: the target corpus: English docs; the raw pool: everything else
_DSIR_TARGET_LANG = "en"

_DUCK_TOK = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(lower(text)), '\\s+') END"
)


def _duck_bigrams(lst: str) -> str:
    return (
        f"CASE WHEN len({lst}) < 2 THEN []::VARCHAR[] "
        f"ELSE list_transform(generate_series(1, len({lst}) - 1), "
        f"i -> {lst}[i] || ' ' || {lst}[i + 1]) END"
    )


def _duck_dsir_weights_cte() -> str:
    """CTE chain ending in ``weights(doc_id, log_weight)`` — the oracle
    mirror of :func:`operators.selection.dsir_log_weights` over the
    documents table with the registry constants baked in (target =
    lang = 'en', raw pool = the rest; unigram+bigram features hashed
    into ``_DSIR_BUCKETS`` md5 buckets; add-``_DSIR_ALPHA``-smoothed
    log ratio summed per doc; tokenless raw docs weigh 0)."""
    buckets, a = _DSIR_BUCKETS, _DSIR_ALPHA
    return f"""
d AS (SELECT doc_id, lang, {_DUCK_TOK} AS t FROM documents),
g AS (SELECT doc_id, lang, list_concat(t, {_duck_bigrams('t')}) AS gs FROM d),
fb AS (SELECT doc_id, lang,
              (('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT) % {buckets}
                  AS bucket
       FROM g),
rawb AS (SELECT doc_id, bucket, count(*) AS cnt FROM fb
         WHERE lang <> '{_DSIR_TARGET_LANG}' GROUP BY 1, 2),
tgtd AS (SELECT bucket, count(*) AS ct FROM fb
         WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1),
rdist AS (SELECT bucket, sum(cnt) AS cr FROM rawb GROUP BY 1),
rtot AS (SELECT sum(cr) AS tr FROM rdist),
ttot AS (SELECT coalesce(sum(ct), 0) AS tt FROM tgtd),
ratio AS (
  SELECT bucket,
         ln((coalesce(ct, 0) + {a}) / (tt + {a} * {buckets}))
         - ln((cr + {a}) / (tr + {a} * {buckets})) AS lr
  FROM rdist LEFT JOIN tgtd USING (bucket)
  CROSS JOIN rtot CROSS JOIN ttot),
scored AS (
  SELECT doc_id, round(sum(cnt * lr), 6) AS log_weight
  FROM rawb JOIN ratio USING (bucket) GROUP BY 1),
weights AS (
  SELECT raw.doc_id, coalesce(log_weight, 0.0) AS log_weight
  FROM (SELECT doc_id FROM documents
        WHERE lang <> '{_DSIR_TARGET_LANG}') raw
  LEFT JOIN scored USING (doc_id))
"""


def _dsir_inputs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    raw = docs.filter(F.col("lang") != _DSIR_TARGET_LANG)
    target = docs.filter(F.col("lang") == _DSIR_TARGET_LANG)
    return raw, target


@_register(
    "select_dsir_weights",
    f"WITH {_duck_dsir_weights_cte()} SELECT doc_id, log_weight FROM weights",
)
def select_dsir_weights(spark, sf_dir):
    """DSIR log importance weights (Xie et al. 2023): every
    non-English document in the pool scored by how English-target-like
    its hashed unigram+bigram bag is — ln p_target - ln p_raw summed
    over the doc's features under add-1-smoothed 10k-bucket models.
    Both distribution builds are one combinable groupBy; the log-ratio
    table (<= buckets rows) broadcasts into one map-side-combinable
    scoring aggregate; tokenless docs weigh 0. The md5 bucket hash is
    bit-identical in DuckDB, so the oracle replays the full model."""
    from .operators.selection import dsir_log_weights

    raw, target = _dsir_inputs(spark, sf_dir)
    return dsir_log_weights(
        raw, target, buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA
    )


@_register(
    "select_dsir_topk",
    f"""
WITH {_duck_dsir_weights_cte()},
sel AS (
  SELECT doc_id, log_weight,
         round(log_weight - ln(-ln(
             ((('0x' || substr(md5(doc_id::VARCHAR || '{_DSIR_SALT}'), 1, 15))
                   ::BIGINT) % 1000000 + 0.5) / 1000000.0)), 6) AS sel_key
  FROM weights)
SELECT doc_id, log_weight, sel_key,
       CAST(row_number() OVER (ORDER BY sel_key DESC, doc_id) AS INTEGER)
           AS rank
FROM sel
QUALIFY row_number() OVER (ORDER BY sel_key DESC, doc_id) <= {_DSIR_K}
""",
)
def select_dsir_topk(spark, sf_dir):
    """The DSIR resampling step: draw {k} documents from the raw pool
    without replacement with probability proportional to exp(weight),
    via HASH-deterministic Gumbel top-k (selection key = weight +
    Gumbel noise derived from md5(doc_id, salt) — a pure function of
    the inputs, so re-runs, retries and repartitioning cannot change
    the selection and the oracle reproduces it row-for-row). The
    global top-k executes as TakeOrderedAndProject, never a one-task
    global sort.""".format(k=_DSIR_K)
    from .operators.selection import dsir_gumbel_topk, dsir_log_weights

    raw, target = _dsir_inputs(spark, sf_dir)
    weights = dsir_log_weights(
        raw, target, buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA
    )
    return dsir_gumbel_topk(weights, k=_DSIR_K, salt=_DSIR_SALT)


# --- incremental exact-substring spans (continuous-ingest mode) ------------

#: batch selector: every 13th document is "newly ingested"
_XSI_BATCH_MOD = 13
#: span detection length (same as the round-8 full-build queries)
_XSI_MIN_LEN = 30


@_register(
    "dedup_exact_spans_incremental",
    # the ORACLE is the slice-identity theorem itself: the full build
    # over corpus+batch (registry_ext5's spans CTE semantics, inlined
    # over ALL documents) restricted to batch docs must equal the
    # incremental result
    f"""
WITH
d AS (SELECT doc_id, text FROM documents),
g AS (SELECT d.doc_id, p, substr(d.text, p, {_XSI_MIN_LEN}) AS gram
      FROM d, LATERAL (SELECT unnest(range(1, length(d.text) - {_XSI_MIN_LEN} + 2)) AS p)),
dupg AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
hit AS (SELECT doc_id, p FROM g JOIN dupg USING (gram)
        WHERE doc_id % {_XSI_BATCH_MOD} = 0),
brk AS (SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                         > {_XSI_MIN_LEN} THEN 1 ELSE 0 END AS is_brk
        FROM hit),
isl AS (SELECT doc_id, p,
               sum(is_brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM brk)
SELECT doc_id,
       CAST(min(p) AS BIGINT) AS span_start,
       CAST(max(p) + {_XSI_MIN_LEN} - 1 AS BIGINT) AS span_end,
       CAST(max(p) + {_XSI_MIN_LEN} - min(p) AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, island
""",
)
def dedup_exact_spans_incremental(spark, sf_dir):
    """Continuous-ingest exact duplicated-substring spans: every 13th
    document plays the newly-ingested batch, the rest the standing
    corpus. The batch explodes per-position hashes; the corpus only
    PROBES (its gram rows semi-join the batch's distinct hashes
    immediately — no corpus-side aggregate, no corpus x corpus work);
    candidates confirm on real substrings both sides (collision scrub)
    and the island merge runs on batch positions only. The oracle IS
    the slice-identity theorem: a full build over corpus+batch
    restricted to batch docs. See
    operators/dedup.py:exact_substring_spans_incremental."""
    from .operators.dedup import exact_substring_spans_incremental

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % _XSI_BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _XSI_BATCH_MOD != 0)
    return exact_substring_spans_incremental(
        batch, corpus, min_len=_XSI_MIN_LEN
    )


# --- product quantization ANN (Jegou, Douze & Schmid 2011) ------------------

#: subspaces (64-dim embeddings -> 16-dim slices)
_PQ_M = 4
#: centroids per subspace codebook
_PQ_K = 8
#: Lloyd iterations per subspace
_PQ_ITER = 2
#: embedding dimension of the testdata
_PQ_DIM = 64
#: per-iteration centroid rounding (the agg-order decoupling trick,
#: same convention as registry_ext2's k-means queries)
_PQ_RD = 4
#: ADC query selector
_PQ_QUERY_MOD = 50
_PQ_TOPK = 5


def _duck_pq_cte(
    train_src: str = "embeddings",
    encode_src: str | None = None,
    prelude: str = "",
) -> str:
    """Per-subspace unrolled Lloyd iterations + final code assignment,
    ending in ``codes(vec_id, code_0..code_{m-1})`` and per-subspace
    final codebooks ``cb_s{s}(cluster, c)`` — the oracle mirror of
    :func:`operators.similarity.pq_train` + :func:`pq_encode`
    (generalising registry_ext2's ``_duck_kmeans_cte`` to sliced
    subvectors; same seed hash, same left-associative distance chains,
    same per-iteration mean rounding, same lowest-index tie-break).

    ``train_src``: the relation Lloyd trains on (seeds, assignment
    rounds, means); ``encode_src``: the relation the FINAL code
    assignment runs over (defaults to ``train_src`` — the one-shot
    shape). Splitting the two is the persisted-index mirror: round
    10's incremental queries train on the standing corpus and encode
    a later ingest batch against the frozen codebooks. ``prelude``:
    extra leading CTEs (e.g. the corpus/batch splits) spliced after
    WITH."""
    from .operators.clustering import (
        INIT_HASH_MOD, INIT_HASH_MULT, INIT_HASH_PRIME,
    )

    if encode_src is None:
        encode_src = train_src
    sub = _PQ_DIM // _PQ_M
    seed_key = (
        f"((vec_id % {INIT_HASH_PRIME}) * {INIT_HASH_MULT})"
        f" % {INIT_HASH_MOD}"
    )
    parts = []
    if prelude:
        parts.append(prelude + ",")
    parts.append(
        f"""
init AS (
  SELECT vec_id, embedding FROM {train_src}
  ORDER BY {seed_key}, vec_id LIMIT {_PQ_K}
)"""
    )
    final_asn = []
    for s in range(_PQ_M):
        off = s * sub
        dist = " + ".join(
            f"(e.embedding[{off + i}]::DOUBLE - c.c[{i}]) * "
            f"(e.embedding[{off + i}]::DOUBLE - c.c[{i}])"
            for i in range(1, sub + 1)
        )
        means = ", ".join(
            f"round(sum(e.embedding[{off + i}]::DOUBLE) / count(*), {_PQ_RD})"
            f" AS s{i}"
            for i in range(1, sub + 1)
        )
        listv = ", ".join(f"m.s{i}" for i in range(1, sub + 1))
        parts.append(
            f""",
c0_s{s} AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         list_transform(embedding[{off + 1}:{off + sub}],
                        x -> x::DOUBLE) AS c
  FROM init
)"""
        )
        prev = f"c0_s{s}"
        for it in range(1, _PQ_ITER + 2):
            # training rounds assign the train set; the final round IS
            # the encode step and runs over encode_src
            asrc = train_src if it <= _PQ_ITER else encode_src
            parts.append(
                f""",
a{it}_s{s} AS (
  SELECT e.vec_id, c.cluster, {dist} AS dist
  FROM {asrc} e CROSS JOIN {prev} c
),
asn{it}_s{s} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM a{it}_s{s}
  ) WHERE rn = 1
)"""
            )
            if it <= _PQ_ITER:
                parts.append(
                    f""",
m{it}_s{s} AS (
  SELECT a.cluster, {means}
  FROM asn{it}_s{s} a JOIN {train_src} e USING (vec_id) GROUP BY a.cluster
),
c{it}_s{s} AS (
  SELECT p.cluster,
         CASE WHEN m.cluster IS NULL THEN p.c ELSE [{listv}] END AS c
  FROM {prev} p LEFT JOIN m{it}_s{s} m ON p.cluster = m.cluster
)"""
                )
                prev = f"c{it}_s{s}"
        parts.append(f", cb_s{s} AS (SELECT * FROM {prev})")
        final_asn.append(f"asn{_PQ_ITER + 1}_s{s}")
    sel = ", ".join(
        f"CAST(a{s}.cluster AS INTEGER) AS code_{s}" for s in range(_PQ_M)
    )
    joins = " ".join(
        f"JOIN {final_asn[s]} a{s} USING (vec_id)" for s in range(1, _PQ_M)
    )
    parts.append(
        f""",
codes AS (
  SELECT vec_id, {sel}
  FROM {final_asn[0]} a0 {joins}
)"""
    )
    return "WITH " + "".join(parts)


def _pq_codebooks(spark, sf_dir):
    """PQ codebooks trained on the embedding corpus (driver-side floats)."""
    from .operators.similarity import pq_train

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pq_train(
        emb, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, dim=_PQ_DIM,
        round_digits=_PQ_RD,
    )


@_register(
    "similarity_pq_codes",
    f"""
{_duck_pq_cte()}
SELECT * FROM codes
""",
)
def similarity_pq_codes(spark, sf_dir):
    """Product-quantization encoding (Jegou, Douze & Schmid 2011):
    64-dim embeddings compress to {m} one-byte codes — per 16-dim
    subspace, the index of the nearest of {k} k-means sub-centroids.
    Training is {m} independent sliced k-means fits (deterministic
    hash-spread seeds, per-iteration mean rounding); encoding is ONE
    pure projection against literal codebooks — zero shuffle. The
    oracle re-runs every Lloyd iteration per subspace in SQL and must
    agree on every code.""".format(m=_PQ_M, k=_PQ_K)
    from .operators.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pq_encode(emb, _pq_codebooks(spark, sf_dir))


@_register(
    "similarity_pq_adc_knn",
    f"""
{_duck_pq_cte()},
q AS (SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id % {_PQ_QUERY_MOD} = 0),
adc AS (
  SELECT q.query_id, codes.vec_id,
         round({" + ".join(
             "(" + " + ".join(
                 f"(q.embedding[{s * (_PQ_DIM // _PQ_M) + i}]::DOUBLE"
                 f" - b{s}.c[{i}]) * "
                 f"(q.embedding[{s * (_PQ_DIM // _PQ_M) + i}]::DOUBLE"
                 f" - b{s}.c[{i}])"
                 for i in range(1, _PQ_DIM // _PQ_M + 1)
             ) + ")"
             for s in range(_PQ_M)
         )}, 6) AS adc_dist
  FROM codes
  CROSS JOIN q
  {" ".join(f"JOIN cb_s{s} b{s} ON b{s}.cluster = codes.code_{s}"
             for s in range(_PQ_M))}
  WHERE q.query_id <> codes.vec_id
)
SELECT query_id, vec_id, adc_dist,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
FROM adc
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY adc_dist, vec_id) <= {_PQ_TOPK}
""",
)
def similarity_pq_adc_knn(spark, sf_dir):
    """Asymmetric-distance top-{k} ANN over PQ codes: each query's
    FLOAT subvectors score against the corpus vectors' sub-centroids
    (the query is never quantized — ADC, the accurate estimator of the
    PQ paper). The corpus scan carries {m} ints per vector instead of
    {d} floats — the I/O and memory win that makes PQ the
    billion-vector scale path — and the distance is {m} literal-
    codebook folds. Suite-sized query side broadcasts; the rank rides
    WindowGroupLimit.""".format(k=_PQ_TOPK, m=_PQ_M, d=_PQ_DIM)
    from .operators.similarity import pq_adc_topk, pq_encode

    books = _pq_codebooks(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") % _PQ_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(codes, queries, books, k=_PQ_TOPK)


# --- PQ recall audit + DSIR curation pipeline -------------------------------

def _duck_pq_recall_sql() -> str:
    """Recall@k of the ADC path vs the exact brute-force oracle, composed
    from the two registered oracles as subqueries (the
    similarity_recall DRY pattern: drift propagates)."""
    return f"""
WITH exact AS ({ORACLES['similarity_knn']}),
pq AS ({ORACLES['similarity_pq_adc_knn']}),
hits AS (
    SELECT count(*) AS n_hit FROM pq a
    WHERE EXISTS (SELECT 1 FROM exact e
                  WHERE e.query_id = a.query_id AND e.vec_id = a.vec_id)
)
SELECT 'pq_adc' AS method, CAST(n_hit AS BIGINT) AS n_hit,
       CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       round(n_hit / (SELECT count(*) FROM exact), 4) AS recall
FROM hits
"""


@_register("similarity_pq_recall", _duck_pq_recall_sql())
def similarity_pq_recall(spark, sf_dir):
    """Measured recall@5 of PQ asymmetric-distance search against the
    exact cosine top-5 — the compression/quality tradeoff of the
    byte-per-subspace scale path, quantified under the correctness
    gate (the similarity_recall audit pattern applied to the PQ
    family; note ADC ranks by L2 distance while the exact baseline
    ranks by cosine, so recall also absorbs the metric gap on
    unnormalised vectors). The exact side is suite-sized (queries x k
    rows) and broadcast into the semi join."""
    from .registry_ext import similarity_knn

    exact = similarity_knn(spark, sf_dir).select("query_id", "vec_id")
    approx = similarity_pq_adc_knn(spark, sf_dir).select("query_id", "vec_id")
    hits = approx.join(
        F.broadcast(exact), on=["query_id", "vec_id"]
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        hits.crossJoin(F.broadcast(n_exact))
        .select(
            F.lit("pq_adc").alias("method"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
        )
    )


@_register(
    "pipeline_dsir_curation",
    f"""
WITH {_duck_dsir_weights_cte()},
sel AS (
  SELECT doc_id, log_weight,
         round(log_weight - ln(-ln(
             ((('0x' || substr(md5(doc_id::VARCHAR || '{_DSIR_SALT}'), 1, 15))
                   ::BIGINT) % 1000000 + 0.5) / 1000000.0)), 6) AS sel_key
  FROM weights
  QUALIFY row_number() OVER (ORDER BY sel_key DESC, doc_id) <= {_DSIR_K}
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
       round(avg(s.log_weight), 6) AS mean_weight
FROM sel s JOIN documents d USING (doc_id)
GROUP BY d.lang
""",
)
def pipeline_dsir_curation(spark, sf_dir):
    """The DSIR curation spine end-to-end as ONE lazy plan: hashed-ngram
    importance weights over the non-English pool -> deterministic
    Gumbel top-{k} selection -> re-attach the selected documents ->
    per-language composition of the curated set (docs, characters,
    mean importance). The inspection a mixture-curation run ships with
    its selection: which languages the target-matched sample actually
    drew from.""".format(k=_DSIR_K)
    from .operators.selection import dsir_gumbel_topk, dsir_log_weights

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    raw, target = _dsir_inputs(spark, sf_dir)
    weights = dsir_log_weights(
        raw, target, buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA
    )
    sel = dsir_gumbel_topk(weights, k=_DSIR_K, salt=_DSIR_SALT)
    return (
        sel.join(docs, on="doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.round(F.avg("log_weight"), 6).alias("mean_weight"),
        )
    )


# --- interpolated Kneser-Ney trigram LM scoring -----------------------------

#: absolute discount (the Chen & Goodman default regime)
_KN_D = 0.75
#: train split: even doc_ids train the model, ALL docs are scored
_KN_TRAIN_MOD = 2

#: whitespace tokens, no lowercasing — the text-family convention
_DUCK_TOKENS_KN = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(text), '\\s+') END"
)


@_register(
    "text_kn_trigram_logprob",
    f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_TOKENS_KN} AS t FROM documents
), tri_all AS (
    SELECT doc_id, t[i] AS u, t[i + 1] AS v, t[i + 2] AS w
    FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
    WHERE len(t) >= 3
), tri AS (
    SELECT * FROM tri_all WHERE doc_id % {_KN_TRAIN_MOD} = 0
), c3 AS (
    SELECT u, v, w, count(*) AS c3 FROM tri GROUP BY 1, 2, 3
), ctx3 AS (
    SELECT u, v, sum(c3) AS c3ctx, count(*) AS t3 FROM c3 GROUP BY 1, 2
), n2 AS (
    SELECT v, w, count(*) AS n2 FROM c3 GROUP BY 1, 2
), ctx2 AS (
    SELECT v, sum(n2) AS ctx2, count(*) AS t2 FROM n2 GROUP BY 1
), n1 AS (
    SELECT w, count(*) AS n1 FROM n2 GROUP BY 1
), tot1 AS (
    SELECT sum(n1) AS tot1 FROM n1
), scored AS (
    SELECT s.doc_id, n1.n1,
           ln(CASE WHEN ctx3.c3ctx IS NOT NULL THEN
                 greatest(coalesce(c3.c3, 0) - {_KN_D}, 0.0) / ctx3.c3ctx
                 + {_KN_D} * ctx3.t3 / ctx3.c3ctx *
                   (CASE WHEN ctx2.ctx2 IS NOT NULL THEN
                        greatest(coalesce(n2.n2, 0) - {_KN_D}, 0.0) / ctx2.ctx2
                        + {_KN_D} * ctx2.t2 / ctx2.ctx2 * (n1.n1 / tot1.tot1)
                    ELSE n1.n1 / tot1.tot1 END)
               WHEN ctx2.ctx2 IS NOT NULL THEN
                 greatest(coalesce(n2.n2, 0) - {_KN_D}, 0.0) / ctx2.ctx2
                 + {_KN_D} * ctx2.t2 / ctx2.ctx2 * (n1.n1 / tot1.tot1)
               ELSE n1.n1 / tot1.tot1 END) AS lp
    FROM tri_all s
    LEFT JOIN c3 USING (u, v, w)
    LEFT JOIN ctx3 USING (u, v)
    LEFT JOIN n2 USING (v, w)
    LEFT JOIN ctx2 USING (v)
    LEFT JOIN n1 USING (w)
    CROSS JOIN tot1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(count(lp) AS BIGINT) AS n_scored,
       round(count(lp) / count(*), 4) AS coverage,
       round(avg(lp), 4) AS avg_logprob
FROM scored
GROUP BY 1
HAVING count(lp) >= 1
""",
)
def text_kn_trigram_logprob(spark, sf_dir):
    """Per-document average trigram log-likelihood under an interpolated
    Kneser-Ney model (Chen & Goodman 1999) trained on the even-id half
    of the corpus and scoring every document — the KenLM/CCNet-style
    perplexity filter with principled held-out smoothing: absolute
    discounting, continuation-count backoff ('francisco' stops looking
    plausible outside 'san'), graceful OOV/unseen-context degradation
    reported via the coverage column. Five vocabulary-bounded gram
    aggregates, gram-keyed equi-joins with no fanout, one per-doc
    aggregate. See operators/profiling.py:kn_trigram_logprob_scores."""
    from .operators.profiling import kn_trigram_logprob_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _KN_TRAIN_MOD == 0)
    return kn_trigram_logprob_scores(train, docs, discount=_KN_D)


# --- bootstrap confidence intervals -----------------------------------------

_BOOT_R = 100
_BOOT_ALPHA = 0.05
_BOOT_SALT = "r9"


def _duck_bootstrap_sql() -> str:
    from .operators.quality import _POISSON1_CDF, _BOOT_RES

    cdf = "[" + ", ".join(repr(x) for x in _POISSON1_CDF) + "]"
    # all-zero-weight resamples drop BEFORE the rank window (a NULL mean
    # would sort first and displace ci_lo); ranks re-derive from the
    # surviving count — the exact mirror of bootstrap_mean_ci
    return f"""
WITH rows AS (
  SELECT doc_id::VARCHAR AS id, n_chars::DOUBLE AS x
  FROM documents WHERE n_chars IS NOT NULL
), ex AS (
  SELECT r, x,
         ((('0x' || substr(md5(id || '{_BOOT_SALT}' || r::VARCHAR), 1, 15))
               ::BIGINT % {_BOOT_RES}) + 0.5) / {_BOOT_RES} AS u
  FROM rows, unnest(range(1, {_BOOT_R + 1})) AS t(r)
), wtd AS (
  SELECT r, x, len(list_filter({cdf}, c -> c < u)) AS w FROM ex
), means AS (
  SELECT r, sum(w * x) / sum(w) AS m FROM wtd GROUP BY r HAVING sum(w) > 0
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, r) AS rk,
         count(*) OVER () AS n
  FROM means
), point AS (SELECT avg(x) AS p FROM rows)
SELECT round(point.p, 6) AS point_est,
       round(min(ranked.m), 6) AS ci_lo,
       round(max(ranked.m), 6) AS ci_hi,
       max(ranked.n)::INTEGER AS n_resamples
FROM ranked CROSS JOIN point
WHERE rk IN (CAST(floor({_BOOT_ALPHA / 2} * n) AS BIGINT) + 1,
             n - (CAST(floor({_BOOT_ALPHA / 2} * n) AS BIGINT) + 1) + 1)
GROUP BY point.p
"""


@_register("quality_bootstrap_ci", _duck_bootstrap_sql())
def quality_bootstrap_ci(spark, sf_dir):
    """Percentile-bootstrap 95% CI for the corpus's mean document
    length via the POISSON bootstrap: each row's per-resample
    multiplicity ~ Poisson(1), derived from md5(id, salt, r) — no RNG,
    no global resampling pass, one scan + one combinable aggregate at
    any corpus size. The error bar every corpus-level quality metric
    should ship with; the oracle replays weights, resample means, and
    the exact order-statistic bounds. See
    operators/quality.py:bootstrap_mean_ci."""
    from .operators.quality import bootstrap_mean_ci

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return bootstrap_mean_ci(
        docs, "n_chars", "doc_id", n_resamples=_BOOT_R,
        alpha=_BOOT_ALPHA, salt=_BOOT_SALT,
    )


# --- PCA via matrix-free power iteration ------------------------------------

_PCA_C = 2       # components
_PCA_ITER = 3    # power iterations per component
_PCA_RD = 4      # per-iteration rounding (agg-order decoupling)
_PCA_DIM = 64
_PCA_OUT_RD = 6  # projection rounding


def _duck_pca_cte() -> str:
    """Unrolled matrix-free power iteration as DuckDB CTEs — the oracle
    mirror of :func:`operators.similarity.pca_power_components` +
    :func:`pca_project`: same fixed uniform start vector, same
    left-associative fold chains (with the explicit leading ``0.0``
    Spark's fold carries), same per-iteration HALF-UP rounding of the
    ``C v`` coordinates and the normalised component, deflation against
    the finished first component bound per row. Ends in component rows
    ``v1f(c1..c64)`` / ``v2f(c1..c64)`` and ``mean(m1..m64, n)``."""
    d = _PCA_DIM
    start = 1.0 / (d ** 0.5)

    def centered(j):  # 1-based SQL index
        return f"(e.embedding[{j}]::DOUBLE - m.m{j})"

    mean_cols = ", ".join(
        f"round(avg(embedding[{j}]::DOUBLE), {_PCA_RD}) AS m{j}"
        for j in range(1, d + 1)
    )
    parts = [f"mean AS (SELECT {mean_cols}, count(*) AS n FROM embeddings)"]

    # ---- component 1 ----
    prev = None  # None = literal uniform start
    for it in range(1, _PCA_ITER + 1):
        comp = (f"{start!r}" if prev is None else None)
        s_chain = "0.0 + " + " + ".join(
            f"{centered(j)} * "
            + (f"{start!r}" if prev is None else f"p.c{j}")
            for j in range(1, d + 1)
        )
        join_p = "" if prev is None else f" CROSS JOIN {prev} p"
        parts.append(
            f"s1_{it} AS (SELECT e.vec_id, e.embedding, ({s_chain}) AS s "
            f"FROM embeddings e CROSS JOIN mean m{join_p})"
        )
        cv_cols = ", ".join(
            f"round(sum(e.s * {centered(j)}) / min(m.n), {_PCA_RD}) AS c{j}"
            for j in range(1, d + 1)
        )
        parts.append(
            f"cv1_{it} AS (SELECT {cv_cols} FROM s1_{it} e CROSS JOIN mean m)"
        )
        norm = " + ".join(f"c{j} * c{j}" for j in range(1, d + 1))
        v_cols = ", ".join(
            f"round(c{j} / sqrt({norm}), {_PCA_RD}) AS c{j}"
            for j in range(1, d + 1)
        )
        parts.append(f"v1_{it} AS (SELECT {v_cols} FROM cv1_{it})")
        prev = f"v1_{it}"
    parts.append(f"v1f AS (SELECT * FROM {prev})")

    # per-row projection onto the finished first component (deflation)
    sp_chain = "0.0 + " + " + ".join(
        f"{centered(j)} * p.c{j}" for j in range(1, d + 1)
    )
    parts.append(
        f"rp AS (SELECT e.vec_id, e.embedding, ({sp_chain}) AS sp "
        f"FROM embeddings e CROSS JOIN mean m CROSS JOIN v1f p)"
    )

    def resid(j):
        return f"({centered(j)} - e.sp * p.c{j})"

    # ---- component 2 (on the deflated residual) ----
    prev = None
    for it in range(1, _PCA_ITER + 1):
        s_chain = "0.0 + " + " + ".join(
            f"{resid(j)} * "
            + (f"{start!r}" if prev is None else f"q.c{j}")
            for j in range(1, d + 1)
        )
        join_q = "" if prev is None else f" CROSS JOIN {prev} q"
        parts.append(
            f"s2_{it} AS (SELECT e.vec_id, e.embedding, e.sp, ({s_chain}) AS s "
            f"FROM rp e CROSS JOIN mean m CROSS JOIN v1f p{join_q})"
        )
        cv_cols = ", ".join(
            f"round(sum(e.s * {resid(j)}) / min(m.n), {_PCA_RD}) AS c{j}"
            for j in range(1, d + 1)
        )
        parts.append(
            f"cv2_{it} AS (SELECT {cv_cols} FROM s2_{it} e "
            f"CROSS JOIN mean m CROSS JOIN v1f p)"
        )
        norm = " + ".join(f"c{j} * c{j}" for j in range(1, d + 1))
        v_cols = ", ".join(
            f"round(c{j} / sqrt({norm}), {_PCA_RD}) AS c{j}"
            for j in range(1, d + 1)
        )
        parts.append(f"v2_{it} AS (SELECT {v_cols} FROM cv2_{it})")
        prev = f"v2_{it}"
    parts.append(f"v2f AS (SELECT * FROM {prev})")
    return "WITH " + ",\n".join(parts)


def _duck_pca_projection_sql() -> str:
    d = _PCA_DIM
    pc0 = "0.0 + " + " + ".join(
        f"(e.embedding[{j}]::DOUBLE - m.m{j}) * p.c{j}" for j in range(1, d + 1)
    )
    pc1 = "0.0 + " + " + ".join(
        f"(e.embedding[{j}]::DOUBLE - m.m{j}) * q.c{j}" for j in range(1, d + 1)
    )
    return f"""
{_duck_pca_cte()}
SELECT e.vec_id, round({pc0}, {_PCA_OUT_RD}) AS pc_0,
       round({pc1}, {_PCA_OUT_RD}) AS pc_1
FROM embeddings e CROSS JOIN mean m CROSS JOIN v1f p CROSS JOIN v2f q
"""


def _pca_fit(spark, sf_dir):
    """``(mean, components)`` of the embedding corpus (driver floats)."""
    from .operators.similarity import pca_power_components

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pca_power_components(
        emb, n_components=_PCA_C, n_iter=_PCA_ITER, dim=_PCA_DIM,
        round_digits=_PCA_RD,
    )


@_register("embedding_pca_projection", _duck_pca_projection_sql())
def embedding_pca_projection(spark, sf_dir):
    """Top-2 principal components of the embedding corpus by MATRIX-FREE
    power iteration with deflation — PCA without materialising the
    covariance matrix: each Lloyd-style pass ships exactly dim scalars
    to the driver (the k-means discipline), so the fit costs
    n_components x n_iter scans at ANY corpus size; the projection is
    one literal-vector pass, zero shuffle. Output (vec_id, pc_0, pc_1)
    — the ANN prefilter / whitening / visualisation coordinates. The
    oracle replays every iteration: same start vector, same fold
    association, same per-iteration rounding."""
    from .operators.similarity import pca_project

    mu, comps = _pca_fit(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pca_project(emb, mu, comps, round_digits=_PCA_OUT_RD)


def _duck_pca_variance_sql() -> str:
    d = _PCA_DIM
    pc0 = "0.0 + " + " + ".join(
        f"(e.embedding[{j}]::DOUBLE - m.m{j}) * p.c{j}" for j in range(1, d + 1)
    )
    pc1 = "0.0 + " + " + ".join(
        f"(e.embedding[{j}]::DOUBLE - m.m{j}) * q.c{j}" for j in range(1, d + 1)
    )
    trace = " + ".join(
        f"(e.embedding[{j}]::DOUBLE - m.m{j}) * "
        f"(e.embedding[{j}]::DOUBLE - m.m{j})"
        for j in range(1, d + 1)
    )
    return f"""
{_duck_pca_cte()},
proj AS (
  SELECT round({pc0}, {_PCA_OUT_RD}) AS p0,
         round({pc1}, {_PCA_OUT_RD}) AS p1,
         ({trace}) AS sq
  FROM embeddings e CROSS JOIN mean m CROSS JOIN v1f p CROSS JOIN v2f q
)
SELECT round(avg(p0 * p0) - avg(p0) * avg(p0), 4) AS var_pc0,
       round(avg(p1 * p1) - avg(p1) * avg(p1), 4) AS var_pc1,
       round(avg(sq), 4) AS trace,
       round((avg(p0 * p0) - avg(p0) * avg(p0)) / avg(sq), 6) AS share_pc0,
       round((avg(p1 * p1) - avg(p1) * avg(p1)) / avg(sq), 6) AS share_pc1
FROM proj
"""


@_register("embedding_pca_variance", _duck_pca_variance_sql())
def embedding_pca_variance(spark, sf_dir):
    """Explained-variance report for the fitted components: the
    variance captured by each principal direction against the total
    centered variance (the trace) — the one-row summary that says
    whether the corpus HAS dominant directions worth whitening away
    before cosine workloads, or the embedding space is already
    isotropic. One aggregate over the projections; shares round last."""
    from .operators.similarity import pca_project

    mu, comps = _pca_fit(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = pca_project(emb, mu, comps, round_digits=_PCA_OUT_RD)
    v = F.col("embedding").cast("array<double>")
    sq = F.lit(0.0)
    for j in range(_PCA_DIM):
        c = F.get(v, j) - mu[j]
        sq = sq + c * c
    # re-attach the squared centered norm to the projection rows
    both = emb.select("vec_id", sq.alias("sq")).join(proj, on="vec_id")
    var0 = F.avg(F.col("pc_0") * F.col("pc_0")) - F.avg("pc_0") * F.avg("pc_0")
    var1 = F.avg(F.col("pc_1") * F.col("pc_1")) - F.avg("pc_1") * F.avg("pc_1")
    return both.agg(
        F.round(var0, 4).alias("var_pc0"),
        F.round(var1, 4).alias("var_pc1"),
        F.round(F.avg("sq"), 4).alias("trace"),
        F.round(var0 / F.avg("sq"), 6).alias("share_pc0"),
        F.round(var1 / F.avg("sq"), 6).alias("share_pc1"),
    )


# --- community detection: deterministic label propagation -------------------

_LPA_ITER = 3


def _duck_lpa_sql() -> str:
    """Unrolled synchronous label-propagation rounds as DuckDB CTEs over
    the customer-supplier co-purchase graph (the graph_pagerank edge
    build): every node starts as its own label; each round adopts the
    most frequent in-neighbour label (ties -> smallest label); isolated
    nodes keep theirs (none exist on this undirected graph, branch kept
    for formula parity)."""
    parts = ["""
base AS (
  SELECT DISTINCT 2 * o.o_custkey AS c, 2 * l.l_suppkey + 1 AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT c AS src, s AS dst FROM base
      UNION SELECT s, c FROM base),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
l0 AS (SELECT node, node AS community FROM nodes)"""]
    prev = "l0"
    for i in range(1, _LPA_ITER + 1):
        parts.append(f""",
v{i} AS (
  SELECT e.dst AS node, l.community, count(*) AS c
  FROM {prev} l JOIN e ON l.node = e.src GROUP BY 1, 2),
w{i} AS (
  SELECT node, community FROM (
    SELECT node, community,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, community) AS rn
    FROM v{i}) WHERE rn = 1),
l{i} AS (
  SELECT l.node, coalesce(w.community, l.community) AS community
  FROM {prev} l LEFT JOIN w{i} w USING (node))""")
        prev = f"l{i}"
    return ("WITH " + "".join(parts)
            + f"\nSELECT node, community FROM {prev}")


@_register("graph_communities_lpa", _duck_lpa_sql())
def graph_communities_lpa(spark, sf_dir):
    """Deterministic synchronous label propagation over the
    customer-supplier co-purchase graph: after 3 rounds, nodes sharing
    a label form a community — the mesoscale structure between
    triangle counts (local density) and connected components (global
    reachability). Synchronous updates + smallest-label tie-break make
    the result a pure function of the edge set, so the oracle unrolls
    every round. See operators/graph.py:label_propagation."""
    from .operators.graph import label_propagation

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    joined = orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
    edges = joined.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return label_propagation(both, n_iter=_LPA_ITER)


# --- multi-probe LSH --------------------------------------------------------

_MP_PLANES = 8
_MP_DIM = 64
_MP_K = 5
_MP_QUERY_MOD = 50


def _duck_multiprobe_sql() -> str:
    from .operators.similarity import hyperplanes
    from .registry_ext import _DUCK_COS, _duck_plane_sig

    planes = hyperplanes(_MP_PLANES, _MP_DIM)
    sig = _duck_plane_sig(planes, "embedding")
    cos = _DUCK_COS.format(a="q.embedding", b="c.embedding")
    flips = ", ".join(
        f"xor(bucket, {1 << i})" for i in range(_MP_PLANES)
    )
    return f"""
WITH sig AS (
    SELECT vec_id, embedding, {sig} AS bucket FROM embeddings
), probes AS (
    SELECT vec_id AS query_id, embedding,
           unnest([bucket, {flips}]) AS bucket
    FROM sig WHERE vec_id % {_MP_QUERY_MOD} = 0
), scored AS (
    SELECT q.query_id, c.vec_id, {cos} AS cosine_sim
    FROM probes q JOIN sig c USING (bucket)
    WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
FROM scored
QUALIFY row_index <= {_MP_K}
"""


@_register("similarity_lsh_multiprobe", _duck_multiprobe_sql())
def similarity_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH top-5 (Lv et al., VLDB 2007): each query probes
    its own hyperplane bucket plus every Hamming-distance-1 bucket (one
    sign bit flipped) — the buckets a borderline vector most likely
    fell into. Recall rises toward brute force with NO extra hash
    tables and no change to the corpus layout: the corpus still
    carries one signature per vector, the join stays equi on the
    bucket, only the suite-sized query side fans out (n_planes+1)x.
    The recall gain is audited by similarity_multiprobe_recall. Same
    fixed hyperplanes as the LSH family, so the oracle reproduces
    the buckets bit-for-bit."""
    from .operators.similarity import lsh_multiprobe_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _MP_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_multiprobe_cosine_topk(
        emb, queries, k=_MP_K, n_planes=_MP_PLANES, dim=_MP_DIM
    )


def _duck_multiprobe_recall_sql() -> str:
    return f"""
WITH exact AS ({ORACLES['similarity_knn']}),
plain AS ({ORACLES['similarity_lsh_knn']}),
multi AS ({ORACLES['similarity_lsh_multiprobe']}),
approx AS (
    SELECT 'lsh_plain' AS method, query_id, vec_id FROM plain
    UNION ALL
    SELECT 'lsh_multiprobe' AS method, query_id, vec_id FROM multi
), hits AS (
    SELECT method, count(*) AS n_hit FROM approx a
    WHERE EXISTS (SELECT 1 FROM exact e
                  WHERE e.query_id = a.query_id AND e.vec_id = a.vec_id)
    GROUP BY method
)
SELECT method, CAST(n_hit AS BIGINT) AS n_hit,
       CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       round(n_hit / (SELECT count(*) FROM exact), 4) AS recall
FROM hits
"""


@_register("similarity_multiprobe_recall", _duck_multiprobe_recall_sql())
def similarity_multiprobe_recall(spark, sf_dir):
    """Recall@5 of plain single-bucket LSH vs multi-probe LSH against
    the exact top-5, side by side — quantifying what the Hamming-1
    probes buy (multi-probe candidates are a SUPERSET of plain's, so
    its recall is provably >=; the audit shows by how much on this
    corpus). The similarity_recall audit pattern, composed from the
    registered oracles so drift propagates."""
    from .registry_ext import similarity_knn, similarity_lsh_knn

    exact = similarity_knn(spark, sf_dir).select("query_id", "vec_id")
    plain = similarity_lsh_knn(spark, sf_dir).select(
        F.lit("lsh_plain").alias("method"), "query_id", "vec_id"
    )
    multi = similarity_lsh_multiprobe(spark, sf_dir).select(
        F.lit("lsh_multiprobe").alias("method"), "query_id", "vec_id"
    )
    approx = plain.unionByName(multi)
    hits = approx.join(F.broadcast(exact), on=["query_id", "vec_id"]).groupBy(
        "method"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return hits.crossJoin(F.broadcast(n_exact)).select(
        "method",
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
    )


# --- curriculum ordering by LM quality --------------------------------------

_CUR_DECILES = 10


#: decile cut fractions, shared verbatim with the oracle SQL so both
#: engines interpolate the SAME doubles (repr is shortest-roundtrip)
_CUR_FRACS = ", ".join(repr(i / _CUR_DECILES) for i in range(1, _CUR_DECILES))


@_register(
    "pipeline_curriculum_order",
    f"""
WITH kn AS ({{kn_oracle}}),
scored AS (
  SELECT k.doc_id, k.avg_logprob, d.n_chars
  FROM kn k JOIN documents d USING (doc_id)),
cuts AS (
  SELECT list_transform(quantile_cont(round(avg_logprob, 6),
                                      [{_CUR_FRACS}]),
                        x -> round(x, 6)) AS cuts
  FROM scored),
ranked AS (
  SELECT s.avg_logprob, s.n_chars,
         CAST({_CUR_DECILES} - len(list_filter(c.cuts,
              v -> v <= round(s.avg_logprob, 6))) AS INTEGER) AS decile
  FROM scored s, cuts c)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(avg_logprob), 4) AS mean_logprob,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM ranked GROUP BY 1
""".format(kn_oracle=ORACLES["text_kn_trigram_logprob"]),
)
def pipeline_curriculum_order(spark, sf_dir):
    """Curriculum construction end-to-end: Kneser-Ney LM scores (the
    held-out-trained quality signal) order the corpus easiest-first
    (highest log-likelihood) into 10 curriculum stages, and the
    per-stage composition (docs, mean score, characters) is what a
    staged-training data loader consumes. Stage assignment is
    :func:`~hds_functions_spark.functions.layout.bucket_by_quantiles_desc`
    — exact decile cuts in one combinable aggregate, 1-row broadcast,
    codegen filter-count — replacing the r09 global ``ntile()`` whose
    single-partition sort was this pipeline's only non-scale-safe
    stage (boundary ties now share a stage instead of splitting by
    doc_id; stage populations equal up to tie mass). Oracle composes
    the registered KN oracle so drift propagates."""
    from .functions.layout import bucket_by_quantiles_desc
    from .operators.profiling import kn_trigram_logprob_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    train = docs.filter(F.col("doc_id") % _KN_TRAIN_MOD == 0).select(
        "doc_id", "text"
    )
    kn = kn_trigram_logprob_scores(train, docs.select("doc_id", "text"),
                                   discount=_KN_D)
    ranked = bucket_by_quantiles_desc(
        kn.join(docs.select("doc_id", "n_chars"), on="doc_id"),
        "avg_logprob",
        _CUR_DECILES,
        bucket_col="decile",
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


from . import registry_ext7  # noqa: E402,F401  (round-9 continuation)
