"""Extension-layer query registry, part 3 (round-6 additions).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical values
by construction.
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

# --- BM25 retrieval / decontamination-by-retrieval -----------------------

#: BM25 constants shared by the Spark operators and the oracles. Terms
#: are word BIGRAMS: the synthetic corpus has a ~31-word vocabulary where
#: every unigram appears in ~78% of documents (pure stopwords — the
#: df cap correctly drops them all and unigram retrieval is vacuous);
#: bigrams give a 900+-term discriminative vocabulary (median df ~6%).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_MAX_DF = 0.5
_BM25_NGRAM = 2
_BM25_TOPK = 5
_BM25_QUERY_MOD = 101  # doc_id % mod == 0 rows serve as the query set
_BM25_QUERY_TOKENS = 9  # first 9 tokens -> 8 query bigrams
_DECON_THRESHOLD = 9.0

#: DuckDB fragments shared by the BM25 oracles.
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


def _duck_bm25_scored(
    corpus_pred: str | None = None,
    query_pred: str | None = None,
) -> str:
    """Shared CTE chain ending in ``scored(query_id, doc_id, score)`` —
    the oracle mirror of :func:`operators.retrieval.bm25_scores` with
    the registry constants baked in.

    ``corpus_pred``: doc_id predicate restricting the INDEXED corpus
    (postings, lengths, idf stats); None = all documents.
    ``query_pred``: doc_id predicate choosing the query set; None =
    the registry default ``doc_id % _BM25_QUERY_MOD = 0``. Round 10's
    decontam-agreement audit uses both to run all three decontam legs
    on the SAME planted eval split."""
    k1, b = _BM25_K1, _BM25_B
    bg_where = f" WHERE {corpus_pred}" if corpus_pred else ""
    if query_pred is None:
        query_pred = f"doc_id % {_BM25_QUERY_MOD} = 0"
    return f"""
d AS (SELECT doc_id, {_DUCK_TOK} AS t FROM documents),
bg AS (SELECT doc_id, {_duck_bigrams('t')} AS g FROM d{bg_where}),
toks AS (SELECT doc_id, unnest(g) AS term FROM bg),
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n, sum(len(g))::DOUBLE / count(*) AS avgdl
          FROM bg),
df_t AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
kept AS (
  SELECT term, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM df_t CROSS JOIN stats WHERE df <= n * {_BM25_MAX_DF}),
q AS (SELECT doc_id AS query_id, t[1:{_BM25_QUERY_TOKENS}] AS qt
      FROM d WHERE {query_pred}),
qbg AS (SELECT query_id, {_duck_bigrams('qt')} AS g FROM q),
qterms AS (SELECT DISTINCT query_id, unnest(g) AS term FROM qbg),
scored AS (
  SELECT query_id, p.doc_id,
         round(sum(idf * (tf * {k1 + 1}) /
                   (tf + {k1} * ({1 - b} + {b} * dl.dl / avgdl))), 6)
             AS score
  FROM post p JOIN kept USING (term) JOIN qterms USING (term)
  JOIN dl ON p.doc_id = dl.doc_id
  GROUP BY 1, 2)
"""


def _bm25_inputs(spark, sf_dir):
    from .functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(
        F.col("doc_id") % _BM25_QUERY_MOD == 0
    ).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(tokens(F.col("text")), 1, _BM25_QUERY_TOKENS), " "
        ).alias("query_text"),
    )
    return docs, queries


@_register(
    "retrieval_bm25",
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
def retrieval_bm25(spark, sf_dir):
    """Okapi BM25 top-5 retrieval over bigram postings: every ~101st
    document's first 9 tokens serve as a benchmark query against the
    full corpus. Postings build is one explode + one combinable groupBy;
    the scoring join is equi on the term key with the df>50% stopword
    valve bounding fanout (the hot-gram-cap design); query terms
    broadcast; the top-k rank runs over rounded scores and rides
    WindowGroupLimit. Self-retrieval sanity is built in: each query's
    own source document must surface."""
    from .operators.retrieval import bm25_topk

    docs, queries = _bm25_inputs(spark, sf_dir)
    return bm25_topk(
        docs, queries, k=_BM25_TOPK,
        k1=_BM25_K1, b=_BM25_B, max_df_frac=_BM25_MAX_DF,
        term_ngram=_BM25_NGRAM,
    )


@_register(
    "retrieval_decontam",
    f"""
WITH {_duck_bm25_scored()}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       max(score) AS max_score
FROM scored WHERE score >= {_DECON_THRESHOLD} GROUP BY 1
""",
)
def retrieval_decontam(spark, sf_dir):
    """Decontamination-by-retrieval: corpus documents any benchmark
    query retrieves with BM25 >= {threshold} — the flag list a removal
    join consumes (the sparse-retrieval complement to the n-gram-overlap
    decontaminator, catching paraphrase-adjacent leakage n-gram equality
    misses). Same bounded scoring join as retrieval_bm25, then ONE
    combinable aggregate per flagged document."""
    from .operators.retrieval import retrieval_decontam as _op

    docs, queries = _bm25_inputs(spark, sf_dir)
    return _op(
        docs, queries, threshold=_DECON_THRESHOLD,
        k1=_BM25_K1, b=_BM25_B, max_df_frac=_BM25_MAX_DF,
        term_ngram=_BM25_NGRAM,
    )


# --- KMV distinct-count sketch -------------------------------------------

_KMV_K = 256
_KMV_DOMAIN_INT = 1 << 60


@_register(
    "sketch_kmv_distinct",
    f"""
WITH pairs AS (
  SELECT DISTINCT l_returnflag, l_linestatus, l_partkey
  FROM lineitem WHERE l_partkey IS NOT NULL),
h AS (
  SELECT l_returnflag, l_linestatus,
         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT
             / {_KMV_DOMAIN_INT}.0 AS u
  FROM pairs),
sk AS (
  SELECT * FROM h QUALIFY row_number() OVER (
    PARTITION BY l_returnflag, l_linestatus ORDER BY u) <= {_KMV_K}),
agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(*) AS BIGINT) AS n_kept, max(u) AS kth_u
  FROM sk GROUP BY 1, 2),
ex AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY 1, 2)
SELECT a.l_returnflag, a.l_linestatus, n_kept,
       round(kth_u, 9) AS kth_u,
       round(CASE WHEN n_kept < {_KMV_K} THEN n_kept
             ELSE ({_KMV_K} - 1) / kth_u END, 4) AS estimate,
       exact_distinct,
       round(abs(round(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                       ELSE ({_KMV_K} - 1) / kth_u END, 4)
                 - exact_distinct)
             / exact_distinct, 4) AS rel_error
FROM agg a JOIN ex USING (l_returnflag, l_linestatus)
""",
)
def sketch_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch of parts per
    (returnflag, linestatus), k=256, WITH the exact count and relative
    error in the same row — the estimator runs under a measured
    accuracy gate, not on trust (~1.4% observed at sf0.1 vs the
    ~6% 1/sqrt(k-2) bound). The md5-derived 60-bit hash makes the
    estimate bit-reproducible in any SQL engine, unlike HLL's opaque
    binary sketch. Distinct pairs shuffle once (map-side combinable);
    the per-group k-smallest rank rides WindowGroupLimit; everything
    after is bounded by k * n_groups rows. At production scale the
    exact-count audit column runs on samples only — the sketch is the
    product."""
    from .functions.sketches import kmv_distinct

    li = _t(spark, sf_dir, "lineitem")
    gcols = ["l_returnflag", "l_linestatus"]
    est = kmv_distinct(li, "l_partkey", gcols, k=_KMV_K)
    exact = li.groupBy(*gcols).agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return est.join(exact, on=gcols).select(
        *gcols,
        "n_kept",
        "kth_u",
        "estimate",
        "exact_distinct",
        F.round(
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


# --- PageRank (link-structure quality weighting) -------------------------

_PR_ITER = 2
_PR_DAMPING = 0.85
_PR_RD = 9


def _duck_pagerank_sql() -> str:
    """Unrolled power iterations as DuckDB CTEs, mirroring
    :func:`operators.graph.pagerank` exactly: same uniform init, same
    per-iteration rounding to ``_PR_RD`` digits (so later iterations are
    independent of partial-aggregation order), same dangling-mass term
    (identically zero on this undirected graph, kept for formula
    parity)."""
    d = _PR_DAMPING
    parts = [f"""
base AS (
  SELECT DISTINCT 2 * o.o_custkey AS c, 2 * l.l_suppkey + 1 AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT c AS src, s AS dst FROM base
      UNION SELECT s, c FROM base),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
n AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / n.n, {_PR_RD}) AS rank
       FROM nodes CROSS JOIN n)"""]
    prev = "r0"
    for i in range(1, _PR_ITER + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS node, sum(r.rank * (1.0 / deg.deg)) AS cin
  FROM {prev} r JOIN e ON r.node = e.src JOIN deg ON e.src = deg.src
  GROUP BY 1),
d{i} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
  WHERE node NOT IN (SELECT src FROM deg)),
r{i} AS (
  SELECT nodes.node,
         round({1 - d} / n.n
               + {d} * (coalesce(cin, 0) + dm / n.n), {_PR_RD}) AS rank
  FROM nodes LEFT JOIN c{i} USING (node)
  CROSS JOIN n CROSS JOIN d{i})""")
        prev = f"r{i}"
    return "WITH " + "".join(parts) + f"\nSELECT node, rank FROM {prev}"


@_register("graph_pagerank", None)  # oracle attached below
def graph_pagerank(spark, sf_dir):
    """PageRank over the undirected customer-supplier co-purchase graph
    (edges = distinct (customer, supplier) pairs connected through an
    order, both directions; node ids are integers — customers even,
    suppliers odd) — the link-structure quality weighting a
    crawl pipeline applies at domain level. Each of the 2 power
    iterations is one equi-join on the pre-partitioned persisted edge
    frame + one combinable groupBy; dangling mass is a broadcast scalar
    frame (zero here — every node has out-edges — but the term is
    computed, not assumed); per-iteration rounding makes the DuckDB
    unrolled-CTE oracle reproduce every iteration bit-for-bit."""
    from .operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # integer node ids — customers on even, suppliers on odd — instead
    # of string prefixes: int64 keys shuffle, hash and compare several
    # times cheaper than strings across every stage of the iteration
    # no .distinct() here: the pagerank operator dedups its edge input
    # anyway, so a pre-distinct would just add a full 600k-row shuffle
    pairs = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        (2 * F.col("o_custkey")).alias("c"),
        (2 * F.col("l_suppkey") + 1).alias("s"),
    )
    # both directions from ONE scan (an explode, not a self-union — the
    # union spelling re-ran the orders x lineitem join once per branch)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return pagerank(
        edges, n_iter=_PR_ITER, damping=_PR_DAMPING, round_digits=_PR_RD
    )


ORACLES["graph_pagerank"] = _duck_pagerank_sql()


# --- leakage-safe train/val/test split -----------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


@_register("split_leakage_safe", None)  # oracle attached below
def split_leakage_safe(spark, sf_dir):
    """Cluster-aware corpus split: every near-duplicate family (the
    MinHash+CC clusters table) moves to ONE split, so a
    benchmark built from the test split cannot be contaminated by a
    train-side near-copy. Emits per-split document and group counts plus
    ``n_straddling`` — components spanning more than one split, zero by
    construction, computed (not assumed) so the oracle verifies the
    guarantee itself. One id-equi-join against the cluster map + a pure
    hash projection; the audit is two tiny aggregates."""
    from .caching import tracked_persist
    from .operators.sampling import leakage_safe_split
    from .registry_ext import _clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # the split feeds both the per-split counts and the straddle audit
    clusters = tracked_persist(
        _clusters(spark, sf_dir).select("doc_id", "component")
    )
    s = leakage_safe_split(docs, clusters, "doc_id", _SPLIT_WEIGHTS)
    straddle = (
        s.groupBy("_split_group")
        .agg(F.countDistinct("split").alias("_ns"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_ns") > 1, 1)), F.lit(0)
            ).cast("long").alias("n_straddling")
        )
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_split_group").alias("n_groups"),
        )
        .crossJoin(F.broadcast(straddle))
    )


def _duck_split_sql() -> str:
    from .operators.sampling import hash_split_sql

    case = hash_split_sql("coalesce(c.component, d.doc_id)", _SPLIT_WEIGHTS)
    return f"""
WITH comp AS (SELECT * FROM ({ORACLES["dedup_clusters_cc"]})),
s AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS g, {case} AS split
  FROM documents d LEFT JOIN comp c USING (doc_id)),
str AS (
  SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 END), 0) AS BIGINT)
             AS n_straddling
  FROM (SELECT g, count(DISTINCT split) AS ns FROM s GROUP BY g))
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT g) AS BIGINT) AS n_groups, n_straddling
FROM s CROSS JOIN str GROUP BY split, n_straddling
"""


ORACLES["split_leakage_safe"] = _duck_split_sql()


# --- HLL distinct-count sketch -------------------------------------------


def _duck_hll_sql() -> str:
    """Oracle mirror of :func:`functions.sketches.hll_distinct` over the
    same groups/column as the KMV query, with the exact-count audit. The
    alpha*m^2 constant is embedded via Python float repr so both engines
    parse the identical double; rho uses the binary-string length of the
    integer tail — no float log2."""
    from .functions.sketches import _HLL_ALPHA, _HLL_M, _HLL_TAIL_BITS

    am2 = repr(_HLL_ALPHA * _HLL_M * _HLL_M)
    t = _HLL_TAIL_BITS
    return f"""
WITH h AS (
  SELECT l_returnflag, l_linestatus,
         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h60
  FROM lineitem WHERE l_partkey IS NOT NULL),
rt AS (
  SELECT l_returnflag, l_linestatus,
         h60 >> {t} AS b, h60 & {(1 << t) - 1} AS tail
  FROM h),
regs AS (
  SELECT l_returnflag, l_linestatus, b,
         max(CASE WHEN tail = 0 THEN {t + 1}
             ELSE {t + 1} - length(format('{{:b}}', tail)) END) AS m
  FROM rt GROUP BY 1, 2, 3),
folded AS (
  SELECT l_returnflag, l_linestatus,
         sum(power(2.0, -m)) AS sum_present,
         CAST(count(*) AS BIGINT) AS present
  FROM regs GROUP BY 1, 2),
est AS (
  SELECT l_returnflag, l_linestatus, present,
         {am2} / (sum_present + ({_HLL_M} - present)) AS raw,
         {_HLL_M} - present AS zeros
  FROM folded),
fin AS (
  SELECT l_returnflag, l_linestatus, present,
         CASE WHEN raw <= {2.5 * _HLL_M} AND zeros > 0
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / zeros)
              ELSE raw END AS estimate
  FROM est),
ex AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY 1, 2)
SELECT f.l_returnflag, f.l_linestatus,
       present AS n_registers,
       round(estimate, 4) AS estimate,
       exact_distinct,
       round(abs(round(estimate, 4) - exact_distinct) / exact_distinct, 4)
           AS rel_error
FROM fin f JOIN ex USING (l_returnflag, l_linestatus)
"""


@_register("sketch_hll_distinct", None)  # oracle attached below
def sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct parts per (returnflag, linestatus) with
    explicit register arithmetic — the MERGEABLE counterpart to
    sketch_kmv_distinct: per-group state is exactly 256 registers at any
    cardinality and both aggregates are map-side combinable (no window,
    no distinct-pair shuffle), which is the grouped-profiling shape that
    wins at 100 TB. Same exact-count audit columns (~10% observed error
    at sf0.1 — within 2 sigma of the 1.04/sqrt(256) bound, correlated
    across groups because they share one partkey universe); the oracle
    recomputes every register and the Flajolet small-range correction
    bit-for-bit."""
    from .functions.sketches import hll_distinct

    li = _t(spark, sf_dir, "lineitem")
    gcols = ["l_returnflag", "l_linestatus"]
    est = hll_distinct(li, "l_partkey", gcols)
    exact = li.groupBy(*gcols).agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return est.join(exact, on=gcols).select(
        *gcols,
        "n_registers",
        "estimate",
        "exact_distinct",
        F.round(
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


ORACLES["sketch_hll_distinct"] = _duck_hll_sql()


# --- fuzzy record linkage ------------------------------------------------

_FUZZY_MAX_DIST = 2

_DUCK_FUZZY_BASE = r"""
names AS (
  SELECT DISTINCT lower(trim(p_name)) AS n FROM part
  WHERE p_name IS NOT NULL AND lower(trim(p_name)) != ''),
toks AS (
  SELECT DISTINCT n, unnest(string_split_regex(n, '\s+')) AS tok
  FROM names),
cand AS (
  SELECT DISTINCT a.n AS name_a, b.n AS name_b
  FROM toks a JOIN toks b USING (tok) WHERE a.n < b.n),
fuzzy AS (
  SELECT name_a, name_b,
         CAST(levenshtein(name_a, name_b) AS INTEGER) AS distance
  FROM cand WHERE levenshtein(name_a, name_b) <= {maxd})
""".replace("{maxd}", str(_FUZZY_MAX_DIST))


@_register(
    "fuzzy_name_pairs",
    f"""
WITH {_DUCK_FUZZY_BASE}
SELECT name_a, name_b, distance FROM fuzzy
""",
)
def fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance record linkage over the part-name dictionary:
    near-identical name pairs (Levenshtein <= 2) among DISTINCT
    normalised names — the quadratic-ish work runs on the
    name vocabulary (64 strings here, scale-independent), never the
    corpus rows; candidates come from shared-token blocking; the exact
    distance verifies only candidates. Both engines compute the same
    built-in Levenshtein."""
    from .operators.linkage import fuzzy_name_pairs as _op

    return _op(
        _t(spark, sf_dir, "part"), "p_name", max_distance=_FUZZY_MAX_DIST
    )


@_register(
    "fuzzy_canonical_entities",
    f"""
WITH RECURSIVE {_DUCK_FUZZY_BASE},
sym AS (
  SELECT name_a AS src, name_b AS dst FROM fuzzy
  UNION SELECT name_b, name_a FROM fuzzy),
reach(src, dst) AS (
  SELECT n, n FROM names
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
cmap AS (
  SELECT src AS name, min(dst) AS canonical_name FROM reach GROUP BY src),
parts AS (
  SELECT lower(trim(p_name)) AS name, count(*) AS n_parts
  FROM part WHERE p_name IS NOT NULL GROUP BY 1)
SELECT c.canonical_name,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(sum(p.n_parts) AS BIGINT) AS n_parts
FROM cmap c JOIN parts p USING (name)
GROUP BY 1
""",
)
def fuzzy_canonical_entities(spark, sf_dir):
    """Entity canonicalisation end-to-end: fuzzy pairs -> connected
    components over the name graph (transitive closure, so chains of
    variants collapse even when the chain ends exceed the distance
    bound; canonical = lexicographic min) -> corpus rows rejoin the
    dictionary-sized map by exact key. Output: one row per entity with
    its variant and part counts. The CC loop reuses the
    large-star/small-star machinery and runs over a vocabulary-sized
    frame that does not grow with the corpus."""
    from .operators.linkage import canonical_name_map

    part = _t(spark, sf_dir, "part")
    cmap = canonical_name_map(part, "p_name", max_distance=_FUZZY_MAX_DIST)
    per_name = (
        part.filter(F.col("p_name").isNotNull())
        .select(F.lower(F.trim(F.col("p_name"))).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    return (
        cmap.join(per_name, on="name")
        .groupBy("canonical_name")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.sum("n_parts").alias("n_parts"),
        )
    )


# --- compaction planning -------------------------------------------------

_COMPACT_TARGET = 256_000_000  # ~3 day-files per bin at the test scales


@_register(
    "layout_compaction_plan",
    f"""
WITH manifest AS (
  SELECT date_trunc('month', o_orderdate)::DATE AS part_month,
         CAST(date_part('day', o_orderdate) AS BIGINT) AS file_id,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS size_bytes
  FROM orders GROUP BY 1, 2),
binned AS (
  SELECT *,
         CAST(floor(coalesce(sum(size_bytes) OVER (
             PARTITION BY part_month
             ORDER BY size_bytes DESC, file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / {_COMPACT_TARGET}) AS BIGINT) AS bin
  FROM manifest)
SELECT part_month, file_id, size_bytes, bin,
       CAST(sum(size_bytes) OVER (PARTITION BY part_month, bin) AS BIGINT)
           AS bin_bytes,
       CAST(count(*) OVER (PARTITION BY part_month, bin) AS BIGINT)
           AS bin_files
FROM binned
""",
)
def layout_compaction_plan(spark, sf_dir):
    """Small-files compaction plan over a synthetic per-day file
    manifest (one 'file' per order day, size = that day's revenue in
    cents): running-sum sequential-fill bins of ~256MB per month
    partition — the lakehouse OPTIMIZE planning step. The manifest is
    metadata-sized at any table size, so the per-partition window is
    over file counts; integer running sums and floor division are
    engine-exact, no rounding knobs needed."""
    from .functions.layout import plan_compaction

    orders = _t(spark, sf_dir, "orders")
    manifest = (
        orders.select(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("part_month"),
            F.dayofmonth("o_orderdate").cast("long").alias("file_id"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("_cents"),
        )
        .groupBy("part_month", "file_id")
        .agg(F.sum("_cents").alias("size_bytes"))
    )
    return plan_compaction(
        manifest,
        size_col="size_bytes",
        file_col="file_id",
        target_bytes=_COMPACT_TARGET,
        partition_cols=["part_month"],
    )


# --- conversion attribution ----------------------------------------------

_ATTR_LOOKBACK = 86400  # 1 day
_ATTR_CONV = "purchase"
_ATTR_TOUCHES = ("click", "view")


@_register(
    "events_attribution",
    f"""
WITH conv AS (
  SELECT user_id AS k, event_id AS cid, epoch_us(ts) AS cus
  FROM events WHERE event_type = '{_ATTR_CONV}'),
touch AS (
  SELECT user_id AS k, event_type AS tt, event_id AS tid,
         epoch_us(ts) AS tus
  FROM events WHERE event_type IN {_ATTR_TOUCHES!r}),
pairs AS (
  SELECT c.cid, t.tt, t.tid, t.tus
  FROM conv c JOIN touch t USING (k)
  WHERE t.tus < c.cus AND t.tus >= c.cus - {_ATTR_LOOKBACK * 1_000_000}),
linear AS (
  SELECT tt, cid,
         1.0::DOUBLE / count(*) OVER (PARTITION BY cid) AS credit
  FROM pairs),
last_t AS (
  SELECT tt, cid, 1.0::DOUBLE AS credit FROM (
    SELECT *, row_number() OVER (PARTITION BY cid
                                 ORDER BY tus DESC, tid DESC) AS rn
    FROM pairs) WHERE rn = 1)
SELECT 'linear' AS model, tt AS event_type,
       CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
       round(sum(credit), 6) AS total_credit
FROM linear GROUP BY 2
UNION ALL
SELECT 'last_touch', tt, CAST(count(DISTINCT cid) AS BIGINT),
       round(sum(credit), 6)
FROM last_t GROUP BY 2
""",
)
def events_attribution(spark, sf_dir):
    """Conversion attribution over the event stream: purchases credit
    their preceding click/view touches within a 1-day lookback, under
    the linear (1/n) and last-touch models side by side — the
    marketing-analytics staple. The conversion-touch pairing is a
    BINNED range join (equi on (key, lookback bucket), each conversion
    probing two buckets), so fanout is bounded by in-window touch
    density, never a per-key cross product; last-touch prunes via
    WindowGroupLimit; each report is one combinable aggregate."""
    from .operators.events import attribute_conversions

    ev = _t(spark, sf_dir, "events")
    out = []
    for model in ("linear", "last_touch"):
        out.append(
            attribute_conversions(
                ev,
                conversion_type=_ATTR_CONV,
                touch_types=_ATTR_TOUCHES,
                lookback_seconds=_ATTR_LOOKBACK,
                model=model,
            ).select(F.lit(model).alias("model"), "*")
        )
    return out[0].unionByName(out[1])


# --- BPE merge training --------------------------------------------------

_BPE_MERGES = 5


def _duck_bpe_parts() -> str:
    """Shared unrolled BPE CTE chain (mirrors :mod:`operators.bpe`: the
    same two-space separator protocol, the same literal non-overlapping
    ``replace`` merge rewrite, the same (count DESC, pair ASC) argmax).
    Ends with ``w{_BPE_MERGES}`` = the fully-merged word dictionary and
    ``b{i}`` = each step's chosen merge."""
    parts = [f"""
wf AS (
  SELECT word, count(*) AS n FROM (
    SELECT unnest({_DUCK_TOK}) AS word FROM documents)
  GROUP BY 1),
w0 AS (
  SELECT word, n,
         '  ' || array_to_string(string_split(word, ''), '  ') || '  '
             AS sym
  FROM wf)"""]
    for i in range(1, _BPE_MERGES + 1):
        parts.append(f""",
p{i} AS (
  SELECT t[j] AS a, t[j + 1] AS b, sum(n) AS cnt
  FROM (SELECT n, string_split(trim(sym), '  ') AS t FROM w{i - 1}),
       UNNEST(generate_series(1, len(t) - 1)) AS u(j)
  GROUP BY 1, 2),
b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
w{i} AS (
  SELECT word, n, replace(sym, ' ' || b.a || '  ' || b.b || ' ',
                          ' ' || b.a || b.b || ' ') AS sym
  FROM w{i - 1}, b{i} b)""")
    return "".join(parts)


def _duck_bpe_sql() -> str:
    sel = [
        f"SELECT {i} AS step, a AS merge_left, b AS merge_right,\n"
        f"       CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    ]
    return "WITH " + _duck_bpe_parts() + "\n" + "\nUNION ALL\n".join(sel)


@_register("text_bpe_train", None)  # oracle attached below
def text_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training: the first 5 merge rules
    learned from the corpus word-frequency dictionary — the full
    iterative loop, not just one step's pair counts. The corpus
    collapses to its vocabulary in one aggregate; each step is an
    explode + combinable groupBy + a 1-row argmax broadcast back, and
    the merge rewrite is the two-space-separator ``replace`` protocol
    (exact greedy left-to-right BPE, identical in any SQL engine), so
    the WHOLE training run is one lazy plan with no per-step driver
    collect. The oracle unrolls the same 5 steps and must reproduce the
    merge table exactly."""
    from .operators.bpe import bpe_train_merges

    return bpe_train_merges(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
    )


ORACLES["text_bpe_train"] = _duck_bpe_sql()


@_register("text_bpe_encode", None)  # oracle attached below
def text_bpe_encode(spark, sf_dir):
    """The trained tokenizer applied back to the corpus: per document,
    word count, subword count under the 5 learned merges, and
    subwords-per-word — the compression metric a vocabulary is judged
    by. The dictionary (word -> subword count after all merges) is
    vocabulary-sized and joins the exploded corpus words equi-key; the
    oracle re-derives the same merges and the same dictionary in SQL,
    so a drift anywhere in the training chain surfaces here too."""
    from .operators.bpe import bpe_encode_stats

    return bpe_encode_stats(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
    )


ORACLES["text_bpe_encode"] = f"""
WITH {_duck_bpe_parts()},
final_dict AS (
  SELECT word, len(string_split(trim(sym), '  ')) AS n_sub
  FROM w{_BPE_MERGES}),
doc_words AS (
  SELECT doc_id, unnest({_DUCK_TOK}) AS word FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       round(sum(n_sub)::DOUBLE / count(*), 6) AS subwords_per_word
FROM doc_words JOIN final_dict USING (word)
GROUP BY 1
"""


# --- incremental (new-batch vs corpus) dedup -----------------------------

_INC_MOD = 10       # doc_id % 10 == 0 plays the nightly ingest batch
_INC_MIN_J = 0.25


@_register("dedup_incremental", None)  # oracle attached below
def dedup_incremental(spark, sf_dir):
    """Continuous-ingest dedup: MinHash-LSH candidates where at least
    one side is in the new batch (every 10th doc), probing the standing
    corpus's bucket table — corpus x corpus work is never repeated, so
    each ingest pays cost proportional to ITS size, the only dedup
    shape that survives a continuously-growing 100 TB corpus. Output
    distinguishes within-batch pairs from batch-vs-corpus pairs."""
    from .operators.dedup import minhash_pairs_incremental
    from .registry_ext import _MH_BANDS, _MH_NUM_HASHES, _MH_SHINGLE

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % _INC_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _INC_MOD != 0)
    return minhash_pairs_incremental(
        new, corpus,
        num_hashes=_MH_NUM_HASHES, shingle_size=_MH_SHINGLE,
        bands=_MH_BANDS, min_jaccard=_INC_MIN_J,
    )


def _duck_incremental_sql() -> str:
    return f"""
WITH base AS (SELECT * FROM ({ORACLES["dedup_minhash_pairs"]})),
f AS (SELECT * FROM base
      WHERE (id_a % {_INC_MOD} = 0 OR id_b % {_INC_MOD} = 0)
        AND est_jaccard >= {_INC_MIN_J})
SELECT CASE WHEN id_a % {_INC_MOD} = 0 THEN id_a ELSE id_b END AS id_a,
       CASE WHEN id_a % {_INC_MOD} = 0 THEN id_b ELSE id_a END AS id_b,
       NOT (id_a % {_INC_MOD} = 0 AND id_b % {_INC_MOD} = 0)
           AS cross_batch,
       est_jaccard
FROM f
"""


ORACLES["dedup_incremental"] = _duck_incremental_sql()


# --- session path mining -------------------------------------------------

_PATH_STEPS = 5
_PATH_TOP = 10


@_register(
    "events_top_paths",
    f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
), paths AS (
  SELECT user_id, session_id,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:{_PATH_STEPS}],
           ' > ') AS path
  FROM sess GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT {_PATH_TOP}
""",
)
def events_top_paths(spark, sf_dir):
    """Top user journeys: the 10 most common first-5-event-type session
    paths (30-minute sessions) — 'what do users actually do'. One key
    shuffle to sessionise, one per-session aggregate whose state caps at
    the path prefix, a combinable path count, and a distributed
    TakeOrdered finish."""
    from .operators.events import top_session_paths

    return top_session_paths(
        _t(spark, sf_dir, "events"),
        gap_seconds=1800, max_steps=_PATH_STEPS, top_n=_PATH_TOP,
    )


# --- count-min frequency sketch ------------------------------------------

_CM_TOP = 10


def _duck_countmin_sql() -> str:
    from .functions.sketches import _CM_DEPTH, _CM_WIDTH

    def cm_col(expr, j):
        return (
            f"('0x' || substr(md5({expr} || '#{j}'), 1, 15))::BIGINT"
            f" % {_CM_WIDTH}"
        )

    cell_rows = "\nUNION ALL\n".join(
        f"SELECT {j} AS cm_row, {cm_col('l_partkey::VARCHAR', j)} AS cm_col"
        f" FROM lineitem WHERE l_partkey IS NOT NULL"
        for j in range(_CM_DEPTH)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT l_partkey, {j} AS cm_row,"
        f" {cm_col('l_partkey::VARCHAR', j)} AS cm_col FROM top"
        for j in range(_CM_DEPTH)
    )
    return f"""
WITH cells AS ({cell_rows}),
sketch AS (
  SELECT cm_row, cm_col, count(*) AS cm_count FROM cells GROUP BY 1, 2),
exact AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_count
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
top AS (
  SELECT l_partkey, exact_count FROM exact
  ORDER BY exact_count DESC, l_partkey LIMIT {_CM_TOP}),
probes AS ({probe_rows}),
est AS (
  SELECT p.l_partkey, min(coalesce(s.cm_count, 0)) AS estimate
  FROM probes p LEFT JOIN sketch s USING (cm_row, cm_col)
  GROUP BY 1)
SELECT t.l_partkey, CAST(e.estimate AS BIGINT) AS estimate,
       t.exact_count,
       e.estimate >= t.exact_count AS never_underestimates
FROM top t JOIN est e USING (l_partkey)
"""


@_register("sketch_countmin_topk", None)  # oracle attached below
def sketch_countmin_topk(spark, sf_dir):
    """Count-min frequency sketch over part keys: the 3x256-counter
    table is fixed-size and mergeable at ANY input size (one explode +
    one combinable groupBy), and the query point-reads it for the 10
    most frequent parts WITH their exact counts and the classic
    never-underestimates guarantee as a computed column — the sketch's
    defining property is oracle-verified, not assumed. At 100 TB the
    sketch is the only thing that moves; the exact side here is the
    audit."""
    from .functions.sketches import count_min_lookup, count_min_table

    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    sketch = count_min_table(li, "l_partkey")
    exact = (
        li.filter(F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    top = exact.orderBy(
        F.col("exact_count").desc(), F.col("l_partkey")
    ).limit(_CM_TOP)
    est = count_min_lookup(sketch, top.select("l_partkey"), "l_partkey")
    return top.join(est, on="l_partkey").select(
        "l_partkey",
        "estimate",
        "exact_count",
        (F.col("estimate") >= F.col("exact_count")).alias(
            "never_underestimates"
        ),
    )


ORACLES["sketch_countmin_topk"] = _duck_countmin_sql()


from . import registry_ext4  # noqa: E402,F401  (round-7 registrations)
