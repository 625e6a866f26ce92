"""Deduplication operators for large-scale corpus curation.

Extension layer (SURVEY.md §7): exact dedup, duplicate-group audit,
MinHash+LSH near-dup candidate generation, n-gram Jaccard similarity, and
SimHash — all as compositions of built-in DataFrame operators and JVM-side
expressions (zero Python UDFs), using the portable hash from
``functions.hashing`` so every result is oracle-checkable in DuckDB.

Scale notes (100 TB design):

- exact dedup is a window ``row_number()==1`` keyed by the dedup key —
  one hash-partition exchange; Catalyst compiles the filter to
  ``WindowGroupLimit`` so each map task pre-prunes to one row per key.
- MinHash signatures are computed in a single projection (array
  expressions over shingles, no shuffle); LSH banding explodes to
  ``bands`` rows per doc (bounded, controlled) and groups by band hash —
  candidate pairs never require the quadratic cross join.
- n-gram Jaccard is exact and quadratic in *candidate* pairs only: it
  joins on shared shingles, so disjoint documents never pair up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE_PRIME_31,
    minhash_permutation_constants,
    stable_hash64,
)
from ..functions.partitioning import ensure_min_partitions
from ..functions.text import char_ngrams, tokens, word_ngrams

__all__ = [
    "exact_dedup",
    "duplicate_groups",
    "minhash_signatures",
    "minhash_pairs",
    "minhash_pairs_incremental",
    "split_paragraphs",
    "minhash_pairs_subdoc",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "duplicated_ngram_stats",
    "add_simhash",
    "simhash_pairs",
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_incremental",
    "connected_components",
    "dedup_clusters",
    "degree_distribution",
    "winnowing_fingerprints",
    "source_overlap_matrix",
    "winnowing_overlap_pairs",
    "winnowing_overlap_incremental",
    "exact_substring_spans",
    "exact_substring_spans_incremental",
    "remove_duplicate_spans",
]


def exact_dedup(
    df: DataFrame, subset: list[str], id_col: str, keep: str = "min"
) -> DataFrame:
    """Keep exactly one row per distinct ``subset`` value — deterministically
    the one with the smallest (``keep='min'``) or largest (``'max'``)
    ``id_col``, unlike ``dropDuplicates`` which keeps an arbitrary row.
    """
    assert keep in ("min", "max"), "keep must be 'min' or 'max'"
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    w = Window.partitionBy(*subset).orderBy(order)
    return (
        df.withColumn("_dedup_rn", F.row_number().over(w))
        .filter(F.col("_dedup_rn") == 1)
        .drop("_dedup_rn")
    )


def duplicate_groups(df: DataFrame, subset: list[str], id_col: str) -> DataFrame:
    """Audit table: one row per duplicated ``subset`` value with the group
    size and the id that :func:`exact_dedup` would keep."""
    return (
        df.groupBy(*subset)
        .agg(
            F.count("*").alias("n_rows"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_rows") > 1)
    )


# --- MinHash -------------------------------------------------------------

def _shingle_hashes(text_col: Column, shingle_size: int) -> Column:
    """Distinct char-shingle hashes of lowercased text, reduced mod p."""
    shingles = F.array_distinct(char_ngrams(F.lower(text_col), shingle_size))
    return F.transform(shingles, lambda s: stable_hash64(s) % MERSENNE_PRIME_31)


#: Skew guard for the LSH band joins (guide §2.5): a bucket with n rows
#: emits ~n^2/2 candidate pairs from ONE join key — skew that AQE cannot
#: fix, because both its skew-join splitter and its partition coalescing
#: are shuffle-BYTE based while this skew lives in join OUTPUT (the r17
#: skew probe, recorded in OPTIMIZATION_r17.md, measured a 4000-row hot
#: bucket as a SINGLE 35 s task emitting 16M rows while 31 cores idled,
#: with `aqe_skew_reader_fired: false`). Buckets above this row count
#: are split into an S x S grid of sub-join cells (S = ceil(n / chunk)):
#: every row gets a deterministic home cell index pmod(xxhash64(id), S);
#: the probe side replicates across grid COLUMNS and the build side
#: across grid ROWS, so a pair (a, b) meets in EXACTLY ONE cell
#: (home(a), home(b)) and the bucket's quadratic work spreads over S^2
#: join keys/tasks. Buckets at or below the chunk keep S == 1 — the
#: single cell (0, 0), no replication, byte-identical pair set.
_LSH_BUCKET_CHUNK = 1024


#: Deterministic sampling rate for hot-bucket detection: counting every
#: bucket exactly would re-run the full signature pass for the count
#: branch (a third concurrent consumer racing the sigs persist —
#: profiled r17: task time +28%/+84% on dedup_minhash_pairs /
#: dedup_incremental). The id-hash predicate pushes BELOW the signature
#: projection to the scan, so the detection branch reads 1/R of the
#: corpus. Estimation noise is harmless by construction: the grid is
#: pair-set-identical for ANY consistent per-bucket S >= 1 — S only
#: shapes parallelism. A bucket must be ~R rows past the chunk before
#: detection is even statistically visible, exactly the regime where
#: splitting matters.
_LSH_HOT_SAMPLE = 64


def _hot_buckets(banded, id_col: str, chunk: "int | None" = None):
    """``(band, band_hash, _s)`` for buckets ABOVE the chunk only (see
    ``_LSH_BUCKET_CHUNK``; resolved at call time so tests can lower the
    module constants to force the grid on small corpora). Bucket sizes
    are ESTIMATED from a deterministic 1/``_LSH_HOT_SAMPLE`` id-hash
    sample (see that constant's doc). Filtered to hot buckets, the
    frame is tiny on any realistic corpus and the planner broadcasts it
    from runtime stats — the common (no hot bucket) path adds no
    shuffle to the banded flow itself."""
    if chunk is None:
        chunk = _LSH_BUCKET_CHUNK
    r = _LSH_HOT_SAMPLE
    return (
        banded.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(r)) == 0)
        .groupBy("band", "band_hash")
        .agg((F.count(F.lit(1)) * F.lit(r)).alias("_n"))
        .filter(F.col("_n") > chunk)
        .select(
            "band",
            "band_hash",
            F.ceil(F.col("_n") / F.lit(chunk)).cast("int").alias("_s"),
        )
    )


#: Driver-side cap on detected hot buckets: the detection collect must
#: stay bounded. The LARGEST buckets win the cap (deterministic order);
#: buckets beyond it simply stay unsplit — still correct, just not
#: parallelised. 64k hot buckets is far past any real corpus.
_LSH_HOT_CAP = 65536


def _detect_hot_buckets(banded, id_col: str):
    """Run the (sampled, bounded) hot-bucket detection EAGERLY and
    return a LITERAL ``(band, band_hash, _s)`` frame, or ``None`` when
    no bucket crosses the chunk.

    Eager-literal on purpose (the trainer/literal-rewrite pattern): a
    lazy detection subtree + runtime broadcast joins measured 0.72-0.88x
    on UNSKEWED corpora (r17 matched A/Bs — +6 AQE jobs and a third
    concurrent consumer of the signature persist), a steep tax on the
    common path for a defense that almost never fires. With the literal
    frame the no-hot-bucket path keeps the exact pre-grid join shape
    and pays ONE sampled detection job; the hot path joins a
    LocalRelation the planner broadcasts without extra jobs."""
    hot = _hot_buckets(banded, id_col)
    rows = (
        hot.orderBy(F.col("_s").desc(), "band", "band_hash")
        .limit(_LSH_HOT_CAP)
        .collect()
    )
    if not rows:
        return None
    return banded.sparkSession.createDataFrame(rows, hot.schema)


def _attach_grid(banded, hot, id_col: str):
    """Attach grid columns ``(_s, _home)`` via a left join to the hot
    frame: ``_s == 1`` (single cell, no replication) everywhere except
    hot buckets."""
    s = F.coalesce(F.col("_s"), F.lit(1))
    return banded.join(hot, on=["band", "band_hash"], how="left").select(
        *[c for c in banded.columns],
        s.alias("_s"),
        F.pmod(F.xxhash64(F.col(id_col)), s).cast("int").alias("_home"),
    )


def _grid_cells():
    """``explode(sequence(0, _s - 1))`` — the replication generator for
    one grid axis (a 1-element sequence when ``_s == 1``)."""
    return F.explode(F.sequence(F.lit(0), F.col("_s") - F.lit(1)))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 5,
) -> DataFrame:
    """(id, signature array<long>) — one min per universal-hash permutation.

    Single narrow projection: shingle -> hash -> H permutation minima, all
    array expressions. Documents shorter than the shingle size get an
    all-null signature (no shingles). The shingle-hash array is
    ``let_``-bound so the md5 shingle pass runs ONCE per document, not
    once per permutation (the projected-alias spelling re-evaluated it
    ``num_hashes`` times — measured 2.05x end-to-end at sf0.1; see
    functions/exprs.py).
    """
    from ..functions.sqlexpr import minhash_signature_sql, quote_ident

    constants = minhash_permutation_constants(num_hashes)
    # SQL-text rendering (one F.expr parse) of the let_-bound
    # shingle-hash + per-permutation array_min tree the Column API used
    # to build in O(num_hashes) py4j round trips — ~0.7 s of driver
    # time per call at num_hashes=32. Same expressions, same results;
    # identity pinned by tests/test_sqlexpr.py.
    sig = F.expr(
        minhash_signature_sql(
            quote_ident(text_col), shingle_size, constants,
            MERSENNE_PRIME_31,
        )
    )
    return df.select(F.col(id_col), sig.alias("signature"))


def minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 5,
    bands: int = 8,
    min_jaccard: float = 0.0,
    persist_signatures: bool = True,
) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard similarity.

    Signature split into ``bands`` bands of ``num_hashes // bands`` rows;
    documents agreeing on any full band become candidates (grouped by a
    band-content hash — no cross join). Output: ``id_a < id_b``,
    ``est_jaccard`` = fraction of agreeing signature positions, filtered to
    ``>= min_jaccard``.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows_per_band = num_hashes // bands
    # Documents shorter than the shingle size have no shingles: their
    # signature is all-null, every band hash collapses to hash('') and ALL
    # such docs land in one LSH bucket — a quadratic blowup of spurious
    # candidates (est_jaccard 0). Exclude them up front; they simply cannot
    # be near-duplicates under this measure.
    df = df.filter(F.length(F.col(text_col)) >= shingle_size)
    # widen thin inputs: the md5 shingle hashing below is the expensive part
    # and must not run on one input split (ensure_min_partitions is a no-op
    # on already-parallel inputs)
    sigs_raw = minhash_signatures(
        ensure_min_partitions(df), id_col, text_col, num_hashes, shingle_size
    )
    sigs = sigs_raw
    if persist_signatures:
        # the signature table is consumed four times (two band-join branches
        # + two re-attach joins); persisting computes the md5 shingle
        # work once. MEMORY_AND_DISK: signatures are ~num_hashes longs per
        # doc — tiny next to the corpus — and spill rather than OOM.
        # Tracked: release_operator_caches() reclaims it post-materialise.
        from ..caching import tracked_persist

        sigs = tracked_persist(sigs_raw)

    # band hash via concat_ws over element_at — plain (codegen-able)
    # expressions, unlike a slice/transform/array_join HOF chain which
    # falls back to interpreted evaluation; SQL-text rendered (one
    # F.expr parse per band instead of ~3 py4j round trips per element)
    from ..functions.sqlexpr import band_hash_sql

    def band_hash(b: int):
        return F.expr(
            band_hash_sql(
                "`signature`",
                b * rows_per_band + 1,
                (b + 1) * rows_per_band,
            )
        )

    def _banded(src):
        return src.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            band_hash(b).alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bh"),
        ).select(id_col, "bh.band", "bh.band_hash")

    banded = _banded(sigs)

    # join on ids only — signatures would bloat the shuffle; they are
    # re-attached afterwards from the signature table. The re-attach join
    # carries NO broadcast hint: the signature table grows with the corpus
    # (broadcast is impossible at billions of docs), so the planner/AQE
    # size-gates the strategy from real stats — broadcast below
    # autoBroadcastJoinThreshold, shuffle join on id above it.
    # hot-bucket salt grid (_LSH_BUCKET_CHUNK / _detect_hot_buckets
    # docs): pair (a, b) meets in exactly one cell (home(a), home(b)),
    # so the pair SET is identical to the ungridded join; with no hot
    # bucket detected (every realistic corpus) the join shape below is
    # byte-identical to the ungridded one
    # detection reads the UNPERSISTED signature frame: through the
    # persisted one the cache barrier blocks the 1/64 sample pushdown
    # (adjudicated r17: all three spellings — baseline, detection via
    # persisted sigs, detection via raw sigs — profile within +-0.3 s
    # cold at sf0.1; raw-sigs detection has the lowest task time)
    hot = _detect_hot_buckets(_banded(sigs_raw), id_col)
    if hot is None:
        left = banded.select(
            F.col(id_col).alias("id_a"), "band", "band_hash"
        )
        right = banded.select(
            F.col(id_col).alias("id_b"), "band", "band_hash"
        )
        join_key = ["band", "band_hash"]
    else:
        gridded = _attach_grid(banded, hot, id_col)
        left = gridded.select(
            F.col(id_col).alias("id_a"),
            "band",
            "band_hash",
            F.col("_home").alias("_x"),
            _grid_cells().alias("_y"),
        )
        right = gridded.select(
            F.col(id_col).alias("id_b"),
            "band",
            "band_hash",
            _grid_cells().alias("_x"),
            F.col("_home").alias("_y"),
        )
        join_key = ["band", "band_hash", "_x", "_y"]
    pairs = (
        left.join(right, on=join_key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = (agree.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard")
    return (
        pairs.join(sig_a, on="id_a")
        .join(sig_b, on="id_b")
        .select("id_a", "id_b", est)
        .filter(F.col("est_jaccard") >= min_jaccard)
    )


def split_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_pattern: str = "\n\n+",
    min_chars: int = 1,
    pos_col: str = "para_pos",
    para_col: str = "para",
) -> DataFrame:
    """Explode documents into ``(id, para_pos, para)`` paragraph rows.

    ``split_pattern`` is a regex (default: blank-line paragraph breaks);
    paragraphs are trimmed and those shorter than ``min_chars`` dropped
    (their position numbering still reflects the ORIGINAL split, so
    surviving paragraphs stay addressable within the source document).
    Pure ``posexplode`` over a split — one narrow generator, no shuffle.
    """
    return (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), split_pattern)).alias(
                pos_col, para_col
            ),
        )
        .withColumn(para_col, F.trim(F.col(para_col)))
        .filter(F.length(F.col(para_col)) >= min_chars)
    )


def minhash_pairs_subdoc(
    paras: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "para_pos",
    para_col: str = "para",
    para_stride: int = 1_000_000,
    num_hashes: int = 32,
    shingle_size: int = 5,
    bands: int = 8,
    min_jaccard: float = 0.0,
    cross_doc_only: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pairs at SUB-document granularity with doc
    re-attach — MassiveText-style paragraph dedup (Rae et al. 2021 run
    near-dedup below document level so a copied boilerplate block or
    syndicated paragraph is caught even when the surrounding documents
    differ): feed ``(doc, pos, paragraph)`` rows (from
    :func:`split_paragraphs` or any custom segmentation), get back
    ``(doc_a, pos_a, doc_b, pos_b, est_jaccard)``.

    The paragraph key is packed as ``doc_id * para_stride + pos`` so the
    WHOLE :func:`minhash_pairs` engine (banded LSH, band-hash groupBy —
    never a cross join — persist discipline, thin-input widening) is
    reused verbatim on a single long key, then unpacked. CONTRACT:
    ``0 <= pos < para_stride`` and ``doc_id >= 0`` (violations raise at
    plan execution via the guarded projection below, not silently).

    ``cross_doc_only=True`` (default) drops same-document pairs — the
    MassiveText use case; pass False to also surface within-doc repeats.
    Slice identity: on a corpus where every document is one paragraph,
    output == :func:`minhash_pairs` on the documents (tested).

    100 TB plan shape: identical to :func:`minhash_pairs` — paragraph
    explosion multiplies ROWS but every shuffle still carries fixed-width
    keys/signatures; pair work stays proportional to band collisions.
    """
    pid = F.col(id_col).cast("long") * F.lit(para_stride) + F.col(pos_col)
    guarded = F.when(
        (F.col(pos_col) >= 0)
        & (F.col(pos_col) < para_stride)
        & (F.col(id_col) >= 0),
        pid,
    ).otherwise(
        F.raise_error(
            F.format_string(
                "minhash_pairs_subdoc: key out of contract "
                "(doc_id=%s, pos=%s, stride="
                + str(para_stride) + ")",
                F.col(id_col).cast("string"),
                F.col(pos_col).cast("string"),
            )
        )
    )
    packed = paras.select(
        guarded.alias("_pid"), F.col(para_col).alias("_ptext")
    )
    pairs = minhash_pairs(
        packed,
        id_col="_pid",
        text_col="_ptext",
        num_hashes=num_hashes,
        shingle_size=shingle_size,
        bands=bands,
        min_jaccard=min_jaccard,
    )
    # integer DIV, not float division: packed keys approach 2^63 long
    # before a double (2^53 mantissa) could round the quotient
    out = pairs.select(
        F.expr(f"id_a DIV {para_stride}").alias("doc_a"),
        (F.col("id_a") % para_stride).cast("int").alias("pos_a"),
        F.expr(f"id_b DIV {para_stride}").alias("doc_b"),
        (F.col("id_b") % para_stride).cast("int").alias("pos_b"),
        "est_jaccard",
    )
    if cross_doc_only:
        out = out.filter(F.col("doc_a") != F.col("doc_b"))
    return out


# --- connected components (pair graph -> duplicate clusters) -------------

def _star_contraction_loop(
    edges, checksum, prev, max_iterations, local_finish_edges=0
):
    """Alternate large-star / small-star until the edge-set checksum is
    stable or the set shrinks below ``local_finish_edges``; returns
    ``(edges, last_checksum)``."""
    for _ in range(max_iterations):
        # large-star: for every node u, attach each strictly-larger
        # neighbor to min(N(u) ∪ {u})
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large_min = sym.groupBy("u").agg(F.min("v").alias("_mv"))
        large_min = large_min.select(
            "u", F.least(F.col("_mv"), F.col("u")).alias("m")
        )
        edges = (
            sym.filter(F.col("v") > F.col("u"))
            .join(large_min, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: on (u > v)-oriented edges, attach u and all its
        # smaller neighbors to the minimum smaller neighbor
        small_min = edges.groupBy("u").agg(F.min("v").alias("m"))
        joined = edges.join(small_min, on="u")
        edges = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(joined.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        cur = checksum(edges)
        if cur == prev:
            prev = cur
            break
        prev = cur
        if prev[0] <= local_finish_edges:
            break
    return edges, prev


def _local_union_find(edges: DataFrame, id_col: str, component_col: str) -> DataFrame:
    """Finish a small edge set with a single-task union-find (``mapInPandas``
    over ``coalesce(1)``) — executor-side, not a driver collect. Used once
    distributed contraction has shrunk the graph below the local-finish
    threshold; emits (id, component=min id of component) for every node
    that appears in an edge."""
    from pyspark.sql.types import StructField, StructType

    dtype = edges.schema["u"].dataType
    schema = StructType(
        [StructField(id_col, dtype), StructField(component_col, dtype)]
    )

    def uf(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min so the root IS the component min
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
        seen = set(parent)
        import pandas as pd

        out = [(x, find(x)) for x in seen]
        roots = {r for _, r in out}
        out.extend((r, r) for r in roots if r not in seen)
        yield pd.DataFrame(out, columns=[id_col, component_col])

    return edges.coalesce(1).mapInPandas(uf, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    component_col: str = "component",
    max_iterations: int = 25,
    local_finish_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components of the undirected pair graph: ``(id, component)``
    where ``component`` is the minimum id in the node's component.

    Completes the dedup dataflow: candidate *pairs* (minhash / simhash /
    embedding LSH) -> transitive duplicate *clusters* -> keep one canonical
    doc per cluster. Implemented with the alternating **large-star /
    small-star** algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014): each round hangs every node onto the
    minimum of its neighborhood, halving tree heights, so convergence takes
    O(log^2 n) rounds regardless of component diameter — unlike plain
    min-label propagation whose round count is the graph diameter (a chain
    of near-dup docs at 100 TB can be very deep).

    Per round: two hash-partition shuffles (groupBy u + join on u), both on
    the same key, and a ``localCheckpoint`` to truncate lineage (iterative
    plans otherwise grow exponentially; swap for reliable ``checkpoint()``
    with a checkpoint dir on a real cluster). Convergence is detected by an
    edge-set checksum (count + bit_xor of xxhash64) — one tiny aggregate per
    round instead of a shuffle-heavy ``except``.

    ``nodes`` (optional, one ``id_col`` column) adds the full id universe so
    rows that never appear in a pair come out as singleton components
    (``component = id``).

    No reference-library counterpart (the reference has no graph ops);
    extension layer per SURVEY.md §7.
    """
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(e: DataFrame):
        # bit_xor, not sum: summing 64-bit hashes overflows long and raises
        # ARITHMETIC_OVERFLOW under ANSI mode (Spark 4 default). XOR is
        # order-independent and never overflows; edges are distinct so pairs
        # cannot cancel by multiplicity, and count catches the rest.
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = checksum(edges)
    if prev[0] > local_finish_edges:
        # Distributed star contraction, sized to the measured edge count
        # (known for free from the checksum), capped at the session setting:
        # ~100k edges per partition. On a 100 TB pair graph this leaves the
        # session value untouched. Scoped to the loop, restored in finally.
        spark = pairs.sparkSession
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        loop_parts = max(1, min(session_parts, -(-prev[0] // 100_000)))
        if loop_parts != session_parts:
            spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        try:
            edges, prev = _star_contraction_loop(
                edges, checksum, prev, max_iterations, local_finish_edges
            )
        finally:
            if loop_parts != session_parts:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(session_parts)
                )

    if 0 < prev[0] <= local_finish_edges:
        # small enough for one task: finish with an executor-side union-find
        # (single mapInPandas job instead of ~1 s of planning latency per
        # remaining contraction round)
        labels = _local_union_find(edges, id_col, component_col)
    else:
        # converged edge set is a star forest: (node, component-min) per
        # non-root node; roots label themselves
        labels = edges.groupBy("u").agg(F.min("v").alias(component_col))
        labels = labels.select(
            F.col("u").alias(id_col), component_col
        ).unionByName(
            edges.select(
                F.col("v").alias(id_col), F.col("v").alias(component_col)
            )
        ).distinct()
        # collapse to the minimum label per id (v-side self-labels also
        # exist for internal nodes' targets)
        labels = labels.groupBy(id_col).agg(
            F.min(component_col).alias(component_col)
        )
    if nodes is not None:
        universe = nodes.select(F.col(nodes.columns[0]).alias(id_col)).distinct()
        labels = universe.join(labels, on=id_col, how="left").select(
            id_col,
            F.coalesce(F.col(component_col), F.col(id_col)).alias(component_col),
        )
    return labels


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 5,
    bands: int = 8,
    min_jaccard: float = 0.5,
    max_iterations: int = 25,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs at
    ``est_jaccard >= min_jaccard`` -> connected components -> one row per
    input doc with its ``component`` (cluster id = min doc_id in cluster)
    and ``is_canonical`` (the doc every other cluster member duplicates).
    Docs outside every pair are singleton components of themselves.
    """
    pairs = minhash_pairs(
        df.filter(F.length(text_col) >= shingle_size),
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_size=shingle_size,
        bands=bands,
        min_jaccard=min_jaccard,
    )
    comps = connected_components(
        pairs,
        nodes=df.select(id_col),
        id_col=id_col,
        max_iterations=max_iterations,
    )
    return comps.withColumn(
        "is_canonical", (F.col(id_col) == F.col("component"))
    )


# --- exact n-gram Jaccard ------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    min_jaccard: float = 0.5,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word n-grams, for every pair
    of documents sharing at least one n-gram (others have similarity 0).

    Plan: explode distinct shingles -> drop hot grams (document frequency
    above ``max_doc_freq``) -> self-equi-join on shingle (pairs co-grouped
    by shingle hash, no cross join) -> per-pair intersection count ->
    per-doc shingle counts re-join -> Jaccard = |A∩B| / (|A|+|B|-|A∩B|).
    Output id_a < id_b with ``jaccard``.

    ``max_doc_freq`` is the hot-gram guard (mirror of
    ``contamination.ngram_contamination``'s ``max_eval_df``): the self-join
    emits O(df²) pairs per gram, so one boilerplate trigram present in most
    documents degenerates the join toward all-pairs. Capping df bounds
    per-gram fanout at ``max_doc_freq²`` while dropping only grams that
    carry no discriminative signal. The Jaccard is then computed over the
    KEPT grams on both sides (intersection and per-doc counts use the same
    capped gram set, so the ratio stays a true Jaccard over that set).
    Pass ``None`` to disable (exact classic Jaccard; unsafe at corpus
    scale).
    """
    inter, na, nb = _capped_gram_pair_counts(
        df, id_col, text_col, ngram, max_doc_freq
    )
    jac = (
        inter.join(na, on="id_a")
        .join(nb, on="id_b")
        .withColumn(
            "jaccard",
            F.col("_n_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_n_inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return jac


def _capped_gram_pair_counts(df, id_col, text_col, ngram, max_doc_freq):
    """Shared candidate machinery for the n-gram pair similarities:
    distinct-shingle explode -> hot-gram df cap -> gram-keyed self-join
    intersection counts + per-doc gram counts (aliased for both join
    directions). Returns (inter, na, nb)."""
    if max_doc_freq is not None and max_doc_freq < 2:
        raise ValueError(f"max_doc_freq must be >= 2 (got {max_doc_freq})")
    toks = tokens(F.col(text_col))
    df = ensure_min_partitions(df)  # parallelise the n-gram explode
    shingled = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(word_ngrams(toks, ngram))).alias("_gram"),
    )
    if max_doc_freq is not None:
        # df-per-gram via window count: one extra exchange on the gram table
        # (already shuffling on _gram for the self-join), no driver collect.
        w = Window.partitionBy("_gram")
        shingled = (
            shingled.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    gram_counts = shingled.groupBy("_id").agg(F.count("*").alias("_n_grams"))

    a = shingled.select(F.col("_id").alias("id_a"), "_gram")
    b = shingled.select(F.col("_id").alias("id_b"), "_gram")
    inter = (
        a.join(b, on="_gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_n_inter"))
    )
    na = gram_counts.select(
        F.col("_id").alias("id_a"), F.col("_n_grams").alias("_na")
    )
    nb = gram_counts.select(
        F.col("_id").alias("id_b"), F.col("_n_grams").alias("_nb")
    )
    return inter, na, nb


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    min_containment: float = 0.5,
    max_doc_freq: int | None = 10_000,
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric n-gram containment for every candidate pair:
    ``containment(A in B) = |A ∩ B| / |A|`` over distinct word n-grams —
    the quote/clone direction Jaccard hides (a short document fully
    embedded in a long one scores low Jaccard but containment 1.0,
    which is exactly what decontamination and quote-detection need).

    Output ``(id_a, id_b, containment_a_in_b, containment_b_in_a)`` with
    ``id_a < id_b``, kept when EITHER direction rounds to >=
    ``min_containment``. Same capped-gram candidate plan as
    :func:`ngram_jaccard_pairs` (shared machinery): hot-gram df cap
    bounds the self-join fanout, and both containments come from the
    one intersection count re-joined to the per-doc gram counts.
    """
    inter, na, nb = _capped_gram_pair_counts(
        df, id_col, text_col, ngram, max_doc_freq
    )
    out = (
        inter.join(na, on="id_a")
        .join(nb, on="id_b")
        .withColumn(
            "containment_a_in_b",
            F.round(F.col("_n_inter") / F.col("_na"), round_digits),
        )
        .withColumn(
            "containment_b_in_a",
            F.round(F.col("_n_inter") / F.col("_nb"), round_digits),
        )
        .filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= min_containment
        )
        .select(
            "id_a", "id_b", "containment_a_in_b", "containment_b_in_a"
        )
    )
    return out


def duplicated_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document duplicated n-gram fractions — the corpus-level
    exact-substring duplication signal (the "dedup training data at the
    substring level" filter from the dedup literature; C4/RefinedWeb-style
    pipelines drop or trim documents whose text is largely spans that also
    appear elsewhere).

    For every document with at least ``ngram`` tokens: ``n_grams`` (total
    word-n-gram instances), ``n_dup_grams`` (instances whose n-gram occurs
    more than once corpus-wide — in another document or repeated in this
    one), ``n_cross_dup_grams`` (instances whose n-gram occurs in >= 2
    distinct documents), and the two fractions. High ``cross_dup_fraction``
    = boilerplate/mirror candidate; high ``dup_fraction`` with low cross =
    internally repetitive (cf. ``add_repetition_stats``, which is
    within-doc only and needs no shuffle).

    Plan shape: n-grams are hashed to 60-bit longs BEFORE the exchange
    (the shuffle carries (gram_hash, id, count) — fixed-width rows, never
    the gram text, whose width grows with ``ngram``); per-(gram, doc)
    pre-aggregation makes the gram-level aggregate's input one row per
    distinct (gram, doc), so a pathological 10^6-instance gram in one doc
    is ONE shuffle row. Gram stats re-attach on the same gram-hash key
    (co-partitioned join, no broadcast of anything corpus-sized), then one
    id-keyed aggregate. Costs three exchanges, all on bounded-width rows —
    the corpus-frequency join is irreducible for a cross-document signal.
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1 (got {ngram})")
    df = ensure_min_partitions(df)  # parallelise the n-gram explode
    instances = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_ngrams(tokens(F.col(text_col)), ngram)).alias("_gram"),
    ).select("_id", stable_hash64(F.col("_gram")).alias("_gh"))
    per_doc_gram = instances.groupBy("_gh", "_id").agg(
        F.count("*").alias("_c")
    )
    gram_stats = per_doc_gram.groupBy("_gh").agg(
        F.sum("_c").alias("_total"), F.count("*").alias("_n_docs")
    )
    dup = F.when(F.col("_total") > 1, F.col("_c")).otherwise(F.lit(0))
    cross = F.when(F.col("_n_docs") >= 2, F.col("_c")).otherwise(F.lit(0))
    return (
        per_doc_gram.join(gram_stats, on="_gh")
        .groupBy("_id")
        .agg(
            F.sum("_c").alias("n_grams"),
            F.sum(dup).alias("n_dup_grams"),
            F.sum(cross).alias("n_cross_dup_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_dup_grams",
            "n_cross_dup_grams",
            F.round(
                F.col("n_dup_grams") / F.col("n_grams"), round_digits
            ).alias("dup_fraction"),
            F.round(
                F.col("n_cross_dup_grams") / F.col("n_grams"), round_digits
            ).alias("cross_dup_fraction"),
        )
    )


# --- SimHash -------------------------------------------------------------

def add_simhash(
    df: DataFrame,
    text_col: str = "text",
    simhash_col: str = "simhash",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash over whitespace tokens (default 32 bits).

    For each bit position j: sum +1/-1 over token hashes' j-th bit; bit set
    iff the sum is positive. Pure array expressions (bits × tokens adds) —
    fine for curation-sized texts; a Pandas-UDF variant would be the pick
    if profiling ever showed this projection dominating.

    Deliberately NOT ``let_``-bound (functions/exprs.py): an A/B at
    sf0.1 measured the let_ spelling 2.7x SLOWER here — the projected
    ``_sh_hashes`` alias is non-cheap and multiply-referenced, so
    CollapseProject already keeps it materialised once, and the
    1-element-array wrapper only forces the 32 aggregates down the
    interpreted path. let_ pays off when the re-evaluation actually
    happens (winnowing's per-window lambda, minhash's per-permutation
    transform) — measure before applying it.
    """
    token_hashes = F.transform(tokens(F.col(text_col)), stable_hash64)
    df = df.withColumn("_sh_hashes", token_hashes)

    def bit_vote(j: int):
        # +1 if bit j of the token hash is set, else -1 (shift amounts must
        # be Python ints — Spark's shiftright doesn't take a Column)
        return lambda s, h: s + (F.shiftright(h, j).bitwiseAND(1) * 2 - 1)

    simhash = None
    for j in range(bits):
        vote = F.aggregate(F.col("_sh_hashes"), F.lit(0).cast("long"), bit_vote(j))
        term = F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return df.withColumn(simhash_col, simhash).drop("_sh_hashes")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    band_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Candidate generation by banding the simhash into ``bits/band_bits``
    chunks (pigeonhole: any pair within distance < #bands shares a chunk),
    then exact ``bit_count(xor)`` verification — no cross join.
    """
    assert bits % band_bits == 0
    n_bands = bits // band_bits
    # Token-less documents all hash to simhash 0 and would pair up
    # quadratically at hamming 0 (same failure mode as shingle-less docs in
    # minhash_pairs) — they cannot be meaningful near-dups, drop them.
    df = df.filter(F.size(tokens(F.col(text_col))) >= 1)
    df = ensure_min_partitions(df)  # parallelise the bit-vote projection
    hashed = add_simhash(df, text_col, "simhash", bits).select(
        F.col(id_col), "simhash"
    )
    mask = (1 << band_bits) - 1
    banded = hashed.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(mask)
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select(id_col, "simhash", "bc.band", "bc.chunk")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "chunk"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "chunk"
    )
    return (
        a.join(b, on=["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- embedding-cosine near-dup ------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_planes: int = 8,
    bands: int = 2,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity, found without a
    quadratic self-join: sign-bit signatures against ``n_planes`` fixed
    hyperplanes are split into ``bands`` bands (minhash-style banding for
    cosine LSH); rows pairing up in *any* band are candidates, then exact
    cosine is computed and pairs below ``threshold`` are dropped.

    Output: (id_a, id_b, cosine_sim) with id_a < id_b, distinct.

    Scale notes: each row expands to exactly ``bands`` rows (bounded fanout,
    no skew amplification); the band-bucket equi-join shuffles on
    (band, band_bits) so only same-bucket rows meet. Recall < 1 by design —
    raise ``bands``/lower bits-per-band to trade cost for recall. The
    whole dataflow is built-in expressions (oracle-checkable).
    """
    assert n_planes % bands == 0, "n_planes must divide evenly into bands"
    from .similarity import cosine_similarity, hyperplanes, plane_signature

    planes = hyperplanes(n_planes, dim)
    rows_per_band = n_planes // bands
    df = ensure_min_partitions(df)  # parallelise the per-plane dot products
    sig = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        *[
            plane_signature(
                vec_col, planes[b * rows_per_band : (b + 1) * rows_per_band]
            ).alias(f"_band_{b}")
            for b in range(bands)
        ],
    )
    # consumed by two band-join branches + two vector re-attach joins:
    # persist so the per-plane dot products run once (tracked:
    # release_operator_caches() reclaims it post-materialise)
    from ..caching import tracked_persist

    sig = tracked_persist(sig)

    banded = None
    for b in range(bands):
        part = sig.select(
            "_id",
            F.lit(b).alias("_band"),
            F.col(f"_band_{b}").alias("_band_bits"),
        )
        banded = part if banded is None else banded.unionByName(part)

    # candidate generation on ids only (vectors would bloat the band-join
    # shuffle); vectors re-attached for the exact-cosine verify. The band
    # join's inputs are byte-tiny but its within-bucket pair expansion is
    # the quadratic part — pin an explicit hash partitioning so AQE's
    # byte-based coalescing can't serialise it onto two tasks.
    par = df.sparkSession.sparkContext.defaultParallelism
    banded = banded.repartition(par, "_band", "_band_bits")
    a = banded.select(F.col("_id").alias("id_a"), "_band", "_band_bits")
    b_side = banded.select(F.col("_id").alias("id_b"), "_band", "_band_bits")
    pairs = (
        a.join(b_side, on=["_band", "_band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # explicit repartition: candidate rows are two ids (tiny), so AQE
        # coalesces them onto a couple of tasks — but each row still costs a
        # dim-length dot product below. Spread the compute, not the bytes.
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    # vector re-attach without a broadcast hint: the vector table grows with
    # the corpus, so the planner/AQE size-gates broadcast vs shuffle join
    # from real stats (broadcast only below autoBroadcastJoinThreshold).
    va = sig.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va"))
    vb = sig.select(F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"))
    return (
        pairs.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "cosine_sim",
            F.round(cosine_similarity(F.col("_va"), F.col("_vb")), round_digits),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_near_dup_pairs_incremental(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_planes: int = 8,
    bands: int = 2,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Incremental embedding near-dup detection: banded hyperplane-LSH
    candidate pairs where at least one side comes from ``new_batch`` —
    the continuous-ingest shape of :func:`embedding_near_dup_pairs`,
    completing the family (:func:`minhash_pairs_incremental` for
    MinHash, winnowing/exact-span/novelty likewise): a nightly
    embedding batch checks against itself AND the standing corpus, but
    corpus x corpus work (already done when those vectors arrived) is
    NOT repeated — only the new batch probes the band buckets, so
    candidate cost is |new| x bucket-density, never |corpus|^2. Ids
    must be disjoint across the frames.

    Output: ``(id_a, id_b, cross_batch, cosine_sim)`` with
    ``id_a < id_b`` for new-new pairs and ``id_a`` = the new vector
    for new-corpus pairs (``cross_batch`` distinguishes them), exact
    cosine verified at ``threshold``. The hyperplanes are FIXED
    literals (the family's determinism contract), so signatures never
    drift between ingests — at scale keep the corpus band table
    persisted/bucketed on (band, bits) and each batch pays its own
    probe only.
    """
    assert n_planes % bands == 0, "n_planes must divide evenly into bands"
    from .similarity import cosine_similarity, hyperplanes, plane_signature

    planes = hyperplanes(n_planes, dim)
    rows_per_band = n_planes // bands

    def sig_of(df):
        return ensure_min_partitions(df).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            *[
                plane_signature(
                    vec_col,
                    planes[b * rows_per_band : (b + 1) * rows_per_band],
                ).alias(f"_band_{b}")
                for b in range(bands)
            ],
        )

    from ..caching import tracked_persist

    new_sig = tracked_persist(sig_of(new_batch))
    corpus_sig = tracked_persist(sig_of(corpus))

    def banded(sig):
        out = None
        for b in range(bands):
            part = sig.select(
                "_id",
                F.lit(b).alias("_band"),
                F.col(f"_band_{b}").alias("_band_bits"),
            )
            out = part if out is None else out.unionByName(part)
        return out

    probe = banded(new_sig).select(
        F.col("_id").alias("id_a"), "_band", "_band_bits"
    )
    # build side = corpus buckets + the batch's own buckets (so the batch
    # dedups against itself); the corpus is never self-joined
    build = (
        banded(corpus_sig)
        .withColumn("_new", F.lit(False))
        .unionByName(banded(new_sig).withColumn("_new", F.lit(True)))
        .select(F.col("_id").alias("id_b"), "_band", "_band_bits", "_new")
    )
    par = new_batch.sparkSession.sparkContext.defaultParallelism
    pairs = (
        probe.repartition(par, "_band", "_band_bits")
        .join(build, on=["_band", "_band_bits"])
        # new-new pairs appear in both orientations: keep id_a < id_b;
        # new-corpus pairs keep the new vector as id_a unconditionally
        .filter(
            (~F.col("_new") & (F.col("id_a") != F.col("id_b")))
            | (F.col("_new") & (F.col("id_a") < F.col("id_b")))
        )
        .select("id_a", "id_b", (~F.col("_new")).alias("cross_batch"))
        .distinct()
        .repartition(par)
    )
    va = new_sig.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va"))
    all_sig = corpus_sig.unionByName(new_sig)
    vb = all_sig.select(F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"))
    return (
        pairs.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "cosine_sim",
            F.round(
                cosine_similarity(F.col("_va"), F.col("_vb")), round_digits
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cross_batch", "cosine_sim")
    )


def degree_distribution(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Degree histogram of an undirected pair list: for each node degree,
    how many nodes have it — the similarity-graph shape check run before
    clustering (a heavy tail here predicts hot components and skewed
    connected-components rounds; a spike at high degree usually means a
    degenerate band/shingle, cf. the one-bucket blowup guard).

    Output ``(degree, n_nodes)``; nodes appearing in no pair are absent.
    Plan shape: symmetrise by union -> two map-side-combinable counts.
    Both exchanges carry at most one row per node / per distinct degree.
    """
    sym = pairs.select(F.col(id_a).alias("node")).unionAll(
        pairs.select(F.col(id_b).alias("node"))
    )
    degrees = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return degrees.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def minhash_pairs_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 5,
    bands: int = 8,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Incremental near-dup detection: MinHash-LSH candidate pairs where
    at least one side comes from ``new_docs`` — the continuous-ingest
    shape. A nightly batch must be checked against itself AND the
    standing corpus, but the corpus x corpus work (already done when
    those docs arrived) must NOT be repeated: the banded join here puts
    ONLY the new batch on the probe side, so candidate generation costs
    |new| x bucket-density instead of |corpus|^2. Output: ``(id_a,
    id_b, est_jaccard, cross_batch)`` with ``id_a < id_b`` for
    new-new pairs and ``id_a`` = the new doc for new-corpus pairs
    (``cross_batch`` distinguishes them). Ids must be disjoint across
    the two frames.

    At 100 TB this is THE dedup shape that matters: the corpus side
    needs only its banded bucket table (in practice persisted/bucketed
    once and reused per batch), and each ingest pays work proportional
    to its own size.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows_per_band = num_hashes // bands

    def prep(df):
        filtered = df.filter(F.length(F.col(text_col)) >= shingle_size)
        return minhash_signatures(
            ensure_min_partitions(filtered), id_col, text_col,
            num_hashes, shingle_size,
        )

    from ..caching import tracked_persist

    new_sigs_raw = prep(new_docs)
    corpus_sigs_raw = prep(corpus)
    new_sigs = tracked_persist(new_sigs_raw)
    corpus_sigs = tracked_persist(corpus_sigs_raw)

    from ..functions.sqlexpr import band_hash_sql

    def band_hash(b: int):
        return F.expr(
            band_hash_sql(
                "`signature`",
                b * rows_per_band + 1,
                (b + 1) * rows_per_band,
            )
        )

    def banded(sigs):
        return sigs.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            band_hash(b).alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bh"),
        ).select(id_col, "bh.band", "bh.band_hash")

    # build side = corpus buckets + the new batch's own buckets (so the
    # batch dedups against itself); the corpus is never self-joined
    build_all = (
        banded(corpus_sigs)
        .withColumn("_new", F.lit(False))
        .unionByName(banded(new_sigs).withColumn("_new", F.lit(True)))
    )
    # eager-literal hot-bucket detection exactly as in minhash_pairs
    # (see _detect_hot_buckets): grid size from the BUILD side
    # (everything a probe row can match); both sides take the same
    # per-bucket S via the shared literal frame, so pair (a, b) meets
    # once at (home(a), home(b)). A standing-corpus hot bucket is THE
    # skew case for continuous ingest — every nightly batch re-joins it.
    # detection reads the UNPERSISTED signature frames (cache-barrier
    # pushdown note in minhash_pairs)
    hot = _detect_hot_buckets(
        banded(corpus_sigs_raw).unionByName(banded(new_sigs_raw)), id_col
    )
    if hot is None:
        probe = banded(new_sigs).select(
            F.col(id_col).alias("id_a"), "band", "band_hash"
        )
        build = build_all.select(
            F.col(id_col).alias("id_b"), "band", "band_hash", "_new"
        )
        join_key = ["band", "band_hash"]
    else:
        probe = _attach_grid(banded(new_sigs), hot, id_col).select(
            F.col(id_col).alias("id_a"),
            "band",
            "band_hash",
            F.col("_home").alias("_x"),
            _grid_cells().alias("_y"),
        )
        build = _attach_grid(build_all, hot, id_col).select(
            F.col(id_col).alias("id_b"),
            "band",
            "band_hash",
            "_new",
            _grid_cells().alias("_x"),
            F.col("_home").alias("_y"),
        )
        join_key = ["band", "band_hash", "_x", "_y"]
    pairs = (
        probe.join(build, on=join_key)
        # new-new pairs would appear in both orientations: keep id_a<id_b;
        # new-corpus pairs keep the new doc as id_a unconditionally
        .filter(
            (~F.col("_new") & (F.col("id_a") != F.col("id_b")))
            | (F.col("_new") & (F.col("id_a") < F.col("id_b")))
        )
        .select("id_a", "id_b", (~F.col("_new")).alias("cross_batch"))
        .distinct()
    )
    sig_a = new_sigs.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
    )
    all_sigs = corpus_sigs.unionByName(new_sigs)
    sig_b = all_sigs.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = (agree.cast("double") / F.lit(float(num_hashes))).alias(
        "est_jaccard"
    )
    return (
        pairs.join(sig_a, on="id_a")
        .join(sig_b, on="id_b")
        .select("id_a", "id_b", "cross_batch", est)
        .filter(F.col("est_jaccard") >= min_jaccard)
    )


#: Karp-Rabin gram-hash constants shared with the SQL oracle: base 131
#: over character code points, modulo the 40-bit prime 2^40 - 87 —
#: (P-1)*131 + 0x10FFFF < 2^48, so the fold never overflows int64 in
#: either engine.
WINNOW_BASE = 131
WINNOW_PRIME = (1 << 40) - 87


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_size: int = 8,
    window: int = 8,
) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): per document, the set of window-minimum
    k-gram hashes. The guarantee that makes it the SUBSTRING-level
    dedup/plagiarism primitive: any shared substring of length
    ``gram_size + window - 1`` or more contributes at least one
    IDENTICAL fingerprint to both documents, while the selected set is
    ~2/(window+1) of all grams — position-robust (unlike the whole-doc
    :func:`functions.text.add_fingerprint`) and sample-sparse (unlike
    full n-gram shingling).

    Since only fingerprint VALUES enter the output set (positions are
    discarded), tie-breaking inside a window is irrelevant and the
    whole selection is one ``array_min(slice(...))`` per window — pure
    JVM-side higher-order functions over the per-doc hash array, no
    shuffle, no UDF; the per-doc cost is O(n * window) with
    ``window`` a small constant. The gram hash is an UNROLLED
    Karp-Rabin polynomial over character codes (base 131 mod the
    40-bit prime 2^40-87 — overflow-free in int64, identical integer
    arithmetic in any SQL engine): measured ~4x cheaper than the
    md5-derived hash here, because the per-gram cost is k
    multiply-mods instead of an md5 block plus a base-16 string parse,
    and it is the gram hash that dominates this operator.

    Documents shorter than ``gram_size + window - 1`` characters (no
    full window) are excluded — the same convention as MinHash's
    minimum-shingle-length filter. Output: distinct ``(doc_id,
    fingerprint)`` rows.
    """
    if gram_size < 1:
        raise ValueError(f"gram_size must be >= 1 (got {gram_size})")
    if window < 1:
        raise ValueError(f"window must be >= 1 (got {window})")
    min_len = gram_size + window - 1

    # let_-bound intermediates: without it the char-code and gram-hash
    # arrays are re-evaluated inside every consuming lambda — O(n^2)
    # hashing per document (see functions/exprs.py; measured minutes ->
    # seconds on this operator)
    from ..functions.exprs import let_

    def _gram_hash(codes, i):
        h = F.element_at(codes, i).cast("long")
        for j in range(1, gram_size):
            h = (h * WINNOW_BASE + F.element_at(codes, i + F.lit(j))) \
                % WINNOW_PRIME
        return h

    def _fingerprints(raw):
        return let_(F.lower(raw), lambda s: let_(
            F.transform(
                F.sequence(F.lit(1), F.length(s)),
                lambda i: F.ascii(F.substr(s, i, F.lit(1))),
            ),
            lambda codes: let_(
                F.transform(
                    F.sequence(F.lit(1), F.length(s) - gram_size + 1),
                    lambda i: _gram_hash(codes, i),
                ),
                lambda hs: F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length(s) - min_len + 1),
                        lambda j: F.array_min(F.slice(hs, j, window)),
                    )
                ),
            ),
        ))

    return (
        docs.filter(F.length(F.col(text_col)) >= min_len)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(_fingerprints(F.col(text_col))).alias("fingerprint"),
        )
    )


def winnowing_overlap_pairs(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` winnowing
    fingerprints — each shared fingerprint witnesses an identical
    substring of ``gram_size`` chars inside a shared window, so
    ``n_shared`` approximates how much VERBATIM text two documents
    have in common (the copy-detection signal; near-dup via MinHash
    measures set overlap of ALL shingles instead).

    Same join discipline as every dedup pair builder here: fingerprint-
    keyed equi self-join (never all-pairs), with the hot-fingerprint df
    cap bounding per-key fanout at ``max_doc_freq^2`` — a boilerplate
    string present in most documents carries no copy signal but would
    otherwise degenerate the join (the hot-gram-cap design measured
    17.5x at 16x scale). Input is :func:`winnowing_fingerprints`
    output; result: ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1 (got {min_shared})")
    from ..caching import tracked_persist

    # three consumers (df counts + both self-join sides) — without the
    # persist each re-runs the whole fingerprint extraction upstream
    # (measured 3x the query's wall clock)
    fps = tracked_persist(fingerprints)
    if max_doc_freq is not None:
        dfreq = fps.groupBy("fingerprint").agg(
            F.count(F.lit(1)).alias("_df")
        )
        fps = (
            fps.join(dfreq, on="fingerprint")
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    a = fps.select(F.col("fingerprint"), F.col("doc_id").alias("id_a"))
    b = fps.select(F.col("fingerprint"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, on="fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing_overlap_incremental(
    new_fps: DataFrame,
    corpus_fps: DataFrame,
    min_shared: int = 2,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Incremental substring-copy detection: winnowing-fingerprint
    overlap pairs where at least one side comes from the NEW batch —
    the continuous-ingest shape (mirror of
    :func:`minhash_pairs_incremental`, for the verbatim-copy signal
    instead of the set-overlap signal). A nightly batch must be checked
    against itself AND the standing corpus, but corpus x corpus work is
    never repeated: the fingerprint join puts only the batch on the
    probe side, so each ingest costs |new| x bucket density. Inputs are
    :func:`winnowing_fingerprints` outputs with DISJOINT doc ids; in
    production the corpus table is persisted/bucketed by fingerprint
    once and reused per batch.

    The hot-fingerprint df cap counts frequency over corpus AND batch
    together — the same totals the full-pairs builder would see, which
    is what makes the incremental slice provably identical to
    :func:`winnowing_overlap_pairs` restricted to pairs touching the
    batch (pinned by test). Output: ``(id_a, id_b, n_shared,
    cross_batch)`` — ``id_a < id_b`` for new-new pairs; ``id_a`` = the
    new doc for new-corpus pairs.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1 (got {min_shared})")
    from ..caching import tracked_persist

    new_p = tracked_persist(new_fps.select("doc_id", "fingerprint"))
    corp_p = tracked_persist(corpus_fps.select("doc_id", "fingerprint"))
    if max_doc_freq is not None:
        dfreq = (
            new_p.unionByName(corp_p)
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("fingerprint")
        )
        new_p = new_p.join(dfreq, on="fingerprint")
        corp_p = corp_p.join(dfreq, on="fingerprint")
    probe = new_p.select(
        "fingerprint", F.col("doc_id").alias("id_a")
    )
    build = new_p.select(
        "fingerprint",
        F.col("doc_id").alias("id_b"),
        F.lit(False).alias("cross_batch"),
    ).unionByName(
        corp_p.select(
            "fingerprint",
            F.col("doc_id").alias("id_b"),
            F.lit(True).alias("cross_batch"),
        )
    )
    return (
        probe.join(build, on="fingerprint")
        .filter(F.col("cross_batch") | (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b", "cross_batch")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b", "n_shared", "cross_batch")
    )


def exact_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    gram_persist: str = "memory_and_disk",
    widen_inputs: bool = True,
) -> DataFrame:
    """Exact duplicated-substring spans, the Lee et al. operator
    ("Deduplicating Training Data Makes Language Models Better",
    ACL 2022): per document, the maximal character ranges every byte of
    which lies inside some substring of length >= ``min_len`` that
    occurs at least twice in the corpus (counting a second occurrence
    anywhere — another document OR the same one). This is the operation
    real pretraining dedup pipelines run; :func:`winnowing_fingerprints`
    only *samples* shared substrings and :func:`duplicated_ngram_stats`
    only *counts* fixed-k grams — neither can name the exact boundaries
    to cut.

    Equivalence that makes it distributable: a character at position
    ``i`` is covered iff some ``min_len``-gram starting at
    ``p in [i-min_len+1, i]`` is globally duplicated, so the duplicated
    ranges are exactly the union of ``[p, p+min_len-1]`` over duplicated
    gram starts ``p`` — no suffix array needed, just gram-frequency
    grouping plus a per-document interval merge. Lee et al. build one
    global suffix array (ibid. §4.1); the shuffle-bounded reformulation
    here is the distributed equivalent: frequency counting over
    fixed-length grams IS the depth-``min_len`` prefix bucket of the
    suffix sort.

    Plan shape (all JVM-side, zero UDFs, zero driver collects):

    1. one projection explodes per-position 64-bit gram hashes
       (``xxhash64`` over the length-``min_len`` substring — computed
       in-place per doc, so the exchange carries 20-byte
       ``(hash, doc, pos)`` rows, never the L-byte grams);
    2. a map-side-combinable ``groupBy(hash)`` finds candidate hashes
       with count >= 2;
    3. candidates re-attach the REAL substring (join back to the docs
       on ``doc_id`` — candidate positions only, the rare rows) and
       re-group on it, which scrubs hash collisions: the final grouping
       key is the actual text, so the result is exact no matter the
       hash (all positions sharing a substring share a hash, hence
       survive step 2 together);
    4. per-doc interval merge via the gaps-and-islands window — equal-
       length intervals sorted by start merge iff
       ``pos - lag(pos) <= min_len``.

    100 TB note: like the suffix array it replaces, this examines every
    character position — the step-2 exchange is ~20 bytes per text byte
    (pre-combine; natural-text gram distinctness leaves little combine
    win), so size ``spark.sql.shuffle.partitions`` to the corpus, not
    the doc count. When sampled detection is acceptable, winnowing is
    the cheap alternative; this operator is for exact boundaries.

    ``gram_persist`` controls the per-position grams cache, which two
    plan branches consume (the frequency agg and the candidate
    re-join) and whose size is ~20 B per corpus CHARACTER:
    ``"memory_and_disk"`` (default — right in local/medium jobs where
    the cache fits), ``"disk_only"`` (a corpus-scale cluster run,
    where a corpus-sized cache must not evict executor storage
    memory), or ``"none"`` (recompute the gram projection per branch —
    trades one extra scan + hash pass for zero cache footprint; the
    projection is cheap relative to the exchange, so this is the
    honest choice when even local disk is tight). The 16x A/B backing
    the default is in BASELINE.md (round-9 grams-persist A/B).

    Documents shorter than ``min_len`` have no grams and yield no spans
    (``F.sequence`` would count DOWN for them, hence the explicit
    filter). Matching is case- and whitespace-sensitive (literal bytes
    — exact dedup, unlike the normalised fuzzy family). Output:
    ``(doc_id, span_start, span_end, span_len)`` with 1-based inclusive
    character offsets.
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2 (got {min_len})")
    from pyspark.storagelevel import StorageLevel

    _LEVELS = {
        "memory_and_disk": StorageLevel.MEMORY_AND_DISK,
        "disk_only": StorageLevel.DISK_ONLY,
        "none": None,
    }
    if gram_persist not in _LEVELS:
        raise ValueError(
            f"gram_persist must be one of {sorted(_LEVELS)} "
            f"(got {gram_persist!r})"
        )
    _gram_level = _LEVELS[gram_persist]
    from ..caching import tracked_persist

    # widen before the per-position gram explode (THE expensive
    # projection: one xxhash64 per corpus character) — on a single-split
    # input it ran on one core (profiled: a 2.5 s 1-task cache-fill
    # stage at sf0.1). No-op on already-parallel inputs; the candidate
    # re-join reads the SAME widened base, so the text side of the
    # collision scrub parallelises with it.
    if widen_inputs:
        docs = ensure_min_partitions(docs)
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    grams = _span_gram_explode(base, min_len)
    # two consumers (the frequency agg + the candidate re-join) — without
    # the persist the per-position gram hashing runs twice; level per the
    # gram_persist contract above
    if _gram_level is not None:
        grams = tracked_persist(grams, level=_gram_level)
    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("gh")
    )
    cand = grams.join(dup_hashes, on="gh").select("doc_id", "pos")
    # collision scrub: the confirming group key is the REAL substring
    with_gram = (
        cand.join(base, on="doc_id")
        .select(
            "doc_id",
            "pos",
            F.substr(F.col("_text"), F.col("pos"), F.lit(min_len)).alias("_gram"),
        )
    )
    with_gram = tracked_persist(with_gram)
    dup_grams = (
        with_gram.groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_gram")
    )
    hits = with_gram.join(dup_grams, on="_gram").select("doc_id", "pos")
    return _merge_covered_islands(hits, min_len)


def _span_gram_explode(base: DataFrame, min_len: int) -> DataFrame:
    """``(doc_id, pos, gh)`` per-position xxhash64 of the length-
    ``min_len`` substring, for docs long enough to have one — the
    shared step-1 projection of the exact-span family. The exchange
    downstream carries these 20-byte rows, never the gram text."""
    return (
        base.filter(F.length("_text") >= min_len)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("_text") - min_len + 1),
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.xxhash64(
                            F.substr(F.col("_text"), p, F.lit(min_len))
                        ).alias("gh"),
                    ),
                )
            ).alias("_g"),
        )
        .select("doc_id", F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh"))
    )


def _merge_covered_islands(hits: DataFrame, min_len: int) -> DataFrame:
    """Gaps-and-islands merge of covered gram-start positions into
    maximal ``(doc_id, span_start, span_end, span_len)`` spans:
    intervals [p, p+L-1] are all equal-length, so end order == start
    order and lag(pos) alone decides the break."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn(
            "_brk",
            F.when(F.col("pos") - F.lag("pos").over(w) > min_len, 1).otherwise(0),
        )
        .withColumn("_isl", F.sum("_brk").over(w))
        .groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + min_len - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def exact_substring_spans_incremental(
    batch_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    widen_inputs: bool = True,
) -> DataFrame:
    """Exact duplicated-substring spans for a NEW BATCH against an
    existing corpus — the continuous-ingest mode of
    :func:`exact_substring_spans` (the same design move as
    :func:`winnowing_overlap_incremental` and
    :func:`minhash_pairs_incremental`): a batch character is covered
    iff some ``min_len``-gram through it occurs AGAIN anywhere — a
    second time inside the batch, or at least once in the corpus.

    Provably equal to the full build on ``corpus + batch`` restricted
    to batch docs (every batch gram occurrence g satisfies
    ``count_full(g) = count_batch(g) + count_corpus(g) >= 2`` iff
    ``count_batch >= 2 or count_corpus >= 1``, ``count_batch >= 1``
    holding by membership); the registry oracle and the property suite
    pin exactly that slice identity. Corpus-internal duplication is
    never recomputed — the full build's corpus-side frequency work
    drops out.

    Plan: the batch explodes per-position hashes (batch-sized); the
    corpus explodes ONLY to probe — its gram rows semi-join the
    batch's distinct hashes immediately, so corpus work is one scan +
    hash projection and the surviving corpus rows are batch-selective
    (at 100 TB: the corpus side never aggregates, never self-joins,
    and the join key is a long — with the corpus gram table maintained
    as a bucketed artifact keyed on gh, the probe is shuffle-free on
    the corpus side). Candidate hashes (batch count >= 2 OR any corpus
    hit) re-attach the REAL substrings on both sides — the collision
    scrub, making the result exact regardless of the 64-bit hash —
    then the per-doc island merge runs on batch positions only.
    Output: ``(doc_id, span_start, span_end, span_len)`` for batch
    docs, 1-based inclusive.
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2 (got {min_len})")
    from ..caching import tracked_persist

    # same single-split widening as exact_substring_spans: both sides'
    # per-position explodes are the expensive pre-shuffle projections
    if widen_inputs:
        batch_docs = ensure_min_partitions(batch_docs)
        corpus_docs = ensure_min_partitions(corpus_docs)
    b_base = batch_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )
    c_base = corpus_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )
    # batch grams: three consumers (count, probe set, candidate re-join)
    b_grams = tracked_persist(_span_gram_explode(b_base, min_len))
    b_hashes = b_grams.select("gh").distinct()
    # corpus probe: gram rows stream into the semi-join, batch-selective
    # survivors only; two consumers (corpus count + confirm re-attach)
    c_hits = tracked_persist(
        _span_gram_explode(c_base, min_len).join(b_hashes, on="gh")
    )
    b_counts = b_grams.groupBy("gh").agg(F.count(F.lit(1)).alias("_nb"))
    c_counts = c_hits.groupBy("gh").agg(F.count(F.lit(1)).alias("_nc"))
    cand_hashes = (
        b_counts.join(c_counts, on="gh", how="left")
        .filter(
            (F.col("_nb") >= 2) | (F.coalesce(F.col("_nc"), F.lit(0)) >= 1)
        )
        .select("gh")
    )
    # collision scrub on REAL substrings, both sides (candidate rows only)
    b_with = tracked_persist(
        b_grams.join(cand_hashes, on="gh")
        .join(b_base, on="doc_id")
        .select(
            "doc_id",
            "pos",
            F.substr(F.col("_text"), F.col("pos"), F.lit(min_len)).alias("_gram"),
        )
    )
    c_gram_counts = (
        c_hits.join(cand_hashes, on="gh")
        .join(c_base, on="doc_id")
        .select(
            F.substr(F.col("_text"), F.col("pos"), F.lit(min_len)).alias("_gram")
        )
        .groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_nc"))
    )
    b_gram_counts = b_with.groupBy("_gram").agg(
        F.count(F.lit(1)).alias("_nb")
    )
    dup_grams = (
        b_gram_counts.join(c_gram_counts, on="_gram", how="left")
        .filter(
            (F.col("_nb") >= 2) | (F.coalesce(F.col("_nc"), F.lit(0)) >= 1)
        )
        .select("_gram")
    )
    hits = b_with.join(dup_grams, on="_gram").select("doc_id", "pos")
    return _merge_covered_islands(hits, min_len)


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut the duplicated spans out of each document — the second half
    of the Lee et al. pipeline (ibid. §4: drop one-side occurrences of
    each duplicated range; here every occurrence is cut, the
    conservative variant their released tooling defaults to). ``spans``
    is :func:`exact_substring_spans` output (disjoint, per-doc); docs
    without spans pass through verbatim, a fully-covered doc becomes
    the empty string.

    One groupBy collects each doc's (few) spans into a sorted array;
    the cut itself is a single JVM ``aggregate`` fold over that array —
    state ``(prev_end, acc)``, each step appends the kept segment
    between the previous span and this one, the finisher appends the
    tail. No shuffle beyond the span collection (doc-keyed, tiny), no
    UDF, and the text column never enters an exchange: the fold runs
    where the docs already live after the doc_id join.

    Output: ``(doc_id, text_clean, n_removed)`` where ``n_removed`` is
    the count of characters cut (original minus kept length).
    """
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    from ..functions.exprs import let_

    def _cut(t: Column) -> Column:
        folded = F.aggregate(
            F.col("_spans"),
            F.struct(
                F.lit(0).cast("long").alias("prev_end"),
                F.lit("").alias("acc"),
            ),
            lambda st, s: F.struct(
                s["span_end"].alias("prev_end"),
                F.concat(
                    st["acc"],
                    F.substr(
                        t,
                        (st["prev_end"] + 1).cast("int"),
                        (s["span_start"] - st["prev_end"] - 1).cast("int"),
                    ),
                ).alias("acc"),
            ),
            lambda st: F.concat(
                st["acc"],
                F.substr(
                    t,
                    (st["prev_end"] + 1).cast("int"),
                    (F.length(t) - st["prev_end"]).cast("int"),
                ),
            ),
        )
        return folded

    joined = base.join(per_doc, on="doc_id", how="left")
    clean = F.when(F.col("_spans").isNull(), F.col("_text")).otherwise(
        let_(F.col("_text"), _cut)
    )
    # project the fold ONCE, then derive n_removed from the projected
    # column — referencing `clean` twice would double-evaluate the
    # aggregate fold per row wherever CSE doesn't kick in
    return joined.select(
        "doc_id",
        F.length("_text").cast("long").alias("_orig_len"),
        clean.alias("text_clean"),
    ).select(
        "doc_id",
        "text_clean",
        (F.col("_orig_len") - F.length("text_clean")).cast("long").alias("n_removed"),
    )


def source_overlap_matrix(
    fingerprints: DataFrame,
    doc_sources: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Cross-SOURCE verbatim-copy matrix: for every unordered source
    pair, how many distinct winnowing fingerprints occur in BOTH
    sources — the provenance audit behind mixture decisions ("is src_b
    just a re-crawl of src_a?") and the source-level rollup of the
    MOSS copy detector (each shared fingerprint witnesses an identical
    substring appearing in both corpora; see
    :func:`winnowing_fingerprints`).

    Scale shape — the reason this is cheap when the doc-level pair
    build is not: fingerprints collapse to DISTINCT (source,
    fingerprint) first (map-side-combinable; at most S rows per
    fingerprint survive regardless of how many documents carry it), so
    the self-join fans out at most S x S per fingerprint with S =
    source count — no hot-fingerprint cap needed, no doc x doc
    blowup. ``max_doc_freq`` optionally drops boilerplate fingerprints
    carried by more than that many DOCUMENTS before the rollup (the
    :func:`winnowing_overlap_pairs` cap semantics, so the two views
    stay consistent when sharing one fingerprint table). Output:
    ``(source_a, source_b, n_shared_fps)``, ``source_a < source_b``.
    """
    if max_doc_freq is not None:
        dfreq = fingerprints.groupBy("fingerprint").agg(
            F.count(F.lit(1)).alias("_df")
        )
        fingerprints = (
            fingerprints.join(dfreq, on="fingerprint")
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    src_fp = (
        fingerprints.join(
            doc_sources.select(
                F.col(id_col).alias("doc_id"),
                F.col(source_col).alias("_src"),
            ),
            on="doc_id",
        )
        .select("_src", "fingerprint")
        .distinct()
    )
    a = src_fp.select(
        F.col("_src").alias("source_a"), "fingerprint"
    )
    b = src_fp.select(
        F.col("_src").alias("source_b"), "fingerprint"
    )
    return (
        a.join(b, on="fingerprint")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
    )
