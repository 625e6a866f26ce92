"""Extension-layer query registry: dedup, text analysis, similarity search,
event-time operators, multimodal plumbing.

Same contract as ``registry.py`` — every query has a DuckDB oracle built
from the *same* constants (minhash permutations, stopword lists, portable
hash) so the two sides compute identical values by construction. Oracles
here are largely generated programmatically to stay in lockstep with the
operator parameters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.hashing import (
    MERSENNE_PRIME_31 as P,
    minhash_permutation_constants,
    stable_hash_sql,
)
from .functions.text import (
    STOPWORDS,
    add_fingerprint,
    add_language_id,
    add_quality_score,
    add_text_stats,
)
from .operators.dedup import (
    add_simhash,
    dedup_clusters,
    duplicate_groups,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from .operators.events import interval_join, session_stats, tumbling_window_agg
from .operators.events import as_of_join
from .operators.multimodal import (
    attach_binary_payload,
    decode_image_features,
    sample_video_frames,
    synthesize_media_payloads,
)
from .operators.similarity import (
    cosine_topk,
    hyperplanes,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from .registry import (
    ORACLES,
    QUERIES,
    _register,
    _stable_dir_tag,
    _t,
    normalise_event_ts,
)

# --- text analysis -------------------------------------------------------

#: DuckDB fragment: whitespace tokens of trimmed text ('' -> empty list)
_DUCK_TOKENS = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(text), '\\s+') END"
)


@_register(
    "text_stats",
    f"""
WITH toks AS (SELECT doc_id, text, {_DUCK_TOKENS} AS t FROM documents)
SELECT doc_id,
       length(text)::BIGINT AS n_chars_computed,
       len(t)::BIGINT AS n_tokens,
       CASE WHEN len(t) = 0 THEN NULL
            ELSE list_sum(list_transform(t, s -> length(s)))::DOUBLE / len(t)
       END AS avg_token_len,
       CASE WHEN length(text) = 0 THEN NULL
            ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / length(text)
       END AS punct_ratio,
       CASE WHEN length(text) = 0 THEN NULL
            ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)
       END AS digit_ratio,
       CASE WHEN length(text) = 0 THEN NULL
            ELSE (length(text) - length(regexp_replace(text, '\\s', '', 'g')))::DOUBLE / length(text)
       END AS space_ratio,
       CASE WHEN length(text) = 0 THEN NULL
            ELSE (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE / length(text)
       END AS upper_ratio
FROM toks
""",
)
def text_stats(spark, sf_dir):
    """Per-document token/character-class statistics (zero-UDF projection)."""
    return add_text_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_computed", "n_tokens", "avg_token_len",
        "punct_ratio", "digit_ratio", "space_ratio", "upper_ratio",
    )


def _duck_script_ratio(cls: str) -> str:
    return (
        f"(length(text) - length(regexp_replace(text, '{cls}', '', 'g')))"
        "::DOUBLE / length(text)"
    )


_DUCK_SCRIPT_RE2 = {
    "latin": r"\p{Latin}",
    "cyrillic": r"\p{Cyrillic}",
    "han": r"\p{Han}",
    "arabic": r"\p{Arabic}",
    "digit": r"\p{Nd}",
    "space": r"\s",
}
_SCRIPT_RATIO_COLS = ",\n  ".join(
    "CASE WHEN length(text) > 0 THEN round("
    + _duck_script_ratio(cls)
    + f", 6) END AS {name}_ratio"
    for name, cls in _DUCK_SCRIPT_RE2.items()
)
_SCRIPT_RATIO_SUM = " + ".join(
    _duck_script_ratio(cls) for cls in _DUCK_SCRIPT_RE2.values()
)


@_register(
    "text_script_ratios",
    f"""
SELECT doc_id,
  {_SCRIPT_RATIO_COLS},
  CASE WHEN length(text) > 0
       THEN round(1.0 - ({_SCRIPT_RATIO_SUM}), 6) END AS other_ratio
FROM documents
""",
)
def text_script_ratios(spark, sf_dir):
    """Unicode script-mixture signal: per-document character-class ratios
    (Latin/Cyrillic/Han/Arabic/digits/whitespace/other) — the cross-check
    against the language label that real pipelines run (a 'French' doc
    that is 40% Han is mislabelled or spam). Pure regexp-count projection,
    zero shuffle; Java and RE2 spell the same Unicode script property
    differently but both engines implement the Unicode script database."""
    from .functions.text import add_script_ratios

    return add_script_ratios(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).drop("text")


_VOCAB_MIN_COUNT = 5


@_register(
    "text_vocab_build",
    f"""
WITH toks AS (
    SELECT unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(lower(text)), '\\s+') END)
        AS token
    FROM documents
), counts AS (
    SELECT token, count(*) AS count FROM toks GROUP BY 1
    HAVING count(*) >= {_VOCAB_MIN_COUNT}
)
SELECT token, count,
       CAST(row_number() OVER (ORDER BY count DESC, token ASC) - 1 AS BIGINT)
           AS vocab_id
FROM counts
""",
)
def text_vocab_build(spark, sf_dir):
    """Frequency-ranked corpus vocabulary (count >= 5, lowercased) — the
    tokenizer-training/embedding-table input. Global rank assigned by the
    range-partitioned dense-id machinery, not a one-partition window, so
    a 100M-token vocabulary ranks data-parallel."""
    from .operators.profiling import build_vocabulary

    return build_vocabulary(
        _t(spark, sf_dir, "documents").select("text"),
        min_count=_VOCAB_MIN_COUNT,
    )


def _duck_quality_sql(src: str = "documents") -> str:
    """The heuristic quality score as SQL, parameterised on the source
    relation so composed pipelines (pipeline_web_curation) reuse the
    SAME expression text — one builder, drift propagates."""
    return f"""
WITH toks AS (SELECT doc_id, text, {_DUCK_TOKENS} AS t FROM {src}),
feat AS (
    SELECT doc_id,
           length(text) AS n_chars,
           CASE WHEN len(t) = 0 THEN NULL
                ELSE list_sum(list_transform(t, s -> length(s)))::DOUBLE / len(t)
           END AS avg_tok,
           CASE WHEN length(text) = 0 THEN NULL
                ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / length(text)
           END AS punct,
           CASE WHEN length(text) = 0 THEN NULL
                ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)
           END AS digit
    FROM toks
)
SELECT doc_id,
       (CASE WHEN n_chars >= 50 AND n_chars <= 100000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN avg_tok >= 3 AND avg_tok <= 12 THEN 0.25 ELSE 0.0 END
        + CASE WHEN COALESCE(punct, 1.0) <= 0.3 THEN 0.25 ELSE 0.0 END
        + CASE WHEN COALESCE(digit, 1.0) <= 0.3 THEN 0.25 ELSE 0.0 END
       )::DOUBLE AS quality_score
FROM feat
"""


@_register("text_quality", _duck_quality_sql())
def text_quality(spark, sf_dir):
    """Heuristic quality score in [0, 1]."""
    return add_quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )


def _duck_lang_sql(src: str = "documents") -> str:
    toks = "list_transform(" + _DUCK_TOKENS.replace("'", "'") + ", s -> lower(s))"
    hit_exprs = []
    for code in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[code])
        hit_exprs.append(
            f"len(list_filter(t, s -> list_contains([{words}], s))) AS h_{code}"
        )
    hits_sql = ",\n       ".join(hit_exprs)
    greatest = "greatest(" + ", ".join(f"h_{c}" for c in sorted(STOPWORDS)) + ")"
    cases = " ".join(
        f"WHEN h_{c} = g THEN '{c}'" for c in sorted(STOPWORDS)
    )
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM (SELECT doc_id, text FROM {src})),
hits AS (SELECT doc_id, {hits_sql} FROM toks),
best AS (SELECT *, {greatest} AS g FROM hits)
SELECT doc_id, CASE WHEN g = 0 THEN 'und' {cases} ELSE 'und' END AS lang_pred
FROM best
"""


@_register("text_language", _duck_lang_sql())
def text_language(spark, sf_dir):
    """Stopword-hit heuristic language ID (en/fr/de/es; zh -> 'und')."""
    return add_language_id(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred"
    )


_DUCK_FP = stable_hash_sql(
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
)


@_register(
    "text_fingerprint",
    f"SELECT doc_id, {_DUCK_FP} AS fingerprint FROM documents",
)
def text_fingerprint(spark, sf_dir):
    """Normalised-content fingerprint (portable 60-bit hash)."""
    return add_fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


# --- dedup ---------------------------------------------------------------

@_register(
    "dedup_exact",
    f"""
WITH fp AS (SELECT doc_id, lang, source, {_DUCK_FP} AS fingerprint FROM documents)
SELECT doc_id, lang, source, fingerprint FROM fp
QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
""",
)
def dedup_exact(spark, sf_dir):
    """Deterministic exact dedup by content fingerprint (keep min doc_id)."""
    docs = add_fingerprint(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    ).drop("text")
    return exact_dedup(docs, ["fingerprint"], "doc_id")


@_register(
    "dedup_groups",
    """
SELECT lang, source, count(*) AS n_rows, min(doc_id) AS keep_id
FROM documents GROUP BY lang, source HAVING count(*) > 1
""",
)
def dedup_groups(spark, sf_dir):
    """Duplicate-group audit over a composite key."""
    return duplicate_groups(
        _t(spark, sf_dir, "documents"), ["lang", "source"], "doc_id"
    )


_MH_NUM_HASHES = 32
_MH_SHINGLE = 5
_MH_BANDS = 8
_MH_ROWS = _MH_NUM_HASHES // _MH_BANDS


def _duck_minhash_sql(src: str = "documents", id_col: str = "doc_id") -> str:
    """MinHash-LSH pair SQL over any ``(id_col, text)`` source relation
    (r16: parameterized so the sub-document/paragraph twin reuses ONE
    oracle implementation rather than a drifting copy)."""
    constants = minhash_permutation_constants(_MH_NUM_HASHES)
    grams = (
        f"CASE WHEN length(lower(text)) < {_MH_SHINGLE} THEN []::VARCHAR[] "
        f"ELSE list_transform(generate_series(1, length(lower(text)) - {_MH_SHINGLE - 1}), "
        f"i -> substr(lower(text), i, {_MH_SHINGLE})) END"
    )
    sig_terms = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {P}))"
        for a, b in constants
    )
    band_branches = []
    for b in range(_MH_BANDS):
        lo, hi = b * _MH_ROWS + 1, (b + 1) * _MH_ROWS
        band_hash = stable_hash_sql(
            f"array_to_string(list_transform(signature[{lo}:{hi}], v -> v::VARCHAR), '-')"
        )
        band_branches.append(
            f"SELECT {id_col}, signature, {b} AS band, "
            f"{band_hash} AS band_hash FROM sigs"
        )
    banded = "\n  UNION ALL ".join(band_branches)
    agree = (
        f"list_sum(list_transform(generate_series(1, {_MH_NUM_HASHES}), "
        f"i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END))"
    )
    return f"""
WITH hashes AS (
    SELECT {id_col}, list_transform(list_distinct({grams}),
                                  s -> {stable_hash_sql('s')} % {P}) AS hs
    FROM {src} WHERE length(text) >= {_MH_SHINGLE}
), sigs AS (
    SELECT {id_col}, [{sig_terms}] AS signature FROM hashes
), banded AS (
  {banded}
), pairs AS (
    SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
           a.signature AS sa, b.signature AS sb
    FROM banded a JOIN banded b USING (band, band_hash)
    WHERE a.{id_col} < b.{id_col}
)
SELECT id_a, id_b, ({agree})::DOUBLE / {_MH_NUM_HASHES} AS est_jaccard
FROM pairs
"""


@_register("dedup_minhash_pairs", _duck_minhash_sql())
def dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs with estimated Jaccard (32 hashes,
    8 bands; char-5 shingles)."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= _MH_SHINGLE)
    return minhash_pairs(
        docs,
        num_hashes=_MH_NUM_HASHES,
        shingle_size=_MH_SHINGLE,
        bands=_MH_BANDS,
    )


_CC_MIN_JACCARD = 0.5


def _clusters(spark, sf_dir):
    """The MinHash + connected-components clusters table of the corpus
    (one row per document: ``doc_id``, ``component``, ``is_canonical``)."""
    return dedup_clusters(
        _t(spark, sf_dir, "documents"),
        num_hashes=_MH_NUM_HASHES,
        shingle_size=_MH_SHINGLE,
        bands=_MH_BANDS,
        min_jaccard=_CC_MIN_JACCARD,
    )


@_register(
    "dedup_clusters_cc",
    f"""
WITH RECURSIVE pairs AS (
    SELECT id_a, id_b FROM ({_duck_minhash_sql()})
    WHERE est_jaccard >= {_CC_MIN_JACCARD}
), sym AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS doc_id, min(dst) AS component,
       (src = min(dst)) AS is_canonical
FROM reach GROUP BY src
""",
)
def dedup_clusters_cc(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH pairs (est_jaccard >=
    0.5) -> connected components (alternating large-star/small-star) ->
    cluster id + canonical-doc flag per document. The oracle computes the
    same components via a recursive transitive closure (fine at sf0.01;
    the Spark side converges in O(log^2 n) rounds for 100 TB graphs)."""
    return _clusters(spark, sf_dir)


@_register("dedup_clusters_build", ORACLES["dedup_clusters_cc"])
def dedup_clusters_build(spark, sf_dir):
    """The same clustering as ``dedup_clusters_cc``, under its own name."""
    return dedup_clusters_cc(spark, sf_dir)


_NJ_NGRAM = 3
_NJ_MIN = 0.2
#: hot-gram cap, deliberately inside the sf0.01 df range (max trigram df
#: there is 7) so the driver's gate exercises the capped code path.
_NJ_MAX_DF = 5


@_register(
    "dedup_ngram_jaccard",
    f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
), grams AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) < {_NJ_NGRAM} THEN []::VARCHAR[]
             ELSE list_transform(generate_series(1, len(t) - {_NJ_NGRAM - 1}),
                                 i -> array_to_string(t[i:i+{_NJ_NGRAM - 1}], ' '))
        END)) AS gram
    FROM toks
), kept AS (
    SELECT doc_id, gram FROM grams
    QUALIFY count(*) OVER (PARTITION BY gram) <= {_NJ_MAX_DF}
), counts AS (
    SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM kept a JOIN kept b USING (gram)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       n_inter::DOUBLE / (ca.n_grams + cb.n_grams - n_inter) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE n_inter::DOUBLE / (ca.n_grams + cb.n_grams - n_inter) >= {_NJ_MIN}
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs (>= 0.2) over grams with df <= 5
    (the hot-gram cap path the driver gate verifies)."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        ngram=_NJ_NGRAM,
        min_jaccard=_NJ_MIN,
        max_doc_freq=_NJ_MAX_DF,
    )


_DNG_N = 5


@_register(
    "dedup_substring_signal",
    f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
), g AS (
    SELECT doc_id,
           {stable_hash_sql(f"array_to_string(t[i:i+{_DNG_N - 1}], ' ')")} AS gh
    FROM toks, UNNEST(generate_series(1, len(t) - {_DNG_N - 1})) AS s(i)
    WHERE len(t) >= {_DNG_N}
), pg AS (
    SELECT doc_id, gh, count(*) AS c FROM g GROUP BY 1, 2
), gs AS (
    SELECT gh, CAST(sum(c) AS BIGINT) AS total, count(*) AS n_docs
    FROM pg GROUP BY 1
)
SELECT doc_id,
  CAST(sum(c) AS BIGINT) AS n_grams,
  CAST(sum(CASE WHEN total > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_grams,
  CAST(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT)
      AS n_cross_dup_grams,
  round(sum(CASE WHEN total > 1 THEN c ELSE 0 END) / sum(c), 6)
      AS dup_fraction,
  round(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) / sum(c), 6)
      AS cross_dup_fraction
FROM pg JOIN gs USING (gh)
GROUP BY doc_id
""",
)
def dedup_substring_signal(spark, sf_dir):
    """Corpus-level exact-substring duplication signal: per-document
    fraction of word-5-gram instances that also occur elsewhere (anywhere /
    in another document). The C4/RefinedWeb-style "mostly duplicated
    spans" filter input. Grams are hashed to 60-bit longs BEFORE the
    exchange; the (gram, doc) pre-aggregate bounds every shuffle row to
    fixed width."""
    from .operators.dedup import duplicated_ngram_stats

    return duplicated_ngram_stats(
        _t(spark, sf_dir, "documents"), ngram=_DNG_N
    )


_SH_BITS = 32


def _duck_simhash_sql(filter_empty: bool = False) -> str:
    terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> ((h >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j in range(_SH_BITS)
    )
    where = "WHERE len(t) >= 1" if filter_empty else ""
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
nonempty AS (SELECT doc_id, t FROM toks {where}),
hashes AS (
    SELECT doc_id, list_transform(t, s -> {stable_hash_sql('s')}) AS hs FROM nonempty
)
SELECT doc_id, ({terms})::BIGINT AS simhash FROM hashes
"""


@_register("dedup_simhash", _duck_simhash_sql())
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash per document over whitespace tokens."""
    from .functions.partitioning import ensure_min_partitions

    docs = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return add_simhash(docs, bits=_SH_BITS).select("doc_id", "simhash")


_SHP_MAX_HAMMING = 3
_SHP_BAND_BITS = 8


@_register(
    "dedup_simhash_pairs",
    f"""
WITH sh AS ({_duck_simhash_sql(filter_empty=True)})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SHP_MAX_HAMMING}
""",
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 32-bit simhash banded into 4x8-bit chunks
    for candidates, exact bit_count(xor) <= 3 verify. With 4 bands and
    max_hamming=3 the banding is recall-COMPLETE (pigeonhole: <=3 flipped
    bits cannot touch all 4 bands), so the all-pairs oracle is exact — the
    banded Spark plan must find every qualifying pair, not a sample."""
    return simhash_pairs(
        _t(spark, sf_dir, "documents"),
        bits=_SH_BITS,
        max_hamming=_SHP_MAX_HAMMING,
        band_bits=_SHP_BAND_BITS,
    )


# --- similarity search ---------------------------------------------------

_KNN_K = 5
_KNN_QUERY_MOD = 50  # queries = vec_id % 50 == 0


@_register(
    "similarity_knn",
    f"""
WITH queries AS (
    SELECT vec_id AS query_id, embedding FROM embeddings
    WHERE vec_id % {_KNN_QUERY_MOD} = 0
), scored AS (
    SELECT q.query_id, c.vec_id,
           round(
             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
             6) AS cosine_sim
    FROM queries q JOIN embeddings c ON c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
FROM scored
QUALIFY row_index <= {_KNN_K}
""",
)
def similarity_knn(spark, sf_dir):
    """Exact brute-force top-5 cosine neighbours for every 50th vector."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=_KNN_K)


@_register(
    "similarity_quantized_knn",
    f"""
WITH m AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x))) AS ma
    FROM embeddings
), qq AS (
    SELECT vec_id,
           CASE WHEN ma > 0
                THEN list_transform(embedding, x -> round(x * 127 / ma))
                ELSE list_transform(embedding, x -> 0.0) END AS qv
    FROM m
), scored AS (
    SELECT a.vec_id AS query_id, b.vec_id,
           round(list_dot_product(a.qv, b.qv) /
                 NULLIF(sqrt(list_dot_product(a.qv, a.qv)) *
                        sqrt(list_dot_product(b.qv, b.qv)), 0), 6)
               AS cosine_sim
    FROM qq a JOIN qq b ON b.vec_id <> a.vec_id
    WHERE a.vec_id % {_KNN_QUERY_MOD} = 0
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
FROM scored
QUALIFY row_index <= {_KNN_K}
""",
)
def similarity_quantized_knn(spark, sf_dir):
    """Brute-force top-5 cosine over int8-QUANTIZED embeddings — the
    memory lever for 100 TB vector tables (~8x more vectors per executor
    than float64; cosine is scale-invariant so the quantization scale
    cancels). Integer multiply-accumulate inner loop, exact in long; the
    oracle reproduces the identical quantize -> integer-cosine -> round
    arithmetic, so this gates VALUES, not just plumbing."""
    from .operators.similarity import quantized_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return quantized_cosine_topk(emb, queries, k=_KNN_K)


def _duck_lsh_knn_sql() -> str:
    # the LSH variant is *approximate vs brute force* but fully
    # deterministic: fixed hyperplanes -> same buckets in SQL
    from .operators.similarity import hyperplanes as _hp

    planes = _hp(8, 64)
    sig_expr = _duck_plane_sig(planes, "embedding")
    cos = _DUCK_COS.format(a="q.embedding", b="c.embedding")
    return f"""
WITH sig AS (
    SELECT vec_id, embedding, {sig_expr} AS bucket FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id, {cos} AS cosine_sim
    FROM sig q JOIN sig c USING (bucket)
    WHERE q.vec_id % {_KNN_QUERY_MOD} = 0 AND c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
FROM scored
QUALIFY row_index <= {_KNN_K}
"""


@_register("similarity_lsh_knn", None)  # oracle attached below (needs helpers)
def similarity_lsh_knn(spark, sf_dir):
    """Random-hyperplane LSH bucketed top-5 (approximate vs brute force but
    deterministic — same fixed hyperplanes reproduced in the SQL oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_cosine_topk(emb, queries, k=_KNN_K, n_planes=8, dim=64)


_DUCK_COS = (
    "round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
)


def _duck_plane_sig(planes: list[list[float]], vec_expr: str) -> str:
    """DuckDB fragment: packed sign-bit signature of ``vec_expr`` against
    ``planes`` — mirrors :func:`plane_signature` bit for bit."""
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(w) for w in plane)
        terms.append(
            f"CASE WHEN list_dot_product({vec_expr}::DOUBLE[], [{lits}]::DOUBLE[]) > 0 "
            f"THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        )
    return "(" + " + ".join(terms) + ")"


_ND_THRESHOLD = 0.3
_ND_PLANES = 8
_ND_BANDS = 2
_ND_DIM = 64


def _duck_near_dup_sql() -> str:
    planes = hyperplanes(_ND_PLANES, _ND_DIM)
    rows_per_band = _ND_PLANES // _ND_BANDS
    band_cols = ", ".join(
        _duck_plane_sig(planes[b * rows_per_band : (b + 1) * rows_per_band], "embedding")
        + f" AS band_{b}"
        for b in range(_ND_BANDS)
    )
    banded = "\n  UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, band_{b} AS band_bits FROM sig"
        for b in range(_ND_BANDS)
    )
    cos = _DUCK_COS.format(a="ea.embedding", b="eb.embedding")
    return f"""
WITH sig AS (
    SELECT vec_id, embedding, {band_cols} FROM embeddings
), banded AS (
  {banded}
), pairs AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM banded a JOIN banded b USING (band, band_bits)
    WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, {cos} AS cosine_sim
FROM pairs
JOIN embeddings ea ON ea.vec_id = id_a
JOIN embeddings eb ON eb.vec_id = id_b
WHERE {cos} >= {_ND_THRESHOLD}
"""


@_register("dedup_embedding", _duck_near_dup_sql())
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH
    (8 planes in 2 bands) with exact cosine verification at >= 0.3."""
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=_ND_THRESHOLD,
        n_planes=_ND_PLANES,
        bands=_ND_BANDS,
        dim=_ND_DIM,
    )


_IVF_CENTROIDS = 16
_IVF_PROBE = 4


def _duck_ivf_sql() -> str:
    cos_ac = _DUCK_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _DUCK_COS.format(a="q.embedding", b="c.cvec")
    cos_fin = _DUCK_COS.format(a="p.qvec", b="a.avec")
    return f"""
WITH cent AS (
    SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
    WHERE vec_id < {_IVF_CENTROIDS}
), assigned AS (
    SELECT e.vec_id AS cid, e.embedding AS avec, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {cos_ac} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    QUALIFY rn = 1
), probes AS (
    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {cos_qc} DESC, c.centroid_id) AS rn
    FROM embeddings q CROSS JOIN cent c
    WHERE q.vec_id % {_KNN_QUERY_MOD} = 0
    QUALIFY rn <= {_IVF_PROBE}
), scored AS (
    SELECT p.query_id, a.cid AS vec_id, {cos_fin} AS cosine_sim
    FROM assigned a JOIN probes p USING (centroid_id)
    WHERE a.cid <> p.query_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
FROM scored
QUALIFY row_index <= {_KNN_K}
"""


@_register("similarity_ivf_knn", _duck_ivf_sql())
def similarity_ivf_knn(spark, sf_dir):
    """IVF-style approximate top-5: 16 deterministic coarse centroids,
    4-probe query fanout, exact scoring within probed inverted lists."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_cosine_topk(
        emb, queries, k=_KNN_K, n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE
    )


# attach the LSH-top-k oracle now that _duck_plane_sig/_DUCK_COS exist
ORACLES["similarity_lsh_knn"] = _duck_lsh_knn_sql()


_LSHB_BANDS = 4
#: round 4: retuned 3 -> 4 planes/band on the planted-cluster sweep
#: (BASELINE.md): in the realistic clustered regime 4x4 keeps 0.95
#: recall@5 at 35% of brute cost, where 4x3 pays 62% for the last 5
#: points — 4x4 is the knee of the cost/recall curve.
_LSHB_PLANES_PER_BAND = 4


def _duck_lsh_banded_sql() -> str:
    planes = hyperplanes(_LSHB_BANDS * _LSHB_PLANES_PER_BAND, 64)
    r = _LSHB_PLANES_PER_BAND
    band_cols = ", ".join(
        _duck_plane_sig(planes[b * r : (b + 1) * r], "embedding") + f" AS band_{b}"
        for b in range(_LSHB_BANDS)
    )
    banded = "\n  UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, band_{b} AS bits FROM sig"
        for b in range(_LSHB_BANDS)
    )
    cos = _DUCK_COS.format(a="q.embedding", b="c.embedding")
    return f"""
WITH sig AS (
    SELECT vec_id, embedding, {band_cols} FROM embeddings
), banded AS (
  {banded}
), cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id
    FROM banded q JOIN banded c USING (band, bits)
    WHERE q.vec_id % {_KNN_QUERY_MOD} = 0 AND c.vec_id <> q.vec_id
), scored AS (
    SELECT cand.query_id, cand.vec_id, {cos} AS cosine_sim
    FROM cand
    JOIN embeddings q ON q.vec_id = cand.query_id
    JOIN embeddings c ON c.vec_id = cand.vec_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
FROM scored
QUALIFY row_index <= {_KNN_K}
"""


@_register("similarity_lsh_banded", _duck_lsh_banded_sql())
def similarity_lsh_banded(spark, sf_dir):
    """Multi-band OR-amplified LSH top-5 (4 bands x 4 planes — tuned on
    the planted-cluster recall sweep, BASELINE.md round 4): the
    production LSH shape — single-bucket recall collapses as planes grow
    (BASELINE.md), OR-ing bands recovers it at bounded candidate cost.
    Candidates are de-duplicated before exact scoring; the oracle
    reproduces bands, dedup and scoring bit-for-bit."""
    from .operators.similarity import lsh_banded_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_banded_cosine_topk(
        emb,
        queries,
        k=_KNN_K,
        bands=_LSHB_BANDS,
        planes_per_band=_LSHB_PLANES_PER_BAND,
    )


def _duck_recall_sql() -> str:
    """Recall@k of the approximate ANN paths vs brute force, composed from
    the three top-k oracles as subqueries (DRY — any drift in those oracles
    propagates here)."""
    return f"""
WITH exact AS ({ORACLES['similarity_knn']}),
lsh AS ({ORACLES['similarity_lsh_knn']}),
lsh_banded AS ({ORACLES['similarity_lsh_banded']}),
ivf AS ({_duck_ivf_sql()}),
approx AS (
    SELECT 'lsh' AS method, query_id, vec_id FROM lsh
    UNION ALL
    SELECT 'lsh_banded' AS method, query_id, vec_id FROM lsh_banded
    UNION ALL
    SELECT 'ivf' AS method, query_id, vec_id FROM ivf
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


@_register("similarity_recall", _duck_recall_sql())
def similarity_recall(spark, sf_dir):
    """Measured recall@5 of the approximate ANN paths (LSH buckets, IVF
    probes) against the exact brute-force top-5 — the quality/cost tradeoff
    of the scale paths, quantified under the correctness gate. The exact
    result is the small side (n_queries * k rows) and broadcast into the
    per-method semi join. ``tools/ann_recall.py`` sweeps the parameters."""
    exact = similarity_knn(spark, sf_dir).select("query_id", "vec_id")
    lsh = similarity_lsh_knn(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "query_id", "vec_id"
    )
    lshb = similarity_lsh_banded(spark, sf_dir).select(
        F.lit("lsh_banded").alias("method"), "query_id", "vec_id"
    )
    ivf = similarity_ivf_knn(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "query_id", "vec_id"
    )
    approx = lsh.unionByName(lshb).unionByName(ivf)
    hits = (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"], "leftsemi")
        .groupBy("method")
        .agg(F.count("*").alias("n_hit"))
    )
    totals = exact.agg(F.count("*").alias("n_exact"))
    return hits.crossJoin(F.broadcast(totals)).select(
        "method",
        "n_hit",
        "n_exact",
        F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
    )


# --- event-time operators ------------------------------------------------

@_register(
    "events_tumbling",
    """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2, 3
""",
)
def events_tumbling(spark, sf_dir):
    """Hourly tumbling-window counts and value sums per event type."""
    return tumbling_window_agg(
        _t(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        group_by=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
    ).select("window_start", "window_end", "event_type", "n_events", "sum_value")


@_register(
    "events_sessions",
    """
WITH ordered AS (
    SELECT user_id, ts,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
    SELECT user_id, ts,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM ordered
)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY 1, 2
""",
)
def events_sessions(spark, sf_dir):
    """Gap-based sessionisation (30-minute gap) with per-session stats."""
    return session_stats(
        _t(spark, sf_dir, "events"), "user_id", "ts", gap_seconds=1800
    )


@_register(
    "events_sessionize",
    """
WITH ordered AS (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT event_id, user_id,
       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM ordered
""",
)
def events_sessionize(spark, sf_dir):
    """Row-level session-id assignment (the per-event op underlying
    events_sessions): 1-based per-key session index, new session when the
    gap to the previous event exceeds 30 minutes. Ties on (key, ts) get the
    same session id from the running sum, so the output is deterministic."""
    from .operators.events import sessionize

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(ev, "user_id", "ts", gap_seconds=1800).select(
        "event_id", "user_id", "session_id"
    )


@_register(
    "join_salted",
    """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_mktsegment
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def join_salted(spark, sf_dir):
    """Deterministic-salt skew join: semantically a plain inner equi-join
    (the oracle), physically the left side spreads each key over 16 salt
    reducers with the right side replicated 16x — the hot-key mitigation
    for joins AQE's sort-merge-only skew splitting can't rescue."""
    from .operators.joins import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return salted_join(orders, cust, on="o_custkey", how="inner").select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"
    )


@_register(
    "events_asof_join",
    """
SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS click_event_id, r.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND r.ts <= l.ts
""",
)
def events_asof_join(spark, sf_dir):
    """For each purchase, the user's most recent click at or before it
    (single-shuffle union-sort as-of join; DuckDB ASOF JOIN oracle)."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    return as_of_join(
        purchases, clicks, "user_id", "ts", "ts", ["click_event_id", "click_value"]
    )


@_register(
    "events_interval_join",
    """
SELECT l.event_id, count(*) AS n_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
GROUP BY l.event_id
""",
)
def events_interval_join(spark, sf_dir):
    """Clicks within one hour after each purchase (interval join + agg)."""
    events = _t(spark, sf_dir, "events")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("start_ts"))
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    joined = interval_join(purchases, clicks, "user_id", "start_ts", "end_ts", "ts")
    return joined.groupBy("event_id").agg(F.count("*").alias("n_clicks"))


# --- multimodal plumbing -------------------------------------------------

@_register(
    "multimodal_features",
    """
WITH b AS (
  SELECT doc_id,
    1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 64 AS w,
    1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 64 AS ht,
    ('0x' || substr(md5(text), 5, 2))::INTEGER % 2 AS is_bmp
  FROM documents
)
SELECT doc_id,
  CAST(w AS INTEGER) AS width, CAST(ht AS INTEGER) AS height,
  'RGB' AS mode,
  CASE WHEN is_bmp = 0 THEN 'ppm' ELSE 'bmp' END AS format,
  CAST(CASE WHEN is_bmp = 0
       THEN 9 + strlen(w::VARCHAR) + strlen(ht::VARCHAR) + 3*w*ht
       ELSE 54 + ((3*w + 3) // 4 * 4) * ht END AS BIGINT) AS payload_bytes
FROM b
""",
)
def multimodal_features(spark, sf_dir):
    """REAL codec path: synthesize deterministic PPM/BMP binaries (format
    sniff-mixed by md5 byte 2) worker-side, then parse them with the
    pure-stdlib image codecs — the oracle predicts dimensions, container
    and exact byte size from the seed text, so any header/parse drift
    hash-mismatches."""
    docs = synthesize_media_payloads(
        _t(spark, sf_dir, "documents"), kind="image"
    )
    return decode_image_features(docs, decoder="real")


@_register(
    "multimodal_frames",
    """
WITH base AS (
    SELECT doc_id, text,
           1 + (('0x' || substr(md5(text), 11, 2))::INTEGER % 8) AS n_frames
    FROM documents
)
SELECT doc_id,
       i::INTEGER AS frame_index,
       (i * 1000)::BIGINT AS frame_ts_ms,
       md5(text || i::VARCHAR) AS frame_md5
FROM base, UNNEST(generate_series(0, n_frames - 1)) AS t(i)
""",
)
def multimodal_frames(spark, sf_dir):
    """1-to-N frame sampling through mapInPandas (deterministic fake
    sampler over arbitrary payload bytes; the real y4m decoder path is
    gated separately by ``multimodal_video_real``)."""
    docs = attach_binary_payload(_t(spark, sf_dir, "documents"), "text")
    return sample_video_frames(docs)


@_register(
    "multimodal_video_real",
    """
WITH b AS (
  SELECT doc_id,
    1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 32 AS w,
    1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 32 AS h,
    ('0x' || substr(md5(text), 7, 2))::INTEGER AS d3,
    ([10,24,25,30])[1 + ('0x' || substr(md5(text), 9, 2))::INTEGER % 4]
        AS fps,
    1 + ('0x' || substr(md5(text), 21, 2))::INTEGER % 6 AS nf
  FROM documents
), fr AS (
  SELECT doc_id, w, h, d3, fps, nf, i,
         3*w*h AS L, (d3 + i) % 256 AS a
  FROM b, UNNEST(generate_series(0, nf - 1)) AS t(i)
)
SELECT doc_id,
  i::INTEGER AS frame_index,
  (i * 1000 // fps)::BIGINT AS frame_ts_ms,
  w::INTEGER AS width, h::INTEGER AS height,
  nf::INTEGER AS n_frames_total,
  (L // 256 * 32640 +
   CASE WHEN a + (L % 256) <= 256
        THEN (L % 256) * a + (L % 256) * ((L % 256) - 1) // 2
        ELSE (a + 255) * (256 - a) // 2
             + ((L % 256) + a - 256) * ((L % 256) + a - 257) // 2
   END)::BIGINT AS pixel_sum
FROM fr
""",
)
def multimodal_video_real(spark, sf_dir):
    """REAL video path: synthesize deterministic uncompressed YUV4MPEG2
    clips worker-side, parse them with the pure-stdlib y4m codec, and
    sample every frame (clips cap at 6 frames < max_frames=8). The oracle
    predicts dimensions, fps-derived timestamps, frame counts AND each
    frame's raw byte sum via an O(1) closed form over the synthesis
    pattern — so a wrong frame offset, plane size, or timestamp formula
    hash-mismatches, not just wrong metadata. ``frame_md5`` (exact-dedup
    signal, not SQL-mirrorable) is projected out for the gate."""
    docs = synthesize_media_payloads(
        _t(spark, sf_dir, "documents"), kind="y4m"
    )
    return sample_video_frames(docs, decoder="real").drop("frame_md5")


from .functions.text import bpe_token_count, token_count  # noqa: E402


@_register(
    "text_tokens",
    r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END::INTEGER
           AS n_tokens_ws,
       len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}+|[^\p{L}\p{N}\s'']+'))::INTEGER
           AS n_tokens_bpe
FROM documents
""",
)
def text_tokens(spark, sf_dir):
    """Token counting two ways: whitespace tokens and a BPE-ish
    pre-tokeniser regex (both JVM-side; identical RE2/Java regex subset)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens_ws"),
        bpe_token_count("text").alias("n_tokens_bpe"),
    )


# --- structured streaming ------------------------------------------------
#
# Each streaming query runs the incremental operator to completion with
# Trigger.AvailableNow over the finite parquet input, so the result is the
# exact batch answer and stays oracle-checkable. Value sums are accumulated
# as integer cents (order-independent) — float partial-agg order differs
# between incremental and batch execution, integers never do.

from .streaming import (  # noqa: E402
    read_parquet_stream,
    run_stream_to_memory,
    stream_distinct_keys,
    stream_interval_join,
    stream_session_agg,
    stream_stateful_totals,
    stream_tumbling_agg,
)


def _events_stream(spark, sf_dir):
    # same ts-layout handling as the batch loader (registry.normalise_event_ts);
    # UTC pin keeps the ntz->timestamp cast zone-invariant under any session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdf = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    return normalise_event_ts(sdf)


# State-partition count for the registry's streaming queries: sized to the
# events table's key cardinality (~2k users), not the batch shuffle default.
# Each state partition pays a fixed open/commit cost per micro-batch (×4
# stores for a stream-stream join), so oversizing serialises startup; on a
# real cluster this is sized to expected state volume and pinned in the
# checkpoint on first start (see run_stream_to_memory docstring).
_STATE_PARTITIONS = 8


@_register(
    "streaming_tumbling",
    """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2, 3
""",
)
def streaming_tumbling(spark, sf_dir):
    """Incremental hourly tumbling aggregation (complete mode, AvailableNow);
    identical result to the batch ``events_tumbling`` window bucketing."""
    agged = stream_tumbling_agg(
        _events_stream(spark, sf_dir),
        "ts",
        "1 hour",
        group_by=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        ],
        watermark=None,  # finite input, complete mode: emit every window
    )
    return run_stream_to_memory(
        agged, output_mode="complete", state_partitions=_STATE_PARTITIONS
    )


@_register(
    "streaming_sessions",
    """
WITH ordered AS (
    SELECT user_id, ts,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM ordered
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id
""",
)
def streaming_sessions(spark, sf_dir):
    """Incremental gap-based sessionisation via ``session_window`` (30-minute
    gap) — same session boundaries as the batch lag/running-sum oracle."""
    sessions = stream_session_agg(
        _events_stream(spark, sf_dir),
        "user_id",
        "ts",
        gap="30 minutes",
        watermark=None,  # finite input, complete mode
    )
    return run_stream_to_memory(
        sessions, output_mode="complete", state_partitions=_STATE_PARTITIONS
    )


@_register(
    "streaming_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup(spark, sf_dir):
    """Streaming exact dedup: each (user_id, event_type) emitted once via
    keyed dropDuplicates state."""
    distinct = stream_distinct_keys(
        _events_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    return run_stream_to_memory(
        distinct, output_mode="append", state_partitions=_STATE_PARTITIONS
    )


@_register(
    "streaming_stateful_totals",
    """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY user_id
""",
)
def streaming_stateful_totals(spark, sf_dir):
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running totals in keyed state, emitted in update mode. Single-batch
    AvailableNow drain == the batch group-by answer."""
    totals = stream_stateful_totals(_events_stream(spark, sf_dir))
    return run_stream_to_memory(
        totals, output_mode="update", state_partitions=_STATE_PARTITIONS
    )


@_register(
    "streaming_interval_join",
    """
SELECT l.event_id, l.user_id, l.ts AS purchase_ts,
       r.ts AS click_ts, r.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
""",
)
def streaming_interval_join(spark, sf_dir):
    """Stream-stream inner interval join (clicks within 1 h after each
    purchase), watermarked on both sides; inner matches emit eagerly so the
    AvailableNow drain equals the batch join."""
    ev = _events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = stream_interval_join(
        purchases, clicks, key_col="user_id",
        left_ts="purchase_ts", right_ts="click_ts", window="1 hour",
    )
    return run_stream_to_memory(
        out.select(
            "event_id", "user_id",
            "purchase_ts", "click_ts", "click_value",
        ),
        output_mode="append",
        state_partitions=_STATE_PARTITIONS,
    )


# --- composite end-to-end pipeline ---------------------------------------

@_register(
    "pipeline_curation",
    f"""
WITH toks AS (SELECT doc_id, lang, text, {_DUCK_TOKENS} AS t FROM documents),
feat AS (
    SELECT doc_id, lang, text,
           length(text) AS n_chars,
           CASE WHEN len(t) = 0 THEN NULL
                ELSE list_sum(list_transform(t, s -> length(s)))::DOUBLE / len(t)
           END AS avg_tok,
           CASE WHEN length(text) = 0 THEN NULL
                ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / length(text)
           END AS punct,
           CASE WHEN length(text) = 0 THEN NULL
                ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)
           END AS digit
    FROM toks
), scored AS (
    SELECT doc_id, lang, text,
           (CASE WHEN n_chars >= 50 AND n_chars <= 100000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN avg_tok >= 3 AND avg_tok <= 12 THEN 0.25 ELSE 0.0 END
            + CASE WHEN COALESCE(punct, 1.0) <= 0.3 THEN 0.25 ELSE 0.0 END
            + CASE WHEN COALESCE(digit, 1.0) <= 0.3 THEN 0.25 ELSE 0.0 END
           )::DOUBLE AS quality_score
    FROM feat
), kept AS (
    SELECT doc_id, lang, {_DUCK_FP} AS fingerprint
    FROM scored WHERE quality_score >= 0.75
), deduped AS (
    SELECT doc_id, lang, fingerprint FROM kept
    QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
), counts AS (
    SELECT lang, count(*) AS n_docs FROM deduped GROUP BY lang
)
SELECT lang,
       CASE WHEN CAST(round(n_docs / 5.0) * 5 AS BIGINT) >= 15
            THEN CAST(CAST(round(n_docs / 5.0) * 5 AS BIGINT) AS VARCHAR)
            ELSE '[REDACTED]' END AS n_docs
FROM counts
""",
)
def pipeline_curation(spark, sf_dir):
    """End-to-end curation DAG exercising the library surface in one lazy
    plan: quality scoring -> threshold filter -> exact near-dup removal
    (content fingerprint, keep min id) -> per-language counts -> disclosure
    control (round to 5, redact < 15). Everything stays a single Catalyst
    plan — no intermediate materialisation."""
    from . import registry as _r
    from .operators.dedup import exact_dedup as _exact
    from .operators.privacy import (
        redact_low_counts as _redact,
        round_counts_to_multiple as _round,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = add_quality_score(docs)
    kept = add_fingerprint(scored.filter(F.col("quality_score") >= 0.75)).select(
        "doc_id", "lang", "fingerprint"
    )
    deduped = _exact(kept, ["fingerprint"], "doc_id")
    counts = deduped.groupBy("lang").agg(F.count("*").alias("n_docs"))
    rounded = _round(counts, ["n_docs"], multiple=5)
    return _redact(rounded, ["n_docs"], threshold=15, redaction_value="[REDACTED]")


from .operators.events import sliding_window_agg  # noqa: E402


@_register(
    "events_sliding",
    """
WITH expanded AS (
    SELECT e.event_type, e.value,
           to_timestamp(k * 1800)::TIMESTAMP AS window_start
    FROM events e,
         UNNEST(generate_series(
             CAST(floor((epoch(e.ts) - 3600) / 1800) + 1 AS BIGINT),
             CAST(floor(epoch(e.ts) / 1800) AS BIGINT))) AS t(k)
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM expanded
GROUP BY 1, 2, 3
""",
)
def events_sliding(spark, sf_dir):
    """1-hour windows sliding every 30 minutes per event type (bounded
    2x row fanout inside the hash agg, no self-join)."""
    return sliding_window_agg(
        _t(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        "30 minutes",
        group_by=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        ],
    ).select("window_start", "window_end", "event_type", "n_events", "sum_cents")


@_register(
    "events_asof_forward",
    """
SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS next_click_id, r.value AS next_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND r.ts >= l.ts
""",
)
def events_asof_forward(spark, sf_dir):
    """Forward as-of join: for each purchase, the user's next click at or
    after it (same single-shuffle union-sort plan, reversed ordering)."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("next_click_id"),
        F.col("value").alias("next_click_value"),
    )
    return as_of_join(
        purchases, clicks, "user_id", "ts", "ts",
        ["next_click_id", "next_click_value"], direction="forward",
    )


# --- deterministic sampling / splitting ----------------------------------

from .operators.profiling import profile_columns, tf_idf_top_terms  # noqa: E402
from .operators.sampling import (  # noqa: E402
    BUCKETS,
    deterministic_sample,
    hash_split,
    hash_split_sql,
    mixture_sample,
    stratified_sample,
)
from .operators.sampling import _bucket_sql as _duck_bucket  # noqa: E402

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_STRATA_FRACTIONS = {"en": 0.5, "de": 1.0}
_STRATA_DEFAULT = 0.25


@_register(
    "sample_hash_split",
    f"""
SELECT doc_id, {hash_split_sql('doc_id', _SPLIT_WEIGHTS)} AS split
FROM documents
""",
)
def sample_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by id hash (80/10/10):
    re-run- and partitioning-invariant, contamination-free by
    construction."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, "doc_id", _SPLIT_WEIGHTS)


@_register(
    "quality_observed_metrics",
    """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 END)
            AS BIGINT) AS n_empty,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
""",
)
def quality_observed_metrics(spark, sf_dir):
    """Zero-extra-pass pipeline instrumentation (Spark Observation API):
    the quality counters are computed as a side effect of the ONE pass
    that materialises the frame — at production scale metrics ride the
    write instead of doubling the job. (``n_langs`` uses a plain exact
    aggregate here; observe() itself disallows distinct aggregates, which
    the operator docstring notes.)"""
    from .operators.quality import observe_metrics

    docs = _t(spark, sf_dir, "documents")
    observed, obs = observe_metrics(
        docs,
        "corpus_quality",
        {
            "n_rows": F.count(F.lit(1)),
            "n_empty": F.count(
                F.when(
                    F.col("text").isNull() | (F.length("text") == 0), 1
                )
            ),
            "total_chars": F.sum("n_chars"),
        },
    )
    n_langs = docs.select("lang").distinct().count()
    observed.write.format("noop").mode("overwrite").save()  # the ONE pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_empty"], m["total_chars"], n_langs)],
        "n_rows: long, n_empty: long, total_chars: long, n_langs: long",
    )


@_register(
    "sample_weighted",
    f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE {_duck_bucket('doc_id', '')}
      < CAST(floor(least(greatest((n_chars / 1000.0), 0), 1) * 10000)
             AS BIGINT)
""",
)
def sample_weighted(spark, sf_dir):
    """Deterministic quality-weighted subsampling: keep probability =
    clamp(n_chars/1000, 0, 1), decided by the id hash — longer documents
    kept proportionally more often, membership reproducible across runs
    and partitionings, samples nest as the scale grows. Pushdown-eligible
    filter, zero shuffle."""
    from .operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars",
        (F.col("n_chars") / 1000.0).alias("_w"),
    )
    return weighted_sample(docs, "doc_id", "_w").drop("_w")


@_register(
    "sample_stratified",
    f"""
SELECT doc_id, lang FROM documents
WHERE {_duck_bucket('doc_id', '')} <
      CASE lang WHEN 'en' THEN {int(0.5 * 10_000)}
                WHEN 'de' THEN {int(1.0 * 10_000)}
                ELSE {int(0.25 * 10_000)} END
""",
)
def sample_stratified(spark, sf_dir):
    """Per-stratum deterministic downsampling (keep 50% of en, all of de,
    25% of everything else) — rebalancing a corpus without RNG."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs, "doc_id", "lang", _STRATA_FRACTIONS,
        default_fraction=_STRATA_DEFAULT,
    )


@_register(
    "sample_nested",
    f"""
SELECT doc_id FROM documents
WHERE {_duck_bucket('doc_id', 'ablate')} < {int(0.1 * 10_000)}
""",
)
def sample_nested(spark, sf_dir):
    """10% deterministic sample (salted): the 1% sample with the same salt
    is a strict subset — nesting makes data-ablation curves comparable."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_sample(docs, "doc_id", 0.1, salt="ablate")


#: target mixture over languages; binary-exact shares so the driver-side
#: and DuckDB-side float solves are bit-identical in any summation order
_MIX_WEIGHTS = {"en": 0.5, "de": 0.25, "zh": 0.25}


@_register(
    "sample_mixture",
    f"""
WITH w(lang, wt) AS (VALUES {', '.join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())}),
c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
p AS (SELECT w.lang, w.wt, c.n FROM w JOIN c USING (lang)),
sh AS (SELECT lang, wt / (SELECT sum(wt) FROM p) AS share, n FROM p),
cut AS (SELECT lang,
               CAST(floor(share * (SELECT min(n / share) FROM sh) / n * {BUCKETS})
                    AS BIGINT) AS cutoff
        FROM sh)
SELECT d.doc_id, d.lang FROM documents d
JOIN cut USING (lang)
WHERE {_duck_bucket('doc_id', 'mixture')} < cutoff
""",
)
def sample_mixture(spark, sf_dir):
    """Mixture construction: downsample so en:de:zh sits at 2:1:1 with the
    binding language (scarcest vs its share) kept at 100% — the largest
    corpus with the target mixture. Per-language cutoffs solved from one
    count aggregate; membership is the usual deterministic id-hash bucket."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(docs, "doc_id", "lang", _MIX_WEIGHTS, salt="mixture")


# --- profiling / TF-IDF ---------------------------------------------------

_PROFILE_COLS = ["l_orderkey", "l_returnflag", "l_quantity", "l_linestatus"]


def _duck_profile_sql() -> str:
    parts = [
        f"""SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min({c})::VARCHAR AS min_value,
       max({c})::VARCHAR AS max_value
FROM lineitem"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@_register("profile_lineitem", _duck_profile_sql())
def profile_lineitem(spark, sf_dir):
    """Per-column profile (rows / nulls / distinct / min / max) of four
    lineitem columns in ONE scan + one wide aggregate."""
    return profile_columns(_t(spark, sf_dir, "lineitem"), _PROFILE_COLS)


_TFIDF_K = 3

#: DuckDB fragment: whitespace tokens of trimmed lower(text)
_DUCK_TOKENS_LOWER = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(lower(text)), '\\s+') END"
)


@_register(
    "text_tfidf",
    f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_TOKENS_LOWER}) AS term FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), df_t AS (
    SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), n AS (
    SELECT count(DISTINCT doc_id) AS n FROM documents
), scored AS (
    SELECT doc_id, term, tf,
           round(tf * (ln((n.n + 1)::DOUBLE / (df + 1)) + 1), 6) AS score
    FROM tf JOIN df_t USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, score FROM scored
QUALIFY row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) <= {_TFIDF_K}
""",
)
def text_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (sklearn's ln((N+1)/(df+1))+1 variant), ties broken by term."""
    return tf_idf_top_terms(
        _t(spark, sf_dir, "documents"), k=_TFIDF_K
    )


# --- repetition stats / sequence packing ---------------------------------

from .functions.text import add_repetition_stats  # noqa: E402
from .operators.packing import pack_sequences  # noqa: E402


@_register(
    "text_repetition",
    f"""
WITH base AS (
    SELECT doc_id, text,
           list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lines,
           {_DUCK_TOKENS} AS t
    FROM documents
), grams AS (
    SELECT doc_id, lines, t,
           CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                ELSE list_transform(generate_series(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+1], ' '))
           END AS bg
    FROM base
)
SELECT doc_id,
       CASE WHEN len(lines) = 0 THEN NULL
            ELSE 1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
       END AS dup_line_ratio,
       CASE WHEN len(t) = 0 THEN NULL
            ELSE 1.0 - len(list_distinct(t))::DOUBLE / len(t)
       END AS dup_token_ratio,
       CASE WHEN len(bg) = 0 THEN NULL
            ELSE list_max(list_transform(list_distinct(bg),
                     g -> len(list_filter(bg, x -> x = g))))::DOUBLE / len(bg)
       END AS top_bigram_ratio
FROM grams
""",
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (duplicate-line ratio, duplicate-
    token ratio, top-bigram ratio) in one shuffle-free projection. The
    gram-sort fold is interpreted (HOF lambdas don't codegen), so widen
    the one-split bench input first — a no-op at scale."""
    from .functions.partitioning import ensure_min_partitions

    docs = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return add_repetition_stats(docs).select(
        "doc_id", "dup_line_ratio", "dup_token_ratio", "top_bigram_ratio"
    )


_PACK_BUDGET = 2048
# fixed (not auto-derived) so the DuckDB oracle can replicate the sharding;
# 32 >= the local default parallelism so the window stage is never the
# serialisation point. Library callers get data-derived sharding by default.
_PACK_SHARDS = 32


@_register(
    "pack_sequences",
    f"""
WITH toks AS (
    SELECT doc_id,
           len({_DUCK_TOKENS}) AS n_tokens,
           ({_duck_bucket('doc_id', '')} % {_PACK_SHARDS}) AS shard
    FROM documents
), cum AS (
    SELECT doc_id, n_tokens, shard,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS tokens_before
    FROM toks
)
SELECT doc_id, n_tokens, shard,
       (tokens_before // {_PACK_BUDGET})::BIGINT AS seq_id,
       (tokens_before % {_PACK_BUDGET})::BIGINT AS seq_offset
FROM cum
""",
)
def pack_sequences_q(spark, sf_dir):
    """Deterministic token-budget packing: documents laid end-to-end on a
    per-shard virtual tape, cut every 2048 tokens; placement is a pure
    function of (ids, token counts)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).select("doc_id", "n_tokens", "shard", "seq_id", "seq_offset")


# --- group quantiles / embedding centroids --------------------------------

from .operators.profiling import group_quantiles  # noqa: E402
from .operators.similarity import embedding_centroids  # noqa: E402

_EMB_DIM = 64


@_register(
    "doclen_quantiles",
    """
SELECT lang, count(*) AS n_rows,
       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       round(quantile_cont(n_chars, 0.50), 6) AS p50,
       round(quantile_cont(n_chars, 0.75), 6) AS p75,
       round(quantile_cont(n_chars, 0.95), 6) AS p95
FROM documents GROUP BY lang
""",
)
def doclen_quantiles(spark, sf_dir):
    """Per-language exact length quantiles (type-7 interpolation) — the
    thresholds a length-based curation filter would be derived from."""
    return group_quantiles(
        _t(spark, sf_dir, "documents"), ["lang"], "n_chars"
    )


@_register(
    "embedding_centroids",
    f"""
WITH u AS (
    SELECT label, i - 1 AS dim_index, round(avg(embedding[i]), 6) AS value
    FROM embeddings, generate_series(1, {_EMB_DIM}) AS t(i)
    GROUP BY 1, 2
)
SELECT label, n_vectors, CAST(dim_index AS INTEGER) AS dim_index, value
FROM u JOIN (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label)
       USING (label)
""",
)
def embedding_centroids_q(spark, sf_dir):
    """Per-label mean embedding (class prototype / IVF-style centroid):
    64 scalar avg aggregates reassembled into one array — partial
    aggregation keeps the shuffle at one vector per (partition, label).
    The registry output explodes the centroid to (dim_index, value) rows
    so the comparison is over scalars (array hashing differs between
    harnesses); the operator's own array output is pinned by pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = embedding_centroids(emb, ["label"], dim=_EMB_DIM, round_digits=6)
    return cent.select(
        "label",
        "n_vectors",
        F.posexplode("centroid").alias("dim_index", "value"),
    )


# --- trailing range-frame window -----------------------------------------

from .operators.events import trailing_window_agg  # noqa: E402


@_register(
    "events_trailing",
    """
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_trailing,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_trailing
FROM events
WINDOW w AS (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW
)
""",
)
def events_trailing(spark, sf_dir):
    """Per-event trailing-24h features per user (count + integer-cent sum)
    over a RANGE frame on event-time microseconds: one keyed shuffle +
    sort, two-pointer frame advance — the rolling-feature primitive."""
    from .registry import _load_events

    ev = _load_events(spark, sf_dir)
    return trailing_window_agg(
        ev,
        "ts",
        "24 hours",
        ["user_id"],
        aggs={
            "n_trailing": F.count("*"),
            "cents_trailing": F.sum(
                F.round(F.col("value") * 100).cast("long")
            ),
        },
    ).select("event_id", "user_id", "ts", "n_trailing", "cents_trailing")


# --- classic multi-way-join analytics over the TPC-H-ish tables ----------

_REV_CENTS = "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


@_register(
    "analytics_top_orders",
    f"""
SELECT o_orderkey, o_orderdate, revenue_cents
FROM (
    SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
           CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
)
QUALIFY row_number() OVER (ORDER BY revenue_cents DESC, o_orderkey ASC) <= 10
""",
)
def analytics_top_orders(spark, sf_dir):
    """TPC-H Q3-shaped: unshipped-revenue per BUILDING-segment order, top
    10. Scale-safe plan: broadcast ONLY the filtered customer dimension
    into orders; lineitem<->orders is a shuffle join on orderkey — the
    filtered-orders side is O(half the orders table), so hinting it
    broadcast would OOM executors at 100x (AQE still broadcasts at runtime
    when the filtered side happens to be small). Top-k via the library's
    global select_top_rows (Catalyst rewrites to WindowGroupLimit, partial
    top-k before the exchange). Revenue accumulates in integer cents for
    cross-engine parity."""
    from .operators.topk import select_top_rows

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    rev = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
    )
    filtered_orders = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "o_orderdate")
    agged = (
        li.join(filtered_orders, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_cents"))
    )
    return select_top_rows(
        agged,
        method="row_number",
        n=10,
        partition_by=None,
        order_by=[F.col("revenue_cents").desc(), F.col("o_orderkey").asc()],
    )


@_register(
    "analytics_region_revenue",
    f"""
SELECT n.n_name, CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def analytics_region_revenue(spark, sf_dir):
    """TPC-H Q5-shaped: 1996 revenue by ASIA nation where the supplier is
    in the customer's nation. Five-way join: region/nation are broadcast
    (fixed 5/25 rows at every scale factor); customer and supplier carry NO
    hint — they grow linearly with SF, so the planner/AQE size-gates
    broadcast vs shuffle from real stats; orders-lineitem shuffles on
    orderkey. Integer-cent accumulation."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(F.sum(rev).alias("revenue_cents"))


# --- decontamination / chunking (round 2 additions) -----------------------

from .operators.contamination import ngram_contamination  # noqa: E402
from .operators.packing import chunk_documents  # noqa: E402
from .operators.sampling import split_bucket  # noqa: E402

_DECON_NGRAM = 4
_DECON_SALT = "decontam"
_DECON_CUT = 1000  # 10% of the 10k hash buckets are the "eval" set
_DECON_MAX_EVAL_DF = 100  # hot-gram guard: bounded per-gram join fanout


@_register(
    "decontam_ngram_overlap",
    f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_TOKENS_LOWER} AS t,
           {_duck_bucket('doc_id', _DECON_SALT)} AS bucket
    FROM documents
), grams AS (
    SELECT doc_id, bucket, unnest(list_distinct(
        CASE WHEN len(t) < {_DECON_NGRAM} THEN []::VARCHAR[]
             ELSE list_transform(generate_series(1, len(t) - {_DECON_NGRAM - 1}),
                                 i -> array_to_string(t[i:i+{_DECON_NGRAM - 1}], ' '))
        END)) AS gram
    FROM toks
), eval_grams AS (
    SELECT doc_id, gram FROM (
        SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
        FROM grams WHERE bucket < {_DECON_CUT}
    ) WHERE df <= {_DECON_MAX_EVAL_DF}
)
SELECT c.doc_id,
       count(DISTINCT c.gram) AS n_shared_ngrams,
       count(DISTINCT e.doc_id) AS n_eval_docs
FROM (SELECT * FROM grams WHERE bucket >= {_DECON_CUT}) c
JOIN eval_grams e USING (gram)
GROUP BY 1
""",
)
def decontam_ngram_overlap(spark, sf_dir):
    """Eval-set decontamination: a deterministic 10% hash split of documents
    plays the held-out benchmark; every remaining corpus doc sharing a
    word 4-gram with it is reported with shared-gram and eval-doc counts.
    Candidate generation is an equi-join on the n-gram (cost proportional
    to shared grams, never corpus x eval); grams in > 100 eval docs are
    dropped first (hot-gram fanout guard)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = split_bucket("doc_id", _DECON_SALT)
    corpus = docs.filter(bucket >= _DECON_CUT)
    eval_df = docs.filter(bucket < _DECON_CUT).withColumnRenamed(
        "doc_id", "eval_id"
    )
    return ngram_contamination(
        corpus, eval_df, ngram=_DECON_NGRAM, max_eval_df=_DECON_MAX_EVAL_DF
    )


_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@_register(
    "chunk_documents",
    f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
), sized AS (
    SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1
), idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(
               CAST(ceil((n - {_CHUNK_OVERLAP})::DOUBLE / {_CHUNK_STRIDE}) AS BIGINT),
               1))) AS i
    FROM sized
)
SELECT doc_id,
       CAST(i - 1 AS BIGINT) AS chunk_id,
       CAST(len(t[(i-1)*{_CHUNK_STRIDE} + 1 : (i-1)*{_CHUNK_STRIDE} + {_CHUNK_TOKENS}]) AS BIGINT)
           AS chunk_n_tokens,
       array_to_string(t[(i-1)*{_CHUNK_STRIDE} + 1 : (i-1)*{_CHUNK_STRIDE} + {_CHUNK_TOKENS}], ' ')
           AS chunk_text
FROM idx
""",
)
def chunk_documents_q(spark, sf_dir):
    """Fixed-size token windows with overlap (32-token chunks, 8-token
    overlap): pure array arithmetic + posexplode, no shuffle, no UDF."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )


@_register(
    "events_json_props",
    """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
)
def events_json_props(spark, sf_dir):
    """Semi-structured column handling: the events ``props`` JSON string is
    parsed with a TYPED from_json schema (JVM-side Jackson, codegen-stage
    compatible — never a Python UDF), then aggregated per event type. At
    scale the parse is a narrow projection fused into the scan; only the
    small per-type aggregate shuffles."""
    ev = _t(spark, sf_dir, "events").select("event_type", "props")
    parsed = ev.withColumn(
        "_k", F.from_json(F.col("props"), "k BIGINT")["k"]
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("_k").alias("sum_k"),
        F.max("_k").alias("max_k"),
    )


@_register(
    "analytics_promo_revenue",
    f"""
SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN {_REV_CENTS} ELSE 0 END) AS BIGINT) AS promo_cents,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS total_cents
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def analytics_promo_revenue(spark, sf_dir):
    """TPC-H Q14-shaped: promo-part share of one quarter's revenue. The
    part dimension grows linearly with SF so the join carries NO broadcast
    hint (planner/AQE size-gates); the date filter pushes down to the
    lineitem scan; conditional aggregation in integer cents."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias(
            "promo_cents"
        ),
        F.sum(rev).alias("total_cents"),
    )


# --- text cleaning (PII scrub / line filter) ------------------------------

from .operators.cleaning import PII_PATTERNS, filter_lines, scrub_pii  # noqa: E402


def _duck_scrub_expr(col: str) -> str:
    out = col
    for _name, pat, repl in PII_PATTERNS:
        # doubled single quotes for SQL; 'g' = replace ALL (DuckDB defaults
        # to first-match-only, unlike Spark)
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


@_register(
    "clean_scrub_pii",
    f"""
WITH dirty AS (
    SELECT doc_id,
           substr(text, 1, 40) || ' contact user' || doc_id ||
           '@example.com or https://site' || doc_id ||
           '.org/p?x=1 or 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
           '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
    FROM documents
)
SELECT doc_id, {_duck_scrub_expr('text')} AS text FROM dirty
""",
)
def clean_scrub_pii(spark, sf_dir):
    """PII scrubbing over deterministically-dirtied documents (synthetic
    email + URL + phone appended per doc): chained regexp_replace with
    placeholder tokens, patterns in the Java-regex/RE2 shared subset."""
    key = F.col("doc_id")
    dirty = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact user"), key.cast("string"),
            F.lit("@example.com or https://site"), key.cast("string"),
            F.lit(".org/p?x=1 or 555-"),
            F.lpad((key % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((key % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return scrub_pii(dirty)


@_register(
    "clean_filter_lines",
    """
WITH lined AS (
    SELECT doc_id,
           substr(text, 1, 30) || '.' || chr(10) ||
           substr(text, 31, 20) || chr(10) ||
           'ok' || chr(10) ||
           'Final line ' || doc_id || '!' AS text
    FROM documents
), filtered AS (
    SELECT doc_id,
           string_split(text, chr(10)) AS ls,
           list_filter(string_split(text, chr(10)),
                       l -> len(trim(l)) >= 3
                            AND regexp_matches(rtrim(l), '[.!?]["'']?$'))
               AS kept
    FROM lined
)
SELECT doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines_total,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       array_to_string(kept, chr(10)) AS text
FROM filtered
""",
)
def clean_filter_lines(spark, sf_dir):
    """C4-style line filter over deterministically-lined documents: line 1
    gains terminal punctuation (kept), line 2 has none (dropped), line 3
    is too short (dropped), line 4 ends with '!' (kept)."""
    key = F.col("doc_id")
    lined = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 30), F.lit(".\n"),
            F.substring("text", 31, 20), F.lit("\n"),
            F.lit("ok\n"),
            F.lit("Final line "), key.cast("string"), F.lit("!"),
        ).alias("text"),
    )
    return filter_lines(lined, min_chars=3).select(
        "doc_id", "n_lines_total", "n_lines_kept", "text"
    )


@_register(
    "pipeline_best_of_cluster",
    f"""
SELECT component, doc_id AS best_doc, quality_score
FROM (SELECT doc_id, component FROM ({ORACLES['dedup_clusters_cc']})) c
JOIN ({ORACLES['text_quality']}) q USING (doc_id)
QUALIFY row_number() OVER (PARTITION BY component
                           ORDER BY quality_score DESC, doc_id) = 1
""",
)
def pipeline_best_of_cluster(spark, sf_dir):
    """Quality-aware near-dup curation: MinHash-LSH clusters (est_jaccard
    >= 0.5 connected components) joined with the heuristic quality score;
    the KEPT document per cluster is the highest-quality member (doc-id
    tie-break), not the arbitrary min-id canonical — the selection policy
    real pipelines want. The quality join feeds a WindowGroupLimit top-1
    per component."""
    from .operators.topk import first_row

    docs = _t(spark, sf_dir, "documents")
    clusters = _clusters(spark, sf_dir).select("doc_id", "component")
    quality = add_quality_score(docs).select("doc_id", "quality_score")
    joined = clusters.join(quality, on="doc_id")
    best = first_row(
        joined,
        n=1,
        partition_by=["component"],
        order_by=[F.col("quality_score").desc(), F.col("doc_id").asc()],
    )
    return best.select(
        "component", F.col("doc_id").alias("best_doc"), "quality_score"
    )


@_register(
    "events_asof_tolerance",
    """
SELECT l.event_id, l.user_id, l.ts,
       CASE WHEN r.ts >= l.ts - INTERVAL 10 MINUTE THEN r.event_id END
           AS click_event_id,
       CASE WHEN r.ts >= l.ts - INTERVAL 10 MINUTE THEN r.value END
           AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND r.ts <= l.ts
""",
)
def events_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness bound (pandas merge_asof tolerance):
    each purchase matched to the user's most recent click only if it is at
    most 10 minutes old — older matches come back null. Same
    single-shuffle union-sort plan; the tolerance is a post-carry
    projection, not an extra join."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    return as_of_join(
        purchases,
        clicks,
        "user_id",
        "ts",
        "ts",
        ["click_event_id", "click_value"],
        tolerance_seconds=600,
    )


@_register(
    "multimodal_audio",
    """
SELECT doc_id,
  CAST(([8000,16000,22050,44100,48000])[('0x'||substr(md5(text),11,2))::INTEGER % 5 + 1]
       AS INTEGER) AS sample_rate,
  CAST(1 + ('0x'||substr(md5(text),13,2))::INTEGER % 2 AS INTEGER) AS n_channels,
  CAST((200 + (('0x'||substr(md5(text),15,2))::INTEGER * 256
               + ('0x'||substr(md5(text),17,2))::INTEGER) % 800) * 1000
       // ([8000,16000,22050,44100,48000])[('0x'||substr(md5(text),11,2))::INTEGER % 5 + 1]
       AS BIGINT) AS duration_ms,
  CAST(('0x'||substr(md5(text),19,2))::INTEGER AS INTEGER) AS rms_q8
FROM documents
""",
)
def multimodal_audio(spark, sf_dir):
    """REAL codec path: synthesize deterministic PCM16 WAV binaries
    worker-side (alternating +A/-A samples so true RMS == A exactly), then
    RIFF-walk and parse them with the pure-stdlib WAV codec — rate /
    channels / integer duration / quantised RMS all predicted by the
    oracle from the seed text."""
    from .operators.multimodal import decode_audio_features, synthesize_media_payloads

    docs = synthesize_media_payloads(
        _t(spark, sf_dir, "documents"), kind="wav"
    )
    return decode_audio_features(docs, decoder="real")


@_register(
    "privacy_suppress",
    """
SELECT l_returnflag, l_linestatus, n FROM (
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    WHERE l_quantity < 3
    GROUP BY 1, 2
) WHERE n >= 400
""",
)
def privacy_suppress(spark, sf_dir):
    """Small-group suppression: whole rows below the threshold are removed
    (the existence-is-disclosive alternative to value redaction)."""
    from .operators.privacy import suppress_small_groups

    counts = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 3)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )
    return suppress_small_groups(counts, "n", 400)


_KANON_K = 8


@_register(
    "privacy_k_anonymity",
    f"""
SELECT c_mktsegment, c_nationkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
       count(*) AS n_rows
FROM customer
GROUP BY 1, 2, 3
HAVING count(*) < {_KANON_K}
""",
)
def privacy_k_anonymity(spark, sf_dir):
    """Pre-release k-anonymity audit: quasi-identifier combinations
    (market segment x nation x 1000-wide balance band) held by fewer than
    k=8 customers — each is a re-identification risk to generalise or
    suppress. The balance band keeps the audit NON-VACUOUS at every test
    scale (segment x nation alone saturates past ~10k customers and the
    audit would certify trivially: 207 violations at sf0.1, 901 at
    sf0.01). One groupBy whose shuffle carries one row per distinct
    combination."""
    from .operators.privacy import k_anonymity_violations

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
    )
    return k_anonymity_violations(
        cust,
        ["c_mktsegment", "c_nationkey", "acctbal_band"],
        k=_KANON_K,
    )


@_register(
    "privacy_generalize",
    """
SELECT date_trunc('year', o_orderdate)::DATE AS o_orderdate,
       '[' || (floor(o_totalprice / 50000) * 50000)::BIGINT::VARCHAR
           || ', '
           || (floor(o_totalprice / 50000) * 50000 + 50000)::BIGINT::VARCHAR
           || ')' AS o_totalprice,
       substr(o_orderpriority, 1, 1) AS o_orderpriority,
       count(*) AS n_rows
FROM orders GROUP BY 1, 2, 3
""",
)
def privacy_generalize(spark, sf_dir):
    """Quasi-identifier generalisation — the k-anonymity REMEDY paired
    with the audit: order dates truncate to year, prices bin to half-open
    50k ranges, priorities truncate to their digit prefix; the grouped
    counts show every combination's size after coarsening. Pure
    projection + one groupBy."""
    from .operators.privacy import generalize_columns

    gen = generalize_columns(
        _t(spark, sf_dir, "orders").select(
            "o_orderdate", "o_totalprice", "o_orderpriority"
        ),
        {
            "o_orderdate": ("date_trunc", "year"),
            "o_totalprice": ("bin", 50000),
            "o_orderpriority": ("prefix", 1),
        },
    )
    return gen.groupBy(
        "o_orderdate", "o_totalprice", "o_orderpriority"
    ).agg(F.count("*").alias("n_rows"))


@_register(
    "wrangle_mad_outliers",
    """
WITH med AS (
    SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
    FROM lineitem GROUP BY 1
), r AS (
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice, med.m
    FROM lineitem l JOIN med USING (l_returnflag)
), mad AS (
    SELECT l_returnflag,
           quantile_cont(abs(l_extendedprice - m), 0.5) AS d
    FROM r GROUP BY 1
), z AS (
    SELECT r.l_orderkey, r.l_linenumber, r.l_returnflag, r.l_extendedprice,
           CASE WHEN mad.d > 0
                THEN round(0.6745 * (r.l_extendedprice - r.m) / mad.d, 6)
           END AS l_extendedprice_robust_z
    FROM r JOIN mad USING (l_returnflag)
)
SELECT *,
       coalesce(abs(l_extendedprice_robust_z) > 3.5, false)
           AS l_extendedprice_is_outlier
FROM z
""",
)
def wrangle_mad_outliers(spark, sf_dir):
    """Robust (median/MAD) outlier flagging of lineitem prices per return
    flag — the Iglewicz-Hoaglin modified z-score at the conventional 3.5
    cut. Two grouped exact-percentile aggregates re-attached by equi-join
    on the 3-row group key; the oracle recomputes the identical two-pass
    median -> MAD -> z arithmetic."""
    from .operators.wrangling import mad_outlier_flags

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return mad_outlier_flags(
        li, "l_extendedprice", group_by=["l_returnflag"], threshold=3.5
    )


@_register(
    "table_standardise_hes",
    """
SELECT CAST(o_orderkey AS VARCHAR) AS person_id,
       o_orderpriority AS order_priority_,
       CAST(o_totalprice AS VARCHAR) AS total_price_
FROM orders
""",
)
def table_standardise_hes(spark, sf_dir):
    """Rename-only standardiser path (hes_apc and 8 siblings share it,
    reference table_management.py:233-300): PERSON_ID_DEID rename + name
    cleaning, no date parsing."""
    from .sources.tables import standardise_table

    src = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("PERSON_ID_DEID"),
        F.col("o_orderpriority").alias("Order Priority!"),
        F.col("o_totalprice").cast("string").alias("Total Price?"),
    )
    return standardise_table(src, "hes_apc")


@_register(
    "events_gap_quantiles",
    """
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
               AS gap_us
    FROM events
)
SELECT user_id % 10 AS user_bucket,
       count(*) AS n_rows,
       quantile_disc(gap_us, 0.50) AS p50,
       quantile_disc(gap_us, 0.95) AS p95
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY 1
""",
)
def events_gap_quantiles(spark, sf_dir):
    """Inter-event-gap quantiles (microseconds) per user bucket — the
    activity-cadence feature behind session-gap threshold selection.
    DISCRETE (nearest-rank) quantiles, deliberately: the values are
    actual observed integer gaps selected by rank, so Spark's
    percentile_disc and DuckDB's quantile_disc agree bit-for-bit at any
    scale — the interpolating percentile's ``lo + frac*(hi-lo)`` is
    fused differently across engines and at ~1e11-microsecond
    magnitudes a 1-ulp difference (~3e-5) survives round(6): the
    round-7 sf0.1 driver-strength sweep caught exactly that (p95
    ...687.59996 vs ...59998). Interpolated quantiles remain fine where
    magnitudes keep the ulp below the rounding grain (doclen_quantiles
    at ~1e3)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.withColumn(
        "gap_us",
        F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                "percentile_disc(0.50) WITHIN GROUP (ORDER BY gap_us)"
            ).cast("long").alias("p50"),
            F.expr(
                "percentile_disc(0.95) WITHIN GROUP (ORDER BY gap_us)"
            ).cast("long").alias("p95"),
        )
    )


@_register(
    "events_retention",
    """
WITH first_seen AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS INTEGER) AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_seen f USING (user_id)
GROUP BY 1, 2
""",
)
def events_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen day, distinct
    active users per (cohort day, day offset). Two shuffles — the min
    aggregate and the final count-distinct — with the first-seen table
    joined back un-hinted (it grows with the user universe; AQE
    size-gates)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first_seen, on="user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@_register(
    "events_funnel",
    """
WITH stages AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
)
SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
       count(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 END)
           AS n_view_click,
       count(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                   AND t_purchase > t_click THEN 1 END) AS n_full_funnel
FROM stages
""",
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel (view -> click -> purchase): one
    conditional-min aggregate per user (single shuffle, map-side partials)
    then a global conditional count — no self-joins, no window explosion;
    null stage times fail the ordering predicate exactly as in SQL."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_view_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@_register(
    "doclen_histogram",
    f"""
WITH toks AS (SELECT doc_id, len({_DUCK_TOKENS}) AS n FROM documents)
SELECT CAST(floor(ln(n) / ln(2)) AS INTEGER) AS log2_bucket,
       count(*) AS n_docs,
       CAST(min(n) AS BIGINT) AS min_tokens,
       CAST(max(n) AS BIGINT) AS max_tokens
FROM toks WHERE n >= 1
GROUP BY 1
""",
)
def doclen_histogram(spark, sf_dir):
    """Power-of-two token-length histogram — the length-distribution view
    behind packing-budget and truncation decisions. Narrow projection +
    one small aggregate."""
    from .functions.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        token_count(F.col("text")).alias("n")
    ).filter(F.col("n") >= 1)
    return (
        docs.withColumn(
            "log2_bucket",
            F.floor(F.log2("n")).cast("int"),
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
    )


@_register(
    "sample_cap_per_group",
    f"""
SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
               ORDER BY {_duck_bucket('doc_id', 'cap')} ASC, doc_id ASC) AS rn
    FROM documents
) WHERE rn <= 40
""",
)
def sample_cap_per_group(spark, sf_dir):
    """Deterministic per-group cap: at most 40 docs per language, chosen
    by id-hash order (nested: raising the cap only adds rows). Catalyst
    compiles the rank-filter to WindowGroupLimit — map-side pruning to
    <= n rows per group per split."""
    from .operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return cap_per_group(docs, "doc_id", "lang", 40, salt="cap")


@_register(
    "clean_unicode_nfc",
    """
SELECT doc_id,
       nfc_normalize(substr(text, 1, 20) || ' cafe' || chr(769) || ' ' || chr(65) || chr(776))
           AS text
FROM documents
""",
)
def clean_unicode_nfc(spark, sf_dir):
    """Unicode NFC canonicalisation over deterministically-decomposed text
    (combining acute/diaeresis appended): Arrow-batched pandas_udf over
    unicodedata vs DuckDB's native nfc_normalize."""
    from .operators.cleaning import normalize_unicode_nfc

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 20),
            F.lit(" café Ä"),
        ).alias("text"),
    )
    return normalize_unicode_nfc(docs)


_RESIZE_W, _RESIZE_H = 8, 8


@_register(
    "multimodal_resize",
    f"""
WITH b AS (
  SELECT doc_id,
    1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 64 AS w,
    1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 64 AS h,
    ('0x' || substr(md5(text), 7, 2))::INTEGER AS d3
  FROM documents
)
SELECT doc_id,
  CAST({_RESIZE_W} AS INTEGER) AS width,
  CAST({_RESIZE_H} AS INTEGER) AS height,
  CAST(list_sum(flatten(list_transform(range(0,{_RESIZE_H}), y ->
       flatten(list_transform(range(0,{_RESIZE_W}), x ->
       list_transform(range(0,3), c ->
         (d3 + ((y*h//{_RESIZE_H})*w + (x*w//{_RESIZE_W}))*3 + c) % 256))))))
       AS BIGINT) AS pixel_sum
FROM b
""",
)
def multimodal_resize(spark, sf_dir):
    """REAL codec path: synthesize P6 PPM binaries worker-side, nearest-
    neighbour resize to 8x8 (floor source mapping), re-encode as P6, and
    verify CONTENT via ``pixel_sum`` — the oracle recomputes the resized
    pixel bytes from the synthesis pattern in SQL, so a wrong source pixel
    mapping (not just wrong dimensions) hash-mismatches."""
    from .operators.multimodal import resize_image, synthesize_media_payloads

    docs = synthesize_media_payloads(
        _t(spark, sf_dir, "documents"), kind="ppm"
    )
    resized = resize_image(docs, _RESIZE_W, _RESIZE_H, decoder="real")
    return resized.select("doc_id", "width", "height", "pixel_sum")


@_register(
    "clean_dedup_lines",
    """
WITH lined AS (
    SELECT doc_id,
           'Header' || chr(10) || substr(text, 1, 25) || chr(10) ||
           'Header' || chr(10) || substr(text, 26, 25) || chr(10) || 'Header'
               AS text
    FROM documents
), arr AS (
    SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined
), kept AS (
    SELECT doc_id, ls,
           list_filter(ls, (l, i) -> list_position(ls, l) = i) AS ks
    FROM arr
)
SELECT doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines_total,
       CAST(len(ks) AS BIGINT) AS n_lines_kept,
       array_to_string(ks, chr(10)) AS text
FROM kept
""",
)
def clean_dedup_lines(spark, sf_dir):
    """Within-document repeated-line removal (boilerplate killer) over
    deterministically-lined documents with a thrice-repeated header: only
    the first occurrence of each line survives, order preserved."""
    from .operators.cleaning import dedup_lines

    lined = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Header\n"),
            F.substring("text", 1, 25), F.lit("\n"),
            F.lit("Header\n"),
            F.substring("text", 26, 25), F.lit("\n"),
            F.lit("Header"),
        ).alias("text"),
    )
    return dedup_lines(lined).select(
        "doc_id", "n_lines_total", "n_lines_kept", "text"
    )


def _duck_stopword_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"


@_register(
    "text_stopword_filter",
    f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
filt AS (
    SELECT doc_id, t,
           list_filter(t, x -> NOT list_contains({_duck_stopword_list()}, lower(x))) AS k
    FROM toks
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(k) AS BIGINT) AS n_content_tokens,
       CASE WHEN len(t) = 0 THEN NULL
            ELSE round((len(t) - len(k))::DOUBLE / len(t), 6) END AS stopword_ratio
FROM filt
""",
)
def text_stopword_filter(spark, sf_dir):
    """Stopword filtering + stopword-density feature: content-token count
    and stopword ratio per document (high ratio ~ natural prose, low ~
    lists/code — a standard quality signal)."""
    from .functions.text import remove_stopwords, tokens as _tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = _tokens(F.col("text"))
    kept = remove_stopwords(toks, STOPWORDS["en"])
    n_t, n_k = F.size(toks), F.size(kept)
    return docs.select(
        "doc_id",
        n_t.cast("long").alias("n_tokens"),
        n_k.cast("long").alias("n_content_tokens"),
        F.when(
            n_t > 0,
            F.round((n_t - n_k).cast("double") / n_t, 6),
        ).alias("stopword_ratio"),
    )


@_register(
    "clean_dedup_lines_corpus",
    """
WITH lined AS (
    SELECT doc_id,
           'COOKIE NOTICE' || chr(10) || substr(text, 1, 25) || chr(10) ||
           'promo ' || (doc_id % 7)::VARCHAR || chr(10) || substr(text, 26, 25)
               AS text
    FROM documents
), lines AS (
    SELECT doc_id, pos, ls[pos] AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined) t,
         UNNEST(generate_series(1, len(ls))) AS u(pos)
), hot AS (
    SELECT line FROM lines GROUP BY line HAVING count(*) > 50
), keep AS (
    SELECT doc_id, pos, line FROM lines
    WHERE line NOT IN (SELECT line FROM hot)
), tot AS (
    SELECT doc_id, len(string_split(text, chr(10))) AS n_total FROM lined
), agg AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY pos) AS text
    FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(n_total AS BIGINT) AS n_lines_total,
       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_lines_kept,
       COALESCE(a.text, '') AS text
FROM tot t LEFT JOIN agg a USING (doc_id)
""",
)
def clean_dedup_lines_corpus(spark, sf_dir):
    """CORPUS-level boilerplate line removal (C4 signal): every doc gets a
    universal 'COOKIE NOTICE' line (occurrences = corpus size) and a
    'promo k' line shared by ~1/7 of the corpus — both above the
    max_occurrences=50 cap and dropped everywhere — plus two unique
    content lines that must survive in order. Occurrence counting groups
    on xxhash64(line), the hot set anti-joins back, docs reassemble via
    one sorted collect per doc."""
    from .operators.cleaning import dedup_lines_across_corpus

    key = F.col("doc_id")
    lined = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("COOKIE NOTICE\n"),
            F.substring("text", 1, 25), F.lit("\n"),
            F.lit("promo "), (key % 7).cast("string"), F.lit("\n"),
            F.substring("text", 26, 25),
        ).alias("text"),
    )
    return dedup_lines_across_corpus(lined, max_occurrences=50).select(
        "doc_id", "n_lines_total", "n_lines_kept", "text"
    )


@_register(
    "ids_dense_assign",
    """
SELECT o_orderkey, o_totalprice,
       CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS dense_id
FROM orders
""",
)
def ids_dense_assign(spark, sf_dir):
    """Contiguous global row numbering WITHOUT the single-partition window
    the oracle uses: range-partition on the key, per-partition counts ->
    prefix-sum over #partitions rows, broadcast offsets back, then
    row_number windows per materialised partition id. The oracle's
    one-task ORDER BY is exactly the plan this operator exists to avoid —
    matching it cell-for-cell is the correctness proof."""
    from .operators.ids import assign_dense_ids

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return assign_dense_ids(o, ["o_orderkey"])


@_register(
    "events_interval_binned",
    """
SELECT l.event_id, count(*) AS n_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
GROUP BY l.event_id
""",
)
def events_interval_binned(spark, sf_dir):
    """Same logical result as events_interval_join, different physical
    strategy: the binned range join co-groups on (key, 1h time bin) so a
    hot key's history spreads over bins instead of one task — the OSS
    answer to Spark's missing range-join optimization. Identical oracle =
    the equivalence proof."""
    events = _t(spark, sf_dir, "events")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("start_ts"))
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    joined = interval_join(
        purchases, clicks, "user_id", "start_ts", "end_ts", "ts",
        time_bin_seconds=3600,
    )
    return joined.groupBy("event_id").agg(F.count("*").alias("n_clicks"))


@_register(
    "text_langid_confusion",
    f"""
SELECT d.lang, p.lang_pred, count(*) AS n_docs
FROM documents d JOIN ({_duck_lang_sql()}) p USING (doc_id)
GROUP BY 1, 2
""",
)
def text_langid_confusion(spark, sf_dir):
    """Language-ID quality matrix: stored language x heuristic prediction
    with document counts — the evaluation view that decides whether the
    classifier is good enough to gate on. Composed from the oracle-green
    langid query (DRY oracle via subquery)."""
    docs = _t(spark, sf_dir, "documents")
    pred = add_language_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", "lang")
        .join(pred, on="doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


# --- round 4: skew diagnosis, winsorization, table diff ------------------

@_register(
    "profile_key_skew",
    """
WITH per_key AS (
    SELECT o_custkey, count(*) AS key_rows FROM orders GROUP BY 1
), tot AS (
    SELECT CAST(sum(key_rows) AS BIGINT) AS total_rows,
           count(*) AS n_keys
    FROM per_key
), top AS (
    SELECT o_custkey, key_rows,
           CAST(row_number() OVER (ORDER BY key_rows DESC, o_custkey ASC)
                AS INTEGER) AS rank
    FROM per_key
    QUALIFY rank <= 10
)
SELECT rank, o_custkey, key_rows, total_rows, n_keys,
       round(key_rows / total_rows, 6) AS share,
       round(1.0 / n_keys, 6) AS uniform_share
FROM top, tot
""",
)
def profile_key_skew(spark, sf_dir):
    """Heavy-hitter profile of orders.o_custkey — the diagnosis step
    before choosing a skew mitigation (salting / AQE skew-join /
    broadcast). One groupBy count (shuffle carries distinct keys only),
    WindowGroupLimit top-10, 1-row totals crossJoin."""
    from .operators.profiling import key_skew_profile

    return key_skew_profile(
        _t(spark, sf_dir, "orders").select("o_custkey"),
        ["o_custkey"],
        top_n=10,
    )


@_register(
    "wrangle_winsorize",
    """
WITH b AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.05) AS lo,
           quantile_cont(l_extendedprice, 0.95) AS hi
    FROM lineitem GROUP BY 1
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       CASE WHEN l.l_extendedprice < b.lo THEN round(b.lo, 6)
            WHEN l.l_extendedprice > b.hi THEN round(b.hi, 6)
            ELSE l.l_extendedprice END AS price_w
FROM lineitem l JOIN b USING (l_returnflag)
""",
)
def wrangle_winsorize(spark, sf_dir):
    """Per-group winsorization of lineitem prices at the exact 5th/95th
    percentiles (type-7 interpolation — Spark ``percentile`` ==
    DuckDB ``quantile_cont``): heavy-tail clipping without dropping rows.
    One grouped aggregate computes all bounds; the clip is a codegen
    projection after an equi-join on the 3-row bounds table."""
    from .operators.wrangling import winsorize_columns

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return winsorize_columns(
        li, ["l_extendedprice"], lower=0.05, upper=0.95,
        group_by=["l_returnflag"],
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_extendedprice").alias("price_w"),
    )


@_register(
    "table_diff_versions",
    """
WITH old_t AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), new_t AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 11 <> 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 13 = 0
), j AS (
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           o.o_orderkey IS NOT NULL AS in_old,
           n.o_orderkey IS NOT NULL AS in_new,
           (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus) AS d_status,
           (o.o_totalprice IS DISTINCT FROM n.o_totalprice) AS d_price
    FROM old_t o FULL OUTER JOIN new_t n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN d_status OR d_price THEN 'changed'
            ELSE 'unchanged' END AS status,
       concat_ws(',',
           CASE WHEN in_old AND in_new AND d_status THEN 'o_orderstatus' END,
           CASE WHEN in_old AND in_new AND d_price THEN 'o_totalprice' END
       ) AS changed_columns
FROM j
""",
)
def table_diff_versions(spark, sf_dir):
    """Snapshot diff: orders vs a deterministically mutated next version
    (every 7th key's price bumped, every 11th key dropped, every 13th key
    re-added under a shifted id). One co-partitioned full outer join on
    the key; per-column null-safe comparison in the projection. The
    oracle replicates the mutation and the diff independently."""
    from .sources.tables import table_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    added = orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100000000
    )
    diff = table_diff(
        orders, new.unionByName(added), ["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    )
    return diff.select(
        "o_orderkey",
        "status",
        F.array_join("changed_columns", ",").alias("changed_columns"),
    )


@_register(
    "text_bigram_logprob",
    f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
), big AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
    FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    WHERE len(t) >= 2
), bc AS (
    SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2
), uc AS (
    SELECT w1, count(*) AS c1 FROM big GROUP BY 1
)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(avg(ln(c2 / c1)), 4) AS avg_logprob
FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1)
GROUP BY 1
""",
)
def text_bigram_logprob(spark, sf_dir):
    """CCNet/Gopher-style LM quality signal: per-document average bigram
    log-likelihood under the corpus's own MLE bigram model — low scorers
    (gibberish, boilerplate, wrong-language) are filter candidates. Two
    vocabulary-bounded gram aggregates, equi-joined back (no fanout: one
    stats row per gram), one per-doc aggregate."""
    from .operators.profiling import bigram_logprob_scores

    return bigram_logprob_scores(_t(spark, sf_dir, "documents"))


@_register(
    "source_jsonl_corpus",
    """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id % 3 <> 0
GROUP BY lang
""",
)
def source_jsonl_corpus(spark, sf_dir):
    """JSONL corpus lifecycle: write a documents subset as JSON-Lines with
    Spark's distributed writer (one file per partition, the interchange
    shape real corpora ship in), read it back with read_jsonl_corpus
    under an explicit schema (no inference pass) + PERMISSIVE corrupt
    handling, assert zero corrupt rows, and aggregate. The oracle runs
    the same aggregate on the parquet source — any writer/reader drift
    (type mangling, encoding, lost rows) breaks the match."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .sources.config_io import read_jsonl_corpus

    path = os.path.join(
        tempfile.gettempdir(), "hds_jsonl_corpus_" + _stable_dir_tag(sf_dir)
    )
    shutil.rmtree(path, ignore_errors=True)
    (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 != 0)
        .select("doc_id", "text", "lang", "n_chars")
        .write.mode("overwrite")
        .json(path)
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    df = read_jsonl_corpus(path, spark, schema=schema)
    # Spark refuses plans whose referenced columns are ONLY _corrupt_record
    # on a raw JSON scan, so the corrupt count rides an aggregate that also
    # touches a data column.
    n_corrupt = df.agg(
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("c"),
        F.count("doc_id"),
    ).first()["c"]
    if n_corrupt:
        raise ValueError(
            f"jsonl roundtrip produced {n_corrupt} corrupt rows at {path}"
        )
    clean = df.filter(F.col("_corrupt_record").isNull())
    return clean.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@_register(
    "quality_orphans",
    """
WITH broken_orders AS (
    SELECT * FROM orders WHERE o_orderkey % 5 <> 0
), r1 AS (
    SELECT 'lineitem->orders' AS relationship,
           (SELECT count(*) FROM lineitem) AS n_child_rows,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM broken_orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
), r2 AS (
    SELECT 'orders->customer' AS relationship,
           (SELECT count(*) FROM orders) AS n_child_rows,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans
)
SELECT relationship, n_child_rows, n_orphans,
       round(n_orphans / greatest(n_child_rows, 1), 6) AS orphan_rate
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
""",
)
def quality_orphans(spark, sf_dir):
    """Referential-integrity audit: lineitem->orders against a
    deliberately broken parent (every 5th order dropped — testdata is
    referentially intact, so the damage is synthesized to exercise the
    orphan path) plus the intact orders->customer relationship (expected
    0 orphans). Key-column-only anti joins; parent key sets are
    planner-broadcast at dimension size."""
    from .operators.quality import referential_orphans

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    broken_orders = orders.filter(F.col("o_orderkey") % 5 != 0)
    return referential_orphans(
        {
            "lineitem->orders": (
                lineitem, ["l_orderkey"], broken_orders, ["o_orderkey"]
            ),
            "orders->customer": (
                orders, ["o_custkey"], customer, ["c_custkey"]
            ),
        }
    )


@_register(
    "events_densified",
    """
WITH bucketed AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket FROM events
), counts AS (
    SELECT event_type, bucket, count(*) AS n_events
    FROM bucketed GROUP BY 1, 2
), spans AS (
    SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
    FROM bucketed GROUP BY 1
), axis AS (
    SELECT s.event_type, g.bucket
    FROM spans s,
         LATERAL unnest(generate_series(s.b0, s.b1, INTERVAL 1 HOUR))
             AS g(bucket)
)
SELECT a.event_type, a.bucket,
       coalesce(c.n_events, 0) AS n_events
FROM axis a LEFT JOIN counts c USING (event_type, bucket)
""",
)
def events_densified(spark, sf_dir):
    """Gap-filled hourly timeline per event type — zeros included, which
    a bare groupBy omits (biasing rates and breaking lag arithmetic).
    sequence() explode generates the dense axis executor-side; counts
    re-attach with a co-partitioned left join."""
    from .operators.events import densify_timeline

    return densify_timeline(
        _t(spark, sf_dir, "events"), "event_type", bucket_seconds=3600
    )


@_register(
    "events_densified_monthly",
    """
WITH b AS (
    SELECT event_type, date_trunc('month', ts) AS bucket FROM events
), counts AS (
    SELECT event_type, bucket, count(*) AS n_events FROM b GROUP BY 1, 2
), spans AS (
    SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1
), axis AS (
    SELECT event_type,
           unnest(generate_series(b0, b1, INTERVAL 1 MONTH)) AS bucket
    FROM spans
)
SELECT a.event_type, a.bucket,
       coalesce(c.n_events, 0) AS n_events
FROM axis a LEFT JOIN counts c USING (event_type, bucket)
""",
)
def events_densified_monthly(spark, sf_dir):
    """Gap-filled CALENDAR-month timeline per event type — irregular
    month lengths mean fixed-second bucketing cannot express this;
    date_trunc buckets + calendar-interval sequence() generate the dense
    axis executor-side, counts re-attach co-partitioned."""
    from .operators.events import densify_timeline_calendar

    return densify_timeline_calendar(
        _t(spark, sf_dir, "events"), "event_type", unit="month"
    )


@_register(
    "text_char_entropy",
    """
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch
    FROM documents WHERE len(text) > 0
), per_char AS (
    SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
), totals AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
           sum(c * ln(c)) AS clogc
    FROM per_char GROUP BY 1
)
SELECT doc_id, n_chars,
       round(ln(n_chars) - clogc / n_chars, 4) AS entropy
FROM totals
""",
)
def text_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document (nats) — flags
    degenerate padding (near 0) and random-looking junk (unusually high)
    that length/repetition stats miss. H computed as
    ln n - (1/n) sum c ln c from integer counts (one shared formula both
    engines evaluate identically)."""
    from .operators.profiling import char_entropy_scores

    return char_entropy_scores(_t(spark, sf_dir, "documents"))


_PP_NGRAM = 5
_PP_MAX_CROSS = 0.5
_PP_EVAL_MOD = 97
_PP_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _duck_pretrain_prep_sql() -> str:
    gram = stable_hash_sql(
        f"array_to_string(t[i:i+{_PP_NGRAM - 1}], ' ')"
    )
    split_case = hash_split_sql("doc_id", _PP_WEIGHTS)
    return f"""
WITH toks AS (
    SELECT doc_id, text, {_DUCK_TOKENS} AS t FROM documents
), inst AS (
    SELECT doc_id, {gram} AS gh
    FROM toks, UNNEST(generate_series(1, len(t) - {_PP_NGRAM - 1})) AS s(i)
    WHERE len(t) >= {_PP_NGRAM}
), pg AS (
    SELECT doc_id, gh, count(*) AS c FROM inst GROUP BY 1, 2
), gs AS (
    SELECT gh, count(*) AS n_docs FROM pg GROUP BY 1
), frac AS (
    SELECT doc_id,
           sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c)
               AS cross_frac
    FROM pg JOIN gs USING (gh) GROUP BY 1
), kept AS (
    SELECT b.doc_id, b.text FROM toks b LEFT JOIN frac USING (doc_id)
    WHERE coalesce(cross_frac, 0) <= {_PP_MAX_CROSS}
), ltoks AS (
    SELECT doc_id, text, {_DUCK_TOKENS_LOWER} AS t FROM kept
), lgrams AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) < {_PP_NGRAM} THEN []::VARCHAR[]
             ELSE list_transform(
                 generate_series(1, len(t) - {_PP_NGRAM - 1}),
                 i -> array_to_string(t[i:i+{_PP_NGRAM - 1}], ' '))
        END)) AS gram
    FROM ltoks
), eval_grams AS (
    SELECT DISTINCT gram FROM lgrams WHERE doc_id % {_PP_EVAL_MOD} = 0
), contaminated AS (
    SELECT DISTINCT doc_id FROM lgrams JOIN eval_grams USING (gram)
), clean AS (
    SELECT k.doc_id, k.text FROM kept k
    LEFT JOIN contaminated c USING (doc_id)
    WHERE c.doc_id IS NULL AND k.doc_id % {_PP_EVAL_MOD} <> 0
), split AS (
    SELECT doc_id, text, {split_case} AS split FROM clean
), stoks AS (
    SELECT split, {_DUCK_TOKENS} AS t FROM split
)
SELECT split, count(*) AS n_docs,
       CAST(sum(len(t)) AS BIGINT) AS total_tokens
FROM stoks GROUP BY 1
"""


@_register("pipeline_pretrain_prep", None)  # oracle attached below
def pipeline_pretrain_prep(spark, sf_dir):
    """Pretraining-corpus preparation as ONE lazy Catalyst plan — the
    second end-to-end DAG (pipeline_curation covers quality+privacy; this
    covers the dedup -> decontaminate -> split spine of an actual training
    run): corpus-level substring-duplication filter (drop docs whose
    cross-document duplicated-5-gram fraction exceeds 0.5), n-gram
    decontamination against a synthetic held-out benchmark (every 97th
    doc; contaminated docs AND the benchmark itself removed),
    deterministic hash split 90/5/5, then per-split document and
    whitespace-token totals — the numbers a training job budgets against.

    Every stage is an existing registered operator; the composition stays
    lazy end-to-end (no intermediate materialisation), so Catalyst prunes
    columns through all five stages."""
    from .operators.contamination import ngram_contamination
    from .operators.dedup import duplicated_ngram_stats
    from .functions.partitioning import ensure_min_partitions
    from .functions.text import token_count

    # widen ONCE at the source scan (cheap probe on a leaf plan); the
    # kept/evals frames below inherit the parallelism, so the
    # contamination operator can skip its own probes (each would force a
    # full physical plan of the deep kept-subtree, ~1.5 s driver time)
    docs = ensure_min_partitions(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # `kept` is consumed three times and carries the gram-explode dup
    # subtree with it, but a matched r16 A/B measured persisting the
    # narrow dup frame SLOWER (4.35 s vs 2.96 s): the duplicate branches
    # share the gram exchange and overlap on idle cores, while the
    # persist serialises materialisation — left lazy on that evidence
    dup = duplicated_ngram_stats(docs, ngram=_PP_NGRAM).select(
        "doc_id", "cross_dup_fraction"
    )
    kept = (
        docs.join(dup, on="doc_id", how="left")
        .filter(
            F.coalesce(F.col("cross_dup_fraction"), F.lit(0.0))
            <= _PP_MAX_CROSS
        )
        .select("doc_id", "text")
    )
    # benchmark drawn from the KEPT corpus (an eval doc that was itself
    # dup-filtered must not act as a contamination source) — at sf0.1
    # several every-97th docs ARE dup-filtered, so the basis matters
    evals = kept.filter(F.col("doc_id") % _PP_EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    contaminated = ngram_contamination(
        kept, evals, ngram=_PP_NGRAM, min_shared=1, widen_inputs=False
    ).select("doc_id")
    clean = kept.join(contaminated, on="doc_id", how="left_anti").filter(
        F.col("doc_id") % _PP_EVAL_MOD != 0
    )
    split = hash_split(clean, "doc_id", _PP_WEIGHTS)
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )


ORACLES["pipeline_pretrain_prep"] = _duck_pretrain_prep_sql()


_RP_OUT_DIM = 8


def _duck_random_projection_sql() -> str:
    from .operators.similarity import hyperplanes as _hp

    planes = _hp(_RP_OUT_DIM, 64)
    scale = repr(1.0 / (_RP_OUT_DIM ** 0.5))
    comps = ", ".join(
        "round(list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(repr(w) for w in plane)
        + f"]::DOUBLE[]) * {scale}, 6) AS proj_{i}"
        for i, plane in enumerate(planes)
    )
    return f"SELECT vec_id, {comps} FROM embeddings"


@_register("similarity_random_projection", None)  # oracle attached below
def similarity_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss 64 -> 8 reduction with a fixed deterministic
    matrix (same xorshift stream as the LSH hyperplanes): the ANN
    prefilter that makes every downstream distance pass 8x cheaper, with
    re-scoring at full dimension for survivors. Matrix-as-literals pure
    projection — no shuffle; the oracle embeds the identical matrix.
    The library API returns an array<double> column; this registry view
    flattens it to scalar proj_0..proj_7 columns because the driver's
    canonicalisation (pandas sort_values + exact hash) cannot order
    list-typed cells — same plan, Catalyst collapses the two projections."""
    from .operators.similarity import random_projection

    proj = random_projection(
        _t(spark, sf_dir, "embeddings"), out_dim=_RP_OUT_DIM
    )
    return proj.select(
        "vec_id",
        *[
            F.col("projected")[i].alias(f"proj_{i}")
            for i in range(_RP_OUT_DIM)
        ],
    )


ORACLES["similarity_random_projection"] = _duck_random_projection_sql()


def _duck_strip_markup(expr: str) -> str:
    out = expr
    for blk in ("script", "style"):
        out = (
            f"regexp_replace({out}, "
            f"'(?is)<{blk}\\b[^>]*>.*?</{blk}>', ' ', 'g')"
        )
    out = f"regexp_replace({out}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, repl in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        out = f"replace({out}, '{ent}', '{repl}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


@_register(
    "clean_strip_markup",
    f"""
WITH wrapped AS (
    SELECT doc_id,
           '<p class="x">' || substr(text, 1, 40)
           || '</p><script type="text/javascript">var x = 1;</script>'
           || '&amp;lt; <b>' || lang || '</b>&nbsp;tail' AS text
    FROM documents
)
SELECT doc_id, {_duck_strip_markup('text')} AS text
FROM wrapped
""",
)
def clean_strip_markup(spark, sf_dir):
    """Markup stripping over synthesized tag soup (paragraph wrapper +
    script block + entities): script/style blocks drop with contents,
    tags become spaces, entities unescape in double-unescape-safe order,
    whitespace collapses. Same regex/replace chain on both engines (the
    patterns avoid backreferences for Java-regex/RE2 portability)."""
    from .operators.cleaning import strip_markup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<p class="x">'),
            F.substring("text", 1, 40),
            F.lit('</p><script type="text/javascript">var x = 1;</script>'),
            F.lit("&amp;lt; <b>"),
            F.col("lang"),
            F.lit("</b>&nbsp;tail"),
        ).alias("text"),
    )
    return strip_markup(docs)


_ZO_BITS = 8


def _duck_zorder_sql() -> str:
    def quant(expr: str, lo: float, hi: float) -> str:
        n = (1 << _ZO_BITS) - 1
        return (
            f"least(greatest(floor((({expr})::DOUBLE - {float(lo)!r}) "
            f"/ {float(hi - lo)!r} * {float(n)!r}), 0), {n})::BIGINT"
        )

    a = quant("o_totalprice", 0.0, 600000.0)
    b = quant("o_custkey", 0.0, 150000.0)
    terms = []
    for i in range(_ZO_BITS):
        terms.append(f"(((a >> {i}) & 1) << {2 * i})")
        terms.append(f"(((b >> {i}) & 1) << {2 * i + 1})")
    interleave = " + ".join(terms)
    return f"""
WITH q AS (
    SELECT o_orderkey, {a} AS a, {b} AS b FROM orders
)
SELECT o_orderkey, a AS price_bin, b AS cust_bin,
       ({interleave})::BIGINT AS zcode
FROM q
"""


@_register("layout_zorder", None)  # oracle attached below
def layout_zorder(spark, sf_dir):
    """Z-order (Morton) codes over (price, customer) — the
    Delta/Iceberg-style multi-dimensional clustering key, as a plain
    codegen bit-interleave expression usable with save_table(sort_by=...)
    on any format: sorting by zcode clusters rows close in BOTH
    dimensions into the same files, so parquet min/max stats prune 2-D
    predicates. Oracle reproduces quantize + interleave bit-for-bit."""
    from .functions.layout import morton_code, quantize_to_bins

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        quantize_to_bins("o_totalprice", 0.0, 600000.0, _ZO_BITS)
            .alias("price_bin"),
        quantize_to_bins("o_custkey", 0.0, 150000.0, _ZO_BITS)
            .alias("cust_bin"),
    )
    return orders.select(
        "o_orderkey",
        "price_bin",
        "cust_bin",
        morton_code(
            F.col("price_bin"), F.col("cust_bin"), _ZO_BITS
        ).alias("zcode"),
    )


ORACLES["layout_zorder"] = _duck_zorder_sql()


@_register(
    "table_rollup_merge",
    """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents_sum,
       CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents_min,
       CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents_max
FROM orders GROUP BY 1
""",
)
def table_rollup_merge(spark, sf_dir):
    """Incremental rollup maintenance, proven equivalent to a full
    recompute: history (2/3 of orders) and a delta (1/3) are rolled up
    SEPARATELY and merged with merge_rollup; the oracle computes the
    rollup over everything in one pass. Equality = the merge is exact, so
    a daily delta updates the state without rescanning history. The merge
    shuffle carries one row per (key, side) — state-sized at any data
    size. Money is carried as integer cents (the repo's established
    exact-sum pattern) so the split-sum merge is bit-identical to the
    one-pass oracle — long sums are associative where double sums are
    only ~1-ulp-per-fold close."""
    from .sources.tables import build_rollup, merge_rollup

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "price_cents"
        ),
    )
    history = build_rollup(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        "o_orderstatus", "price_cents",
    )
    delta = build_rollup(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        "o_orderstatus", "price_cents",
    )
    return merge_rollup(history, delta, "o_orderstatus")


from . import registry_ext2  # noqa: E402,F401  (round-5 part-2 registrations)
