"""Registry entries for the extension operators (text / dedup / similarity).

Every oracle here MIRRORS the Spark implementation's deterministic
construction (md5-based hashing, sequential float folds) rather than
asserting some independent ground truth — that is the point: the same
algorithm, expressed twice (PySpark vs ANSI/DuckDB SQL), must agree
bit-for-bit. See registry.py's cross-engine exactness rules.

DuckDB↔Spark equivalences used throughout (probed, exact):
- ``('0x'||substr(md5(x),1,15))::BIGINT`` == ``conv(substr(md5(x),1,15),16,10)``
- ``list_dot_product(a,b)`` == sequential ``F.aggregate(zip_with(a,b,*),0.0,+)``
  (same left-to-right IEEE order)
- ``l[i:j]`` (inclusive) == ``slice(l, i, j-i+1)``
- ``h // r`` == ``floor(h / r)`` (never cast(double as int): Spark
  truncates, DuckDB rounds)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .datasets import load_tables
from .ext.hashing import MINHASH_P, md5_long, sql_perm_hash
from .ext.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from .ext.similarity import (
    cosine_topk,
    dot,
    embedding_near_dup_pairs,
    hyperplane,
    ivf_ann_topk,
    lsh_ann_topk,
    quantized_topk,
)
from .ext.text import (
    LANG_STOPWORDS,
    lang_id,
    quality_score,
    term_frequencies,
    tfidf_top_terms,
    token_stats,
    winnow_fingerprint,
)
from .registry import register
from .session import local_frame

SQL_TOKENS = r"string_split_regex(text, '\s+')"
SQL_HASH60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["documents"]


#: per-(sf_dir, table) memo of the membership uniqueness probe — the
#: probe is one narrow aggregate per TABLE per process, not one per
#: query (the ANN/eval/curation family alone registers ~40 queries over
#: the same two tables). Keyed by directory: a variant sweep pointing at
#: a different --sf-dir probes its own data; files changing UNDER a dir
#: mid-process would stale this (no sweep does).
_UNIQ_CACHE: dict[tuple[str, str], bool] = {}


def _is_member_unique(
    df: DataFrame, cols: list[str], cache_key: tuple[str, str]
) -> bool:
    """True when ``cols`` tuples are already duplicate-free, proven by
    ONE aggregate whose exchange carries an 8-byte xxhash64 per row —
    never the embedding arrays / document texts themselves (VERDICT r12
    item 3: the unconditional ``.distinct()`` shuffled the full corpus
    payload on every query even on contract-valid data).

    Soundness: rows that ``distinct()`` would collapse (equal tuples,
    NULLs compare equal) always hash equal, so
    ``count_distinct(hash) == count(*)`` PROVES no duplicates; a hash
    collision between genuinely different rows only under-counts, which
    routes to the slow path (a true value-level ``distinct()``) — a
    collision can cost time, never correctness."""
    hit = _UNIQ_CACHE.get(cache_key)
    if hit is None:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.xxhash64(*cols)).alias("d"),
        ).first()
        hit = bool(row.n == row.d)
        _UNIQ_CACHE[cache_key] = hit
    return hit


def _docs_nn_uniq(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """Document-membership intake (composite dupnullmix convention,
    r12, the documents twin of _embs_nn_uniq): a member is a DISTINCT
    (doc_id, text[, extra...]) tuple with non-NULL doc_id AND non-NULL
    text — duplicate ingest rows collapse, a NULL text has no
    tokens/grams/language, and an id-less row cannot participate in
    any id-keyed operation (nullkeys axis, r13: every id-less document
    would otherwise collapse into ONE false identity in id-keyed
    readouts — winnowing merged ~70 distinct id-less docs into one
    fingerprint group — while id-equality joins silently drop them;
    requiring the id makes both dialects agree by construction).
    Mirrored by SELECT DISTINCT ... WHERE doc_id IS NOT NULL AND text
    IS NOT NULL in the paired oracles. On contract-valid data (no duplicate (doc_id, text)
    rows) the hash-probe proves uniqueness once per table and the
    collapse is SKIPPED — no payload shuffle at all; uniqueness of
    (doc_id, text) implies uniqueness of any (doc_id, text, extra...)
    superset, so one probe covers every extras combination."""
    base = _docs(spark, sf_dir).filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    sel = base.select("doc_id", "text", *extra)
    if _is_member_unique(
        base.select("doc_id", "text"),
        ["doc_id", "text"],
        (sf_dir, "documents"),
    ):
        return sel
    return sel.distinct()


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["embeddings"]


def _embs_nn_uniq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-membership intake for the ANN/eval family (composite
    dupnullmix convention, r12): a corpus member is a DISTINCT
    (vec_id, embedding) pair with a non-NULL embedding — duplicate
    ingest rows collapse (class 9) and NULL vectors are not members
    (class 10/12); duplicate ids with DIFFERENT vectors remain honest
    multi-member ids. Mirrored by SELECT DISTINCT ... WHERE embedding
    IS NOT NULL in the paired oracles. On contract-valid data (unique
    ids, no NULLs) the hash-probe proves uniqueness once per table and
    the collapse is SKIPPED — the vector payloads are never shuffled
    (VERDICT r12 item 3)."""
    base = (
        _embs(spark, sf_dir)
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    if _is_member_unique(
        base, ["vec_id", "embedding"], (sf_dir, "embeddings")
    ):
        return base
    return base.distinct()


def _embs_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with NULL vectors dropped — the vector-hygiene intake.

    A NULL embedding is not a corpus member: distance to it is
    undefined, and DuckDB's list_inner_product refuses NULL lists
    outright (the all-NULL-column probe axis crashed 11 oracles this
    way). Queries whose ORACLE consumes every corpus vector use this
    loader and mirror it with WHERE vec_id IS NOT NULL AND embedding IS NOT NULL, so both
    engines agree that corrupt/absent vectors are excluded rather than
    ranked. A NULL vec_id is excluded for the same reason (nullkeys
    axis, r13): neighbor/eval readouts are keyed by the id, and an
    id-less vector would join/group differently between the window
    implementation and the SQL-equality oracle. On contract-valid data
    (no NULL ids or vectors) this is a free pushed-to-scan IsNotNull
    and results are bit-identical."""
    return _embs(spark, sf_dir).filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )


# ---------------------------------------------------------------------------
# X3 — text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    f"""
    WITH sp AS (SELECT doc_id, {SQL_TOKENS} AS t, text FROM documents)
    SELECT doc_id,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_unique_tokens,
           round(list_reduce(list_transform(t, x -> length(x)), (a, b) -> a + b)
                 / greatest(len(t), 1), 6) AS avg_token_len,
           len(list_filter(string_split_regex(
                   regexp_replace(text, '([^\\sA-Za-z0-9]|[0-9]+)', ' \\1 ', 'g'),
                   '\\s+'), p -> p <> '')) AS n_subword_pieces
    FROM sp
    """,
    doc="X3 token counting: whitespace tokens + BPE-ish piece count "
    "(pre-tokenizer regex), all codegen'd array expressions.",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


def _sql_ratio(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"round(len(list_filter(t, x -> list_contains([{lst}], x))) / greatest(len(t), 1), 6)"


_LANG_RATIOS = ",\n           ".join(
    f"{_sql_ratio(words)} AS ratio_{lang}" for lang, words in LANG_STOPWORDS.items()
)
_LANG_BEST = "greatest(" + ", ".join(f"ratio_{lang}" for lang in LANG_STOPWORDS) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {_LANG_BEST} >= 0.02 AND ratio_{lang} = {_LANG_BEST} THEN '{lang}'"
        for lang in sorted(LANG_STOPWORDS)
    )
    + " ELSE 'und' END"
)


@register(
    "text_lang_id",
    f"""
    WITH sp AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
    r AS (SELECT doc_id,
           {_LANG_RATIOS}
    FROM sp)
    SELECT doc_id, ratio_en, ratio_de, ratio_es, ratio_fr,
           {_LANG_CASE} AS lang_pred
    FROM r
    """,
    doc="X3 language-ID heuristic: per-language stopword-hit ratio, argmax "
    "with deterministic tie-break, 'und' under 2% evidence.",
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


_EN = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


#: the quality score formula over the m-CTE's ratio columns — one copy,
#: shared by every quality-consuming oracle (weights / bands edited here)
_SQL_QUALITY_EXPR = """round(0.4 * least(n_tokens / 50.0, 1.0)
                 + 0.3 * (1.0 - punct_ratio)
                 + 0.2 * least(stop_ratio / 0.1, 1.0)
                 + 0.1 * (CASE WHEN mean_len >= 3 AND mean_len <= 8 THEN 1.0 ELSE 0.0 END),
                 6)"""

#: qsp/m CTE chain computing the quality ratio columns per document
_SQL_QUALITY_M = f"""qsp AS (SELECT doc_id, {SQL_TOKENS} AS t, text FROM documents),
    m AS (SELECT doc_id,
           len(t) AS n_tokens,
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
             / greatest(length(text), 1) AS punct_ratio,
           len(list_filter(t, x -> list_contains([{_EN}], x)))
             / greatest(len(t), 1) AS stop_ratio,
           list_reduce(list_transform(t, x -> length(x)), (a, b) -> a + b)
             / greatest(len(t), 1) AS mean_len
    FROM qsp)"""

#: ...extended to q(doc_id, quality)
_SQL_QUALITY_Q = (
    _SQL_QUALITY_M
    + f""",
    q AS (SELECT doc_id, {_SQL_QUALITY_EXPR} AS quality FROM m)"""
)


@register(
    "text_quality_score",
    f"""
    WITH {_SQL_QUALITY_M}
    SELECT doc_id, n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stopword_ratio,
           round(mean_len, 6) AS mean_token_len,
           {_SQL_QUALITY_EXPR} AS quality
    FROM m
    """,
    doc="X3 quality scoring: length/punctuation/stopword/word-length "
    "heuristics folded into one [0,1] score.",
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


_WINNOW_GRAMS = (
    "list_transform(generate_series(1, greatest(length(text) - 7, 1)), "
    "i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT)"
)


@register(
    "text_winnow_fingerprint",
    f"""
    WITH g AS (SELECT doc_id, {_WINNOW_GRAMS} AS grams
           FROM (SELECT DISTINCT doc_id, substr(text, 1, 65536) AS text
                 FROM documents
                 WHERE doc_id IS NOT NULL AND text IS NOT NULL) documents),
    m AS (SELECT doc_id,
           list_sort(list_distinct(
               list_transform(generate_series(1, greatest(len(grams) - 3, 1)),
                              j -> list_min(grams[j:j+3])))) AS fp
    FROM g)
    SELECT DISTINCT doc_id, len(fp) AS n_fingerprints,
           md5(array_to_string(list_transform(fp, x -> x::VARCHAR), ',')) AS fingerprint
    FROM m
    """,
    doc="X3 winnowing fingerprint (Schleimer et al. SIGMOD'03): char-8-gram "
    "hashes, window-4 minima, distinct-set digest. One array expression "
    "per row — no explode, no shuffle.",
)
def q_text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FINGERPRINT-PREFIX CAP (bigdoc probe axis, r12): winnowing runs
    # one md5 per character position, so a multi-MB document is
    # millions of hashes per row in BOTH engines — the fingerprint is
    # computed over the first 64 KiB (a documented intake policy,
    # identical in the oracle; a no-op on contract-sized documents).
    # Oversized docs at 100 TB should be chunked upstream
    # (doc_chunking / text_cdc_chunking) before near-dup analysis.
    d = _docs_nn_uniq(spark, sf_dir).withColumn(
        "text", F.substring("text", 1, 65536)
    )
    return winnow_fingerprint(d, k=8, w=4)


@register(
    "text_term_frequencies",
    f"""
    SELECT term, count(*) AS n
    FROM (SELECT unnest({SQL_TOKENS}) AS term FROM documents)
    WHERE term <> ''
    GROUP BY term ORDER BY n DESC, term LIMIT 20
    """,
    doc="X3 corpus term frequencies: explode + map-side-combined count + "
    "top-N (TakeOrderedAndProject).",
)
def q_text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_frequencies(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# X1 — deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="X1 exact dedup: hash-groupBy on content digest, min-id survivor. "
    "Shuffles 16-byte keys, never document text.",
    bench=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def _sql_shingles(n: int) -> str:
    # DISTINCT over (id, shingle): shingle sets are per doc ID, so a
    # duplicated doc row must not double-count its shingles in sizes
    # or intersection counts (bug class 9) — mirrors the engine's
    # distinct-per-id in word_shingles. No-op on unique ids (the
    # inner list_distinct already dedups within one row).
    return f"""
    sp AS (SELECT doc_id AS id, {SQL_TOKENS} AS t FROM documents),
    sh AS (SELECT DISTINCT id, unnest(list_distinct(
               list_transform(generate_series(1, greatest(len(t) - {n - 1}, 1)),
                              i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
           FROM sp),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
    """


def _sql_components(thr: float = 0.6) -> str:
    """inter/prs/sym/reach CTE chain over sh/sizes (caller opens WITH
    RECURSIVE): Jaccard >= thr near-dup pairs -> symmetric edges ->
    min-label reachability fixpoint. ONE source of truth for every
    oracle that consumes connected components."""
    return f"""
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ),
    prs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
        WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {thr}
    ),
    sym AS (
        SELECT id_a AS u, id_b AS v FROM prs
        UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(id, lbl) AS (
        SELECT DISTINCT u, u FROM sym
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN sym e ON r.id = e.u
    )"""




@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_sql_shingles(3)},
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_inter,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.6
    """,
    doc="X1 n-gram Jaccard near-dup: word-3-gram inverted-index self-join, "
    "exact Jaccard ≥ 0.6. Finds the corpus's planted near-duplicates.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.6)


_MINHASH_K, _MINHASH_BANDS = 16, 4


def _sql_minhash_sigs(k: int, n: int) -> str:
    base = f"({SQL_HASH60.format(x='shingle')}) % {MINHASH_P}"
    return f"""
    {_sql_shingles(n)},
    hs AS (SELECT unnest(generate_series(0, {k - 1})) AS h),
    sigs AS (
        SELECT sh.id, h.h, min({sql_perm_hash(base, 'h.h')}) AS sig
        FROM sh, hs h GROUP BY sh.id, h.h
    )
    """


@register(
    "dedup_minhash_sigs",
    f"""
    WITH {_sql_minhash_sigs(_MINHASH_K, 3)}
    SELECT id AS doc_id, h, sig FROM sigs
    """,
    doc="X1 MinHash signatures: k=16 salted-md5 min-hashes over word-3-gram "
    "shingles; P[sig_h(A)=sig_h(B)] = Jaccard(A,B).",
)
def q_dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir), k=_MINHASH_K, n=3)


def _sql_band_cand() -> str:
    """banded/cand CTE pair over a ``sigs`` CTE (from
    :func:`_sql_minhash_sigs`): LSH band bucketing + candidate pairs —
    ONE source of truth for every oracle consuming LSH candidates
    (mirrors ext/dedup.py _band_candidates)."""
    return f"""banded AS (
        SELECT id, h // {_MINHASH_K // _MINHASH_BANDS} AS band,
               md5(string_agg(sig::VARCHAR, ',' ORDER BY h)) AS bucket
        FROM sigs GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
    )"""


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_sql_minhash_sigs(_MINHASH_K, 3)},
    {_sql_band_cand()},
    inter AS (
        SELECT id_a, id_b, count(*) AS n_inter
        FROM cand JOIN sh a ON id_a = a.id
                  JOIN sh b ON id_b = b.id AND a.shingle = b.shingle
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.6
    """,
    doc="X1 MinHash-LSH: k=16 sigs banded 4×4 into md5 buckets; bucket-join "
    "candidates verified with exact Jaccard ≥ 0.6. The scale path: cost "
    "tracks docs, not pairs.",
    bench=True,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), k=_MINHASH_K, bands=_MINHASH_BANDS, n=3, threshold=0.6
    )


@register(
    "dedup_simhash",
    f"""
    WITH toks AS (
        SELECT doc_id AS id, term AS tok, count(*) AS tf
        FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2
    ),
    contrib AS (
        SELECT id, b.bit,
               CASE WHEN ({SQL_HASH60.format(x='tok')} >> b.bit) & 1 = 1
                    THEN tf ELSE -tf END AS c
        FROM toks, (SELECT unnest(generate_series(0, 31)) AS bit) b
    ),
    bitsums AS (SELECT id, bit, sum(c) AS s FROM contrib GROUP BY 1, 2)
    SELECT id AS doc_id,
           sum(CASE WHEN s > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
    FROM bitsums GROUP BY 1
    """,
    doc="X1 SimHash (Charikar'02): 32-bit tf-weighted sign fingerprint; "
    "near-dups differ in few bits. Shuffle carries (doc,bit) partials only.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir), bits=32)


# ---------------------------------------------------------------------------
# X2 — similarity search
# ---------------------------------------------------------------------------

_SQL_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

#: Centroid-ASSIGNMENT ranking score: dot / centroid-norm. The row's own
#: norm is a positive per-row constant, so it cancels out of the per-row
#: argmax — same winners, same tie boundaries — while keeping the row-
#: norm computation out of the O(pairs) loop (see ext/similarity.py
#: _assign_cells; the full cosine stays in every FINAL similarity
#: output).
_SQL_ASSIGN = "list_dot_product({a}, {b}) / sqrt(list_dot_product({b}, {b}))"


def _queries_subset(emb: DataFrame, n: int = 10) -> DataFrame:
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@register(
    "sim_cosine_topk",
    f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id < 10 AND embedding IS NOT NULL),
    sims AS (
        SELECT query_id, vec_id,
               {_SQL_COSINE.format(a="v", b="qv")} AS s
        FROM c, q WHERE vec_id <> query_id
    ),
    rk AS (SELECT query_id, vec_id, s,
                  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rk
           FROM sims)
    SELECT query_id, vec_id AS neighbor_id, rk, round(s, 6) AS cosine_sim
    FROM rk WHERE rk <= 5
    """,
    doc="X2 exact brute-force cosine top-5 for 10 query vectors: "
    "broadcast(Q) ⨯ corpus, codegen'd folds, per-query row_number.",
    bench=True,
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return cosine_topk(corpus, _queries_subset(corpus), k=5)


_N_TABLES, _BITS, _DIM = 8, 4, 64
_PLANES_SQL = ", ".join(
    "[" + ", ".join(repr(c) for c in hyperplane(_DIM, h)) + "]"
    for h in range(_N_TABLES * _BITS)
)
_BUCKET_BITS_SQL = ", ".join(
    f"CASE WHEN list_dot_product(embedding::DOUBLE[], p.planes[t*{_BITS}+{h + 1}]) > 0"
    " THEN '1' ELSE '0' END"
    for h in range(_BITS)
)
_BUCKETS_SQL = (
    f"list_transform(generate_series(0, {_N_TABLES - 1}), "
    f"t -> struct_pack(tbl := t, b := concat({_BUCKET_BITS_SQL})))"
)


@register(
    "sim_lsh_ann_topk",
    f"""
    WITH p AS (SELECT [{_PLANES_SQL}]::DOUBLE[][] AS planes),
    c0 AS (SELECT DISTINCT vec_id, embedding::DOUBLE[] AS v, {_BUCKETS_SQL} AS buckets
           FROM embeddings, p WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    c AS (SELECT vec_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0)),
    q AS (SELECT vec_id AS query_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0 WHERE vec_id < 10)),
    cand AS (
        SELECT DISTINCT query_id, vec_id
        FROM c JOIN q USING (tbl, bucket) WHERE vec_id <> query_id
    ),
    sims AS (
        SELECT cand.query_id, cand.vec_id,
               {_SQL_COSINE.format(a="cv.v", b="qv.v")} AS s
        FROM cand JOIN c0 cv ON cand.vec_id = cv.vec_id
                  JOIN c0 qv ON cand.query_id = qv.vec_id
    ),
    rk AS (SELECT query_id, vec_id, s,
                  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rk
           FROM sims)
    SELECT query_id, vec_id AS neighbor_id, rk, round(s, 6) AS cosine_sim
    FROM rk WHERE rk <= 5
    """,
    doc="X2 LSH ANN with OR-amplification: 8 tables × 4 sign-bit "
    "hyperplanes, candidates = bucket collision in ANY table, exact cosine "
    "re-rank. Recall vs brute force measured in tests.",
)
def q_sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs_nn_uniq(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return lsh_ann_topk(
        corpus, _queries_subset(corpus), k=5, n_tables=_N_TABLES, bits=_BITS, dim=_DIM
    )


@register(
    "sim_embedding_near_dup",
    f"""
    WITH p AS (SELECT [{_PLANES_SQL}]::DOUBLE[][] AS planes),
    c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_BUCKETS_SQL} AS buckets
           FROM embeddings, p WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    k AS (SELECT vec_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0)),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM k a JOIN k b USING (tbl, bucket) WHERE a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT id_a, id_b, {_SQL_COSINE.format(a="va.v", b="vb.v")} AS s
        FROM cand JOIN c0 va ON cand.id_a = va.vec_id
                  JOIN c0 vb ON cand.id_b = vb.vec_id
    )
    SELECT id_a, id_b, round(s, 6) AS cosine_sim FROM sims WHERE s >= 0.4
    """,
    doc="X1/X2 embedding near-dup, LSH-bucketed: candidates = sign-bit "
    "bucket collision in any of 8 tables (same buckets as sim_lsh_ann_topk), "
    "exact cosine verify at threshold 0.4 (demo value; 0.95+ in "
    "production). Never a cross product — the O(n²) all-pairs form stays "
    "test-only as the recall oracle (ext/similarity.py "
    "embedding_near_dup_pairs).",
)
def q_sim_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import embedding_near_dup_lsh

    emb = _embs_nn(spark, sf_dir).withColumn("embedding", F.col("embedding").cast("array<double>"))
    return embedding_near_dup_lsh(
        emb, threshold=0.4, n_tables=_N_TABLES, bits=_BITS, dim=_DIM
    )


# ---------------------------------------------------------------------------
# Multimodal (binary payload → mapInPandas featurize), oracle-checked
# ---------------------------------------------------------------------------


@register(
    "multimodal_featurize",
    """
    SELECT doc_id AS media_id,
           strlen(text) AS n_bytes,
           md5(text) AS digest,
           (('0x'||substr(md5('0:' || text),1,15))::BIGINT % 2001 - 1000)/1000.0 AS f0,
           (('0x'||substr(md5('1:' || text),1,15))::BIGINT % 2001 - 1000)/1000.0 AS f1,
           (('0x'||substr(md5('2:' || text),1,15))::BIGINT % 2001 - 1000)/1000.0 AS f2,
           (('0x'||substr(md5('3:' || text),1,15))::BIGINT % 2001 - 1000)/1000.0 AS f3
    FROM documents
    """,
    doc="Multimodal plumbing end-to-end: binary payloads (document text "
    "encoded to bytes as stand-in media) through the Arrow-batched "
    "mapInPandas featurizer; the deterministic stub features + digest are "
    "reproduced by the oracle. Real codecs plug into decode_media().",
)
def q_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.multimodal import featurize

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None)
        .cast("struct<mime:string,width:int,height:int,duration_ms:int>")
        .alias("meta"),
    )
    feats = featurize(media, dim=4)
    return feats.select(
        "media_id",
        "n_bytes",
        "digest",
        *[F.col("features").getItem(i).alias(f"f{i}") for i in range(4)],
    )


_IVF_NPROBE = 4

#: Cache of the persisted-index queries' indexes (<repo>/.data/ann_index).
_ANN_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".data", "ann_index"
)

#: Centroid sampling stride, scaled so n_cells ~ sqrt(N) UP TO a fixed
#: cap. A FIXED stride (r5 used 50) makes n_cells = N/50 grow linearly
#: with the corpus, so the corpus->cell assignment pass costs N * N/50 —
#: quadratic in corpus size. The r6 sf1 datapoint caught it empirically:
#: sim_ivf_quantized grew 13.5x on 10x data while every other headline
#: query stayed <=4x. stride = round(sqrt(N)) fixed THAT, but left the
#: assignment pass N * sqrt(N) — still superlinear, and the r9 sf3 rung
#: measured it honestly (min-ratio 3.64 at 3x data, REAL per the
#: min-vs-min classifier; VERDICT r9 item 2). The r10 form bounds
#: n_cells at _IVF_MAX_CELLS: stride = max(round(sqrt(N)), ceil(N/K)),
#: so below K^2 vectors the sizing is the standard sqrt(N) and beyond
#: it the cell count freezes at K — assignment becomes N*K = LINEAR in
#: the corpus, and recall is carried by the exact re-rank stage (the
#: fixed-nlist design every production IVF system uses; FAISS defaults
#: its nlist to a constant per index, not a function that tracks N).
#: Spark computes the stride from a metadata row count; the oracle
#: embeds the identical arithmetic as a scalar subquery. Cross-engine
#: exactness of each arm: sqrt of an integer can never land exactly on
#: .5, so Python's banker-round and DuckDB's half-up round agree; K is
#: a power of two, so N/K is computed exactly in doubles and
#: ceil(N/K.0) == -(-N//K) for every integer N.
#:
#: Choosing K: what matters structurally is that K is a CONSTANT (that
#: is what makes assignment linear and the serve-time probed fraction
#: nprobe/K stable); the value is a recall/latency policy knob. At
#: production corpus sizes you would set it in the 2^12..2^16 range
#: (with centroids k-means-trained via ivf_train_centroids and still
#: comfortably broadcastable: 2^16 x 64 doubles = 32 MB). The
#: committed 128 = 2^7 is sized to the test ladder — it engages
#: INSIDE the measured sf1/sf3 range (sf1's 20k-vector corpus is past
#: 128^2) so the linear-beyond-cap regime is actually exercised and
#: measured rather than asserted; the builders themselves take
#: ``stride`` as an argument, so any deployment can apply its own
#: sizing without touching the engine.
_IVF_MAX_CELLS = 128

_SQL_STRIDE = (
    "(SELECT greatest(1, CAST(round(sqrt(count(*)), 0) AS BIGINT),"
    f" CAST(ceil(count(*) / {_IVF_MAX_CELLS}.0) AS BIGINT))"
    " FROM embeddings)"
)

#: Stride over the NULL-vector-filtered corpus — used ONLY by queries
#: whose c0 CTE carries WHERE vec_id IS NOT NULL AND embedding IS NOT NULL (the _embs_nn
#: intake), so engine and oracle size the index from the same N.
_SQL_STRIDE_NN = _SQL_STRIDE.replace(
    "FROM embeddings", "FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL"
)

#: Stride over the DISTINCT-membership corpus (see _embs_nn_uniq) —
#: paired with _embs_nn_uniq intakes only.
_SQL_STRIDE_UNIQ = _SQL_STRIDE.replace(
    "FROM embeddings",
    "FROM (SELECT DISTINCT vec_id, embedding FROM embeddings"
    " WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)"
)


def _ivf_stride(corpus: DataFrame, n: int | None = None) -> int:
    """Centroid stride = max(round(sqrt(N)), ceil(N/_IVF_MAX_CELLS)) —
    ONE definition shared by every Python call site (pass ``n`` when the
    count is already known) and mirrored by _SQL_STRIDE; an inline copy
    that drifts from the SQL arithmetic silently desynchronizes the
    index the oracle rebuilds."""
    import math

    n = corpus.count() if n is None else n
    return max(1, round(math.sqrt(n)), -(-n // _IVF_MAX_CELLS))


@register(
    "sim_ivf_ann_topk",
    f"""
    WITH c0 AS (SELECT DISTINCT vec_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    cents AS (SELECT vec_id AS cid, v AS cv FROM c0 WHERE vec_id % {_SQL_STRIDE_UNIQ} = 0),
    cells AS (
        SELECT vec_id, v, cid
        FROM (SELECT c0.vec_id, c0.v, cents.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents.cv")} AS cs
              FROM c0, cents
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid) = 1)
    ),
    probes AS (
        SELECT query_id, qv, cid
        FROM (SELECT c0.vec_id AS query_id, c0.v AS qv, cents.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents.cv")} AS cs
              FROM c0, cents WHERE c0.vec_id < 10
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid)
                      <= {_IVF_NPROBE})
    ),
    cand AS (
        SELECT DISTINCT query_id, vec_id, v, qv
        FROM cells JOIN probes USING (cid) WHERE vec_id <> query_id
    ),
    rk AS (
        SELECT query_id, vec_id, {_SQL_COSINE.format(a="v", b="qv")} AS s,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {_SQL_COSINE.format(a="v", b="qv")} DESC, vec_id) AS rk
        FROM cand
    )
    SELECT query_id, vec_id AS neighbor_id, rk, round(s, 6) AS cosine_sim
    FROM rk WHERE rk <= 5
    """,
    doc="X2 IVF-flat ANN (the scale path next to LSH): deterministic "
    "strided sampled centroids (n_cells ~ sqrt(N), capped at "
    "_IVF_MAX_CELLS so the build stays linear — k-means drop-in), cell "
    "assignment by nearest centroid, queries probe the 4 nearest cells, "
    "exact cosine re-rank inside. Search cost ~nprobe/n_cells of the "
    "corpus vs brute-force's full scan.",
)
def q_sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs_nn_uniq(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return ivf_ann_topk(
        corpus, _queries_subset(corpus), k=5, stride=_ivf_stride(corpus),
        nprobe=_IVF_NPROBE
    )


from .ext.hashing import sql_md5_long  # noqa: E402
from .ext.sampling import hash_sample, stratified_sample  # noqa: E402

_GATE_SQL = f"{sql_md5_long('doc_id::VARCHAR', '{salt}')} % 10000"


@register(
    "sample_hash_documents",
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_GATE_SQL.format(salt='sample')} < 1000
    """,
    doc="Deterministic Bernoulli-by-hash 10% sample (ext/sampling.py): "
    "membership is a pure function of the id, so the sample is identical "
    "across reruns, engines, parallelism, and layout — unlike "
    "df.sample()'s per-partition RNG. Pure filter, zero shuffle at any "
    "scale.",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return hash_sample(d, "doc_id", 0.1).select("doc_id", "lang", "n_chars")


@register(
    "sample_stratified_by_lang",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE doc_id IS NOT NULL  -- id-less rows are not sample members
    QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY {_GATE_SQL.format(salt='strata')}, doc_id) <= 10
    """,
    doc="Deterministic 10-per-language stratified sample: smallest-hash "
    "rows per stratum (reproducible 'random' order) — the class-"
    "balancing primitive for training mixes. One window shuffle on the "
    "strata keys.",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return stratified_sample(d, ["lang"], 10, "doc_id").select("doc_id", "lang")


@register(
    "corpus_curation_pipeline",
    f"""
    WITH documents AS (
        -- document-membership intake (dupnullmix r12): the whole
        -- pipeline runs on DISTINCT non-NULL-text members, shadowing
        -- the raw view for every stage below
        SELECT DISTINCT doc_id, text, lang, source, n_chars
        FROM main.documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    {_SQL_QUALITY_Q},
    curated AS (
        SELECT DISTINCT d.doc_id, d.source, d.n_chars, q.quality
        FROM documents d
        JOIN keep USING (doc_id)
        JOIN q USING (doc_id)
        WHERE d.lang = 'en' AND q.quality >= 0.5
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(sum(quality), 6) AS sum_quality,
           round(min(quality), 6) AS min_quality
    FROM curated
    GROUP BY source
    """,
    doc="The end-to-end training-data curation pipeline in one plan: "
    "exact dedup (keep min-id per content hash) -> language filter -> "
    "quality gate (>= 0.5) -> per-source corpus stats. Composes "
    "ext/dedup + ext/text operators; each stage is one hash shuffle, "
    "the dedup decision table and quality frame join back on doc_id "
    "(broadcast at test SF, co-partitioned at 100 TB).",
)
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import quality_expr

    d = _docs_nn_uniq(spark, sf_dir, "lang", "source", "n_chars")
    keep = exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    # quality inline in the main projection: one scan of documents plus
    # the column-pruned dedup branch — not three scans and two joins.
    # The closing distinct keys the curated set by doc_id: a duplicated
    # keeper row would otherwise be counted twice through the keep join
    # (bug class 9) — it runs on the NARROW post-filter projection
    # (doc_id, source, n_chars, quality), never on text, and copies of
    # one doc_id are value-identical so the collapse is deterministic.
    curated = (
        d.withColumn("quality", quality_expr())
        .join(keep, "doc_id")
        .filter((F.col("lang") == "en") & (F.col("quality") >= 0.5))
        .select("doc_id", "source", "n_chars", "quality")
        .distinct()
    )
    return curated.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("quality"), 6).alias("sum_quality"),
        F.round(F.min("quality"), 6).alias("min_quality"),
    )


_PII_RAW = (
    "concat('contact user', CAST(doc_id AS VARCHAR), '@example.com from 10.2.', "
    "CAST(doc_id % 256 AS VARCHAR), '.7 re: ', substr(text, 1, 40))"
)


@register(
    "text_pii_scrub",
    f"""
    WITH raw AS (SELECT doc_id, {_PII_RAW} AS raw_text FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(raw_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}', '<IP>', 'g') AS scrubbed,
           len(regexp_extract_all(raw_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
           len(regexp_extract_all(raw_text, '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS n_ips
    FROM raw
    """,
    doc="PII scrubbing (ext/text.pii_scrub): emails then IPv4s replaced "
    "with typed placeholders — the privacy-filter stage. Input is doc "
    "text salted with deterministic synthetic PII so the scrub "
    "demonstrably fires; patterns are RE2-and-Java compatible so the "
    "identical literals run in both engines. Codegen'd regexp chain, "
    "zero shuffle.",
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import PII_EMAIL, PII_IPV4, pii_scrub

    d = _docs(spark, sf_dir)
    # concat_ws, not concat: DuckDB's concat SKIPS NULL arguments while
    # Spark's concat NULLs the whole result — a NULL doc_id (nullkeys
    # axis) or NULL text must contribute nothing to the salted input in
    # BOTH engines, not blank the row in one of them. concat_ws('') is
    # Spark's exact equivalent of DuckDB's NULL-skipping concat.
    raw = d.select(
        "doc_id",
        F.concat_ws(
            "",
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 re: "),
            F.substring("text", 1, 40),
        ).alias("raw_text"),
    )
    return raw.select(
        "doc_id",
        pii_scrub("raw_text").alias("scrubbed"),
        F.regexp_count("raw_text", F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count("raw_text", F.lit(PII_IPV4)).alias("n_ips"),
    )


@register(
    "doc_chunking",
    f"""
    WITH sp AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
    ex AS (
        SELECT doc_id, t,
               unnest(generate_series(0,
                   greatest(CAST(ceil((len(t) - 10) / 40.0) AS INT), 1) - 1)) AS chunk_id
        FROM sp
    )
    SELECT doc_id, chunk_id,
           array_to_string(t[chunk_id * 40 + 1 : chunk_id * 40 + 50], ' ') AS chunk_text,
           len(t[chunk_id * 40 + 1 : chunk_id * 40 + 50]) AS n_chunk_tokens
    FROM ex
    """,
    doc="X3 document chunking (ext/text.py chunk_documents): overlapping "
    "50-token windows with stride 40 — the pre-training segmentation "
    "step. Chunk membership is a pure function of the text (stable "
    "(doc_id, chunk_id) keys across engines/reruns); one explode per "
    "doc, no shuffle.",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=50, overlap=10)


@register(
    "dedup_cluster_components",
    f"""
    WITH RECURSIVE {_sql_shingles(3)},
    {_sql_components(0.6)}
    SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
           CASE WHEN min(lbl) = id THEN 1 ELSE 0 END AS keep
    FROM reach GROUP BY id
    """,
    doc="X1 dedup clustering (ext/dedup.py connected_components): near-dup "
    "PAIRS (n-gram Jaccard >= 0.6) -> connected components via min-label "
    "propagation -> one canonical keeper per cluster (min doc_id). The "
    "fixpoint is algorithm-independent, so the oracle recomputes it with "
    "a recursive reachability CTE. This is the step that turns pairwise "
    "dedup output into the keep/drop decision a corpus pipeline needs.",
)
def q_dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import connected_components

    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
        F.when(F.col("component") == F.col("id"), 1).otherwise(0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# X3/X1 extensions: repetition scoring, contamination scan, sequence packing
# ---------------------------------------------------------------------------


@register(
    "text_repetition_score",
    f"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    g AS (
        SELECT doc_id,
               list_transform(range(1, len(w)),
                              i -> array_to_string(w[i:i+1], ' ')) AS g2,
               list_transform(range(1, len(w) - 1),
                              i -> array_to_string(w[i:i+2], ' ')) AS g3
        FROM t WHERE len(w) >= 2
    )
    SELECT doc_id,
           len(g2) AS n_2grams,
           len(list_distinct(g2)) AS n_unique_2grams,
           round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 6) AS rep2_frac,
           len(g3) AS n_3grams,
           len(list_distinct(g3)) AS n_unique_3grams,
           CASE WHEN len(g3) > 0
                THEN round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 6)
                ELSE 0.0 END AS rep3_frac
    FROM g
    """,
    doc="Within-document repetition score (ext/text.py repetition_score): "
    "duplicate 2-gram / 3-gram fractions per doc — the Gopher-style "
    "repetitious-text quality gate. Strictly per-document, so computed "
    "partition-local over the token array (transform + array_distinct): "
    "zero shuffles; spread() fans the single-file test scan across "
    "cores and is a no-op at scale.",
)
def q_text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import repetition_score
    from .ops.partitioning import spread

    return repetition_score(spread(_docs(spark, sf_dir)))


@register(
    "contamination_ngram_overlap",
    f"""
    WITH sp AS (SELECT doc_id AS id, {SQL_TOKENS} AS t FROM documents),
    sh AS (SELECT id, unnest(list_distinct(
               list_transform(generate_series(1, greatest(len(t) - 4, 1)),
                              i -> array_to_string(t[i:i+4], ' ')))) AS shingle
           FROM sp),
    hsh AS (SELECT id AS held_id, {SQL_HASH60.format(x='shingle')} AS g
            FROM sh WHERE id % 20 = 0),
    tsh AS (SELECT id, {SQL_HASH60.format(x='shingle')} AS g
            FROM sh WHERE id % 20 <> 0)
    SELECT tsh.id AS doc_id,
           count(DISTINCT tsh.g) AS n_shared_grams,
           count(DISTINCT hsh.held_id) AS n_held_docs
    FROM tsh JOIN hsh ON tsh.g = hsh.g
    GROUP BY 1
    """,
    doc="Benchmark-contamination scan (ext/dedup.py "
    "contamination_overlap_split): training docs (doc_id % 20 != 0) "
    "sharing any word 5-gram with the held-out slice (doc_id % 20 = 0). "
    "Inverted-index equi-join on the 60-bit gram hash — never all-pairs; "
    "both sides come from ONE persisted tokenize+window+hash pass (gram "
    "hashes built in the lead projection, no shingle strings shuffled, "
    "train side never pre-deduplicated — countDistinct absorbs repeats). "
    "At 100 TB the held-out side (benchmarks) is tiny, AQE broadcasts "
    "it. df_cap drops stop-phrases when the held-out set is large.",
)
def q_contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import contamination_overlap_split

    docs = _docs(spark, sf_dir)
    return contamination_overlap_split(docs, F.col("doc_id") % 20 == 0, n=5)


@register(
    "contamination_ngram_overlap_capped",
    f"""
    WITH sp AS (SELECT doc_id AS id, {SQL_TOKENS} AS t FROM documents),
    sh AS (SELECT id, unnest(list_distinct(
               list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                              i -> array_to_string(t[i:i+1], ' ')))) AS shingle
           FROM sp),
    hsh AS (SELECT id AS held_id, {SQL_HASH60.format(x='shingle')} AS g
            FROM sh WHERE id % 20 = 0),
    keep AS (SELECT g FROM hsh GROUP BY g HAVING count(DISTINCT held_id) <= 3),
    tsh AS (SELECT id, {SQL_HASH60.format(x='shingle')} AS g
            FROM sh WHERE id % 20 <> 0)
    SELECT tsh.id AS doc_id,
           count(DISTINCT tsh.g) AS n_shared_grams,
           count(DISTINCT hsh.held_id) AS n_held_docs
    FROM tsh
    JOIN hsh  ON tsh.g = hsh.g
    JOIN keep ON hsh.g = keep.g
    GROUP BY 1
    """,
    doc="Contamination scan with the df_cap stop-gram guard LIVE "
    "(ext/dedup.py _contamination_hits): word 2-grams, grams present in "
    "more than 3 held-out docs dropped before the join — the skew guard "
    "that keeps a stop-phrase ('what is the name of') from matching the "
    "whole corpus at 100 TB. Bigrams are used precisely because this "
    "corpus has no high-frequency 5-grams: at sf0.01 the cap prunes ~52 "
    "grams with held-df 4..6, so the oracle genuinely checks the capped "
    "semantics, not a no-op.",
)
def q_contamination_ngram_overlap_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import contamination_overlap_split

    docs = _docs(spark, sf_dir)
    return contamination_overlap_split(
        docs, F.col("doc_id") % 20 == 0, n=2, df_cap=3
    )


@register(
    "pack_training_sequences",
    f"""
    WITH d AS (
        -- id-less rows are not packed: bucket and order derive from
        -- the id hash, and a fully-tied NULL sort key would make the
        -- prefix sum scan-order-dependent (nullkeys+layout, r13)
        SELECT doc_id AS id,
               {SQL_HASH60.format(x="CAST(doc_id AS VARCHAR)")} AS h,
               len({SQL_TOKENS}) AS n_tok
        FROM documents WHERE doc_id IS NOT NULL
    ),
    b AS (SELECT *, h % 32 AS bucket FROM d),
    c AS (SELECT *,
                 SUM(n_tok) OVER (PARTITION BY bucket ORDER BY h, id
                                  ROWS UNBOUNDED PRECEDING) - n_tok AS cum
          FROM b)
    SELECT bucket,
           CAST(floor(cum / 512.0) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           round(SUM(n_tok)::DOUBLE / 512, 4) AS fill_ratio
    FROM c GROUP BY 1, 2
    """,
    doc="Token-budget sequence packing (ext/packing.py pack_sequences): "
    "greedy stream packing of documents into 512-token training "
    "sequences across 32 parallel hash buckets — one window cumsum per "
    "bucket, no driver loop, reproducible order from the doc-id hash "
    "(monotonically_increasing_id would not be). Returns per-sequence "
    "doc/token counts and fill ratio.",
)
def q_pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512, n_buckets=32)


# ---------------------------------------------------------------------------
# Round-4 additions: TF-IDF characteristic terms, quantized ANN
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks WHERE term <> '' GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf,
               round(tf * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, rk, score FROM (
        SELECT doc_id, term, tf, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rk
        FROM scored)
    WHERE rk <= 3
    """,
    doc="X3 TF-IDF top-3 characteristic terms per doc (smoothed sklearn "
    "idf). One explode feeds the (doc,term) tf agg; document frequency "
    "is a count() window over the tf frame's term partitioning, so the "
    "corpus tokenizes exactly once (plan-asserted single Generate); "
    "per-doc top-k window on narrow rows. Document text never shuffles.",
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


_SQL_QUANT = (
    "list_transform({v}, x -> round(x / "
    "greatest(list_max(list_transform({v}, y -> abs(y))) / 127.0, 1e-30)))"
)


@register(
    "sim_quantized_topk",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    qz AS (SELECT vec_id, v, {_SQL_QUANT.format(v="v")} AS qv FROM base),
    qn AS (SELECT vec_id, v, qv, sqrt(list_dot_product(qv, qv)) AS qnorm FROM qz),
    q AS (SELECT vec_id AS query_id, v AS qv_full, qv AS qqv, qnorm AS qqn
          FROM qn WHERE vec_id < 10),
    scored AS (
        SELECT query_id, c.vec_id,
               list_dot_product(c.qv, q.qqv) / (c.qnorm * q.qqn) AS qcos
        FROM qn c, q WHERE c.vec_id <> q.query_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, vec_id) AS qrk
            FROM scored) WHERE qrk <= 20
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               {_SQL_COSINE.format(a="c.v", b="q.qv_full")} AS s
        FROM cand JOIN base c ON cand.vec_id = c.vec_id
                  JOIN q ON cand.query_id = q.query_id
    )
    SELECT query_id, vec_id AS neighbor_id, rk, round(s, 6) AS cosine_sim
    FROM (SELECT query_id, vec_id, s,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY s DESC, vec_id) AS rk
          FROM rr)
    WHERE rk <= 5
    """,
    doc="X2 two-stage quantized ANN: int8 symmetric quantization (scale "
    "= max|v|/127), integer-exact quantized-cosine scan keeps top-20 "
    "candidates per query, exact re-rank emits top-5. Quantized values "
    "are integer-valued doubles so stage-1 ranking is bit-identical "
    "cross-engine; at scale the quantized corpus moves 4x fewer bytes "
    "than float32 through the scan.",
    bench=True,
)
def q_sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return quantized_topk(corpus, _queries_subset(corpus), k=5, m=20)


@register(
    "sim_ivf_quantized_topk",
    f"""
    WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM c0 WHERE vec_id % {_SQL_STRIDE} = 0),
    cells AS (
        SELECT vec_id, cid
        FROM (SELECT c0.vec_id, cents.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents.cv")} AS cs
              FROM c0, cents
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid) = 1)
    ),
    probes AS (
        SELECT query_id, cid
        FROM (SELECT c0.vec_id AS query_id, cents.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents.cv")} AS cs
              FROM c0, cents WHERE c0.vec_id < 10
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid)
                      <= {_IVF_NPROBE})
    ),
    qz AS (SELECT vec_id, v, {_SQL_QUANT.format(v="v")} AS qv FROM c0),
    qn AS (SELECT vec_id, v, qv, sqrt(list_dot_product(qv, qv)) AS qnorm FROM qz),
    cqz AS (SELECT qn.vec_id, cells.cid, qn.qv, qn.qnorm
            FROM cells JOIN qn ON cells.vec_id = qn.vec_id),
    q AS (SELECT vec_id AS query_id, v AS qv_full, qv AS qqv, qnorm AS qqn
          FROM qn WHERE vec_id < 10),
    scored AS (
        SELECT p.query_id, c.vec_id,
               list_dot_product(c.qv, q.qqv) / (c.qnorm * q.qqn) AS qcos
        FROM cqz c JOIN probes p USING (cid)
                   JOIN q ON p.query_id = q.query_id
        WHERE c.vec_id <> p.query_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, vec_id) AS qrk
            FROM scored) WHERE qrk <= 20
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               {_SQL_COSINE.format(a="c.v", b="q.qv_full")} AS s
        FROM cand JOIN c0 c ON cand.vec_id = c.vec_id
                  JOIN q ON cand.query_id = q.query_id
    )
    SELECT query_id, vec_id AS neighbor_id, rk, round(s, 6) AS cosine_sim
    FROM (SELECT query_id, vec_id, s,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY s DESC, vec_id) AS rk
          FROM rr)
    WHERE rk <= 5
    """,
    doc="X2 composed sublinear ANN (ext/similarity.py ivf_quantized_topk) "
    "— the combination the two halves promise: IVF cells prune the scan "
    "to ~nprobe/n_cells of the corpus, the pruned candidates are scored "
    "on int8-quantized vectors (4x less memory traffic), and only |Q|*m "
    "survivors are re-ranked at full precision. The stage-1 scoring join "
    "is an equi-join on cid (plan-asserted: the only nested-loop pair "
    "scans are the tiny broadcast-centroid assignments), and candidate "
    "boundaries are integer-exact cross-engine.",
    bench=True,
)
def q_sim_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import ivf_quantized_topk

    emb = _embs(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return ivf_quantized_topk(
        corpus, _queries_subset(corpus), k=5, m=20,
        stride=_ivf_stride(corpus), nprobe=_IVF_NPROBE,
    )


def _sql_lloyd_iter(prev: str, out: str, i: int) -> str:
    """One unrolled Lloyd iteration: assign to nearest centroid by
    cosine (tie on cid), recompute elementwise means rounded to 6dp —
    the same quench the Spark trainer applies, so assignment boundaries
    agree bit-for-bit (see ext/similarity.py ivf_train_centroids)."""
    return f"""
    a{i} AS (
        SELECT cid, vec_id, v
        FROM (SELECT c0.vec_id, c0.v, {prev}.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b=f"{prev}.cv")} AS cs
              FROM c0, {prev}
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id
                                         ORDER BY cs DESC, cid) = 1)
    ),
    m{i} AS (SELECT cid, i AS pos, round(avg(v[i]), 6) AS val
             FROM a{i}, generate_series(1, 64) AS t(i) GROUP BY cid, i),
    {out} AS (SELECT cid, list(val ORDER BY pos) AS cv FROM m{i} GROUP BY cid)"""


@register(
    "sim_ivf_trained_topk",
    f"""
    WITH c0 AS (SELECT DISTINCT vec_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    cents0 AS (SELECT vec_id AS cid, v AS cv FROM c0 WHERE vec_id % {_SQL_STRIDE_UNIQ} = 0),
    {_sql_lloyd_iter("cents0", "cents1", 1)},
    {_sql_lloyd_iter("cents1", "cents2", 2)},
    cells AS (
        SELECT vec_id, v, cid
        FROM (SELECT c0.vec_id, c0.v, cents2.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents2.cv")} AS cs
              FROM c0, cents2
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid) = 1)
    ),
    probes AS (
        SELECT query_id, qv, cid
        FROM (SELECT c0.vec_id AS query_id, c0.v AS qv, cents2.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents2.cv")} AS cs
              FROM c0, cents2 WHERE c0.vec_id < 10
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid)
                      <= {_IVF_NPROBE})
    ),
    cand AS (
        SELECT DISTINCT query_id, vec_id, v, qv
        FROM cells JOIN probes USING (cid) WHERE vec_id <> query_id
    ),
    rk AS (
        SELECT query_id, vec_id, {_SQL_COSINE.format(a="v", b="qv")} AS s,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {_SQL_COSINE.format(a="v", b="qv")} DESC, vec_id) AS rk
        FROM cand
    )
    SELECT query_id, vec_id AS neighbor_id, rk, round(s, 6) AS cosine_sim
    FROM rk WHERE rk <= 5
    """,
    doc="X2 IVF with k-means-TRAINED centroids: two Lloyd iterations "
    "(broadcast cosine assignment, elementwise-mean recentering rounded "
    "to 6dp to quench cross-engine float-summation drift) from the "
    "strided-sample init, then the standard cell/nprobe search. The "
    "iterative trainer is a driver-side loop of shuffle-light passes — "
    "one broadcast assign + one narrow (cid,pos) aggregate per "
    "iteration — and, unlike most iterative algorithms, carries a FULL "
    "value oracle: the unrolled two-iteration SQL reproduces the index "
    "bit-for-bit.",
)
def q_sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import ivf_train_centroids

    emb = _embs_nn_uniq(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    stride = _ivf_stride(corpus)
    cents = ivf_train_centroids(corpus, stride=stride, iters=2)
    return ivf_ann_topk(
        corpus, _queries_subset(corpus), k=5, stride=stride,
        nprobe=_IVF_NPROBE, centroids=cents,
    )


@register(
    "sample_split_assignment",
    f"""
    SELECT doc_id,
           CASE WHEN {_GATE_SQL.format(salt='split')} < 9000 THEN 'train'
                WHEN {_GATE_SQL.format(salt='split')} < 9500 THEN 'val'
                WHEN {_GATE_SQL.format(salt='split')} < 10000 THEN 'test'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic 90/5/5 train/val/test assignment: contiguous "
    "hash-bucket ranges make the split a pure function of (salt, id) — "
    "stable across reruns, engines, and corpus growth (new docs never "
    "move old ones between splits). Pure projection, zero shuffle.",
)
def q_sample_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.sampling import split_assignment

    return split_assignment(_docs(spark, sf_dir), "doc_id").select("doc_id", "split")


_MIX_TARGETS = {"src0": 10, "src1": 25, "src2": 100, "src3": 5}
_MIX_VALUES = ", ".join(f"('{s}', {t})" for s, t in _MIX_TARGETS.items())


@register(
    "sample_rebalance_sources",
    f"""
    WITH cnt AS (SELECT source, count(*) AS _n FROM documents GROUP BY 1),
    t(source, tgt) AS (VALUES {_MIX_VALUES}),
    r AS (SELECT c.source, least(1.0, CAST(t.tgt AS DOUBLE) / c._n) AS _rate
          FROM cnt c JOIN t USING (source))
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN r USING (source)
    WHERE ({SQL_HASH60.format(x="'mix:' || CAST(d.doc_id AS VARCHAR)")} % 10000)
          < _rate * 10000
    """,
    doc="Deterministic source-mix rebalancing (ext/sampling.py "
    "rebalance_sources): down-sample each source toward its target row "
    "count (cap the over-represented crawl, keep the curated set) via "
    "the per-source hash gate rate = min(1, target/count). Sources "
    "outside the mixture are dropped (whitelist). Shuffle-free at any "
    "scale: one tiny counts aggregate broadcast back onto the corpus; "
    "the targets here exercise down-sample (10/25 of src0, 5/25 of "
    "src3), keep-all (src1), and shortfall-capped (100>25, src2).",
)
def q_sample_rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.sampling import rebalance_sources

    return rebalance_sources(_docs(spark, sf_dir), _MIX_TARGETS, "doc_id").select(
        "doc_id", "source", "lang"
    )


@register(
    "sample_shuffle_shards",
    f"""
    WITH k AS (SELECT doc_id,
                      {SQL_HASH60.format(x="'shuffle:' || CAST(doc_id AS VARCHAR)")}
                          AS _k
               FROM documents)
    SELECT doc_id,
           CAST(_k % 16 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY _k % 16 ORDER BY _k, doc_id) - 1
                AS BIGINT) AS pos
    FROM k
    """,
    doc="Deterministic global shuffle + shard assignment for training "
    "export (ext/sampling.py shuffle_shards): (doc, shard, pos) with "
    "shard a uniform hash bucket and pos the hash-order position within "
    "the shard — a reproducible epoch-0 training order with no RNG "
    "state. One uniform shuffle keyed by shard + a within-shard sort; "
    "at 100 TB scale by adding shards, not machinery.",
)
def q_sample_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.sampling import shuffle_shards

    return shuffle_shards(_docs(spark, sf_dir), 16, "doc_id")


#: source → fractional epochs, exercising repeat+frac (3.3), keep-1
#: (1.0), pure down-sample (0.4), exact repeat (2.0); others dropped.
_EPOCHS = {"src0": 3.3, "src1": 1.0, "src2": 0.4, "src3": 2.0}
_EPOCH_VALUES = ", ".join(
    f"('{s}', {int(e)}, {int(round((e - int(e)) * 10000))})"
    for s, e in _EPOCHS.items()
)


@register(
    "sample_mixture_epochs",
    f"""
    WITH e(source, whole, fb) AS (VALUES {_EPOCH_VALUES}),
    r AS (SELECT d.doc_id, d.source, d.lang,
                 e.whole + CASE WHEN ({SQL_HASH60.format(
                     x="'epochs:' || CAST(d.doc_id AS VARCHAR)")} % 10000)
                     < e.fb THEN 1 ELSE 0 END AS reps
          FROM documents d JOIN e USING (source)
          WHERE d.doc_id IS NOT NULL)  -- id-less rows are not members
    SELECT doc_id, source, lang,
           CAST(unnest(generate_series(0, reps - 1)) AS INTEGER) AS epoch
    FROM r
    """,
    doc="Deterministic fractional-epoch UPsampling (ext/sampling.py "
    "mixture_epochs): the training-mixture step where curated sources "
    "REPEAT (x3.3) while bulk sources stay x1 or below — "
    "rebalance_sources caps, this multiplies. floor(e) copies per row "
    "plus one more iff the md5 gate lands under frac(e), with an "
    "`epoch` column separating copies for shard spreading; membership "
    "is a pure function of (salt, id) so the mixture is identical "
    "across engines/reruns/layout. Purely narrow at any scale: CASE "
    "map + gate + explode, zero shuffles.",
)
def q_sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.sampling import mixture_epochs

    return mixture_epochs(_docs(spark, sf_dir), _EPOCHS, "doc_id").select(
        "doc_id", "source", "lang", "epoch"
    )


@register(
    "global_row_number_orders",
    """
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS rn
    FROM orders
    """,
    doc="Scalable global contiguous row numbering (ops/sorts.py "
    "global_row_number) — the deterministic example-id/sharding "
    "primitive for training exports. The oracle's naive "
    "row_number() OVER (ORDER BY ...) funnels everything through one "
    "task in Spark; the engine's two-pass form range-partitions by the "
    "order, prefix-sums tiny per-partition counts, and numbers within "
    "partitions + broadcast offset — identical output for any total "
    "order, every stage data-parallel (plan-asserted: no data-sized "
    "single-partition exchange).",
)
def q_global_row_number_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.sorts import global_row_number

    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_orderdate")
    out = global_row_number(
        o, [F.col("o_orderdate"), F.col("o_orderkey")], alias="rn"
    )
    return out.select("o_orderkey", F.col("rn").cast("long").alias("rn"))


@register(
    "sample_negative_pairs",
    f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    a AS (SELECT doc_id AS anchor_id,
                 unnest(generate_series(0, 3)) AS j, n.n
          FROM documents, n),
    c AS (SELECT anchor_id, j, n,
                 ({SQL_HASH60.format(
                     x="'neg:' || anchor_id || ':' || j")}) % n AS cand
          FROM a),
    neg AS (SELECT anchor_id, CAST(j AS INT) AS j,
                   CASE WHEN cand = anchor_id THEN (cand + 1) % n
                        ELSE cand END AS neg_id
            FROM c)
    SELECT neg.anchor_id, neg.j, neg.neg_id, d.source AS neg_source
    FROM neg JOIN documents d ON neg.neg_id = d.doc_id
    """,
    doc="Deterministic contrastive negative sampling (ext/sampling.py "
    "negative_pair_sample): k=4 uniform with-replacement negatives per "
    "anchor via md5(salt:anchor:j) mod N with deterministic "
    "self-collision rejection — the (anchor, negative) pair generator "
    "for embedding/reranker training sets, reproducible across "
    "engines/reruns/layout with independent sets per salt. The "
    "payload join (neg_source) doubles as an existence proof for "
    "every drawn id. One tiny count broadcast + k-way explode + one "
    "id-equi-join; no RNG state anywhere.",
)
def q_sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.sampling import negative_pair_sample

    out = negative_pair_sample(_docs(spark, sf_dir), "doc_id", k=4, payload=("source",))
    return out.select(
        "anchor_id", F.col("j").cast("int").alias("j"), "neg_id",
        F.col("source").alias("neg_source"),
    )


@register(
    "profile_equidepth_histogram",
    """
    WITH rn AS (SELECT o_totalprice,
                       row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                           AS rn,
                       (SELECT count(*) FROM orders) AS n
                FROM orders)
    SELECT CAST(((rn - 1) * 10) // n AS INT) AS bucket,
           count(*) AS n_rows,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM rn GROUP BY 1
    """,
    doc="Equi-depth (equal-frequency) 10-bucket histogram of order "
    "totals — the optimizer/profiling statistic fixed-width histograms "
    "miss on skewed data (profile_price_histogram is the fixed-width "
    "twin). Bucket = floor((rank-1)*10/N) by explicit integer "
    "arithmetic over the scalable two-pass global row numbering "
    "(ops/sorts.py global_row_number), so no data-sized single-task "
    "window anywhere and the bucket boundaries are deterministic — "
    "the oracle's naive global window computes the identical ranks.",
)
def q_profile_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.sorts import global_row_number

    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_totalprice")
    rn = global_row_number(
        o, [F.col("o_totalprice"), F.col("o_orderkey")], alias="_rn"
    ).crossJoin(F.broadcast(o.agg(F.count("*").alias("_n"))))
    return (
        rn.select(
            F.expr("CAST(((_rn - 1) * 10) div _n AS INT)").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
    )


@register(
    "text_zipf_fit",
    f"""
    WITH tk AS (SELECT unnest({SQL_TOKENS}) AS term FROM documents),
    tf AS (SELECT term, count(*) AS f FROM tk WHERE term <> '' GROUP BY 1),
    top AS (SELECT term, f FROM tf ORDER BY f DESC, term LIMIT 200),
    rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM top),
    q AS (SELECT CAST(floor(ln(r) * 1000000 + 0.5) AS BIGINT) AS qx,
                 CAST(floor(ln(f) * 1000000 + 0.5) AS BIGINT) AS qy
          FROM rk),
    s AS (SELECT count(*) AS n, SUM(qx) AS sx, SUM(qy) AS sy,
                 SUM(qx * qy) AS sxy, SUM(qx * qx) AS sxx FROM q),
    fit AS (SELECT n,
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
            FROM s)
    SELECT CAST(n AS BIGINT) AS n_terms,
           floor(slope * 1000000 + 0.5) / 1000000 AS zipf_slope,
           floor((syd - slope * sxd) / n / 1000000 * 1000000 + 0.5) / 1000000
               AS intercept_nats
    FROM fit
    """,
    doc="Zipf-law fit over the corpus vocabulary (corpus-statistics "
    "audit for training data): OLS slope of ln(freq) on ln(rank) for "
    "the top-200 terms — natural text sits near -1; a slope far off "
    "flags boilerplate/templated corpora the quality gates miss. "
    "Top-200 selection is TakeOrderedAndProject (no vocab-sized sort); "
    "the 200-row rank window coalesces to one tiny partition; ln "
    "values quantize to integer micro-nats so every OLS power sum is "
    "an exact integer sum (the Welch/OLS discipline), and the "
    "slope/intercept arithmetic is an identical fixed IEEE sequence "
    "in both engines, floor-quantized at 1e-6 on output.",
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .ext.text import tokens

    d = _docs(spark, sf_dir)
    tk = d.select(F.explode(tokens("text")).alias("term")).filter(F.col("term") != "")
    tf = tk.groupBy("term").agg(F.count("*").alias("f"))
    top = tf.orderBy(F.col("f").desc(), "term").limit(200)
    w = Window.orderBy(F.col("f").desc(), "term")
    rk = top.coalesce(1).select("f", F.row_number().over(w).alias("r"))
    q = rk.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000000 + 0.5)
        .cast("bigint")
        .alias("qx"),
        F.floor(F.log(F.col("f").cast("double")) * 1000000 + 0.5)
        .cast("bigint")
        .alias("qy"),
    )
    s = q.agg(
        F.count("*").alias("n"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.col("qx") * F.col("qy")).alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).alias("sxx"),
    )
    nd, sxd = F.col("n").cast("double"), F.col("sx").cast("double")
    syd, sxyd, sxxd = (
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        (F.floor(slope * 1000000 + 0.5) / 1000000).alias("zipf_slope"),
        (
            F.floor((syd - slope * sxd) / F.col("n") / 1000000 * 1000000 + 0.5)
            / 1000000
        ).alias("intercept_nats"),
    )


@register(
    "dq_chisq_uniform_priority",
    """
    WITH c AS (SELECT o_orderpriority AS category, count(*) AS o
               FROM orders GROUP BY 1),
    s AS (SELECT count(*) AS k, SUM(o) AS n FROM c),
    dev AS (SELECT (k * o - n) * (k * o - n) AS num, k, n FROM c, s)
    SELECT CAST(max(k) AS INT) AS k_categories,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(k) - 1 AS INT) AS dof,
           floor(CAST(SUM(num) AS DOUBLE) / CAST(max(k) * max(n) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS chi2
    FROM dev
    """,
    doc="Chi-square goodness-of-fit against the uniform distribution "
    "over order priorities — the categorical drift/balance audit next "
    "to the Benford digit test: chi2 = sum((O-E)^2/E) computed as the "
    "algebraically identical integer form sum((k*O - n)^2) / (k*n), so "
    "every deviation term is an exact integer and only the final "
    "division touches doubles (floor-quantized at 1e-6). One tiny "
    "aggregate over the category counts; compare chi2 against the "
    "chi-square critical value for dof externally.",
)
def q_dq_chisq_uniform_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    c = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count("*").alias("o")
    )
    s = c.agg(F.count("*").alias("k"), F.sum("o").alias("n"))
    dev = c.crossJoin(F.broadcast(s)).select(
        ((F.col("k") * F.col("o") - F.col("n"))
         * (F.col("k") * F.col("o") - F.col("n"))).alias("num"),
        "k",
        "n",
    )
    return dev.agg(
        F.max("k").cast("int").alias("k_categories"),
        F.max("n").cast("long").alias("n_rows"),
        (F.max("k") - 1).cast("int").alias("dof"),
        (
            F.floor(
                F.sum("num").cast("double")
                / (F.max("k") * F.max("n")).cast("double")
                * 1000000
                + 0.5
            )
            / 1000000
        ).alias("chi2"),
    )


@register(
    "text_unigram_logprob",
    f"""
    WITH tk AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
    ),
    tkf AS (SELECT doc_id, term FROM tk WHERE term <> ''),
    cnt AS (SELECT term, count(*) AS c FROM tkf GROUP BY 1),
    st AS (SELECT SUM(c) AS t, count(*) AS v FROM cnt),
    sc AS (SELECT doc_id,
                  CAST(round(ln((c + 1) / (t + v)) * 1000000) AS BIGINT) AS s
           FROM tkf JOIN cnt USING (term) CROSS JOIN st)
    SELECT doc_id, count(*) AS n_tokens,
           floor(SUM(s) / count(*) + 0.5) / 1000000.0 AS mean_logprob
    FROM sc GROUP BY 1
    """,
    doc="LM-perplexity-proxy quality gate (ext/text.py unigram_logprob): "
    "per-doc mean unigram log-probability under the corpus distribution "
    "with add-one smoothing — the cheap KenLM stand-in that catches "
    "garbled/boilerplate documents before training. Per-token ln values "
    "quantized to integer micro-nats and summed exactly (float sums are "
    "order-dependent; integers are not), the same integer-in-double "
    "trick the moments family uses. One explode, one term hash-agg, one "
    "hash join against the vocab-sized table, one doc aggregate.",
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


@register(
    "sim_ann_recall_eval",
    f"""
    WITH p AS (SELECT [{_PLANES_SQL}]::DOUBLE[][] AS planes),
    c0 AS (SELECT DISTINCT vec_id, embedding::DOUBLE[] AS v, {_BUCKETS_SQL} AS buckets
           FROM embeddings, p WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    c AS (SELECT vec_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0)),
    q AS (SELECT vec_id AS query_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0 WHERE vec_id < 10)),
    cand AS (
        SELECT DISTINCT query_id, vec_id
        FROM c JOIN q USING (tbl, bucket) WHERE vec_id <> query_id
    ),
    lsims AS (
        SELECT cand.query_id, cand.vec_id,
               {_SQL_COSINE.format(a="cv.v", b="qv.v")} AS s
        FROM cand JOIN c0 cv ON cand.vec_id = cv.vec_id
                  JOIN c0 qv ON cand.query_id = qv.vec_id
    ),
    lsh AS (SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY s DESC, vec_id) AS rk
                FROM lsims) WHERE rk <= 5),
    bsims AS (
        SELECT bq.query_id, bc.vec_id,
               {_SQL_COSINE.format(a="bc.v", b="bq.v")} AS s
        FROM c0 bc, (SELECT vec_id AS query_id, v FROM c0 WHERE vec_id < 10) bq
        WHERE bc.vec_id <> bq.query_id
    ),
    exact AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY s DESC, vec_id) AS rk
                  FROM bsims) WHERE rk <= 5)
    SELECT e.query_id,
           count(l.vec_id) AS n_matched,
           round(count(l.vec_id) / 5.0, 6) AS recall_at_5
    FROM exact e LEFT JOIN lsh l USING (query_id, vec_id)
    GROUP BY 1
    """,
    doc="ANN evaluation harness: per-query recall@5 of the LSH path "
    "against the exact brute-force top-5 — the measurement a pipeline "
    "runs before trusting an index (tune n_tables/bits/nprobe on a "
    "sample, then deploy). Both rankings share the deterministic "
    "constructions of their standalone queries, so the whole evaluation "
    "is value-oracle-checked; the aggregate recall over all queries is "
    "asserted >= the OR-amplification bound in tests/test_ext.py.",
)
def q_sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs_nn_uniq(spark, sf_dir)
    # the eval is keyed by vec_id: duplicated input rows must contribute
    # one candidate, not rank-tied copies that would eat top-5 slots
    # (bug class 9) — _embs_nn_uniq already guarantees exactly that
    # (DISTINCT (vec_id, embedding) members, hash-probe fast path on
    # contract data), and float→double widening is injective, so a
    # second post-cast .distinct() was a semantic no-op that re-added
    # the payload shuffle the r13b fast path exists to skip — once per
    # consumer subtree (r14, guide §2.4 "a distinct on data that is
    # already unique")
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    qs = _queries_subset(corpus)
    exact = cosine_topk(corpus, qs, k=5).select("query_id", "neighbor_id")
    approx = lsh_ann_topk(
        corpus, qs, k=5, n_tables=_N_TABLES, bits=_BITS, dim=_DIM
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return j.groupBy("query_id").agg(
        F.count("_hit").alias("n_matched"),
        F.round(F.count("_hit") / F.lit(5.0), 6).alias("recall_at_5"),
    )


@register(
    "text_vocab_build",
    f"""
    WITH tk AS (SELECT unnest({SQL_TOKENS}) AS term FROM documents),
    tkf AS (SELECT term FROM tk WHERE term <> ''),
    cnt AS (SELECT term, count(*) AS c FROM tkf GROUP BY 1),
    kept AS (SELECT term, c,
                    CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT)
                        AS term_id
             FROM cnt WHERE c >= 2),
    oov AS (SELECT '<unk>' AS term,
                   CAST(COALESCE(SUM(c), 0) AS BIGINT) AS c,
                   CAST(0 AS BIGINT) AS term_id
            FROM cnt WHERE c < 2)
    SELECT term, c, term_id FROM kept
    UNION ALL SELECT term, c, term_id FROM oov
    """,
    doc="Vocabulary build with min-count floor and OOV folding "
    "(ext/text.py vocab_build): frequency-ranked dense ids for terms "
    "seen >= 2 times, below-floor tail folded into one <unk> row (id "
    "0) carrying the tail's total count — the broadcastable lookup "
    "table the LM gates' 100 TB path calls for. One explode + one "
    "term hash-agg; the global-rank window runs over the AGGREGATED "
    "vocab only, never the token stream.",
)
def q_text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import vocab_build

    return vocab_build(_docs(spark, sf_dir))


@register(
    "text_bigram_logprob",
    f"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    pairs AS (
        SELECT doc_id, unnest(w[1:len(w)-1]) AS prev, unnest(w[2:len(w)]) AS cur
        FROM t WHERE len(w) >= 2
    ),
    bc AS (SELECT prev, cur, count(*) AS cb FROM pairs GROUP BY 1, 2),
    cc AS (SELECT prev, count(*) AS cctx FROM pairs GROUP BY 1),
    vv AS (SELECT count(DISTINCT cur) AS v FROM pairs),
    sc AS (SELECT doc_id,
                  CAST(round(ln((cb + 1) / (cctx + v)) * 1000000) AS BIGINT) AS s
           FROM pairs JOIN bc USING (prev, cur)
                      JOIN cc USING (prev) CROSS JOIN vv)
    SELECT doc_id, count(*) AS n_bigrams,
           floor(SUM(s) / count(*) + 0.5) / 1000000.0 AS mean_logprob
    FROM sc GROUP BY 1
    """,
    doc="Bigram-LM perplexity gate (ext/text.py bigram_logprob): per-doc "
    "mean conditional log-probability p(cur|prev) with add-one "
    "smoothing — one model step past the unigram gate (catches "
    "scrambled word order a unigram model can't see). Pairs built "
    "partition-local from the token array (no (doc,pos) window "
    "shuffle), exploded once, persisted once for the three count/score "
    "consumers; per-transition ln values quantized to integer "
    "micro-nats so the sums are order-independent cross-engine.",
    bench=True,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import bigram_logprob

    return bigram_logprob(_docs(spark, sf_dir))


_TILE_SQL = " + ".join(f"(quality > t[{i}])::INT" for i in range(1, 10))
_PROBS_SQL = ", ".join(str(i / 10) for i in range(1, 10))


@register(
    "sample_quality_curriculum",
    f"""
    WITH {_SQL_QUALITY_Q},
    th AS (SELECT list_transform(quantile_cont(quality, [{_PROBS_SQL}]),
                                 x -> round(x, 9)) AS t
           FROM q),
    b AS (SELECT doc_id, quality, 1 + {_TILE_SQL} AS tile FROM q, th)
    SELECT doc_id, quality, tile FROM b
    WHERE {_GATE_SQL.format(salt='curriculum')} < tile * 1000
    """,
    doc="Quality-weighted curriculum sample (ext/sampling.py "
    "curriculum_sample): documents bucketed into exact-percentile "
    "quality deciles, tile k kept at rate k/10 via the deterministic "
    "hash gate — up-weights high-quality text without hard-dropping "
    "the tail (the CCNet-bucket / DoReMi-style mix). Thresholds round "
    "to 9dp so the 6dp quality grid never straddles an engine-ulp "
    "boundary; one threshold aggregate broadcasts to a pure "
    "projection+filter — document rows never shuffle.",
)
def q_sample_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.sampling import curriculum_sample
    from .ext.text import quality_expr

    d = _docs(spark, sf_dir).select("doc_id", quality_expr().alias("quality"))
    return curriculum_sample(d, "quality", "doc_id").select(
        "doc_id", "quality", "tile"
    )


# PageRank constants, spelled so BOTH engines run the identical IEEE op
# sequence: the teleport constant is the Python-computed double embedded
# at full precision, and 0.85 is cast to DOUBLE in the oracle (DuckDB
# would otherwise multiply in exact DECIMAL and drift from Spark's
# float-double product).
_PR_SCALE = 1_000_000_000_000.0
_PR_TELEPORT = repr((1.0 - 0.85) * _PR_SCALE)


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    c_{out} AS (
        SELECT e.dst AS node, CAST(SUM(p.r // d.outdeg) AS BIGINT) AS contrib
        FROM edges e JOIN {prev} p ON e.src = p.node
                     JOIN deg d ON e.src = d.src
        GROUP BY 1
    ),
    {out} AS (
        SELECT nodes.node,
               CAST(round({_PR_TELEPORT} / nn.n
                          + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, 0))
                    AS BIGINT) AS r
        FROM nodes CROSS JOIN nn LEFT JOIN c_{out} c ON nodes.node = c.node
    )"""


def _trade_graph_edges(t, persist_key: str | None = None) -> DataFrame:
    """Symmetric supplier<->customer edge list over distinct trade pairs
    — the shared graph the PageRank and BFS queries walk. Pass
    ``persist_key`` when the caller consumes the edge frame repeatedly
    (BFS rounds): the lineitem⨝orders distinct is the expensive part
    and Catalyst cannot share it across the iteration lineage."""
    pairs = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_suppkey", "o_custkey")
        .distinct()
    )
    if persist_key is not None:
        from .ext.caching import swap_persist

        pairs = swap_persist(persist_key, pairs)
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    c = F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
    return pairs.select(s.alias("src"), c.alias("dst")).unionAll(
        pairs.select(c.alias("src"), s.alias("dst"))
    )


@register(
    "graph_pagerank_bipartite",
    f"""
    WITH pairs AS (
        SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT 'S' || s::VARCHAR AS src, 'C' || c::VARCHAR AS dst FROM pairs
        UNION ALL
        SELECT 'C' || c::VARCHAR, 'S' || s::VARCHAR FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST(round({_PR_SCALE!r} / nn.n) AS BIGINT) AS r
           FROM nodes CROSS JOIN nn),
    {_pr_iter_sql('r0', 'r1')},
    {_pr_iter_sql('r1', 'r2')}
    SELECT node, round(r / {_PR_SCALE!r}, 9) AS rank FROM r2
    """,
    doc="PageRank, two exact iterations over the supplier-customer "
    "trade graph (ext/graph.py pagerank) — the iterative-propagation "
    "workload class (connected components' big sibling). Ranks are "
    "carried as integer picoranks: per-edge contributions are integer "
    "floor-divisions and their sums exact integer sums "
    "(order-independent — a naive double PageRank drifts per engine "
    "and compounds per iteration), with only the damping step in "
    "doubles as a fixed sequence of correctly-rounded IEEE ops. Each "
    "iteration is one src-join + one dst hash-agg, all shuffles keyed "
    "on node ids — bucketed edges make every round co-located at "
    "100 TB.",
)
def q_graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.graph import pagerank

    t = load_tables(spark, sf_dir)
    return pagerank(_trade_graph_edges(t), iters=2)


@register(
    "dedup_substring_spans",
    f"""
    WITH sp AS (SELECT doc_id AS id, {SQL_TOKENS} AS t FROM documents),
    sh AS (SELECT DISTINCT id, unnest(list_distinct(
               list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                              i -> array_to_string(t[i:i+7], ' ')))) AS shingle
           FROM sp),
    g AS (SELECT id, {SQL_HASH60.format(x='shingle')} AS g FROM sh),
    dfreq AS (SELECT g, count(*) AS doc_freq FROM g GROUP BY 1)
    SELECT g.id AS doc_id,
           count(*) AS n_grams,
           CAST(SUM((dfreq.doc_freq > 1)::INT) AS BIGINT) AS n_dup_grams,
           round(CAST(SUM((dfreq.doc_freq > 1)::INT) AS BIGINT)
                 / count(*), 6) AS dup_frac
    FROM g JOIN dfreq USING (g)
    GROUP BY 1
    """,
    doc="Cross-document repeated-substring detection (ext/dedup.py "
    "substring_dup_spans) — the distributable stand-in for RefinedWeb/"
    "Pile exact substring dedup (suffix arrays don't shard; an inverted "
    "index over 8-token gram hashes does): per doc, the fraction of its "
    "distinct grams also present in ANOTHER document — high dup_frac "
    "flags shared boilerplate spans (licenses, chrome, templates). One "
    "gram pass persisted for its two consumers; every shuffle carries "
    "(id, 60-bit long) pairs, never shingle strings.",
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import substring_dup_spans

    return substring_dup_spans(_docs(spark, sf_dir), n=8)


@register(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE {_sql_shingles(3)},
    {_sql_components(0.6)},
    comp AS (SELECT id, CAST(min(lbl) AS BIGINT) AS cluster_id
             FROM reach GROUP BY id),
    {_SQL_QUALITY_Q}
    SELECT comp.id AS doc_id, comp.cluster_id, q.quality,
           CASE WHEN row_number() OVER (
                    PARTITION BY comp.cluster_id
                    ORDER BY q.quality DESC, comp.id) = 1
                THEN 1 ELSE 0 END AS keep
    FROM comp JOIN q ON comp.id = q.doc_id
    """,
    doc="Quality-aware canonical selection per near-dup cluster: where "
    "dedup_cluster_components keeps the MIN-ID doc, production corpora "
    "keep the BEST one (the cleanest/longest copy of a boilerplate "
    "family) — keeper = argmax (quality, then min id) within each "
    "connected component. Composes the components fixpoint with the "
    "quality heuristic in one plan: the quality join and the keeper "
    "window both key on cluster/doc ids (|clustered docs| rows, tiny "
    "next to the corpus at any scale).",
)
def q_dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .ext.dedup import connected_components
    from .ext.text import quality_expr

    d = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    q = d.select("doc_id", quality_expr().alias("quality"))
    joined = cc.join(q, F.col("id") == F.col("doc_id"))
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("id")
    )
    return joined.select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
        "quality",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias("keep"),
    )


_PQ_STEP = "(SELECT greatest(1, count(*) // 64) FROM embeddings)"

#: PQ codebook step over the NULL-vector-filtered corpus (see
#: _SQL_STRIDE_NN) — paired with _embs_nn intakes only.
_PQ_STEP_NN = _PQ_STEP.replace(
    "FROM embeddings", "FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL"
)


@register(
    "sim_pq_adc_topk",
    f"""
    WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    subs AS (SELECT s FROM generate_series(0, 7) AS t(s)),
    cents AS (
        SELECT CAST(vec_id // {_PQ_STEP_NN} AS INT) AS c, s,
               v[s*8 + 1 : s*8 + 8] AS cchunk,
               list_dot_product(v[s*8 + 1 : s*8 + 8],
                                v[s*8 + 1 : s*8 + 8]) AS cc
        FROM c0, subs
        WHERE vec_id % {_PQ_STEP_NN} = 0 AND vec_id < 64 * {_PQ_STEP_NN}
    ),
    enc AS (
        SELECT vec_id, s, c AS code
        FROM (SELECT c0.vec_id, cents.s, cents.c,
                     CAST(floor((cents.cc - 2 * list_dot_product(
                         c0.v[cents.s*8 + 1 : cents.s*8 + 8], cents.cchunk))
                         * 1e12 + 0.5) AS BIGINT) AS d
              FROM c0, cents
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id, cents.s
                                         ORDER BY d, cents.c) = 1)
    ),
    dt AS (
        SELECT c0.vec_id AS query_id, cents.s, cents.c,
               CAST(floor((cents.cc - 2 * list_dot_product(
                   c0.v[cents.s*8 + 1 : cents.s*8 + 8], cents.cchunk))
                   * 1e12 + 0.5) AS BIGINT) AS qd
        FROM c0, cents WHERE c0.vec_id < 10
    ),
    adc AS (
        SELECT dt.query_id, enc.vec_id, sum(dt.qd) AS dist
        FROM enc JOIN dt ON enc.s = dt.s AND enc.code = dt.c
        WHERE enc.vec_id <> dt.query_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist, vec_id) AS rn
            FROM adc) WHERE rn <= 40
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               {{cos}} AS sim
        FROM cand JOIN c0 c ON cand.vec_id = c.vec_id
                  JOIN c0 q ON cand.query_id = q.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id, rk, round(sim, 6) AS cosine_sim
    FROM (SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rk
          FROM rr)
    WHERE rk <= 5
    """.format(cos=_SQL_COSINE.format(a="c.v", b="q.v")),
    doc="X2 product-quantization ANN with ADC scan (ext/similarity.py "
    "pq_adc_topk) — the third index family beside LSH buckets and IVF "
    "cells, and the memory-bound serving shape at 100 TB: 8 one-byte "
    "codes per 64-dim vector (8 bytes of 6-bit codes vs 512 bytes of "
    "float64), queries "
    "compare via per-subspace lookup tables, and only |Q|*m survivors "
    "touch full-precision vectors for the exact cosine re-rank. "
    "Deterministic strided codebooks (the IVF-centroid idea per "
    "subspace), self-dot-cancelled L2 ranking (cc - 2*dot), and "
    "floor-quantized integer picounit ADC terms make the index and "
    "candidate set bit-identical cross-engine — the oracle rebuilds "
    "the whole index in SQL.",
    bench=True,  # the ADC scan is the third ANN family's hot loop
)
def q_sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import pq_adc_topk

    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return pq_adc_topk(
        corpus, _queries_subset(corpus), k=5, m_cand=40, n_codes=64
    )


#: Shared by sim_ivf_pq_topk (in-query index) and sim_ivf_pq_index_serve
#: (persisted index): both materialize the SAME deterministic composed
#:  index, so one oracle covers both execution paths.
_SQL_IVF_PQ = f"""
    WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    cents AS (SELECT vec_id AS cid, v AS cv FROM c0 WHERE vec_id % {_SQL_STRIDE_NN} = 0),
    cells AS (
        SELECT vec_id, cid
        FROM (SELECT c0.vec_id, cents.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents.cv")} AS cs
              FROM c0, cents
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid) = 1)
    ),
    probes AS (
        SELECT query_id, cid
        FROM (SELECT c0.vec_id AS query_id, cents.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents.cv")} AS cs
              FROM c0, cents WHERE c0.vec_id < 10
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid)
                      <= {_IVF_NPROBE})
    ),
    subs AS (SELECT s FROM generate_series(0, 7) AS t(s)),
    pqc AS (
        SELECT CAST(vec_id // {_PQ_STEP_NN} AS INT) AS c, s,
               v[s*8 + 1 : s*8 + 8] AS cchunk,
               list_dot_product(v[s*8 + 1 : s*8 + 8],
                                v[s*8 + 1 : s*8 + 8]) AS cc
        FROM c0, subs
        WHERE vec_id % {_PQ_STEP_NN} = 0 AND vec_id < 64 * {_PQ_STEP_NN}
    ),
    enc AS (
        SELECT vec_id, s, c AS code
        FROM (SELECT c0.vec_id, pqc.s, pqc.c,
                     CAST(floor((pqc.cc - 2 * list_dot_product(
                         c0.v[pqc.s*8 + 1 : pqc.s*8 + 8], pqc.cchunk))
                         * 1e12 + 0.5) AS BIGINT) AS d
              FROM c0, pqc
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id, pqc.s
                                         ORDER BY d, pqc.c) = 1)
    ),
    encc AS (SELECT enc.vec_id, cells.cid, enc.s, enc.code
             FROM enc JOIN cells ON enc.vec_id = cells.vec_id),
    dt AS (
        SELECT c0.vec_id AS query_id, pqc.s, pqc.c,
               CAST(floor((pqc.cc - 2 * list_dot_product(
                   c0.v[pqc.s*8 + 1 : pqc.s*8 + 8], pqc.cchunk))
                   * 1e12 + 0.5) AS BIGINT) AS qd
        FROM c0, pqc WHERE c0.vec_id < 10
    ),
    adc AS (
        SELECT dt.query_id, encc.vec_id, sum(dt.qd) AS dist
        FROM encc
        JOIN probes p ON encc.cid = p.cid
        JOIN dt ON dt.query_id = p.query_id
               AND encc.s = dt.s AND encc.code = dt.c
        WHERE encc.vec_id <> dt.query_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist, vec_id) AS rn
            FROM adc) WHERE rn <= 40
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               {{cos}} AS sim
        FROM cand JOIN c0 c ON cand.vec_id = c.vec_id
                  JOIN c0 q ON cand.query_id = q.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id, rk, round(sim, 6) AS cosine_sim
    FROM (SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rk
          FROM rr)
    WHERE rk <= 5
    """.format(cos=_SQL_COSINE.format(a="c.v", b="q.v"))


@register(
    "sim_ivf_pq_topk",
    _SQL_IVF_PQ,
    doc="X2 IVF-PQ ANN (ext/similarity.py ivf_pq_topk) — IVF cell "
    "pruning composed in front of the PQ-ADC scan, the standard "
    "production ANN shape (inverted file whose postings are PQ codes) "
    "and the scale-safe successor to sim_pq_adc_topk's deliberately "
    "linear baseline (VERDICT r6 item 2): the ADC join is an equi-join "
    "on (cid, s, code), so only ~nprobe/n_cells of the corpus codes "
    "are scanned — a fraction that shrinks as the corpus grows up to "
    "the _IVF_MAX_CELLS cap and holds constant beyond it (same "
    "sublinearity the quantized twin measured at sf1). Codes, cell "
    "boundaries, and ADC sums are all integer-exact or tie-ruled "
    "identically cross-engine, so the oracle rebuilds the whole "
    "composed index in SQL and hash-matches.",
    bench=True,  # the A/B against the linear pq_adc scan is the story
)
def q_sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import ivf_pq_topk

    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    # ONE count job serves both the IVF stride and the PQ codebook
    # step (each count is a driver-blocking job on a benched query)
    n = corpus.count()
    return ivf_pq_topk(
        corpus, _queries_subset(corpus), k=5, m_cand=40, n_codes=64,
        stride=_ivf_stride(corpus, n), nprobe=_IVF_NPROBE,
        corpus_count=n,
    )


#: The rekeyed-serving fixture: a deterministically GAPPED corpus
#: (every id ≡ 3 (mod 7) removed — what the NULL-vector hygiene filter
#: does to a previously dense corpus) on which the whole PQ family's
#: dense-id precondition fires. The oracle rebuilds the engine's
#: auto_rekey path in SQL: dense ids = row_number() − 1 over ascending
#: original id, the SAME composed IVF-PQ index over the dense space,
#: original ids restored in the output.
_GAP_WHERE = "embedding IS NOT NULL AND vec_id % 7 <> 3"
_SQL_STRIDE_GAP = _SQL_STRIDE.replace(
    "FROM embeddings", f"FROM embeddings WHERE {_GAP_WHERE}"
)
_PQ_STEP_GAP = _PQ_STEP.replace(
    "FROM embeddings", f"FROM embeddings WHERE {_GAP_WHERE}"
)


@register(
    "sim_ivf_pq_rekeyed_topk",
    f"""
    WITH g AS (SELECT vec_id AS orig_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE {_GAP_WHERE}),
    c0 AS (SELECT row_number() OVER (ORDER BY orig_id) - 1 AS vec_id, orig_id, v
           FROM g),
    -- member queries dedup by ORIGINAL id and take their LOWEST dense
    -- copy (the engine's documented auto_rekey semantics): on a
    -- duplicated corpus each orig id queries once, self-excluding the
    -- lowest copy (dupnullmix r12)
    q0 AS (SELECT c0.vec_id, c0.orig_id, c0.v
           FROM c0 JOIN (SELECT orig_id, min(vec_id) AS mv FROM c0
                         WHERE orig_id < 10 GROUP BY orig_id) m
             ON c0.vec_id = m.mv),
    cents AS (SELECT vec_id AS cid, v AS cv FROM c0 WHERE vec_id % {_SQL_STRIDE_GAP} = 0),
    cells AS (
        SELECT vec_id, cid
        FROM (SELECT c0.vec_id, cents.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents.cv")} AS cs
              FROM c0, cents
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid) = 1)
    ),
    probes AS (
        SELECT query_id, cid
        FROM (SELECT q0.vec_id AS query_id, cents.cid,
                     {_SQL_ASSIGN.format(a="q0.v", b="cents.cv")} AS cs
              FROM q0, cents
              QUALIFY row_number() OVER (PARTITION BY q0.vec_id ORDER BY cs DESC, cid)
                      <= {_IVF_NPROBE})
    ),
    subs AS (SELECT s FROM generate_series(0, 7) AS t(s)),
    pqc AS (
        SELECT CAST(vec_id // {_PQ_STEP_GAP} AS INT) AS c, s,
               v[s*8 + 1 : s*8 + 8] AS cchunk,
               list_dot_product(v[s*8 + 1 : s*8 + 8],
                                v[s*8 + 1 : s*8 + 8]) AS cc
        FROM c0, subs
        WHERE vec_id % {_PQ_STEP_GAP} = 0 AND vec_id < 64 * {_PQ_STEP_GAP}
    ),
    enc AS (
        SELECT vec_id, s, c AS code
        FROM (SELECT c0.vec_id, pqc.s, pqc.c,
                     CAST(floor((pqc.cc - 2 * list_dot_product(
                         c0.v[pqc.s*8 + 1 : pqc.s*8 + 8], pqc.cchunk))
                         * 1e12 + 0.5) AS BIGINT) AS d
              FROM c0, pqc
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id, pqc.s
                                         ORDER BY d, pqc.c) = 1)
    ),
    encc AS (SELECT enc.vec_id, cells.cid, enc.s, enc.code
             FROM enc JOIN cells ON enc.vec_id = cells.vec_id),
    dt AS (
        SELECT q0.vec_id AS query_id, pqc.s, pqc.c,
               CAST(floor((pqc.cc - 2 * list_dot_product(
                   q0.v[pqc.s*8 + 1 : pqc.s*8 + 8], pqc.cchunk))
                   * 1e12 + 0.5) AS BIGINT) AS qd
        FROM q0, pqc
    ),
    adc AS (
        SELECT dt.query_id, encc.vec_id, sum(dt.qd) AS dist
        FROM encc
        JOIN probes p ON encc.cid = p.cid
        JOIN dt ON dt.query_id = p.query_id
               AND encc.s = dt.s AND encc.code = dt.c
        WHERE encc.vec_id <> dt.query_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist, vec_id) AS rn
            FROM adc) WHERE rn <= 40
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               q.orig_id AS q_orig, c.orig_id AS n_orig,
               {_SQL_COSINE.format(a="c.v", b="q.v")} AS sim
        FROM cand JOIN c0 c ON cand.vec_id = c.vec_id
                  JOIN c0 q ON cand.query_id = q.vec_id
    )
    SELECT q_orig AS query_id, n_orig AS neighbor_id, rk, round(sim, 6) AS cosine_sim
    FROM (SELECT q_orig, n_orig, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rk
          FROM rr)
    WHERE rk <= 5
    """,
    doc="X2 auto-rekeyed IVF-PQ serving on a GAPPED id space (VERDICT "
    "r11 item 1): the corpus drops every id ≡ 3 (mod 7) — the id-space "
    "shape the NULL-vector intake filter, upstream deletes, or "
    "federated sources produce — so the dense-id precondition that "
    "guards the whole PQ family fires. auto_rekey=True serves anyway: "
    "ops/sorts.py rekey_dense assigns dense 0-based ids by a two-pass "
    "range-partitioned row_number (no single-task window), the index "
    "is built and probed in the dense space, and both output id "
    "columns are mapped back to the ORIGINAL ids via joins that only "
    "ever broadcast the |Q|·k result — the corpus-sized mapping is "
    "the streamed side. The oracle rebuilds the rekey (row_number()−1 "
    "over ascending original id) and the full composed index in SQL, "
    "so a hash match proves the served answers are exactly the "
    "dense-corpus answers with ids faithfully translated.",
)
def q_sim_ivf_pq_rekeyed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import ivf_pq_topk

    emb = _embs_nn(spark, sf_dir)
    corpus = (
        emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
        .filter(F.col("vec_id") % 7 != 3)
    )
    n = corpus.count()
    return ivf_pq_topk(
        corpus, _queries_subset(corpus), k=5, m_cand=40, n_codes=64,
        stride=_ivf_stride(corpus, n), nprobe=_IVF_NPROBE,
        corpus_count=n, auto_rekey=True,
    )


@register(
    "sim_ivf_pq_index_serve",
    _SQL_IVF_PQ,
    doc="X2 persisted-index ANN serving (ext/ann_index.py) — the "
    "build/serve split every in-query composed ANN here amortizes "
    "away: build_ivf_pq_index materializes the exact IVF-PQ index of "
    "sim_ivf_pq_topk (strided centroids, cid-partitioned PQ posting "
    "lists, broadcast codebooks) to parquet ONCE with a crash-safe "
    ".new swap, and search_ivf_pq_index serves queries against it — "
    "cell probes collect a bounded |Q|*nprobe cid set and push it "
    "into the codes scan as a PARTITION filter, so serving reads "
    "~nprobe/n_cells of the index and never scans the corpus for "
    "candidates. Doubles round-trip parquet exactly and the build "
    "reuses the in-query encode machinery, so results are "
    "bit-identical to sim_ivf_pq_topk and the SAME oracle covers "
    "both paths. The registered entry keys the cached index by a "
    "corpus-file fingerprint (size+mtime) — stale testdata can never "
    "serve a stale index.",
    bench=True,  # the serve-vs-build A/B against sim_ivf_pq_topk
)
def q_sim_ivf_pq_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.ann_index import ensure_ivf_pq_index, search_ivf_pq_index

    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))

    # r14: the corpus count (and the stride derived from it) moved
    # behind ensure's deferred_sizing thunk — the fingerprint already
    # pins the corpus content and therefore N/stride, so a cache-HIT
    # serve issues ZERO pre-search jobs where it previously scanned the
    # corpus once per call just to rebuild the cache key (guide §5; at
    # 100 TB that count is a full corpus scan per serve).
    def _sizing() -> dict:
        n = corpus.count()
        return {"stride": _ivf_stride(corpus, n), "corpus_count": n}

    idx = ensure_ivf_pq_index(
        spark, corpus, sf_dir, _ANN_CACHE_ROOT, deferred_sizing=_sizing, n_codes=64,
    )
    return search_ivf_pq_index(
        spark, idx, corpus, _queries_subset(corpus),
        k=5, m_cand=40, nprobe=_IVF_NPROBE,
    )


@register(
    "sim_ivf_pq_index_append",
    _SQL_IVF_PQ,
    doc="X2 incremental ANN index maintenance (ext/ann_index.py "
    "append_ivf_pq_index — VERDICT r7 item 2): build the persisted "
    "IVF-PQ index over ~90% of the corpus, APPEND the held-out batch "
    "against the frozen geometry (broadcast centroids/codebooks, "
    "batch-only scan, new files land only in the batch's cell "
    "partitions), then serve — proving append+serve IS rebuild+serve: "
    "the oracle is the SAME full-corpus _SQL_IVF_PQ that covers the "
    "rebuild and serve paths, so a hash match here means the appended "
    "index is bit-identical to one built from scratch. The held-out "
    "batch is every 10th id (mod 10 == 7) minus the strided "
    "centroid/codebook sample ids — exactly the ids whose absence "
    "cannot perturb the frozen geometry, mirroring how production "
    "appends arrive AFTER the trained geometry is pinned. Staged "
    "publication: base build + append happen under fsops.staged(<dir>) and "
    "fsops.swap_in publishes, so a crash mid-sequence can never leave "
    "a cached index missing its batch. Since r9 the staged sequence also "
    "runs compact_index_postings (small-files compaction of the "
    "appended cells through the crash-safe layout swap), so the SAME "
    "oracle additionally proves compaction is serving-invariant.",
)
def q_sim_ivf_pq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.ann_index import (
        _cached_index,
        append_ivf_pq_index,
        build_ivf_pq_index,
        compact_index_postings,
        corpus_fingerprint,
        search_ivf_pq_index,
    )
    from .fsops import staged, swap_in

    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    step = max(1, n // 64)
    # the late-arriving batch: ~10% of ids, excluding the strided
    # centroid (id % stride == 0) and PQ-codebook (id % step == 0,
    # id < 64*step) sample ids so the base build's geometry equals the
    # full build's — the precondition for append == rebuild
    is_batch = (
        (F.col("vec_id") % 10 == 7)
        & (F.col("vec_id") % stride != 0)
        & ~((F.col("vec_id") % step == 0) & (F.col("vec_id") < 64 * step))
    )
    idx, hit = _cached_index(
        spark, _ANN_CACHE_ROOT, "ivf_pq_app",
        corpus_fingerprint(spark, sf_dir) + f"append:{stride}:{step}:{n}",
    )
    if not hit:
        stage = staged(idx)
        build_ivf_pq_index(
            spark, corpus.filter(~is_batch), stage,
            stride=stride, n_codes=64, corpus_count=n,
        )
        append_ivf_pq_index(spark, stage, corpus.filter(is_batch))
        # compact the appended posting lists (r9 lifecycle closure):
        # the same full-corpus oracle below proves compaction is
        # serving-invariant — re-binning (id, s, code) rows into fewer
        # files per cid partition while partition pruning is preserved
        compact_index_postings(spark, stage)
        swap_in(spark, idx)
    return search_ivf_pq_index(
        spark, idx, corpus, _queries_subset(corpus),
        k=5, m_cand=40, nprobe=_IVF_NPROBE,
    )


@register(
    "sim_ivf_pq_trained_topk",
    f"""
    WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    cents0 AS (SELECT vec_id AS cid, v AS cv FROM c0 WHERE vec_id % {_SQL_STRIDE_NN} = 0),
    {_sql_lloyd_iter("cents0", "cents1", 1)},
    {_sql_lloyd_iter("cents1", "cents2", 2)},
    cells AS (
        SELECT vec_id, cid
        FROM (SELECT c0.vec_id, cents2.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents2.cv")} AS cs
              FROM c0, cents2
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid) = 1)
    ),
    probes AS (
        SELECT query_id, cid
        FROM (SELECT c0.vec_id AS query_id, cents2.cid,
                     {_SQL_ASSIGN.format(a="c0.v", b="cents2.cv")} AS cs
              FROM c0, cents2 WHERE c0.vec_id < 10
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id ORDER BY cs DESC, cid)
                      <= {_IVF_NPROBE})
    ),
    subs AS (SELECT s FROM generate_series(0, 7) AS t(s)),
    pqc AS (
        SELECT CAST(vec_id // {_PQ_STEP_NN} AS INT) AS c, s,
               v[s*8 + 1 : s*8 + 8] AS cchunk,
               list_dot_product(v[s*8 + 1 : s*8 + 8],
                                v[s*8 + 1 : s*8 + 8]) AS cc
        FROM c0, subs
        WHERE vec_id % {_PQ_STEP_NN} = 0 AND vec_id < 64 * {_PQ_STEP_NN}
    ),
    enc AS (
        SELECT vec_id, s, c AS code
        FROM (SELECT c0.vec_id, pqc.s, pqc.c,
                     CAST(floor((pqc.cc - 2 * list_dot_product(
                         c0.v[pqc.s*8 + 1 : pqc.s*8 + 8], pqc.cchunk))
                         * 1e12 + 0.5) AS BIGINT) AS d
              FROM c0, pqc
              QUALIFY row_number() OVER (PARTITION BY c0.vec_id, pqc.s
                                         ORDER BY d, pqc.c) = 1)
    ),
    encc AS (SELECT enc.vec_id, cells.cid, enc.s, enc.code
             FROM enc JOIN cells ON enc.vec_id = cells.vec_id),
    dt AS (
        SELECT c0.vec_id AS query_id, pqc.s, pqc.c,
               CAST(floor((pqc.cc - 2 * list_dot_product(
                   c0.v[pqc.s*8 + 1 : pqc.s*8 + 8], pqc.cchunk))
                   * 1e12 + 0.5) AS BIGINT) AS qd
        FROM c0, pqc WHERE c0.vec_id < 10
    ),
    adc AS (
        SELECT dt.query_id, encc.vec_id, sum(dt.qd) AS dist
        FROM encc
        JOIN probes p ON encc.cid = p.cid
        JOIN dt ON dt.query_id = p.query_id
               AND encc.s = dt.s AND encc.code = dt.c
        WHERE encc.vec_id <> dt.query_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist, vec_id) AS rn
            FROM adc) WHERE rn <= 40
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               {{cos}} AS sim
        FROM cand JOIN c0 c ON cand.vec_id = c.vec_id
                  JOIN c0 q ON cand.query_id = q.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id, rk, round(sim, 6) AS cosine_sim
    FROM (SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rk
          FROM rr)
    WHERE rk <= 5
    """.format(cos=_SQL_COSINE.format(a="c.v", b="q.v")),
    doc="Trained IVF-PQ (ext/similarity.py ivf_pq_topk over "
    "ivf_train_centroids): the full production serving shape — "
    "k-means-trained inverted cells (2 Lloyd iterations, 6-decimal "
    "mean quench per pass) gating the PQ-ADC code scan on "
    "(cid, s, code), exact re-rank of the survivors. Completes the "
    "ANN family matrix (strided/trained centroids x flat/IVF x "
    "float/int8/PQ); everything — Lloyd means, cell boundaries, ADC "
    "picounit sums — is quantized so the oracle rebuilds the trained "
    "composed index in SQL and hash-matches.",
)
def q_sim_ivf_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import ivf_pq_topk, ivf_train_centroids

    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    cents = ivf_train_centroids(corpus, stride=stride, iters=2)
    return ivf_pq_topk(
        corpus, _queries_subset(corpus), k=5, m_cand=40, n_codes=64,
        stride=stride, nprobe=_IVF_NPROBE, corpus_count=n, centroids=cents,
    )


def _sql_power_iter(prev_v: str, out_v: str, i: int) -> str:
    """One unrolled power iteration: integer-quantized scores against
    the previous direction, HUGEINT positional accumulate, 6-decimal
    floor-quantized renormalize — mirrors ext/similarity.py
    pca_top_component step-for-step (same quench discipline as the
    Lloyd oracle's _sql_lloyd_iter)."""
    return f"""
    s{i} AS (SELECT cv, CAST(floor(list_dot_product(cv, v) + 0.5) AS BIGINT) AS qs
             FROM cx, {prev_v}),
    ap{i} AS (SELECT i AS pos, SUM(CAST(cv[i] * qs AS HUGEINT)) AS acc
              FROM s{i}, generate_series(1, 64) AS t(i) GROUP BY i),
    al{i} AS (SELECT list(CAST(acc AS DOUBLE) ORDER BY pos) AS a FROM ap{i}),
    {out_v} AS (SELECT list_transform(a,
                    x -> coalesce(floor(x / sqrt(list_dot_product(a, a))
                                        * 1000000 + 0.5), 0)
                         / 1000000) AS v
                FROM al{i})"""


@register(
    "embedding_pca_top_component",
    f"""
    WITH c0 AS (SELECT list_transform(embedding::DOUBLE[],
                    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qx
                FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    mp AS (SELECT i AS pos,
                  CAST(floor(SUM(qx[i]) / count(*) + 0.5) AS BIGINT) AS mq
           FROM c0, generate_series(1, 64) AS t(i) GROUP BY i),
    m AS (SELECT list(mq ORDER BY pos) AS marr FROM mp),
    cx AS (SELECT list_transform(generate_series(1, 64),
                      i -> CAST(qx[i] - marr[i] AS DOUBLE)) AS cv
           FROM c0, m),
    v0 AS (SELECT list_transform(generate_series(1, 64), i -> 0.125) AS v),
    {_sql_power_iter("v0", "v1", 1)},
    {_sql_power_iter("v1", "v2", 2)}
    SELECT CAST(t.i AS INT) AS pos, v[t.i] AS loading
    FROM v2, generate_series(1, 64) AS t(i)
    """,
    doc="Top principal direction of the mean-centered embedding cloud "
    "by Gram-free power iteration (ext/similarity.py "
    "pca_top_component) — the dimensionality-reduction primitive "
    "behind whitening/OPQ/drift monitoring. Each pass is one broadcast "
    "of the 64-float direction + one corpus scan; the only shuffle is "
    "a dim-sized positional aggregate. Exactness: rows quantize once "
    "to integer micro-units (exact integer mean), scores quantize "
    "before accumulating, the accumulate is a DECIMAL(38,0)/HUGEINT "
    "sum of exactly-representable products (order-independent at any "
    "corpus size — a bigint would overflow past ~100k rows), and each "
    "direction floor-quantizes to 6 decimals so the next iteration's "
    "inputs agree bit-for-bit cross-engine. The oracle unrolls both "
    "iterations in SQL and hash-matches.",
)
def q_embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import pca_top_component

    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return pca_top_component(corpus, iters=2, dim=64)


@register(
    "graph_triangle_cliques",
    """
    WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
                FROM lineitem WHERE l_partkey < 200),
    pc AS (SELECT a.s AS x, b.s AS y, count(*) AS cnt
           FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
           GROUP BY 1, 2),
    hist AS (SELECT cnt, count(*) AS c FROM pc GROUP BY 1),
    cum AS (SELECT cnt, SUM(c) OVER (ORDER BY cnt
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                   (SELECT count(*) FROM pc) AS n
            FROM hist),
    thr AS (SELECT min(cnt) AS t FROM cum WHERE cum * 20 >= 19 * n),
    e AS (SELECT x, y FROM pc, thr WHERE cnt >= t),
    tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM e e1
            JOIN e e2 ON e1.y = e2.x
            JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
    SELECT node, count(*) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    GROUP BY 1
    """,
    doc="Per-supplier triangle counts over the strong co-supply graph "
    "(ext/graph.py triangle_counts): suppliers are tied when they "
    "co-supply a part (bounded: partkey < 200 keeps the demo edge "
    "build deterministic-sized), the graph keeps only the strongest "
    "~5% of ties — the p95 threshold computed by explicit INTEGER rank "
    "arithmetic (cum*20 >= 19*n over the tie-strength histogram, no "
    "float percentile boundary to disagree on) — and triangles among "
    "strong ties expose tight trading cliques. Wedge enumeration on "
    "the id-oriented edge list counts each triangle exactly once via "
    "three equi-joins (no cross product, no dedup pass); at 100 TB "
    "orient by degree instead (O(sqrt(|E|)) wedge bound, same joins).",
)
def q_graph_triangle_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .ext.graph import triangle_counts

    li = load_tables(spark, sf_dir)["lineitem"]
    sp = (
        li.filter(F.col("l_partkey") < 200)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b = sp.alias("a"), sp.alias("b")
    pc = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("x"), F.col("b.s").alias("y"))
        .agg(F.count("*").alias("cnt"))
    )
    hist = pc.groupBy("cnt").agg(F.count("*").alias("_c"))
    wv = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("_cum", F.sum("_c").over(wv)).crossJoin(
        F.broadcast(pc.agg(F.count("*").alias("_n")))
    )
    thr = cum.filter(F.col("_cum") * 20 >= 19 * F.col("_n")).agg(
        F.min("cnt").alias("_t")
    )
    # persist: the triangle chain references the edge frame THREE times
    # (e1/e2/e3) and Catalyst does not share the subtree — without the
    # cut the expensive pair aggregation (and its threshold scalar)
    # would recompute once per alias
    from .ext.caching import swap_persist

    edges = swap_persist(
        "triangle_edges",
        pc.crossJoin(F.broadcast(thr)).filter(F.col("cnt") >= F.col("_t")).select("x", "y"),
    )
    return triangle_counts(edges, "x", "y")


@register(
    "multimodal_frame_sample",
    """
    WITH med AS (
        SELECT doc_id AS media_id, text,
               least(greatest(n_chars, 0), 3600000) AS dur
        FROM documents)
    SELECT media_id,
           unnest(generate_series(0, greatest(dur - 1, 0), 250))
               AS frame_ts_ms,
           md5(unnest(generate_series(0, greatest(dur - 1, 0), 250))::VARCHAR
               || ':' || text) AS frame_digest
    FROM med
    """,
    doc="Video frame-sampling plumbing (ext/multimodal.py "
    "frame_sample_plan): one row per sampled frame timestamp (every "
    "250 ms across meta.duration_ms), exploded BEFORE the per-frame "
    "decode so frame work parallelizes across tasks and the stubbed "
    "codec seam receives one (payload, ts) pair per row — the shape a "
    "real ffmpeg keyframe extractor plugs into. Stand-in media: "
    "document text as payload, n_chars as duration. The frame digest "
    "(md5 of ts:payload) is JVM-side and oracle-reproduced; the "
    "explode arithmetic (inclusive endpoint, 0-length guard) is the "
    "value-checked part.",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.multimodal import frame_sample_plan

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            # duration-validity clamp (extreme probe axis, r12): a
            # negative or absurd duration is corrupt metadata — the
            # bare int cast overflowed under ANSI on a 2^40 stand-in
            # duration, and an unclamped huge value would explode the
            # per-frame/segment grid; [0, 1h] is the documented
            # validity domain (1h per asset), mirrored in the oracle
            F.least(F.greatest(F.col("n_chars"), F.lit(0)),
                    F.lit(3_600_000)).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = frame_sample_plan(media, every_ms=250)
    return frames.select(
        "media_id",
        "frame_ts_ms",
        F.md5(
            F.concat(
                F.col("frame_ts_ms").cast("string"),
                F.lit(":"),
                F.decode("payload", "utf-8"),
            )
        ).alias("frame_digest"),
    )


@register(
    "graph_bfs_levels",
    """
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT 'S' || s::VARCHAR AS src, 'C' || c::VARCHAR AS dst FROM pairs
        UNION ALL
        SELECT 'C' || c::VARCHAR, 'S' || s::VARCHAR FROM pairs
    ),
    src AS (
        SELECT DISTINCT 'S' || s_suppkey::VARCHAR AS node
        FROM supplier WHERE s_nationkey = 0
    ),
    walk(node, level) AS (
        SELECT node, 0 FROM src
        UNION ALL
        SELECT e.dst, w.level + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.level < 2
    )
    SELECT node, CAST(min(level) AS INT) AS level FROM walk GROUP BY 1
    """,
    doc="Multi-source BFS levels (ext/graph.py bfs_levels): shortest "
    "hop count from nation-0 suppliers through the supplier-customer "
    "trade graph, depth <= 2 — the traversal workload next to PageRank "
    "(propagation) and connected components (fixed point). The engine "
    "expands a frontier per round (|frontier| x degree work, visited "
    "anti-join keeps levels minimal); the oracle is a recursive CTE "
    "whose path enumeration collapses to the same min-level — integer "
    "levels, so parity is exact with no float quench. All shuffles key "
    "on node ids (bucketed edges make rounds co-located at 100 TB).",
)
def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.graph import bfs_levels

    t = load_tables(spark, sf_dir)
    # persist_key: the edge frame is consumed by every BFS round
    # (frontier join + the growing visited lineage) — unpersisted, the
    # depth-2 plan re-scanned both fact tables 8x with zero exchange
    # reuse (plan-verified r6)
    edges = _trade_graph_edges(t, persist_key="bfs_pairs")
    sources = t["supplier"].filter(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("node")
    )
    return bfs_levels(edges, sources, max_depth=2)


@register(
    "text_pii_detect_report",
    """
    WITH probe AS (
        SELECT doc_id,
               substr(text, 1, 50) || ' user' || doc_id::VARCHAR
               || '@example.com via 10.0.0.' || (doc_id % 256)::VARCHAR
               AS t
        FROM documents)
    SELECT doc_id,
           CAST(length(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
           CAST(length(regexp_extract_all(t,
               '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS INT) AS n_ipv4
    FROM probe
    """,
    doc="PII DETECTION report (ext/text.py pii_detect_report) — the "
    "audit twin of text_pii_scrub: scrubbing destroys the evidence, so "
    "compliance counts each class per document BEFORE redaction "
    "(heavy hitters route to review). Same RE2-and-Java-compatible "
    "patterns as the scrubber, counted with regexp_count; the probe "
    "text plants one email + one IPv4 per document (derived from "
    "doc_id) so the per-class counters are exercised against known "
    "ground truth rather than an all-zero corpus. Pure projection, no "
    "shuffle at any scale.",
)
def q_text_pii_detect_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import pii_detect_report

    d = _docs(spark, sf_dir)
    probe = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 50),
            F.lit(" user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return pii_detect_report(probe)


@register(
    "sim_rerank_crossencoder",
    f"""
    WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COSINE.format(a="c.v", b="q.v")} AS s
        FROM c0 c JOIN c0 q ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, neighbor_id) AS rk
            FROM pairs) WHERE rk <= 20
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               (('0x' || substr(md5(query_id::VARCHAR || ':'
                   || neighbor_id::VARCHAR), 1, 15))::BIGINT % 1000000)
                   / 1000000.0 AS ce_score
        FROM cand
    )
    SELECT query_id, neighbor_id, rk, round(ce_score, 6) AS ce_score
    FROM (SELECT query_id, neighbor_id, ce_score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY ce_score DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
    doc="Retrieve-then-rerank pipeline (ext/similarity.py "
    "crossencoder_rerank_stub): bi-encoder brute-force cosine recalls "
    "top-20 candidates per query, then a cross-encoder SEAM re-scores "
    "each pair through an Arrow-batched mapInPandas stage and keeps "
    "top-5 — the serving shape where the expensive pairwise model "
    "touches |Q|*m pairs, never the corpus. The scorer is the honest "
    "deterministic md5 stand-in (multimodal codec-seam convention); "
    "the oracle reproduces retrieval, the stand-in scores, and both "
    "rankings exactly.",
)
def q_sim_rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import cosine_topk, crossencoder_rerank_stub

    emb = _embs_nn(spark, sf_dir)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    cand = cosine_topk(corpus, _queries_subset(corpus), k=20)
    return crossencoder_rerank_stub(cand, k=5)


@register(
    "graph_link_prediction",
    """
    WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
                FROM lineitem WHERE l_partkey < 200),
    deg AS (SELECT s, count(*) AS d FROM sp GROUP BY 1),
    pdeg AS (SELECT p, count(*) AS dp FROM sp GROUP BY 1),
    pairs AS (SELECT a.s AS s1, b.s AS s2, a.p AS p
              FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s),
    sc AS (SELECT s1, s2, count(*) AS cn,
                  SUM(CAST(round(1000000.0 / ln(CAST(dp AS DOUBLE)))
                           AS BIGINT)) AS aa_micro
           FROM pairs JOIN pdeg ON pairs.p = pdeg.p
           GROUP BY 1, 2)
    SELECT s1, s2, cn,
           round(CAST(cn AS DOUBLE) / (d1.d + d2.d - cn), 6) AS jaccard,
           round(CAST(aa_micro AS DOUBLE) / 1000000, 6) AS adamic_adar
    FROM sc JOIN deg d1 ON sc.s1 = d1.s JOIN deg d2 ON sc.s2 = d2.s
    WHERE cn >= 2
    """,
    doc="Link prediction over the supplier/part bipartite graph: for "
    "each supplier pair sharing >= 2 parts, the three standard "
    "neighborhood scores — common-neighbor count, Jaccard overlap of "
    "part sets, and Adamic-Adar (shared parts weighted 1/ln(degree), "
    "so rare parts count more than hub parts). Exactness: counts and "
    "degrees are exact integers; each Adamic-Adar term is quantized "
    "to integer micro-units before the order-free sum; Jaccard is one "
    "final division. Scale: the pair generation is the inverted-index "
    "join of the n-gram dedup family (join BY PART, never all supplier "
    "pairs) — the partkey < 200 cap bounds the demo like "
    "graph_triangle_cliques, and a production run would cap hub parts "
    "by degree (the df_cap guard) so pair fan-out stays "
    "sum-of-squares-of-part-degrees, not |S|^2.",
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    sp = (
        li.filter(F.col("l_partkey") < 200)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    from .ext.caching import swap_persist

    sp = swap_persist("link_pred_sp", sp)
    deg = sp.groupBy("s").agg(F.count("*").alias("d"))
    pdeg = sp.groupBy("p").agg(F.count("*").alias("dp"))
    a, b = sp.alias("a"), sp.alias("b")
    pairs = a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s"))).select(
        F.col("a.s").alias("s1"), F.col("b.s").alias("s2"), F.col("a.p").alias("p")
    )
    sc = (
        pairs.join(F.broadcast(pdeg), "p")
        .groupBy("s1", "s2")
        .agg(
            F.count("*").alias("cn"),
            F.sum(
                F.round(F.lit(1000000.0) / F.log(F.col("dp").cast("double"))).cast(
                    "bigint"
                )
            ).alias("aa_micro"),
        )
        .filter(F.col("cn") >= 2)
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        sc.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("cn")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa_micro").cast("double") / 1000000, 6).alias(
                "adamic_adar"
            ),
        )
    )


@register(
    "sample_weighted_priority",
    f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln(({sql_md5_long("doc_id::VARCHAR", "aes")} % 1000000000 + 1)
                  / 1000000000.0) / n_chars AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars,
           round(k * 1000000000, 6) AS priority_key
    FROM keyed
    ORDER BY k DESC, doc_id LIMIT 100
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "A-ES): each document draws a deterministic uniform u from the "
    "shared 60-bit md5 convention and gets priority key ln(u)/w with "
    "w = n_chars; the global top-k by key IS a weighted sample "
    "without replacement — longer documents proportionally more "
    "likely, yet any fixed k is reproducible and mergeable across "
    "partitions (the property reservoir sampling loses under "
    "parallelism). Exactness: u is integer md5 arithmetic mirrored in "
    "the oracle; ln and the divide are single IEEE ops on identical "
    "doubles; ties broken by doc_id. Scale: keys are computed "
    "scan-side and the top-k is TakeOrderedAndProject — per-partition "
    "heads + driver merge, no global sort, the same shape as "
    "global_topk_orders.",
)
def q_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.hashing import md5_long

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    u = (md5_long(F.col("doc_id").cast("string"), "aes") % 1000000000 + 1) / F.lit(
        1000000000.0
    )
    keyed = d.select(
        "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("k")
    )
    return (
        keyed.orderBy(F.col("k").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            "n_chars",
            F.round(F.col("k") * 1000000000, 6).alias("priority_key"),
        )
    )


@register(
    "dedup_containment",
    f"""
    WITH {_sql_shingles(3)},
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_inter,
           round(n_inter / sa.n_sh, 6) AS cont_a,
           round(n_inter / sb.n_sh, 6) AS cont_b
    FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / sa.n_sh, 6) >= 0.7
       OR round(n_inter / sb.n_sh, 6) >= 0.7
    """,
    doc="Asymmetric n-gram CONTAINMENT near-dup (ext/dedup.py "
    "containment_pairs): |A∩B|/|A| per direction over the word-3-gram "
    "inverted index — catches short-document-embedded-in-long pairs "
    "whose Jaccard stays under any threshold because the union is "
    "dominated by the long side (the quote/boilerplate-inclusion case "
    "every corpus dedup needs next to dedup_ngram_jaccard). Exact "
    "integer intersection counts; thresholding on the same round-6 "
    "value both engines compute. Scale: identical inverted-index "
    "shape as the Jaccard pass (join BY SHINGLE, df_cap guard "
    "available), sizes broadcast.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), n=3, threshold=0.7)


@register(
    "sim_embedding_clusters",
    f"""
    WITH RECURSIVE p AS (SELECT [{_PLANES_SQL}]::DOUBLE[][] AS planes),
    c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_BUCKETS_SQL} AS buckets
           FROM embeddings, p WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    k AS (SELECT vec_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0)),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM k a JOIN k b USING (tbl, bucket) WHERE a.vec_id < b.vec_id
    ),
    prs AS (
        SELECT id_a, id_b
        FROM cand JOIN c0 va ON cand.id_a = va.vec_id
                  JOIN c0 vb ON cand.id_b = vb.vec_id
        WHERE {_SQL_COSINE.format(a="va.v", b="vb.v")} >= 0.4
    ),
    sym AS (
        SELECT id_a AS u, id_b AS v FROM prs
        UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(id, lbl) AS (
        SELECT DISTINCT u, u FROM sym
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN sym e ON r.id = e.u
    )
    SELECT id AS vec_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
           CASE WHEN min(lbl) = id THEN 1 ELSE 0 END AS keep
    FROM reach GROUP BY id
    """,
    doc="SEMANTIC dedup clusters: the embedding near-dup graph "
    "(sim_embedding_near_dup's LSH-bucketed candidate join + exact "
    "cosine >= 0.4) fed through the same min-label connected "
    "components as the lexical dedup_cluster_components — one "
    "canonical keeper per semantic cluster. This is the "
    "paraphrase-dedup step lexical shingles cannot do, composed "
    "entirely from existing machinery (LSH buckets -> verify -> "
    "propagate). Oracle recomputes the fixpoint with a recursive "
    "reachability CTE over the identical edge set. Scale: LSH "
    "candidate join (never all-pairs) + O(diameter) label rounds, "
    "all node-keyed shuffles.",
)
def q_sim_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import connected_components
    from .ext.similarity import embedding_near_dup_lsh

    emb = _embs_nn(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = embedding_near_dup_lsh(
        emb, threshold=0.4, n_tables=_N_TABLES, bits=_BITS, dim=_DIM
    ).select("id_a", "id_b")
    # the 0.4 demo threshold admits LOOSE components whose diameter can
    # exceed the lexical-dedup default cap; the oracle computes the true
    # fixpoint, so a silent non-converged return would be wrong data —
    # fail loudly instead
    cc = connected_components(
        pairs, "id_a", "id_b", max_iter=40, require_converged=True
    )
    return cc.select(
        F.col("id").alias("vec_id"),
        F.col("component").cast("long").alias("cluster_id"),
        F.when(F.col("component") == F.col("id"), 1).otherwise(0).alias("keep"),
    )


@register(
    "multimodal_audio_segments",
    """
    WITH med AS (
        SELECT doc_id AS media_id, text,
               least(greatest(n_chars, 0), 3600000) AS dur
        FROM documents),
    seg AS (
        SELECT media_id, text, dur,
               unnest(generate_series(0, greatest(dur - 1, 0), 500))
                   AS seg_start_ms
        FROM med)
    SELECT media_id,
           CAST(floor(seg_start_ms / 500.0) AS BIGINT) AS seg_idx,
           seg_start_ms,
           least(seg_start_ms + 1000, dur) AS seg_end_ms,
           (least(seg_start_ms + 1000, dur) - seg_start_ms) * 16
               AS n_samples,
           md5(seg_start_ms::VARCHAR || '-'
               || least(seg_start_ms + 1000, dur)::VARCHAR
               || ':' || text) AS segment_digest
    FROM seg
    """,
    doc="Audio analysis-window plumbing (ext/multimodal.py "
    "audio_segment_plan): one row per overlapping 1000 ms window at "
    "500 ms hop across meta.duration_ms, exploded BEFORE the stubbed "
    "per-segment decode — the shape an ASR/VAD feature extractor "
    "plugs into, with the exact 16 kHz sample count each window "
    "receives computed from metadata alone. Stand-in media: document "
    "text as payload, n_chars as duration. The window arithmetic "
    "(inclusive hop grid, end clamp, sample count) and the JVM-side "
    "segment digest are the value-checked parts.",
)
def q_multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.multimodal import audio_segment_plan

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(16000).alias("sample_rate"),
            # duration-validity clamp (extreme probe axis, r12): a
            # negative or absurd duration is corrupt metadata — the
            # bare int cast overflowed under ANSI on a 2^40 stand-in
            # duration, and an unclamped huge value would explode the
            # per-frame/segment grid; [0, 1h] is the documented
            # validity domain (1h per asset), mirrored in the oracle
            F.least(F.greatest(F.col("n_chars"), F.lit(0)),
                    F.lit(3_600_000)).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    segs = audio_segment_plan(media, window_ms=1000, hop_ms=500)
    return segs.select(
        "media_id",
        "seg_idx",
        "seg_start_ms",
        "seg_end_ms",
        "n_samples",
        F.md5(
            F.concat(
                F.col("seg_start_ms").cast("string"),
                F.lit("-"),
                F.col("seg_end_ms").cast("string"),
                F.lit(":"),
                F.decode("payload", "utf-8"),
            )
        ).alias("segment_digest"),
    )


@register(
    "dedup_chunk_exact",
    f"""
    WITH sp AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
    ex AS (
        SELECT doc_id,
               unnest(generate_series(0,
                   greatest(CAST(ceil(len(t) / 50.0) AS INT), 1) - 1))
                   AS chunk_id,
               t
        FROM sp
    ),
    ch AS (SELECT doc_id, chunk_id,
                  array_to_string(t[chunk_id * 50 + 1 : chunk_id * 50 + 50],
                                  ' ') AS chunk_text
           FROM ex)
    SELECT md5(chunk_text) AS fingerprint,
           count(*) AS n_copies,
           count(DISTINCT doc_id) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM ch GROUP BY 1 HAVING count(*) > 1
    """,
    doc="Chunk-level exact dedup: non-overlapping 50-token chunks "
    "(ext/text.py chunk_documents with overlap 0 — the same "
    "segmentation the packing step consumes), md5-fingerprinted and "
    "grouped; chunks appearing more than once are the repeated "
    "boilerplate/quotation blocks a corpus pipeline strips BETWEEN "
    "whole-doc dedup (too coarse) and gram-span dedup (finer but "
    "costlier) — the middle granularity of the dedup ladder. Scale: "
    "one tokenize+explode, one 16-byte-key hash aggregate; no joins.",
)
def q_dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import chunk_documents

    ch = chunk_documents(_docs(spark, sf_dir), chunk_tokens=50, overlap=0)
    return (
        ch.groupBy(F.md5("chunk_text").alias("fingerprint"))
        .agg(
            F.count("*").alias("n_copies"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "dedup_minhash_estimate_eval",
    f"""
    WITH {_sql_minhash_sigs(_MINHASH_K, 3)},
    {_sql_band_cand()},
    mm AS (
        SELECT c.id_a, c.id_b,
               count(*) FILTER (WHERE sa.sig = sb.sig) AS m
        FROM cand c JOIN sigs sa ON c.id_a = sa.id
                    JOIN sigs sb ON c.id_b = sb.id AND sa.h = sb.h
        GROUP BY 1, 2
    ),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c JOIN sh a ON c.id_a = a.id
                    JOIN sh b ON c.id_b = b.id AND a.shingle = b.shingle
        GROUP BY 1, 2
    ),
    per AS (
        SELECT mm.m / {float(_MINHASH_K)} AS est,
               coalesce(i.n_inter, 0)
                   / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) AS ex
        FROM mm LEFT JOIN inter i
                  ON mm.id_a = i.id_a AND mm.id_b = i.id_b
                JOIN sizes sa ON mm.id_a = sa.id
                JOIN sizes sb ON mm.id_b = sb.id
    ),
    q AS (SELECT CAST(round(abs(est - ex) * 1000000) AS BIGINT) AS ae,
                 CAST(round((est - ex) * 1000000) AS BIGINT) AS e
          FROM per)
    SELECT count(*) AS n_pairs,
           round(CAST(SUM(ae) AS DOUBLE) / count(*) / 1000000, 6) AS mae,
           round(CAST(SUM(e) AS DOUBLE) / count(*) / 1000000, 6) AS bias
    FROM q
    """,
    doc="MinHash estimator-quality eval (ext/dedup.py "
    "minhash_estimate_eval): over the LSH candidate pairs, the "
    "k=16-signature Jaccard estimate vs the exact shingle Jaccard — "
    "MAE and signed bias, the measure-don't-guess harness for sizing "
    "k (sim_ann_recall_eval's MinHash sibling; theory says sd ~ "
    "sqrt(j(1-j)/k) ~ 0.12 at k=16, and this measures it). Per-pair "
    "errors quantized to integer micro-units before the order-free "
    "sum; the estimate is integer sig matches over the shared "
    "deterministic permutations, so both engines see identical pairs "
    "AND identical estimates. Scale: candidate-bounded like the LSH "
    "dedup itself — cost tracks docs, never all pairs.",
)
def q_dedup_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import minhash_estimate_eval

    return minhash_estimate_eval(
        _docs(spark, sf_dir), k=_MINHASH_K, bands=_MINHASH_BANDS, n=3
    )


@register(
    "sample_temperature_mixture",
    f"""
    WITH w AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    q AS (SELECT lang, n_docs,
                 CAST(round(pow(n_docs, 0.7) * 1000000) AS BIGINT) AS wq
          FROM w),
    t AS (SELECT CAST(SUM(wq) AS BIGINT) AS tot,
                 CAST(SUM(n_docs) AS BIGINT) AS total_docs
          FROM q),
    r AS (SELECT lang, n_docs,
                 CAST(floor(least(1.0,
                     CAST(floor(total_docs / 2.0) AS DOUBLE) * wq / tot / n_docs)
                     * 1000000 + 0.5) AS BIGINT) AS thr
          FROM q, t),
    g AS (SELECT d.lang,
                 count(*) FILTER (
                     WHERE {sql_md5_long("doc_id::VARCHAR", "temp")} % 1000000
                           < r.thr) AS n_sampled
          FROM documents d JOIN r ON d.lang = r.lang
          GROUP BY 1)
    SELECT r.lang, r.n_docs, round(r.thr / 1000000.0, 6) AS rate,
           g.n_sampled
    FROM r JOIN g ON r.lang = g.lang
    """,
    doc="Temperature-scaled mixture sampling (alpha = 0.7, the "
    "mT5/XLM-R recipe): per-language sampling rates proportional to "
    "n^alpha / n — upweights low-resource languages relative to raw "
    "frequency — targeting half the corpus, with each document kept "
    "by the deterministic md5 gate under its language's rate. "
    "Exactness: the one float op per language is pow(n, 0.7), "
    "immediately quantized to integer micro-units so the normalizing "
    "sum is order-free; the per-doc gate compares integer hash "
    "residues against the integer threshold. Scale: one tiny "
    "language-weights frame broadcast over the corpus scan — the "
    "sample pass is a pure filter, no shuffle of documents.",
)
def q_sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.hashing import md5_long

    d = load_tables(spark, sf_dir)["documents"]
    w = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    q = w.select(
        "lang",
        "n_docs",
        F.round(F.pow(F.col("n_docs"), 0.7) * 1000000).cast("bigint").alias("wq"),
    )
    t = q.agg(
        F.sum("wq").cast("long").alias("tot"),
        F.sum("n_docs").cast("long").alias("total_docs"),
    )
    r = q.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        F.floor(
            F.least(
                F.lit(1.0),
                F.floor(F.col("total_docs") / 2.0).cast("double")
                * F.col("wq")
                / F.col("tot")
                / F.col("n_docs"),
            )
            * 1000000
            + 0.5
        )
        .cast("bigint")
        .alias("thr"),
    )
    gate = md5_long(F.col("doc_id").cast("string"), "temp") % 1000000
    g = (
        d.join(F.broadcast(r), "lang")
        .groupBy("lang")
        .agg(
            F.sum(F.when(gate < F.col("thr"), 1).otherwise(0)).alias("n_sampled")
        )
    )
    return r.join(g, "lang").select(
        "lang",
        "n_docs",
        F.round(F.col("thr") / 1000000.0, 6).alias("rate"),
        "n_sampled",
    )


@register(
    "dedup_incremental_new_batch",
    f"""
    WITH {_sql_shingles(3)},
    old_sh AS (SELECT * FROM sh WHERE id < 400),
    new_sh AS (SELECT * FROM sh WHERE id >= 400),
    inter AS (
        SELECT o.id AS id_old, nw.id AS id_new, count(*) AS n_inter
        FROM old_sh o JOIN new_sh nw ON o.shingle = nw.shingle
        GROUP BY 1, 2
    )
    SELECT id_old, id_new, n_inter,
           round(n_inter / (so.n_sh + sn.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes so ON id_old = so.id JOIN sizes sn ON id_new = sn.id
    WHERE round(n_inter / (so.n_sh + sn.n_sh - n_inter), 6) >= 0.6
    """,
    doc="INCREMENTAL dedup: a new ingestion batch (doc_id >= 400 here "
    "— in production, the day's arrivals) near-dup-checked against "
    "the EXISTING corpus only, via the asymmetric inverted-index join "
    "(old-side postings x new-side shingles). This is the shape that "
    "makes continuous ingestion affordable: cost tracks "
    "|new batch| x avg-postings, never re-pairs the historical "
    "corpus against itself, and the old-side shingle index is "
    "exactly what a pipeline persists between runs (the build/serve "
    "split of sim_ivf_pq_index_serve, applied to dedup). New-vs-new "
    "pairs are the ordinary self-join on the small batch, left to "
    "the standard pass.",
)
def q_dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import word_shingles

    docs = _docs(spark, sf_dir)
    sh = word_shingles(docs, "text", "doc_id", 3)
    from .ext.caching import swap_persist

    sh = swap_persist("incr_dedup_sh", sh)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    old = sh.filter(F.col("id") < 400)
    new = sh.filter(F.col("id") >= 400)
    inter = (
        old.alias("o")
        .join(new.alias("nw"), F.col("o.shingle") == F.col("nw.shingle"))
        .groupBy(F.col("o.id").alias("id_old"), F.col("nw.id").alias("id_new"))
        .agg(F.count("*").alias("n_inter"))
    )
    so = sizes.select(F.col("id").alias("id_old"), F.col("n_sh").alias("n_o"))
    sn = sizes.select(F.col("id").alias("id_new"), F.col("n_sh").alias("n_n"))
    return (
        inter.join(F.broadcast(so), "id_old")
        .join(F.broadcast(sn), "id_new")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_o") + F.col("n_n") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.6)
        .select("id_old", "id_new", "n_inter", "jaccard")
    )


@register(
    "text_lang_id_eval",
    f"""
    WITH sp AS (SELECT doc_id, lang, {{SQL_TOKENS}} AS t
            FROM (SELECT DISTINCT doc_id, text, lang FROM documents
                  WHERE doc_id IS NOT NULL AND text IS NOT NULL) documents),
    r AS (SELECT doc_id, lang,
           {{_LANG_RATIOS}}
    FROM sp),
    p AS (SELECT DISTINCT doc_id, lang AS lang_true, {{_LANG_CASE}} AS lang_pred FROM r),
    c AS (SELECT lang_true, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
    t AS (SELECT lang_true, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
    SELECT c.lang_true, c.lang_pred, c.n,
           round(CAST(c.n AS DOUBLE) / t.tot, 6) AS frac_of_true
    FROM c JOIN t ON c.lang_true = t.lang_true
    """.format(SQL_TOKENS=SQL_TOKENS, _LANG_RATIOS=_LANG_RATIOS, _LANG_CASE=_LANG_CASE),
    doc="Language-ID accuracy eval: the stopword-ratio classifier's "
    "confusion matrix against the corpus's LABELED lang column — "
    "per (true, predicted) cell counts and the fraction of each true "
    "language they represent (diagonal = recall). The "
    "measure-don't-guess harness for the text_lang_id heuristic, "
    "beside the ANN-recall and MinHash-error evals: it shows exactly "
    "which languages fall to 'und' or cross-fire before anyone "
    "trusts the classifier as a corpus filter. Exact integer counts, "
    "one division per cell. Scale: one tokenize pass, one tiny "
    "|langs|^2 aggregate.",
)
def q_text_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.text import lang_id

    d = _docs_nn_uniq(spark, sf_dir, "lang")
    pred = lang_id(d).select("doc_id", "lang_pred")
    # confusion cells count DISTINCT docs: a duplicated doc_id would
    # otherwise be counted 4x through the self-join (bug class 9); the
    # distinct runs on three narrow columns, never on text
    p = (
        d.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred, "doc_id")
        .distinct()
    )
    c = p.groupBy("lang_true", "lang_pred").agg(F.count("*").alias("n"))
    t = c.groupBy("lang_true").agg(F.sum("n").cast("long").alias("tot"))
    return c.join(F.broadcast(t), "lang_true").select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("frac_of_true"),
    )


@register(
    "text_vocab_coverage_curve",
    f"""
    WITH toks AS (SELECT unnest({{SQL_TOKENS}}) AS term FROM documents),
    tf AS (SELECT term, count(*) AS c FROM toks WHERE term <> '' GROUP BY 1),
    t AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
                 count(*) AS vocab_size
          FROM tf),
    cum AS (SELECT c, term,
                   row_number() OVER (ORDER BY c DESC, term) AS rk,
                   SUM(c) OVER (ORDER BY c DESC, term) AS cumtok
            FROM tf),
    marks AS (SELECT unnest([100, 1000, 10000]) AS top_n)
    SELECT m.top_n, t.vocab_size, t.total AS total_tokens,
           CAST(max(CASE WHEN cum.rk <= m.top_n THEN cum.cumtok END)
                AS BIGINT) AS covered_tokens,
           round(CAST(max(CASE WHEN cum.rk <= m.top_n THEN cum.cumtok END)
                      AS DOUBLE) / t.total, 6) AS coverage
    FROM marks m, cum, t
    GROUP BY m.top_n, t.vocab_size, t.total
    """.format(SQL_TOKENS=SQL_TOKENS),
    doc="Vocabulary coverage curve: what fraction of all corpus "
    "tokens the top-100/1k/10k most frequent terms cover — the "
    "readout that sizes a tokenizer vocabulary (and quantifies the "
    "Zipf head text_zipf_fit models). Exactness: term frequencies "
    "and the rank cumulation are exact integers with the (freq DESC, "
    "term) total order tie-broken identically; one division per "
    "mark. Scale: one tokenize + hash agg to the term histogram; "
    "the descending cumulation runs over distinct TERMS (sublinear "
    "in tokens) — at web scale this is the two-pass global cumsum, "
    "series-bounded here.",
)
def q_text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .ext.text import tokens as tok_fn

    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(F.explode(tok_fn("text")).alias("term")).filter(
        F.col("term") != ""
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("c"))
    from .ext.caching import swap_persist

    tf = swap_persist("vocab_curve_tf", tf)
    t = tf.agg(
        F.sum("c").cast("long").alias("total"), F.count("*").alias("vocab_size")
    )
    # r14: only ranks <= max(marks) ever reach the output — rows with
    # rk > 10000 are dropped by every when(rk <= top_n) — so the frame
    # entering the rank/cumsum windows is bounded FIRST with a top-k by
    # the same (c DESC, term) total order (TakeOrderedAndProject, per-
    # partition top-k + driver merge). The windows then run over
    # <= 10000 rows — constant in the corpus size — instead of
    # single-tasking the whole Heaps-law vocab histogram; identical
    # output by construction (the limit keeps exactly the rows whose
    # rk the full-frame window would have kept).
    head = tf.orderBy(F.col("c").desc(), "term").limit(10000)
    w = Window.orderBy(F.col("c").desc(), "term").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = head.select(
        F.row_number().over(Window.orderBy(F.col("c").desc(), "term")).alias("rk"),
        F.sum("c").over(w).alias("cumtok"),
    )
    marks = local_frame(spark, [(100,), (1000,), (10000,)], "top_n bigint")
    return (
        marks.crossJoin(cum)
        .crossJoin(F.broadcast(t))
        .groupBy("top_n", "vocab_size", F.col("total").alias("total_tokens"))
        .agg(
            F.max(F.when(F.col("rk") <= F.col("top_n"), F.col("cumtok")))
            .cast("long")
            .alias("covered_tokens"),
            F.round(
                F.max(
                    F.when(F.col("rk") <= F.col("top_n"), F.col("cumtok"))
                ).cast("double")
                / F.first("total"),
                6,
            ).alias("coverage"),
        )
    )


@register(
    "sim_matryoshka_prefix_recall",
    f"""
    WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                       (embedding::DOUBLE[])[1:16] AS v16
                FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, v, v16 FROM c0 WHERE vec_id < 10),
    fsims AS (
        SELECT q.query_id, c.vec_id,
               {_SQL_COSINE.format(a="c.v", b="q.v")} AS s
        FROM c0 c, q WHERE c.vec_id <> q.query_id),
    full_top AS (SELECT query_id, vec_id FROM (
                     SELECT query_id, vec_id,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY s DESC, vec_id) AS rk
                     FROM fsims) WHERE rk <= 5),
    psims AS (
        SELECT q.query_id, c.vec_id,
               {_SQL_COSINE.format(a="c.v16", b="q.v16")} AS s
        FROM c0 c, q WHERE c.vec_id <> q.query_id),
    pref_top AS (SELECT query_id, vec_id FROM (
                     SELECT query_id, vec_id,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY s DESC, vec_id) AS rk
                     FROM psims) WHERE rk <= 5)
    SELECT f.query_id,
           count(p.vec_id) AS n_matched,
           round(count(p.vec_id) / 5.0, 6) AS recall_at_5
    FROM full_top f LEFT JOIN pref_top p USING (query_id, vec_id)
    GROUP BY 1
    """,
    doc="Matryoshka prefix-dimension eval: recall@5 of cosine search "
    "using only the FIRST 16 of 64 dimensions against full-dimension "
    "ground truth — the measurement behind MRL-style "
    "coarse-to-fine retrieval (search cheap on a prefix, rerank on "
    "the full vector) and the third entry in the eval family "
    "(ANN recall, MinHash error, now dimension truncation). Both "
    "rankings are exact brute-force with the shared deterministic "
    "tie-break, so the whole evaluation is value-oracle-checked. "
    "Scale: same broadcast-queries x corpus-scan shape as "
    "sim_cosine_topk, twice.",
)
def q_sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.similarity import cosine_topk

    emb = _embs_nn(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pref = emb.withColumn("embedding", F.slice("embedding", 1, 16))
    qs_full = _queries_subset(emb)
    qs_pref = _queries_subset(pref)
    full_top = cosine_topk(emb, qs_full, k=5).select("query_id", "neighbor_id")
    pref_top = cosine_topk(pref, qs_pref, k=5, dim=16).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        full_top.join(pref_top, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_matched"),
            F.round(F.count("_hit") / 5.0, 6).alias("recall_at_5"),
        )
    )


@register(
    "sketch_cms_heavy_hitters",
    f"""
    WITH tf AS (
        SELECT term, count(*) AS cnt
        FROM (SELECT unnest({SQL_TOKENS}) AS term FROM documents)
        WHERE term <> '' GROUP BY term),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (
        SELECT r,
               ('0x' || substr(md5(r::VARCHAR || ':' || term), 1, 15))::BIGINT
                   % 1024 AS c,
               SUM(cnt)::BIGINT AS cell_total
        FROM tf CROSS JOIN rows_
        GROUP BY 1, 2),
    cand AS (SELECT term, cnt FROM tf ORDER BY cnt DESC, term LIMIT 20),
    probe AS (
        SELECT cand.term, cand.cnt, rows_.r,
               ('0x' || substr(md5(rows_.r::VARCHAR || ':' || cand.term), 1, 15))
                   ::BIGINT % 1024 AS c
        FROM cand CROSS JOIN rows_)
    SELECT p.term,
           max(p.cnt) AS exact_count,
           min(cells.cell_total) AS cms_estimate,
           min(cells.cell_total) - max(p.cnt) AS overestimate
    FROM probe p JOIN cells ON cells.r = p.r AND cells.c = p.c
    GROUP BY 1
    """,
    doc="Count-min sketch heavy hitters: a depth-4 x width-1024 CMS over "
    "corpus tokens (salted-md5 row hashes, the [hashing.py] cross-engine "
    "construction), probed with the exact top-20 terms so the readout "
    "reports exact count, CMS estimate, and the overestimate bias "
    "(CMS never underestimates: estimate = min over rows of the "
    "colliding-cell totals). The sketch class the engine lacked: "
    "approx_count_distinct is cardinality, approx_percentile is "
    "quantiles, CMS is per-item frequency in bounded memory. "
    "Scale: the sketch aggregate's state is <= d*w = 4096 cells "
    "regardless of corpus size (at 100 TB, build cells straight off "
    "the token stream — partial aggregation collapses every partition "
    "to 4096 rows before the shuffle, no per-term shuffle needed; the "
    "exact tf here is the eval ground truth and candidate prober, "
    "persisted once and shared). Probe join is 80 rows x 4096 cells, "
    "broadcast.",
)
def q_sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.caching import swap_persist
    from .ext.text import tokens

    d, w = 4, 1024
    tf = (
        _docs(spark, sf_dir)
        .select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    tf = swap_persist("cms_tf", tf)
    rc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (md5_long(F.col("term"), salt=r) % w).alias("c"),
                )
                for r in range(d)
            ]
        )
    ).alias("rc")
    cells = (
        tf.select(rc, "cnt")
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.sum("cnt").alias("cell_total"))
    )
    cand = tf.orderBy(F.col("cnt").desc(), "term").limit(20)
    probe = cand.select("term", "cnt", rc).select(
        "term", "cnt", F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
    )
    return (
        F.broadcast(probe)
        .join(cells, ["r", "c"])
        .groupBy("term")
        .agg(
            F.max("cnt").alias("exact_count"),
            F.min("cell_total").alias("cms_estimate"),
            (F.min("cell_total") - F.max("cnt")).alias("overestimate"),
        )
    )


_BLOOM_M = 4096  # bits; 128 words x 32 bits (top bits unused: no sign traps)
_BLOOM_K = 3
_BLOOM_NATION = 7


def _sql_bloom_bit(expr: str, salt: int) -> str:
    return f"{sql_md5_long(expr, salt)} % {_BLOOM_M}"


@register(
    "join_bloom_prefilter",
    f"""
    WITH dimkeys AS (
        SELECT s_suppkey AS k FROM supplier WHERE s_nationkey = {_BLOOM_NATION}),
    bits AS (
        SELECT {_sql_bloom_bit("k::VARCHAR", 0)} AS bit FROM dimkeys
        UNION ALL
        SELECT {_sql_bloom_bit("k::VARCHAR", 1)} FROM dimkeys
        UNION ALL
        SELECT {_sql_bloom_bit("k::VARCHAR", 2)} FROM dimkeys),
    bitmap AS (
        SELECT bit // 32 AS word, bit_or(1::BIGINT << (bit % 32)) AS bm
        FROM bits GROUP BY 1),
    fact AS (
        SELECT l_suppkey,
               {_sql_bloom_bit("l_suppkey::VARCHAR", 0)} AS b0,
               {_sql_bloom_bit("l_suppkey::VARCHAR", 1)} AS b1,
               {_sql_bloom_bit("l_suppkey::VARCHAR", 2)} AS b2,
               l_suppkey IN (SELECT k FROM dimkeys) AS exact_hit
        FROM lineitem),
    tested AS (
        SELECT exact_hit,
               coalesce((w0.bm & (1::BIGINT << (b0 % 32))) <> 0, FALSE)
               AND coalesce((w1.bm & (1::BIGINT << (b1 % 32))) <> 0, FALSE)
               AND coalesce((w2.bm & (1::BIGINT << (b2 % 32))) <> 0, FALSE)
                   AS bloom_pass
        FROM fact
        LEFT JOIN bitmap w0 ON w0.word = b0 // 32
        LEFT JOIN bitmap w1 ON w1.word = b1 // 32
        LEFT JOIN bitmap w2 ON w2.word = b2 // 32)
    SELECT count(*) AS n_fact,
           count(*) FILTER (WHERE bloom_pass) AS n_bloom_pass,
           count(*) FILTER (WHERE exact_hit) AS n_exact,
           count(*) FILTER (WHERE bloom_pass AND NOT exact_hit)
               AS n_false_positive,
           count(*) FILTER (WHERE exact_hit AND NOT bloom_pass)
               AS n_false_negative,
           round(count(*) FILTER (WHERE bloom_pass AND NOT exact_hit)
                 / greatest(count(*) - count(*) FILTER (WHERE exact_hit), 1)
                 * 1.0, 6) AS fp_rate
    FROM tested
    """,
    doc="Bloom-filter semi-join pre-filter, the runtime-filter pattern "
    "production engines apply to big probe-side scans: hash the "
    "SELECTIVE dim keys (suppliers of one nation, ~4%) into a "
    "4096-bit bitmap (k=3 salted-md5 bit positions, 128x32-bit words "
    "so no sign-bit traps), then test every fact row against the "
    "bitmap BEFORE the exact join would shuffle it. The one-row "
    "readout proves the two bloom invariants cross-engine: "
    "n_false_negative = 0 (every true match passes) and a small "
    "measured fp_rate among true non-matches. Scale: the bitmap is "
    "<=128 rows (broadcast x3 word-joins, zero shuffle added to the "
    "probe scan); at 100 TB this is what Spark's own "
    "runtime.bloomFilter AQE rewrite injects automatically — here the "
    "mechanics are explicit, deterministic, and value-oracle-checked. "
    "The membership test is 3 broadcast hash joins in one codegen "
    "stage, not a Python predicate.",
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    m, words = _BLOOM_M, 32
    dim = (
        t["supplier"]
        .filter(F.col("s_nationkey") == _BLOOM_NATION)
        .select(F.col("s_suppkey").alias("k"))
    )

    def bloom_bit(col, salt):
        return md5_long(col.cast("string"), salt=salt) % m

    bits = dim.select(
        F.explode(
            F.array(*[bloom_bit(F.col("k"), s) for s in range(_BLOOM_K)])
        ).alias("bit")
    )
    bitmap = bits.groupBy((F.col("bit") / words).cast("bigint").alias("word")).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {words} AS INT))")
        ).alias("bm")
    )
    fact = t["lineitem"].select("l_suppkey")
    for s in range(_BLOOM_K):
        fact = fact.withColumn(f"b{s}", bloom_bit(F.col("l_suppkey"), s))
    # distinct: exact_hit is SET membership (the oracle's IN-subquery).
    # A duplicated dim key would row-multiply matching fact rows
    # through this left join and inflate every count (bug class 9).
    exact = dim.distinct().withColumn("exact_flag", F.lit(1))
    tested = fact.join(
        F.broadcast(exact), fact["l_suppkey"] == exact["k"], "left"
    ).drop("k")
    for s in range(_BLOOM_K):
        w = F.broadcast(bitmap.select(F.col("word").alias(f"w{s}"), F.col("bm").alias(f"bm{s}")))
        tested = tested.join(
            w, (F.col(f"b{s}") / words).cast("bigint") == F.col(f"w{s}"), "left"
        )
    passed = None
    for s in range(_BLOOM_K):
        hit = F.coalesce(
            F.col(f"bm{s}").bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(b{s} % {words} AS INT))")
            )
            != 0,
            F.lit(False),
        )
        passed = hit if passed is None else (passed & hit)
    tested = tested.select(
        F.col("exact_flag").isNotNull().alias("exact_hit"), passed.alias("bloom_pass")
    )
    return tested.agg(
        F.count("*").alias("n_fact"),
        F.count_if(F.col("bloom_pass")).alias("n_bloom_pass"),
        F.count_if(F.col("exact_hit")).alias("n_exact"),
        F.count_if(F.col("bloom_pass") & ~F.col("exact_hit")).alias("n_false_positive"),
        F.count_if(F.col("exact_hit") & ~F.col("bloom_pass")).alias("n_false_negative"),
        F.round(
            F.count_if(F.col("bloom_pass") & ~F.col("exact_hit"))
            / F.greatest(F.count("*") - F.count_if(F.col("exact_hit")), F.lit(1)),
            6,
        ).alias("fp_rate"),
    )


@register(
    "dedup_jaccard_prefix_filter",
    f"""
    WITH {_sql_shingles(3)},
    freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    ranked AS (
        SELECT sh.id, sh.shingle, s.n_sh,
               row_number() OVER (PARTITION BY sh.id
                                  ORDER BY f.df, sh.shingle) AS rn
        FROM sh JOIN freq f USING (shingle) JOIN sizes s ON s.id = sh.id),
    pfx AS (SELECT id, shingle FROM ranked
            WHERE rn <= n_sh - ((3 * n_sh + 4) // 5) + 1),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM pfx a JOIN pfx b
               ON a.shingle = b.shingle AND a.id < b.id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN sh x ON x.id = c.id_a
        JOIN sh y ON y.id = c.id_b AND y.shingle = x.shingle
        GROUP BY 1, 2)
    SELECT id_a, id_b, n_inter,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.6
    """,
    doc="X1 PPJoin prefix-filtered Jaccard join: identical output to "
    "dedup_ngram_jaccard (threshold 0.6) but the candidate self-join "
    "touches only each doc's n_sh - ceil(0.6*n_sh) + 1 RAREST "
    "shingles (global ascending-df order; integer ceil so both "
    "engines agree) — the prefix lemma guarantees the smallest "
    "common shingle of any qualifying pair lies in both prefixes, so "
    "the filter is lossless while the quadratic hot-shingle blowup "
    "disappears (prefixes hold the rarest shingles by construction). "
    "Candidates verified exactly against the full index. The "
    "equality with the unfiltered operator is pinned by "
    "test_ext.py's cross-operator assertion.",
)
def q_dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import jaccard_prefix_filter_pairs

    return jaccard_prefix_filter_pairs(_docs(spark, sf_dir), n=3)


def _bpe_oracle(n_steps: int = 5, vocab: int = 200) -> str:
    """Chained-CTE DuckDB twin of the BPE merge loop: the iteration
    count is static, so each Lloyd-style data-dependent step unrolls
    into (pairs_k -> best_k -> seqs_k) CTE triples."""
    parts = [
        f"""
    WITH tf AS (
        SELECT term, count(*) AS freq
        FROM (SELECT unnest({SQL_TOKENS}) AS term FROM documents)
        WHERE term <> '' GROUP BY term
        ORDER BY freq DESC, term LIMIT {vocab}),
    t0 AS (
        SELECT term, freq,
               array_to_string(list_transform(
                   generate_series(1, length(term)), i -> term[i]), ' ') AS seq
        FROM tf)"""
    ]
    for k in range(1, n_steps + 1):
        parts.append(f"""
    p{k} AS (
        SELECT s.l[u.i] || ' ' || s.l[u.i + 1] AS pair,
               SUM(s.freq)::BIGINT AS cnt
        FROM (SELECT freq, string_split(seq, ' ') AS l FROM t{k - 1}) s,
             unnest(generate_series(1, len(s.l) - 1)) AS u(i)
        GROUP BY 1),
    b{k} AS (SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair LIMIT 1),
    t{k} AS (
        SELECT term, freq,
               trim(replace(' ' || seq || ' ',
                            ' ' || (SELECT pair FROM b{k}) || ' ',
                            ' ' || (SELECT replace(pair, ' ', '') FROM b{k})
                            || ' ')) AS seq
        FROM t{k - 1})""")
    selects = [
        f"SELECT {k} AS step, pair, replace(pair, ' ', '') AS merged,"
        f" cnt AS pair_count FROM b{k}"
        for k in range(1, n_steps + 1)
    ]
    return ",".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "text_bpe_merge_steps",
    _bpe_oracle(),
    doc="BPE tokenizer training, first 5 merge rules: start from the "
    "character sequences of the top-200 corpus terms (frequency-"
    "weighted), repeatedly count adjacent symbol pairs, merge the "
    "most frequent (ties by pair string), and rewrite every "
    "sequence — the exact greedy loop behind GPT-style tokenizers, "
    "as a data pipeline. The merge rewrite is a plain string "
    "replace on space-separated symbols (left-to-right "
    "non-overlapping, identical semantics in both engines, with "
    "flanking-space wrapping so symbol boundaries can't false-"
    "match). Each step's argmax is a 1-row driver collect — the "
    "same bounded trainer-loop pattern as the k-means IVF trainer; "
    "everything data-sized (pair counting, sequence rewrite) stays "
    "distributed, and the working vocab is persisted per step. The "
    "oracle unrolls the 5 data-dependent steps into chained CTE "
    "triples, so the whole learned ruleset is value-checked.",
)
def q_text_bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.caching import swap_persist
    from .ext.text import tokens

    tf = (
        _docs(spark, sf_dir)
        .select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(200)
    )
    seqs = tf.select(
        "term",
        "freq",
        F.concat_ws(
            " ",
            F.expr("transform(sequence(1, length(term)), i -> substring(term, i, 1))"),
        ).alias("seq"),
    )
    rules = []
    for step in range(1, 6):
        seqs = swap_persist("bpe_seqs", seqs)
        pairs = seqs.select(
            "freq",
            F.explode(
                # sequence(1, n-1) is a TRAP for n=1: Spark generates the
                # DESCENDING [1, 0] (negative default step), not empty —
                # so iterate 1..n and null out the last slot instead
                F.expr(
                    "filter(transform(sequence(1, size(split(seq, ' '))),"
                    " i -> IF(i < size(split(seq, ' ')),"
                    " concat(element_at(split(seq, ' '), i), ' ',"
                    " element_at(split(seq, ' '), i + 1)), NULL)),"
                    " x -> x IS NOT NULL)"
                )
            ).alias("pair"),
        )
        best_rows = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not best_rows:
            # no mergeable pair left (empty corpus, or every sequence is
            # a single token): the trained rule list simply ends here —
            # same contract as BPE training running out of pairs
            break
        best = best_rows[0]
        merged = best["pair"].replace(" ", "")
        rules.append((step, best["pair"], merged, best["cnt"]))
        seqs = seqs.withColumn(
            "seq",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                    F.lit(f" {best['pair']} "),
                    F.lit(f" {merged} "),
                )
            ),
        )
    return local_frame(
        spark, rules, "step int, pair string, merged string, pair_count bigint"
    )


@register(
    "text_readability_flesch",
    r"""
    WITH m AS (
        SELECT lang,
               greatest(len(regexp_extract_all(text, '\S+')), 1) AS w,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
               len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS y
        FROM documents),
    sc AS (
        SELECT lang,
               CAST(floor((206.835
                           - 1.015 * (CAST(w AS DOUBLE) / s)
                           - 84.6 * (CAST(y AS DOUBLE) / w)) * 1000000 + 0.5)
                    AS BIGINT) AS micro
        FROM m)
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE micro >= 60000000) AS BIGINT) AS n_easy,
           CAST(count(*) FILTER (WHERE micro >= 30000000 AND micro < 60000000)
                AS BIGINT) AS n_standard,
           CAST(count(*) FILTER (WHERE micro < 30000000) AS BIGINT) AS n_hard,
           round(CAST(SUM(micro) AS DOUBLE) / count(*) / 1000000, 6)
               AS avg_flesch
    FROM sc GROUP BY lang ORDER BY lang
    """,
    doc="Flesch reading-ease quality gate per language: words = \\S+ "
    "runs, sentences = [.!?]+ runs (floored at 1 — the synthetic corpus "
    "is unpunctuated, so each doc reads as one long sentence, exactly "
    "the degenerate case the floor guards), syllables approximated as "
    "vowel-group runs — the standard cheap heuristic. The per-doc "
    "score is a fixed double sequence over exact integer counts, "
    "quantized to integer micro-units via floor(x*1e6+0.5) (spelled "
    "identically in both engines — F.round/DuckDB round diverge on "
    "negative halves, and unpunctuated docs go deeply negative) so the "
    "per-language mean is an order-free integer sum. Banding compares "
    "the quantized integer, never the double, so band boundaries are "
    "bit-stable. Scale: one scan, per-row regexp counts (JVM-side, no "
    "UDF), one small groupBy — the same shape as text_quality_score.",
)
def q_text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    w = F.greatest(F.regexp_count(F.col("text"), F.lit(r"\S+")), F.lit(1))
    s = F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    y = F.regexp_count(F.col("text"), F.lit(r"[aeiouyAEIOUY]+"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (w.cast("double") / s)
        - F.lit(84.6) * (y.cast("double") / w)
    )
    sc = d.select(
        "lang",
        F.floor(flesch * 1000000 + F.lit(0.5)).cast("bigint").alias("micro"),
    )
    return (
        sc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            # when/otherwise, not pred.cast(int): a NULL micro (NULL
            # text) must count as 0 like the oracle's FILTER clause,
            # not poison the sum to NULL
            F.sum(F.when(F.col("micro") >= 60000000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_easy"),
            F.sum(
                F.when(
                    (F.col("micro") >= 30000000) & (F.col("micro") < 60000000), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_standard"),
            F.sum(F.when(F.col("micro") < 30000000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hard"),
            F.round(
                F.sum("micro").cast("double") / F.count("*") / 1000000, 6
            ).alias("avg_flesch"),
        )
        .orderBy("lang")
    )


@register(
    "sketch_kmv_distinct",
    f"""
    WITH h AS (
        -- a NULL c_custkey has no hash and is not a sketch member
        -- (nullkeysdup composite, r13: below-k groups short-circuit to
        -- the exact count and masked the fork on the parent axis; past
        -- k the NULL hash sits at rn=1 under Spark's NULLS-FIRST asc
        -- but at rn=nd under DuckDB's NULLS-LAST, forking u_(k))
        SELECT n_nationkey AS nation, c_nationkey,
               {sql_md5_long("c_custkey::VARCHAR", "kmv")} AS hv
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey IS NOT NULL),
    dh AS (SELECT nation, hv FROM h GROUP BY 1, 2),
    rk AS (
        SELECT nation, hv,
               row_number() OVER (PARTITION BY nation ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY nation) AS nd
        FROM dh),
    kth AS (
        SELECT nation, nd AS exact_distinct,
               CASE WHEN nd >= 64 THEN max(CASE WHEN rn = 64 THEN hv END)
                    ELSE max(hv) END AS hk,
               least(nd, 64) AS k
        FROM rk WHERE rn <= 64 GROUP BY nation, nd)
    , est AS (
        SELECT nation, exact_distinct, k,
               CASE WHEN exact_distinct >= 64
                    THEN round((CAST(k AS DOUBLE) - 1)
                               / (CAST(hk AS DOUBLE) / 1152921504606846976), 4)
                    ELSE CAST(exact_distinct AS DOUBLE) END AS kmv_estimate
        FROM kth)
    SELECT nation, CAST(exact_distinct AS BIGINT) AS exact_distinct,
           CAST(k AS INT) AS k, kmv_estimate,
           round(abs(kmv_estimate - exact_distinct)
                 / exact_distinct * 100, 4) AS rel_error_pct
    FROM est ORDER BY nation
    """,
    doc="KMV (k-minimum-values) distinct-count sketch per nation, "
    "k=64, with the exact count and relative error as the readout — "
    "the mergeable bottom-k twin of HLL: keep the k smallest 60-bit "
    "md5 hashes of the key; estimate = (k-1)/u_(k) where u_(k) is the "
    "k-th smallest hash normalized by 2^60. Groups with fewer than k "
    "distinct keys short-circuit to the exact count (the sketch holds "
    "every value, so the estimator is not applied below k). Deterministic md5 hashing "
    "(ext/hashing.py) makes the sketch value-reproducible in DuckDB, "
    "so the driver hash-checks the ESTIMATE itself, not just shape. "
    "Scale: sketch state is k longs per group no matter the row "
    "count; one shuffle keyed by group for the bottom-k window (at "
    "100 TB swap the window for a partial TreeAggregate-style "
    "per-partition bottom-k then merge — same estimator, mergeable "
    "by min-union of the k-sets).",
)
def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    K = 64
    TWO60 = float(1 << 60)
    h = (
        t["customer"]
        # a NULL c_custkey has no hash — not a sketch member (mirrored
        # in the oracle's h CTE; see the dialect-fork note there)
        .filter(F.col("c_custkey").isNotNull())
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_nationkey").alias("nation"),
            md5_long(F.col("c_custkey").cast("string"), "kmv").alias("hv"),
        )
        .groupBy("nation", "hv")
        .agg(F.lit(1).alias("_one"))
    )
    w = Window.partitionBy("nation").orderBy("hv")
    wc = Window.partitionBy("nation")
    rk = h.select(
        "nation",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("nd"),
    ).filter(F.col("rn") <= K)
    kth = rk.groupBy("nation", "nd").agg(
        F.when(
            F.col("nd") >= K,
            F.max(F.when(F.col("rn") == K, F.col("hv"))),
        )
        .otherwise(F.max("hv"))
        .alias("hk"),
        F.least(F.first("nd"), F.lit(K)).alias("k"),
    )
    est = F.when(
        F.col("nd") >= K,
        F.round(
            (F.col("k").cast("double") - 1)
            / (F.col("hk").cast("double") / TWO60),
            4,
        ),
    ).otherwise(F.col("nd").cast("double"))
    return kth.select(
        "nation",
        F.col("nd").cast("bigint").alias("exact_distinct"),
        F.col("k").cast("int").alias("k"),
        est.alias("kmv_estimate"),
        F.round(
            F.abs(est - F.col("nd")) / F.col("nd") * 100, 4
        ).alias("rel_error_pct"),
    ).orderBy("nation")


@register(
    "text_bm25_search",
    """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS dl,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
    tf AS (
        SELECT doc_id, tok, max(dl) AS dl, count(*) AS tf
        FROM toks WHERE tok IN ('spark', 'window', 'merge')
        GROUP BY doc_id, tok),
    dfreq AS (
        SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    stats AS (
        SELECT count(*) AS n_docs,
               CAST(SUM(len(string_split(lower(text), ' '))) AS DOUBLE)
                   / count(*) AS avgdl
        FROM documents),
    contrib AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                   * 1000000 + 0.5) AS BIGINT) AS micro
        FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN stats),
    scored AS (
        SELECT doc_id, count(*) AS n_terms_matched,
               CAST(SUM(micro) AS BIGINT) AS score_micro
        FROM contrib GROUP BY doc_id)
    SELECT doc_id, n_terms_matched,
           round(CAST(score_micro AS DOUBLE) / 1000000, 6) AS bm25
    FROM scored
    ORDER BY score_micro DESC, doc_id LIMIT 10
    """,
    doc="BM25 ranked retrieval (k1=1.2, b=0.75) for the fixed query "
    "{spark, window, merge} over the documents table — the classic "
    "sparse-retrieval half of a RAG stack next to the dense ANN "
    "operators. Per-(doc,term) contribution = idf * tf*(k1+1) / "
    "(tf + k1*(1-b+b*dl/avgdl)), with idf = ln(1+(N-df+0.5)/(df+0.5)) "
    "(the Robertson-Sparck-Jones form, always positive), quantized to "
    "integer micro-units at the contribution level so the per-doc "
    "score is an order-free integer sum (the established micro-nat "
    "convention, cf. text_zipf_fit); ranking ties break on doc_id. "
    "Scale: one tokenize pass computes dl and term postings together; "
    "df (|query| rows) and the corpus stats row broadcast; the "
    "posting join is gated to query terms BEFORE any shuffle, so the "
    "scored frame is |matching docs| x |query terms|, not the corpus; "
    "top-k is a TakeOrderedAndProject.",
)
def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    TERMS = ["spark", "window", "merge"]
    toks = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).alias("dl"),
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    )
    tf = (
        toks.filter(F.col("tok").isin(TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.max("dl").alias("dl"), F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    stats = d.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size(F.split(F.lower("text"), " "))).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfnorm = (F.col("tf") * 2.2) / (
        F.col("tf")
        + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * tfnorm * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("micro"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_matched"),
        F.sum("micro").cast("bigint").alias("score_micro"),
    )
    return (
        scored.orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "n_terms_matched",
            F.round(F.col("score_micro").cast("double") / 1000000, 6).alias(
                "bm25"
            ),
        )
    )


@register(
    "graph_degree_assortativity",
    """
    WITH edges AS (
        SELECT l_suppkey AS s, l_partkey AS p
        FROM lineitem GROUP BY 1, 2),
    ds AS (SELECT s, count(*) AS degs FROM edges GROUP BY s),
    dp AS (SELECT p, count(*) AS degp FROM edges GROUP BY p),
    j AS (
        SELECT degs, degp
        FROM edges JOIN ds USING (s) JOIN dp USING (p)),
    m AS (
        SELECT count(*) AS n,
               CAST(SUM(CAST(degs AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(degp AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(degs AS DECIMAL(38,0)) * degs) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(degp AS DECIMAL(38,0)) * degp) AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(degs AS DECIMAL(38,0)) * degp) AS DECIMAL(38,0)) AS sxy
        FROM j)
    SELECT CAST(n AS BIGINT) AS n_edges,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS assortativity
    FROM m
    """,
    doc="Degree assortativity of the supplier-part bipartite graph "
    "(distinct lineitem edges): Pearson correlation between the "
    "supplier's degree and the part's degree across edges — negative "
    "values mean high-degree suppliers attach to niche parts "
    "(disassortative), the standard structural mixing diagnostic. "
    "Degrees are exact integers; the five power sums accumulate in "
    "DECIMAL(38,0) (n_edges x deg^2 overflows BIGINT on warehouse-"
    "scale graphs) and convert to double only inside the one closed-"
    "form correlation expression. Scale: dedup shuffle on the edge "
    "key, two degree aggregates re-using the same keys, two equi-"
    "joins keyed s resp. p — no broadcast assumption on either side, "
    "so skewed hub degrees stay shuffle-local; readout is 1 row.",
)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).groupBy("s", "p").agg(F.lit(1).alias("_one")).drop("_one")
    ds = edges.groupBy("s").agg(F.count("*").alias("degs"))
    dp = edges.groupBy("p").agg(F.count("*").alias("degp"))
    j = edges.join(ds, "s").join(dp, "p").select("degs", "degp")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = j.agg(
        F.count("*").alias("n"),
        F.sum(dec("degs")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("degp")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("degs") * F.col("degs")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("degp") * F.col("degp")).cast("decimal(38,0)").alias("syy"),
        F.sum(dec("degs") * F.col("degp")).cast("decimal(38,0)").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        # try_divide: a 1-edge graph zeroes both variance terms (r10)
        F.round(
            F.try_divide(
                F.col("n") * d("sxy") - d("sx") * d("sy"),
                F.sqrt(
                    (F.col("n") * d("sxx") - d("sx") * d("sx"))
                    * (F.col("n") * d("syy") - d("sy") * d("sy"))
                ),
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "sim_ndcg_eval",
    f"""
    WITH p AS (SELECT [{_PLANES_SQL}]::DOUBLE[][] AS planes),
    c0 AS (SELECT DISTINCT vec_id, embedding::DOUBLE[] AS v, {_BUCKETS_SQL} AS buckets
           FROM embeddings, p WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    c AS (SELECT vec_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0)),
    q AS (SELECT vec_id AS query_id, u.tbl AS tbl, u.b AS bucket
          FROM (SELECT vec_id, unnest(buckets) AS u FROM c0 WHERE vec_id < 10)),
    cand AS (
        SELECT DISTINCT query_id, vec_id
        FROM c JOIN q USING (tbl, bucket) WHERE vec_id <> query_id
    ),
    lsims AS (
        SELECT cand.query_id, cand.vec_id,
               {_SQL_COSINE.format(a="cv.v", b="qv.v")} AS s
        FROM cand JOIN c0 cv ON cand.vec_id = cv.vec_id
                  JOIN c0 qv ON cand.query_id = qv.vec_id
    ),
    lsh AS (SELECT query_id, vec_id, rk AS pos FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY s DESC, vec_id) AS rk
                FROM lsims) WHERE rk <= 5),
    bsims AS (
        SELECT bq.query_id, bc.vec_id,
               {_SQL_COSINE.format(a="bc.v", b="bq.v")} AS s
        FROM c0 bc, (SELECT vec_id AS query_id, v FROM c0 WHERE vec_id < 10) bq
        WHERE bc.vec_id <> bq.query_id
    ),
    exact AS (SELECT query_id, vec_id, rk FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY s DESC, vec_id) AS rk
                  FROM bsims) WHERE rk <= 5),
    terms AS (
        SELECT l.query_id,
               CASE WHEN e.rk IS NULL THEN 0
                    ELSE CAST(floor((6 - e.rk) / ln(l.pos + 1) * 1000000
                                    + 0.5) AS BIGINT) END AS micro,
               CASE WHEN e.rk IS NULL THEN 0 ELSE 1 END AS hit
        FROM lsh l LEFT JOIN exact e
          ON l.query_id = e.query_id AND l.vec_id = e.vec_id),
    idcg AS (
        SELECT CAST(SUM(CAST(floor((6 - i) / ln(i + 1) * 1000000 + 0.5)
                             AS BIGINT)) AS BIGINT) AS idcg_micro
        FROM range(1, 6) t(i)),
    dcg AS (
        SELECT query_id,
               CAST(SUM(hit) AS BIGINT) AS n_matched,
               CAST(SUM(micro) AS BIGINT) AS dcg_micro
        FROM terms GROUP BY query_id)
    SELECT query_id, n_matched,
           round(CAST(dcg_micro AS DOUBLE) / 1000000, 6) AS dcg,
           round(CAST(dcg_micro AS DOUBLE) / idcg_micro, 6) AS ndcg_at_5
    FROM dcg CROSS JOIN idcg ORDER BY query_id
    """,
    doc="NDCG@5 of the LSH ANN ranking against the exact brute-force "
    "ranking — the ORDER-sensitive companion to sim_ann_recall_eval "
    "(recall says the right neighbors came back; NDCG says they came "
    "back in the right positions). Graded relevance of an LSH result "
    "= 6 - its exact rank (0 if outside the exact top-5); each "
    "position term rel/ln(pos+1) is micro-quantized so per-query DCG "
    "is an order-free integer sum, and the ideal DCG comes from the "
    "same floored expression over positions 1-5 — base-e logs "
    "throughout (NDCG is log-base invariant, and ln is the "
    "cross-engine-pinned primitive per the micro-nat convention). "
    "Scale: reuses the two production rankers end-to-end (bucketed "
    "candidate join resp. broadcast-fold brute pass over the 10-query "
    "panel); the eval join itself is |Q| x k rows.",
)
def q_sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs_nn_uniq(spark, sf_dir)
    # row-dedup is _embs_nn_uniq's contract (see sim_ann_recall_eval:
    # the post-cast .distinct() was a semantic no-op re-adding the
    # payload shuffle per consumer subtree — removed r14)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    qs = _queries_subset(corpus)
    exact = cosine_topk(corpus, qs, k=5).select(
        "query_id", "neighbor_id", F.col("rk").alias("erk")
    )
    approx = lsh_ann_topk(
        corpus, qs, k=5, n_tables=_N_TABLES, bits=_BITS, dim=_DIM
    ).select("query_id", "neighbor_id", F.col("rk").alias("pos"))
    j = approx.join(exact, ["query_id", "neighbor_id"], "left")
    terms = j.select(
        "query_id",
        F.when(F.col("erk").isNull(), F.lit(0))
        .otherwise(
            F.floor(
                (6 - F.col("erk"))
                / F.log(F.col("pos") + 1)
                * 1000000
                + F.lit(0.5)
            ).cast("bigint")
        )
        .alias("micro"),
        F.when(F.col("erk").isNull(), 0).otherwise(1).alias("hit"),
    )
    spark_ = corpus.sparkSession
    idcg = (
        spark_.range(1, 6)
        .select(
            F.floor(
                (6 - F.col("id")) / F.log(F.col("id") + 1) * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("t")
        )
        .agg(F.sum("t").cast("bigint").alias("idcg_micro"))
    )
    dcg = terms.groupBy("query_id").agg(
        F.sum("hit").cast("bigint").alias("n_matched"),
        F.sum("micro").cast("bigint").alias("dcg_micro"),
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            "query_id",
            "n_matched",
            F.round(F.col("dcg_micro").cast("double") / 1000000, 6).alias(
                "dcg"
            ),
            F.round(
                F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 6
            ).alias("ndcg_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "sim_label_centroid_matrix",
    """
    WITH comp AS (
        SELECT label, u.d AS d,
               CAST(floor(u.x * 1000000 + 0.5) AS BIGINT) AS xm
        FROM (SELECT label,
                     unnest(list_transform(embedding::DOUBLE[],
                                           (x, i) -> struct_pack(d := i, x := x)))
                         AS u
              FROM embeddings)),
    cent AS (
        SELECT label, d, CAST(SUM(xm) AS BIGINT) AS s, count(*) AS n
        FROM comp GROUP BY label, d),
    nrm AS (
        SELECT label,
               CAST(SUM(CAST(s AS DECIMAL(38,0)) * s) AS DECIMAL(38,0)) AS nn
        FROM cent GROUP BY label),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(SUM(CAST(a.s AS DECIMAL(38,0)) * b.s) AS DECIMAL(38,0))
                   AS dp
        FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
        GROUP BY 1, 2)
    SELECT label_a, label_b,
           round(CAST(dp AS DOUBLE)
                 / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)), 6)
               AS centroid_cosine
    FROM dots JOIN nrm na ON na.label = label_a
              JOIN nrm nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """,
    doc="Pairwise cosine similarity between per-label embedding "
    "centroids — the cluster-separation / class-confusability audit a "
    "training pipeline runs on labeled embedding sets (45 pairs over "
    "10 labels). Exactness: components quantize to integer micro-"
    "units BEFORE summation, so the per-(label,dim) centroid sums are "
    "order-free integers (cosine is scale-invariant, so the un-"
    "normalized sum IS the centroid direction — no mean division, no "
    "float drift); dot products of sums accumulate in DECIMAL(38,0) "
    "(micro^2 x dims x corpus overflows BIGINT at warehouse scale) "
    "and the one double expression is the final normalized ratio. "
    "Scale: the corpus-sized work is ONE explode+hash-agg to the "
    "labels x dims frame (bounded: |L| x 64 rows); the pair join "
    "runs on that tiny frame keyed by dimension — corpus size never "
    "enters the quadratic term.",
)
def q_sim_label_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs(spark, sf_dir)
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"),
    ).select(
        "label",
        "d",
        F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("bigint").alias("xm"),
    )
    cent = comp.groupBy("label", "d").agg(
        F.sum("xm").cast("bigint").alias("s")
    )
    nrm = cent.groupBy("label").agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s"))
        .cast("decimal(38,0)")
        .alias("nn")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "d", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("d").alias("db"),
        F.col("s").alias("sb"),
    )
    dots = (
        a.join(b, (F.col("d") == F.col("db")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("sa").cast("decimal(38,0)") * F.col("sb"))
            .cast("decimal(38,0)")
            .alias("dp")
        )
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("nn").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dp").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "sim_centroid_assignment_eval",
    """
    WITH comp AS (
        SELECT vec_id, label, u.d AS d,
               CAST(floor(u.x * 1000000 + 0.5) AS BIGINT) AS xm
        FROM (SELECT vec_id, label,
                     unnest(list_transform(embedding::DOUBLE[],
                                           (x, i) -> struct_pack(d := i, x := x)))
                         AS u
              FROM (SELECT DISTINCT vec_id, embedding, label
                    FROM embeddings
                    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
                      AND label IS NOT NULL) embeddings)),
    cent AS (
        SELECT label AS cl, d, CAST(SUM(xm) AS BIGINT) AS s
        FROM comp GROUP BY label, d),
    nrm AS (
        SELECT cl,
               CAST(SUM(CAST(s AS DECIMAL(38,0)) * s) AS DECIMAL(38,0)) AS nn
        FROM cent GROUP BY cl),
    dots AS (
        SELECT comp.vec_id, comp.label, cent.cl,
               CAST(SUM(CAST(comp.xm AS DECIMAL(38,0)) * cent.s)
                    AS DECIMAL(38,0)) AS dp
        FROM comp JOIN cent ON comp.d = cent.d
        GROUP BY 1, 2, 3),
    scored AS (
        SELECT vec_id, label, cl,
               CAST(dp AS DOUBLE) / sqrt(CAST(nn AS DOUBLE)) AS score
        FROM dots JOIN nrm USING (cl)),
    assigned AS (
        SELECT vec_id, label, cl AS assigned FROM (
            SELECT vec_id, label, cl,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cl) AS rk
            FROM scored) WHERE rk = 1),
    conf AS (
        SELECT label, assigned, count(*) AS c
        FROM assigned GROUP BY 1, 2),
    top_conf AS (
        SELECT label, assigned AS top_confused, c AS n_confused FROM (
            SELECT label, assigned, c,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY c DESC, assigned) AS rk
            FROM conf WHERE assigned <> label) WHERE rk = 1)
    SELECT label,
           CAST(SUM(c) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN assigned = label THEN c ELSE 0 END) AS BIGINT)
               AS n_correct,
           round(SUM(CASE WHEN assigned = label THEN c ELSE 0 END)
                 / CAST(SUM(c) AS DOUBLE), 6) AS accuracy,
           CAST(max(top_confused) AS INT) AS top_confused,
           CAST(COALESCE(max(n_confused), 0) AS BIGINT) AS n_confused
    FROM conf LEFT JOIN top_conf USING (label)
    GROUP BY label ORDER BY label
    """,
    doc="Nearest-centroid classification eval over the labeled "
    "embedding set: assign each vector to the closest label centroid "
    "(cosine; the vector's own norm cancels from the per-vector "
    "argmax, the same norm-cancellation as the IVF assigner) and "
    "report per-label accuracy plus the top confusion target — the "
    "label-quality / cluster-overlap audit for an embedding corpus. "
    "Exactness: micro-quantized components, integer centroid sums, "
    "DECIMAL(38,0) dots; the assignment score dp/sqrt(nn) uses only "
    "IEEE correctly-rounded ops (/, sqrt) on exact integers, so the "
    "argmax and its label-ascending tie-break are bit-stable across "
    "engines — no ln anywhere. Scale: corpus-sized work is the "
    "explode (N x dim) joined to the BROADCAST centroid frame "
    "(|L| x dim rows) — N x |L| partial dots with no shuffle on the "
    "pair axis; everything after the per-vector argmax is bounded "
    "by |L|^2.",
)
def q_sim_centroid_assignment_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # labeled membership intake (dupnullmix r12): DISTINCT
    # (vec_id, embedding, label); a NULL label is not a sample of a
    # LABELED eval (it would otherwise form a NULL-label centroid
    # whose tie-breaks fork between engines), and a NULL vec_id is not
    # a member either (nullkeys r13 — the per-vector assignment is
    # keyed by the id; Spark's distinct would additionally collapse
    # all (NULL, same-vector, same-label) rows into one)
    emb = (
        _embs(spark, sf_dir)
        .filter(F.col("vec_id").isNotNull()
                & F.col("embedding").isNotNull()
                & F.col("label").isNotNull())
        .select("vec_id", "embedding", "label")
        .distinct()
    )
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"),
    ).select(
        "vec_id",
        "label",
        "d",
        F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("bigint").alias("xm"),
    )
    cent = comp.groupBy(F.col("label").alias("cl"), F.col("d").alias("cd")).agg(
        F.sum("xm").cast("bigint").alias("s")
    )
    nrm = cent.groupBy("cl").agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s"))
        .cast("decimal(38,0)")
        .alias("nn")
    )
    dots = (
        comp.join(F.broadcast(cent), F.col("d") == F.col("cd"))
        .groupBy("vec_id", "label", "cl")
        .agg(
            F.sum(F.col("xm").cast("decimal(38,0)") * F.col("s"))
            .cast("decimal(38,0)")
            .alias("dp")
        )
    )
    scored = dots.join(F.broadcast(nrm), "cl").select(
        "vec_id",
        "label",
        "cl",
        (F.col("dp").cast("double") / F.sqrt(F.col("nn").cast("double"))).alias(
            "score"
        ),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("cl"))
    assigned = (
        scored.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("vec_id", "label", F.col("cl").alias("assigned"))
    )
    conf = assigned.groupBy("label", "assigned").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("label").orderBy(F.col("c").desc(), F.col("assigned"))
    top_conf = (
        conf.filter(F.col("assigned") != F.col("label"))
        .withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") == 1)
        .select(
            "label",
            F.col("assigned").alias("top_confused"),
            F.col("c").alias("n_confused"),
        )
    )
    return (
        conf.join(top_conf, "label", "left")
        .groupBy("label")
        .agg(
            F.sum("c").cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("assigned") == F.col("label"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("assigned") == F.col("label"), F.col("c")).otherwise(0)
                )
                / F.sum("c").cast("double"),
                6,
            ).alias("accuracy"),
            F.max("top_confused").cast("int").alias("top_confused"),
            F.coalesce(F.max("n_confused"), F.lit(0))
            .cast("bigint")
            .alias("n_confused"),
        )
        .orderBy("label")
    )


@register(
    "text_feature_hashing_audit",
    f"""
    WITH toks AS (
        SELECT unnest({SQL_TOKENS}) AS term FROM documents),
    tf AS (SELECT term, count(*) AS occ FROM toks WHERE term <> ''
           GROUP BY term),
    dims AS (SELECT unnest([256, 1024, 4096]) AS d),
    hashed AS (
        SELECT d, term, occ,
               {sql_md5_long("term", "fh")} % d AS bucket
        FROM tf CROSS JOIN dims),
    per_bucket AS (
        SELECT d, bucket, count(*) AS n_terms,
               CAST(SUM(occ) AS BIGINT) AS occ
        FROM hashed GROUP BY d, bucket)
    SELECT d AS n_features,
           CAST(SUM(n_terms) AS BIGINT) AS vocab_size,
           count(*) AS buckets_used,
           CAST(SUM(CASE WHEN n_terms > 1 THEN n_terms ELSE 0 END) AS BIGINT)
               AS colliding_terms,
           round(CAST(SUM(CASE WHEN n_terms > 1 THEN occ ELSE 0 END)
                      AS DOUBLE) / SUM(occ), 6)
               AS occurrence_collision_share,
           CAST(max(n_terms) AS BIGINT) AS worst_bucket_terms
    FROM per_bucket GROUP BY d ORDER BY d
    """,
    doc="Feature-hashing (hashing-trick) collision audit: hash every "
    "vocabulary term into D buckets for D in {{256, 1024, 4096}} and "
    "report how much of the vocabulary — and, weighted by token "
    "occurrences, how much of the corpus mass — lands in shared "
    "buckets, plus the hottest bucket. This is the dial a pipeline "
    "reads before replacing a vocab lookup with a hashed featurizer "
    "(collision share vs memory). Hashing is the deterministic md5 "
    "convention mod D, so bucket assignments (and therefore every "
    "count) hash-match the oracle. Scale: one tokenize+hash-agg to "
    "the vocabulary frame; the x3 dims expansion runs on the vocab, "
    "not the corpus; readout is 3 rows.",
)
def q_text_feature_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("term"))
    tf = (
        toks.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("occ"))
    )
    dims = d.sparkSession.range(0, 3).select(
        F.element_at(F.array(F.lit(256), F.lit(1024), F.lit(4096)), (F.col("id") + 1).cast("int")).alias("d")
    )
    hashed = tf.crossJoin(F.broadcast(dims)).select(
        "d",
        "occ",
        F.pmod(md5_long(F.col("term"), "fh"), F.col("d")).alias("bucket"),
    )
    per_bucket = hashed.groupBy("d", "bucket").agg(
        F.count("*").alias("n_terms"), F.sum("occ").cast("bigint").alias("occ")
    )
    return (
        per_bucket.groupBy(F.col("d").alias("n_features"))
        .agg(
            F.sum("n_terms").cast("bigint").alias("vocab_size"),
            F.count("*").alias("buckets_used"),
            F.sum(F.when(F.col("n_terms") > 1, F.col("n_terms")).otherwise(0))
            .cast("bigint")
            .alias("colliding_terms"),
            F.round(
                F.sum(
                    F.when(F.col("n_terms") > 1, F.col("occ")).otherwise(0)
                ).cast("double")
                / F.sum("occ"),
                6,
            ).alias("occurrence_collision_share"),
            F.max("n_terms").cast("bigint").alias("worst_bucket_terms"),
        )
        .orderBy("n_features")
    )


_JL_K = 16
_JL_PLANES = [hyperplane(_DIM, 200 + i) for i in range(_JL_K)]
_JL_PLANES_SQL = ", ".join(
    "[" + ", ".join(repr(c) for c in pl) + "]" for pl in _JL_PLANES
)


@register(
    "sim_jl_projection_eval",
    f"""
    WITH p AS (SELECT [{_JL_PLANES_SQL}]::DOUBLE[][] AS planes),
    base AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                    list_transform((SELECT planes FROM p),
                                   pl -> list_dot_product(embedding::DOUBLE[], pl))
                        AS y
             FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    q AS (SELECT vec_id AS qid, v AS qv, y AS qy FROM base WHERE vec_id < 10),
    c AS (SELECT vec_id, v, y FROM base WHERE vec_id % 37 = 0),
    pairs AS (
        SELECT qid, vec_id,
               CAST(floor((list_dot_product(qv, qv)
                           - 2 * list_dot_product(qv, v)
                           + list_dot_product(v, v)) * 1000000 + 0.5)
                    AS BIGINT) AS d2o,
               CAST(floor((list_dot_product(qy, qy)
                           - 2 * list_dot_product(qy, y)
                           + list_dot_product(y, y)) * 1000000 + 0.5)
                    AS BIGINT) AS d2p
        FROM q JOIN c ON qid <> vec_id),
    m AS (
        SELECT count(*) AS n,
               CAST(SUM(CAST(d2o AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(d2p AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(d2o AS DECIMAL(38,0)) * d2o) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(d2p AS DECIMAL(38,0)) * d2p) AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(d2o AS DECIMAL(38,0)) * d2p) AS DECIMAL(38,0)) AS sxy
        FROM pairs)
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS distance_corr,
           round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE), 6) AS mean_scale
    FROM m
    """,
    doc="Johnson-Lindenstrauss projection audit: project the 64-dim "
    "embeddings onto 16 deterministic pseudo-random hyperplanes (the "
    "LSH plane construction, fresh salt) and measure how well "
    "projected squared distances preserve original ones over a "
    "query-panel x strided-corpus-sample pair set — Pearson "
    "correlation (rank fidelity for ANN) plus the mean scale factor "
    "(the constant a calibrated JL pipeline divides out). Exactness: "
    "both squared distances expand as dot(a,a) - 2 dot(a,b) + "
    "dot(b,b) — three sequential folds combined in a FIXED order in "
    "both engines — then micro-quantize, so the correlation runs on "
    "exact integer power sums in DECIMAL(38,0). Scale: projections "
    "cost 16 folds per SAMPLED row (the pair panel is |Q| x |C|/37, "
    "never all-pairs); this is the measurement a pipeline reads "
    "BEFORE swapping 64-dim scans for 16-dim ones — and at k=16 it "
    "honestly answers 'not yet' (corr ~0.4 on this corpus: random "
    "projections need more target dims for rank fidelity; the dial "
    "is k, and the audit is the evidence).",
)
def q_sim_jl_projection_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs_nn(spark, sf_dir)
    base = emb.withColumn("v", F.col("embedding").cast("array<double>")).select(
        "vec_id",
        "v",
        F.array(
            *[
                dot("v", F.array(*[F.lit(c) for c in pl]))
                for pl in _JL_PLANES
            ]
        ).alias("y"),
    )
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("y").alias("qy"),
    )
    c = base.filter(F.col("vec_id") % 37 == 0)
    d2 = lambda a, b: (  # noqa: E731
        dot(a, a) - 2 * dot(a, b) + dot(b, b)
    )
    pairs = (
        c.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
        .select(
            F.floor(d2("qv", "v") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("d2o"),
            F.floor(d2("qy", "y") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("d2p"),
        )
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = pairs.agg(
        F.count("*").alias("n"),
        F.sum(dec("d2o")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("d2p")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("d2o") * F.col("d2o")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("d2p") * F.col("d2p")).cast("decimal(38,0)").alias("syy"),
        F.sum(dec("d2o") * F.col("d2p")).cast("decimal(38,0)").alias("sxy"),
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    return m.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(
            (F.col("n") * d("sxy") - d("sx") * d("sy"))
            / F.sqrt(
                (F.col("n") * d("sxx") - d("sx") * d("sx"))
                * (F.col("n") * d("syy") - d("sy") * d("sy"))
            ),
            6,
        ).alias("distance_corr"),
        F.round(d("sy") / d("sx"), 6).alias("mean_scale"),
    )


@register(
    "text_quality_auc",
    f"""
    WITH {_SQL_QUALITY_Q},
    lab AS (
        SELECT q.doc_id,
               CAST(floor(q.quality * 1000000 + 0.5) AS BIGINT) AS s,
               CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        FROM q JOIN documents d ON q.doc_id = d.doc_id),
    h AS (
        SELECT s,
               CAST(SUM(y) AS BIGINT) AS n1,
               CAST(SUM(1 - y) AS BIGINT) AS n0
        FROM lab GROUP BY s),
    cum AS (
        SELECT s, n1, n0,
               COALESCE(SUM(n0) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS c0
        FROM h),
    u AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS np,
               CAST(SUM(n0) AS BIGINT) AS nn,
               CAST(SUM(n1 * (2 * c0 + n0)) AS BIGINT) AS u2
        FROM cum)
    SELECT np AS n_pos, nn AS n_neg,
           round(CAST(u2 AS DOUBLE) / (2.0 * np * nn), 6) AS auc,
           round(CAST(u2 AS DOUBLE) / (np * nn) - 1, 6) AS gini
    FROM u
    """,
    doc="ROC-AUC of the heuristic quality score as an English-vs-other "
    "classifier — the eval that tells a curation pipeline whether its "
    "cheap quality gate is secretly a language filter (AUC >> 0.5 "
    "means the 'quality' threshold skews the language mix; ~0.5 "
    "means it is language-neutral). AUC is computed as the exact "
    "Mann-Whitney statistic ON THE SCORE HISTOGRAM with the standard "
    "tie correction: for each distinct quantized score, positives "
    "contribute 2*(negatives strictly below) + (tied negatives) in "
    "integer half-units, so U is an exact BIGINT and only the final "
    "normalization is a double. Scale: one scoring scan, hash-agg to "
    "the bounded score histogram, one cumsum over that histogram — "
    "the same two-pass shape as the KS/Mann-Whitney stats ops; no "
    "per-row ranking window.",
)
def q_text_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    qs = quality_score(d).select("doc_id", "quality")
    lab = qs.join(d.select("doc_id", "lang"), "doc_id").select(
        F.floor(F.col("quality") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    h = lab.groupBy("s").agg(
        F.sum("y").cast("bigint").alias("n1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n0"),
    )
    # the score histogram can approach corpus cardinality (quality has
    # continuous inputs), so the ECDF cumulation uses the two-pass
    # global cumsum, not an unpartitioned window (the KS/Mann-Whitney
    # convention); subtract n0 to make it exclusive (strictly below)
    from .ops.sorts import global_cumsum

    cum = global_cumsum(
        h, ["s"], "n0", alias="c0i", persist_key="auc_cum"
    ).select("s", "n1", "n0", (F.col("c0i") - F.col("n0")).alias("c0"))
    u = cum.agg(
        F.sum("n1").cast("bigint").alias("np"),
        F.sum("n0").cast("bigint").alias("nn"),
        F.sum(F.col("n1") * (2 * F.col("c0") + F.col("n0")))
        .cast("bigint")
        .alias("u2"),
    )
    return u.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        # try_divide: a single-class corpus makes np*nn = 0 (r10 sweep)
        F.round(
            F.try_divide(
                F.col("u2").cast("double"), 2.0 * F.col("np") * F.col("nn")
            ),
            6,
        ).alias("auc"),
        F.round(
            F.try_divide(F.col("u2").cast("double"), F.col("np") * F.col("nn"))
            - 1,
            6,
        ).alias("gini"),
    )


@register(
    "sample_kfold_stratified",
    f"""
    WITH h AS (
        SELECT doc_id, lang,
               {sql_md5_long("doc_id::VARCHAR", "kfold")} AS hv
        FROM documents),
    rn AS (
        SELECT lang,
               row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)
                   AS r
        FROM h),
    fold AS (
        SELECT lang, CAST((r - 1) % 5 AS INT) AS fold FROM rn),
    counts AS (
        SELECT lang, fold, count(*) AS n_docs
        FROM fold GROUP BY lang, fold)
    SELECT lang, fold, n_docs,
           CAST(max(n_docs) OVER (PARTITION BY lang)
                - min(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS stratum_imbalance
    FROM counts ORDER BY lang, fold
    """,
    doc="Stratified 5-fold cross-validation assignment: docs are "
    "ranked within each language stratum by a deterministic md5 hash "
    "(shuffle-free pseudo-randomization, the sampling-family "
    "convention) and folds are assigned round-robin on that rank — "
    "EXACT per-stratum balance (imbalance <= 1 by construction, "
    "emitted as a checkable column) where a plain hash-mod fold only "
    "balances in expectation. Scale: the within-stratum rank is the "
    "global_row_number two-pass composed per stratum — order by "
    "(lang, hash) makes each stratum a contiguous global range, so "
    "rank-within-stratum = global rank minus the stratum's broadcast "
    "minimum; no per-stratum single-task window (6 language "
    "partitions at 100 TB would be 6 tasks). The registered oracle "
    "uses the equivalent per-stratum row_number.",
)
def q_sample_kfold_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.sorts import global_row_number

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        md5_long(F.col("doc_id").cast("string"), "kfold").alias("hv"),
    )
    rn = global_row_number(
        d, ["lang", "hv", "doc_id"], alias="grn", persist_key="kfold_rn"
    )
    # eqNullSafe, not an equi-join on lang: groupBy keeps a NULL
    # stratum but a plain join would silently drop it — NULL-keyed
    # strata are data (the unknown-language bucket), not absent rows
    base = rn.groupBy("lang").agg(F.min("grn").alias("g0")).withColumnRenamed(
        "lang", "_lang"
    )
    fold = rn.join(
        F.broadcast(base), F.col("lang").eqNullSafe(F.col("_lang"))
    ).select(
        "lang",
        ((F.col("grn") - F.col("g0")) % 5).cast("int").alias("fold"),
    )
    counts = fold.groupBy("lang", "fold").agg(F.count("*").alias("n_docs"))
    wl = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "fold",
        "n_docs",
        (F.max("n_docs").over(wl) - F.min("n_docs").over(wl))
        .cast("bigint")
        .alias("stratum_imbalance"),
    ).orderBy("lang", "fold")


@register(
    "text_quantile_normalize_deciles",
    """
    WITH v AS (SELECT source, n_chars FROM documents
               WHERE n_chars IS NOT NULL),
    hs AS (SELECT source, n_chars, count(*) AS c FROM v GROUP BY 1, 2),
    ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hs GROUP BY 1),
    cums AS (SELECT hs.source, hs.n_chars, ts.n,
                    SUM(hs.c) OVER (PARTITION BY hs.source
                                    ORDER BY hs.n_chars) AS cm
             FROM hs JOIN ts ON hs.source = ts.source),
    hp AS (SELECT n_chars, count(*) AS c FROM v GROUP BY 1),
    tp AS (SELECT CAST(SUM(c) AS BIGINT) AS np FROM hp),
    cump AS (SELECT hp.n_chars, tp.np,
                    SUM(hp.c) OVER (ORDER BY hp.n_chars) AS cmp
             FROM hp CROSS JOIN tp),
    d AS (SELECT i AS decile FROM range(1, 10) t(i)),
    raw AS (
        SELECT cums.source, d.decile,
               min(CASE WHEN cm * 10 >= decile * n THEN n_chars END)
                   AS raw_value
        FROM cums CROSS JOIN d GROUP BY 1, 2),
    pooled AS (
        SELECT d.decile,
               min(CASE WHEN cmp * 10 >= decile * np THEN n_chars END)
                   AS mapped_value
        FROM cump CROSS JOIN d GROUP BY 1)
    SELECT source, raw.decile,
           CAST(raw_value AS BIGINT) AS raw_value,
           CAST(mapped_value AS BIGINT) AS mapped_value,
           CAST(mapped_value - raw_value AS BIGINT) AS shift
    FROM raw JOIN pooled ON raw.decile = pooled.decile
    ORDER BY source, raw.decile
    """,
    doc="Quantile-normalization mapping table: for every source, its "
    "doc-length deciles next to the POOLED deciles at the same "
    "quantile — exactly the lookup a normalizer applies to remove "
    "per-source length skew before mixing corpora (the bioinformatics "
    "quantile-normalization recipe, reported at decile resolution "
    "instead of per-row so the mapping is a bounded, inspectable "
    "artifact). Every pick is the histogram-rank convention: smallest "
    "value whose cumulative count reaches ceil(q*n), exact integer "
    "arithmetic throughout (cm*10 >= d*n avoids any division). "
    "Scale: two histogram aggregates (per-source and pooled) over "
    "the same scan, cumsums on the bounded value histograms, and a "
    "9-row decile expansion — no per-row ranking, no interval join.",
)
def q_text_quantile_normalize_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL lengths are not samples — they must not occupy decile ranks
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("n_chars").isNotNull())
        .select("source", "n_chars")
    )
    hs = docs.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
    ts = hs.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    ws = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = hs.join(F.broadcast(ts), "source").select(
        "source", "n_chars", "n", F.sum("c").over(ws).alias("cm")
    )
    hp = docs.groupBy("n_chars").agg(F.count("*").alias("c"))
    tp = hp.agg(F.sum("c").cast("bigint").alias("np"))
    wp = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cump = hp.crossJoin(F.broadcast(tp)).select(
        "n_chars", "np", F.sum("c").over(wp).alias("cmp")
    )
    d = docs.sparkSession.range(1, 10).select(F.col("id").alias("decile"))
    raw = (
        cums.crossJoin(F.broadcast(d))
        .groupBy("source", "decile")
        .agg(
            F.min(
                F.when(
                    F.col("cm") * 10 >= F.col("decile") * F.col("n"),
                    F.col("n_chars"),
                )
            ).alias("raw_value")
        )
    )
    pooled = (
        cump.crossJoin(F.broadcast(d))
        .groupBy("decile")
        .agg(
            F.min(
                F.when(
                    F.col("cmp") * 10 >= F.col("decile") * F.col("np"),
                    F.col("n_chars"),
                )
            ).alias("mapped_value")
        )
    )
    return (
        raw.join(F.broadcast(pooled), "decile")
        .select(
            "source",
            "decile",
            F.col("raw_value").cast("bigint").alias("raw_value"),
            F.col("mapped_value").cast("bigint").alias("mapped_value"),
            (F.col("mapped_value") - F.col("raw_value"))
            .cast("bigint")
            .alias("shift"),
        )
        .orderBy("source", "decile")
    )


@register(
    "dedup_keeper_by_quality",
    f"""
    WITH RECURSIVE {_sql_shingles(3)},
    {_sql_components(0.6)},
    comp AS (
        SELECT id AS doc_id, min(lbl) AS cluster_id
        FROM reach GROUP BY id),
    {_SQL_QUALITY_Q},
    multi AS (
        SELECT cluster_id FROM comp GROUP BY cluster_id HAVING count(*) >= 2),
    scored AS (
        SELECT comp.cluster_id, comp.doc_id,
               CAST(floor(q.quality * 1000000 + 0.5) AS BIGINT) AS qm
        FROM comp JOIN q ON comp.doc_id = q.doc_id
        JOIN multi ON comp.cluster_id = multi.cluster_id),
    pick AS (
        SELECT cluster_id, doc_id AS keeper_doc_id, qm FROM (
            SELECT cluster_id, doc_id, qm,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY qm DESC, doc_id) AS rk
            FROM scored) WHERE rk = 1)
    SELECT s.cluster_id,
           count(*) AS n_docs,
           CAST(max(p.keeper_doc_id) AS BIGINT) AS keeper_doc_id,
           round(CAST(max(p.qm) AS DOUBLE) / 1000000, 6) AS keeper_quality,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM scored s JOIN pick p ON s.cluster_id = p.cluster_id
    GROUP BY s.cluster_id ORDER BY s.cluster_id
    """,
    doc="Survivorship policy for near-dup clusters: instead of the "
    "min-doc_id canonical keeper (dedup_cluster_components), keep the "
    "HIGHEST-QUALITY document per cluster (quality-score argmax, "
    "doc_id tie-break) — the policy real curation pipelines want, "
    "since the first-crawled copy is often the worst one. Reuses the "
    "shared shingle/Jaccard/min-label CTE chain verbatim and the "
    "quality score construction, so the whole compose (pairs -> "
    "components -> score -> argmax) is value-checked end-to-end; "
    "only multi-doc clusters are reported (singletons keep "
    "themselves by definition). Quality is micro-quantized before "
    "the argmax so the winner is integer-determined. Scale: adds one "
    "broadcast-size join (quality per doc) and a per-cluster argmax "
    "on the bounded cluster frame on top of the components cost.",
)
def q_dedup_keeper_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.dedup import connected_components, ngram_jaccard_pairs as _njp

    d = _docs(spark, sf_dir)
    pairs = _njp(d, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    qm = quality_score(d).select(
        "doc_id",
        F.floor(F.col("quality") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("qm"),
    )
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("n_docs"))
    scored = (
        cc.join(F.broadcast(sizes.filter(F.col("n_docs") >= 2)), "cluster_id")
        .join(qm, "doc_id")
    )
    wk = Window.partitionBy("cluster_id").orderBy(
        F.col("qm").desc(), F.col("doc_id")
    )
    pick = (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("qm").alias("keeper_qm"),
        )
    )
    return (
        scored.join(pick, "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("keeper_doc_id").cast("bigint").alias("keeper_doc_id"),
            F.round(F.max("keeper_qm").cast("double") / 1000000, 6).alias(
                "keeper_quality"
            ),
            (F.count("*") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


@register(
    "embedding_dim_stats",
    """
    WITH comp AS (
        SELECT u.d AS d,
               CAST(floor(u.x * 1000000 + 0.5) AS BIGINT) AS xm
        FROM (SELECT unnest(list_transform(embedding::DOUBLE[],
                                           (x, i) -> struct_pack(d := i - 1, x := x)))
                  AS u
              FROM embeddings))
    SELECT d AS dim,
           count(*) AS n,
           round(CAST(SUM(xm) AS DOUBLE) / count(*) / 1000000, 6) AS mean,
           round((CAST(SUM(CAST(xm AS DECIMAL(38,0)) * xm) AS DOUBLE)
                  - CAST(SUM(xm) AS DOUBLE) * SUM(xm) / count(*))
                 / (count(*) - 1) / 1000000000000.0, 6) AS variance,
           round(CAST(min(xm) AS DOUBLE) / 1000000, 6) AS min_val,
           round(CAST(max(xm) AS DOUBLE) / 1000000, 6) AS max_val
    FROM comp GROUP BY d ORDER BY d
    """,
    doc="Per-dimension embedding health audit: mean, variance, min, "
    "max for each of the 64 dimensions — the screen that catches "
    "dead dimensions (variance ~0), un-centered features (|mean| "
    "large), and scale drift between embedding versions before they "
    "poison cosine rankings. Components micro-quantize first, so "
    "mean and variance come from exact integer power sums "
    "(DECIMAL(38,0) squares) — order-free — with doubles only in "
    "the final scaling. Scale: one explode + hash-agg keyed by "
    "dimension; output is always exactly dim rows.",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs(spark, sf_dir)
    comp = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    ).select(
        "d",
        F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("bigint").alias("xm"),
    )
    return (
        comp.groupBy(F.col("d").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum("xm").cast("double") / F.count("*") / 1000000, 6
            ).alias("mean"),
            # try_divide: a 1-vector corpus gives per-dim n = 1 (r10)
            F.round(
                F.try_divide(
                    F.sum(F.col("xm").cast("decimal(38,0)") * F.col("xm")).cast(
                        "double"
                    )
                    - F.sum("xm").cast("double") * F.sum("xm") / F.count("*"),
                    F.count("*") - 1,
                )
                / 1000000000000.0,
                6,
            ).alias("variance"),
            F.round(F.min("xm").cast("double") / 1000000, 6).alias("min_val"),
            F.round(F.max("xm").cast("double") / 1000000, 6).alias("max_val"),
        )
        .orderBy("dim")
    )


@register(
    "sim_rrf_fusion_eval",
    f"""
    WITH p AS (SELECT [{_PLANES_SQL}]::DOUBLE[][] AS planes),
    c0 AS (SELECT DISTINCT vec_id, embedding::DOUBLE[] AS v, {_BUCKETS_SQL} AS buckets
           FROM embeddings, p WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    cb AS (SELECT vec_id, u.tbl AS tbl, u.b AS bucket
           FROM (SELECT vec_id, unnest(buckets) AS u FROM c0)),
    qb AS (SELECT vec_id AS query_id, u.tbl AS tbl, u.b AS bucket
           FROM (SELECT vec_id, unnest(buckets) AS u FROM c0 WHERE vec_id < 10)),
    lcand AS (
        SELECT DISTINCT query_id, vec_id
        FROM cb JOIN qb USING (tbl, bucket) WHERE vec_id <> query_id),
    lsims AS (
        SELECT lcand.query_id, lcand.vec_id,
               {_SQL_COSINE.format(a="cv.v", b="qv.v")} AS s
        FROM lcand JOIN c0 cv ON lcand.vec_id = cv.vec_id
                   JOIN c0 qv ON lcand.query_id = qv.vec_id),
    lsh AS (SELECT query_id, vec_id, rk FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY s DESC, vec_id) AS rk
                FROM lsims) WHERE rk <= 5),
    qz AS (SELECT vec_id, v, {_SQL_QUANT.format(v="v")} AS qv FROM c0),
    qn AS (SELECT vec_id, v, qv, sqrt(list_dot_product(qv, qv)) AS qnorm
           FROM qz),
    qq AS (SELECT vec_id AS query_id, v AS qv_full, qv AS qqv, qnorm AS qqn
           FROM qn WHERE vec_id < 10),
    qscored AS (
        SELECT query_id, c.vec_id,
               list_dot_product(c.qv, qq.qqv) / (c.qnorm * qq.qqn) AS qcos
        FROM qn c, qq WHERE c.vec_id <> qq.query_id),
    qcand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, vec_id) AS qrk
            FROM qscored) WHERE qrk <= 20),
    qrr AS (
        SELECT qcand.query_id, qcand.vec_id,
               {_SQL_COSINE.format(a="c.v", b="qq.qv_full")} AS s
        FROM qcand JOIN c0 c ON qcand.vec_id = c.vec_id
                   JOIN qq ON qcand.query_id = qq.query_id),
    quant AS (SELECT query_id, vec_id, rk FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY s DESC, vec_id) AS rk
                  FROM qrr) WHERE rk <= 5),
    rrf AS (
        SELECT query_id, vec_id,
               CAST(SUM(1000000 // (60 + rk)) AS BIGINT) AS rrf_micro
        FROM (SELECT * FROM lsh UNION ALL SELECT * FROM quant)
        GROUP BY 1, 2),
    fused AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY rrf_micro DESC, vec_id)
                             AS rk
                  FROM rrf) WHERE rk <= 5),
    bsims AS (
        SELECT bq.query_id, bc.vec_id,
               {_SQL_COSINE.format(a="bc.v", b="bq.v")} AS s
        FROM c0 bc, (SELECT vec_id AS query_id, v FROM c0 WHERE vec_id < 10) bq
        WHERE bc.vec_id <> bq.query_id),
    exact AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY s DESC, vec_id) AS rk
                  FROM bsims) WHERE rk <= 5)
    SELECT e.query_id,
           round(count(l.vec_id) / 5.0, 6) AS recall_lsh,
           round(count(qt.vec_id) / 5.0, 6) AS recall_quant,
           round(count(f.vec_id) / 5.0, 6) AS recall_rrf
    FROM exact e
    LEFT JOIN lsh l ON e.query_id = l.query_id AND e.vec_id = l.vec_id
    LEFT JOIN quant qt ON e.query_id = qt.query_id AND e.vec_id = qt.vec_id
    LEFT JOIN fused f ON e.query_id = f.query_id AND e.vec_id = f.vec_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
    doc="Reciprocal-rank-fusion (RRF, k=60) of the two approximate "
    "rankers — LSH buckets and int8-quantized two-stage — evaluated "
    "side by side against the exact brute-force top-5: the hybrid-"
    "search pattern (fuse heterogeneous rankers by 1/(60+rank), no "
    "score calibration needed) measured the only way that matters, "
    "recall per query for each system and for the fusion. RRF terms "
    "are exact integer divisions (1000000 // (60+rank)), so fused "
    "ranking and every recall are integer-determined. Scale: reuses "
    "the two production rankers end-to-end (bucketed candidate join "
    "resp. quantized scan + exact re-rank); fusion and eval run on "
    "|Q| x k rows.",
)
def q_sim_rrf_fusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ext.caching import swap_persist

    emb = _embs_nn_uniq(spark, sf_dir)
    # row-dedup is _embs_nn_uniq's contract (see sim_ann_recall_eval:
    # the post-cast .distinct() was a semantic no-op re-adding the
    # payload shuffle in EVERY one of this query's ~8 corpus subtrees —
    # removed r14)
    corpus = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    qs = _queries_subset(corpus)
    # r14: each ranker's |Q|·k output (50 rows) feeds TWO consumers —
    # the rrf union AND its recall join — differently-shaped subtrees
    # Catalyst cannot share, so without a persist the whole ranker
    # pipeline (LSH bucket join resp. quantized scan + re-rank over the
    # corpus) executed TWICE (guide §5: reuse beats recompute when the
    # recompute is a corpus-sized pass and the cached frame is 50 rows)
    lsh = swap_persist(
        "rrf_lsh_topk",
        lsh_ann_topk(
            corpus, qs, k=5, n_tables=_N_TABLES, bits=_BITS, dim=_DIM
        ).select("query_id", F.col("neighbor_id").alias("vec_id"), "rk"),
    )
    quant = swap_persist(
        "rrf_quant_topk",
        quantized_topk(corpus, qs, k=5, m=20, dim=_DIM).select(
            "query_id", F.col("neighbor_id").alias("vec_id"), "rk"
        ),
    )
    both = lsh.unionByName(quant)
    rrf = both.groupBy("query_id", "vec_id").agg(
        F.sum(F.floor(F.lit(1000000) / (60 + F.col("rk"))))
        .cast("bigint")
        .alias("rrf_micro")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("vec_id")
    )
    fused = (
        rrf.withColumn("frk", F.row_number().over(wf))
        .filter(F.col("frk") <= 5)
        .select("query_id", "vec_id")
    )
    exact = cosine_topk(corpus, qs, k=5).select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    l1 = lsh.select("query_id", "vec_id", F.lit(1).alias("_l"))
    q1 = quant.select("query_id", "vec_id", F.lit(1).alias("_q"))
    f1 = fused.select("query_id", "vec_id", F.lit(1).alias("_f"))
    j = (
        exact.join(l1, ["query_id", "vec_id"], "left")
        .join(q1, ["query_id", "vec_id"], "left")
        .join(f1, ["query_id", "vec_id"], "left")
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.round(F.count("_l") / 5.0, 6).alias("recall_lsh"),
            F.round(F.count("_q") / 5.0, 6).alias("recall_quant"),
            F.round(F.count("_f") / 5.0, 6).alias("recall_rrf"),
        )
        .orderBy("query_id")
    )


@register(
    "privacy_k_anonymity_audit",
    """
    WITH qid AS (
        SELECT lang, source,
               CAST(floor(n_chars / 100) AS BIGINT) AS len_band
        FROM documents),
    g AS (
        SELECT lang, source, len_band, count(*) AS k
        FROM qid GROUP BY 1, 2, 3),
    banded AS (
        SELECT CASE WHEN k = 1 THEN '1 (unique)'
                    WHEN k < 5 THEN '2-4'
                    WHEN k < 20 THEN '5-19'
                    ELSE '20+' END AS k_band,
               k
        FROM g)
    SELECT k_band,
           count(*) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           round(CAST(SUM(k) AS DOUBLE)
                 / (SELECT count(*) FROM documents), 6) AS doc_share
    FROM banded GROUP BY k_band ORDER BY k_band
    """,
    doc="k-anonymity audit over the quasi-identifier tuple (lang, "
    "source, 100-char length band): how many documents sit in "
    "equivalence classes of size 1 (uniquely re-identifiable by "
    "metadata alone), 2-4 (below the usual k=5 release bar), and "
    "above — the governance readout a training-data pipeline "
    "attaches to a release manifest next to the PII scrub/detect "
    "reports. Counts are exact; the only double is the share. "
    "Scale: one hash-agg on the quasi-identifier key, then a "
    "4-row banding — group-size skew lands in the agg's partial "
    "combine, never on a single task.",
)
def q_privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    g = (
        d.select(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).cast("bigint").alias("len_band"),
        )
        .groupBy("lang", "source", "len_band")
        .agg(F.count("*").alias("k"))
    )
    banded = g.select(
        F.when(F.col("k") == 1, "1 (unique)")
        .when(F.col("k") < 5, "2-4")
        .when(F.col("k") < 20, "5-19")
        .otherwise("20+")
        .alias("k_band"),
        "k",
    )
    total = d.agg(F.count("*").alias("_total"))
    return (
        banded.groupBy("k_band")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_docs"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "k_band",
            "n_groups",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("_total"), 6).alias(
                "doc_share"
            ),
        )
        .orderBy("k_band")
    )


@register(
    "text_heaps_law_fit",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS term
        FROM (SELECT DISTINCT doc_id, text FROM documents
                WHERE doc_id IS NOT NULL AND text IS NOT NULL) documents),
    firsts AS (
        SELECT term, min(doc_id) AS fd FROM toks WHERE term <> ''
        GROUP BY term),
    newterms AS (
        SELECT fd AS doc_id, count(*) AS nv FROM firsts GROUP BY fd),
    dt AS (
        SELECT doc_id, COALESCE(nt, 0) AS nt, COALESCE(nv, 0) AS nv
        FROM (SELECT DISTINCT doc_id,
                     len(list_filter({SQL_TOKENS}, x -> x <> '')) AS nt
              FROM (SELECT DISTINCT doc_id, text FROM documents
                WHERE doc_id IS NOT NULL AND text IS NOT NULL) documents) d LEFT JOIN newterms USING (doc_id)),
    cum AS (
        SELECT doc_id,
               SUM(nt) OVER (ORDER BY doc_id) AS cumtok,
               SUM(nv) OVER (ORDER BY doc_id) AS cumvocab
        FROM dt),
    lg AS (
        SELECT CAST(floor(ln(CAST(cumtok AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS lx,
               CAST(floor(ln(CAST(cumvocab AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS ly
        FROM cum WHERE cumtok > 0 AND cumvocab > 0),
    m AS (
        SELECT count(*) AS n,
               CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
               CAST(SUM(CAST(lx AS DECIMAL(38,0)) * lx) AS DECIMAL(38,0))
                   AS sxx,
               CAST(SUM(CAST(lx AS DECIMAL(38,0)) * ly) AS DECIMAL(38,0))
                   AS sxy
        FROM lg)
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6)
               AS heaps_beta,
           round((CAST(sy AS DOUBLE)
                  - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
                    * sx) / n / 1000000, 6) AS ln_k
    FROM m
    """,
    doc="Heaps'-law fit: vocabulary growth V(n) ~ k * n^beta over the "
    "corpus read in doc_id order — beta estimated as the OLS slope "
    "of ln(cumulative vocabulary) on ln(cumulative tokens), the "
    "corpus-linguistics twin of text_zipf_fit (natural text sits "
    "near beta ~0.5; beta near 1 means the vocabulary never "
    "saturates — a tokenizer-budget red flag). Each term's "
    "first-occurrence doc makes vocabulary growth a per-doc "
    "new-term count, so BOTH running series (tokens, vocabulary) "
    "come from one shared cumulation over the doc axis — in Spark "
    "the two-pass global_cumsum_multi, never an unpartitioned "
    "window over the corpus; logs micro-nat-quantize per point and "
    "the fit is closed-form on DECIMAL(38,0) power sums. Scale: one "
    "tokenize pass for first-occurrences (hash-agg on term), one "
    "for per-doc counts, one shared range-partitioned cumsum.",
)
def q_text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.sorts import global_cumsum_multi

    d = _docs_nn_uniq(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    firsts = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    newterms = firsts.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count("*").alias("nv")
    )
    nt = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    )
    # per-doc points are keyed by doc_id: distinct on the narrow
    # (doc_id, nt) projection so a duplicated doc row contributes one
    # curve point, not two (bug class 9); first-occurrence counts are
    # min/count aggregates and dup-insensitive already
    # a NULL-text doc contributes 0 tokens to the curve (coalesced on
    # both sides), keeping every doc a point on the shared doc axis
    dt = (
        d.select("doc_id", nt.alias("nt"))
        .distinct()
        .join(newterms, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nt"), F.lit(0)).alias("nt"),
            F.coalesce(F.col("nv"), F.lit(0)).alias("nv"),
        )
    )
    cum = global_cumsum_multi(
        dt,
        ["doc_id"],
        {"cumtok": "nt", "cumvocab": "nv"},
        persist_key="heaps_cum",
    )
    lg = cum.filter((F.col("cumtok") > 0) & (F.col("cumvocab") > 0)).select(
        F.floor(F.log(F.col("cumtok").cast("double")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("lx"),
        F.floor(F.log(F.col("cumvocab").cast("double")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("ly"),
    )
    m = lg.agg(
        F.count("*").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("lx"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("ly"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    # try_divide: one fit point zeroes the regression denominator (r10)
    slope = F.try_divide(
        F.col("n") * dd("sxy") - dd("sx") * F.col("sy"),
        F.col("n") * dd("sxx") - dd("sx") * F.col("sx"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round((dd("sy") - slope * F.col("sx")) / F.col("n") / 1000000, 6).alias(
            "ln_k"
        ),
    )


@register(
    "text_blocklist_screen",
    f"""
    WITH hits AS (
        SELECT doc_id, lang,
               len(list_intersect({SQL_TOKENS},
                                  ['dup', 'slow', 'error'])) AS n_terms_hit
        FROM documents),
    flagged AS (SELECT * FROM hits WHERE n_terms_hit > 0)
    SELECT lang,
           count(*) AS n_flagged,
           CAST(SUM(n_terms_hit) AS BIGINT) AS total_term_hits,
           CAST(min(doc_id) AS BIGINT) AS first_flagged_doc,
           round(count(*) / CAST((SELECT count(*) FROM documents WHERE
                                  documents.lang IS NOT DISTINCT FROM
                                  flagged.lang) AS DOUBLE), 6)
               AS flag_rate
    FROM flagged GROUP BY lang ORDER BY lang
    """,
    doc="Blocklist content screen: per language, documents containing "
    "any blocklisted DISTINCT token ({{dup, slow, error}} standing in "
    "for a real deny-list), with hit counts and the per-language "
    "flag rate — the content-filter gate that sits next to the PII "
    "scrub in a curation pipeline (token-level set intersection, "
    "not substring matching, so 'error' does not flag 'terror'). "
    "Counts exact; the rate divides by a per-language total. Scale: "
    "one scan, per-row array intersection against a broadcast-"
    "literal list (JVM expression, no UDF, no join), then a "
    "language-keyed aggregate.",
)
def q_text_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), r"\s+")
    hit = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(F.lit("dup"), F.lit("slow"), F.lit("error")),
        )
    )
    hits = d.select("doc_id", "lang", hit.alias("n_terms_hit"))
    totals = d.groupBy("lang").agg(F.count("*").alias("_lang_total"))
    flagged = hits.filter(F.col("n_terms_hit") > 0)
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_flagged"),
            F.sum("n_terms_hit").cast("bigint").alias("total_term_hits"),
            F.min("doc_id").cast("bigint").alias("first_flagged_doc"),
        )
        .join(
            # eqNullSafe: the NULL-lang (unknown-language) stratum is a
            # group in the flagged aggregate and must find its total
            F.broadcast(totals.withColumnRenamed("lang", "_lang")),
            F.col("lang").eqNullSafe(F.col("_lang")),
        )
        .select(
            "lang",
            "n_flagged",
            "total_term_hits",
            "first_flagged_doc",
            F.round(
                F.col("n_flagged") / F.col("_lang_total").cast("double"), 6
            ).alias("flag_rate"),
        )
        .orderBy("lang")
    )


@register(
    "graph_edge_churn_monthly",
    """
    WITH e AS (
        SELECT DISTINCT substring(CAST(l_shipdate AS VARCHAR), 1, 7) AS m,
               l_suppkey AS s, l_partkey AS p
        FROM lineitem WHERE l_shipdate IS NOT NULL),
    sz AS (SELECT m, count(*) AS n_edges FROM e GROUP BY m),
    months AS (
        SELECT m, row_number() OVER (ORDER BY m) AS mi FROM sz),
    inter AS (
        SELECT b.m AS m, count(*) AS n_common
        FROM e a
        JOIN months ma ON a.m = ma.m
        JOIN months mb ON mb.mi = ma.mi + 1
        JOIN e b ON b.m = mb.m AND a.s = b.s AND a.p = b.p
        GROUP BY b.m),
    prev AS (
        SELECT mb.m AS m, sa.n_edges AS n_prev
        FROM months ma JOIN months mb ON mb.mi = ma.mi + 1
        JOIN sz sa ON sa.m = ma.m)
    SELECT sz.m AS month,
           sz.n_edges,
           CAST(COALESCE(n_common, 0) AS BIGINT) AS edges_retained,
           CAST(sz.n_edges - COALESCE(n_common, 0) AS BIGINT) AS edges_new,
           CAST(n_prev - COALESCE(n_common, 0) AS BIGINT) AS edges_dropped,
           round(COALESCE(n_common, 0)
                 / CAST(sz.n_edges + n_prev - COALESCE(n_common, 0)
                        AS DOUBLE), 6) AS jaccard_vs_prev
    FROM sz JOIN prev ON sz.m = prev.m
    LEFT JOIN inter ON sz.m = inter.m
    ORDER BY month
    """,
    doc="Temporal graph churn: month-over-month stability of the "
    "supplier-part edge set — retained/new/dropped edges and the "
    "Jaccard overlap with the previous month — the supply-graph "
    "drift monitor (a collapsing Jaccard means the sourcing "
    "network is being rewired). Consecutive months pair via a "
    "row_number spine over the bounded month list, so calendar gaps "
    "pair adjacent ACTIVE months explicitly rather than silently "
    "comparing across holes. Scale: the only fact-sized work is the "
    "distinct-edge aggregate; the intersection join is keyed "
    "(edge, month) and every spine/size frame is months-sized.",
)
def q_graph_edge_churn_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # an undated line has no month snapshot (nullmix probe axis)
    li = load_tables(spark, sf_dir)["lineitem"].filter(
        F.col("l_shipdate").isNotNull()
    )
    e = (
        li.select(
            F.substring(F.col("l_shipdate").cast("string"), 1, 7).alias("m"),
            F.col("l_suppkey").alias("s"),
            F.col("l_partkey").alias("p"),
        )
        .groupBy("m", "s", "p")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    from .ext.caching import swap_persist

    e = swap_persist("edge_churn_e", e)
    sz = e.groupBy("m").agg(F.count("*").alias("n_edges"))
    months = sz.select(
        "m", "n_edges", F.row_number().over(Window.orderBy("m")).alias("mi")
    )
    ma = months.select(
        F.col("m").alias("m_prev"),
        F.col("n_edges").alias("n_prev"),
        F.col("mi").alias("mi_prev"),
    )
    mb = months.select("m", "n_edges", F.col("mi").alias("mi_cur"))
    pairs = ma.join(F.broadcast(mb), F.col("mi_cur") == F.col("mi_prev") + 1)
    ea = e.select(F.col("m").alias("m_prev"), "s", "p")
    eb = e.select(F.col("m").alias("m"), "s", "p")
    inter = (
        ea.join(
            F.broadcast(pairs.select("m_prev", "m")), "m_prev"
        )
        .join(eb, ["m", "s", "p"])
        .groupBy("m")
        .agg(F.count("*").alias("n_common"))
    )
    out = pairs.join(inter, "m", "left").select(
        F.col("m").alias("month"),
        F.col("n_edges"),
        F.coalesce(F.col("n_common"), F.lit(0))
        .cast("bigint")
        .alias("edges_retained"),
        (F.col("n_edges") - F.coalesce(F.col("n_common"), F.lit(0)))
        .cast("bigint")
        .alias("edges_new"),
        (F.col("n_prev") - F.coalesce(F.col("n_common"), F.lit(0)))
        .cast("bigint")
        .alias("edges_dropped"),
        F.round(
            F.coalesce(F.col("n_common"), F.lit(0))
            / (
                F.col("n_edges")
                + F.col("n_prev")
                - F.coalesce(F.col("n_common"), F.lit(0))
            ).cast("double"),
            6,
        ).alias("jaccard_vs_prev"),
    )
    return out.orderBy("month")


@register(
    "text_cdc_chunking",
    f"""
    WITH b AS (
        -- 64 KiB chunking-prefix cap, same policy as the winnowing
        -- fingerprint (bigdoc probe axis, r12)
        SELECT doc_id, text, length(text) AS n,
               list_filter(generate_series(1, greatest(length(text) - 7, 1)),
                           i -> {sql_md5_long("substr(text, i, 8)")} % 64 = 0)
                   AS cuts
        FROM (SELECT doc_id, substr(text, 1, 65536) AS text
              FROM documents) documents),
    spans AS (
        SELECT doc_id, text,
               list_prepend(1, list_transform(cuts, x -> x)) AS starts,
               list_append(list_transform(cuts, x -> x), n + 1) AS ends
        FROM b),
    chunks AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(starts)),
                      j -> substr(text, starts[j], ends[j] - starts[j])))
                   AS chunk
        FROM spans),
    ch AS (
        SELECT doc_id, md5(chunk) AS h, length(chunk) AS clen
        FROM chunks WHERE length(chunk) > 0),
    dedup AS (
        SELECT h, count(*) AS occ, count(DISTINCT doc_id) AS docs
        FROM ch GROUP BY h)
    SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_chunks,
           round(CAST(SUM(clen) AS DOUBLE) / count(*), 6) AS avg_chunk_chars,
           CAST((SELECT count(*) FROM dedup) AS BIGINT) AS distinct_chunks,
           CAST((SELECT count(*) FROM dedup WHERE docs >= 2) AS BIGINT)
               AS cross_doc_chunks,
           round(1 - (SELECT count(*) FROM dedup)
                     / CAST(count(*) AS DOUBLE), 6) AS chunk_dedup_share
    FROM ch
    """,
    doc="Content-defined chunking (CDC): chunk boundaries fall where "
    "the rolling 8-char-gram hash hits 0 mod 64 (expected ~64-char "
    "chunks), so an edit moves only its local boundaries and "
    "unchanged content re-chunks to IDENTICAL chunks — the property "
    "fixed-width chunking (doc_chunking) lacks and the reason "
    "storage dedup and incremental-ingest pipelines chunk this way; "
    "the readout measures exactly that payoff (distinct vs total "
    "chunks, chunks shared across docs). Boundary hashing reuses "
    "the winnowing gram convention (same md5-substr spelling), so "
    "chunk sets hash-match the oracle. Scale: boundaries and spans "
    "are per-row array expressions (no explode until chunks emit, "
    "no shuffle before the hash-agg on chunk hashes); the dedup "
    "aggregate is the standard exact-dedup shape on 16-byte keys.",
)
def q_text_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64 KiB chunking-prefix cap (bigdoc probe axis, r12): the rolling
    # boundary hash is one md5 per character position — see the winnow
    # fingerprint for the policy rationale; mirrored in the oracle
    d = _docs(spark, sf_dir).withColumn(
        "text", F.substring("text", 1, 65536)
    )
    # substring with a dynamic start inside the lambda needs the
    # expr-form of the boundary predicate (same md5-substr spelling as
    # the winnowing grams)
    b = d.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.expr(
            "filter(sequence(1, greatest(length(text) - 7, 1)), "
            "i -> conv(substring(md5(substring(text, i, 8)), 1, 15), 16, 10)"
            " % 64 = 0)"
        ).alias("cuts"),
    )
    spans = b.select(
        "doc_id",
        "text",
        F.expr("concat(array(1), cuts)").alias("starts"),
        F.expr("concat(cuts, array(n + 1))").alias("ends"),
    )
    chunks = spans.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(starts)), "
                "j -> substring(text, starts[j - 1], ends[j - 1] - starts[j - 1]))"
            )
        ).alias("chunk"),
    )
    ch = chunks.filter(F.length("chunk") > 0).select(
        "doc_id", F.md5("chunk").alias("h"), F.length("chunk").alias("clen")
    )
    from .ext.caching import swap_persist

    ch = swap_persist("cdc_chunks", ch)
    dedup = ch.groupBy("h").agg(
        F.count("*").alias("occ"), F.countDistinct("doc_id").alias("docs")
    )
    dsum = dedup.agg(
        F.count("*").alias("distinct_chunks"),
        # coalesce: the oracle counts (0 on empty input) while SUM over
        # an empty frame is NULL — keep the engines agreeing
        F.coalesce(F.sum(F.when(F.col("docs") >= 2, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("cross_doc_chunks"),
    )
    # try_divide on both readouts: an empty corpus gives count(*) = 0,
    # which is ANSI DIVIDE_BY_ZERO under plain '/' while DuckDB's x/0
    # is NULL — try_divide keeps the engines agreeing on empty input
    return (
        ch.agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.round(
                F.try_divide(F.sum("clen").cast("double"), F.count("*")), 6
            ).alias("avg_chunk_chars"),
        )
        .crossJoin(F.broadcast(dsum))
        .select(
            "n_docs",
            "n_chunks",
            "avg_chunk_chars",
            F.col("distinct_chunks").cast("bigint").alias("distinct_chunks"),
            "cross_doc_chunks",
            F.round(
                1
                - F.try_divide(
                    F.col("distinct_chunks"), F.col("n_chunks").cast("double")
                ),
                6,
            ).alias("chunk_dedup_share"),
        )
    )


@register(
    "sketch_kmv_union",
    f"""
    WITH h AS (
        -- a NULL c_custkey has no hash and is not a sketch member
        -- (nullkeys axis: Spark's NULLS-FIRST asc would otherwise sort
        -- the NULL hash INTO the bottom-64, displacing a real one)
        SELECT r_name AS region, c_custkey,
               {sql_md5_long("c_custkey::VARCHAR", "kmv")} AS hv
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_custkey IS NOT NULL),
    dh AS (SELECT region, hv FROM h GROUP BY 1, 2),
    bk AS (
        SELECT region, hv
        FROM (SELECT region, hv,
                     row_number() OVER (PARTITION BY region ORDER BY hv) AS rn
              FROM dh) WHERE rn <= 64),
    prs AS (
        SELECT a.region AS region_a, b.region AS region_b
        FROM (SELECT DISTINCT region FROM bk) a
        JOIN (SELECT DISTINCT region FROM bk) b ON a.region < b.region),
    merged AS (
        SELECT region_a, region_b, hv
        FROM prs JOIN bk ON bk.region IN (region_a, region_b)
        GROUP BY 1, 2, 3),
    kth AS (
        SELECT region_a, region_b,
               max(CASE WHEN rn = 64 THEN hv END) AS hk,
               count(*) AS nm
        FROM (SELECT region_a, region_b, hv,
                     row_number() OVER (PARTITION BY region_a, region_b
                                        ORDER BY hv) AS rn
              FROM merged) WHERE rn <= 64
        GROUP BY 1, 2),
    exact AS (
        SELECT p.region_a, p.region_b,
               count(DISTINCT dh.hv) AS exact_union
        FROM prs p JOIN dh ON dh.region IN (p.region_a, p.region_b)
        GROUP BY 1, 2),
    est AS (
        SELECT kth.region_a, kth.region_b,
               CAST(exact_union AS BIGINT) AS exact_union,
               CASE WHEN nm >= 64
                    THEN round(63 / (CAST(hk AS DOUBLE)
                                     / 1152921504606846976), 4)
                    ELSE CAST(nm AS DOUBLE) END AS kmv_union_estimate
        FROM kth JOIN exact USING (region_a, region_b))
    SELECT region_a, region_b, exact_union, kmv_union_estimate,
           round(abs(kmv_union_estimate - exact_union)
                 / exact_union * 100, 4) AS rel_error_pct
    FROM est ORDER BY region_a, region_b
    """,
    doc="KMV sketch UNION: the per-region bottom-64 sketches of "
    "sketch_kmv_distinct merge by keeping the 64 smallest of the "
    "combined hash sets, and the merged k-th minimum estimates the "
    "distinct-customer count of each region PAIR — the mergeability "
    "property that makes bottom-k sketches composable across "
    "partitions, days, or tenants without touching raw data (union "
    "of sketches = sketch of union, exactly). Exact pair-union "
    "counts ride along for the measured relative error; pairs whose "
    "merged sketch holds fewer than k values short-circuit to the "
    "exact count like the base sketch. Scale: the pair expansion "
    "runs on the k-row sketches (10 pairs x 128 hashes), never on "
    "customers — the whole point; only the exactness audit reads "
    "the full hash sets, and a production rollup would drop it.",
)
def q_sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    K = 64
    TWO60 = float(1 << 60)
    h = (
        t["customer"]
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("c_custkey").isNotNull())
        .select(
            F.col("r_name").alias("region"),
            md5_long(F.col("c_custkey").cast("string"), "kmv").alias("hv"),
        )
    )
    dh = h.groupBy("region", "hv").agg(F.lit(1).alias("_o")).drop("_o")
    from .ext.caching import swap_persist

    dh = swap_persist("kmv_union_dh", dh)
    wr = Window.partitionBy("region").orderBy("hv")
    bk = (
        dh.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= K)
        .select("region", "hv")
    )
    regions = bk.select("region").distinct()
    prs = (
        regions.select(F.col("region").alias("region_a"))
        .crossJoin(regions.select(F.col("region").alias("region_b")))
        .filter(F.col("region_a") < F.col("region_b"))
    )
    merged = (
        prs.join(
            F.broadcast(bk),
            F.col("region").isin(F.col("region_a"), F.col("region_b")) == F.lit(True),
        )
        .select("region_a", "region_b", "hv")
        .groupBy("region_a", "region_b", "hv")
        .agg(F.lit(1).alias("_o"))
        .drop("_o")
    )
    wp = Window.partitionBy("region_a", "region_b").orderBy("hv")
    kth = (
        merged.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= K)
        .groupBy("region_a", "region_b")
        .agg(
            F.max(F.when(F.col("rn") == K, F.col("hv"))).alias("hk"),
            F.count("*").alias("nm"),
        )
    )
    exact = (
        prs.join(
            dh,
            F.col("region").isin(F.col("region_a"), F.col("region_b")) == F.lit(True),
        )
        .groupBy("region_a", "region_b")
        .agg(F.countDistinct("hv").alias("exact_union"))
    )
    est = F.when(
        F.col("nm") >= K,
        F.round(
            F.lit(float(K - 1)) / (F.col("hk").cast("double") / TWO60), 4
        ),
    ).otherwise(F.col("nm").cast("double"))
    return (
        kth.join(exact, ["region_a", "region_b"])
        .select(
            "region_a",
            "region_b",
            F.col("exact_union").cast("bigint").alias("exact_union"),
            est.alias("kmv_union_estimate"),
            F.round(
                F.abs(est - F.col("exact_union")) / F.col("exact_union") * 100,
                4,
            ).alias("rel_error_pct"),
        )
        .orderBy("region_a", "region_b")
    )
