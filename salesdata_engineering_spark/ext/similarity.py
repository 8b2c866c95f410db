"""Similarity search over ``embeddings.embedding`` (north-star X2).

Two paths:

- **Brute-force cosine top-k** — the exact baseline: query-set ⨯ corpus
  nested-loop with the small side broadcast, dot/norms as sequential
  array folds (bit-identical to the DuckDB oracle's list_dot_product),
  per-query rank() for top-k. Cost O(|Q|·|C|·d) — right answer for
  |Q| small; at 100 TB the corpus scan stays one pass, no shuffle
  beyond the final per-query top-k (tiny).
- **Random-hyperplane LSH ANN** — sign-bit bucket key from h
  deterministic pseudo-random hyperplanes (md5-derived components, so
  the oracle reproduces them); candidates = bucket collisions; exact
  cosine re-rank inside buckets. Trades recall for a corpus-partition-
  local join; recall is measured against brute force in tests, and
  multi-probe (flipping one bit) is the standard recall knob.

Embedding-cosine near-dup detection (X1's embedding variant) falls out
of the same kernel: pairs with cosine ≥ threshold.

No Python UDFs anywhere; only the final top-k shuffles. Per-pair
math is sequential HOF folds — see dot() for why the unrolled
alternative is a JIT trap in this engine version.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    """Sequential left fold — same FP addition order as the DuckDB
    oracle's list_reduce/list_dot_product (bit-identical results)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Dot product as a sequential zip_with/aggregate fold; ``dim``
    restricts both inputs to their first components (slice — measured
    free next to the fold itself).

    The r5 engine unrolled this to an explicit a[0]·b[0] + … sum on the
    theory that HOFs are CodegenFallback (interpreted) while the
    unrolled form stays in whole-stage codegen. Spark 4.1.2 measurement
    INVERTS that beyond ~32 terms: the giant generated expression lands
    in one Java method past HotSpot's JIT size threshold, so the whole
    pair-scan stage runs in the JVM *bytecode interpreter* — 2.8M
    sf1 pairs × 64-dim took 7.7 s unrolled vs 0.83 s as this fold
    (synthetic A/B; the cliff sits between 32 and 48 terms, and raising
    spark.sql.codegen.hugeMethodLimit does not move it). The fold also
    keeps the driver-side expression tree ~dim× smaller — the r5
    HOF-quantize change measured that as the dominant plan-ANALYSIS
    latency on every ANN query call.

    Left-assoc fold addition keeps the identical IEEE order as the
    unrolled sum and as DuckDB's list_dot_product, so oracle results
    stay bit-identical."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    if dim is not None:
        ca, cb = F.slice(ca, 1, dim), F.slice(cb, 1, dim)
    return _fold_sum(F.zip_with(ca, cb, lambda x, y: x * y))


def norm(a: Column | str, dim: int | None = None) -> Column:
    if isinstance(a, str):
        return norm_fold(a, dim)
    ca = F.slice(a, 1, dim) if dim is not None else a
    return F.sqrt(_fold_sum(F.transform(ca, lambda x: x * x)))



def norm_fold(a: str, dim: int | None = None) -> Column:
    """L2 norm as a compact HOF fold — for PER-VECTOR norm columns only
    (corpus/query/centroid norms computed once per row and carried as
    columns into the codegen'd pair scoring). The fold is interpreted
    (CodegenFallback) but runs O(rows), not O(pairs), and its ~dim×
    smaller expression tree cuts driver-side analysis latency on every
    query call (measured: sim_cosine_topk 1.16 → 0.60 s median at
    sf0.1 — the unrolled norms dominated plan build, not execution).
    Sequential left fold ⇒ identical IEEE order as the unrolled form
    and the DuckDB oracle; ``norm(a)`` with dim omitted delegates here
    for string inputs so there is ONE fold implementation. ``dim``
    restricts the norm to the first components — it MUST mirror the
    paired ``dot``'s dim or the cosine is inconsistent (norms over 64
    components against a 32-component dot). Since r6 the per-PAIR math
    (``dot``/``cosine``) is the same fold: the unrolled form's giant
    generated method falls out of HotSpot JIT past ~32 terms and the
    whole pair stage ran bytecode-interpreted (see ``dot``)."""
    src = f"`{a}`" if dim is None else f"slice(`{a}`, 1, {dim})"
    return F.sqrt(
        F.expr(
            f"aggregate(transform({src}, x -> x * x), 0.0D, (acc, x) -> acc + x)"
        )
    )


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


# Shared with the relational operators (ops/partitioning.py): the
# pair-scan stream side of the ANN kernels needs the same guard — a
# broadcast nested-loop over a 1-partition stream runs in ONE task.
from ..ops.partitioning import spread as _spread  # noqa: E402
from ..session import local_frame  # noqa: E402


def _rank_topk(sim: DataFrame, k: int, id_col: str, query_id_col: str) -> DataFrame:
    """Per-query top ``k`` of a (query_id, id, _sim) frame, ties to the
    lower id: (query_id, neighbor_id, rk, cosine_sim) — the output
    contract of every top-k in this module."""
    w = Window.partitionBy(query_id_col).orderBy(F.col("_sim").desc(), F.col(id_col))
    return (
        sim.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            "rk",
            F.round("_sim", 6).alias("cosine_sim"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = 64,
) -> DataFrame:
    """Exact brute-force top-k: for each query vector, the k nearest
    corpus vectors by cosine (self-matches excluded when ids collide).

    Plan: broadcast(queries) ⨯ corpus → sequential-fold dot per pair
    (norms precomputed once per vector, not per pair) → row_number per
    query — the only shuffle is |Q|·|C| narrow rows into the per-query
    sort, and AQE coalesces it."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        norm_fold(vec_col, dim).alias("_qn"),
    )
    c = _spread(corpus).select(id_col, vec_col, norm_fold(vec_col, dim).alias("_cn"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col(query_id_col))
    sim = pairs.select(
        query_id_col,
        id_col,
        (dot(vec_col, "_qvec", dim) / (F.col("_cn") * F.col("_qn"))).alias("_sim"),
    )
    return _rank_topk(sim, k, id_col, query_id_col)


def hyperplane(dim: int, h: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component list.

    Component d of plane h = (md5_long('h:d') mod 2001 − 1000)/1000 ∈
    [−1, 1] — reproducible in SQL, no RNG state. (Quality is fine for
    LSH: components only need symmetric zero-mean spread.)"""
    from .hashing import py_md5_long

    return [
        (py_md5_long(f"{h}:{d}") % 2001 - 1000) / 1000.0 for d in range(dim)
    ]


def lsh_bucket_key(vec: Column | str, planes: list[list[float]], dim: int | None = None) -> Column:
    """Sign-bit bucket key: bit h = [dot(vec, plane_h) > 0].

    With a column NAME, the whole key is ONE parsed SQL expression
    (fold-dot per plane; the ``D`` suffix keeps plane components double
    literals — bare decimals parse as DECIMAL and would change the
    arithmetic). The py4j route built 64 lit calls per plane — ~2.3 s
    of driver time per LSH query (measured); the sign of the dot is all
    that matters here, so the interpreted fold is fine row-side."""
    if isinstance(vec, str):
        bits = []
        for plane in planes:
            arr = "array(" + ", ".join(f"{c!r}D" for c in plane) + ")"
            d = f"aggregate(zip_with(`{vec}`, {arr}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            bits.append(f"CASE WHEN {d} > 0 THEN '1' ELSE '0' END")
        return F.expr("concat(" + ", ".join(bits) + ")")
    bits = []
    for h, plane in enumerate(planes):
        arr = F.array(*[F.lit(c) for c in plane])
        bits.append(F.when(dot(vec, arr, dim) > 0, F.lit(1)).otherwise(F.lit(0)).cast("string"))
    return F.concat(*bits)


def lsh_bucket_keys(
    vec: Column | str, planes: list[list[float]], n_tables: int, bits: int, dim: int | None = None
) -> Column:
    """Array of per-table bucket keys (table t uses planes t·bits..t·bits+bits−1)."""
    return F.array(
        *[
            lsh_bucket_key(vec, planes[t * bits : (t + 1) * bits], dim)
            for t in range(n_tables)
        ]
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k: exact cosine re-rank within LSH bucket collisions.

    Multi-table OR-amplification (the standard recall fix for
    single-probe LSH): ``n_tables`` independent tables of ``bits`` sign
    bits each; a corpus vector is a candidate if it collides with the
    query in ANY table. For bit-collision prob p = 1−θ/π, recall per
    neighbor is 1−(1−p^bits)^n_tables. Corpus-side cost: a narrow
    posexplode into n_tables rows, then an equi-join on (table, bucket)
    — partition-local after one shuffle, never a ⨯-product."""
    planes = [hyperplane(dim, h) for h in range(n_tables * bits)]
    # fold-based plane dots (dim=None): the unrolled form here is a
    # 2048-term expression whose Janino compile alone costs ~25s; the
    # interpreted fold over |C|+|Q| rows (not per-pair!) is cheaper.
    keys = lsh_bucket_keys(vec_col, planes, n_tables, bits, None)
    ckey = _spread(corpus).select(id_col, vec_col, F.posexplode(keys).alias("tbl", "bucket"))
    qkey = queries.select(
        query_id_col,
        F.col(vec_col).alias("_qvec"),
        F.posexplode(keys).alias("tbl", "bucket"),
    )
    cand = (
        ckey.join(F.broadcast(qkey), ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, vec_col, "_qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    sim = cand.select(query_id_col, id_col, cosine(vec_col, "_qvec", dim).alias("_sim"))
    return _rank_topk(sim, k, id_col, query_id_col)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (X1 embedding variant).

    Exact all-pairs here (corpus small at test SF); the LSH bucket key
    above is the scale path — same verify step, bucketed candidates.
    Norms precomputed per vector; only the unrolled dot runs per pair."""
    a = _spread(corpus).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm_fold(vec_col, dim).alias("_na"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm_fold(vec_col, dim).alias("_nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_sim", dot("_va", "_vb", dim) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round("_sim", 6).alias("cosine_sim"))
    )


def embedding_near_dup_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 8,
    bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs via LSH-bucketed candidates + exact verify.

    The 100 TB form of ``embedding_near_dup_pairs``: instead of the
    O(n²) crossJoin, candidates are pairs that collide in ANY of
    ``n_tables`` sign-bit LSH tables (the same OR-amplified buckets as
    ``lsh_ann_topk``), then each candidate is verified with the exact
    cosine at ``threshold``. Plan: narrow posexplode (n_tables rows per
    vector), one equi-join shuffle on (table, bucket), per-pair dots
    only on candidates — never a cross product. Recall vs the all-pairs
    oracle is measured in tests (per-neighbor ≈ 1−(1−p^bits)^n_tables)."""
    planes = [hyperplane(dim, h) for h in range(n_tables * bits)]
    keys = lsh_bucket_keys(vec_col, planes, n_tables, bits, None)
    # Candidate generation is NARROW: only (id, tbl, bucket) enters the
    # self-join and the pair dedup. The previous form carried both 64-dim
    # vectors + norms through the bucket join AND dropDuplicates — ~1 GB
    # of shuffle for ~1M candidate rows at sf0.1 (4–7 s, measured). Now
    # the wide columns are joined back AFTER dedup, once per surviving
    # pair; vectors cross a shuffle only in those two id-equi-joins.
    keyed = _spread(corpus).select(
        F.col(id_col), F.posexplode(keys).alias("tbl", "bucket")
    )
    cand = (
        keyed.alias("x")
        .join(keyed.alias("y"), ["tbl", "bucket"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # Norms are computed per corpus ROW (own codegen stage) rather than
    # per candidate pair — and keeping only the 64-term dot in the
    # post-join stage also keeps that stage's generated method under
    # Janino's 64 KB whole-stage-codegen limit (dot + two norms inline
    # tripped the interpreted fallback).
    va = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm_fold(vec_col, dim).alias("_na"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm_fold(vec_col, dim).alias("_nb"),
    )
    sim = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_sim", dot("_va", "_vb", dim) / (F.col("_na") * F.col("_nb")))
    )
    return sim.filter(F.col("_sim") >= threshold).select(
        "id_a", "id_b", F.round("_sim", 6).alias("cosine_sim")
    )


def _assign_cells(
    df: DataFrame,
    cents: Column,
    out_id: str,
    keep: int,
    vec_col: str,
    dim: int,
    with_vec: bool = True,
) -> DataFrame:
    """Assign each vector to its ``keep`` nearest centroids:
    (out_id, vec, cid) — (out_id, cid) when ``with_vec=False``. Shared
    by the IVF build/search/train paths.

    For ``keep=1`` (the corpus-side assignment — the BIG side) the
    argmax is a ``max_by`` over a (score, −cid) struct: a partial+final
    hash aggregate whose map-side combine collapses each id's |cells|
    candidate rows to ONE before the exchange, where the row_number
    window form shuffled and SORTED the whole |df|·|cells| pair stream
    (measured: the sort dominated the assignment stage). Identical
    argmax semantics: highest score, ties to the lowest cid — the same
    ORDER BY cs DESC, cid the oracle uses. (The struct ordering key
    makes max_by a SortAggregate, not a HashAggregate — acceptable on
    the narrow pair stream, ruinous if the pair rows carry the vector:
    an r6 experiment rode the winner's vector through the same
    aggregate via first(vec) and the partition sort moved ~1.4 GB at
    sf1, 9 s for the bare assignment. Narrow agg + vector re-attach
    join is the right trade.)

    ``keep>1`` (query probes) keeps the narrow (id, cid, score) window;
    winners re-attach their vector with one tiny id-equi-join — or skip
    it entirely with ``with_vec=False`` when the caller re-derives its
    own query-side columns (the quantized composed ANN joins probes to
    the quantized query frame anyway, so the join-back was a dead
    materialization barrier).

    ANN query frames are bounded batches, so the keep>1 window is
    coalesced onto one partition — a narrow dependency replacing the
    window's hash exchange + 32-task sort (measured: composed ANN
    2.6 → 2.1 s at sf0.1).

    The ranking score is ``dot(v, c) / norm(c)`` — NOT the full cosine.
    The row's own norm is a positive per-row constant, so it scales
    every candidate's score equally and cancels out of the per-row
    argmax: the winners (and ties) are identical, while the row-norm
    HOF disappears from the O(pairs) loop entirely. This is not a
    micro-opt: the r5 form computed the row norm in a projection below
    the pair join and Catalyst's project collapsing re-evaluated the
    interpreted fold PER PAIR — measured 33.6 s for the bare sf1
    corpus assignment (2.8M pairs), i.e. the whole composed-ANN sf1
    blowup — where the norm-free scoring stays in whole-stage codegen.
    The oracles rank by the same ``dot/centroid-norm`` expression, so
    tie boundaries remain bit-identical cross-engine."""
    sim = (dot(vec_col, "_cvec", dim) / F.col("_cn")).alias("_cs")
    if keep == 1:
        # The pair stream stays NARROW (id, cid, score): the struct
        # ordering key makes max_by a SortAggregate, so whatever the
        # pair rows carry gets partition-SORTED — carrying the 64-dim
        # vector through it sorted ~1.4 GB at sf1 (measured 9 s for the
        # bare assignment) vs ~70 MB narrow. Winners re-attach their
        # vector with one id-equi-join; AQE broadcasts the tiny winner
        # side, so the corpus is never re-shuffled.
        scored = df.crossJoin(cents).select(F.col(out_id), "cid", sim)
        picked = scored.groupBy(out_id).agg(
            F.max_by(
                "cid", F.struct(F.col("_cs"), (-F.col("cid")).alias("_nc"))
            ).alias("cid")
        )
        return picked.join(df, out_id).select(out_id, vec_col, "cid")
    scored = df.crossJoin(cents).select(F.col(out_id), "cid", sim).coalesce(1)
    w = Window.partitionBy(out_id).orderBy(F.col("_cs").desc(), "cid")
    picked = (
        scored.withColumn("_crk", F.row_number().over(w))
        .filter(F.col("_crk") <= keep)
        .select(out_id, "cid")
    )
    if not with_vec:
        return picked
    return picked.join(df, out_id).select(out_id, vec_col, "cid")


def _strided_centroids(corpus: DataFrame, stride: int, id_col: str, vec_col: str) -> DataFrame:
    """(cid, _cvec): every ``stride``-th corpus vector by id — the
    deterministic default IVF centroids the DuckDB oracle rebuilds, and
    the init of :func:`ivf_train_centroids`."""
    return corpus.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("_cvec")
    )


def _with_norms(centroids: DataFrame, dim: int) -> DataFrame:
    """(cid, _cvec, _cn): centroids with the norm ``_assign_cells``
    divides by."""
    return centroids.select("cid", "_cvec", norm_fold("_cvec", dim).alias("_cn"))


def _ivf_centroids(
    corpus: DataFrame, centroids: DataFrame | None, stride: int, dim: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """The in-query IVF centroid frame: ``centroids`` (e.g. trained) or
    the strided sample, with norms, under a plain broadcast hint — one
    AQE-reused build pipelined with the query (collecting it was
    measured slower here; see :func:`_local_broadcast`)."""
    if centroids is None:
        centroids = _strided_centroids(corpus, stride, id_col, vec_col)
    return F.broadcast(_with_norms(centroids, dim))


def _assign_corpus(
    corpus: DataFrame, cents: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """(id, vec, cid): every corpus vector in its ONE nearest cell."""
    return _assign_cells(
        _spread(corpus).select(id_col, vec_col), cents, id_col, 1, vec_col, dim
    )


def _probe_cells(
    queries: DataFrame, cents: DataFrame, nprobe: int,
    query_id_col: str, vec_col: str, dim: int, with_vec: bool = False,
) -> DataFrame:
    """(query_id, cid): each query's ``nprobe`` nearest cells —
    (query_id, vec, cid) with ``with_vec``."""
    return _assign_cells(
        queries.select(F.col(query_id_col), F.col(vec_col)),
        cents, query_id_col, nprobe, vec_col, dim, with_vec=with_vec,
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    stride: int = 50,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: partition the corpus into inverted cells around
    centroids, search only the ``nprobe`` cells nearest each query.

    Default centroids are a deterministic sample (every ``stride``-th
    vector by id) so the DuckDB oracle rebuilds the identical index;
    pass ``centroids`` (cid, _cvec) — e.g. from
    :func:`ivf_train_centroids` — to search a trained index with the
    same cell/probe machinery. Build = one broadcast pass (|C|·|corpus|
    codegen'd dots, no shuffle); search touches ~nprobe/n_cells of the
    corpus instead of all of it — the 100 TB path where brute force
    scans everything. Recall is governed by nprobe (measured against
    brute force in tests)."""
    cents = _ivf_centroids(corpus, centroids, stride, dim, id_col, vec_col)
    cells = _assign_corpus(corpus, cents, id_col, vec_col, dim)
    probes = _probe_cells(
        queries, cents, nprobe, query_id_col, vec_col, dim, with_vec=True
    ).select(query_id_col, F.col(vec_col).alias("_qvec"), "cid")
    cand = (
        cells.join(probes, "cid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    sim = cand.select(
        query_id_col, id_col, cosine(vec_col, "_qvec", dim).alias("_sim")
    )
    return _rank_topk(sim, k, id_col, query_id_col)


def quantize_cols(df: DataFrame, vec_col: str, dim: int, prefix: str) -> DataFrame:
    """Append int8 symmetric quantization columns for ``vec_col``.

    scale = max|v_i| / 127 (guarded for all-zero vectors), q_i =
    round(v_i / scale) ∈ [−127, 127]. Adds ``{prefix}qv`` (the quantized
    array — integer-valued doubles, exactly representable, so sums over
    them are order-independent and bit-identical cross-engine) and
    ``{prefix}qn`` (its L2 norm). Each derived column lives in its OWN
    projection below its consumers: scale feeds the transform and the
    qv array feeds dim norm terms — inlining them would re-evaluate the
    max/array per term (Catalyst skips collapsing multiply-referenced
    non-cheap expressions, keeping the hoist intact).

    The amax/qv steps use HOFs (CodegenFallback, interpreted) ON
    PURPOSE: quantization is the index-BUILD path — once per corpus
    vector, never in the per-pair search loop — and the compact lambda
    keeps the driver-side tree ~dim× smaller, which is real latency on
    every query CALL (analysis of the unrolled form measured: flat
    quantized top-k 1.25 → 0.96 s, composed ANN 2.77 → 2.56 s at
    sf0.1). The NORM stays unrolled: it feeds the codegen'd scoring
    expressions, and qv[i] element reads are cheap either way."""
    v = f"`{vec_col}`"
    out = df.selectExpr(
        "*",
        f"greatest(array_max(transform({v}, x -> abs(x))) / 127.0D, 1e-30D)"
        f" AS {prefix}scale",
    )
    out = out.selectExpr(
        "*", f"transform({v}, x -> round(x / {prefix}scale)) AS {prefix}qv"
    )
    # fold, not an unrolled sum: beyond ~32 terms the unrolled form
    # knocks its whole generated stage out of HotSpot JIT (see dot())
    qn = (
        f"sqrt(aggregate(transform({prefix}qv, x -> x * x), 0.0D,"
        f" (acc, x) -> acc + x))"
    )
    return out.selectExpr("*", f"{qn} AS {prefix}qn").drop(f"{prefix}scale")


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    dim: int,
) -> DataFrame:
    """Shared final stage of every two-stage ANN (quantized, composed
    IVF+quantized, PQ-ADC): re-score the |Q|·m candidate pairs at full
    precision and emit per-query top-k as (query_id, neighbor_id, rk,
    cosine_sim). The corpus join carries no hint, so AQE picks its
    build side from runtime sizes: at sf0.01 the final plan of
    ``search_ivf_pq_index`` broadcasts the CORPUS side (a
    ``BroadcastQueryStage`` over the ``[id, vector]`` corpus scan) and
    streams the candidates, so every search reads every full-precision
    vector, not only the survivors'. A corpus past the broadcast
    threshold gets a shuffle join instead, which scans and shuffles the
    whole corpus per search."""
    rr = (
        cand.join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(
                queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
            ),
            query_id_col,
        )
        .select(query_id_col, id_col, cosine(vec_col, "_qvec", dim).alias("_sim"))
    )
    return _rank_topk(rr, k, id_col, query_id_col)


def _quantized_queries(queries: DataFrame, query_id_col: str, vec_col: str, dim: int) -> DataFrame:
    """(query_id, _qqv, _qqn): the int8-quantized query side."""
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    return quantize_cols(q, "_qvec", dim, "_q").drop("_qvec")


#: Exact dot of two quantized arrays (integer-valued doubles).
_QDOT = (
    "aggregate(zip_with(_cqv, _qqv, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
)


def _quantized_candidates(pairs: DataFrame, m: int, id_col: str, query_id_col: str) -> DataFrame:
    """(query_id, id): the top ``m`` corpus ids per query by quantized
    cosine, over (query, corpus) ``pairs`` carrying the ``_c``/``_q``
    :func:`quantize_cols` columns. Self-pairs are excluded."""
    scored = pairs.filter(F.col(id_col) != F.col(query_id_col)).selectExpr(
        query_id_col, id_col, f"({_QDOT}) / (_cqn * _qqn) AS _qcos"
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("_qcos").desc(), F.col(id_col))
    return (
        scored.withColumn("_qrk", F.row_number().over(wq))
        .filter(F.col("_qrk") <= m)
        .select(query_id_col, id_col)
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """Two-stage ANN: int8-quantized cosine candidate scan, exact re-rank.

    Stage 1 scores every (query, corpus) pair on the QUANTIZED vectors —
    at scale the quantized corpus is what you'd store (4× less memory
    traffic than float32, 8× less than float64; the scan is the same
    O(|Q|·|C|) shape as :func:`cosine_topk` but moves a quarter of the
    bytes) — and keeps the top ``m`` per query by quantized cosine.
    Stage 2 re-scores only those |Q|·m candidates against the full-
    precision vectors and emits the top ``k``.

    Cross-engine determinism: quantized values are small integers held
    in doubles, so stage-1 dots/norms are exact in any summation order;
    the division and sqrt are IEEE-correctly-rounded — the candidate
    ranking is bit-identical in Spark and the DuckDB oracle, making the
    recall boundary (which candidates reach stage 2) reproducible.

    Shuffles: one narrow (query_id, vec_id, qcos) stream into the
    stage-1 window; candidates (|Q|·m rows) join back to the corpus for
    re-rank. :func:`ivf_quantized_topk` is the composed sublinear form:
    the same quantized scan restricted to IVF-probed cells."""
    c = quantize_cols(_spread(corpus).select(id_col, vec_col), vec_col, dim, "_c")
    q = _quantized_queries(queries, query_id_col, vec_col, dim)
    cand = _quantized_candidates(
        c.drop(vec_col).crossJoin(F.broadcast(q)), m, id_col, query_id_col
    )
    return _exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, dim
    )


def ivf_quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 20,
    stride: int = 50,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The composed sublinear ANN both halves promise: IVF cell pruning
    (:func:`ivf_ann_topk`) feeding the int8-quantized scan + exact
    re-rank (:func:`quantized_topk`).

    Stage 0 assigns the corpus to inverted cells and each query to its
    ``nprobe`` nearest cells (broadcast centroids, codegen'd dots — no
    shuffle). Stage 1 scores ONLY the probed cells' vectors on the
    quantized representation: the scoring join is an equi-join on
    ``cid``, so the scan touches ~nprobe/n_cells of the corpus — and
    what it reads is int8-quantized (4× less memory traffic than
    float32) — where :func:`quantized_topk` alone still cross-joins
    every (query, corpus) pair. Stage 2 re-scores the surviving |Q|·m
    candidates at full precision.

    No candidate dedup is needed: every corpus vector lives in exactly
    ONE cell (keep=1), so a (query, id) pair can match on at most one
    of the query's nprobe probes.

    Cross-engine determinism is inherited from the two halves: the
    cell/probe boundary uses the same float-cosine + cid tie rule as
    the IVF oracle, and the stage-1 candidate boundary is integer-exact
    (quantized values are small integers in doubles). At 100 TB this is
    the serving shape: centroids trained once (:func:`ivf_train_centroids`),
    corpus stored quantized and clustered by cell, full-precision
    vectors fetched only for the |Q|·m re-rank."""
    cents = _ivf_centroids(corpus, centroids, stride, dim, id_col, vec_col)
    cells = _assign_corpus(corpus, cents, id_col, vec_col, dim)
    probes = _probe_cells(queries, cents, nprobe, query_id_col, vec_col, dim)
    cq = quantize_cols(cells, vec_col, dim, "_c")
    pq = probes.join(
        _quantized_queries(queries, query_id_col, vec_col, dim), query_id_col
    )
    cand = _quantized_candidates(
        cq.drop(vec_col).join(F.broadcast(pq), "cid"), m, id_col, query_id_col
    )
    return _exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, dim
    )


def ivf_train_centroids(
    corpus: DataFrame,
    stride: int = 50,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the corpus: (cid, _cvec) trained centroids.

    Init = the deterministic strided sample (same seed the untrained IVF
    uses); each iteration assigns every vector to its nearest centroid
    by cosine (broadcast centroids, tie on cid) and recomputes each
    centroid as the elementwise mean of its members. Means are ROUNDED
    to 6 decimals per iteration: float summation order differs between
    Spark's partial aggregates and any oracle engine, and the round
    quenches that last-ulp drift so the next iteration's assignment
    boundaries — and therefore the final index — are reproducible
    bit-for-bit cross-engine. Empty cells drop out (standard Lloyd).

    Iteration is driver-side loop composition: each pass is one
    broadcast-assign (no shuffle) + one narrow (cid, pos) aggregate.
    The centroid frame is localCheckpoint'ed after every pass — it is
    ~n_cells rows (tiny), but WITHOUT the cut each downstream consumer
    replays the whole iteration chain: the search stage broadcasts the
    centroids twice (cell build + query probes), and lineage otherwise
    doubles per pass (measured 8.5 s → ~2 s median at sf0.1 for the
    registered trained-IVF query). Deterministic, so the value oracle
    is unaffected."""
    cents = _strided_centroids(corpus, stride, id_col, vec_col)
    # spread like the SEARCH path's corpus side: the assignment + mean
    # stages otherwise inherit the source file count as their
    # parallelism (4 files at sf1 → 4 of 32 cores; the r6 profile
    # measured every Lloyd stage at exactly 4 tasks)
    wide = _spread(corpus.select(id_col, vec_col))
    for _ in range(iters):
        bc = F.broadcast(_with_norms(cents, dim))
        # shared keep=1 assignment: max_by hash-agg, map-side combine —
        # see _assign_cells for the shape and the window-sort it replaces
        assigned = _assign_cells(
            wide, bc, id_col, 1, vec_col, dim
        ).select("cid", vec_col)
        by_pos = (
            assigned.select("cid", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("val"))
        )
        cents = (
            by_pos.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("_pv"))
            .select("cid", F.expr("transform(_pv, x -> x.val)").alias("_cvec"))
            .localCheckpoint()
        )
    return cents


def _pq_chunks(vec_col: str, n_sub: int, dim: int) -> Column:
    """``vec_col`` sliced into ``n_sub`` subvectors of ``dim // n_sub``."""
    d_sub = dim // n_sub
    return F.expr(
        f"transform(sequence(0, {n_sub - 1}),"
        f" s -> slice(`{vec_col}`, s * {d_sub} + 1, {d_sub}))"
    )


def _local_broadcast(df: DataFrame) -> tuple[DataFrame, list]:
    """Materialize a BOUNDED index frame (centroids / PQ codebooks) to
    the driver once and return ``(broadcast local relation, rows)``.

    ``F.broadcast(subtree)`` already pulls the subtree's rows through
    the driver — inside a broadcast-exchange job, once per exchange, and
    the corpus-derived subtree stays in the analyzed plan of EVERY
    consumer. Collecting it explicitly instead (r15, guide §5/§2.4):

    * the sample scan runs ONCE — the in-query composed ANN referenced
      its centroid subtree from both the cell and probe assignments and
      its codebook subtree from both the encode and query-table joins,
      so each broadcast build re-scanned the corpus (at 100 TB each of
      those is a full corpus pass);
    * every consumer's plan carries a LocalTableScan leaf instead of
      the scan→filter→explode subtree, which cuts the per-call
      Catalyst analysis latency that dominated the composed-ANN
      COMPOSE phase (r14 profile: 1.25-1.4 s pure driver);
    * the returned rows let callers fold validity checks (the PQ
      density precondition) into the same single job instead of paying
      a separate driver-blocking count.

    The rows go back in through :func:`..session.local_frame`, an Arrow
    table, so the leaf is a ``LocalRelation``: no Python worker is
    started to serve them. Built from the pickled row list instead, the
    first job reading one of these frames made the JVM fork a
    ``pyspark.daemon`` worker in every fresh session; through Arrow,
    ``build_ivf_pq_index`` in fresh sessions 2-4 of one JVM fell from
    4.2-4.6 s to 2.6-3.4 s (``local[2]``, the 500-vector sf0.01
    corpus). Values are bit-identical: Arrow carries doubles
    (-0.0, NaN, inf included), NULLs and arrays exactly, and every
    consumer joins or cross-joins the frame by key, so local-relation
    row order cannot matter. Driver exposure is UNCHANGED vs
    F.broadcast (the exchange collected to the driver anyway).

    Scope note (measured, r15): this is a win where the subtree was
    paying SEPARATE driver-blocking jobs (the PQ density count; the
    build path's write+assign double read). It is NOT a win for a
    subtree that only feeds broadcast joins inside one execution —
    there AQE's exchange reuse already builds it once, pipelined with
    the rest of the DAG, and an eager collect just serializes an extra
    ~0.2-0.3 s job at compose time (the first r15 attempt collected the
    in-query IVF centroids too and the interleaved pinned-ref A/B read
    it 0.76-0.87x — reverted). Callers pass frames bounded by
    construction: a ``limit`` would run CollectLimit's INCREMENTAL job
    ladder (1 partition, then scale-up) — several sequential jobs."""
    rows = df.collect()
    return F.broadcast(local_frame(df.sparkSession, rows, df.schema)), rows


def _local_centroids(centroids: DataFrame, dim: int) -> DataFrame:
    """The broadcast (cid, _cvec, _cn) centroid frame as a collected
    local relation — see :func:`_local_broadcast` for when that pays.
    Used by the PERSISTED-index build, where the same sample otherwise
    feeds both the centroids parquet write and the cell-assignment
    broadcast (two scans); the in-query builders keep the plain
    broadcast (one AQE-reused build, pipelined — the collect was
    measured slower there and reverted, see _local_broadcast). Centroid
    frames are bounded by construction (~min(sqrt N, _IVF_MAX_CELLS)
    rows via the caller's stride; trained frames are the same cells)."""
    return _local_broadcast(_with_norms(centroids, dim))[0]


def _pq_codebooks(
    corpus: DataFrame,
    n_codes: int,
    n_sub: int,
    dim: int,
    id_col: str,
    vec_col: str,
    n: int | None = None,
) -> DataFrame:
    """Broadcast (s, c, _cchunk, _cc) codebook frame: code c of subspace
    s = the s-th chunk of the corpus vector with id ``c * step``
    (deterministic strided sample — the IVF-centroid idea per subspace),
    with the centroid self-dot precomputed for cc − 2·dot ranking.

    The strided sample REQUIRES a dense 0-based integer id space: with
    sparse or offset ids the ``id % step`` filter silently yields fewer
    (or zero) codebook vectors and a degraded/empty candidate set, so
    the precondition is asserted with a clear error instead (ADVICE
    r6). Pass ``n`` when the caller already knows the corpus count
    (the IVF stride computation does) — each count() here is a
    driver-blocking job.

    r15 (guide §5, VERDICT r14 item 2): the codebook frame is collected
    to a LOCAL relation via :func:`_local_broadcast` and the density
    check reads the collected row count — ONE job now builds the
    codebooks AND proves the precondition, where the r14 form paid a
    separate driver-blocking ``sample.count()`` scan (a full corpus
    pass at 100 TB) before a broadcast that re-scanned the sample per
    consuming exchange. Every sample vector yields exactly ``n_sub``
    chunk rows, so ``len(rows) // n_sub`` equals the r14 row count
    bit-for-bit — including on duplicated-id corpora, where duplicate
    sample rows inflate it past n_codes and raise exactly as before.
    (On such contract-violating corpora the collect pulls the oversized
    sample before raising, where r14's count raised without pulling —
    accepted: the pull equals what the r14 broadcast pulled on every
    check-passing corpus, and a bounding limit() would pay
    CollectLimit's incremental job ladder on every valid call — see
    _local_broadcast. The success path is always exactly
    n_codes·n_sub rows.)"""
    if n is None:
        n = corpus.count()
    if n == 0:
        # distinct message: "re-key the corpus" would fix NOTHING here —
        # an all-NULL/filtered-to-empty corpus has no codebook to train
        # (the empty-corpus reduction of the allnull axis, class 7/10;
        # the shared "dense 0-based integer id space" phrase keeps the
        # class pins matching both raise sites)
        raise ValueError(
            "PQ codebook training requires a non-empty corpus: the "
            "corpus is empty (after NULL-vector hygiene filtering, if "
            "any) — the dense 0-based integer id space precondition "
            "cannot hold on an empty corpus."
        )
    step = max(1, n // n_codes)
    sample = corpus.filter(
        (F.col(id_col) % step == 0) & (F.col(id_col) < n_codes * step)
    )
    cents = (
        sample.select(
            F.expr(f"CAST(`{id_col}` DIV {step} AS INT)").alias("c"),
            F.posexplode(_pq_chunks(vec_col, n_sub, dim)).alias("s", "_cchunk"),
        )
        .select("s", "c", "_cchunk", dot("_cchunk", "_cchunk").alias("_cc"))
    )
    cents_b, rows = _local_broadcast(cents)
    n_found = len(rows) // n_sub
    if n_found != n_codes:
        raise ValueError(
            f"PQ codebook sampling found {n_found} of {n_codes} codebook "
            f"vectors: '{id_col}' must be a dense 0-based integer id "
            "space (ids 0..N-1). Re-key the corpus first, e.g. with a "
            "row_number over a deterministic order."
        )
    return cents_b


def _pq_dist_int(vchunk: str) -> Column:
    """cc − 2·dot(chunk, centroid chunk), floor-quantized to integer
    picounits (floor(x·1e12 + 0.5) — identical in both engines, unlike
    round()'s engine-specific half-tie rules) so downstream sums are
    exact integer sums, order-independent across partial aggregates."""
    return F.floor(
        (F.col("_cc") - 2.0 * dot(vchunk, "_cchunk")) * F.lit(1e12) + 0.5
    ).cast("bigint")


def _pq_encode(
    rows: DataFrame, cents_b: DataFrame, n_sub: int, dim: int, vec_col: str, keys: list[str]
) -> DataFrame:
    """(*keys, s, code): ``rows``' vectors chunked and PQ-encoded.
    code_s(v) = argmin_c of the quantized cc − 2·dot ranking, ties to
    the lowest code — one narrow hash aggregate over the
    (rows × n_codes) scored stream. Extra ``keys`` functionally
    dependent on the id (the cell) ride the aggregate for free."""
    chunked = rows.select(
        *keys, F.posexplode(_pq_chunks(vec_col, n_sub, dim)).alias("s", "_vchunk")
    )
    return (
        chunked.join(cents_b, "s")
        .select(*keys, "s", "c", _pq_dist_int("_vchunk").alias("_d"))
        .groupBy(*keys, "s")
        .agg(F.min_by("c", F.struct("_d", "c")).alias("code"))
    )


def _cell_codes(
    rows: DataFrame, cents: DataFrame, cents_b: DataFrame, n_sub: int, dim: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(id, cid, s, code): the IVF-PQ inverted file of ``rows`` — each
    vector assigned to its cell, then PQ-encoded with the cid carried."""
    cells = _assign_corpus(rows, cents, id_col, vec_col, dim)
    return _pq_encode(cells, cents_b, n_sub, dim, vec_col, [id_col, "cid"])


def _pq_query_tables(
    queries: DataFrame, cents_b: DataFrame, n_sub: int, dim: int, query_id_col: str, vec_col: str
) -> DataFrame:
    """Per-query ADC lookup tables: (query_id, s, code, _qd) with _qd
    the integer-picounit cc − 2·dot term for every (subspace, code)."""
    query_chunks = queries.select(
        F.col(query_id_col),
        F.posexplode(_pq_chunks(vec_col, n_sub, dim)).alias("s", "_qchunk"),
    )
    return (
        query_chunks.join(cents_b, "s")
        .select(query_id_col, "s", "c", _pq_dist_int("_qchunk").alias("_qd"))
        .withColumnRenamed("c", "code")
    )


def _adc_candidates(
    codes: DataFrame, tables: DataFrame, keys: list[str], m_cand: int, id_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, id): the top ``m_cand`` corpus ids per query by ADC
    distance — ``codes`` joined to the broadcast lookup ``tables`` on
    ``keys``, the per-subspace terms summed per (query, id) as exact
    integers, ties to the lower id. Self-pairs are excluded."""
    adc = (
        codes.join(F.broadcast(tables), keys)
        .filter(F.col(id_col) != F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_qd").alias("_adc"))
    )
    wq = Window.partitionBy(query_id_col).orderBy("_adc", id_col)
    return (
        adc.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= m_cand)
        .select(query_id_col, id_col)
    )


def _serve_rekeyed(
    fn,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    kwargs: dict,
) -> DataFrame:
    """Shared ``auto_rekey=True`` path for the dense-id ANN family
    (VERDICT r11 item 1): re-key the corpus to a dense 0-based id space
    (ops/sorts.py rekey_dense — the exact remedy the precondition error
    prescribes), serve with ``fn`` in the dense space, and map every id
    in the output back to the caller's original id space. Turns the
    strict dense-id refusal (fired on NULL-gapped, offset, and
    duplicated corpora in 4 of the 5 r11 sweeps) into a served path —
    opt-in, so the loud precondition stays the default contract.

    Semantics preserved exactly:

    * self-exclusion — queries that are corpus members (by original id)
      take their dense corpus id, so ``id <> query_id`` still excludes
      the query's own vector; on corpora with DUPLICATED original ids
      the lowest dense copy is the one excluded (the other copies are
      honest cosine-1.0 neighbors). Non-member queries get distinct
      NEGATIVE ids, which can never collide with a dense corpus id —
      exclusion is vacuous for them, as it is on the direct path.
    * output schema — (query_id, neighbor_id, rk, cosine_sim) with both
      ids in the ORIGINAL space.

    Scale shape: one range exchange for the rekey (the same price as a
    global sort), two broadcast-small probe joins to translate query
    ids, and two broadcast-|result| joins to translate the output —
    the corpus-sized mapping frame is only ever the streamed side."""
    from ..ops.sorts import rekey_dense

    orig = f"_orig_{id_col}"
    from ..ops.sorts import global_row_number

    corpus2 = rekey_dense(
        corpus, id_col, orig_alias=orig,
        persist_key=f"rekey_dense:{getattr(fn, '__name__', 'ann')}",
    )
    mapping = corpus2.select(id_col, orig)
    # one query per ORIGINAL query id, collapsed BEFORE id translation
    # (ADVICE r12: collapsing after translation let duplicate NON-member
    # rows — each holding a distinct negative id — all survive, serving
    # k results per copy). Survivor selection is DETERMINISTIC: the
    # vector with the smallest (xxhash64, bytes) wins, so duplicate
    # query rows that carry DIFFERENT vectors (queries not drawn from
    # the corpus) serve a reproducible one — one-vector-per-query-id is
    # the documented contract here, not an arbitrary dropDuplicates
    # survivor. Without the collapse, duplicated rows double every ADC
    # partial and duplicate the re-rank stream (dupnullmix probe, r12).
    quniq = (
        queries.withColumnRenamed(query_id_col, "_q_orig")
        .groupBy("_q_orig")
        .agg(
            F.min_by(
                vec_col, F.struct(F.xxhash64(vec_col), F.col(vec_col))
            ).alias(vec_col)
        )
    )
    qids = quniq.select(F.col("_q_orig").alias(orig))
    memb = (
        mapping.join(F.broadcast(qids), orig)
        .groupBy(orig)
        .agg(F.min(id_col).alias("_dense_qid"))
    )
    # negative ids for non-member queries: two-pass range-partitioned
    # numbering (ops/sorts.py global_row_number — the rekey substrate
    # itself), NOT row_number() over an unpartitioned Window: that
    # funnels the whole queries frame through ONE task, the exact
    # single-partition-window shape the engine bans at 100 TB (ADVICE
    # r12 / VERDICT r12 item 4). Negatives are distinct but need not be
    # contiguous — exclusion semantics only require that they can never
    # collide with a dense (0-based, non-negative) corpus id.
    q2 = (
        global_row_number(
            quniq,
            ["_q_orig"],
            alias="_q_rn",
            persist_key=f"rekey_queries:{getattr(fn, '__name__', 'ann')}",
        )
        .join(
            F.broadcast(memb.withColumnRenamed(orig, "_q_orig")),
            "_q_orig",
            "left",
        )
        .withColumn(
            query_id_col,
            F.coalesce(
                F.col("_dense_qid").cast("long"),
                (-F.col("_q_rn")).cast("long"),
            ),
        )
        .drop("_dense_qid", "_q_rn")
    )
    res = fn(
        corpus2.drop(orig),
        q2,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        **kwargs,
    )
    nmap = mapping.select(
        F.col(id_col).alias("neighbor_id"), F.col(orig).alias("_n_orig")
    )
    qmap = q2.select(
        F.col(query_id_col).alias("_qid"), "_q_orig"
    ).distinct()
    return (
        nmap.join(F.broadcast(res), "neighbor_id")
        .join(F.broadcast(qmap), F.col(query_id_col) == F.col("_qid"))
        .select(
            F.col("_q_orig").alias(query_id_col),
            F.col("_n_orig").alias("neighbor_id"),
            "rk",
            "cosine_sim",
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_cand: int = 20,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_count: int | None = None,
    auto_rekey: bool = False,
) -> DataFrame:
    """Product-quantization ANN with an ADC (asymmetric distance
    computation) scan — the third index family next to LSH buckets and
    IVF cells, and the memory-bound serving shape at 100 TB: the corpus
    is stored as ``n_sub`` one-byte codes per vector (here 8 codes for
    a 64-dim vector — a 64× compression over float64), queries compare
    against per-subspace lookup tables, and only the top ``m_cand``
    candidates ever touch the full-precision vectors.

    Construction (everything deterministic so the DuckDB oracle can
    rebuild the identical index):

    * Codebooks: subspace s (8 dims each) takes its centroids from the
      corpus itself — code c = the s-th chunk of the vector with id
      ``c * floor(N / n_codes)`` (the same strided-sample idea as the
      IVF centroids; swap in per-subspace trained codebooks the way
      ivf_train_centroids feeds ivf_ann_topk if recall demands it).
    * Encoding: code_s(v) = argmin_c L2²(chunk_s(v), cent[s,c]). The
      row's own self-dot is constant per (row, s), so L2² ranking
      reduces to ``cc − 2·dot`` (cc = centroid self-dot, precomputed
      once) — the same cancellation the IVF assignment uses; no
      corpus-side norms in the O(rows·codes) loop.
    * ADC: dist(q, v) ≈ Σ_s table[s][code_s(v)] where table[s][c] =
      cc − 2·dot(chunk_s(q), cent[s,c]) (the query self-dot cancels
      per query). Each term is FLOOR-QUANTIZED to integer picounits
      (floor(x·1e12 + 0.5) — identical in both engines, unlike
      round()'s engine-specific half-tie rules) so the Σ_s sum is an
      exact integer sum, order-independent across Spark's partial
      aggregates; candidate ranking ties break on id.
    * Re-rank: the |Q|·m_cand survivors score exact full-precision
      cosine (PQ's ADC approximates L2; the exact re-rank step is what
      makes the metric of record cosine, consistent with the rest of
      the family).

    Shuffles: codebooks broadcast (n_sub·n_codes rows); encoding is one
    narrow (id, s) aggregate; the ADC scan joins the code table to the
    broadcast query lookup tables on (s, code) and hash-aggregates on
    (query, id) — the corpus vectors themselves are read once for
    encoding and once for the tiny re-rank.

    NOTE the ADC scan is a deliberate LINEAR baseline: every corpus
    code row meets every query's lookup table (sf1 ratio 6.29 in the
    round-6 bench — the worst in the set, flagged `weak` there). The
    production serving shape is :func:`ivf_pq_topk`, which puts IVF
    cell pruning in front of the same ADC scan so only ~nprobe/n_cells
    of the codes are ever scanned.

    ``auto_rekey=True`` (opt-in) lifts the dense-id precondition: the
    corpus is re-keyed to a dense 0-based id space first and the output
    ids are mapped back — see :func:`_serve_rekeyed`."""
    if auto_rekey:
        return _serve_rekeyed(
            pq_adc_topk, corpus, queries, id_col, vec_col, query_id_col,
            dict(k=k, m_cand=m_cand, n_sub=n_sub, n_codes=n_codes,
                 dim=dim, corpus_count=corpus_count),
        )
    cents_b = _pq_codebooks(
        corpus, n_codes, n_sub, dim, id_col, vec_col, n=corpus_count
    )
    enc = _pq_encode(_spread(corpus), cents_b, n_sub, dim, vec_col, [id_col])
    dt = _pq_query_tables(queries, cents_b, n_sub, dim, query_id_col, vec_col)
    cand = _adc_candidates(enc, dt, ["s", "code"], m_cand, id_col, query_id_col)
    return _exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, dim
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_cand: int = 20,
    stride: int = 50,
    nprobe: int = 4,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_count: int | None = None,
    centroids: DataFrame | None = None,
    auto_rekey: bool = False,
) -> DataFrame:
    """IVF-PQ: IVF cell pruning composed in front of the PQ-ADC scan —
    the standard production ANN shape (an inverted-file index whose
    postings are PQ codes) and the scale-safe successor to
    :func:`pq_adc_topk`'s linear scan (VERDICT r6 item 2).

    Stage 0 (IVF, shared machinery with :func:`ivf_quantized_topk`):
    the corpus is assigned to inverted cells (~√N of them, capped at a
    constant by the caller's stride so assignment stays linear — see
    registry_ext._IVF_MAX_CELLS) around deterministic
    strided centroids (broadcast, codegen'd dots, keep=1 max_by — no
    shuffle beyond the narrow argmax), and each query picks its
    ``nprobe`` nearest cells. Stage 1 (PQ encode): every corpus vector
    becomes ``n_sub`` one-byte codes via the shared strided codebooks —
    same codes as the flat ADC scan, so recall vs brute force is
    unchanged for candidates inside probed cells. Stage 2 (gated ADC):
    the query lookup tables join their probed cells' codes on
    ``(cid, s, code)`` — an equi-join whose cid key prunes the scan to
    ~nprobe/n_cells of the corpus codes, where :func:`pq_adc_topk`
    scans all of them. The scanned fraction SHRINKS as the corpus
    grows up to the cell cap and holds constant beyond it — the IVF
    scaling argument measured at sf1 for the quantized twin. Stage 3:
    exact full-precision re-rank of the |Q|·m_cand survivors.

    Cross-engine determinism is inherited from both parents: the
    cell/probe boundary uses the same dot/centroid-norm + cid tie rule
    as the IVF oracles, and the ADC terms are floor-quantized integer
    picounits, so candidate sets — and therefore results — are
    bit-identical in the DuckDB oracle, which rebuilds the entire
    composed index in SQL. Pass ``centroids`` (cid, _cvec — e.g. from
    :func:`ivf_train_centroids`) to search a trained index with the
    same cell/probe/ADC machinery (the trained IVF-PQ serving shape).

    ``auto_rekey=True`` (opt-in) lifts the dense-id precondition (which
    otherwise gates BOTH the strided centroids and the PQ codebooks):
    the corpus is re-keyed to a dense 0-based id space first and the
    output ids are mapped back — see :func:`_serve_rekeyed`."""
    if auto_rekey:
        return _serve_rekeyed(
            ivf_pq_topk, corpus, queries, id_col, vec_col, query_id_col,
            dict(k=k, m_cand=m_cand, stride=stride, nprobe=nprobe,
                 n_sub=n_sub, n_codes=n_codes, dim=dim,
                 corpus_count=corpus_count, centroids=centroids),
        )
    cents = _ivf_centroids(corpus, centroids, stride, dim, id_col, vec_col)
    probes = _probe_cells(queries, cents, nprobe, query_id_col, vec_col, dim)
    cents_b = _pq_codebooks(
        corpus, n_codes, n_sub, dim, id_col, vec_col, n=corpus_count
    )
    enc = _cell_codes(corpus, cents, cents_b, n_sub, dim, id_col, vec_col)
    # gate the lookup tables by the query's probed cells: |Q|·nprobe·
    # n_sub·n_codes rows — still broadcast-sized — and the ADC join
    # becomes an equi-join on (cid, s, code) that only ever reads code
    # rows living in a probed cell
    dtp = _pq_query_tables(
        queries, cents_b, n_sub, dim, query_id_col, vec_col
    ).join(probes, query_id_col)
    cand = _adc_candidates(
        enc, dtp, ["cid", "s", "code"], m_cand, id_col, query_id_col
    )
    return _exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, dim
    )


def crossencoder_rerank_stub(
    candidates: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Cross-encoder re-ranking seam: score each (query, candidate)
    pair with a pairwise model and keep the top ``k`` — the second
    stage of the standard retrieve-then-rerank pipeline (bi-encoder
    ANN recalls a candidate set; the expensive cross-encoder orders
    it). No model runtime ships in this container, so the scorer is
    the same honest-seam pattern as the multimodal codec
    (ext/multimodal.py): an Arrow-batched ``mapInPandas`` stage whose
    deterministic md5-based stand-in exercises the real plumbing —
    pairs batch through Python exactly as ONNX/torch scoring would,
    with the per-pair texts/vectors already joined in — and is
    reproducible in the DuckDB oracle. Swap ``_stub_score`` for a real
    model call; everything else (batching, schema, the top-k window)
    is production shape. Candidate sets are |Q|·m rows, so the Python
    stage touches thousands of rows, never the corpus."""
    import pandas as pd

    from .hashing import py_md5_long

    def _stub_score(q, d) -> float:
        return (py_md5_long(f"{q}:{d}") % 1_000_000) / 1_000_000.0

    # id field types come from the candidate frame — hardcoding `long`
    # here made string-keyed candidate sets fail at runtime even though
    # the scoring itself is id-type-agnostic (ADVICE r6)
    in_types = {f.name: f.dataType.simpleString() for f in candidates.schema.fields}
    schema = (
        f"{query_id_col} {in_types[query_id_col]},"
        f" {id_col} {in_types[id_col]}, ce_score double"
    )

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "ce_score": [
                        _stub_score(q, d)
                        for q, d in zip(pdf[query_id_col], pdf[id_col])
                    ],
                }
            )

    scored = candidates.select(query_id_col, id_col).mapInPandas(run, schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("ce_score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "rk", F.round("ce_score", 6).alias("ce_score"))
    )


def pca_top_component(
    corpus: DataFrame,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal direction of the (mean-centered) embedding cloud by
    power iteration — the dimensionality-reduction primitive behind
    whitening, OPQ rotation estimates, and embedding-drift monitoring:
    v ← normalize(Σᵢ xᵢ·(xᵢ·v)), which converges to the leading
    eigenvector of the covariance without ever materializing the d×d
    Gram matrix (each iteration is one broadcast of v + one pass over
    the corpus — the only shuffle is a dim-sized positional aggregate).
    Returns (pos 1..dim, loading) for the final unit direction.

    Cross-engine exactness (the Lloyd-trainer playbook, applied to
    linear algebra):

    * rows quantize ONCE to integer micro-units (floor(x·1e6 + 0.5)) —
      the per-position mean is then an exact integer-sum / count, and
      centered values are exact small integers held in doubles;
    * per-row scores s = cx·v use the sequential fold (left-assoc IEEE,
      identical to DuckDB's list_dot_product) and quantize to integers
      before accumulation;
    * the accumulate Σ cx·qs is a DECIMAL(38,0) sum of exactly-
      representable double products (|cx·qs| < 2⁵³) — order-independent
      across partial aggregates at any corpus size (the bigint trick
      would overflow past ~100k rows; decimal/HUGEINT holds to 1e38);
    * each new v is floor-quantized to 6 decimals, quenching last-ulp
      drift so the NEXT iteration's inputs agree bit-for-bit.

    Sign follows the deterministic v₀ (uniform 1/√dim); flip by
    convention downstream if needed. The tiny v frame is
    localCheckpoint'ed per pass (same lineage-cut as
    :func:`ivf_train_centroids`)."""
    import math

    from .caching import swap_persist

    spark = corpus.sparkSession
    # swap-persisted, not bare persist: the quantized and centered
    # frames are corpus-sized and a bare persist would leak one cache
    # entry per invocation (ext/caching.py, review round 5)
    q = swap_persist(
        "pca_quantized",
        _spread(corpus).selectExpr(
            f"transform(`{vec_col}`, x -> CAST(floor(x * 1000000.0D + 0.5D)"
            " AS BIGINT)) AS _qx"
        ),
    )
    by_pos = q.select(F.posexplode("_qx").alias("pos", "_q"))
    means = by_pos.groupBy("pos").agg(
        F.floor(F.sum("_q") / F.count("*") + 0.5).cast("bigint").alias("_mq")
    )
    marr = (
        means.agg(F.array_sort(F.collect_list(F.struct("pos", "_mq"))).alias("_pm"))
        .select(F.expr("transform(_pm, x -> x._mq)").alias("_marr"))
    )
    cx = swap_persist(
        "pca_centered",
        q.crossJoin(F.broadcast(marr)).selectExpr(
            "transform(zip_with(_qx, _marr, (a, b) -> a - b),"
            " x -> CAST(x AS DOUBLE)) AS _cx"
        ),
    )
    v0 = round(1.0 / math.sqrt(dim), 6)
    v = spark.range(1).select(
        F.expr(f"transform(sequence(1, {dim}), i -> CAST({v0!r} AS DOUBLE))").alias("_v")
    )
    norm = ("sqrt(aggregate(transform(_a, y -> y * y), 0.0D,"
            " (acc, y) -> acc + y))")
    for _ in range(iters):
        s = cx.crossJoin(F.broadcast(v)).select(
            "_cx",
            F.floor(dot("_cx", "_v", dim) + F.lit(0.5)).cast("bigint").alias("_qs"),
        )
        acc = (
            s.select(F.posexplode("_cx").alias("pos", "_c"), "_qs")
            .groupBy("pos")
            .agg(
                F.sum((F.col("_c") * F.col("_qs")).cast("decimal(38,0)")).alias("_acc")
            )
        )
        a = (
            acc.agg(F.array_sort(F.collect_list(F.struct("pos", "_acc"))).alias("_pa"))
            .select(F.expr("transform(_pa, x -> CAST(x._acc AS DOUBLE))").alias("_a"))
        )
        v = a.select(
            F.expr(
                # try_divide + coalesce-to-zero: a degenerate corpus
                # (single vector, zero projections) gives a zero
                # accumulator norm; both engines then renormalize to the
                # ZERO vector (NULL loadings would crash the oracle's
                # next list_dot_product iteration) — r10 sweep
                f"transform(_a, x -> coalesce(floor(try_divide(x, {norm})"
                " * 1000000.0D + 0.5D), 0.0D) / 1000000.0D) AS _v"
            )
        ).localCheckpoint()
    return v.select(F.posexplode("_v").alias("pos0", "loading")).select(
        (F.col("pos0") + 1).cast("int").alias("pos"), "loading"
    )
