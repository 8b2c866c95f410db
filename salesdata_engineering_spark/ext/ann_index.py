"""Persisted IVF-PQ index: build once, serve many.

Every composed-ANN query in this engine (``ivf_quantized_topk``,
``ivf_pq_topk``) rebuilds its index — centroids, cell assignment, PQ
codebooks, corpus codes — inside the query, so the benched wall time is
dominated by index CONSTRUCTION, not search (classified in
PERF_NOTES.md).  A production deployment does neither: it builds the
index once, persists it next to the corpus, and serves every query
against the persisted artifact.  This module is that split.

Layout on disk (all vanilla parquet, so the index lives wherever the
corpus lives — local FS here, an object store on a cluster):

* ``<dir>/centroids``  — (cid, _cvec, _cn): the IVF centroids with
  their norms (~√N of them, capped at a constant beyond 128² vectors —
  see registry_ext._IVF_MAX_CELLS — so the build stays linear).  Tiny;
  broadcast at serve time.
* ``<dir>/codebooks``  — (s, c, _cchunk, _cc): the PQ codebooks
  (n_sub·n_codes rows).  Tiny; broadcast at serve time.
* ``<dir>/codes``      — (id, s, code) **partitioned by cid**: the
  inverted file.  Partitioning by cell is the point: a query probing
  ``nprobe`` of the cells pushes ``cid IN (...)`` into the scan as a
  PARTITION filter, so serving reads only the probed posting lists —
  ~nprobe/n_cells of the index (shrinking with the corpus up to the
  cell cap, constant ~3% beyond it).
* ``<dir>/meta``       — one-row parquet recording the build parameters
  (dim, n_sub, n_codes, stride, corpus count); serve-time mismatches
  raise instead of silently searching a differently-shaped index.

Publication goes through :func:`..fsops.swap_in`: the index is built
into ``fsops.staged(<dir>)`` and swapped in whole, so a published directory is
always a complete index.

Determinism: the build re-uses the exact machinery of the in-query
composed ANN (strided centroids, cc − 2·dot argmin encode with integer
picounits, lowest-code ties), and doubles round-trip parquet exactly, so
a search over the persisted index returns bit-identical results to
``ivf_pq_topk`` on the same corpus — the same DuckDB oracle covers both.

Reference parity: the reference has no ANN at all; this extends the X2
similarity family (SURVEY §2.12) with the serving-side shape the round-6
verdict asked the round-7 composed ANN to grow into.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .similarity import (
    _adc_candidates,
    _cell_codes,
    _exact_rerank,
    _local_centroids,
    _pq_codebooks,
    _pq_query_tables,
    _probe_cells,
    _strided_centroids,
    _with_norms,
)

#: The index artifacts' schemas, fixed by build_ivf_pq_index at write
#: time (meta is written with exactly the _META_SCHEMA DDL; centroids
#: carry the corpus vector cast to array<double>; codebooks are the
#: _pq_codebooks projection). Passing them at read time skips the
#: per-serve footer schema inference on every artifact (guide §5).
_META_SCHEMA = (
    "dim int, n_sub int, n_codes int, stride int, n bigint, id_col string"
)
_CENTROIDS_SCHEMA = "cid bigint, _cvec array<double>"
_CODEBOOKS_SCHEMA = "s int, c int, _cchunk array<double>, _cc double"


def _read_meta(spark: SparkSession, index_dir: str) -> Row:
    """The index's one-row build record."""
    return spark.read.schema(_META_SCHEMA).parquet(f"{index_dir}/meta").collect()[0]


def _read_centroids(spark: SparkSession, index_dir: str, dim: int) -> DataFrame:
    """The persisted centroids with norms, broadcast."""
    return F.broadcast(
        _with_norms(
            spark.read.schema(_CENTROIDS_SCHEMA).parquet(f"{index_dir}/centroids"),
            dim,
        )
    )


def _read_codebooks(spark: SparkSession, index_dir: str) -> DataFrame:
    """The persisted PQ codebooks, broadcast."""
    return F.broadcast(
        spark.read.schema(_CODEBOOKS_SCHEMA).parquet(f"{index_dir}/codebooks")
    )


def build_ivf_pq_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    *,
    stride: int,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
) -> str:
    """Build and atomically publish an IVF-PQ index for ``corpus``.

    Exactly the stage-0/stage-1 work of :func:`ext.similarity.ivf_pq_topk`
    (strided centroids → cell assignment → strided codebooks → argmin
    PQ encode), materialized instead of consumed: the coded inverted
    file is written partitioned by ``cid`` so serve-time cell probes
    become partition pruning.  The index is written to
    ``fsops.staged(index_dir)`` and published by :func:`..fsops.swap_in`.
    Returns ``index_dir``.
    """
    from ..fsops import fs_delete, staged, swap_in

    n = corpus.count() if corpus_count is None else corpus_count
    # collected local relation (r15, see similarity._local_broadcast):
    # the cell assignment references cents and the centroids parquet
    # write below reads the same sample — collecting once means the
    # strided-centroid corpus scan runs exactly once per build
    cents = _local_centroids(_strided_centroids(corpus, stride, id_col, vec_col), dim)
    cents_b = _pq_codebooks(corpus, n_codes, n_sub, dim, id_col, vec_col, n=n)
    enc = _cell_codes(corpus, cents, cents_b, n_sub, dim, id_col, vec_col)

    new_dir = staged(index_dir)
    fs_delete(spark, new_dir, recursive=True)  # leftover of a crashed build
    # written from the collected local relation — no corpus re-scan
    cents.select("cid", "_cvec").write.mode("overwrite").parquet(
        f"{new_dir}/centroids"
    )
    # select() fixes the column order; partitionBy moves cid into the path
    enc.select(id_col, "s", "code", "cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{new_dir}/codes")
    local_frame(
        spark, [(dim, n_sub, n_codes, stride, n, id_col)], _META_SCHEMA
    ).write.mode("overwrite").parquet(f"{new_dir}/meta")
    cents_b.select("s", "c", "_cchunk", "_cc").write.mode("overwrite").parquet(
        f"{new_dir}/codebooks"
    )

    swap_in(spark, index_dir)
    return index_dir


def _read_probed_codes(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    id_col: str,
    probe_cids: list,
) -> DataFrame:
    """The coded inverted file restricted to the probed cells, read by
    EXPLICIT leaf directories instead of whole-tree partition discovery
    (r15, guide §5/§6 — VERDICT r14 item 2's '45-path file listing').

    ``spark.read.parquet(codes)`` listed every ``cid=`` partition (a
    listing JOB once the cell count passes the 32-path parallel-
    discovery threshold — thousands of paths per serve at production
    nlist) and inferred the schema from footers, only for the
    ``cid IN (...)`` filter to prune all but ~nprobe·|Q| of them. The
    probed cids are already collected, so this lists the codes dir ONCE
    (cell names only, no per-file recursion outside probed cells),
    reads exactly the probed leaf dirs under a basePath (cid is
    recovered from the path), and keeps the ``isin`` partition filter
    so the scan still carries the PartitionFilters prune. A probed cell
    with no directory (possible: a centroid can itself be assigned to
    ANOTHER centroid's cell, so an empty cell writes no dir) contributes
    zero rows — exactly what partition pruning produced. The schema is
    pinned from the build contract for both the read and the no-cell
    frame: the id column keeps the corpus's id dtype (the
    fingerprint-pinned build corpus IS this corpus), s/code are the INTs
    _pq_encode emits, and cid is the centroids' BIGINT.
    This is also debris-proof: a crashed compaction's ``cid=N.old``
    leftovers can never widen cid to string here, because only exact
    ``cid=N`` names are ever read."""
    from pyspark.sql import types as T

    from ..fsops import fs_list

    codes_dir = f"{index_dir}/codes"
    live = {e.name for e in fs_list(spark, codes_dir) if e.is_dir}
    schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("s", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("cid", T.LongType()),
        ]
    )
    paths = [f"{codes_dir}/cid={c}" for c in probe_cids if f"cid={c}" in live]
    if not paths:
        return local_frame(spark, [], schema)
    return (
        spark.read.option("basePath", codes_dir)
        .schema(schema)
        .parquet(*paths)
        .filter(F.col("cid").isin(probe_cids))
    )


def search_ivf_pq_index(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    m_cand: int = 20,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Serve ANN top-k from a persisted IVF-PQ index.

    The serve plan touches, in order: the broadcast centroid/codebook
    frames (tiny), the probed PARTITIONS of the coded inverted file
    (``cid IN (...)`` is collected from the bounded |Q|·nprobe probe set
    — a metadata-sized collect, like ingest's file list — and pushed
    into the scan as a partition filter), and full-precision vectors for
    the |Q|·m_cand re-rank survivors only.  The corpus itself is never
    scanned for candidate generation — that is the whole point of
    persisting the index.
    """
    # every artifact read passes its KNOWN schema (r15, guide §5 /
    # VERDICT r14 item 2 — the serve path's sequential bounded driver
    # steps): build_ivf_pq_index fixes these schemas at write time, so
    # re-inferring them from footers on every serve paid a driver-side
    # footer read per artifact (and, for the cid-partitioned codes
    # tree, a full partition-discovery listing of EVERY cell — a
    # listing job past the 32-path parallel-discovery threshold; at
    # production cell counts that is thousands of paths per serve).
    meta = _read_meta(spark, index_dir)
    dim, n_sub = meta["dim"], meta["n_sub"]
    probes = _probe_cells(
        queries, _read_centroids(spark, index_dir, dim), nprobe, query_id_col,
        vec_col, dim,
    )
    probe_rows = probes.collect()  # bounded: |Q| · nprobe rows
    probe_cids = sorted({r["cid"] for r in probe_rows})
    # re-create from the collected rows (schema derived, not hardcoded)
    # so the probe subtree is not recomputed for the join below
    probes_b = F.broadcast(local_frame(spark, probe_rows, probes.schema))
    codes = _read_probed_codes(spark, index_dir, corpus, id_col, probe_cids)
    dtp = _pq_query_tables(
        queries, _read_codebooks(spark, index_dir), n_sub, dim, query_id_col,
        vec_col,
    ).join(probes_b, query_id_col)
    cand = _adc_candidates(
        codes, dtp, ["cid", "s", "code"], m_cand, id_col, query_id_col
    )
    return _exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, dim
    )


def encode_batch_for_index(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    *,
    id_col: str | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode a NEW batch against a persisted index's frozen geometry.

    Returns the (id, s, code, cid) coded rows for ``batch`` using the
    index's PERSISTED centroids and codebooks — both tiny, both
    broadcast. The plan reads the batch, ``<dir>/centroids`` and
    ``<dir>/codebooks`` and nothing else: the existing posting lists
    (``<dir>/codes``) are never scanned, which is what makes append
    O(|batch|) instead of O(corpus). Split out from
    :func:`append_ivf_pq_index` so tests can assert that plan shape
    directly.

    Because the geometry is frozen, encoding a batch here is
    bit-identical to what :func:`build_ivf_pq_index` would have coded
    for the same rows in a full rebuild — PROVIDED the batch contains
    none of the strided centroid/codebook sample ids (else the rebuild
    would have picked different geometry). Callers own that split;
    the registered query derives the batch predicate from the same
    stride/step arithmetic the build uses.
    """
    meta = _read_meta(spark, index_dir)
    dim, n_sub = meta["dim"], meta["n_sub"]
    id_col = id_col or meta["id_col"]
    enc = _cell_codes(
        batch, _read_centroids(spark, index_dir, dim),
        _read_codebooks(spark, index_dir), n_sub, dim, id_col, vec_col,
    )
    return enc.select(id_col, "s", "code", "cid")


def append_ivf_pq_index(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    *,
    id_col: str | None = None,
    vec_col: str = "embedding",
) -> str:
    """Incrementally add ``batch`` to a persisted IVF-PQ index — the
    production operation a 100 TB corpus needs where full rebuilds are
    not an option (VERDICT r7 item 2; the asymmetric-new-batch pattern
    of ``dedup_incremental_new_batch``, applied to the ANN index).

    Mechanics: encode the batch against the index's frozen
    centroids/codebooks (:func:`encode_batch_for_index` — broadcast
    geometry, batch-only scan) and APPEND the coded rows into the
    cid-partitioned posting lists. Only the partitions of cells the
    batch actually lands in receive new files; every pre-existing file
    is untouched (asserted by test_ann_index.py at the filesystem
    level).

    Crash safety: Spark's file committer stages task output under
    ``codes/_temporary`` and publishes at job commit; readers ignore
    ``_``-prefixed paths, so a crash mid-append leaves the OLD index
    fully intact and the retry is idempotent-by-rerun. ``<dir>/meta``
    is deliberately IMMUTABLE under append: everything serve-time reads
    from it (dim, n_sub, id_col) is invariant across appends, and its
    ``n`` documents the BASE build — leaving it untouched means there
    is no meta-rewrite crash window at all.
    """
    enc = encode_batch_for_index(
        spark, index_dir, batch, id_col=id_col, vec_col=vec_col
    )
    enc.write.mode("append").partitionBy("cid").parquet(f"{index_dir}/codes")
    return index_dir


def index_counts(spark: SparkSession, index_dir: str) -> dict:
    """Authoritative row accounting for a persisted index.

    ``meta/n`` is the BUILD PARAMETER n — the corpus size the geometry
    (stride, codebook step) was derived for — and is deliberately
    immutable under append so there is no meta-rewrite crash window
    (see :func:`append_ivf_pq_index`). It is NOT the number of indexed
    vectors: an incremental base build already passes the intended
    full-corpus n for geometry while indexing only the base rows, and
    every append widens the gap further. Any consumer that needs the
    CURRENT indexed count (stats, selectivity, recall denominators)
    must read the codes-side truth; this is that readout (VERDICT r8
    item 5b). Each indexed vector contributes exactly ``n_sub`` coded
    rows, so the id count is ``count(codes) / n_sub`` — a parquet
    footer-metadata count, no data scan."""
    meta = _read_meta(spark, index_dir)
    indexed = spark.read.parquet(f"{index_dir}/codes").count() // meta["n_sub"]
    return {"meta_n": meta["n"], "indexed_n": indexed}


def compact_index_postings(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    batch_cells: int = 32,
) -> dict:
    """Compact the posting lists after N appends (VERDICT r8 item 5a).

    Every append lands >=1 new small file in each touched ``cid=``
    partition; after many increments the per-cell file count — not data
    volume — starts to dominate serve-time open cost (the classic
    small-files regression ``ops/layout.compact_parquet_dir`` exists
    for). Multi-file leaves are rewritten in place; single-file leaves
    are left untouched (no needless rewrite, no mtime churn). Partition
    pruning is preserved by construction: the hive ``cid=`` layout
    never changes.

    Job shape (VERDICT r9 item 3): the r9 form submitted one Spark job
    per multi-file leaf — at production cell counts that is 10k+
    sequential job submissions for one maintenance pass, with driver
    round-trip latency dominating. Now every multi-file leaf whose data
    fits ONE target file (the overwhelmingly common small-files case)
    is rewritten in BATCHES: up to ``batch_cells`` leaves are read
    together (``basePath`` recovers cid), repartitioned by cid and
    written partitioned-by-cid to a ``_``-prefixed scratch dir — ONE
    Spark job per batch, exactly one output file per cell — and then
    each cell is staged at ``cid=N.new`` and published by
    :func:`..fsops.swap_in`. Oversized leaves (> target_file_bytes,
    needing a computed multi-file output) still go through
    compact_parquet_dir individually. ``batch_cells`` stays at Spark's default
    parallelPartitionDiscovery threshold so the batched read never
    spawns its own listing job.

    Crash safety, window by window: a kill during the batched scratch
    write leaves only ``codes/_compact_scratch`` (readers ignore
    ``_``-prefixed paths; the next call deletes it). A kill after a
    cell's scratch output was renamed to ``cid=N.new`` but before its
    swap is healed by the debris pass below (stale .new next to a live
    leaf is deleted and the leaf recompacted). A kill inside a swap is
    finished or rolled back by :func:`..fsops.recover_swap`, which the
    debris pass runs through compact_parquet_dir.

    Serving results are bit-identical before/after — compaction only
    re-bins the same (id, s, code) rows into fewer files
    (test_ann_index.py pins this against the full-corpus oracle).

    Returns {"cells_compacted", "files_before", "files_after"} counted
    over parquet data files in the cid partitions (debris-healed cells
    count toward cells_compacted and files_after; their pre-heal file
    count is ill-defined and excluded from files_before)."""
    from ..fsops import fs_delete, fs_list
    from ..ops.layout import compact_parquet_dir

    def parquet_files(leaf: str) -> list:
        return [e for e in fs_list(spark, leaf) if e.name.endswith(".parquet")]

    codes_dir = f"{index_dir}/codes"
    # debris from a kill mid-batch-write
    fs_delete(spark, f"{codes_dir}/{_SCRATCH}", recursive=True)
    # Heal crash-window debris FIRST: a kill inside a previous call's
    # swap can leave cid=N.old / cid=N.new (possibly with cid=N gone).
    # Left alone they would be mis-read as live partitions — Spark's
    # partition discovery parses 'N.old' and widens cid to string,
    # silently breaking the serve-time cid IN (...) prune. Invoking
    # compact_parquet_dir on the LIVE path recovers the swap
    # (fsops.recover_swap) and recompacts the leaf, whose own swap
    # replaces the stale siblings, before any new work.
    debris_live = {
        e.name.rsplit(".", 1)[0]
        for e in fs_list(spark, codes_dir)
        if e.is_dir and e.name.startswith("cid=") and e.name.endswith((".old", ".new"))
    }
    for live in sorted(debris_live):
        compact_parquet_dir(spark, f"{codes_dir}/{live}", target_file_bytes)
    before = after = 0
    compacted = len(debris_live)
    small_leaves = []  # multi-file leaves fitting ONE target file
    for leaf in fs_list(spark, codes_dir):
        if (
            not leaf.is_dir
            or not leaf.name.startswith("cid=")
            or leaf.name.endswith((".old", ".new"))
        ):
            continue
        files = parquet_files(leaf.uri)
        if leaf.name in debris_live:
            after += len(files)
            continue
        before += len(files)
        if len(files) <= 1:
            after += len(files)
            continue
        if sum(f.size for f in files) > target_file_bytes:
            # needs a computed multi-file output — per-leaf path
            compact_parquet_dir(spark, leaf.uri, target_file_bytes)
            after += len(parquet_files(leaf.uri))
            compacted += 1
        else:
            small_leaves.append(leaf.uri)
    # Job accounting for the batch loop (the whole point of batching):
    # parquet schema inference launches its own footer-reading job per
    # read, so the schema is inferred ONCE (first batch) and passed
    # explicitly after; AQE executes every shuffle query as 2+ jobs
    # (map stage + re-planned write), so it is disabled around the
    # loop — the plan is a fixed repartition(len(group), cid) with
    # nothing for AQE to re-plan. Net: ceil(n_small/batch_cells) write
    # jobs + 1 inference job for the whole pass (pinned by
    # test_ann_index.py's job-group counter).
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_prev = spark.conf.get(aqe_key, None) if small_leaves else None
    if small_leaves:
        spark.conf.set(aqe_key, "false")
    schema = None
    try:
        for i in range(0, len(small_leaves), max(1, batch_cells)):
            group = small_leaves[i : i + max(1, batch_cells)]
            schema = _compact_leaf_group(
                spark, codes_dir, group, schema, target_file_bytes
            )
            after += sum(len(parquet_files(leaf)) for leaf in group)
            compacted += len(group)
    finally:
        # conf.get(key, None) returns None — NOT the effective default
        # "true" — when the session never set the key explicitly (the
        # driver's bare session); a plain "restore if not None" would
        # leave AQE disabled for every later query in that session.
        # unset() returns the conf to its default instead.
        if small_leaves:
            if aqe_prev is not None:
                spark.conf.set(aqe_key, aqe_prev)
            else:
                spark.conf.unset(aqe_key)
    return {
        "cells_compacted": compacted,
        "files_before": before,
        "files_after": after,
    }


#: the batched compaction's output dir under ``codes`` (readers skip ``_`` names)
_SCRATCH = "_compact_scratch"


def _compact_leaf_group(spark, codes_dir, group, schema, target_file_bytes):
    """One batched rewrite: read the ``group`` leaf dirs together, write
    one file per cell to scratch in ONE Spark job, then stage each cell
    at ``fsops.staged(leaf)`` and publish it with :func:`..fsops.swap_in`.
    Returns the codes schema so the caller can pass it to later batches
    (skipping per-read inference jobs)."""
    from ..fsops import fs_delete, fs_exists, fs_rename, staged, swap_in
    from ..ops.layout import compact_parquet_dir

    scratch = f"{codes_dir}/{_SCRATCH}"
    fs_delete(spark, scratch, recursive=True)
    reader = spark.read.option("basePath", codes_dir)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*group)
    # each cid hashes into exactly one shuffle partition, so the
    # partitionBy write emits exactly one file per cell
    df.repartition(len(group), "cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(scratch)
    for leaf in group:
        src = f"{scratch}/{leaf.rsplit('/', 1)[1]}"
        if not fs_exists(spark, src):
            # all-empty leaf: partitionBy wrote no dir — rare, fall
            # back to the per-leaf rewrite (emits one empty file)
            compact_parquet_dir(spark, leaf, target_file_bytes)
        else:
            fs_delete(spark, staged(leaf), recursive=True)
            fs_rename(spark, src, staged(leaf))
            swap_in(spark, leaf)
    fs_delete(spark, scratch, recursive=True)
    return df.schema


def corpus_fingerprint(
    spark: SparkSession, data_dir: str, table: str = "embeddings.parquet"
) -> str:
    """Content key for index caching: :func:`..fsops.inventory_fingerprint`
    of the corpus parquet (uri, size, mtime of every file, listed
    through the Hadoop FS, so any scheme keys by content).  Any
    regeneration of the testdata — same path, same row count, different
    values — changes mtimes and therefore the key, so a cached index can
    never silently serve stale results."""
    from ..fsops import inventory_fingerprint

    return inventory_fingerprint(spark, f"{data_dir.rstrip('/')}/{table}")


def ensure_ivf_pq_index(
    spark: SparkSession,
    corpus: DataFrame,
    sf_dir: str,
    cache_root: str,
    deferred_sizing=None,
    **build_kwargs,
) -> str:
    """Build-or-reuse: the persisted index for ``sf_dir``'s embeddings,
    keyed by corpus fingerprint + build parameters + the build code's
    version (:func:`_cached_index`).  First call builds (one-time cost);
    every later call — across sessions — returns the published
    directory immediately.  A build cut by a crash is never served: see
    :func:`..fsops.recover_swap`.

    ``deferred_sizing`` (r14, guide §5 "the driver should do almost no
    data work"): a thunk returning extra build kwargs that require
    scanning the corpus (``{"stride": ..., "corpus_count": n}``), called
    ONLY on a cache miss.  Without it the serve path paid a full
    ``corpus.count()`` job per call just to reconstruct the cache key —
    at 100 TB that is a corpus scan to look up a cache hit.  Keying on
    the fingerprint alone is equally sound for those kwargs: the
    fingerprint pins the corpus bytes, which pin N, which pins the
    derived stride — one content, one key, one index.

    CONTRACT (ADVICE r14): every ``deferred_sizing`` caller for a given
    ``sf_dir`` must pass the CANONICAL corpus — the ``_embs_nn`` intake
    (vec_id IS NOT NULL AND embedding IS NOT NULL, cast to
    array<double>) — and a thunk returning the ``_ivf_stride`` formula
    over that corpus's count.  The ``:derived-sizing`` key suffix
    encodes this convention, not the thunk itself: two callers with
    different corpora or sizing formulas would collide on one key and
    whichever builds first would silently serve the other.  Current
    callers (the registered serve query and bench's _ann_serve_scaling)
    both honor it; a new caller with a different intake must key its
    index explicitly (pass stride/corpus_count directly) instead."""
    key_src = corpus_fingerprint(spark, sf_dir) + repr(sorted(build_kwargs.items()))
    if deferred_sizing is not None:
        key_src += ":derived-sizing"
    index_dir, hit = _cached_index(spark, cache_root, "ivf_pq", key_src)
    if hit:
        return index_dir
    if deferred_sizing is not None:
        build_kwargs.update(deferred_sizing())
    return build_ivf_pq_index(spark, corpus, index_dir, **build_kwargs)


@functools.cache
def _code_version() -> str:
    """md5 of this module's and ``similarity.py``'s source bytes — the
    build, encode and compaction stages — read once per process."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.md5()
    for name in ("similarity.py", "ann_index.py"):
        with open(os.path.join(here, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _cached_index(
    spark: SparkSession, cache_root: str, prefix: str, key_src: str
) -> tuple[str, bool]:
    """(directory, hit) of the cached index keyed by ``key_src``, named
    ``{prefix}_{version}_{key}`` so an edit to the build code keys a
    fresh directory. An interrupted swap is recovered first; a hit means
    a published ``codes`` dir. A miss evicts every entry under
    ``cache_root`` that another code version built."""
    from ..fsops import fs_delete, fs_exists, fs_list, recover_swap

    version = hashlib.md5(_code_version().encode()).hexdigest()[:8]
    key = hashlib.md5(key_src.encode()).hexdigest()[:16]
    index_dir = f"{cache_root}/{prefix}_{version}_{key}"
    recover_swap(spark, index_dir)
    if fs_exists(spark, f"{index_dir}/codes"):
        return index_dir, True
    for e in fs_list(spark, cache_root):
        if f"_{version}_" not in e.name:
            fs_delete(spark, e.uri, recursive=True)
    return index_dir, False
