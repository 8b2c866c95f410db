"""Persisted IVF-PQ index (ext/ann_index.py): build/serve split.

The registered ``sim_ivf_pq_index_serve`` entry is oracle-checked by
test_oracle_parity like everything else; these tests pin the properties
the oracle can't see — cache reuse, fingerprint keying, and the
crash-safe publication swap.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import salesdata_engineering_spark.registry  # noqa: F401  (import-order anchor)
from salesdata_engineering_spark.ext.ann_index import (
    append_ivf_pq_index,
    build_ivf_pq_index,
    corpus_fingerprint,
    encode_batch_for_index,
    ensure_ivf_pq_index,
    search_ivf_pq_index,
)
from salesdata_engineering_spark.ext.similarity import ivf_pq_topk
from salesdata_engineering_spark.registry_ext import (
    _embs,
    _ivf_stride,
    _queries_subset,
)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = _embs(spark, sf_dir)
    return emb.withColumn("embedding", F.col("embedding").cast("array<double>"))


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy("query_id", "rk").collect()]


def test_persisted_index_serves_identical_results(spark, sf_dir, corpus, tmp_path):
    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    q = _queries_subset(corpus)
    ref = ivf_pq_topk(
        corpus, q, k=5, m_cand=40, n_codes=64,
        stride=stride, nprobe=4, corpus_count=n,
    )
    idx = build_ivf_pq_index(
        spark, corpus, str(tmp_path / "idx"),
        stride=stride, n_codes=64, corpus_count=n,
    )
    got = search_ivf_pq_index(spark, idx, corpus, q, k=5, m_cand=40, nprobe=4)
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_ensure_reuses_published_index(spark, sf_dir, corpus, tmp_path):
    n = corpus.count()
    kw = dict(stride=_ivf_stride(corpus, n), n_codes=64, corpus_count=n)
    root = str(tmp_path / "cache")
    idx1 = ensure_ivf_pq_index(spark, corpus, sf_dir, root, **kw)
    stamp = os.path.getmtime(os.path.join(idx1, "codes"))
    idx2 = ensure_ivf_pq_index(spark, corpus, sf_dir, root, **kw)
    assert idx2 == idx1
    assert os.path.getmtime(os.path.join(idx1, "codes")) == stamp  # no rebuild
    # different build parameters key a DIFFERENT index directory
    kw2 = dict(kw, n_codes=16)
    idx3 = ensure_ivf_pq_index(spark, corpus, sf_dir, root, **kw2)
    assert idx3 != idx1


def test_ensure_rekeys_on_build_code_change(
    spark, sf_dir, corpus, tmp_path, monkeypatch
):
    """The cache key carries the build code's version: a changed digest
    keys a fresh directory and builds it. A hit first recovers an
    interrupted swap (here: a crash left the published index at .old)."""
    from salesdata_engineering_spark.ext import ann_index

    n = corpus.count()
    kw = dict(stride=_ivf_stride(corpus, n), n_codes=64, corpus_count=n)
    root = str(tmp_path / "cache")
    idx1 = ensure_ivf_pq_index(spark, corpus, sf_dir, root, **kw)
    os.rename(idx1, f"{idx1}.old")
    built = []
    real_build = ann_index.build_ivf_pq_index

    def counting_build(*a, **k):
        built.append(a[2])
        return real_build(*a, **k)

    monkeypatch.setattr(ann_index, "build_ivf_pq_index", counting_build)
    assert ensure_ivf_pq_index(spark, corpus, sf_dir, root, **kw) == idx1
    assert built == [] and not os.path.exists(f"{idx1}.old")

    monkeypatch.setattr(ann_index, "_code_version", lambda: "edited build code")
    idx2 = ensure_ivf_pq_index(spark, corpus, sf_dir, root, **kw)
    assert idx2 != idx1 and built == [idx2]
    assert os.path.isdir(os.path.join(idx2, "codes"))
    # the miss evicted the index the earlier code version built
    assert os.listdir(root) == [os.path.basename(idx2)]


def test_ensure_deferred_sizing_skips_corpus_scan_on_hit(
    spark, sf_dir, corpus, tmp_path
):
    """The r14 serve fast path: with deferred_sizing, a cache HIT must
    return without invoking the sizing thunk (i.e. without the
    corpus.count() job the serve query previously paid per call), and
    the derived-sizing key must resolve to ONE index across calls."""
    root = str(tmp_path / "cache")

    def sizing():
        n = corpus.count()
        return {"stride": _ivf_stride(corpus, n), "corpus_count": n}

    idx1 = ensure_ivf_pq_index(
        spark, corpus, sf_dir, root, deferred_sizing=sizing, n_codes=64
    )
    stamp = os.path.getmtime(os.path.join(idx1, "codes"))

    def sizing_must_not_run():
        raise AssertionError("sizing thunk invoked on a cache hit")

    idx2 = ensure_ivf_pq_index(
        spark, corpus, sf_dir, root,
        deferred_sizing=sizing_must_not_run, n_codes=64,
    )
    assert idx2 == idx1
    assert os.path.getmtime(os.path.join(idx1, "codes")) == stamp  # no rebuild
    # the deferred-sizing index is bit-compatible with an explicit-kwargs
    # build: same corpus, same geometry, identical serve results
    n = corpus.count()
    explicit = ensure_ivf_pq_index(
        spark, corpus, sf_dir, root,
        stride=_ivf_stride(corpus, n), n_codes=64, corpus_count=n,
    )
    q = _queries_subset(corpus)
    got1 = search_ivf_pq_index(spark, idx1, corpus, q, k=5, m_cand=40, nprobe=4)
    got2 = search_ivf_pq_index(spark, explicit, corpus, q, k=5, m_cand=40, nprobe=4)
    assert _sorted_rows(got1) == _sorted_rows(got2)


def test_fingerprint_tracks_file_metadata(spark, sf_dir, tmp_path):
    fp1 = corpus_fingerprint(spark, sf_dir)
    assert fp1 == corpus_fingerprint(spark, sf_dir)  # stable
    # a different directory inventory yields a different key
    other = tmp_path / "embeddings.parquet"
    other.write_bytes(b"x")
    assert corpus_fingerprint(spark, str(tmp_path)) != fp1


@pytest.fixture(scope="module")
def slash_index(spark, corpus, tmp_path_factory):
    """An index built through an ``index_dir`` with a trailing slash."""
    n = corpus.count()
    root = tmp_path_factory.mktemp("slash")
    build_ivf_pq_index(
        spark, corpus, f"{root}/idx/",
        stride=_ivf_stride(corpus, n), n_codes=16, corpus_count=n,
    )
    return root


def test_build_through_trailing_slash_publishes(spark, corpus, slash_index):
    assert sorted(os.listdir(slash_index)) == ["idx"]
    assert os.path.isdir(slash_index / "idx" / "codes")
    got = search_ivf_pq_index(
        spark, f"{slash_index}/idx", corpus, _queries_subset(corpus), k=5, nprobe=4
    )
    assert got.count() == 50


def test_probed_codes_schema_matches_empty_probe(spark, corpus, slash_index):
    """The read branch and the no-cell branch of _read_probed_codes
    type cid alike (BIGINT, as the centroids do)."""
    from salesdata_engineering_spark.ext.ann_index import _read_probed_codes

    idx = f"{slash_index}/idx"
    live = sorted(int(d.split("=")[1]) for d in os.listdir(f"{idx}/codes") if "=" in d)
    read = _read_probed_codes(spark, idx, corpus, "vec_id", live[:2])
    empty = _read_probed_codes(spark, idx, corpus, "vec_id", [max(live) + 1])
    assert read.schema == empty.schema
    assert read.schema["cid"].dataType.simpleString() == "bigint"
    assert read.count() > 0 and empty.count() == 0


def _batch_pred(n: int, stride: int, n_codes: int = 64):
    """~10% of ids minus the strided geometry-sample ids — the split
    under which a base build's centroids/codebooks equal the full
    build's (same predicate the registered append query derives)."""
    step = max(1, n // n_codes)
    return (
        (F.col("vec_id") % 10 == 7)
        & (F.col("vec_id") % stride != 0)
        & ~((F.col("vec_id") % step == 0) & (F.col("vec_id") < n_codes * step))
    )


def _file_inventory(root):
    out = {}
    for r, _d, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            out[p] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def test_append_equals_rebuild(spark, sf_dir, corpus, tmp_path):
    """append+serve must be bit-identical to rebuild+serve — the
    correctness contract of incremental maintenance (VERDICT r7 #2)."""
    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    kw = dict(stride=stride, n_codes=64, corpus_count=n)
    q = _queries_subset(corpus)
    full = build_ivf_pq_index(spark, corpus, str(tmp_path / "full"), **kw)
    want = search_ivf_pq_index(spark, full, corpus, q, k=5, m_cand=40, nprobe=4)

    pred = _batch_pred(n, stride)
    base = build_ivf_pq_index(
        spark, corpus.filter(~pred), str(tmp_path / "inc"), **kw
    )
    assert corpus.filter(pred).count() > 0  # the batch is non-trivial
    append_ivf_pq_index(spark, base, corpus.filter(pred))
    got = search_ivf_pq_index(spark, base, corpus, q, k=5, m_cand=40, nprobe=4)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_append_touches_only_batch_cells(spark, sf_dir, corpus, tmp_path):
    """Filesystem contract: append rewrites NOTHING — every pre-existing
    file (codes, centroids, codebooks, meta) is byte-for-byte untouched
    — and new code files land ONLY inside cid= partitions of cells the
    batch was actually assigned to."""
    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    pred = _batch_pred(n, stride)
    idx = build_ivf_pq_index(
        spark, corpus.filter(~pred), str(tmp_path / "idx"),
        stride=stride, n_codes=64, corpus_count=n,
    )
    before = _file_inventory(idx)
    batch = corpus.filter(pred)
    enc = encode_batch_for_index(spark, idx, batch)
    batch_cells = {r["cid"] for r in enc.select("cid").distinct().collect()}
    append_ivf_pq_index(spark, idx, batch)
    after = _file_inventory(idx)

    def is_commit_marker(p):  # _SUCCESS + its .crc — rewritten by the
        return os.path.basename(p).lstrip(".").startswith("_")  # committer

    for p, sig in before.items():
        if is_commit_marker(p):
            continue
        assert after.get(p) == sig, f"append modified pre-existing file {p}"
    new_files = [p for p in after if p not in before and not is_commit_marker(p)]
    assert new_files, "append wrote nothing"
    for p in new_files:
        rel = os.path.relpath(p, idx)
        assert rel.startswith("codes" + os.sep), rel
        assert "cid=" in rel, rel
        cid = int(rel.split("cid=")[1].split(os.sep)[0])
        assert cid in batch_cells, f"file in un-probed cell: {rel}"


def test_append_encode_plan_never_scans_postings(spark, sf_dir, corpus, tmp_path):
    """Plan contract (VERDICT r7 #2): encoding a new batch reads the
    batch plus the BROADCAST persisted geometry — never the existing
    posting lists — so append cost is O(|batch|), not O(corpus)."""
    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    pred = _batch_pred(n, stride)
    idx = build_ivf_pq_index(
        spark, corpus.filter(~pred), str(tmp_path / "idx"),
        stride=stride, n_codes=64, corpus_count=n,
    )
    enc = encode_batch_for_index(spark, idx, corpus.filter(pred))
    plan = enc._jdf.queryExecution().executedPlan().toString()
    scanned = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert scanned and not any("codes" in ln for ln in scanned), plan
    # both geometry frames arrive as broadcasts, not shuffles
    assert plan.count("BroadcastExchange") >= 2, plan


def test_build_republishes_over_leftover_new_dir(spark, sf_dir, corpus, tmp_path):
    """A crashed previous build leaves <dir>.new; the next build must
    clean it up and still publish atomically."""
    n = corpus.count()
    target = str(tmp_path / "idx")
    os.makedirs(f"{target}.new/codes", exist_ok=True)  # simulated debris
    idx = build_ivf_pq_index(
        spark, corpus, target,
        stride=_ivf_stride(corpus, n), n_codes=64, corpus_count=n,
    )
    assert os.path.isdir(os.path.join(idx, "codes"))
    assert not os.path.exists(f"{target}.new")


def test_build_replaces_live_index(spark, sf_dir, corpus, tmp_path):
    """A rebuild over a published index swaps the new one in whole:
    no .new or .old is left, and serving matches the oracle of the new
    build parameters, not the replaced index."""
    from salesdata_engineering_spark.ext.ann_index import _read_meta

    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    target = str(tmp_path / "idx")
    build_ivf_pq_index(spark, corpus, target, stride=stride, n_codes=16, corpus_count=n)
    idx = build_ivf_pq_index(
        spark, corpus, target, stride=stride, n_codes=64, corpus_count=n
    )
    assert not os.path.exists(f"{target}.new") and not os.path.exists(f"{target}.old")
    assert _read_meta(spark, idx).n_codes == 64
    q = _queries_subset(corpus)
    ref = ivf_pq_topk(
        corpus, q, k=5, m_cand=40, n_codes=64,
        stride=stride, nprobe=4, corpus_count=n,
    )
    got = search_ivf_pq_index(spark, idx, corpus, q, k=5, m_cand=40, nprobe=4)
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_index_counts_tracks_appends(spark, sf_dir, corpus, tmp_path):
    """meta/n documents the BASE build only (immutable under append —
    no meta-rewrite crash window); index_counts reads the codes-side
    truth so a consumer can never be misled by the stale base count
    (VERDICT r8 item 5b)."""
    from salesdata_engineering_spark.ext.ann_index import index_counts

    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    pred = _batch_pred(n, stride)
    base_df, batch_df = corpus.filter(~pred), corpus.filter(pred)
    base_n, batch_n = base_df.count(), batch_df.count()
    idx = build_ivf_pq_index(
        spark, base_df, str(tmp_path / "idx"),
        stride=stride, n_codes=64, corpus_count=n,
    )
    # meta_n is the GEOMETRY parameter (full-corpus n), already != the
    # indexed count on an incremental base build — exactly why a
    # consumer must never read meta/n as "how many vectors are indexed"
    c0 = index_counts(spark, idx)
    assert c0 == {"meta_n": n, "indexed_n": base_n}
    append_ivf_pq_index(spark, idx, batch_df)
    c1 = index_counts(spark, idx)
    assert c1 == {"meta_n": n, "indexed_n": base_n + batch_n}
    # meta itself stays untouched — the immutable build record
    assert spark.read.parquet(f"{idx}/meta").collect()[0]["n"] == n


def test_compaction_preserves_serving_bitwise(spark, sf_dir, corpus, tmp_path):
    """Posting compaction after appends must reduce per-cell file counts
    without changing a single serve result (VERDICT r8 item 5a)."""
    from salesdata_engineering_spark.ext.ann_index import (
        compact_index_postings,
        index_counts,
    )

    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    pred = _batch_pred(n, stride)
    idx = build_ivf_pq_index(
        spark, corpus.filter(~pred), str(tmp_path / "idx"),
        stride=stride, n_codes=64, corpus_count=n,
    )
    # two increments -> touched cells accumulate >=3 files each
    batch = corpus.filter(pred)
    append_ivf_pq_index(spark, idx, batch.filter(F.col("vec_id") % 3 != 0))
    append_ivf_pq_index(spark, idx, batch.filter(F.col("vec_id") % 3 == 0))
    q = _queries_subset(corpus)
    want = _sorted_rows(
        search_ivf_pq_index(spark, idx, corpus, q, k=5, m_cand=40, nprobe=4)
    )
    counts_before = index_counts(spark, idx)

    stats = compact_index_postings(spark, idx)
    assert stats["cells_compacted"] > 0
    assert stats["files_after"] < stats["files_before"]
    # every multi-file cell collapsed to one file at test data volume
    for root, _dirs, files in os.walk(os.path.join(idx, "codes")):
        if os.path.basename(root).startswith("cid="):
            pqs = [f for f in files if f.endswith(".parquet")]
            assert len(pqs) == 1, f"{root} still has {len(pqs)} files"

    got = _sorted_rows(
        search_ivf_pq_index(spark, idx, corpus, q, k=5, m_cand=40, nprobe=4)
    )
    assert got == want
    assert index_counts(spark, idx) == counts_before


def test_compaction_batches_small_leaf_rewrites(spark, tmp_path):
    """VERDICT r9 item 3: the r9 compactor submitted one Spark job per
    multi-file leaf — 10k sequential submissions for one maintenance
    pass at production cell counts. Small leaves must now be rewritten
    in batched jobs: a 50-cell index (2 files per cell) compacts in
    <= ceil(50/batch_cells)+1 jobs (counted via the job-group status
    tracker; +1 allows one incidental listing/inference job), still
    ends at exactly one file per cell, and preserves the row multiset
    byte-exactly."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from salesdata_engineering_spark.ext.ann_index import compact_index_postings

    codes = tmp_path / "idx" / "codes"
    n_cells, batch = 50, 32
    for cid in range(n_cells):
        d = codes / f"cid={cid}"
        d.mkdir(parents=True)
        for j in range(2):
            tbl = pa.table(
                {
                    "vec_id": pa.array(
                        [cid * 100 + j * 10 + r for r in range(4)], pa.int64()
                    ),
                    "s": pa.array([j] * 4, pa.int32()),
                    "code": pa.array(list(range(4)), pa.int32()),
                }
            )
            pq_.write_table(tbl, d / f"part-{j}.parquet")
    want = sorted(tuple(r) for r in spark.read.parquet(str(codes)).collect())

    sc = spark.sparkContext
    sc.setJobGroup("compact-batch-test", "job-count pin")
    try:
        stats = compact_index_postings(
            spark, str(tmp_path / "idx"), batch_cells=batch
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("compact-batch-test")
    assert len(jobs) <= math.ceil(n_cells / batch) + 1, (
        f"{len(jobs)} jobs for {n_cells} cells — the per-leaf job storm is back"
    )
    assert stats["cells_compacted"] == n_cells
    assert stats["files_before"] == 2 * n_cells
    assert stats["files_after"] == n_cells
    for cid in range(n_cells):
        pqs = [
            f
            for f in os.listdir(codes / f"cid={cid}")
            if f.endswith(".parquet")
        ]
        assert len(pqs) == 1, f"cid={cid} has {len(pqs)} files"
    got = sorted(tuple(r) for r in spark.read.parquet(str(codes)).collect())
    assert got == want


def _tiny_codes_dir(root, n_cells=3):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    codes = root / "codes"
    for cid in range(n_cells):
        d = codes / f"cid={cid}"
        d.mkdir(parents=True)
        for j in range(2):
            pq_.write_table(
                pa.table(
                    {
                        "vec_id": pa.array([cid, cid + 10], pa.int64()),
                        "s": pa.array([j, j], pa.int32()),
                        "code": pa.array([0, 1], pa.int32()),
                    }
                ),
                d / f"p{j}.parquet",
            )
    return str(root)


def test_compaction_restores_aqe_conf_both_shapes(spark, tmp_path):
    """The batch loop disables AQE around its fixed-repartition writes
    and must restore the session exactly. Subtlety: conf.get(key, None)
    returns None — not the effective default 'true' — when the key was
    never set explicitly (the driver's bare session), so the restore
    must unset rather than skip, or every query after a compaction
    would silently run without AQE."""
    from salesdata_engineering_spark.ext.ann_index import compact_index_postings

    key = "spark.sql.adaptive.enabled"
    had = spark.conf.get(key, None)
    try:
        # shape 1: key explicitly set -> value restored verbatim
        spark.conf.set(key, "true")
        compact_index_postings(spark, _tiny_codes_dir(tmp_path / "a"))
        assert spark.conf.get(key) == "true"
        # shape 2: key unset (bare-session shape) -> stays unset, so the
        # session keeps tracking the engine default
        spark.conf.unset(key)
        compact_index_postings(spark, _tiny_codes_dir(tmp_path / "b"))
        assert spark.conf.get(key, None) is None
    finally:
        if had is not None:
            spark.conf.set(key, had)
        else:
            spark.conf.unset(key)


def test_compaction_heals_batched_path_crash_debris(spark, tmp_path):
    """The batched rewrite introduces two new crash windows: a kill
    during the scratch write leaves codes/_compact_scratch (must be
    invisible to readers and deleted at the next call's entry), and a
    kill after a cell's scratch output was renamed to cid=N.new but
    before its swap leaves a stale .new NEXT TO the live leaf (must be
    discarded — live is the truth — and the leaf recompacted)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from salesdata_engineering_spark.ext.ann_index import compact_index_postings

    root = _tiny_codes_dir(tmp_path / "idx")
    codes = os.path.join(root, "codes")
    want = sorted(tuple(r) for r in spark.read.parquet(codes).collect())

    # crash window 1: half-written scratch from a killed batch write
    scratch = os.path.join(codes, "_compact_scratch", "cid=0")
    os.makedirs(scratch)
    pq_.write_table(
        pa.table({"vec_id": pa.array([999], pa.int64()),
                  "s": pa.array([9], pa.int32()),
                  "code": pa.array([9], pa.int32())}),
        os.path.join(scratch, "junk.parquet"),
    )
    # _-prefixed -> Spark readers must not see the junk row
    assert sorted(tuple(r) for r in spark.read.parquet(codes).collect()) == want

    # crash window 2: staged .new next to a still-live leaf
    new_leaf = os.path.join(codes, "cid=1.new")
    os.makedirs(new_leaf)
    pq_.write_table(
        pa.table({"vec_id": pa.array([1, 11], pa.int64()),
                  "s": pa.array([0, 0], pa.int32()),
                  "code": pa.array([0, 1], pa.int32())}),
        os.path.join(new_leaf, "staged.parquet"),
    )

    stats = compact_index_postings(spark, root)
    names = os.listdir(codes)
    assert "_compact_scratch" not in names
    assert not any(n.endswith((".old", ".new")) for n in names), names
    for cid in range(3):
        pqs = [f for f in os.listdir(os.path.join(codes, f"cid={cid}"))
               if f.endswith(".parquet")]
        assert len(pqs) == 1
    got = sorted(tuple(r) for r in spark.read.parquet(codes).collect())
    assert got == want
    assert stats["cells_compacted"] >= 3


def test_compaction_heals_crash_window_debris(spark, sf_dir, corpus, tmp_path):
    """A kill inside compact_parquet_dir's swap can leave cid=N.old /
    cid=N.new (with cid=N possibly gone). Unhealed, Spark's partition
    discovery would parse 'N.old' and widen cid to STRING, silently
    breaking the serve-time cid IN (...) partition prune; the next
    compaction call must finish/roll back the swap instead."""
    import shutil

    from salesdata_engineering_spark.ext.ann_index import (
        compact_index_postings,
        index_counts,
    )

    n = corpus.count()
    stride = _ivf_stride(corpus, n)
    idx = build_ivf_pq_index(
        spark, corpus, str(tmp_path / "idx"),
        stride=stride, n_codes=64, corpus_count=n,
    )
    q = _queries_subset(corpus)
    want = _sorted_rows(
        search_ivf_pq_index(spark, idx, corpus, q, k=5, m_cand=40, nprobe=4)
    )
    counts = index_counts(spark, idx)
    codes = os.path.join(idx, "codes")
    victim = sorted(
        d for d in os.listdir(codes) if d.startswith("cid=") and "." not in d
    )[0]
    # simulate a crash between the two swap renames: live gone, .old left
    shutil.move(os.path.join(codes, victim), os.path.join(codes, victim + ".old"))

    stats = compact_index_postings(spark, idx)
    assert stats["cells_compacted"] >= 1
    names = os.listdir(codes)
    assert victim in names
    assert not any(d.endswith((".old", ".new")) for d in names), names
    got = _sorted_rows(
        search_ivf_pq_index(spark, idx, corpus, q, k=5, m_cand=40, nprobe=4)
    )
    assert got == want
    assert index_counts(spark, idx) == counts
