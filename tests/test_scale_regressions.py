"""Fast pytest pins for the scale-bug classes the r8 sf1 sweep found.

Five real bugs were structurally invisible to the sf0.001 suite because
every fixture used the driver's single-file table layout and never fed
the degenerate inputs replica-mixing produces at scale (VERDICT r8,
"What's wrong #1"). These tests re-cover each class in seconds:

1. directory-layout streaming source (streaming/runner.py glob anchor —
   pre-fix: the stream silently drained EMPTY on multi-part-file tables);
2. stream-stream left-outer watermark loss (registry_events.py staged
   base consolidation — pre-fix: later base part files arrived as late
   data and 87% of outer rows were dropped at sf1);
3. ``events_alert_flapping`` on an input with ZERO alert hours
   (pre-fix: ANSI 0/0 DIVIDE_BY_ZERO crash);
4. ``connected_components`` lineage replay (ext/dedup.py — pre-fix:
   every propagation round re-derived the full upstream edge pipeline,
   >510 s at sf1);
5. the LM mean-logprob readout's one-ulp round(double, 6) divergence
   (ext/text.py micro_mean_readout — pre-fix: Spark and DuckDB disagreed
   ~1-per-1e5 docs at the .5 quantize boundary).

Each test was verified to FAIL against the pre-fix r8 parents (git
checkout of the pre-fix file once, locally) and pass at HEAD.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from salesdata_engineering_spark.registry import QUERIES
from salesdata_engineering_spark.streaming.runner import (
    read_events_stream,
    run_to_completion,
)

from salesdata_engineering_spark.schemas import TESTDATA_TABLES

from .oracle_utils import assert_oracle_match, duckdb_con


def _variant_sf_dir(src_sf: str, dst: str, events_tbl=None, n_parts: int = 0) -> str:
    """Build a temp sf dir: every table symlinked from ``src_sf``, except
    events which is either replaced by ``events_tbl`` (single file) or
    striped into ``n_parts`` interleaved part files (directory layout —
    each part spans the FULL time range, the worst case for per-file
    watermark advancement, exactly what repartitioned producers emit)."""
    os.makedirs(dst, exist_ok=True)
    for t in TESTDATA_TABLES:
        src = os.path.join(src_sf, f"{t}.parquet")
        tgt = os.path.join(dst, f"{t}.parquet")
        if t != "events" and os.path.exists(src) and not os.path.exists(tgt):
            os.symlink(src, tgt)
    ev = os.path.join(dst, "events.parquet")
    if events_tbl is not None:
        pq.write_table(events_tbl, ev, version="2.6")
    elif n_parts:
        tbl = pq.read_table(os.path.join(src_sf, "events.parquet"))
        tbl = tbl.sort_by("ts")
        os.makedirs(ev, exist_ok=True)
        for i in range(n_parts):
            part = tbl.take(list(range(i, tbl.num_rows, n_parts)))
            pq.write_table(
                part, os.path.join(ev, f"part-{i:05d}.parquet"), version="2.6"
            )
    return dst


@pytest.fixture(scope="module")
def dir_layout_sf(sf_dir, tmp_path_factory) -> str:
    """sf0.001 with events.parquet as a DIRECTORY of 4 interleaved part
    files — the layout of every derived-scale table (tools/gen_sf1.py)
    and of any real multi-executor producer."""
    dst = str(tmp_path_factory.mktemp("sf_dirlayout"))
    return _variant_sf_dir(sf_dir, dst, n_parts=4)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- class 1: the streaming source must read directory-layout tables ---


def test_stream_source_reads_directory_layout(spark, sf_dir, dir_layout_sf):
    batch_n = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    drained = run_to_completion(
        read_events_stream(spark, dir_layout_sf), output_mode="append"
    )
    # pre-fix: pathGlobFilter='events.parquet' matched ZERO leaf files
    # under the directory layout and the stream drained silently empty
    assert drained.count() == batch_n


def test_stream_source_reads_directory_layout_over_viewfs(spark, sf_dir, dir_layout_sf):
    """The layout check lists through the Hadoop FS, so a directory
    layout behind a non-file scheme is read as a directory too."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("fs.viewfs.mounttable.dirlayout.link./sf", f"file://{dir_layout_sf}")
    batch_n = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    drained = run_to_completion(
        read_events_stream(spark, "viewfs://dirlayout/sf"), output_mode="append"
    )
    assert drained.count() == batch_n


def test_stream_source_recursive_rejects_single_file_layout(spark, sf_dir):
    # recursive=True anchors the glob at *.parquet; on a single-file
    # layout that would read EVERY table under the events schema —
    # require the staged-directory layout instead (ADVICE r8)
    with pytest.raises(ValueError, match="recursive"):
        read_events_stream(spark, sf_dir, recursive=True)


@pytest.mark.parametrize(
    "name",
    [
        "stream_tumbling_counts",
        "stream_stateful_totals",
        "stream_cdc_latest",
        "stream_session_windows",
    ],
)
def test_streaming_queries_layout_invariant(spark, sf_dir, dir_layout_sf, name):
    """Every registered streaming query must produce identical results on
    the single-file and directory layouts of the same data."""
    want = _rows(QUERIES[name].fn(spark, sf_dir))
    got = _rows(QUERIES[name].fn(spark, dir_layout_sf))
    assert got == want


# --- class 2: staged outer-join base must land in ONE micro-batch ---


def test_stream_stream_left_outer_join_layout_invariant(
    spark, sf_dir, dir_layout_sf
):
    """Pre-fix, each base part file became its own micro-batch; part 1
    advanced both watermarks to ~max-1h and parts 2..4 (which all span
    the full time range) arrived late and were dropped — at sf1, 87% of
    the oracle rows vanished. The striped 4-part fixture reproduces that
    loss at sf0.001 in seconds."""
    want = _rows(QUERIES["stream_stream_left_outer_join"].fn(spark, sf_dir))
    got = _rows(QUERIES["stream_stream_left_outer_join"].fn(spark, dir_layout_sf))
    assert len(want) > 0
    assert got == want


# --- class 3: alert flapping over an input with no alert hours ---


def test_alert_flapping_empty_runs(spark, sf_dir, tmp_path):
    """Replica mixing at sf1 pulled every hour under the burn threshold;
    the readout then divides 0 runs by 0 runs. ANSI Spark throws on the
    plain '/', DuckDB's NULLIF twin yields NULL — the engine must use
    try_divide and agree with the oracle on NULL."""
    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    et = src.column("event_type").to_pylist()
    calm = src.set_column(
        src.schema.get_field_index("event_type"),
        "event_type",
        pa.array(["view" if v == "error" else v for v in et], type=pa.string()),
    )
    calm_sf = _variant_sf_dir(sf_dir, str(tmp_path / "calm"), events_tbl=calm)
    q = QUERIES["events_alert_flapping"]
    out = q.fn(spark, calm_sf)  # pre-fix: DIVIDE_BY_ZERO here
    row = out.collect()[0]
    assert row["n_alert_runs"] == 0
    assert row["flap_ratio"] is None
    assert_oracle_match(
        q.fn(spark, calm_sf), duckdb_con(calm_sf), q.oracle, "alert_flapping_empty"
    )


# --- class 4: connected_components must not replay edge lineage ---


def test_connected_components_materializes_edges_once(spark):
    """The edges frame is typically the tip of an expensive pipeline
    (LSH candidates + cosine verify); without the localCheckpoint each
    propagation round replays the WHOLE upstream from lineage (measured
    at sf1: >510 s vs 143 s fixed). Count upstream evaluations with an
    accumulator: the symmetric-edge materialization reads the source
    exactly twice (two union branches); a lineage replay on a 9-node
    path graph (8 propagation rounds) would read it ≥16 times."""
    from salesdata_engineering_spark.ext.dedup import connected_components

    acc = spark.sparkContext.accumulator(0)

    def count_evals(it):
        acc.add(1)
        yield from it

    edges = (
        spark.range(0, 8)
        .repartition(1)
        .mapInPandas(count_evals, "id bigint")
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    out = connected_components(edges, require_converged=True)
    assert {(r["id"], r["component"]) for r in out.collect()} == {
        (i, 0) for i in range(9)
    }
    assert acc.value <= 4, (
        f"edge pipeline evaluated {acc.value} times — lineage replay is back"
    )


# --- class 5: LM readout must floor-quantize, not round(double, 6) ---


def test_lm_readout_floor_quantize_boundary(spark):
    """Spark's round(double, 6) renders through Double.toString →
    BigDecimal HALF_UP while DuckDB rounds the binary double, so means
    landing one ulp under a .5 micro-unit boundary disagree between the
    engines (r8: -3.448945 vs -3.448946 at 50k docs). The shared
    micro_mean_readout must floor-quantize: identical IEEE divide +
    floor in both engines. Drive exact .5 boundaries through the
    PRODUCTION expression and diff against DuckDB's twin."""
    import duckdb

    from salesdata_engineering_spark.ext.text import micro_mean_readout

    # groups whose integer micro-nat mean lands exactly on k + 0.5 (the
    # boundary round() resolves via decimal rendering) plus off-boundary
    # controls; g2's mean -3448945.5 is the literal r8 divergence case
    rows = [
        ("g1", 2), ("g1", 3),              # mean 2.5
        ("g2", -3448945), ("g2", -3448946),  # mean -3448945.5
        ("g3", 7), ("g3", 7),              # mean 7.0 (control)
        ("g4", -1), ("g4", 2),             # mean 0.5
        ("g5", 1), ("g5", 1), ("g5", 2),   # mean 4/3 (non-terminating)
    ]
    df = spark.createDataFrame(rows, "g string, s bigint")
    got = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(micro_mean_readout(F.sum("s"), F.count("*")).alias("m"))
        .collect()
    }
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = {
        g: m
        for g, m in con.execute(
            "SELECT g, floor(SUM(s) / count(*) + 0.5) / 1000000.0 AS m "
            "FROM t GROUP BY g"
        ).fetchall()
    }
    assert got == want
    # teeth: on the r8 boundary group the legacy round() readout really
    # does diverge from the floor-quantize value inside Spark itself
    legacy = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(F.round(F.sum("s") / F.count("*") / 1000000.0, 6).alias("m"))
        .collect()
    }
    assert legacy["g2"] != got["g2"]


# --- class 7: queries must survive (and oracle-match on) EMPTY inputs ---


@pytest.fixture(scope="module")
def empty_sf(sf_dir, tmp_path_factory) -> str:
    """Every table with its exact schema and ZERO rows — what a
    filtered-to-empty source, an empty partition, or a dry upstream
    produces at 100 TB. The r10 all-empty registry sweep found five
    crashes (ANSI 0/0 readouts, .collect()[0] scalars, None min/max
    stats) and two empty-aggregate oracle divergences; this fixture +
    test pin the fixed representatives."""
    dst = tmp_path_factory.mktemp("sf_empty")
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            tbl = pq.read_table(src)
            pq.write_table(tbl.slice(0, 0), str(dst / f"{t}.parquet"),
                           version="2.6")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        "text_cdc_chunking",          # ANSI 0/0 in both readouts
        "events_funnel_time_capped",  # ANSI 0/0 in step conversion
        "text_bpe_merge_steps",       # .collect()[0] on empty pair agg
        "stream_stream_left_outer_join",  # None max_ts + timedelta
        "stats_welch_ttest",          # filter+crossJoin -> 0 rows vs 1
        "stats_two_proportion_z",     # filter+crossJoin -> 0 rows vs 1
        "dq_rule_engine",             # SUM-over-empty NULL vs count 0
    ],
)
def test_queries_oracle_match_on_empty_input(spark, empty_sf, name):
    q = QUERIES[name]
    assert_oracle_match(
        q.fn(spark, empty_sf), duckdb_con(empty_sf), q.oracle, f"{name}_empty"
    )


def test_known_empty_input_divergences_documented(spark, empty_sf):
    """The r10 empty sweep's REMAINING non-passes are deliberate, two
    kinds — pinned here so a Spark upgrade or refactor that changes
    them is noticed:

    * grouping-sets family: Spark expands grouping sets BEFORE
      aggregation, so ROLLUP/CUBE/GROUPING SETS over an empty relation
      emit ZERO rows — the SQL standard (and DuckDB) emit the
      grand-total row. Mirroring the standard would mean abandoning the
      one-pass Expand plan for a union-of-aggregates; not worth it for
      a 0-row edge, so the divergence is documented, not hidden.
    * dense-id preconditions: the PQ/negative-pair samplers raise their
      documented ValueError on an empty corpus (the dense 0-based id
      precondition cannot hold) — a clear contract error, never a
      silent wrong answer.
    """
    assert QUERIES["rollup_qty"].fn(spark, empty_sf).count() == 0
    assert QUERIES["cube_qty"].fn(spark, empty_sf).count() == 0
    assert QUERIES["grouping_sets_qty"].fn(spark, empty_sf).count() == 0
    # agg_grouping_variants folds the same rollup/cube shapes; the PCA
    # power iteration has no principal component over an empty corpus
    # (its oracle emits a 64-row zero vector — Spark's empty frame is
    # the more honest answer; divergence documented, not hidden)
    assert QUERIES["agg_grouping_variants"].fn(spark, empty_sf).count() == 0
    assert QUERIES["embedding_pca_top_component"].fn(spark, empty_sf).count() == 0
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sim_pq_adc_topk"].fn(spark, empty_sf).count()


def test_zorder_write_survives_empty_input(spark, empty_sf):
    # rows-only query (write + readback audit): must produce an empty
    # frame, not crash on None min/max stats or failed schema inference
    out = QUERIES["layout_zorder_write"].fn(spark, empty_sf)
    assert out.count() == 0


# --- class 8: queries must survive (and oracle-match on) 1-ROW inputs ---


@pytest.fixture(scope="module")
def one_row_sf(sf_dir, tmp_path_factory) -> str:
    """Every table with exactly ONE row — n-1 = 0 sample-variance
    denominators, single-group statistics, single-distinct histogram
    ranges, zero-norm power iterations, broken referential joins. The
    r10 single-row sweep found 17 ANSI DIVIDE_BY_ZERO (or NULL-list)
    crashes in exactly these shapes; each is now a try_divide (or
    zero-vector renormalize) mirroring the oracle's NULL semantics."""
    dst = tmp_path_factory.mktemp("sf_one")
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            tbl = pq.read_table(src)
            pq.write_table(tbl.slice(0, 1), str(dst / f"{t}.parquet"),
                           version="2.6")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        "stats_ks_two_sample",         # absent sample -> n1*n2 = 0
        "graph_degree_assortativity",  # 1-edge graph -> zero variances
        "text_quality_auc",            # single-class corpus -> np*nn = 0
        "embedding_dim_stats",         # per-dim n = 1 -> (n-1) = 0
        "text_heaps_law_fit",          # one fit point -> zero regression den
        "events_psi_drift",            # single distinct value -> hi = lo
        "events_burstiness_fano",      # one active hour -> (n-1) = 0
        "events_crosscorr_lag",        # one overlapping hour
        "events_weekend_lift",         # activity on one side of the split
        "stats_moments",               # n = 1 sample variance
        "stats_advanced",              # n = 1 sample variance
        "stats_spearman_qty_price",    # single pair -> zero variances
        "stats_mannwhitney_u",         # nd = 1 tie correction
        "stats_brown_forsythe",        # k = 1 / nn = k denominators
        "stats_poisson_rate_test",     # all events in one window -> k2 = 0
        "numeric_corr_matrix",         # n = 1 -> zero variances
        "embedding_pca_top_component",  # zero-norm renormalize
    ],
)
def test_queries_oracle_match_on_single_row_input(spark, one_row_sf, name):
    q = QUERIES[name]
    assert_oracle_match(
        q.fn(spark, one_row_sf), duckdb_con(one_row_sf), q.oracle, f"{name}_1row"
    )


# --- class 6: IVF cell count must be bounded (assignment stays linear) ---


def test_ivf_stride_cap_cross_engine_and_bounded():
    """r9's sf3 rung classified the IVF build's cell-assignment stage as
    REALLY superlinear (min-ratio 3.64 at 3x): stride = round(sqrt(N))
    makes n_cells track sqrt(N), so assignment costs N*sqrt(N). The r10
    stride bounds n_cells at _IVF_MAX_CELLS — beyond K^2 vectors the
    assignment pass is N*K, linear. Pin (a) the bound itself, (b) that
    the committed _SQL_STRIDE text computes the IDENTICAL integer in
    DuckDB (the oracle rebuilds the index from it — one ulp of drift
    desynchronizes every cell boundary), including at the test ladder's
    corpus sizes (sf0.01=500 uncapped, sf1=20000 and sf3=60000 capped)."""
    import duckdb

    from salesdata_engineering_spark.registry_ext import (
        _IVF_MAX_CELLS,
        _SQL_STRIDE,
        _ivf_stride,
    )

    con = duckdb.connect()
    for n in (1, 2, 499, 500, 2000, 16384, 16385, 20000, 60000, 10**6):
        py = _ivf_stride(None, n)
        con.execute(
            "CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT range AS vec_id FROM range({n})"
        )
        sql = con.execute(f"SELECT {_SQL_STRIDE}").fetchone()[0]
        assert py == sql, f"stride drift at n={n}: python {py} vs sql {sql}"
        assert -(-n // py) <= _IVF_MAX_CELLS, f"cell bound broken at n={n}"
    # the bound must already bind inside the measured scale ladder
    # (sf1-derived embeddings = 20000 rows) and not distort the driver's
    # correctness scales (sf0.01 = 500 rows keeps the sqrt sizing)
    assert -(-20000 // _ivf_stride(None, 20000)) == _IVF_MAX_CELLS
    assert _ivf_stride(None, 500) == 22  # round(sqrt(500)) — uncapped
    # linearity at scale: 100x the corpus, exactly 100x the assignment
    # pairs (n * n_cells) once the cap binds
    for n in (10**5, 10**7):
        pairs = n * -(-n // _ivf_stride(None, n))
        pairs_100x = 100 * n * -(-(100 * n) // _ivf_stride(None, 100 * n))
        assert pairs_100x == 100 * pairs


# --- class 9: duplicated-key input (valid multiset, violated PK contract) ---


@pytest.fixture(scope="module")
def dup_sf(sf_dir, tmp_path_factory) -> str:
    """Every table stacked on itself (x2) — valid multiset input that
    violates the tables' primary-key contracts, which real 100-TB data
    does routinely. The r10 probe found 22 queries whose tie-breaks
    assumed key uniqueness (interleaved shingle windows, RANGE-frame
    peer sums, dim-join row multiplication, rank-tied top-k copies);
    r11 gave each family explicit duplicate semantics — an id
    identifies its entity, exact-duplicate rows collapse at the
    operator's input or reduction boundary — aligned in BOTH engines.
    Reproducible via ``python tools/make_variant.py dup2``."""
    dst = tmp_path_factory.mktemp("sf_dup")
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            tbl = pq.read_table(src)
            pq.write_table(pa.concat_tables([tbl, tbl]),
                           str(dst / f"{t}.parquet"), version="2.6")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        # word_shingles/gram_hashes: per-row lead windows (interleaving fix)
        "dedup_ngram_jaccard",
        "dedup_minhash_sigs",
        "dedup_minhash_lsh",
        "contamination_ngram_overlap_capped",  # + held-df count(DISTINCT)
        "dedup_substring_spans",
        # winnow: per-row minima windows + oracle DISTINCT
        "text_winnow_fingerprint",
        # packing: explicit ROWS frame (RANGE summed order-peers)
        "pack_training_sequences",
        # dim lookup dedup (max per attribute) on both sides
        "customer_mart",
        # narrow per-id distinct at the reduction boundary, both sides
        "corpus_curation_pipeline",
        "text_lang_id_eval",
        "text_heaps_law_fit",
        # vec_id-keyed ANN/eval inputs deduped by row, oracle c0 DISTINCT
        "sim_lsh_ann_topk",
        "sim_ann_recall_eval",
        "sim_rrf_fusion_eval",
        # per-event match: distinct click projection, oracle DISTINCT c
        "asof_nearest_click_purchase",
        # chunk ids number segments within the physical row, not the id
        "udtf_sentence_split",
        # set-membership (IN) must not row-multiply through a dup'd dim
        "join_bloom_prefilter",
    ],
)
def test_queries_oracle_match_on_duplicated_input(spark, dup_sf, name):
    q = QUERIES[name]
    assert_oracle_match(
        q.fn(spark, dup_sf), duckdb_con(dup_sf), q.oracle, f"{name}_dup"
    )


def test_dense_id_preconditions_raise_on_duplicated_input(spark, dup_sf):
    """The PQ / negative-pair samplers' documented dense-0-based-id
    precondition cannot hold with duplicated ids — they must keep
    raising their contract error (never a silent wrong answer)."""
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sim_pq_adc_topk"].fn(spark, dup_sf).count()
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sample_negative_pairs"].fn(spark, dup_sf).count()


# --- class 10: all-NULL non-key columns (corrupt/schema-evolved source) ---


@pytest.fixture(scope="module")
def allnull_sf(sf_dir, tmp_path_factory) -> str:
    """Every NON-KEY column replaced by typed NULLs (keys kept so joins
    still route) — what a corrupt columnar stripe or a schema-evolved
    source yields at 100 TB. The r11 probe found 38 divergences in four
    families, each now aligned in BOTH engines: (a) NULL event times
    have no window — dropped explicitly at the window operators and
    WHERE'd in the oracles; (b) NULL embeddings are not corpus members —
    the _embs_nn intake + oracle IS NOT NULL (DuckDB's
    list_inner_product refuses NULL lists outright); (c) two engine
    crashes — NULL payloads in the multimodal featurizer, NULL map keys
    in the map-carrier build; (d) NULL-semantics forks: NULL-skipping
    concat/split_part oracles vs Spark's ANSI propagation, pred.cast
    sums poisoned to NULL vs FILTER's 0, non-null-safe equality scoring
    NULL==NULL roundtrips as failures, equi-joins silently dropping
    NULL-keyed strata. Reproducible: python tools/make_variant.py
    allnull; full record ALLNULLSWEEP_r11.json."""
    dst = tmp_path_factory.mktemp("sf_allnull")
    key_cols = {
        "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey",
        "c_nationkey", "s_suppkey", "s_nationkey", "p_partkey",
        "o_orderkey", "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "event_id", "user_id", "doc_id", "vec_id",
    }
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        tbl = pq.read_table(src)
        cols = [
            col if f.name in key_cols else pa.nulls(len(tbl), type=f.type)
            for f, col in zip(tbl.schema, tbl.columns)
        ]
        pq.write_table(pa.table(cols, schema=tbl.schema),
                       str(dst / f"{t}.parquet"), version="2.6")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        # (a) NULL event time has no window (engine filter + oracle WHERE)
        "events_tumbling_counts",
        "events_session_dynamic_gap",
        # (a') exhaustive history/delta split: NULL dates route to delta
        "incremental_agg_maintenance",
        # (b) NULL vectors excluded from the corpus on both sides
        "sim_cosine_topk",
        # (c) engine crashes: NULL payload UDF, NULL map key
        "multimodal_featurize",
        "scalar_map_functions",
        # (d) NULL-semantics forks
        "scalar_string_functions",   # concat/split_part propagation
        "aes_roundtrip",             # null-safe roundtrip equality
        "approx_percentile_bounds",  # both-NULL percentile = agreement
        "xml_extract_roundtrip",     # NULL field -> omitted tag
        "text_winnow_fingerprint",   # no content -> NULL digest
        "text_readability_flesch",   # FILTER counts 0, not NULL
        "text_pii_scrub",            # NULL text contributes '' to salt
        "sample_kfold_stratified",   # eqNullSafe keeps the NULL stratum
        "grouped_pandas_mad",        # oracle null-safe join
        "stream_stateful_totals",    # sum-with-no-values is NULL
    ],
)
def test_queries_oracle_match_on_allnull_input(spark, allnull_sf, name):
    q = QUERIES[name]
    assert_oracle_match(
        q.fn(spark, allnull_sf), duckdb_con(allnull_sf), q.oracle,
        f"{name}_allnull"
    )


def test_allnull_vectors_reduce_to_empty_corpus(spark, allnull_sf):
    """With every embedding NULL, the NULL-vector intake leaves an
    EMPTY corpus — the documented empty-corpus class applies: the PQ
    trained family raises its dense-id precondition (0 of 64 codebook
    vectors), and the PCA power iteration emits Spark's honest empty
    frame (vs the oracle's 64-row zero vector; divergence documented
    at the class-7 pins)."""
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sim_ivf_pq_trained_topk"].fn(spark, allnull_sf).count()
    assert QUERIES["embedding_pca_top_component"].fn(spark, allnull_sf).count() == 0


# --- class 11: offset (non-0-based) id spaces ---


@pytest.fixture(scope="module")
def offsetids_sf(sf_dir, tmp_path_factory) -> str:
    """Every key column shifted by +10^9 — same joins, same
    cardinalities, but ids are no longer dense or 0-based, flushing out
    id-as-index assumptions. The r11 sweep (OFFSETSWEEP_r11.json):
    316/316 oracle-paired queries PASS unchanged — modular bucket
    arithmetic is offset-covariant in BOTH engines — and the only
    non-passes are the 6 documented dense-0-based-id precondition
    guards, which must RAISE (the strided codebook sample silently
    finds zero vectors on offset ids; a clear contract error beats a
    degraded candidate set). Reproducible: make_variant.py offsetids."""
    dst = tmp_path_factory.mktemp("sf_offset")
    key_cols = {
        "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey",
        "c_nationkey", "s_suppkey", "s_nationkey", "p_partkey",
        "o_orderkey", "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "event_id", "user_id", "doc_id", "vec_id",
    }
    import pyarrow.compute as pc
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        tbl = pq.read_table(src)
        cols, names = [], [f.name for f in tbl.schema]
        for f, col in zip(tbl.schema, tbl.columns):
            if f.name in key_cols and pa.types.is_integer(f.type):
                cols.append(pc.add(col.cast(pa.int64()), 1_000_000_000))
            else:
                cols.append(col)
        pq.write_table(pa.table(cols, names=names),
                       str(dst / f"{t}.parquet"), version="2.6")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        "sales_team_mart",        # star join routing on shifted keys
        "dedup_minhash_lsh",      # id-salted hashing, offset-covariant
        "sim_ivf_quantized_topk", # id-strided centroids: same SAMPLE both sides
        "events_session_windows", # user_id-keyed sessionization
        "pack_training_sequences",# greedy packing order via shifted ids
    ],
)
def test_queries_oracle_match_on_offset_ids(spark, offsetids_sf, name):
    q = QUERIES[name]
    assert_oracle_match(
        q.fn(spark, offsetids_sf), duckdb_con(offsetids_sf), q.oracle,
        f"{name}_offset"
    )


def test_dense_id_preconditions_raise_on_offset_ids(spark, offsetids_sf):
    """Offset ids break the dense-0-based contract: the strided
    codebook sample finds ZERO vectors (1e9+k is almost never ≡ 0 mod
    step), so the guards must raise their re-key instruction rather
    than serve an empty candidate set."""
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sim_pq_adc_topk"].fn(spark, offsetids_sf).count()
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sample_negative_pairs"].fn(spark, offsetids_sf).count()


# --- class 12: MIXED NULLs (per-column phase-shifted third of rows) ---


@pytest.fixture(scope="module")
def nullmix_sf(sf_dir, tmp_path_factory) -> str:
    """Every non-key column NULLed on a deterministic third of rows,
    phase-shifted per column — the axis the all-or-nothing sweeps are
    BLIND to: divergences that need NULL and non-NULL values to
    compete. The r11 sweep found 50 of them, in classes: (a) ascending
    sort/window order over a nullable key (Spark's implicit asc is
    NULLS FIRST, DuckDB's LAST — descending agrees, so only mixed-NULL
    ascending forks; fixed by the engine-wide NULLS LAST convention,
    ops/windows.py asc_nulls_last + the total-order helpers); (b) NULL
    measurements occupying rank/trim/decile positions (filtered — a
    NULL is not a sample, matching aggregate semantics); (c) NULL
    event times fabricating engine-specific transitions in sequence
    analytics, as-of joins, hourly spines, cohort cells (excluded via
    the _events_ts intake + oracle WHERE, extending bug class 10's
    rule); (d) non-null-safe SCD2 change detection (oracle now IS
    [NOT] DISTINCT FROM, matching the engine's <=>); (e) NULL-lang
    strata dropped by equi-joins (eqNullSafe). PQ sampling on the
    NULL-filtered (now gapped) id space raises its dense-id
    precondition. The mask is the INDEPENDENT per-column splitmix64
    mask (every column pair realizes all four NULL/non-NULL combos,
    including both-NULL — ADVICE r11); the fixture reuses the tool's
    generator verbatim so the pin and the sweep can never drift.
    Reproducible: python tools/make_variant.py nullmix; full record
    NULLMIXSWEEP_r12.json."""
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"),
    )
    from make_variant import _variant

    dst = tmp_path_factory.mktemp("sf_nullmix")
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        pq.write_table(_variant("nullmix", pq.read_table(src)),
                       str(dst / f"{t}.parquet"), version="2.6")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        # (a) ascending NULLS LAST ordering convention
        "window_running_total",
        "window_frames_bounded",
        "window_ignore_nulls_family",
        "global_row_number_orders",
        "stats_mannwhitney_u",       # rank stats ride the cumsum helpers
        # (b) NULL measurements are not samples
        "stats_trimmed_mean",
        "dq_iqr_outliers",
        "orders_monthly_price_quantiles",
        # (c) NULL event times excluded from sequences/spines/asof
        "events_transition_matrix",
        "events_session_funnel",
        "events_hourly_ewma",
        "events_cohort_ltv_curve",
        "asof_click_purchase",
        "asof_nearest_click_purchase",
        # r12 independent-mask finds (cross-column NULL interactions
        # the phase-shifted mask could not produce): the asof payload
        # struct-carry, the NULL-revenue gini sample, the NULL-date
        # ledger move
        "revenue_gini_by_nation",
        "inventory_clamped_balance",
        # (d) null-safe SCD2 change detection
        "scd2_customer_segments",
        "pit_join_orders_segments",
        # (e) NULL-keyed strata survive the lookup joins
        "text_blocklist_screen",
    ],
)
def test_queries_oracle_match_on_nullmix_input(spark, nullmix_sf, name):
    q = QUERIES[name]
    assert_oracle_match(
        q.fn(spark, nullmix_sf), duckdb_con(nullmix_sf), q.oracle,
        f"{name}_nullmix"
    )


def test_pq_raises_on_gapped_id_space(spark, nullmix_sf):
    """NULL-vector hygiene leaves a GAPPED id space on mixed-NULL
    embeddings; the PQ strided sample cannot hold its dense-id
    contract and must raise the re-key instruction — never serve a
    degraded candidate set."""
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sim_pq_adc_topk"].fn(spark, nullmix_sf).count()
    with pytest.raises(ValueError, match="dense 0-based integer id space"):
        QUERIES["sim_ivf_pq_index_serve"].fn(spark, nullmix_sf).count()


# --- class 13: multi-byte text (unicode probe axis) ---


@pytest.fixture(scope="module")
def unicode_sf(sf_dir, tmp_path_factory) -> str:
    """Free-text columns (documents.text, c_name, p_name) carry
    deterministic multi-byte tails — 2/3/4-byte UTF-8, the ß case
    trap, combining diacritics (tools/make_variant.py unicode).
    UNICODESWEEP_r11.json: 319/323 oracle-exact — md5 fingerprints,
    tokenization, shingles, BPE, PII regexes, chunking, winnowing all
    survive multi-byte text bit-for-bit. The 3 non-passes are ORACLE-
    DIALECT divergences, not engine bugs, pinned below."""
    dst = tmp_path_factory.mktemp("sf_unicode")
    tails = [" héllo wörld", " 東京データ", " Ωμέγα ß",
             " \U0001f680\U0001f30d emoji", " Ẑ combining"]
    free_text = {"text", "c_name", "p_name"}
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        tbl = pq.read_table(src)
        cols = []
        for f, col in zip(tbl.schema, tbl.columns):
            if f.name not in free_text:
                cols.append(col)
                continue
            vals = col.to_pylist()
            cols.append(pa.array(
                [None if v is None else v + tails[i % len(tails)]
                 for i, v in enumerate(vals)], type=f.type))
        pq.write_table(pa.table(cols, schema=tbl.schema),
                       str(dst / f"{t}.parquet"), version="2.6")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        "text_token_stats",        # tokenize over multi-byte words
        "dedup_exact",             # md5 over UTF-8 bytes, both engines
        "text_winnow_fingerprint", # char-k-gram hashing on codepoints
        "text_pii_scrub",          # regex classes on multi-byte input
        "text_bpe_merge_steps",    # byte-ish merges stay cross-engine
        "doc_chunking",            # token windows over unicode tokens
    ],
)
def test_text_queries_oracle_match_on_unicode_input(spark, unicode_sf, name):
    q = QUERIES[name]
    assert_oracle_match(
        q.fn(spark, unicode_sf), duckdb_con(unicode_sf), q.oracle,
        f"{name}_unicode"
    )


def test_unicode_dialect_divergences_are_the_known_two(spark):
    """The unicode axis's only non-passes are oracle-DIALECT forks the
    engine deliberately does not mirror:

    * upper('ß'): Spark applies Unicode full case mapping ('SS' — the
      Unicode standard's answer, also what Java/ICU do), DuckDB maps
      to the capital sharp s 'ẞ'. Both are defensible orthographies;
      the engine keeps the standard full mapping.
    * levenshtein: Spark counts CODEPOINTS (the linguistic edit
      distance), DuckDB counts BYTES ('héllo'→'hello' = 2 edits there,
      东京 = 6). The engine keeps codepoint distance; the fuzzy-match
      oracle is exact on ASCII only.

    This test pins the ENGINE side of both contracts so a Spark
    upgrade changing either semantics is caught."""
    row = (
        spark.range(1)
        .select(
            F.upper(F.lit("ß")).alias("up"),
            F.levenshtein(F.lit("héllo"), F.lit("hello")).alias("lev2b"),
            F.levenshtein(F.lit("東京"), F.lit("ab")).alias("lev3b"),
            F.levenshtein(F.lit("\U0001f680"), F.lit("a")).alias("lev4b"),
        )
        .collect()[0]
    )
    assert row.up == "SS"
    assert (row.lev2b, row.lev3b, row.lev4b) == (1, 2, 1)
