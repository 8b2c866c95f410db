"""Deduplication operators over ``documents`` (north-star X1).

Four escalating strategies, all shuffle-shaped for 100 TB:

1. **Exact** — group by content hash, keep min id. One hash-agg shuffle
   on a 16-byte key; never shuffles document text.
2. **N-gram Jaccard** — word-shingle inverted index self-join: explode
   distinct shingles, join on shingle (pairs that share ≥1 shingle),
   count intersections, filter by exact Jaccard. The join is the
   standard "candidates-by-postings" plan: skew-prone on stop-shingles,
   so frequent shingles above ``df_cap`` are dropped (standard
   prefix-filter trick; at 100 TB pair this with AQE skew-join).
3. **MinHash + LSH banding** — k universal-hash permutations of one
   md5 base hash per shingle, min per doc, band
   into b groups of r, bucket-join on (band, band-signature); candidate
   pairs verified with exact Jaccard. Shuffle cost: k·docs tiny rows +
   bucket join — independent of pairwise O(n²).
4. **SimHash** — 32-bit fingerprint; near-dups = fingerprints within
   small Hamming distance. Fingerprint build is explode(token) +
   bit-matrix aggregation; pairing joins on fingerprint (distance 0)
   here — banded multi-probe at scale.

Everything is deterministic md5-based hashing (:mod:`.hashing`) so the
DuckDB oracle reproduces results bit-for-bit. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from .caching import swap_persist
from .hashing import MINHASH_P, md5_long, perm_hash
from .text import tokens


def _minhash_base(shingle: Column = None) -> Column:
    """One md5 base hash per shingle, folded into the permutation
    modulus; all k signatures derive from it arithmetically."""
    c = F.col("shingle") if shingle is None else shingle
    return F.pmod(md5_long(c), F.lit(MINHASH_P))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct content hash.

    Returns (content_hash, keep_id, n_copies) — the dedup *decision*
    table; join back on id to materialize the deduped corpus."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokenize ONCE with posexplode(split), then build each n-gram with
    window ``lead``s over (row, pos) — the array-expression formulation
    (transform(sequence, i -> slice(split(text),...))) re-ran the regex
    split per array element (Catalyst inlines collapsed projections
    into lambdas without CSE) and dominated runtime. The window shuffle
    is narrow (id, pos, token) rows and doubles as the parallelism
    spreader for few-file corpora.

    The window partitions by a per-ROW uid, not by id: position
    sequences come from posexplode per physical row, so a duplicated
    id would interleave two copies' positions in one (id, pos)
    partition and the leads would stitch cross-copy garbage shingles
    ("t0 t0 t1" — the bug-class-9 dup sweep caught this). Per-row
    partitioning shingles each copy independently; the closing
    distinct on (id, shingle) then unions the per-copy sets, so dup
    ids yield the same shingle sets as valid input. Identical plan
    shape and shuffle volume on valid data (uid <-> id is 1:1 there).

    Edge semantics (must match the oracle's t[i:i+n-1] slicing): docs
    shorter than n tokens yield one partial shingle — concat_ws skips
    the NULL leads at pos 0."""
    toks = df.withColumn("_rid", F.monotonically_increasing_id()).select(
        F.col(id_col).alias("id"),
        "_rid",
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    if n < 2:  # unigrams: every token IS a full shingle, no leads exist
        return toks.select("id", F.col("tok").alias("shingle")).distinct()
    w = Window.partitionBy("_rid").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    sh = toks.select(
        "id",
        "pos",
        F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"),
        leads[-1].isNotNull().alias("_full"),
    )
    return (
        sh.filter(F.col("_full") | (F.col("pos") == 0))
        .select("id", "shingle")
        .distinct()
    )


def gram_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    distinct: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Word n-gram 60-bit hashes per document: (id, g).

    Same tokenize-once + window-lead construction (and identical edge
    semantics) as :func:`word_shingles`, but the md5 hash is computed IN
    the lead projection, so for consumers that only need gram IDENTITY
    (contamination scans) the shingle string never exists as a shuffled
    or deduplicated column — the distinct runs on (id, 8-byte long)
    instead of (id, ~n-word string), and the downstream join/aggregate
    carry longs only. The hash equals md5 of the exact shingle string,
    so DuckDB oracles built on ``SQL_HASH60(shingle)`` match value-for-
    value, not just count-for-count.

    ``distinct=False`` skips the per-side dedup shuffle entirely for
    consumers whose aggregate absorbs duplicates (``countDistinct``) —
    at 100 TB that removes a full shuffle of the largest intermediate.
    ``carry`` names extra per-document columns to thread through
    (constant within a doc, e.g. a held-out membership flag).

    Like :func:`word_shingles`, the lead window partitions by a
    per-ROW uid so duplicated ids cannot interleave two copies'
    position sequences into cross-copy garbage grams (bug class 9);
    the ``distinct`` (or the consumer's countDistinct) then absorbs
    the per-copy repeats.
    """
    toks = df.withColumn("_rid", F.monotonically_increasing_id()).select(
        F.col(id_col).alias("id"),
        "_rid",
        *[F.col(c) for c in carry],
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    if n < 2:  # unigrams: every token IS a full gram, no leads exist
        out = toks.select("id", *carry, md5_long(F.col("tok")).alias("g"))
        return out.distinct() if distinct else out
    w = Window.partitionBy("_rid").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    sh = toks.select(
        "id",
        *carry,
        "pos",
        md5_long(F.concat_ws(" ", F.col("tok"), *leads)).alias("g"),
        leads[-1].isNotNull().alias("_full"),
    )
    out = sh.filter(F.col("_full") | (F.col("pos") == 0)).select("id", *carry, "g")
    return out.distinct() if distinct else out


def _shingle_intersection(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    df_cap: int | None,
) -> DataFrame:
    """Shared candidate-pair machinery for every shingle-overlap
    measure: inverted-index self-join BY SHINGLE (never all doc
    pairs), optional ``df_cap`` dropping shingles in more than that
    many docs (skew + quadratic-blowup guard), per-doc sizes attached.
    Returns (id_a, id_b, n_inter, n_a, n_b) with id_a < id_b — the
    one place the join/guard lives so Jaccard and containment cannot
    drift apart."""
    sh = word_shingles(df, text_col, id_col, n)
    if df_cap is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(F.broadcast(freq.filter(F.col("df") <= df_cap)), "shingle")
        sh = sh.select("id", "shingle")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via shingle inverted-index join.

    |A∩B| from the self-join on shingle; |A∪B| = |A|+|B|−|A∩B|.
    ``df_cap`` drops shingles occurring in more than that many docs
    (skew + quadratic-blowup guard; exact results for corpora where
    true near-dups share at least one sub-cap shingle)."""
    out = (
        _shingle_intersection(df, text_col, id_col, n, df_cap)
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_inter", "jaccard")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    n: int = 3,
) -> DataFrame:
    """k MinHash values per document as rows (id, h, sig).

    sig_h = min over shingles of (a_h·md5(shingle) + b_h) mod P — the
    classic universal-hash permutation family; P[sig_h(A)=sig_h(B)] =
    Jaccard(A,B).

    Computed as k ``min()`` aggregates over the exploded shingle rows in
    ONE groupBy(id): shingles are materialized exactly once (explode),
    each row computes ONE codegen'd md5 plus k multiply-adds (k
    independent md5s cost ~2× more — measured), and map-side partial
    mins make the shuffle ~k longs per doc. (Two rejected formulations: crossJoin
    with range(k) shuffled k·shingles rows; a nested
    transform(sequence(k), h -> min(transform(shingles, md5)))
    array-expression recomputed the shingle split per lambda element —
    Catalyst inlines collapsed projects into lambdas, no CSE — and went
    interpreted-slow.)"""
    return (
        _sig_cols(word_shingles(df, text_col, id_col, n), k)
        .select(
            F.col("id").alias(id_col),
            F.posexplode(F.array(*[F.col(f"sig_{h}") for h in range(k)])).alias("h", "sig"),
        )
    )


def _sig_cols(sh: DataFrame, k: int) -> DataFrame:
    """(id, sig_0..sig_{k-1}) — one min-agg per salted hash family.

    The md5 base hash is HOISTED into a projected column below the
    aggregate: each of the k min-agg expressions would otherwise carry
    its own copy of the md5+conv subtree, and Spark's subexpression
    elimination does not fire across aggregate expressions, so the md5
    ran k× per shingle row (measured 1.83 s → 1.07 s median at sf0.1
    for the full LSH query after the hoist). Post-hoist each agg input
    is one multiply-add-mod over the shared ``hv`` long."""
    hv = sh.withColumn("hv", _minhash_base())
    return hv.groupBy("id").agg(
        *[F.min(perm_hash(F.col("hv"), h)).alias(f"sig_{h}") for h in range(k)]
    )


def _minhash_docs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    n: int,
    persist_key: str = "minhash_docs",
) -> DataFrame:
    """Per-doc frame carrying BOTH the shingle set and the k min-hash
    signatures — ONE groupBy(id) computes both: one shuffle, one pass
    over the shingle rows. PERSISTED: consumers (banding + verify
    sides) get different column-pruned subtrees, so Spark's exchange
    reuse never fires and the aggregate would execute 3x (measured
    9.5s->6.3s at sf0.1). One row per doc — tiny relative to input.
    The md5 base is hoisted below the agg: agg-expr subtrees get no
    cross-expression CSE, so an inline base ran the md5 k times per
    shingle row. Bounded persist via swap_persist (repeated
    invocations in one session must not accumulate cache entries)."""
    sh_rows = word_shingles(df, text_col, id_col, n)
    docs = (
        sh_rows.withColumn("hv", _minhash_base())
        .groupBy("id")
        .agg(
            F.collect_set("shingle").alias("sh"),
            *[F.min(perm_hash(F.col("hv"), h)).alias(f"sig_{h}") for h in range(k)],
        )
    )
    return swap_persist(persist_key, docs)


def _band_candidates(docs: DataFrame, k: int, bands: int) -> DataFrame:
    """LSH banding over a :func:`_minhash_docs` frame: band r = k/bands
    consecutive sigs into one md5 bucket key; docs sharing any
    (band, key) bucket become candidate pairs (id_a < id_b)."""
    r = k // bands
    band_keys = F.array(
        *[
            F.md5(F.concat_ws(",", *[F.col(f"sig_{t * r + j}").cast("string") for j in range(r)]))
            for t in range(bands)
        ]
    )
    banded = docs.select("id", F.posexplode(band_keys).alias("band", "bucket"))
    return (
        banded.alias("x")
        .join(banded.alias("y"), (F.col("x.band") == F.col("y.band")) & (F.col("x.bucket") == F.col("y.bucket"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact Jaccard.

    Band r = k/bands consecutive signature values into one md5 bucket
    key; docs sharing any (band, key) bucket become candidates
    (P[candidate] ≈ 1−(1−j^r)^b); exact Jaccard then removes false
    positives. False negatives are inherent to LSH — the oracle mirrors
    the identical construction, so results still match exactly."""
    docs = _minhash_docs(df, text_col, id_col, k, n)
    cand = _band_candidates(docs, k, bands)
    # verify candidates with exact Jaccard via array_intersect — joins
    # shingle arrays for the (rare) candidates only, no inverted index.
    da = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("jaccard", F.round(inter / (F.size("sh_a") + F.size("sh_b") - inter), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint (Charikar'02): per token-hash bit, sum ±1
    weighted by term frequency; fingerprint bit = sign of the sum.

    Explode tokens → hash → per-(doc,bit) contributions via a bit-index
    array → two-level aggregate. Shuffle carries (doc, bit) partial sums
    only. Near-dup docs differ in few bits (Hamming ≤ 3 typical)."""
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("hv", md5_long(F.col("tok")))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    contrib = toks.select(
        "id",
        "tf",
        "hv",
        bit,
    ).withColumn(
        # shiftright() takes a Python int for numBits; expr() for column-bit
        "c",
        F.when(F.expr("shiftright(hv, bit) & 1").cast("bigint") == 1, F.col("tf")).otherwise(-F.col("tf")),
    )
    bitsums = contrib.groupBy("id", "bit").agg(F.sum("c").alias("s"))
    fp = bitsums.groupBy("id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(F.lit(0))
        ).alias("simhash")
    )
    return fp.select(F.col("id").alias(id_col), "simhash")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 15,
    require_converged: bool = False,
) -> DataFrame:
    """Dedup clustering: near-dup PAIRS → components → canonical keeper.

    Min-label propagation to fixpoint: every vertex starts labeled with
    its own id; each round it takes the min of its label and its
    neighbors' labels. Converges in O(component diameter) rounds —
    near-dup clusters are shallow (pairs/stars), so a handful. The
    fixpoint is algorithm-independent (label = min id in the component),
    which is what makes it oracle-checkable via a recursive-CTE
    reachability query.

    Each round is one shuffle join (symmetric edges ⋈ labels) + one
    min-aggregate; ``localCheckpoint`` truncates the growing lineage so
    round N doesn't replay rounds 1..N-1. The per-round driver
    convergence probe reads ONE boolean (`isEmpty`), not data. At
    100 TB this is the standard large-star/small-star regime; for
    billion-edge graphs swap in the alternating large/small-star steps —
    the per-round plan shape (join + min-agg) is identical.

    Returns (id, component) for every vertex that appears in an edge;
    component = min id in the cluster (the conventional keeper).
    """
    # Materialize the symmetric edge list ONCE. ``edges`` is typically
    # the tip of an expensive pipeline (LSH candidate join + cosine
    # verify); without this, every propagation round's join re-derives
    # that whole pipeline from lineage — measured at sf1 on the
    # sim_embedding_clusters edge set: ~50 s of edge generation
    # replayed per round, turning a <2 min fixpoint into >30 min. The
    # checkpoint pins 2|E| narrow rows and each round then costs one
    # join + one min-agg over them.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("id")).distinct().select("id", F.col("id").alias("component"))
    ).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u")
            .agg(F.min("component").alias("_nbr"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.u, "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("_nbr", F.col("component"))).alias(
                    "component"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
        )
        labels = new_labels
        if changed.isEmpty():
            converged = True
            break
    if require_converged and not converged:
        # a silent non-fixpoint would return WRONG labels (and diverge
        # from any fixpoint oracle); callers on loose edge sets — long
        # chains are plausible there — must get an error, not bad data
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "component diameter exceeds the cap — raise max_iter"
        )
    return labels


def contamination_overlap(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    df_cap: int | None = None,
) -> DataFrame:
    """Train/eval contamination check: which training documents share
    word ``n``-grams with a held-out set (the benchmark-leakage scan a
    training pipeline runs before every data release; n=5..13 is the
    usual window — GPT-3 used 13-gram, Gopher 8-gram overlap).

    Shape is the scale-safe inverted index, NOT all-pairs: distinct
    (doc, gram-hash) on each side, equi-join on the 60-bit gram hash,
    aggregate per training doc. Shuffle is proportional to total
    distinct grams; the held-out side (benchmarks) is tiny in practice,
    so at 100 TB AQE broadcasts it and the train side never shuffles.
    ``df_cap`` drops grams present in more than that many held-out docs
    (stop-phrases like 'what is the name of' match everything and only
    add noise — same guard as ngram_jaccard_pairs' stop-shingles).

    Returns one row per contaminated training doc: distinct shared
    grams + how many held-out docs it touches.

    The train side is NOT pre-deduplicated (``distinct=False``): the
    final ``countDistinct`` absorbs within-doc repeats, so skipping the
    distinct removes a full shuffle of the largest intermediate — the
    train gram stream — at the cost of a few duplicate hit rows through
    the join. Gram hashes are built directly in the lead projection
    (:func:`gram_hashes`): the shingle STRING never materializes as a
    shuffled column, only 8-byte longs move.
    """
    tg = gram_hashes(train, text_col, id_col, n, distinct=False)
    hg = gram_hashes(heldout, text_col, id_col, n).withColumnRenamed(
        "id", "held_id"
    )
    return _contamination_hits(tg, hg, id_col, df_cap)


def contamination_overlap_split(
    docs: DataFrame,
    held_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    df_cap: int | None = None,
) -> DataFrame:
    """:func:`contamination_overlap` when train and held-out are two
    slices of ONE corpus (``held_pred`` over ``docs`` marks the held-out
    rows): tokenize + window + hash run ONCE over the whole corpus and
    the narrow (id, g, held) stream is persisted, instead of two full
    tokenize/window passes whose subtrees Catalyst cannot share across
    the join (differently-pruned children — the same reason the MinHash
    pipeline persists its signature frame). Persisted rows are two longs
    + a boolean per gram occurrence (~17 B); MEMORY_AND_DISK spills
    rather than recomputes, and a corpus too big even for disk cache
    falls back to the two-frame :func:`contamination_overlap`, trading
    the cache for a second scan."""
    grams = swap_persist(
        "contamination_grams",
        gram_hashes(
            docs.withColumn("_held", held_pred),
            text_col,
            id_col,
            n,
            distinct=False,
            carry=("_held",),
        ),
    )
    hg = grams.filter(F.col("_held")).select(
        F.col("id").alias("held_id"), "g"
    ).distinct()
    tg = grams.filter(~F.col("_held")).select("id", "g")
    return _contamination_hits(tg, hg, id_col, df_cap)


def _contamination_hits(
    tg: DataFrame, hg: DataFrame, id_col: str, df_cap: int | None
) -> DataFrame:
    """Join train grams (id, g) to distinct held-out grams (held_id, g)
    and aggregate per training doc. ``df_cap`` drops grams present in
    more than that many held-out docs before the join."""
    if df_cap is not None:
        keep = hg.groupBy("g").agg(F.count("*").alias("_df")).filter(
            F.col("_df") <= df_cap
        )
        hg = hg.join(keep.select("g"), "g")
    hits = tg.join(hg, "g")
    return hits.groupBy("id").agg(
        F.countDistinct("g").alias("n_shared_grams"),
        F.countDistinct("held_id").alias("n_held_docs"),
    ).select(
        F.col("id").alias(id_col), "n_shared_grams", "n_held_docs"
    )


def substring_dup_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Cross-document repeated-substring detection — the gram-level
    approximation of RefinedWeb/Pile exact substring dedup (suffix
    arrays don't distribute; an inverted index over fixed-width token
    grams does): for each document, the fraction of its distinct
    n-token grams that ALSO appear in some other document. High
    dup_frac = boilerplate spans shared across the corpus (licenses,
    navigation chrome, templated text) — masked or dropped before
    training.

    Scale shape: one gram_hashes pass (60-bit longs, never shingle
    strings), persisted once for its two consumers (corpus
    document-frequency aggregate and the per-doc score join —
    differently-pruned subtrees Catalyst cannot share); the df table
    joins back by an equi-join on the hash. All shuffles carry
    (id, long) pairs. The gram width trades recall for index size the
    same way the contamination scan's does."""
    from .caching import swap_persist

    g = swap_persist(
        "substring_grams", gram_hashes(df, text_col, id_col, n, distinct=True)
    )
    dfreq = g.groupBy("g").agg(F.count("*").alias("doc_freq"))
    return (
        g.join(dfreq, "g")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("doc_freq") > 1).cast("int")).alias("n_dup_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A∩B|/|A| per candidate pair —
    the subset-detection measure Jaccard misses: a short document
    fully embedded in a long one has low Jaccard (union is big) but
    containment 1.0. Same inverted-index join as
    :func:`ngram_jaccard_pairs` (shared via
    :func:`_shingle_intersection`); a pair is emitted when EITHER
    direction reaches ``threshold``, with both directions reported."""
    out = (
        _shingle_intersection(df, text_col, id_col, n, df_cap)
        .withColumn("cont_a", F.round(F.col("n_inter") / F.col("n_a"), 6))
        .withColumn("cont_b", F.round(F.col("n_inter") / F.col("n_b"), 6))
        .filter(
            (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold)
        )
    )
    return out.select("id_a", "id_b", "n_inter", "cont_a", "cont_b")


def minhash_estimate_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Estimator-quality eval for MinHash: over the LSH candidate
    pairs, compare the k-signature Jaccard ESTIMATE (matching sigs /
    k) against the exact shingle Jaccard; returns one row with the
    pair count, mean absolute error, and signed bias — the
    measure-don't-guess harness for choosing k (the MinHash sibling
    of sim_ann_recall_eval). Per-pair errors are quantized to integer
    micro-units before averaging (order-free sums)."""
    # share the 'minhash_docs' cache slot with minhash_lsh_pairs: the
    # frame is byte-identical for the same (df, k, n), and a second key
    # would double the bounded cache footprint in sessions running both
    docs = _minhash_docs(df, text_col, id_col, k, n)
    cand = _band_candidates(docs, k, bands)
    da = docs.select(
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"sig_{h}").alias(f"sa_{h}") for h in range(k)],
    )
    db = docs.select(
        F.col("id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"sig_{h}").alias(f"sb_{h}") for h in range(k)],
    )
    m = sum(
        F.when(F.col(f"sa_{h}") == F.col(f"sb_{h}"), 1).otherwise(0) for h in range(k)
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    per = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            (m / F.lit(float(k))).alias("est"),
            (inter / (F.size("sh_a") + F.size("sh_b") - inter)).alias("ex"),
        )
    )
    q = per.select(
        F.round(F.abs(F.col("est") - F.col("ex")) * 1000000).cast("bigint").alias("ae"),
        F.round((F.col("est") - F.col("ex")) * 1000000).cast("bigint").alias("e"),
    )
    return q.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("ae").cast("double") / F.count("*") / 1000000, 6).alias("mae"),
        F.round(F.sum("e").cast("double") / F.count("*") / 1000000, 6).alias("bias"),
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard pairs (t = 3/5).

    Same answer as :func:`ngram_jaccard_pairs` at threshold 0.6, but
    the candidate join indexes only each document's PREFIX — its
    ``n_sh - ceil(t*n_sh) + 1`` globally-rarest shingles (ascending
    document frequency, shingle tie-break). Prefix lemma: if
    J(x,y) >= t then |x∩y| >= ceil(t*|x|), and the smallest common
    shingle under the global order must sit inside BOTH prefixes — so
    the prefix self-join loses no qualifying pair, while candidates
    shrink superlinearly with t (rare shingles collide rarely). The
    ceil is integer arithmetic ((3n+4) DIV 5) so both engines agree
    exactly. Candidates are then verified with the full inverted
    index, exact n_inter / Jaccard.

    Scale: this is THE production set-similarity join (PPJoin, Xiao
    et al.): the quadratic blowup of hot shingles moves from every
    shingle to only prefix shingles, which are by construction the
    rarest — the df-cap guard becomes unnecessary for candidate
    generation. Shuffles: shingle freq agg, per-doc rank window,
    prefix self-join on shingle, pair-verify joins — all equi-keyed."""
    sh = word_shingles(df, text_col, id_col, n)
    from .caching import swap_persist

    sh = swap_persist("ppjoin_shingles", sh)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    w = Window.partitionBy("id").orderBy("df", "shingle")
    ranked = (
        sh.join(freq, "shingle")
        .join(F.broadcast(sizes), "id")
        .withColumn("rn", F.row_number().over(w))
    )
    pfx = ranked.filter(
        F.col("rn")
        <= F.col("n_sh") - F.floor((3 * F.col("n_sh") + 4) / 5) + 1
    ).select("id", "shingle")
    a, b = pfx.alias("a"), pfx.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        cand.join(x, F.col("x.id") == F.col("id_a"))
        .join(
            y,
            (F.col("y.id") == F.col("id_b")) & (F.col("y.shingle") == F.col("x.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= 0.6)
    )
    return out.select("id_a", "id_b", "n_inter", "jaccard")
