"""Text-analysis operators over the ``documents`` table (north-star X3).

All operators are pure built-in column expressions — tokenization, ratio
math, and even the winnowing fingerprint run as array expressions inside
whole-stage codegen; no Python UDFs, no explode-shuffle unless the
operator is genuinely per-term (term_frequencies).

The reference has no text surface at all (SURVEY §2.10); these are the
document-prep operators an LLM-data pipeline needs: token counting,
language ID, quality scoring, content fingerprinting.

Scale: every per-doc operator is a narrow map — no shuffle, linear scan,
trivially partition-parallel at 100 TB. ``term_frequencies`` is
explode + partial-aggregated count (map-side combine keeps the shuffle
to distinct terms per partition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small & hardcoded: a heuristic's job is to be
# deterministic and cheap, not clever. (Public knowledge — these are the
# most frequent function words of each language.)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "es"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "que"),
}

TOKEN_SEP = r"\s+"


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization as an array column (no explode)."""
    return F.split(F.col(c) if isinstance(c, str) else c, TOKEN_SEP)


SQL_TOKENS = "string_split_regex({c}, '\\s+')"


def _ratio_in(toks: Column, words: tuple[str, ...]) -> Column:
    """Fraction of tokens that appear in ``words`` (0 when empty)."""
    wordlist = F.array(*[F.lit(w) for w in words])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(wordlist, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def _mean_token_len(t: Column) -> Column:
    """Mean length of the tokens in ``t`` (0 for an empty array)."""
    return F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, x: a + x) / F.greatest(
        F.size(t), F.lit(1)
    )


def _token_cols(text_col: str) -> dict[str, Column]:
    """token_stats' columns by output name: whitespace token count,
    unique tokens, mean token length and BPE-ish sub-token pieces."""
    t = tokens(text_col)
    pieces = F.split(F.regexp_replace(F.col(text_col), r"([^\sA-Za-z0-9]|[0-9]+)", r" $1 "), r"\s+")
    pieces = F.filter(pieces, lambda p: p != F.lit(""))
    return {
        "n_tokens": F.size(t),
        "n_unique_tokens": F.size(F.array_distinct(t)),
        "avg_token_len": F.round(_mean_token_len(t), 6),
        "n_subword_pieces": F.size(pieces),
    }


def _lang_cols(text_col: str) -> dict[str, Column]:
    """lang_id's columns by output name: ``ratio_<lang>`` per language,
    then ``lang_pred``."""
    t = tokens(text_col)
    ratios = {lang: F.round(_ratio_in(t, words), 6) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*ratios.values())
    pred = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = F.when((best >= 0.02) & (ratios[lang] == best), lang).otherwise(pred)
    return {**{f"ratio_{lang}": r for lang, r in ratios.items()}, "lang_pred": pred}


def _quality_cols(text_col: str) -> dict[str, Column]:
    """quality_score's columns after ``n_tokens``, by output name; the
    last, ``quality``, is the score itself."""
    t = tokens(text_col)
    punct_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
        / F.greatest(F.length(text_col), F.lit(1))
    )
    stop_ratio = _ratio_in(t, LANG_STOPWORDS["en"])
    mean_len = _mean_token_len(t)
    len_ok = F.when((mean_len >= 3) & (mean_len <= 8), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(F.size(t) / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * F.least(stop_ratio / F.lit(0.1), F.lit(1.0))
        + F.lit(0.1) * len_ok
    )
    return {
        "punct_ratio": F.round(punct_ratio, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "mean_token_len": F.round(mean_len, 6),
        "quality": F.round(score, 6),
    }


def _named(cols: dict[str, Column]) -> list[Column]:
    """Columns keyed by output name, each aliased to that name."""
    return [c.alias(name) for name, c in cols.items()]


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts: total, unique, average token length.

    Whitespace tokens + a BPE-ish sub-token count: alphanumeric runs and
    single punctuation marks each count as one piece (the usual
    pre-tokenizer regex), approximating LLM token counts without a
    vocab file.
    """
    return df.select(id_col, *_named(_token_cols(text_col)))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-ratio language heuristic.

    Scores each language by the fraction of tokens in its stopword list;
    predicts the argmax if its ratio ≥ 0.02, else 'und' (undetermined).
    Ties break by language code order (deterministic). Structured as a
    single codegen'd expression — no shuffle."""
    return df.select(id_col, *_named(_lang_cols(text_col)))


def quality_expr(text_col: str = "text") -> Column:
    """The [0,1] quality score as a single inline Column expression.

    Exposed separately so pipelines can compute quality IN the main
    projection (one scan) instead of joining ``quality_score``'s frame
    back on the id — a pure-projection self-join Catalyst won't collapse.
    """
    return _quality_cols(text_col)["quality"]


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document quality heuristics: length, punctuation ratio, stopword
    ratio, mean word length — combined into one [0,1] score.

    score = 0.4·min(n_tokens/50, 1) + 0.3·(1 − punct_ratio)
          + 0.2·min(stop_ratio/0.1, 1) + 0.1·len_ok
    (len_ok: mean token length in the natural-language 3..8 band).
    """
    return df.select(
        id_col,
        F.size(tokens(text_col)).alias("n_tokens"),
        *_named(_quality_cols(text_col)),
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """token_stats + lang_id + quality_score in ONE projection.

    The three profilers are pure per-row expressions over the same text
    column, so composing them costs one scan and zero shuffles — the
    shape a 100 TB curation pass wants (three separate selects would be
    three scans, or a join if combined naively). Column semantics are
    identical to the individual operators.
    """
    return df.select(
        id_col,
        *_named(_token_cols(text_col)),
        *_named(_lang_cols(text_col)),
        *_named(_quality_cols(text_col)),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into overlapping token-window chunks.

    The pre-training segmentation step: chunk i covers tokens
    [i·stride, i·stride + chunk_tokens) with stride = chunk_tokens −
    overlap; the final chunk clamps at the document end, and every doc
    yields at least one chunk. (chunk_id, doc_id) is a stable,
    layout-independent key — chunk membership is a pure function of the
    text, so chunks are reproducible across engines and reruns.

    Plan: the chunk texts are built per-ROW in one ``transform`` over
    the chunk indices, and only the finished (text, size) structs
    explode — never the token array alongside its own positions. The
    previous shape (explode chunk ids WITH ``_t`` attached, slice per
    chunk row) carried the WHOLE document into every chunk row:
    O(len²/stride) duplicated bytes — one 3.2 MB doc became ~9.6k rows
    x 480k tokens each and a 240 s timeout in the r13 bigdoc engine
    sweep. Same greppable smell the winnowing fingerprint fixed in r12
    (PERF_NOTES 12f rule 1: explode alongside the payload it derives
    from). Total bytes are now O(len · chunk_tokens/stride) per doc; no
    shuffle; chunk rows inherit the document's partitioning.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    t = tokens(text_col)
    toks = df.select(id_col, t.alias("_t"))
    n_chunks = F.greatest(
        F.ceil(
            (F.size(F.col("_t")) - F.lit(overlap)) / F.lit(float(stride))
        ).cast("int"),
        F.lit(1),
    )
    sliced = lambda i: F.slice(F.col("_t"), i * stride + 1, chunk_tokens)  # noqa: E731
    chunk_structs = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.array_join(sliced(i), " ").alias("chunk_text"),
            F.size(sliced(i)).alias("n_chunk_tokens"),
        ),
    )
    return toks.select(
        id_col, F.posexplode(chunk_structs).alias("chunk_id", "_c")
    ).select(
        id_col,
        "chunk_id",
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_chunk_tokens").alias("n_chunk_tokens"),
    )


def winnow_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al., SIGMOD'03).

    Hash every char ``k``-gram (rolling-hash equivalent via md5_long),
    take the min in each sliding window of ``w`` hashes, and keep the
    distinct minima — the document's fingerprint set. Near-identical
    documents share most fingerprints. Output: fingerprint count + a
    stable digest (md5 of the sorted minima) for exact-set comparison.

    Implemented as posexplode(gram positions) + a rows-frame window min
    + collect_set — each k-gram is hashed exactly once. (The pure
    array-expression form — transform(sequence, j -> array_min(slice(
    grams, j, w))) — inlines and re-evaluates the whole gram array per
    window position: O(len²) md5s. Catalyst does not CSE across lambda
    boundaries; don't go back to it.)
    """
    # windows partition by a per-ROW uid, not id: a duplicated id would
    # interleave two copies' position sequences and the w-row frame
    # would span cross-copy rows (bug class 9); per-row framing keeps
    # each copy's minima correct and the collect_set unions the
    # (identical) per-copy fingerprint sets. 1:1 with id on valid data.
    # The gram ARRAY is built in one per-row transform and only the
    # bigint hashes explode — never explode positions with the text
    # still attached: that shape copies the WHOLE document into every
    # position row (O(len²) bytes — a 256 KiB doc became 67 GB of
    # duplicated string traffic; found hanging by the bigdoc probe
    # axis, r12). One md5 per gram either way; the transform runs once
    # per row, so the docstring's O(len²)-md5 trap (re-evaluating the
    # array per WINDOW position) still doesn't apply.
    grams = (
        df.withColumn("_rid", F.monotonically_increasing_id())
        .select(
            F.col(id_col).alias("id"),
            "_rid",
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
                f"i -> CAST(conv(substring(md5(substring({text_col}, i, {k})), 1, 15),"
                " 16, 10) AS BIGINT))"
            ).alias("_garr"),
        )
        .select(
            "id",
            "_rid",
            F.posexplode("_garr").alias("_pos", "g"),
        )
        .select("id", "_rid", (F.col("_pos") + 1).alias("i"), "g")
    )
    win = Window.partitionBy("_rid").orderBy("i").rowsBetween(0, w - 1)
    n_win = Window.partitionBy("_rid")
    mins = grams.select(
        "id",
        "i",
        F.min("g").over(win).alias("m"),
        F.count("*").over(n_win).alias("_n"),
    ).filter(F.col("i") <= F.greatest(F.col("_n") - (w - 1), F.lit(1)))
    fp = mins.groupBy("id").agg(F.sort_array(F.collect_set("m")).alias("fp"))
    # an empty minima set only arises from NULL text (every non-NULL
    # string, even '', hashes at least one k-gram): no content means NO
    # digest — NULL, not md5('') masquerading as a real fingerprint
    # (all-NULL-column probe axis, matches the oracle's NULL semantics)
    return fp.select(
        F.col("id").alias(id_col),
        F.size("fp").alias("n_fingerprints"),
        F.when(F.size("fp") == 0, F.lit(None).cast("string"))
        .otherwise(
            F.md5(F.concat_ws(",", F.transform("fp", lambda x: x.cast("string"))))
        )
        .alias("fingerprint"),
    )


def term_frequencies(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """Corpus-level term frequencies, top-N by count (explode + count).

    Map-side combine makes the shuffle proportional to distinct terms,
    not tokens; top-N is TakeOrderedAndProject (no global sort)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(top_n)
    )


#: RE2-and-Java-compatible PII patterns (no backrefs/lookarounds, so the
#: same literal runs in Spark and the DuckDB oracle).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def pii_scrub(text: Column | str) -> Column:
    """Scrub emails then IPv4 addresses to typed placeholder tokens —
    the privacy-filter stage of a training-data pipeline. Pure
    regexp_replace chain: codegen'd, partition-local, no shuffle at any
    scale. (Order matters: emails first, or an address inside a
    user@host string would be half-scrubbed.)"""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
    )


def repetition_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition: fraction of word 2-grams and 3-grams
    that repeat an earlier occurrence — the Gopher/RefinedWeb "duplicate
    n-gram" quality signal (boilerplate, keyword stuffing, and decoding
    loops all score high; filtered before training).

    The metric is strictly per-document, so it is computed entirely
    partition-local over the token ARRAY — zero shuffles: both gram
    widths are built by ``transform`` over index ranges and the
    distinct counts by ``array_distinct``, replacing the previous
    posexplode + (doc,pos) lead-window + countDistinct groupBy, which
    shuffled and sorted the whole token stream and Expand-doubled it
    for the two count-distincts (measured 1.6–1.9 s → 0.45 s at sf0.1,
    and at 100 TB the token-stream shuffle it removes IS the cost).
    CollapseProject inlines ``tokens()`` into each consumer (3 copies
    of the regex split; binding it once via a single-element transform
    lambda re-evaluates the whole lambda per struct-field extraction —
    measured 1.1 s, worse), so the duplicated split is the cheaper
    side of the engine's no-CSE-into-lambdas tradeoff. Docs with fewer
    than 2 tokens have no 2-grams and are excluded (same rule in the
    oracle); rep3_frac is 0 when a doc has exactly 2 tokens.
    """
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("w"))
    n = F.size("w")
    g2 = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat_ws(" ", F.col("w")[i], F.col("w")[i + 1]),
    )
    g3 = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ", F.col("w")[i], F.col("w")[i + 1], F.col("w")[i + 2]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toked.filter(n >= 2).select("id", g2.alias("g2"), g3.alias("g3"))
    counts = grams.select(
        "id",
        F.size("g2").alias("n_2grams"),
        F.size(F.array_distinct("g2")).alias("n_unique_2grams"),
        F.size("g3").alias("n_3grams"),
        F.size(F.array_distinct("g3")).alias("n_unique_3grams"),
    )
    frac = lambda n, u: F.when(  # noqa: E731
        F.col(n) > 0,
        F.round(F.lit(1.0) - F.col(u) / F.col(n), 6),
    ).otherwise(F.lit(0.0))
    return counts.select(
        F.col("id").alias(id_col),
        "n_2grams",
        "n_unique_2grams",
        frac("n_2grams", "n_unique_2grams").alias("rep2_frac"),
        "n_3grams",
        "n_unique_3grams",
        frac("n_3grams", "n_unique_3grams").alias("rep3_frac"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF.

    score = tf · (ln((N+1)/(df+1)) + 1) — the sklearn-style smoothed
    idf, so terms present in every document still get a positive weight
    and the log never sees zero. Ties break on term (asc) so the top-k
    edge is deterministic cross-engine.

    Plan shape (scale): ONE explode + (doc, term) hash-agg for tf, then
    the document frequency is a count() window over the tf frame's term
    partitioning — not a second aggregate of a re-tokenized corpus (a
    separate groupBy(term) subtree gets different column pruning, so
    Spark's exchange reuse never fires and the explode would run twice;
    plan-asserted single-Generate in tests/test_plans.py). N is a
    broadcast 1-row frame; final per-doc top-k is a narrow row_number
    window. Document text never shuffles."""
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "rk", "score")
    )


def micro_mean_readout(sum_col, count_col):
    """Cross-engine-deterministic mean readout over integer micro-units.

    ``floor(S/n + 0.5) / 1e6`` — NOT ``round(S/n/1e6, 6)``: S/n is the
    same IEEE divide in Spark and DuckDB, and ``floor(x + 0.5)`` is the
    same HALF_UP there too, so both engines read out bit-identical
    doubles. ``round(double, 6)`` instead goes through engine-specific
    decimal rendering (Spark: Double.toString → BigDecimal HALF_UP;
    DuckDB: binary-double arithmetic) whose one-ulp boundary cases
    disagree ~1-per-1e5 rows — first surfaced by the r8 sf1 window
    sweep on ``bigram_logprob`` (-3.448945 vs -3.448946). Shared by
    both LM readouts so the boundary regression test
    (tests/test_scale_regressions.py) pins the production expression,
    not a copy.
    """
    return F.floor(sum_col / count_col + 0.5) / F.lit(1000000.0)


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability — the LM-perplexity
    proxy quality gate (the cheap stand-in for a KenLM score): documents
    whose tokens are improbable under the corpus unigram distribution
    (garbled text, wrong language, boilerplate soup) score low and get
    filtered before training.

    p(tok) = (c+1) / (T+V) with add-one smoothing over the corpus
    unigram table (c = corpus count, T = total tokens, V = vocab size);
    score = mean ln p over the document's tokens.

    Cross-engine determinism: a float SUM over rows is order-dependent,
    so per-token ln values are quantized to integer micro-nats
    (round(ln·1e6) as BIGINT — round is half-away-from-zero in both
    engines) and summed exactly; the mean divides the exact integer sum.
    Same integer-in-double pattern as the moments/stats family.

    Scale shape: the exploded token stream feeds BOTH the unigram
    aggregate and the scoring join — differently-pruned subtrees
    Catalyst cannot share — so it is persisted once (bounded via
    swap_persist) instead of tokenizing the corpus twice. The score
    join is a standard hash join against the vocab-sized counts table
    (broadcast when it fits, AQE skew-split handles the stop-word-heavy
    partitions when it doesn't), then one (doc) aggregate. Document
    text never shuffles; at 100 TB floor the vocab with a min-count and
    fold the tail into an OOV row to keep the table broadcastable."""
    from .caching import swap_persist

    toks = swap_persist(
        "unigram_toks",
        df.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
        ).filter(F.col("term") != ""),
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    stats = counts.agg(F.sum("c").alias("t"), F.count("*").alias("v"))
    scored = (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.round(
                F.log((F.col("c") + 1) / (F.col("t") + F.col("v"))) * 1000000
            ).cast("bigint"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        micro_mean_readout(F.sum("s"), F.count("*")).alias("mean_logprob"),
    )


def vocab_build(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    oov_token: str = "<unk>",
) -> DataFrame:
    """Corpus vocabulary with a min-count floor and OOV folding — the
    table the unigram/bigram LM gates broadcast at 100 TB (the
    :func:`unigram_logprob` docstring's "floor the vocab and fold the
    tail" path, materialized).

    Terms seen >= ``min_count`` times get dense ids assigned by
    (count DESC, term ASC) rank — the frequency-sorted layout every
    tokenizer vocab file uses; the below-floor tail folds into ONE
    ``oov_token`` row (id 0) carrying the tail's total count, so
    downstream lookup joins stay vocab-sized and every corpus token
    still maps somewhere.

    Scale shape: one explode + one (term) hash-agg (map-side combined);
    the id assignment is the two-pass range-partitioned
    :func:`~..ops.sorts.global_row_number` over (count DESC, term ASC)
    — r14: the previous unpartitioned row_number window funneled the
    whole aggregated vocab (Heaps-law growth, ~10^7+ types at web
    scale) through ONE task; identical ids, since the order is total
    and desc = NULLS LAST in both forms. Ties break on the term
    string, so ids are deterministic cross-engine."""
    from ..ops.sorts import global_row_number

    toks = df.select(F.explode(tokens(text_col)).alias("term")).filter(
        F.col("term") != ""
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    kept = counts.filter(F.col("c") >= min_count)
    ranked = global_row_number(
        kept,
        order=["c", "term"],
        directions=["desc", "asc"],
        alias="_vb_rn",
        persist_key="vocab_build_rank",
    ).select("term", "c", F.col("_vb_rn").cast("bigint").alias("term_id"))
    oov = (
        counts.filter(F.col("c") < min_count)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("c"))
        .select(
            F.lit(oov_token).alias("term"),
            "c",
            F.lit(0).cast("bigint").alias("term_id"),
        )
    )
    return ranked.unionByName(oov)


def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean bigram conditional log-probability — the
    next-step-up LM-perplexity gate over :func:`unigram_logprob`
    (CCNet/Gopher filter with a KenLM-style n-gram model; a unigram
    model can't see scrambled word ORDER, a bigram model can).

    p(cur | prev) = (c(prev,cur) + 1) / (c(prev) + V) with add-one
    smoothing, where c(prev) counts prev as a CONTEXT (occurrences in
    the bigram stream) and V = distinct continuation types — the model
    is self-consistent over transitions, so documents shorter than 2
    tokens are excluded (nothing to score).

    Cross-engine determinism: per-transition ln values quantized to
    integer micro-nats and summed exactly, the same pattern as the
    unigram gate.

    Scale shape: bigram pairs are built PARTITION-LOCAL from the token
    array (transform over index ranges — no (doc, pos) window shuffle
    of the token stream) and exploded once; the pair stream feeds TWO
    consumers (the bigram-count aggregate and the scoring join) —
    differently-pruned subtrees Catalyst cannot share — so it is
    persisted once via swap_persist. The context counts and the
    continuation-vocabulary size are derived FROM the bigram count
    table (Σ_cur c(prev,cur) = c(prev); distinct bc.cur = distinct
    pair.cur) — vocab²-sized aggregations instead of two more full
    passes over the corpus-sized pair stream (within noise at sf0.1
    where the pairs sit in memory; at 100 TB it removes two
    corpus-scale aggregation passes). bc itself stays UNPERSISTED: it
    is vocab²-small and recomputing it from the persisted pairs costs
    one in-memory pass per consumer, while persisting it inserted a
    materialization barrier that measured SLOWER (1.49 vs 1.35 s).
    Both count tables join back on hash keys; document text never
    shuffles."""
    from .caching import swap_persist

    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("w"))
    n = F.size("w")
    prs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.col("w")[i - 1].alias("prev"), F.col("w")[i].alias("cur")
        ),
    )
    pairs = swap_persist(
        "bigram_pairs",
        toked.filter(n >= 2)
        .select("doc_id", F.explode(prs).alias("p"))
        .select("doc_id", "p.prev", "p.cur"),
    )
    bc = pairs.groupBy("prev", "cur").agg(F.count("*").alias("cb"))
    cc = bc.groupBy("prev").agg(F.sum("cb").alias("cctx"))
    vv = bc.agg(F.countDistinct("cur").alias("v"))
    scored = (
        pairs.join(bc, ["prev", "cur"])
        .join(cc, "prev")
        .crossJoin(F.broadcast(vv))
        .withColumn(
            "s",
            F.round(
                F.log((F.col("cb") + 1) / (F.col("cctx") + F.col("v"))) * 1000000
            ).cast("bigint"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        micro_mean_readout(F.sum("s"), F.count("*")).alias("mean_logprob"),
    )


def pii_detect_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII DETECTION counts (emails, IPv4) — the audit
    twin of :func:`pii_scrub`: scrubbing destroys the evidence, so the
    compliance report runs first and records how much of each class
    each document carried (route heavy hitters to review instead of
    silently redacting). Same RE2-and-Java-compatible patterns as the
    scrubber, counted with regexp_count — pure partition-local
    projection, no shuffle at any scale."""
    return df.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col(text_col), F.lit(PII_IPV4)).alias("n_ipv4"),
    )
