"""Text-analysis operators over document tables (SURVEY.md §2B B6 + the
training-data ops): per-doc stats/quality, corpus-level token frequencies,
language distribution.

All native expressions — these are pure scans + one aggregation, the shape
that runs at 100 TB (map-side partial aggs, 8-byte/short shuffle keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..utils import spread

__all__ = [
    "doc_stats",
    "token_frequencies",
    "language_distribution",
    "redact_pii",
    "repetition_signals",
    "pack_token_bins",
    "mixture_sample",
    "unigram_surprisal",
    "surprisal_tercile_buckets",
    "gopher_quality_flags",
]


def doc_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality metrics + heuristic language id."""
    return spread(df).select(
        F.col(id_col),
        *X.quality_metrics(text_col),
        X.language_id(text_col).alias("lang_pred"),
        X.fingerprint64(text_col).alias("fp"),
    )


def token_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus token frequencies: explode -> groupBy(token).count().
    Partial aggregation collapses each partition's counts before the
    exchange, so the shuffle carries one row per distinct token per
    partition — the canonical word-count shape."""
    return (
        spread(df)
        .select(F.explode(X.word_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= F.lit(min_count))
    )


def language_distribution(
    df: DataFrame, text_col: str = "text", lang_col: str | None = None
) -> DataFrame:
    """Predicted-language histogram; when a labeled column exists, also the
    confusion pairs (label, prediction, n) for accuracy checks."""
    pred = X.language_id(text_col).alias("lang_pred")
    if lang_col is None:
        return df.select(pred).groupBy("lang_pred").agg(F.count("*").alias("n"))
    return (
        df.select(F.col(lang_col).alias("lang_label"), pred)
        .groupBy("lang_label", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data ops: privacy scrubbing before training)
# ---------------------------------------------------------------------------

# RE2-safe patterns (no lookaround/backrefs) so Spark (Java regex) and the
# DuckDB oracle (RE2) match the identical spans.  \d and \b are ASCII in
# both dialects.  Email is replaced FIRST: an address also contains digit
# runs the other patterns must never see.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{3}-\d{4}", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask emails / IPv4s / phone numbers with typed placeholder tokens and
    count the redactions per category.

    Pure scan — a chain of native ``regexp_replace``/``regexp_count``
    expressions inside one whole-stage-codegen span, no shuffle, no Python:
    the shape that runs at memory bandwidth over 100 TB.  Counts are taken
    on the ORIGINAL text (before any replacement) so categories don't
    interact; replacements are applied in PII_PATTERNS order on a single
    running column.
    """
    src = F.col(text_col)
    redacted = src
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.regexp_count(src, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, token)
    return spread(df).select(
        F.col(id_col), *counts, redacted.alias("redacted")
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters, training-data ops)
# ---------------------------------------------------------------------------


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics used as LLM training-data quality
    gates (Rae et al. 2021 "Gopher" §A1.1 repetition filters): fraction of
    tokens that are the single most frequent token, fraction of duplicate
    tokens, and fraction of duplicate 2-grams.

    Unigram frequencies use the explode -> groupBy(doc, token) shape, NOT a
    per-row ``transform(array_distinct(..), d -> size(filter(..)))`` scan —
    the latter is O(n_tokens x n_distinct) per document and dies on a
    pathological 100k-token doc, while explode+partial-agg stays linear and
    map-side-combines before the doc_id shuffle.  The bigram metric needs
    only distinct-vs-total, so it stays a native array expression on the
    scan (no second explode), joined back on the same doc_id shuffle key.

    Fractions are reported as exact BIGINT parts-per-million (``div``), not
    formatted doubles: the denominators are data-dependent token counts, so
    a fraction can reduce to odd/2^k and land exactly on a ``%.6f`` half
    boundary where Java HALF_UP and C half-even round differently (the
    driver_registry canon rule).  Integer ppm is bit-identical in Spark's
    ``div`` and the oracle's ``//`` at any magnitude.  Tokenization splits
    on the explicit whitespace class (functions/text.WS_RUN), never Java
    ``\\s`` — see the U+000B note there.
    """
    base = spread(df).select(
        F.col(id_col), X.word_tokens(F.lower(F.col(text_col))).alias("toks")
    )
    uni = (
        base.select(id_col, F.explode("toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.max("c").cast("long").alias("top_freq"),
            F.count("*").cast("long").alias("n_distinct"),
        )
    )
    n_big = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.expr(
        "transform(slice(toks, 1, greatest(size(toks)-1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(toks, i + 2)))"
    )
    big = base.select(
        id_col,
        n_big.cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct_bigrams"),
    )
    nt = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    return (
        big.join(uni, on=id_col, how="left")
        .select(
            id_col,
            nt.alias("n_tokens"),
            F.col("top_freq").cast("long").alias("top_freq"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.col("n_bigrams"),
            F.col("n_distinct_bigrams"),
        )
        .select(
            id_col,
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(top_freq * 1000000) div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("top_token_ppm"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr("((n_tokens - n_distinct) * 1000000) div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_token_ppm"),
            F.when(
                F.col("n_bigrams") > 0,
                F.expr(
                    "((n_bigrams - n_distinct_bigrams) * 1000000)"
                    " div n_bigrams"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_bigram_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (training-data ops: fill context windows)
# ---------------------------------------------------------------------------


def pack_token_bins(
    df: DataFrame,
    token_count_col,
    shard_col,
    order_col,
    capacity: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to training context windows ("bins") of
    ``capacity`` tokens: concat-then-chop packing, the streaming-friendly
    strategy real pretraining loaders use (documents are laid out in a
    deterministic order and a new window starts every ``capacity`` tokens;
    a document belongs to the window its first token lands in).

    Deterministic and shuffle-minimal by construction: one window
    (running sum of token counts ordered by ``order_col``) per shard — the
    shard column is the parallelism unit, so 100 TB packs as thousands of
    independent shard sorts, never a global sort.  Returns per-bin stats;
    ``fill_ratio`` < 1 on each shard's final partial bin, > 1 when a
    straddling document overhangs the boundary (the loader chops it).
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col(token_count_col) if isinstance(token_count_col, str) else token_count_col
    start = (F.sum(n.cast("long")).over(w) - n).cast("long")
    binned = df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col),
        n.cast("long").alias("n_tok"),
        # exact BIGINT division (`div`), not floor(double/) — bit-identical
        # to the oracle's `//` at any token-count magnitude
        start.alias("start"),
    ).withColumn("bin", F.expr(f"start div {int(capacity)}")).drop("start")
    return (
        binned.groupBy("shard", "bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
            (F.sum("n_tok").cast("double") / F.lit(float(capacity))).alias(
                "fill_ratio"
            ),
            F.min(id_col).cast("long").alias("first_doc"),
        )
        .orderBy("shard", "bin")
    )


# ---------------------------------------------------------------------------
# Domain-mixture sampling (training-data ops: mixture reweighting)
# ---------------------------------------------------------------------------


# Distinct tokens up to which the unigram LM is broadcast to the scored
# rows (Heaps-law true for any natural corpus at this size); past it the
# doc-token join shuffles by token.
VOCAB_BROADCAST_MAX = 4_000_000


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM quality filter (the CCNet / Wenzek et al. 2020
    perplexity-filtering shape), made INTEGER-EXACT so it is
    deterministic across engines: per-token surprisal is
    ``floor(log2(total_tokens / corpus_freq(token)))`` — whole bits,
    computed as ``length(bin(total div freq)) - 1`` on BIGINTs (both
    Spark and DuckDB render identical binary strings), never a
    transcendental double (libm ``log`` is not correctly rounded and can
    differ in the last ulp between JVM and C, which would break the
    bit-for-bit oracle hash; see driver_registry.py's formatting rules).

    Returns ``(id_col, n_tokens, surprisal_bits, bits_per_token_ppm)``:
    total whole-bit surprisal (sum over token occurrences) and its
    per-token mean as exact-BIGINT ppm.  Low bits/token = the doc is made
    of corpus-common tokens (boilerplate, lists); high = rare-token noise
    (mojibake, code dumps) — the two tails a quality gate trims.

    100 TB shape (r12 — the ``_exploded_features`` occurrence-fold
    lesson applied here, after the 30M single-node probe measured the
    old tf-first shape spilling >45 GB): the token-frequency aggregate
    is map-side-combined to ~vocab rows per partition (a tiny exchange),
    and the per-doc fold is :func:`surprisal_per_doc`.  When the
    vocabulary has at most ``VOCAB_BROADCAST_MAX`` distinct tokens each
    token OCCURRENCE scores map-side against the broadcast table and the
    per-doc fold partial-aggregates to ~one row per doc BEFORE its
    exchange — the corpus-sized (doc, token) shuffle and the token-keyed
    sort-merge join of the old shape both disappear (they were ~90 GB of
    scratch at 30M docs, the binding constraint of the in-session
    composed probe).  Past the bound the tf-first join form is kept — a
    billion-token vocabulary cannot broadcast, and joining occurrences
    directly would shuffle MORE than the tf table.  Integer bits per
    occurrence sum associatively, so BOTH forms are bit-identical — sum
    over occurrences of bits == sum over (doc, token) of tf x bits; the
    oracle pins one answer, and a forced-arm test pins the two forms
    equal."""
    toks = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(X.word_tokens(text_col)).alias("token"),
    )
    freq = toks.groupBy("token").agg(
        F.count("*").alias("freq")
    ).localCheckpoint(eager=False)  # feeds dispatch count + join + total
    return surprisal_per_doc(
        df.select(F.col(id_col).alias("id")), toks, freq
    ).withColumnRenamed("id", id_col)


def surprisal_per_doc(
    ids: DataFrame, toks: DataFrame, freq: DataFrame
) -> DataFrame:
    """The per-document fold of :func:`unigram_surprisal`, also called by
    the incremental v2 curation view over its token stores
    (streaming/curation.py).  ``freq`` is the ``(token, freq)`` unigram
    LM; ``toks`` holds ``(id, token)`` occurrence rows or ``(id, token,
    tf)`` per-doc count rows; ``ids`` is the ``(id)`` population scored
    (a doc with no token scores 0).  Returns ``(id, n_tokens,
    surprisal_bits, bits_per_token_ppm)``.

    Dispatch: one vocab-row count against ``freq`` (the similarity_join
    ``sizes=`` precedent: one cheap action, never a silent plan flip).
    Up to ``VOCAB_BROADCAST_MAX`` tokens the LM is broadcast; past it
    occurrence rows are first folded to ``tf`` rows, so the token-keyed
    join shuffles one row per (doc, token)."""
    total = freq.agg(F.sum("freq").alias("total"))
    if freq.limit(VOCAB_BROADCAST_MAX + 1).count() <= VOCAB_BROADCAST_MAX:
        freq = F.broadcast(freq)
    elif "tf" not in toks.columns:
        toks = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    bits = (
        F.length(F.bin(F.expr("total div freq").cast("long"))) - F.lit(1)
    ).cast("long")
    scored = toks.join(freq, "token").crossJoin(F.broadcast(total))
    if "tf" in toks.columns:
        per_doc = scored.withColumn("bits", F.col("tf") * bits).groupBy(
            "id"
        ).agg(
            F.sum("tf").alias("n_tokens"),
            F.sum("bits").alias("surprisal_bits"),
        )
    else:
        per_doc = scored.select("id", bits.alias("bits")).groupBy("id").agg(
            F.count("*").alias("n_tokens"),
            F.sum("bits").alias("surprisal_bits"),
        )
    out = ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("surprisal_bits", F.lit(0)).cast("long").alias(
            "surprisal_bits"
        ),
    )
    return out.withColumn(
        "bits_per_token_ppm",
        F.when(
            F.col("n_tokens") > 0,
            F.expr(
                "(surprisal_bits * CAST(1000000 AS BIGINT)) div n_tokens"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )


def hash_bucket(key: str, modulus: int = 4294967296):
    """Deterministic uniform bucket in [0, modulus) from an integer key
    column NAME — the same split-multiply hash
    `deterministic_sample_per_lang` pins: coordination-free (any worker
    decides membership from the key alone) and overflow-safe for any int64
    key (the key is split mod 1000003 before multiplying, largest
    intermediate ~2.7e15).  Takes a name, not a Column: the exact integer
    `div` is built with F.expr on the name."""
    if not isinstance(key, str):
        raise TypeError("hash_bucket needs a column NAME for exact div")
    lo = F.col(key) % F.lit(1000003)
    hi = F.expr(f"{key} div 1000003")
    return ((lo * F.lit(2654435761) + hi * F.lit(97)) % F.lit(4294967296)) % F.lit(
        modulus
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int],
    budget: int,
    token_count_col,
    domain_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Down-sample a corpus to a target domain mixture (training-data ops:
    "domain reweighting" — hit `budget` total tokens split across domains
    proportionally to integer `weights`; domains absent from the spec are
    dropped).  Per-domain acceptance rate = min(1, target_d / tokens_d),
    membership decided by the deterministic key hash, so the sample is
    reproducible and coordination-free.

    Shape at 100 TB: one tiny per-domain aggregate (|domains| rows),
    broadcast back onto the scan, filter, final per-domain aggregate —
    no wide shuffle ever touches the full corpus.  The rate is a double,
    but both engines build it with the identical IEEE op sequence from
    exact integers, so the accept/reject decision is bit-reproducible;
    the reported share uses exact BIGINT ppm, never a formatted ratio.
    """
    spark = df.sparkSession
    wsum = sum(weights.values())
    wdf = F.broadcast(
        spark.createDataFrame(
            list(weights.items()), f"{domain_col} string, wt bigint"
        )
    )
    n = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    base = spread(df).select(
        F.col(key_col), F.col(domain_col), n.cast("long").alias("__ntok")
    )
    totals = base.groupBy(domain_col).agg(
        F.sum("__ntok").alias("domain_tokens"), F.count("*").alias("domain_docs")
    )
    # rate = min(1, (budget*wt) / (wsum * domain_tokens)) — both engines
    # evaluate: int-product -> double cast -> one multiply -> one divide.
    rate = F.least(
        F.lit(1.0),
        (F.lit(int(budget)) * F.col("wt")).cast("double")
        / (F.lit(float(wsum)) * F.col("domain_tokens").cast("double")),
    )
    kept = (
        base.join(wdf, domain_col)
        .join(F.broadcast(totals), domain_col)
        .filter(
            hash_bucket(key_col).cast("double") / F.lit(4294967296.0) < rate
        )
    )
    out = kept.groupBy(domain_col, "wt", "domain_tokens", "domain_docs").agg(
        F.count("*").cast("long").alias("kept_docs"),
        F.sum("__ntok").cast("long").alias("kept_tokens"),
    )
    # kept share as exact BIGINT ppm (never a formatted double ratio — see
    # driver_registry's %.6f half-boundary rule); the all-rows window is
    # |domains| rows, not data-sized.
    total_kept = F.sum("kept_tokens").over(Window.partitionBy())
    return (
        out.select(
            domain_col,
            F.col("wt").cast("long").alias("wt"),
            F.col("domain_tokens").cast("long").alias("domain_tokens"),
            F.col("domain_docs").cast("long").alias("domain_docs"),
            "kept_docs",
            "kept_tokens",
            (F.col("kept_tokens") * F.lit(1000000)).alias("__num"),
            total_kept.alias("__den"),
        )
        .withColumn("kept_ppm", F.expr("__num div __den").cast("long"))
        .drop("__num", "__den")
        .orderBy(domain_col)
    )


def surprisal_tercile_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet's head/middle/tail corpus partition (Wenzek et al. 2020 §4.4:
    rank every document by LM perplexity, cut the corpus into equal
    thirds, train preferentially on the "head") over the integer-exact
    :func:`unigram_surprisal` score — head = lowest bits/token (most
    corpus-typical text), tail = highest (rare-token noise).

    Boundary discipline, 100 TB-shaped: tercile cut points come from the
    exact integer HISTOGRAM of ``bits_per_token_ppm div 1000`` (whole
    millibits per token — a value domain bounded by the maximum plausible
    per-token surprisal, ~40k distinct values regardless of corpus size),
    aggregated distributed and cumulated over those few-thousand rows —
    never a global sort, never a window over the corpus, and the
    driver-side fold is over the bounded domain, not documents (the
    dsir_select bounded-threshold move applied to quantiles).  Assignment
    is by VALUE against the broadcast cut points, so documents tying at a
    boundary share a bucket (buckets are equal thirds up to ties — the
    CCNet convention) and the result is independent of partitioning,
    retries, and engines: the oracle restates the identical cumulative
    rule.  Returns ``(id_col, bits_per_token_ppm, bucket)``.
    """
    # localCheckpoint: the scores subtree feeds TWO actions (the histogram
    # collect and the returned frame) — without it the whole
    # explode->tf->freq->join->sum DAG runs twice per materialization.
    return tercile_buckets(
        unigram_surprisal(df, text_col, id_col)
        .select(id_col, "bits_per_token_ppm")
        .localCheckpoint(eager=True)
    )


def tercile_buckets(scores: DataFrame) -> DataFrame:
    """The tercile rule of :func:`surprisal_tercile_buckets` over any
    ``(id, bits_per_token_ppm)`` scores, adding the ``bucket`` column —
    also called by the incremental v2 curation view
    (streaming/curation.py) over scores derived from its token stores.
    Cut points come from the bounded ``milli`` histogram (~40k rows
    max, folded on the driver — never documents); assignment is by
    value against them.  ``scores`` is read twice (the histogram collect
    and the returned frame), so pass a checkpointed frame."""
    milli = F.expr("bits_per_token_ppm div 1000")  # exact integer div
    hist = sorted(
        (r["m"], r["c"])
        for r in scores.groupBy(milli.alias("m"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    n = sum(c for _, c in hist)
    k1, k2 = (n + 2) // 3, (2 * n + 2) // 3  # ceil(n/3), ceil(2n/3)
    t1 = t2 = None
    cum = 0
    for m, c in hist:
        cum += c
        if t1 is None and cum >= k1:
            t1 = m
        if t2 is None and cum >= k2:
            t2 = m
    return scores.withColumn(
        "bucket",
        F.when(milli <= F.lit(t1), F.lit("head"))
        .when(milli <= F.lit(t2), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


# The Gopher rules' stop-word list (Rae et al. 2021, A1.1 "quality
# filtering": a document must contain at least TWO of these to pass —
# the cheap "is this running English prose" check).
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The Gopher document-level quality rules (Rae et al. 2021 §A1.1 —
    the named ruleset MassiveText and most dataset papers since apply
    before model-based filtering), as one scan-shaped native projection
    with every metric integer-exact (ppm discipline, no formatted
    doubles):

    - ``n_words`` in [50, 100,000];
    - mean word length in [3, 10] chars (``mean_word_len_ppm``, exact
      ``chars*1e6 div words``);
    - >= 80% of words contain at least one alphabetic character
      (``alpha_word_ppm``);
    - symbol-to-word ratio (``#`` or ``...``) <= 0.1
      (``symbol_word_ppm``);
    - at least 2 distinct Gopher stop words present
      (``n_gopher_stops`` over lowercased tokens).

    ``keep`` is the conjunction.  100 TB shape: pure per-row expressions
    over one column — pushed projection, no shuffle, no Python; the
    thresholds are the paper's, surfaced as columns so a pipeline can
    re-gate without recomputing.

    ``keep_cols`` names extra input columns carried through unchanged
    (still a pure projection — a composed pipeline like
    :func:`~..operators.dedup.curate_corpus_v2` gates on ``keep`` and
    continues with the text/lang WITHOUT re-joining the corpus on id,
    which at 100 TB would be a full extra shuffle)."""
    toks = X.word_tokens(text_col)
    lower_toks = X.word_tokens(F.lower(F.col(text_col)))
    n_words = F.size(toks).cast("long")
    n_chars_in_words = F.aggregate(
        F.transform(toks, F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    hash_count = (
        F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("#")))
    ).cast("long")
    ellipsis_count = (
        (
            F.length(text_col)
            - F.length(F.replace(F.col(text_col), F.lit("...")))
        )
        / F.lit(3)
    ).cast("long")
    n_symbols = hash_count + ellipsis_count
    n_stops = sum(
        F.array_contains(lower_toks, w).cast("int") for w in GOPHER_STOPS
    ).cast("int")

    out = spread(df).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_words.alias("n_words"),
        F.when(n_words > 0, (n_chars_in_words * F.lit(1_000_000)))
        .otherwise(F.lit(0))
        .alias("__chars_num"),
        F.when(n_words > 0, (n_alpha_words * F.lit(1_000_000)))
        .otherwise(F.lit(0))
        .alias("__alpha_num"),
        F.when(n_words > 0, (n_symbols * F.lit(1_000_000)))
        .otherwise(F.lit(0))
        .alias("__sym_num"),
        n_stops.alias("n_gopher_stops"),
    ).select(
        id_col,
        *keep_cols,
        "n_words",
        F.when(
            F.col("n_words") > 0,
            F.expr("__chars_num div n_words"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mean_word_len_ppm"),
        F.when(
            F.col("n_words") > 0, F.expr("__alpha_num div n_words")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("alpha_word_ppm"),
        F.when(F.col("n_words") > 0, F.expr("__sym_num div n_words"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("symbol_word_ppm"),
        "n_gopher_stops",
    )
    keep = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len_ppm").between(3_000_000, 10_000_000)
        & (F.col("alpha_word_ppm") >= 800_000)
        & (F.col("symbol_word_ppm") <= 100_000)
        & (F.col("n_gopher_stops") >= 2)
    )
    return out.withColumn("keep", keep)
