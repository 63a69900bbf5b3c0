"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2B B4/B5): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Reference seed: chunk rows are keyed by ``UUID.randomUUID()``
(Function.java:137), so re-uploading the same blob re-fires the trigger and
inserts byte-identical text under new ids — the reference has no dedup at
all.  These operators close that gap, designed shuffle-first:

- exact dedup groups on a 64-bit fingerprint (xxhash64 of normalized text),
  never on the full text — the shuffle key is 8 bytes/row at 100 TB.
- MinHash/LSH banding turns all-pairs O(n^2) into an equi-join on band
  keys; candidates are then verified with exact Jaccard.  All of it is
  native Catalyst expressions (``transform``/``aggregate``/``array_min``)
  — no Python in the scan.
- embedding near-dup reuses the similarity join (operators.knn).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as X
from ..utils import pin_marker, spread

__all__ = [
    "minhash_band_keys",
    "exact_dedup",
    "word_shingles",
    "jaccard_pairs",
    "ngram_dup_stats",
    "strip_dup_ngrams",
    "minhash_signature",
    "minhash_signature_md5",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_md5",
    "simhash64",
    "connected_components_star",
    "curate_corpus",
    "curate_corpus_v2",
]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct normalized text: ``(keep_id, dup_count)``,
    the min id and the group size (:func:`_exact_keepers`)."""
    return _exact_keepers(
        spread(df).select(
            X.fingerprint64(text_col).alias("fp"), F.col(id_col).alias("id")
        )
    ).select(
        F.col("id").alias("keep_id"), F.col("exact_dups").alias("dup_count")
    )


def _exact_keepers(fps: DataFrame) -> DataFrame:
    """Exact dedup's one aggregate, shared by every curation form:
    ``(fp, id)`` rows -> ``(id, exact_dups)``, the min id of each 64-bit
    fingerprint and its group size.  Hash-groupBy with map-side partial
    aggregation; the exchange carries only (fingerprint, id) pairs."""
    return (
        fps.groupBy("fp")
        .agg(
            F.min("id").alias("id"),
            F.count("*").cast("long").alias("exact_dups"),
        )
        .drop("fp")
    )


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as ``array<string>`` — native
    expressions only (tokenize -> sliding ``slice`` -> ``concat_ws``)."""
    toks = X.word_tokens(c)
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # sequence(1, 0) would be [1, 0] — guard empty/short docs explicitly.
    return F.when(count > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing >=1
    shingle.  Explode -> group docs per shingle -> emit in-bucket pairs ->
    count shared -> Jaccard via inclusion-exclusion.  Returns
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    Group-then-pair beats the naive shingle self-join: the shingle sets are
    computed ONCE (a self-join re-evaluates the shingle expression on both
    branches — and AQE may broadcast an entire exploded branch), and the
    shuffle carries one row per shingle occurrence.

    **max_df** (the 100 TB guard): pair fan-out per shingle is quadratic in
    that shingle's document frequency — one stopword-gram at corpus scale
    is a single-key bomb that also lands a whole bucket in one
    ``collect_list``.  ``max_df=N`` removes shingles occurring in more
    than N documents from the universe (Jaccard is then computed over the
    remaining shingles, numerator AND denominator — the convention of
    production near-dup pipelines; a shingle shared by half the corpus
    carries no dedup signal).  The number of dropped shingles is emitted
    as a named ``observe`` metric (``dropped_hot_shingles`` — Spark UI SQL
    tab / QueryExecutionListener), per the no-silent-caps rule.  With
    ``max_df=None`` (default) the exact unbounded form is used.

    **observation** (VERDICT r02 #8 — caps must be *checkable*, not just
    emitted): pass a ``pyspark.sql.Observation`` and the drop count is
    readable programmatically after the consuming action —
    ``observation.get["dropped_hot_shingles"]`` — instead of living only
    in the Spark UI.  Collected with the action itself; no extra job.
    (An Observation is single-use: pass a fresh one per call.)  The
    observation path routes the capped sets through a per-doc regroup and
    a lazy checkpoint: the observed node must execute in a shuffle map
    stage upstream of a checkpoint boundary, or (a) AQE's empty-relation
    propagation can prune the CollectMetrics when no pair survives and
    (b) the dual bucket consumption would re-execute it — both verified
    by tests.  Costs one extra regroup shuffle; the named-metric default
    keeps the measured-faster single-grouping plan.
    """
    # r12 (guide §2.3 — shuffle fewer bytes): the shingle STRING never
    # needs to cross an exchange; bucket grouping only needs identity, so
    # each distinct shingle rides as its 8-byte xxhash64 instead of a
    # ~25-byte 3-word string.  Same move (and the same collision math) as
    # ngram_dup_stats: a 64-bit collision would merge two shingle
    # buckets, p ≈ G²/2⁶⁵ for G distinct shingles — negligible below
    # ~1e8, and the fixture oracles stay string-free-verified bit-for-bit.
    sh = spread(df).select(
        F.col(id_col).alias("id"),
        word_shingles(text_col, n).alias("shingles"),
    )
    if max_df is None:
        sh = sh.withColumn("n_sh", F.size("shingles"))
        ex = sh.select(
            F.explode("shingles").alias("s0"),
            F.struct(F.col("id"), F.col("n_sh")).alias("m"),
        ).select(F.xxhash64("s0").alias("s"), "m")
        # sort_array makes bucket order (and thus id_a < id_b) deterministic
        # under nondeterministic collect_list ordering.
        buckets = (
            ex.groupBy("s")
            .agg(F.sort_array(F.collect_list("m")).alias("ms"))
            .filter(F.size("ms") >= 2)
        )
        pair_expr = F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                    lambda y: F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        x["n_sh"].alias("na"),
                        y["n_sh"].alias("nb"),
                    ),
                ),
            )
        )
        shared = (
            buckets.select(F.explode(pair_expr).alias("p"))
            .groupBy(
                F.col("p.id_a").alias("id_a"),
                F.col("p.id_b").alias("id_b"),
                F.col("p.na").alias("na"),
                F.col("p.nb").alias("nb"),
            )
            .agg(F.count("*").alias("inter"))
        )
        jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        return (
            shared.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", "jaccard")
        )

    import uuid

    ex = sh.select(F.col("id"), F.explode("shingles").alias("s0")).select(
        "id", F.xxhash64("s0").alias("s")
    )
    all_buckets = ex.groupBy("s").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    # Named metric so the cap is never silent (observe() is collected with
    # the action — no extra job, unlike an eager count()).
    all_buckets = all_buckets.observe(
        observation
        if observation is not None
        else f"jaccard_df_cap_{uuid.uuid4().hex[:8]}",
        F.sum(
            F.when(F.size("ids") > max_df, F.lit(1)).otherwise(F.lit(0))
        ).alias("dropped_hot_shingles"),
    )
    elig = all_buckets.filter(F.size("ids") <= max_df)
    if observation is not None:
        # Observation path (see docstring): regroup the capped occurrences
        # per doc BEHIND the observe, checkpoint the small set table, and
        # rebuild both consumers from it — the observed node then executes
        # exactly once, in a shuffle map stage AQE cannot prune away.
        occ = elig.select(F.col("s"), F.explode("ids").alias("id"))
        sets = (
            occ.groupBy("id")
            .agg(F.sort_array(F.collect_list("s")).alias("shingles"))
            .localCheckpoint(eager=False)
        )
        n_sh = sets.select("id", F.size("shingles").alias("n_sh"))
        buckets = (
            sets.select("id", F.explode("shingles").alias("s"))
            .groupBy("s")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        return _jaccard_from_buckets(buckets, n_sh, threshold)
    # Note: the bucket set is consumed twice below (per-doc capped sizes
    # and the pair buckets) with no exchange reuse, but an A/B at sf0.1
    # showed a localCheckpoint boundary here is a net LOSS (min 3.95 s vs
    # 3.82 s, and +4 s on the first pass): materializing every bucket
    # array costs more than recomputing the narrow shingle scan, unlike
    # minhash_lsh_pairs where the boundary saves two full shingling
    # passes.  Measured, not guessed — keep the recompute.
    # Per-doc size of the CAPPED shingle set (singleton shingles included).
    n_sh = (
        elig.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    buckets = elig.filter(F.size("ids") >= 2)
    return _jaccard_from_buckets(buckets, n_sh, threshold)


def _jaccard_from_buckets(
    buckets: DataFrame, n_sh: DataFrame, threshold: float
) -> DataFrame:
    """Shared tail of the capped Jaccard paths: in-bucket pair fan-out ->
    shared-shingle counts -> inclusion-exclusion join against the per-doc
    capped set sizes."""
    pair_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    shared = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    joined = (
        shared.join(
            n_sh.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            n_sh.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_dup_stats(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for each document, how
    much of it is made of word n-gram windows that also appear in other
    documents.  Doc-level dedup (exact/MinHash) misses boilerplate spans
    pasted into otherwise-distinct pages; this is the per-span signal.

    Returns one row per input doc:
    ``(doc_id, n_windows, n_grams, n_dup_grams, dup_gram_ppm)`` —
    total window positions, distinct n-grams, distinct n-grams found in
    >= ``min_docs`` documents, and the duplicated fraction as exact
    integer parts-per-million (``(n_dup_grams * 1e6) div n_grams`` —
    BIGINT, not a formatted double, per the dyadic-half-boundary rule in
    driver_registry.py).

    100 TB shape: the paper builds a corpus-wide suffix array; the
    Spark-first equivalent is two hash shuffles over 8-byte keys.  The
    sliding windows are native expressions (tokenize -> ``transform`` over
    ``sequence`` -> ``concat_ws`` slice) deduped per doc BEFORE the
    exchange, so the shuffle carries one ``(xxhash64(gram), doc_id)`` row
    per distinct gram occurrence — the same cost class as the suffix-array
    sort, with map-side combine on the document-frequency aggregate.  The
    gram string itself never shuffles.  A 64-bit collision would merge two
    unrelated grams (~p = G^2/2^65 for G distinct grams — negligible below
    ~1e8 grams, and only ever over-counts duplication); the per-doc
    distinct-gram count is string-exact (``array_distinct`` before the
    size), so the oracle comparison is collision-free on the fixtures.
    """
    stats = spread(df).select(
        F.col(id_col).alias("id"),
        word_shingles(text_col, n).alias("grams"),
        F.greatest(
            F.size(X.word_tokens(text_col)) - F.lit(n - 1), F.lit(0)
        ).cast("long").alias("n_windows"),
    )
    # Per-doc counts projected BEFORE any exchange: the final join must
    # shuffle three longs per doc, never the gram-string arrays (~8x the
    # corpus text).  The shingle expression is evaluated once per consumer
    # branch off the scan — the same recompute-beats-materialize call
    # jaccard_pairs documents.
    base = stats.select("id", "n_windows", F.size("grams").cast("long").alias("n_grams"))
    # One row per distinct (doc, gram); only the 64-bit key shuffles.
    g = stats.select(
        F.col("id"), F.explode("grams").alias("__g")
    ).select("id", F.xxhash64("__g").alias("gk"))
    # Document frequency per gram key: g is distinct per doc, so count(*)
    # IS the doc frequency.  Partial aggregation applies map-side.
    dup_keys = (
        g.groupBy("gk")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= F.lit(min_docs))
        .select("gk")
    )
    per_doc = (
        g.join(dup_keys, "gk")
        .groupBy("id")
        .agg(F.count("*").alias("n_dup_grams"))
    )
    out = base.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("n_windows"),
        F.col("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias(
            "n_dup_grams"
        ),
    )
    return out.withColumn(
        "dup_gram_ppm",
        F.when(
            F.col("n_grams") > 0,
            F.expr("(n_dup_grams * CAST(1000000 AS BIGINT)) div n_grams"),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )


def strip_dup_ngrams(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Remove corpus-duplicated spans from documents (the second half of
    Lee et al. 2022: don't just *measure* duplicated substrings —
    :func:`ngram_dup_stats` — cut them out).  A token is removed iff it is
    covered by at least one word n-gram window whose gram appears in
    >= ``min_docs`` documents; the survivors are re-joined with single
    spaces.

    Returns ``(id_col, clean_text, n_tokens, n_removed_tokens)``.

    Same 100 TB shape as the stats operator — the corpus-wide work is the
    distinct-(doc, gram-hash) exchange and one doc-frequency aggregate;
    the span arithmetic (window starts -> covered token indexes -> token
    filter) is per-document native array expressions, so nothing
    quadratic and no Python anywhere.
    """
    toks = X.word_tokens(text_col)
    n_toks = F.size(toks)
    count = F.greatest(n_toks - F.lit(n - 1), F.lit(0))
    # (start, gram) per window position, 1-based.
    wins = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(toks, i, n)).alias("gram"),
        ),
    )
    base = spread(df).select(
        F.col(id_col).alias("id"),
        toks.alias("toks"),
        F.when(count > 0, wins)
        .otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
        .alias("wins"),
    )
    occ = base.select(
        "id", F.explode("wins").alias("w")
    ).select("id", F.col("w.pos").alias("pos"), F.xxhash64("w.gram").alias("gk"))
    dup_keys = (
        occ.select("id", "gk")
        .distinct()
        .groupBy("gk")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= F.lit(min_docs))
        .select("gk")
    )
    starts = (
        occ.join(dup_keys, "gk")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    joined = base.join(starts, "id", "left").select(
        "id",
        "toks",
        F.coalesce("starts", F.array().cast("array<int>")).alias("starts"),
    )
    # Covered-index SET, then one hash-based array_except — O(T + S*n)
    # per doc.  (A per-token `exists(starts, ...)` scan would be
    # O(T * S): ~2.5e9 comparisons in ONE row for a 50k-token doc that is
    # mostly duplicated — a straggler at corpus scale.)
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("starts"),
                lambda s: F.sequence(s, s + F.lit(n - 1)),
            )
        )
    )
    kept = F.when(
        F.size("toks") > 0,
        F.array_except(F.sequence(F.lit(1), F.size("toks")), covered),
    ).otherwise(F.array().cast("array<int>"))
    return joined.select(
        F.col("id").alias(id_col),
        F.concat_ws(
            " ",
            F.transform(kept, lambda j: F.element_at("toks", j)),
        ).alias("clean_text"),
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias(
            "n_removed_tokens"
        ),
    )


def minhash_signature_md5(
    c: Column | str, n: int = 3, num_hashes: int = 16
) -> Column:
    """MinHash signature ``array<bigint>`` over word ``n``-shingles with an
    md5-derived hash family — the DuckDB-twin sibling of
    :func:`minhash_signature` (which rides Spark's ``xxhash64`` and
    therefore has no SQL oracle).

    Hash family i over shingle g is the little-endian first 8 md5 bytes of
    ``g + "\\x1f" + str(i)`` — exactly DuckDB's
    ``md5_number_upper(g || chr(31) || CAST(i AS VARCHAR))`` — compared as
    UNSIGNED 64-bit (both engines take the unsigned min), then emitted as
    the two's-complement signed value so the column is a plain BIGINT both
    sides.  The ``\\x1f`` unit separator keeps family members from
    colliding with each other regardless of shingle content (the exact
    convention is hashed identically on both engines either way).

    This is the mechanism-parity path, not the production path: the
    production signature (:func:`minhash_signature`) hashes two longs per
    family member JVM-side, ~10x cheaper than per-string md5.  Docs whose
    token count is below ``n`` yield an EMPTY array (no shingles — callers
    explode, so such docs simply emit no rows, matching the oracle's
    shingle-bearing universe).
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _minhash_md5(texts: pd.Series) -> pd.Series:
        out: list[list[int] | None] = []
        for text in texts:
            if not text:
                out.append([])
                continue
            toks = [t for t in text.split() if t]
            grams = {
                " ".join(toks[i : i + n])
                for i in range(max(len(toks) - n + 1, 0))
            }
            if not grams:
                out.append([])
                continue
            sig = []
            for i in range(num_hashes):
                suffix = ("\x1f" + str(i)).encode("utf-8")
                mn = min(
                    int.from_bytes(
                        hashlib.md5(g.encode("utf-8") + suffix).digest()[:8],
                        "little",
                    )
                    for g in grams
                )
                sig.append(mn if mn < 2**63 else mn - 2**64)
            out.append(sig)
        return pd.Series(out)

    col = c if isinstance(c, Column) else F.col(c)
    return _minhash_md5(col)


def minhash_signature(c: Column | str, num_hashes: int = 32) -> Column:
    """MinHash signature ``array<bigint>`` over word shingles.

    One xxhash64 per shingle *string*, then hash family i =
    ``xxhash64(base_hash, i)`` — re-hashing two longs per element, which is
    far cheaper than salting/hashing the string per band and, unlike affine
    ``a*h+b`` mixing, safe under ANSI mode (no long-overflow).  All
    JVM-side.  Empty shingle sets get Long.MAX sentinels (never collide
    with real minima)."""
    shingles = c if isinstance(c, Column) else F.col(c)
    base = F.transform(shingles, lambda s: F.xxhash64(s))

    def mix(i: int):
        # single-arg lambda: F.transform treats 2-arg lambdas as (elem, idx)
        return lambda h: F.xxhash64(h, F.lit(i))

    sig = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(base, mix(i))),
                F.lit(2**63 - 1),
            )
            for i in range(num_hashes)
        ]
    )
    return sig


def minhash_band_keys(
    sh: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """``(id, shingles)`` -> one ``(id, band, key)`` row per band: MinHash
    signature split into ``bands`` slices, each slice hashed to a 64-bit
    band key.  Candidate generation then joins only these 24-byte rows —
    never the shingle arrays.

    Empty shingle sets are EXCLUDED: their signature is all sentinel
    values, so every sub-n-gram document would share every band key with
    every other — a quadratic candidate bomb on corpora with many short
    documents (they cannot be near-duplicates under set Jaccard anyway;
    handle exact-equal short docs with exact_dedup).
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows = num_hashes // bands
    sig = sh.filter(F.size("shingles") > 0).withColumn(
        "sig", minhash_signature(F.col("shingles"), num_hashes)
    )
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", *[
                                F.element_at("sig", bi * rows + r + 1).cast("string")
                                for r in range(rows)
                            ])
                        ).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_df: int | None = None,
    observation=None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Pipeline: shingle -> signature(num_hashes) -> split into ``bands``
    (rows = num_hashes/bands) -> candidate pairs = equi-join on
    ``(band_idx, hash(band slice))`` -> dedup candidates -> verify exact
    Jaccard >= threshold.  Only banded-together pairs are ever scored, so
    cost tracks true near-duplicates, not n^2.

    **max_df** — boilerplate guard, same convention as
    :func:`jaccard_pairs`: shingles occurring in more than ``max_df``
    documents are removed from the universe BEFORE signatures (and from
    the verify step, so Jaccard is over the capped sets).  Without it, a
    corpus-wide boilerplate n-gram (site header, license preamble)
    inflates every random pair's similarity and the banding emits
    candidates quadratically: measured at the 300k-doc probe, a shared
    5-word prefix alone produced ~5e7 junk candidates (165 s); with the
    cap, candidates track true near-dups (~1k) and the run drops to
    seconds.  Dropped-shingle count is emitted as an ``observe`` metric.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    sh = spread(df).select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    )
    if max_df is not None:
        import uuid

        from pyspark.sql.window import Window

        # Single-pass universe capping: a count window keyed by shingle
        # annotates each occurrence with its document frequency, so the
        # rebuild is one linear pipeline (shingle scan -> window(s) ->
        # filter -> regroup by doc).  The A/B'd alternatives both lose: a
        # df-table join consumes the exploded scan twice (73 s vs 21 s at
        # the 300k-doc probe), and broadcasting the hot set still pays the
        # second scan (38 s).
        ex = sh.select("id", F.explode("shingles").alias("s"))
        with_df = ex.withColumn(
            "__df", F.count("*").over(Window.partitionBy("s"))
        )
        with_df = with_df.observe(
            observation
            if observation is not None
            else f"minhash_df_cap_{uuid.uuid4().hex[:8]}",
            F.sum(
                F.when(F.col("__df") > max_df, F.lit(1)).otherwise(F.lit(0))
            ).alias("dropped_hot_occurrences"),
        )
        # Docs whose shingles are ALL boilerplate vanish here — their
        # capped set is empty, so they cannot pair under the capped
        # universe anyway (same semantics as jaccard_pairs' cap).
        sh = (
            with_df.filter(F.col("__df") <= max_df)
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("s")).alias("shingles"))
        )
    # The shingle table is consumed three times (signature scan + both
    # sides of the exact-verify join); a lazy localCheckpoint computes it
    # once per action instead of three shingling passes over the corpus —
    # the materialized signature/shingle table every production MinHash
    # pipeline keeps anyway.
    sh = sh.localCheckpoint(eager=False)
    # r12 (guide §2.4): the band-key table self-joins for candidates, so
    # without its own boundary BOTH join sides re-run the signature
    # pipeline (num_hashes xxhash64 minima per doc) from the shingle
    # checkpoint.  The banded table is tiny — ``bands`` 24-byte rows per
    # doc — so materializing it once halves the signature work per
    # action; this is the persisted band-index table every production
    # MinHash pipeline keeps anyway.
    banded = minhash_band_keys(
        sh, num_hashes=num_hashes, bands=bands
    ).localCheckpoint(eager=False)
    return _verified_band_pairs(banded, sh, threshold)


def _verified_band_pairs(
    banded: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """The banding half both MinHash hash families share: candidate pairs
    from the ``(band, key)`` equi-join of ``banded`` ``(id, band, key)``
    with itself, deduplicated, then exact Jaccard over ``sh``'s
    ``(id, shingles)`` sets, kept at ``>= threshold``.  Returns
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b``."""
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash BANDING near-dup pairs with the md5-derived hash family —
    the LSH mechanism's oracle twin (the minhash_signature_md5
    convention: production stays on :func:`minhash_lsh_pairs`'s
    xxhash64, which no SQL engine reproduces; this sibling swaps ONLY
    the hash family and the band-key encoding so the ENTIRE pipeline —
    signature, band split, bucket equi-join, candidate dedup, exact
    Jaccard verify — is restatable in portable SQL and checked
    bit-for-bit, including which true pairs the banding probabilistically
    MISSES: both engines band identically, so they miss identically).

    Band keys are the comma-joined signed signature values of the slice
    (a plain string both engines render identically) instead of the
    production path's 64-bit xxhash64 of the slice — 2-10x more band-key
    bytes through the candidate join, the price of SQL expressibility;
    semantics are identical because the encoding is injective.

    Same 100 TB shape as the production form: candidates come from the
    band equi-join only (never all pairs), the verify join touches only
    banded-together ids.  Sub-``n``-token documents have no shingles and
    are excluded (they cannot near-duplicate under set Jaccard)."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows = num_hashes // bands
    base = spread(df).select(
        F.col(id_col).alias("id"),
        F.sort_array(word_shingles(text_col, n)).alias("shingles"),
        minhash_signature_md5(
            F.col(text_col), n=n, num_hashes=num_hashes
        ).alias("sig"),
    ).filter(F.size("shingles") > 0)
    base = base.localCheckpoint(eager=False)
    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(
                                    "sig", bi * rows + r + 1
                                ).cast("string")
                                for r in range(rows)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return _verified_band_pairs(banded, base, threshold)


def simhash64(c: Column | str, n: int = 3) -> Column:
    """64-bit SimHash over word shingles (Hamming-close => near-dup).

    Arrow-batched pandas UDF: Spark's ``shiftright`` takes a literal shift
    count, so the per-bit +/-1 vote fold is not expressible as a native
    lambda; NumPy does the 64-bit vote matrix per batch instead.  Shingle
    hashes are md5-derived, little-endian first 8 bytes — exactly DuckDB's
    ``md5_number_upper``, so the whole operator has an exact SQL oracle
    (the ``simhash_fingerprints`` driver query states the 64 per-bit
    majority votes directly)."""

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for row, text in enumerate(texts):
            if not text:
                continue
            toks = [t for t in text.split() if t]
            grams = {
                " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
            }
            if not grams:
                continue
            hs = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.md5(g.encode("utf-8")).digest()[:8], "little"
                    )
                    for g in grams
                ),
                dtype=np.uint64,
                count=len(grams),
            )
            bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sh = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                sh |= np.uint64(1) << np.uint64(b)
            out[row] = sh.astype(np.int64) if sh < 2**63 else np.int64(sh - 2**64)
        return pd.Series(out)

    col = c if isinstance(c, Column) else F.col(c)
    return _simhash(col)


# Size dispatch for connected_components_star (r12, guide §1.2 — fix the
# algorithm before the per-task work): an edge set at or below this many
# rows is collected and contracted with exact min-id union-find on the
# driver instead of running the O(log n) distributed loop.  Each
# distributed round costs ~6 exchanges plus two actions (the eager
# checkpoint and the subtract convergence check); on the bench-path
# graphs (25–500 edges: banded/df-capped near-dup pairs, within-cluster
# cosine edges) that is pure job overhead around milliseconds of actual
# contraction.  The collect is BOUNDED by the cap — the broadcast-join
# envelope (1M (long,long) edges ≈ 16 MB of data) — and the output is
# provably identical: both paths label every endpoint with the minimum
# id of its component.  Above the cap the distributed loop runs
# unchanged (edges of a 100 TB near-dup graph are proportional to real
# duplication and can be billions of rows).  Callers override it with
# connected_components_star(local_max_edges=...) (0 disables).
COMPONENTS_LOCAL_MAX_EDGES = 1_000_000

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _components_local(e: DataFrame) -> DataFrame:
    """Exact min-id connected components of a BOUNDED edge list on the
    driver: union-find with path halving, then one pass mapping every
    node to its component minimum.  Same (node, cluster) contract as the
    distributed star contraction — used only below the size cap."""
    a_type = e.schema["a"].dataType
    rows = e.collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        parent[x] = r
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for node in parent:
        r = find(node)
        if node < comp_min.get(r, node + 1):
            comp_min[r] = node
    out = [(n, comp_min[find(n)]) for n in parent]
    schema = T.StructType(
        [
            T.StructField("node", a_type, True),
            T.StructField("cluster", a_type, True),
        ]
    )
    return e.sparkSession.createDataFrame(out, schema)


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    on_max_iter: str = "raise",
    local_max_edges: int = COMPONENTS_LOCAL_MAX_EDGES,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): ``(node, cluster)`` where ``cluster`` is the
    smallest id reachable from ``node`` — the keep-min-id rule that turns
    a pair list into dedup groups.  Converges in **O(log n)** rounds, not
    O(diameter): a 64-hop chain collapses in a handful of rounds.

    Each round is joins + min-aggregations only — no per-node adjacency
    arrays are ever materialized, so a celebrity node with millions of
    neighbors costs a big *group*, not a big *row*:

    - large-star: every node's strictly-larger neighbors re-attach to the
      minimum of its closed neighborhood (emitted as child→parent, so the
      parent is always strictly smaller);
    - small-star: every node and its (now all-smaller) neighbors attach
      to the group minimum.

    Fixpoint = a star forest rooted at each component's minimum id.
    Both arms (driver union-find and distributed loop) are pinned equal
    to a pure-Python labelling on random graphs in tests; the
    ``dedup_clusters`` recursive-CTE oracle checks it end-to-end.

    If the fixpoint is not reached within ``max_iter`` rounds, labels
    would silently split a dedup group — so ``on_max_iter="raise"``
    (default) fails loudly; ``"warn"`` warns and returns the partial
    labels.  Only the distributed loop iterates; the union-find arm
    ignores ``max_iter``.

    ``local_max_edges``: edge lists at or below this bound are
    contracted with exact min-id union-find on the driver instead —
    identical output, none of the per-round job overhead (see the
    dispatch comment above).  0 forces the distributed loop.
    """
    if on_max_iter not in ("raise", "warn"):
        raise ValueError(f"on_max_iter must be 'raise' or 'warn', got {on_max_iter!r}")
    # r12: materialize the (a, b) projection of the pair subtree ONCE.
    # nodes and edges were each eager-checkpointed straight off ``pairs``,
    # so the full upstream pair computation (banded MinHash / df-capped
    # Jaccard — the most expensive subtree in every composed-curation
    # caller) executed TWICE at construction.  One lazy boundary here and
    # both derive from the materialized 16-byte-row edge list instead
    # (guide §2.4 — remove repeated passes; measured on
    # curation_v2_pipeline at sf0.1: 15.2 s -> ~12 s).
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint(eager=False)
    )
    # r12 size dispatch (see COMPONENTS_LOCAL_MAX_EDGES above): a bounded
    # edge list is contracted exactly on the driver; the count runs over
    # the checkpointed projection, so the expensive pair subtree is still
    # evaluated exactly once either way.  Integral ids only — Python and
    # UTF8String disagree on string ordering in edge cases, so non-
    # integral ids always take the distributed path.
    if (
        local_max_edges > 0
        and isinstance(e.schema["a"].dataType, _INTEGRAL_TYPES)
        and e.schema["a"].dataType == e.schema["b"].dataType
        and e.count() <= local_max_edges
    ):
        return _components_local(e)
    # Lazy boundary: consumed once by the final join; materializing it
    # from the checkpointed ``e`` is one id-only shuffle.
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Orient child→parent (a > b) and dedup.
    edges = (
        e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    # r12 (guide §2.4 — fewer exchanges per round): the fixpoint check
    # `out == edges` used to run a 2-exchange `subtract` EVERY round.
    # Both sides are distinct sets (each round's output passes
    # .distinct()), so unequal COUNTS already prove inequality — and the
    # count of an eager-checkpointed set is a scan of in-memory
    # partitions, no exchange.  The subtract now runs only on rounds
    # where the counts match (the candidate-fixpoint rounds — typically
    # just the final one), which is exact: |A| = |B| and A ⊈ B is what
    # the subtract then decides, same as before.
    n_edges = edges.count()
    for _ in range(max_iter):
        # Large-star over the symmetrized edge set: for each u, neighbors
        # v > u point at m = min(N(u) ∪ {u}).  Output keeps a > b.
        sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        large = (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # Small-star: neighbors are now all smaller; group minimum becomes
        # everyone's parent (including the former center).
        mins_s = (
            large.groupBy("a")
            .agg(F.min("b").alias("m"))
        )
        out = (
            large.join(mins_s, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins_s.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_out = out.count()
        changed = (
            1
            if n_out != n_edges
            else out.subtract(edges).limit(1).count()
        )
        edges, n_edges = out, n_out
        if changed == 0:
            converged = True
            break
    if not converged and max_iter > 0:
        msg = (
            f"connected_components_star did not converge in {max_iter} "
            f"rounds — raise max_iter"
        )
        if on_max_iter == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return nodes.join(
        edges.withColumnRenamed("a", "node"), "node", "left"
    ).select("node", F.coalesce("b", "node").alias("cluster"))


def curation_v1_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "fr"),
    min_tokens: int = 25,
) -> DataFrame:
    """The language + token-count gate, the PURE per-document first stage
    of :func:`curate_corpus`, normalized to ``(id, lang, text,
    n_tokens)``.  The incremental curation stream (streaming/curation.py)
    gates its arrival batches with it."""
    return spread(docs).select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
        F.size(X.word_tokens(text_col)).cast("long").alias("n_tokens"),
    ).filter(F.col("lang").isin(*langs) & (F.col("n_tokens") >= min_tokens))


def curation_v1_survivors(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "fr"),
    min_tokens: int = 25,
) -> DataFrame:
    """The pre-checkpoint exact-dedup survivor subtree of
    :func:`curate_corpus` (language/token gate -> 64-bit fingerprint agg
    -> survivor join), exposed as its own function so the plan-signature
    gate can pin the UPSTREAM stages: ``curate_corpus`` truncates lineage
    at its ``localCheckpoint`` boundary, so its golden signature only
    covers the post-boundary sub-plan (ADVICE r10)."""
    gated = curation_v1_gate(docs, text_col, id_col, lang_col, langs, min_tokens)
    return gated.join(
        _exact_keepers(gated.select(X.fingerprint64("text").alias("fp"), "id")),
        "id",
    )


def _kept_pairs(pairs: DataFrame, kept: DataFrame) -> DataFrame:
    """The kept-kept restriction of a pair graph: the ``(id_a, id_b)``
    pairs whose endpoints are both ``id``s of ``kept``.  A MinHash
    signature is a per-document function, so a pair graph maintained over
    every gated doc, restricted to the exact-dedup survivors, is the pair
    set the operator computes over those survivors alone
    (streaming/curation.py module doc)."""
    kept_ids = kept.select("id")
    return (
        pairs.select("id_a", "id_b")
        .join(kept_ids.withColumnRenamed("id", "id_a"), "id_a")
        .join(kept_ids.withColumnRenamed("id", "id_b"), "id_b")
    )


def _drop_near_dups(kept: DataFrame, pairs: DataFrame) -> DataFrame:
    """:func:`curate_corpus`'s near-dup stage: star-contraction components
    over ``pairs``, then an anti-join of every non-representative member
    out of ``kept`` — ``(id, lang, n_tokens, exact_dups)``."""
    dropped = (
        connected_components_star(pairs)
        .filter(F.col("node") != F.col("cluster"))
        .select(F.col("node").alias("id"))
    )
    return kept.join(dropped, "id", "left_anti").select(
        "id", "lang", "n_tokens", "exact_dups"
    )


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "fr"),
    min_tokens: int = 25,
    jaccard_threshold: float = 0.8,
    max_df: int | None = 5,
    use_minhash: bool = False,
    observation=None,
) -> DataFrame:
    """End-to-end training-corpus curation: language gate -> token-count
    quality gate -> exact dedup (keep min id per 64-bit fingerprint) ->
    near-dup dedup (pairs -> star-contraction components -> drop
    non-representatives).  Returns ``(id, lang, n_tokens, exact_dups)``
    for every surviving document.

    ``use_minhash=False`` finds near-dup pairs with the df-capped exact
    Jaccard (oracle-expressible — the ``corpus_curation_pipeline`` driver
    query); ``use_minhash=True`` swaps in MinHash+LSH banding, the form
    whose candidate cost tracks true near-dups instead of shingle
    co-occurrence — the 100 TB default.

    Stage shapes: the gates are scan predicates; exact dedup shuffles an
    8-byte key; the pair step is bounded (df cap / banding); components
    contract in O(log n) rounds; the final anti-join carries only dropped
    ids.

    Pass ``observation`` (a fresh ``pyspark.sql.Observation``) to read the
    near-dup stage's df-cap drop count programmatically once the output is
    materialized — ``utils.log_observed_drops(observation)`` logs and
    returns it (no-silent-caps, checkable — VERDICT r02 #8).
    """
    # One lazy boundary on the exact-dedup survivors: they feed the pair
    # graph AND the final anti-join, each otherwise re-running the scan +
    # tokenize + fingerprint agg + join.  A/B at sf0.1 (r10): 9.0 s ->
    # 4.2 s for the whole pipeline; a second boundary on `gated` adds
    # nothing once this one exists.  (The v2 composition instead bounds
    # the gate+tercile set — there the survivor copy LOST; which side of
    # the dedup join to materialize depends on what's upstream.)
    kept = curation_v1_survivors(
        docs, text_col, id_col, lang_col, langs, min_tokens
    ).localCheckpoint(eager=False)
    if use_minhash:
        pairs = minhash_lsh_pairs(
            kept, "text", "id", n=3, threshold=jaccard_threshold,
            max_df=max_df, observation=observation,
        )
    else:
        pairs = jaccard_pairs(
            kept, "text", "id", n=3, threshold=jaccard_threshold,
            max_df=max_df, observation=observation,
        )
    return _drop_near_dups(kept, pairs)


def leakage_safe_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 5,
    train_pct: int = 90,
    val_pct: int = 5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Cluster-aware train/validation/test split: every near-dup connected
    component lands WHOLLY on one side of the boundary.

    A doc-level random split (``dataset_split_shuffle``) leaks whenever a
    near-duplicate pair straddles train/test — the eval set then contains
    (near-)copies of training documents, inflating benchmark scores (the
    contamination mechanism Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better" measure).  The fix is standard LLM-data
    practice: split by near-dup CLUSTER, not by document — assign each
    component's REPRESENTATIVE (min id) a split with the deterministic
    multiplicative key-hash, and give every member its representative's
    split.  Singletons hash their own id, so a corpus with no near-dups
    degrades to exactly the doc-level split.

    Pipeline: df-capped exact-Jaccard pairs (:func:`jaccard_pairs`; pass
    ``pairs`` to reuse an existing pair table or swap in the banded
    MinHash form at 100 TB) -> O(log n) star-contraction components ->
    left join back to ALL docs (components only name non-singletons) ->
    pure-projection hash of the representative.  Scale shape: the pair
    step is the bounded near-dup candidate cost the corpus already pays
    for dedup; everything after is one id-keyed shuffle and scan-shaped
    expressions — no window, no collect, reusable verbatim on a
    1000-executor cluster.

    Returns ``(id_col, cluster_rep, split)`` for every input document.
    Engine-neutral determinism: the hash is the exact integer formula
    ``dataset_split_shuffle`` uses (split-invariant across partitionings,
    retries, engines), applied to ``cluster_rep`` instead of the doc id.
    """
    if pairs is None:
        pairs = jaccard_pairs(
            docs, text_col, id_col, n=n, threshold=threshold, max_df=max_df
        )
    comp = connected_components_star(pairs)
    rep = (
        docs.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("cluster"), F.col("node")).alias("cluster_rep"),
        )
    )
    from .textstats import hash_bucket

    # The exact engine-neutral split hash dataset_split_shuffle pins —
    # ONE implementation (textstats.hash_bucket), applied to the
    # representative instead of the doc id.
    pct = hash_bucket("cluster_rep", 100)
    split = (
        F.when(pct < F.lit(train_pct), F.lit("train"))
        .when(pct < F.lit(train_pct + val_pct), F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return rep.select(
        F.col("node").alias(id_col),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
        split.alias("split"),
    )


def curation_v2_gated(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_stops: int = 2,
    checkpoint_gate: bool = True,
) -> DataFrame:
    """The pre-checkpoint gate+tercile subtree of :func:`curate_corpus_v2`
    (Gopher quality gate -> CCNet tercile join, ``tail`` dropped) —
    exposed so the plan gate can pin these upstream stages, which the
    composition's ``localCheckpoint`` boundary truncates out of its own
    golden signature (ADVICE r10, same move as
    :func:`curation_v1_survivors`).

    ``checkpoint_gate`` (r12, guide §2.4): the gate output feeds THREE
    consumers inside this subtree (the surprisal token explode, the
    per-doc left-join base, and the tercile join back) — without a
    boundary each re-runs the scan + the interpreted Gopher HOF
    projection.  One lazy boundary on the gate output measured
    ~13.4 -> ~10.9 s for curation_v2_pipeline at sf0.1 (min-of-3,
    alternating A/B); at corpus scale it is the standard
    stage-the-gated-corpus move.  The plan probes pass ``False`` so the
    golden signature still pins the un-truncated subtree."""
    from .textstats import surprisal_tercile_buckets

    gated = curation_v2_gate(docs, text_col, id_col, lang_col, min_stops)
    if checkpoint_gate:
        gated = gated.localCheckpoint(eager=False)
    terc = surprisal_tercile_buckets(gated, "text", "id")
    return gated.join(terc.filter(F.col("bucket") != F.lit("tail")), "id")


def curation_v2_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_stops: int = 2,
) -> DataFrame:
    """The Gopher quality gate alone — the PURE per-document first stage
    of :func:`curate_corpus_v2`, normalized to ``(id, lang, text,
    n_words)``.  The incremental curation stream (streaming/curation.py)
    gates its arrival batches with it: the gate is per-doc pure, so the
    gated set is append-only under arrival."""
    from .textstats import gopher_quality_flags

    flags = gopher_quality_flags(
        docs, text_col, id_col, keep_cols=(lang_col, text_col)
    )
    gate = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len_ppm").between(3_000_000, 10_000_000)
        & (F.col("alpha_word_ppm") >= 800_000)
        & (F.col("symbol_word_ppm") <= 100_000)
        & (F.col("n_gopher_stops") >= int(min_stops))
    )
    return flags.filter(gate).select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
        F.col("n_words"),
    )


def curation_v2_kept(
    gated2: DataFrame,
    strip_spans: bool = False,
    strip_n: int = 8,
    strip_min_docs: int = 2,
) -> DataFrame:
    """Exact dedup + optional span strip over :func:`curation_v2_gated`'s
    output — the middle section of :func:`curate_corpus_v2`, exposed as a
    named function so the plan gate can pin it un-truncated (the
    composition's two ``localCheckpoint`` boundaries otherwise hide this
    whole stage from the final plan's golden signature).

    With ``strip_spans=True``, applies the substring-level span strip
    (Lee et al. 2022 — the second half of the paper, VERDICT r10 #1)
    BETWEEN exact dedup and the pair graph: corpus-duplicated word
    ``strip_n``-gram spans are cut out of the survivors, the word count
    is recomputed over the cleaned text, and every later stage (near-dup
    shingles, split, DSIR features) operates on the CLEANED text —
    boilerplate that survived doc-level dedup can no longer glue
    unrelated docs into one near-dup component or inflate selection
    scores.  Same scale shape as :func:`strip_dup_ngrams` standalone:
    one distinct (doc, gram-hash) exchange + doc-frequency agg; the span
    cut is per-doc native array math.  Docs stripped to EMPTY text are
    kept (they still carry their metadata row; a production run would
    re-apply a length gate downstream — composing the gate twice here
    would hide the stage's own output)."""
    kept = gated2.join(
        _exact_keepers(gated2.select(X.fingerprint64("text").alias("fp"), "id")),
        "id",
    )
    if not strip_spans:
        return kept.withColumn("stripped_tokens", F.lit(0).cast("long"))
    stripped = strip_dup_ngrams(
        kept, n=strip_n, text_col="text", id_col="id",
        min_docs=strip_min_docs,
    )
    return (
        kept.drop("text", "n_words")
        .join(stripped, "id")
        .select(
            "id",
            "lang",
            F.col("clean_text").alias("text"),
            (F.col("n_tokens") - F.col("n_removed_tokens"))
            .cast("long").alias("n_words"),
            "bits_per_token_ppm",
            "bucket",
            "exact_dups",
            F.col("n_removed_tokens").cast("long").alias(
                "stripped_tokens"
            ),
        )
    )


# Size at which the exact-dedup survivor set gets its own boundary in
# the in-session form (VERDICT r11 #5).  The A/B evidence: without it
# the composed run wins ~1.5 s at sf0.1 (5k docs) and still wins at sf1
# (50k); with it the run is measured -30% at 3M docs (BASELINE.md r11).
# At the scale probes' ~477 B/doc synthetic rows, 512 MiB is ~1.13M docs.
CHECKPOINT_KEPT_MIN_BYTES = 512 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's ``sizeInBytes`` estimate for ``df`` — the zero-action
    size signal that places the kept boundary (file size for scans,
    accurate in-memory size for cached inputs).  ``None`` when the JVM
    internals are unreachable (no kept boundary then, the fixture-honest
    choice)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def _stage_table(spark, root: str, name: str, build) -> DataFrame:
    """One boundary of the STAGED composed pipeline (VERDICT r11 #2):
    materialize ``build()`` as the parquet stage table ``<root>/<name>``
    — unless a COMPLETED table (``_SUCCESS`` marker) is already there,
    in which case ``build`` is never even CALLED (the tercile and
    selection stages run driver-side folds at DataFrame-construction
    time, so skipping must skip construction, not just execution) — and
    return a scan of the table.  A run killed between stages leaves its
    finished stages' tables complete and at most one torn directory (no
    ``_SUCCESS``; overwritten on resume), so re-invoking with the same
    ``staged_root`` resumes from the first unfinished stage and pays
    only the remaining-stage cost.  The Hadoop ``FileSystem`` API keeps
    the check scheme-agnostic (file://, hdfs://, s3a://, abfss://) —
    this is the multi-job form a 100 TB curation run needs where the
    session-lifetime ``localCheckpoint`` boundaries die with the JVM."""
    path = f"{root.rstrip('/')}/{name}"
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _split_survivors(kept: DataFrame, pairs: DataFrame) -> DataFrame:
    """Stages 5-6 of :func:`curate_corpus_v2`: the leakage-safe split over
    the ``pairs`` graph, then only each component's representative
    (``id == cluster_rep``) with ``near_dups`` = its component size."""
    assign = leakage_safe_split(kept, "text", "id", pairs=pairs)
    csize = assign.groupBy("cluster_rep").agg(
        F.count("*").cast("long").alias("near_dups")
    )
    return (
        kept.join(assign, "id")
        .filter(F.col("id") == F.col("cluster_rep"))
        .join(csize, "cluster_rep")
    )


# The output row of curate_corpus_v2 and of its incremental view
# (streaming/curation.py); the first column is renamed to ``id_col``.
CURATION_V2_COLUMNS = (
    "id", "lang", "n_words", "bits_per_token_ppm", "bucket", "exact_dups",
    "stripped_tokens", "near_dups", "split", "n_feats", "score_bits",
    "mean_milli", "selected",
)


def curate_corpus_v2(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    target_lang: str = "en",
    min_stops: int = 2,
    jaccard_threshold: float = 0.8,
    max_df: int | None = 5,
    k_select: int = 100,
    m_buckets: int = 1024,
    use_minhash: bool = False,
    strip_spans: bool = False,
    strip_n: int = 8,
    strip_min_docs: int = 2,
    dsir_hash: str = "md5",
    staged_root: str | None = None,
    pairs: DataFrame | None = None,
    observation=None,
) -> DataFrame:
    """The composed pretraining-data curation pipeline a real corpus run
    executes end-to-end (the v2 of :func:`curate_corpus` — every stage is
    an already-implemented operator, chained with no driver round-trips
    beyond the two bounded folds the stages themselves own):

    1. **Gopher quality gate** (textstats.gopher_quality_flags — Rae et
       al. 2021 §A1.1): word-count / mean-word-length / alphabetic /
       symbol-ratio rules plus ``n_gopher_stops >= min_stops``.  Pure
       scan predicates; ``keep_cols`` carries text+lang through so no
       re-join touches the corpus.
    2. **CCNet perplexity terciles** (textstats.surprisal_tercile_buckets
       — Wenzek et al. 2020 §4.4) over the GATE SURVIVORS (the LM stats
       are fit on what the gate kept, as CCNet fits on its own corpus):
       drop the ``tail`` third, keep head+middle.
    3. **Exact dedup**: keep min id per 64-bit normalized-text
       fingerprint, count ``exact_dups``.  8-byte shuffle key.
    3b. **Substring span strip** (``strip_spans=True`` — Lee et al. 2022,
       :func:`strip_dup_ngrams`): corpus-duplicated word
       ``strip_n``-gram spans are cut from the survivors and ``n_words``
       is recounted over the cleaned text; all later stages see the
       cleaned text.  Off by default so the v1-of-this-composition
       (``curation_v2_pipeline``) stays bench-comparable; the
       ``curation_v3_pipeline`` driver query runs it live with its own
       chained-CTE oracle.
    4. **Near-dup pair graph, computed ONCE** (df-capped exact Jaccard,
       or MinHash+LSH banding with ``use_minhash=True`` — the 100 TB
       form) and consumed by BOTH remaining stages:
    5. **Leakage-safe split** (:func:`leakage_safe_split` with
       ``pairs=``): every near-dup component lands wholly in
       train/validation/test — assigned BEFORE the near-dup drop, so a
       kept representative carries the split its dropped variants share.
    6. **Near-dup dedup**: keep the component representative
       (``id == cluster_rep``), emit ``near_dups`` = component size.
    7. **DSIR selection** (selection.dsir_select — Moore-Lewis
       cross-entropy difference, target = ``lang_col == target_lang``):
       integer-exact scores + the top-``k_select`` flag, over the final
       survivors.

    Returns one row per surviving document: ``(id_col, lang, n_words,
    bits_per_token_ppm, bucket, exact_dups, stripped_tokens, near_dups,
    split, n_feats, score_bits, mean_milli, selected)`` —
    ``stripped_tokens`` is constant 0 when ``strip_spans=False``.  Every stage is individually
    oracle-verified (gopher_quality_flags / ccnet_perplexity_buckets /
    dedup_exact / jaccard_similar_pairs / leakage_safe_split /
    dsir_select); the ``curation_v2_pipeline`` driver query verifies the
    COMPOSITION bit-for-bit against the chained-CTE DuckDB restatement.

    Scale shape: stages 1-2 are scan predicates plus the
    bounded-histogram tercile fold; 3 shuffles fingerprints; 4's pair
    cost is df-capped/banded and paid once; 5-6 are id-keyed joins
    against the (small) component table; 7's bucket stats are <= m rows
    broadcast back.

    Stage boundaries.  The chain runs once; four subtrees — ``gated2``
    (stages 1-2), ``kept`` (3-3b), ``pairs`` (4) and ``surv`` (5-6) —
    are its boundaries.  In-session (no ``staged_root``) a boundary is a
    lazy ``localCheckpoint``:

    - ``gated2`` always: it feeds five consumers (fingerprint agg, kept
      join, pair graph, split join, survivor join);
    - ``surv`` always: DSIR's threshold and flag branches both consume
      it, and without the boundary the whole upstream pipeline would run
      three times (AQE exchange reuse does not cross the TakeOrdered
      threshold branch);
    - ``kept`` when ``strip_spans`` is set (the strip subtree tips the
      tradeoff at every scale measured) or when the zero-action Catalyst
      ``sizeInBytes`` estimate of ``docs`` reaches
      ``CHECKPOINT_KEPT_MIN_BYTES`` (512 MiB, ~1.1M docs of the scale
      probes' rows: the r11 3M probe paid ~2x its staged sum
      re-evaluating this subtree, while at fixture scale the copy loses
      ~1.5 s at sf0.1);
    - ``pairs`` never: components checkpoint their own edge projection.

    ``min_stops`` exists because the stop-word rule is corpus-specific:
    on non-English or synthetic corpora (the driver fixtures are
    multilingual token soup with zero English function words) the
    faithful ``>= 2`` keeps nothing; the fixture query runs
    ``min_stops=0`` (the rule trivially true, the other four rules
    live) and says so.

    ``staged_root`` (VERDICT r11 #2) makes all four boundaries PERSISTED
    parquet stage tables (``<root>/{gated2,kept,pairs,surv}``) with
    skip-if-present resume: a run killed between stages is re-invoked
    with the same root and recomputes only the unfinished stages (see
    :func:`_stage_table`) — the multi-job form a corpus-scale curation
    run needs, bit-identical to the in-session form (pinned in
    tests/test_dedup.py).  The scalar parameters that decide the stage
    tables are pinned to the root (:func:`utils.pin_marker`, marker
    ``_params=<hash>``): a rerun with other ones raises instead of
    returning stale stages.  The DSIR parameters are not pinned — the
    final join is recomputed every run — and neither is the input data.

    ``pairs`` (r12, VERDICT r11 #4's named pair-graph attack) supplies a
    MAINTAINED near-dup pair graph — e.g. the incremental band store's
    matches log (streaming/curation.py), accumulated while the corpus
    ingested — and skips the from-scratch banded pair computation, the
    top per-stage wall at >=10M docs (747 s of the 10M probe's 2,008 s).
    Pairs may cover all gated docs; both endpoints are restricted to the
    exact-dedup survivors, which reproduces the operator's own pair set
    exactly (the kept-kept restriction argument; bit-identity pinned in
    tests/test_dedup.py).  Signature contract: the pairs must come from
    the same (n=3, threshold, max_df=None) MinHash family the stream
    maintains."""
    from .selection import dsir_select as _dsir_select

    spark = docs.sparkSession
    if staged_root is not None:
        params = dict(
            text_col=text_col, id_col=id_col, lang_col=lang_col,
            min_stops=min_stops, strip_spans=strip_spans, strip_n=strip_n,
            strip_min_docs=strip_min_docs, use_minhash=use_minhash,
            jaccard_threshold=jaccard_threshold, max_df=max_df,
        )
        pin_marker(
            spark, staged_root, "params",
            hashlib.sha1(repr(params).encode()).hexdigest()[:16],
            "curate_corpus_v2",
            f"its stage tables were built with other parameters (this call:"
            f" {params}); use a fresh staged_root",
        )

    def stage(name: str, build, keep: bool) -> DataFrame:
        if staged_root is not None:
            return _stage_table(spark, staged_root, name, build)
        return build().localCheckpoint(eager=False) if keep else build()

    gated2 = stage(
        "gated2",
        lambda: curation_v2_gated(docs, text_col, id_col, lang_col, min_stops),
        True,
    )
    kept = stage(
        "kept",
        lambda: curation_v2_kept(gated2, strip_spans, strip_n, strip_min_docs),
        strip_spans
        or (_plan_size_bytes(docs) or 0) >= CHECKPOINT_KEPT_MIN_BYTES,
    )

    def build_pairs() -> DataFrame:
        if pairs is not None:
            return _kept_pairs(pairs, kept)
        pair_fn = minhash_lsh_pairs if use_minhash else jaccard_pairs
        return pair_fn(
            kept, "text", "id", n=3, threshold=jaccard_threshold,
            max_df=max_df, observation=observation,
        )

    graph = stage("pairs", build_pairs, False)
    surv = stage("surv", lambda: _split_survivors(kept, graph), True)
    # dsir_hash: the feature-string hash family.  "md5" (default) is the
    # oracle-checkable family the fixture queries pin; at corpus scale
    # the DSIR stage is HASH-BOUND (r11 10M diagnostic: 558 s ≈ 690M
    # features at md5's ~1.2M feat/s/core-set) and "xx64" — the same
    # engine-native family the selection probe records at 2.45M feat/s —
    # roughly halves it.  Selection SEMANTICS are hash-family-independent
    # (both are uniform bucket maps); only the exact bucket assignment
    # differs, which is why the oracle pins one family.
    sel = _dsir_select(
        surv.select("id", "lang", "text"),
        F.col("lang") == F.lit(target_lang),
        k=k_select,
        m=m_buckets,
        text_col="text",
        id_col="id",
        bigrams=True,
        hash_fn=dsir_hash,
    )
    return surv.join(sel, "id").select(
        F.col("id").alias(id_col), *CURATION_V2_COLUMNS[1:]
    )
