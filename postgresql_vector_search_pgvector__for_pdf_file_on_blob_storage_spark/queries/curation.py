"""Training-data ops round 2: PII, repetition, packing, mixtures, BPE, SemDeDup, streaming substring galleries.

Mechanical split of the former single-file queries.py (round 9) — the
section bodies are verbatim; only relative-import depth changed.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# Training-data ops round 2: PII redaction, repetition filters, packing
# ---------------------------------------------------------------------------

# Deterministic PII seeding shared by the Spark query and its oracle: every
# 7th doc gets one email + one IPv4 + one phone appended, so the redactor
# has real work whatever the fixture text contains.  The seeding is part of
# the QUERY fixture; the operator under test is operators/textstats.redact_pii.
_PII_SEED_FMT = (
    " contact eng-%d@example.com from 10.%d.%d.7 call +1-555-%03d-%04d"
)

@query(
    "pii_redaction",
    r"""
WITH seeded AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
           THEN printf(' contact eng-%d@example.com from 10.%d.%d.7 call +1-555-%03d-%04d',
                       doc_id, doc_id % 256, doc_id % 100,
                       doc_id % 1000, doc_id % 10000)
           ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(text, '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
  regexp_replace(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
FROM seeded ORDER BY doc_id
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora (brief training-data ops;
    generalizes the reference's scalar string rewrites, SURVEY.md §2A rows
    15-16,26): mask emails/IPs/phones with typed tokens and count
    redactions per category.  Native regexp chain, RE2-safe so the oracle
    runs the identical patterns (operators/textstats.redact_pii)."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.format_string(
                    _PII_SEED_FMT,
                    F.col("doc_id"),
                    F.col("doc_id") % 256,
                    F.col("doc_id") % 100,
                    F.col("doc_id") % 1000,
                    F.col("doc_id") % 10000,
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return T.redact_pii(seeded).orderBy("doc_id")

@query(
    "repetition_signals",
    r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS toks
  FROM documents),
f AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok),
m AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(max(c) AS BIGINT) AS top_freq,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM f GROUP BY doc_id),
b AS (
  SELECT doc_id,
         CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct(list_transform(range(1, greatest(len(toks), 1)),
           j -> toks[j] || ' ' || toks[j+1]))) AS BIGINT) AS n_distinct_bigrams
  FROM t)
SELECT b.doc_id AS doc_id,
  COALESCE(m.n_tokens, 0) AS n_tokens,
  CAST(CASE WHEN COALESCE(m.n_tokens, 0) > 0
    THEN (m.top_freq * 1000000) // m.n_tokens ELSE 0 END AS BIGINT)
    AS top_token_ppm,
  CAST(CASE WHEN COALESCE(m.n_tokens, 0) > 0
    THEN ((m.n_tokens - m.n_distinct) * 1000000) // m.n_tokens ELSE 0 END
    AS BIGINT) AS dup_token_ppm,
  CAST(CASE WHEN b.n_bigrams > 0
    THEN ((b.n_bigrams - b.n_distinct_bigrams) * 1000000) // b.n_bigrams
    ELSE 0 END AS BIGINT) AS dup_bigram_ppm
FROM b LEFT JOIN m ON b.doc_id = m.doc_id
ORDER BY doc_id
""",
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates (brief training-data ops):
    top-token / duplicate-token / duplicate-bigram rates per document as
    exact BIGINT ppm — never formatted doubles, whose data-dependent
    power-of-two denominators can land on the %.6f half boundary
    (operators/textstats.repetition_signals — explode+partial-agg for
    unigram frequencies, native array exprs for bigrams)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.repetition_signals(docs).orderBy("doc_id")

@query(
    "sequence_packing",
    r"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> ''))
              AS BIGINT) AS n_tok
  FROM documents),
s AS (
  SELECT doc_id, shard, n_tok,
         sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tok AS strt
  FROM t)
SELECT shard, CAST(strt // 500 AS BIGINT) AS bin,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS tokens,
  CAST(sum(n_tok) AS DOUBLE) / 500.0 AS fill_ratio,
  CAST(min(doc_id) AS BIGINT) AS first_doc
FROM s GROUP BY shard, bin ORDER BY shard, bin
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining loaders (brief training-data ops):
    lay documents out deterministically per shard and assign each to the
    500-token context window its first token lands in (concat-then-chop).
    Per-shard running sums — thousands of independent shard sorts at
    100 TB, never a global sort (operators/textstats.pack_token_bins)."""
    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        X.token_count("text").cast("long").alias("n_tok"),
    )
    return T.pack_token_bins(with_counts, "n_tok", "shard", "doc_id", 500)

# Domain-mixture spec shared by the Spark query and its oracle: integer
# weights (zh intentionally absent — the spec also EXCLUDES domains) and a
# fixed token budget small enough that every listed domain really samples
# at sf0.01.
_MIXTURE_WEIGHTS = {"en": 40, "de": 25, "es": 20, "fr": 15}

_MIXTURE_BUDGET = 12000

@query(
    "domain_mixture_sample",
    r"""
WITH w(lang, wt) AS (VALUES ('en', 40), ('de', 25), ('es', 20), ('fr', 15)),
base AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> ''))
              AS BIGINT) AS ntok
  FROM documents),
totals AS (
  SELECT lang, CAST(sum(ntok) AS BIGINT) AS domain_tokens,
         CAST(count(*) AS BIGINT) AS domain_docs
  FROM base GROUP BY lang),
kept AS (
  SELECT b.lang, w.wt, t.domain_tokens, t.domain_docs, b.ntok
  FROM base b JOIN w ON b.lang = w.lang JOIN totals t ON b.lang = t.lang
  WHERE CAST((((b.doc_id % 1000003) * 2654435761
               + (b.doc_id // 1000003) * 97) % 4294967296) AS DOUBLE)
          / 4294967296.0
        < least(1.0, CAST(12000 * w.wt AS DOUBLE)
                     / (100.0 * CAST(t.domain_tokens AS DOUBLE)))),
agg AS (
  SELECT lang, CAST(wt AS BIGINT) AS wt, domain_tokens, domain_docs,
         CAST(count(*) AS BIGINT) AS kept_docs,
         CAST(sum(ntok) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY lang, wt, domain_tokens, domain_docs)
SELECT lang, wt, domain_tokens, domain_docs, kept_docs, kept_tokens,
       CAST((kept_tokens * 1000000) // (sum(kept_tokens) OVER ()) AS BIGINT)
         AS kept_ppm
FROM agg ORDER BY lang
""",
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting (training-data ops): down-sample each
    language so kept tokens approach budget x weight share, with the
    deterministic key-hash membership rule (reproducible, coordination-free
    at 100 TB: tiny per-domain totals broadcast onto the scan, never a wide
    shuffle).  zh is absent from the spec -> excluded entirely
    (operators/textstats.mixture_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", "lang", X.token_count("text").cast("long").alias("ntok")
    )
    return T.mixture_sample(
        with_counts,
        _MIXTURE_WEIGHTS,
        _MIXTURE_BUDGET,
        "ntok",
        domain_col="lang",
        key_col="doc_id",
    )

@query(
    "unpivot_order_metrics",
    """
SELECT o_orderkey, 'order_year' AS metric,
       CAST(year(o_orderdate) AS DOUBLE) AS val
FROM orders
UNION ALL
SELECT o_orderkey, 'total_price', CAST(o_totalprice AS DOUBLE)
FROM orders
ORDER BY o_orderkey, metric
""",
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping via the native ``unpivot`` operator
    (SURVEY.md §2B B7/B12 closure — the inverse of the pivot already
    covered by ``pivot_returnflag_by_status``).  The oracle states the
    same semantics as the portable UNION ALL; Spark executes the real
    Expand-based unpivot (one scan, rows fan out map-side, no shuffle
    beyond the output sort)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").cast("double").alias("order_year"),
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
        .unpivot("o_orderkey", ["order_year", "total_price"], "metric", "val")
        .orderBy("o_orderkey", "metric")
    )

@query(
    "variant_extract_events",
    """
WITH t AS (
  SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
  FROM events)
SELECT event_id, k, CAST(k % 10 AS INTEGER) AS k_bucket,
       CAST(k IS NOT NULL AS INTEGER) AS parsed_ok
FROM t ORDER BY event_id
""",
)
def variant_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics via Spark 4's VARIANT type (SURVEY.md §2B
    B12 depth beyond ``get_json_object``): ``parse_json`` ingests the raw
    JSON once into the binary VARIANT encoding, ``variant_get`` does typed
    path extraction — at 100 TB the parse happens once per row instead of
    once per extracted path, which is the reason VARIANT exists.  The
    oracle states the same extraction over DuckDB's JSON operators."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 10).cast("int").alias("k_bucket"),
        k.isNotNull().cast("int").alias("parsed_ok"),
    ).orderBy("event_id")

@query(
    "edit_distance_gallery",
    """
WITH t AS (
  SELECT p_partkey, p_name,
         lag(p_name) OVER (ORDER BY p_partkey) AS prev_name
  FROM part)
SELECT p_partkey,
       CAST(CASE WHEN prev_name IS NULL THEN -1
            ELSE levenshtein(p_name, prev_name) END AS INTEGER) AS edit_prev,
       CAST(levenshtein(p_name, reverse(p_name)) AS INTEGER) AS edit_rev,
       CAST(length(p_name) AS INTEGER) AS name_len
FROM t ORDER BY p_partkey
""",
)
def edit_distance_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity metrics (SURVEY.md §2B B12 depth — the scalar
    kernel under fuzzy matching/blocking): Levenshtein distance between
    window-adjacent part names and against each name's reversal.  Both
    engines implement the standard Wagner-Fischer definition, so the
    integer distances match exactly.  (A fuzzy JOIN at scale would block
    first — LSH/banding as in dedup — and only score within blocks; this
    pins the kernel.)"""
    p = load_table(spark, sf_dir, "part")
    w = Window.orderBy("p_partkey")
    prev = F.lag("p_name").over(w)
    return p.select(
        "p_partkey",
        F.when(prev.isNull(), F.lit(-1))
        .otherwise(F.levenshtein("p_name", prev))
        .cast("int")
        .alias("edit_prev"),
        F.levenshtein("p_name", F.reverse("p_name")).cast("int").alias("edit_rev"),
        F.length("p_name").cast("int").alias("name_len"),
    ).orderBy("p_partkey")

@query(
    "dataset_split_shuffle",
    """
WITH t AS (
  SELECT doc_id,
         (((doc_id % 1000003) * 2654435761
           + (doc_id // 1000003) * 97) % 4294967296) % 100 AS pct,
         ((doc_id % 999983) * 2246822519
           + (doc_id // 999983) * 101) % 4294967296 AS shuffle_key
  FROM documents)
SELECT doc_id,
       CASE WHEN pct < 90 THEN 'train'
            WHEN pct < 95 THEN 'validation'
            ELSE 'test' END AS split,
       CAST(shuffle_key AS BIGINT) AS shuffle_key
FROM t ORDER BY split, shuffle_key, doc_id
""",
)
def dataset_split_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment (90/5/5) plus a
    reproducible global shuffle order (training-data ops: the step between
    curation and packing).  Both come from key hashes, so membership and
    order are pure functions of doc_id: any worker, any rerun, any engine
    agrees with no coordination — the property seeded-RNG splits lose the
    moment partitioning changes.  Scan-only (no window): the shuffle
    position is IMPLIED by (split, shuffle_key) ordering, so at 100 TB the
    sort happens once in the final write layout instead of a skewed
    90%-of-rows-on-one-reducer row_number."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.textstats import hash_bucket

    pct = hash_bucket("doc_id", 100)
    lo = F.col("doc_id") % F.lit(999983)
    hi = F.expr("doc_id div 999983")
    shuffle_key = (
        (lo * F.lit(2246822519) + hi * F.lit(101)) % F.lit(4294967296)
    ).cast("long")
    return docs.select(
        "doc_id",
        F.when(pct < 90, F.lit("train"))
        .when(pct < 95, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
        shuffle_key.alias("shuffle_key"),
    ).orderBy("split", "shuffle_key", "doc_id")

@query("bpe_vocab_train")
def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training over the documents corpus
    (operators/bpe.py): Spark reduces the corpus to its pre-token
    frequency table (the one 100 TB pass — scan + partial-agg shuffle on
    Heaps'-law-small keys), the sequential merge loop runs on the capped
    sufficient statistics driver-side (how GPT-2 / HuggingFace trainers
    split the work), and the learned ranks are then applied distributed
    by ``bpe_encode``'s broadcast-ranks Arrow UDF.  Returns the merge
    table — rank, pair, merged symbol — plus the honest ``dropped_words``
    cap count (0 on the fixture corpus: no silent caps).  The iterative
    merge selection is not SQL-expressible -> rows-only; determinism is
    pinned by tests/test_bpe.py (tie-break = lexicographic, partition-
    order invariant), and the constant ``ref_diff_rows`` column is the
    driver-visible witness (the ``batch_diff_rows`` move, VERDICT r8
    watch item #2): the production incremental trainer's merge sequence
    diffed rank-by-rank against the independent textbook rescan loop
    (``merges_from_stats_reference``) over the SAME collected word
    statistics — 0 iff the two algorithms agree bit-for-bit on this
    corpus.  The reference loop is O(merges x words) but runs on
    Heaps'-law-small driver-side stats, not the corpus."""
    from ..operators import bpe as BP

    docs = load_table(spark, sf_dir, "documents")
    words, dropped = BP.collect_word_stats(docs, max_words=100_000)
    merges = BP.merges_from_stats(words, 48)
    ref = BP.merges_from_stats_reference(words, 48)
    diff = sum(1 for a, b in zip(merges, ref) if a != b) + abs(
        len(merges) - len(ref)
    )
    return (
        BP.bpe_merges_df(spark, merges)
        .withColumn("dropped_words", F.lit(int(dropped)).cast("long"))
        .withColumn("ref_diff_rows", F.lit(int(diff)).cast("long"))
        .orderBy("rank")
    )

@query(
    "bpe_encode_fixed_ranks",
    r"""
WITH RECURSIVE pieces AS (
  SELECT doc_id, unnest(regexp_extract_all(text,
    ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\x0B\p{L}\p{N}]+|[ \t\n\r\f\x0B]+')) AS piece
  FROM documents),
occ AS (SELECT doc_id, piece, count(*) AS n_occ FROM pieces GROUP BY 1, 2),
words AS (SELECT DISTINCT piece FROM occ),
steps AS (
  SELECT piece, regexp_extract_all(piece, '(?s).') AS syms FROM words
  UNION ALL
  SELECT piece,
         syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
  FROM (
    SELECT piece, syms,
      CAST(list_min(list_filter(list_transform(range(1, len(syms)),
        i -> CASE
          WHEN length(syms[i]) = 1 AND length(syms[i+1]) = 1
               AND ascii(syms[i]) BETWEEN 97 AND 122
               AND ascii(syms[i+1]) BETWEEN 97 AND 122
          THEN ((ascii(syms[i]) - 97) * 26 + (ascii(syms[i+1]) - 97))
               * 100000 + i
          WHEN length(syms[i]) = 2 AND length(syms[i+1]) = 1
               AND ascii(syms[i]) BETWEEN 97 AND 122
               AND ascii(substr(syms[i], 2, 1)) BETWEEN 97 AND 122
               AND ascii(syms[i+1]) BETWEEN 97 AND 122
          THEN (676 + ((ascii(syms[i]) - 97) * 26
                       + (ascii(substr(syms[i], 2, 1)) - 97)) * 26
                + (ascii(syms[i+1]) - 97)) * 100000 + i
          ELSE NULL END), x -> x IS NOT NULL)) % 100000 AS BIGINT) AS bi
    FROM steps) s
  WHERE bi IS NOT NULL
),
final AS (
  SELECT piece, len(syms) AS n_toks
  FROM (
    SELECT piece, syms,
      list_min(list_filter(list_transform(range(1, len(syms)),
        i -> CASE
          WHEN length(syms[i]) = 1 AND length(syms[i+1]) = 1
               AND ascii(syms[i]) BETWEEN 97 AND 122
               AND ascii(syms[i+1]) BETWEEN 97 AND 122
          THEN 1
          WHEN length(syms[i]) = 2 AND length(syms[i+1]) = 1
               AND ascii(syms[i]) BETWEEN 97 AND 122
               AND ascii(substr(syms[i], 2, 1)) BETWEEN 97 AND 122
               AND ascii(syms[i+1]) BETWEEN 97 AND 122
          THEN 1
          ELSE NULL END), x -> x IS NOT NULL)) AS more
    FROM steps) WHERE more IS NULL
),
per AS (
  SELECT o.doc_id, sum(o.n_occ * f.n_toks) AS t
  FROM occ o JOIN final f USING (piece)
  GROUP BY o.doc_id)
SELECT d.doc_id, CAST(coalesce(p.t, 0) AS BIGINT) AS bpe_fixed_tokens
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
""",
)
def bpe_encode_fixed_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE ENCODE mechanism with a FIXED, formula-generated merge
    table — the pq_adc_fixed_codebook move applied to the tokenizer
    (VERDICT r8 next-round #2): under fixed ranks, greedy lowest-rank
    pair rewriting is deterministic, so the real distributed encoder
    (operators.bpe.bpe_encode — broadcast ranks dict, Arrow-batched
    pandas UDF, per-piece memo) gets a bit-exact DuckDB twin stated as
    a bounded-depth recursive CTE over DISTINCT pre-token pieces (the
    dedup_clusters convention; depth <= piece length, and per-doc token
    counts are occurrence-weighted sums over distinct pieces — exactly
    the memoization bpe_encode itself applies).

    The merge table covers every single-letter pair (rank = 26*a + b,
    0..675) and every (two-letter, letter) extension (rank = 676 +
    676*26-style mixed radix) over [a-z] — level-1 ranks all sort below
    level-2, so the greedy ORDER genuinely matters (overlapping
    candidates resolve by rank, then leftmost), which is the mechanism
    under test.  ``train_bpe``'s merge-selection loop stays rows-only
    (bpe_vocab_train); this row makes its OUTPUT side — the encoder any
    learned table feeds — oracle-checked.  Reference seed: the
    tokenizer-driven chunking policy, reference README.md:314-321."""
    from ..operators import bpe as BP

    docs = spread(load_table(spark, sf_dir, "documents"))
    merges = [
        (chr(97 + i), chr(97 + j)) for i in range(26) for j in range(26)
    ]
    merges += [
        (chr(97 + i) + chr(97 + j), chr(97 + k))
        for i in range(26)
        for j in range(26)
        for k in range(26)
    ]
    return (
        BP.bpe_encode(docs, merges, out_col="bpe_fixed_tokens")
        .select(
            "doc_id", F.col("bpe_fixed_tokens").cast("long").alias("bpe_fixed_tokens")
        )
        .orderBy("doc_id")
    )

@query("semantic_dedup")
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py — Abbas et al. 2023) over the
    embeddings table: k-means clusters, within-cluster cosine-duplicate
    edges via one normalized GEMM per cluster (``applyInPandas``), star-
    contraction components, one kept representative (min id) per
    semantic-duplicate group.  Quadratic work is confined inside clusters
    — O(sum c_i^2), the paper's cost model — with a loud
    ``max_cluster_size`` refusal on degenerate clusters.  k-means cluster
    geometry is engine-specific -> rows-only; recall vs the exact
    ``similarity_join`` twin is asserted in tests/test_semdedup.py.

    r12 witness (VERDICT r11 #3): ``twin_diff_rows`` — the GEMM edge
    kernel + star contraction + keeper fold are re-derived from an EXACT
    ``similarity_join`` pass at fixture scale: all-pairs cosine < eps
    over the non-null embeddings, restricted to pairs the output's own
    cluster assignment co-locates (geometry is the one unoracle-able
    input, so it is taken from the output; everything downstream of it
    is independently recomputed), components + min-id keeper rebuilt
    from those exact pairs, and the (vec_id, cluster_id, group_id,
    is_keeper) rows bag-diffed.  Constant 0 = the applyInPandas kernel
    found exactly the within-cluster duplicate structure the exact join
    defines."""
    from ..operators import knn as KN
    from ..operators import semdedup as SD
    from ..operators.dedup import connected_components_star

    emb = load_table(spark, sf_dir, "embeddings")
    # eps matches embedding_near_dup's 0.6 threshold (fixture cosine
    # distances: min ~0.49) so the planted near-dup structure becomes
    # semantic-duplicate groups on this corpus.
    out = SD.semantic_dedup(
        emb, eps=0.6, k_clusters=8, id_col="vec_id"
    ).localCheckpoint(eager=True)  # feeds the result AND the twin diff
    valid = emb.filter(F.col("embedding").isNotNull())
    n = valid.count()
    exact = KN.similarity_join(
        valid.select(F.col("vec_id").alias("left_id"), "embedding"),
        valid.select(F.col("vec_id").alias("right_id"), "embedding"),
        threshold=0.6,
        metric="cosine",
        left_id="left_id",
        right_id="right_id",
        sizes=(n, n),
    ).filter(F.col("left_id") < F.col("right_id"))
    clusters = out.select("vec_id", "cluster_id")
    same_cluster = (
        exact.join(
            clusters.select(
                F.col("vec_id").alias("left_id"),
                F.col("cluster_id").alias("__ca"),
            ),
            "left_id",
        )
        .join(
            clusters.select(
                F.col("vec_id").alias("right_id"),
                F.col("cluster_id").alias("__cb"),
            ),
            "right_id",
        )
        .filter(F.col("__ca") == F.col("__cb"))
        .select(
            F.col("left_id").alias("id_a"), F.col("right_id").alias("id_b")
        )
    )
    comps = connected_components_star(same_cluster)
    group = F.coalesce(F.col("cluster"), F.col("vec_id"))
    twin = (
        clusters.join(comps.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            group.alias("group_id"),
            (group == F.col("vec_id")).alias("is_keeper"),
        )
    )
    diff = _bag_diff_count(
        out, twin, ["vec_id", "cluster_id", "group_id", "is_keeper"]
    )
    return (
        out.withColumn("twin_diff_rows", F.lit(diff).cast("long"))
        .orderBy("vec_id")
    )

@query("semantic_dedup_topm")
def semantic_dedup_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with soft top-2 centroid assignment
    (operators/semdedup.assign_to_centroids_topm): each vector joins its
    TWO nearest clusters, so duplicate pairs straddling a k-means
    boundary — which hard assignment never compares, measured recall
    floor 0.637 vs 0.883 soft (scripts/semdedup_boundary_probe.py,
    BASELINE.md) — are still compared whenever their top-2 sets
    intersect.  A pair found in two shared clusters is emitted twice
    with an identical score; ``dropDuplicates`` folds it.  k-means
    geometry is engine-specific -> rows-only; the boundary-recall bound
    is pinned in tests/test_semdedup.py.

    r12 witnesses (VERDICT r11 #3), both constant 0 against an EXACT
    ``similarity_join`` pass at fixture scale: ``extra_pairs`` = emitted
    edges NOT in the exact all-pairs cosine < eps set (precision — the
    GEMM kernel never invents a pair); ``missed_pairs`` = exact pairs
    whose top-2 centroid sets intersect but which the kernel did not
    emit (within-shared-cluster completeness — the only pairs SemDeDup
    promises to compare; boundary pairs with DISJOINT top-2 sets are
    the operator's documented approximation and stay out of the
    witness, their rate being the probe-measured recall floor)."""
    from ..operators import knn as KN
    from ..operators import semdedup as SD

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SD.kmeans_centroids(emb, k_clusters=8)
    assigned = SD.assign_to_centroids_topm(emb, cents, m=2)
    edges = (
        SD.semantic_dup_edges(assigned, eps=0.6)
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=True)  # feeds the result AND both diffs
    )
    valid = emb.filter(F.col("embedding").isNotNull())
    n = valid.count()
    exact = (
        KN.similarity_join(
            valid.select(F.col("vec_id").alias("left_id"), "embedding"),
            valid.select(F.col("vec_id").alias("right_id"), "embedding"),
            threshold=0.6,
            metric="cosine",
            left_id="left_id",
            right_id="right_id",
            sizes=(n, n),
        )
        .filter(F.col("left_id") < F.col("right_id"))
        .select(
            F.col("left_id").alias("id_a"), F.col("right_id").alias("id_b")
        )
        .localCheckpoint(eager=True)  # feeds both diffs
    )
    extra = edges.select("id_a", "id_b").join(
        exact, ["id_a", "id_b"], "left_anti"
    ).count()
    cl = assigned.select(
        F.col("vec_id").cast("long").alias("vec_id"), "cluster_id"
    )
    shared = (
        exact.join(
            cl.select(F.col("vec_id").alias("id_a"), "cluster_id"), "id_a"
        )
        .join(
            cl.select(
                F.col("vec_id").alias("id_b"),
                F.col("cluster_id").alias("__cb"),
            ),
            "id_b",
        )
        .filter(F.col("cluster_id") == F.col("__cb"))
        .select("id_a", "id_b")
        .distinct()
    )
    missed = shared.join(
        edges.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).count()
    return (
        edges.select(
            "id_a", "id_b", F.round("cos_dist", 4).alias("cos_dist")
        )
        .withColumn("extra_pairs", F.lit(extra).cast("long"))
        .withColumn("missed_pairs", F.lit(missed).cast("long"))
        .orderBy("id_a", "id_b")
    )

@query("streaming_semdedup_matches")
def streaming_semdedup_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup (streaming/semdedup.py) driven over the
    embeddings fixture as two arrival batches: frozen k-means centroids,
    first half registered into the cluster-partitioned vector store, then
    the second half arrives and each new vector is scored against ONLY
    its cluster's store partitions (plus within-batch).  Returns verified
    matches ``(new_id, matched_id, cos_dist)`` at the fixture's 0.6
    cosine threshold (matching ``embedding_near_dup`` / the batch
    ``semantic_dedup`` query), plus a constant ``batch_diff_rows``
    column: the symmetric bag difference between the incremental pair
    set and an INDEPENDENT batch recompute (per-cluster self-join,
    normalized-dot cosine, registration-order orientation — plain
    DataFrame ops, not the stream's GEMM kernel) — 0 iff stream ==
    batch, the pytest pin made driver-visible (VERDICT r7 next-round
    #5).  foreachBatch state-table pattern -> rows-only."""
    from ..operators.semdedup import assign_to_centroids
    from ..streaming import semdedup as SS

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SS.fit_frozen_centroids(emb, k_clusters=8)
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    tmp = _gallery_scratch("semdedup_q_")
    store_d, m_d = f"{tmp}/store", f"{tmp}/matches"
    SS.detect_and_register(
        emb.filter(F.col("vec_id") <= mid), cents, store_d, m_d, eps=0.6
    )
    SS.detect_and_register(
        emb.filter(F.col("vec_id") > mid), cents, store_d, m_d, eps=0.6
    )
    stream = _lazy_parquet_or_empty(
        spark, m_d, "new_id bigint, matched_id bigint, cos_dist double"
    )
    # Independent batch twin: same frozen centroids, same zero-norm
    # guard, but pairing via a per-cluster self-join with the
    # registration order (batch index, then id) — matched_id is any
    # earlier-batch row or a smaller-id same-batch row, strict < eps.
    raw_norm = V.l2_norm("embedding")
    nrm = F.when(raw_norm == 0.0, F.lit(1.0)).otherwise(raw_norm)
    nv = (
        assign_to_centroids(
            emb.filter(F.col("embedding").isNotNull()).select(
                F.col("vec_id").cast("long").alias("id"), "embedding"
            ),
            cents,
            "embedding",
        )
        .withColumn("__n", nrm)
        .select(
            "id",
            "cluster_id",
            F.transform(
                "embedding", lambda x: x.cast("double") / F.col("__n")
            ).alias("vec"),
            F.when(F.col("id") <= mid, F.lit(0))
            .otherwise(F.lit(1))
            .alias("arrival"),
        )
    )
    lhs, rhs = nv.alias("na"), nv.alias("nb")
    dot = F.aggregate(
        F.zip_with(F.col("na.vec"), F.col("nb.vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    twin = (
        lhs.join(
            rhs,
            (F.col("na.cluster_id") == F.col("nb.cluster_id"))
            & (
                (F.col("nb.arrival") < F.col("na.arrival"))
                | (
                    (F.col("nb.arrival") == F.col("na.arrival"))
                    & (F.col("nb.id") < F.col("na.id"))
                )
            ),
        )
        .filter(F.lit(1.0) - dot < F.lit(0.6))
        .select(
            F.col("na.id").alias("new_id"),
            F.col("nb.id").alias("matched_id"),
        )
    )
    diff = _bag_diff_count(stream, twin, ["new_id", "matched_id"])
    return (
        stream.select(
            "new_id",
            "matched_id",
            F.round("cos_dist", 4).alias("cos_dist"),
        )
        .withColumn("batch_diff_rows", F.lit(int(diff)).cast("long"))
        .orderBy("new_id", "matched_id")
    )

@query("tokenize_pack_pipeline")
def tokenize_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining data layout: train a BPE vocabulary on the
    corpus (operators/bpe.train_bpe — one distributed pre-token frequency
    reduction, driver-side merge loop over capped statistics), encode
    every document with the learned merges (broadcast-ranks Arrow UDF),
    then pack documents into 500-token training context windows by their
    REAL tokenizer counts (operators/textstats.pack_token_bins —
    per-shard running sums, no global sort).  This is the composition a
    training-data pipeline actually ships: raw text in, packed sequence
    manifest out.  BPE merge selection is not SQL-expressible ->
    rows-only; each stage's own determinism/oracle coverage stands in
    (bpe_vocab_train, sequence_packing)."""
    from ..operators import bpe as BP

    docs = load_table(spark, sf_dir, "documents")
    merges, dropped = BP.train_bpe(docs, num_merges=48, max_words=100_000)
    enc = BP.bpe_encode(docs, merges, out_col="n_bpe")
    with_counts = enc.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.col("n_bpe").cast("long").alias("n_tok"),
    )
    packed = T.pack_token_bins(with_counts, "n_tok", "shard", "doc_id", 500)
    return packed.withColumn("dropped_words", F.lit(int(dropped)).cast("long"))

@query("streaming_substring_stats")
def streaming_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SUBSTRING-level dedup (streaming/substring.py) driven
    over the documents fixture as two arrival batches: the first half's
    distinct gram hashes are registered into the bucket-partitioned gram
    store, then the second half arrives and each new doc is scored
    against its own batch AND the store.  Returns the batch operator's
    exact per-doc column contract ``(doc_id, n_windows, n_grams,
    n_dup_grams, dup_gram_ppm)`` plus a constant ``batch_diff_rows``
    column: a fresh SINGLE-batch run over the whole corpus bag-diffed
    against ``dedup.ngram_dup_stats`` — the oracle-anchored
    single-batch == batch-operator pin made driver-visible (VERDICT r7
    next-round #5).  foreachBatch state-table pattern -> rows-only."""
    from ..streaming import substring as SB

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    tmp = _gallery_scratch("substr_q_")
    gram_d, s_d = f"{tmp}/grams", f"{tmp}/stats"
    SB.detect_and_register(
        docs.filter(F.col("doc_id") <= mid), gram_d, s_d, n=8
    )
    SB.detect_and_register(
        docs.filter(F.col("doc_id") > mid), gram_d, s_d, n=8
    )
    SB.detect_and_register(docs, f"{tmp}/grams1", f"{tmp}/stats1", n=8)
    cols = [
        "doc_id", "n_windows", "n_grams", "n_dup_grams", "dup_gram_ppm",
    ]
    diff = _bag_diff_count(
        spark.read.parquet(f"{tmp}/stats1"),
        D.ngram_dup_stats(docs, n=8),
        cols,
    )
    return (
        _lazy_parquet_or_empty(
            spark, s_d,
            "doc_id bigint, n_windows bigint, n_grams bigint,"
            " n_dup_grams bigint, dup_gram_ppm bigint",
        )
        .withColumn("batch_diff_rows", F.lit(int(diff)).cast("long"))
        .orderBy("doc_id")
    )

@query("streaming_substring_bloom")
def streaming_substring_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-MEMORY substring-dedup stream (r07,
    streaming/substring.bloom_substring_stream): history stays in
    gk-sorted on-disk runs, a memory-capped Bloom bitmap (built once per
    session, broadcast) screens batch grams, and only the sparse
    positive set is verified by parquet row-group point lookups —
    per-batch wall and executor memory bounded regardless of corpus
    size.
    Driven over the documents fixture split into two sessions so the
    second session exercises the Bloom + point-lookup path (and, since
    r08, the incremental artifact reconcile: the second session folds
    only the first session's epochs — streaming/bloomstore.py);
    rows-only, with false-positive exactness, kill/resume exactly-once,
    artifact persistence, and the per-bucket memory budget pinned in
    pytest (tests/test_streaming.py::TestBloomSubstring /
    TestBloomArtifacts).  The output carries a constant
    ``batch_diff_rows`` column — the two-session stream result
    bag-diffed against the store-scan reference form
    (``detect_and_register``, itself oracle-anchored) driven at the
    SAME split — the pytest equivalence pin made driver-visible
    (VERDICT r7 next-round #5)."""
    from ..streaming import substring as SB

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    tmp = _gallery_scratch("substr_bloom_q_")
    src = f"{tmp}/src"
    gram_d, s_d, ckpt = f"{tmp}/grams", f"{tmp}/stats", f"{tmp}/ckpt"
    docs.filter(F.col("doc_id") <= mid).write.mode("append").parquet(src)
    q = SB.bloom_substring_stream(
        spark, src, "doc_id long, text string", gram_d, s_d, ckpt, n=8
    )
    q.awaitTermination()
    docs.filter(F.col("doc_id") > mid).write.mode("append").parquet(src)
    q = SB.bloom_substring_stream(
        spark, src, "doc_id long, text string", gram_d, s_d, ckpt, n=8
    )
    q.awaitTermination()
    stream = _lazy_parquet_or_empty(
        spark, s_d,
        "doc_id bigint, n_windows bigint, n_grams bigint,"
        " n_dup_grams bigint, dup_gram_ppm bigint",
    ).drop("epoch")
    SB.detect_and_register(
        docs.filter(F.col("doc_id") <= mid), f"{tmp}/tg", f"{tmp}/ts", n=8
    )
    SB.detect_and_register(
        docs.filter(F.col("doc_id") > mid), f"{tmp}/tg", f"{tmp}/ts", n=8
    )
    cols = [
        "doc_id", "n_windows", "n_grams", "n_dup_grams", "dup_gram_ppm",
    ]
    diff = _bag_diff_count(
        stream, spark.read.parquet(f"{tmp}/ts"), cols
    )
    return (
        stream.withColumn(
            "batch_diff_rows", F.lit(int(diff)).cast("long")
        )
        .orderBy("doc_id")
    )


@query(
    "leakage_safe_split",
    r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
elig AS (SELECT e.doc_id, e.s FROM ex e JOIN dfreq d ON e.s = d.s
         WHERE d.df <= 5),
na AS (SELECT doc_id, count(*) AS n_sh FROM elig GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM elig a JOIN elig b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN na x ON c.id_a = x.doc_id
  JOIN na y ON c.id_b = y.doc_id
  WHERE CAST(c.inter AS DOUBLE) / (x.n_sh + y.n_sh - c.inter) >= 0.8),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
comp AS (SELECT a AS node, least(a, min(b)) AS grp FROM reach GROUP BY a),
rep AS (
  SELECT d.doc_id, coalesce(comp.grp, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp ON comp.node = d.doc_id),
h AS (
  SELECT doc_id, cluster_rep,
         (((cluster_rep % 1000003) * 2654435761
           + (cluster_rep // 1000003) * 97) % 4294967296) % 100 AS pct
  FROM rep)
SELECT doc_id, CAST(cluster_rep AS BIGINT) AS cluster_rep,
       CASE WHEN pct < 90 THEN 'train'
            WHEN pct < 95 THEN 'validation'
            ELSE 'test' END AS split
FROM h ORDER BY doc_id
""",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split (SURVEY.md §2B B21,
    operators/dedup.leakage_safe_split): near-dup connected components
    never straddle the split boundary — the contamination guard a
    doc-level split (``dataset_split_shuffle``) lacks.  Same df-capped
    Jaccard pair graph and recursive-CTE closure as ``dedup_clusters``,
    same multiplicative key-hash as ``dataset_split_shuffle``, applied to
    the component REPRESENTATIVE; singletons degrade to the doc-level
    split exactly.  All-integer + string output -> bit-exact oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return D.leakage_safe_split(docs, "text", "doc_id").orderBy("doc_id")


@query(
    "curation_v2_pipeline",
    r"""
WITH RECURSIVE tok AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS toks,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS ltoks
  FROM documents),
gm AS (
  SELECT doc_id, lang, text, toks,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS chars,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
              AS BIGINT) AS alpha,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS syms,
         CAST(list_contains(ltoks, 'the')::int + list_contains(ltoks, 'be')::int
            + list_contains(ltoks, 'to')::int + list_contains(ltoks, 'of')::int
            + list_contains(ltoks, 'and')::int + list_contains(ltoks, 'that')::int
            + list_contains(ltoks, 'have')::int + list_contains(ltoks, 'with')::int
            AS INTEGER) AS n_stops
  FROM tok),
g1 AS MATERIALIZED (
  SELECT doc_id, lang, text, toks, n_words
  FROM gm
  WHERE (n_words BETWEEN 50 AND 100000)
    AND (CASE WHEN n_words > 0 THEN (chars * 1000000) // n_words ELSE 0 END
         BETWEEN 3000000 AND 10000000)
    AND (CASE WHEN n_words > 0 THEN (alpha * 1000000) // n_words ELSE 0 END
         >= 800000)
    AND (CASE WHEN n_words > 0 THEN (syms * 1000000) // n_words ELSE 0 END
         <= 100000)
    AND (n_stops >= 0)),
u1 AS (SELECT doc_id, unnest(toks) AS token FROM g1),
tf1 AS (SELECT doc_id, token, count(*) AS tf FROM u1 GROUP BY 1, 2),
fr1 AS (SELECT token, sum(tf) AS freq FROM tf1 GROUP BY token),
to1 AS (SELECT sum(freq) AS total FROM fr1),
pe1 AS (
  SELECT tf1.doc_id, sum(tf1.tf) AS n_tokens,
         sum(tf1.tf * (length(bin(CAST(t.total // f.freq AS BIGINT))) - 1))
           AS bits
  FROM tf1 JOIN fr1 f USING (token) CROSS JOIN to1 t
  GROUP BY tf1.doc_id),
sc AS (
  SELECT g.doc_id,
         CAST(CASE WHEN coalesce(p.n_tokens, 0) > 0
              THEN (p.bits * 1000000) // p.n_tokens ELSE 0 END AS BIGINT)
           AS ppm
  FROM g1 g LEFT JOIN pe1 p ON g.doc_id = p.doc_id),
hh AS (SELECT ppm // 1000 AS m, count(*) AS c FROM sc GROUP BY 1),
cu AS (SELECT m, sum(c) OVER (ORDER BY m) AS cs FROM hh),
nn AS (SELECT count(*) AS n FROM sc),
th AS (
  SELECT min(CASE WHEN cs >= (n + 2) // 3 THEN m END) AS t1,
         min(CASE WHEN cs >= (2 * n + 2) // 3 THEN m END) AS t2
  FROM cu, nn),
g2p AS (
  SELECT g.doc_id, g.lang, g.text, g.toks, g.n_words,
         sc.ppm AS bits_per_token_ppm,
         CASE WHEN sc.ppm // 1000 <= th.t1 THEN 'head'
              WHEN sc.ppm // 1000 <= th.t2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM g1 g JOIN sc ON g.doc_id = sc.doc_id CROSS JOIN th),
g2 AS MATERIALIZED (SELECT * FROM g2p WHERE bucket <> 'tail'),
ek AS (
  SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS exact_dups
  FROM g2
  GROUP BY regexp_replace(replace(text, chr(10), ' '), '\s{2,}', ' ', 'g')),
kept AS MATERIALIZED (
  SELECT g.doc_id, g.lang, g.text, g.toks, g.n_words, g.bits_per_token_ppm,
         g.bucket, k.exact_dups
  FROM g2 g JOIN ek k USING (doc_id)),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM kept),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
elig AS MATERIALIZED (SELECT e.doc_id, e.s FROM ex e JOIN dfreq d ON e.s = d.s
         WHERE d.df <= 5),
na AS (SELECT doc_id, count(*) AS n_sh FROM elig GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM elig a JOIN elig b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN na x ON c.id_a = x.doc_id
  JOIN na y ON c.id_b = y.doc_id
  WHERE CAST(c.inter AS DOUBLE) / (x.n_sh + y.n_sh - c.inter) >= 0.8),
und AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION SELECT id_b, id_a FROM prs),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
comp AS (SELECT a AS node, least(a, min(b)) AS grp FROM reach GROUP BY a),
rep AS (
  SELECT k.doc_id, coalesce(comp.grp, k.doc_id) AS cluster_rep
  FROM kept k LEFT JOIN comp ON comp.node = k.doc_id),
asg AS (
  SELECT doc_id, cluster_rep,
         CASE WHEN (((cluster_rep % 1000003) * 2654435761
                     + (cluster_rep // 1000003) * 97) % 4294967296) % 100 < 90
              THEN 'train'
              WHEN (((cluster_rep % 1000003) * 2654435761
                     + (cluster_rep // 1000003) * 97) % 4294967296) % 100 < 95
              THEN 'validation'
              ELSE 'test' END AS split
  FROM rep),
cs2 AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS near_dups
        FROM asg GROUP BY cluster_rep),
surv AS MATERIALIZED (
  SELECT k.doc_id, k.lang, k.text, k.toks, k.n_words, k.bits_per_token_ppm,
         k.bucket, k.exact_dups, c.near_dups, a.split
  FROM kept k JOIN asg a USING (doc_id)
  JOIN cs2 c ON a.cluster_rep = c.cluster_rep
  WHERE k.doc_id = a.cluster_rep),
fe AS (
  SELECT doc_id, lang,
         unnest(toks || list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS f
  FROM surv),
tf2 AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 1024 AS b,
         count(*) AS tf
  FROM fe GROUP BY 1, 2, 3),
bu AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS ct,
         sum(tf) AS cs
  FROM tf2 GROUP BY b),
to2 AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM bu),
de AS (
  SELECT b,
         (length(bin(CAST((ts + 1024) // (cs + 1) AS BIGINT))) - 1)
       - (length(bin(CAST((tt + 1024) // (ct + 1) AS BIGINT))) - 1) AS d
  FROM bu CROSS JOIN to2),
pe2 AS (
  SELECT tf2.doc_id, sum(tf2.tf) AS n_feats, sum(tf2.tf * de.d) AS score_bits
  FROM tf2 JOIN de USING (b) GROUP BY tf2.doc_id),
sc2 AS (
  SELECT s.doc_id,
         CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
         CAST(coalesce(p.score_bits, 0) AS BIGINT) AS score_bits,
         CAST(CASE WHEN coalesce(p.n_feats, 0) > 0
              THEN floor(CAST(p.score_bits AS DOUBLE) * 1000.0
                         / CAST(p.n_feats AS DOUBLE))
              ELSE 0 END AS BIGINT) AS mean_milli
  FROM surv s LEFT JOIN pe2 p USING (doc_id))
SELECT s.doc_id, s.lang, s.n_words, s.bits_per_token_ppm, s.bucket,
       s.exact_dups, CAST(0 AS BIGINT) AS stripped_tokens,
       s.near_dups, s.split,
       c.n_feats, c.score_bits, c.mean_milli,
       (row_number() OVER (ORDER BY c.mean_milli DESC, s.doc_id ASC) <= 100)
         AS selected
FROM surv s JOIN sc2 c USING (doc_id)
ORDER BY s.doc_id
""",
)
def curation_v2_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED pretraining-data curation run (VERDICT r9 next-round
    #1; operators/dedup.curate_corpus_v2): Gopher quality gate ->
    CCNet perplexity terciles (keep head+middle) -> exact dedup ->
    near-dup pair graph computed ONCE and consumed by BOTH the
    leakage-safe split and the near-dup drop -> DSIR top-k selection.
    Every stage is an individually-oracle-verified operator
    (gopher_quality_flags, ccnet_perplexity_buckets, dedup_exact,
    jaccard_similar_pairs, leakage_safe_split, dsir_select); THIS entry
    verifies their composition end-to-end against the chained-CTE DuckDB
    restatement — stage boundaries (which docs each gate passes to the
    next stage) are part of what the hash checks.

    Reference seed: the ingest dataflow is one fixed pipeline
    (Function.java:85-176 — detect -> parse -> normalize -> chunk ->
    embed -> insert); this is the same fixed-pipeline property at
    corpus-curation scale.

    ``min_stops=0``: the driver fixtures are synthetic multilingual
    token soup with ZERO English function words (measured: no document
    at any sf contains 2 Gopher stop words), so the faithful stop-word
    rule would keep nothing and make every downstream stage vacuous.
    The other four Gopher rules run live (the word-count bound alone
    gates ~45% of the fixture); the full conjunction stays
    oracle-verified in ``gopher_quality_flags`` — and
    ``curation_v3_pipeline`` runs the stop-word rule LIVE in composition
    over a deterministic stop-word overlay."""
    docs = load_table(spark, sf_dir, "documents")
    return D.curate_corpus_v2(docs, min_stops=0).orderBy("doc_id")


_V3_OVERLAY = "the of and that have with "


@query(
    "curation_v3_pipeline",
    r"""
WITH RECURSIVE dox AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 2 = 0
              THEN 'the of and that have with ' || text
              ELSE text END AS text
  FROM documents),
tok AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS toks,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS ltoks
  FROM dox),
gm AS (
  SELECT doc_id, lang, text, toks,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS chars,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
              AS BIGINT) AS alpha,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS syms,
         CAST(list_contains(ltoks, 'the')::int + list_contains(ltoks, 'be')::int
            + list_contains(ltoks, 'to')::int + list_contains(ltoks, 'of')::int
            + list_contains(ltoks, 'and')::int + list_contains(ltoks, 'that')::int
            + list_contains(ltoks, 'have')::int + list_contains(ltoks, 'with')::int
            AS INTEGER) AS n_stops
  FROM tok),
g1 AS MATERIALIZED (
  SELECT doc_id, lang, text, toks, n_words
  FROM gm
  WHERE (n_words BETWEEN 50 AND 100000)
    AND (CASE WHEN n_words > 0 THEN (chars * 1000000) // n_words ELSE 0 END
         BETWEEN 3000000 AND 10000000)
    AND (CASE WHEN n_words > 0 THEN (alpha * 1000000) // n_words ELSE 0 END
         >= 800000)
    AND (CASE WHEN n_words > 0 THEN (syms * 1000000) // n_words ELSE 0 END
         <= 100000)
    AND (n_stops >= 2)),
u1 AS (SELECT doc_id, unnest(toks) AS token FROM g1),
tf1 AS (SELECT doc_id, token, count(*) AS tf FROM u1 GROUP BY 1, 2),
fr1 AS (SELECT token, sum(tf) AS freq FROM tf1 GROUP BY token),
to1 AS (SELECT sum(freq) AS total FROM fr1),
pe1 AS (
  SELECT tf1.doc_id, sum(tf1.tf) AS n_tokens,
         sum(tf1.tf * (length(bin(CAST(t.total // f.freq AS BIGINT))) - 1))
           AS bits
  FROM tf1 JOIN fr1 f USING (token) CROSS JOIN to1 t
  GROUP BY tf1.doc_id),
sc AS (
  SELECT g.doc_id,
         CAST(CASE WHEN coalesce(p.n_tokens, 0) > 0
              THEN (p.bits * 1000000) // p.n_tokens ELSE 0 END AS BIGINT)
           AS ppm
  FROM g1 g LEFT JOIN pe1 p ON g.doc_id = p.doc_id),
hh AS (SELECT ppm // 1000 AS m, count(*) AS c FROM sc GROUP BY 1),
cu AS (SELECT m, sum(c) OVER (ORDER BY m) AS cs FROM hh),
nn AS (SELECT count(*) AS n FROM sc),
th AS (
  SELECT min(CASE WHEN cs >= (n + 2) // 3 THEN m END) AS t1,
         min(CASE WHEN cs >= (2 * n + 2) // 3 THEN m END) AS t2
  FROM cu, nn),
g2p AS (
  SELECT g.doc_id, g.lang, g.text, g.toks, g.n_words,
         sc.ppm AS bits_per_token_ppm,
         CASE WHEN sc.ppm // 1000 <= th.t1 THEN 'head'
              WHEN sc.ppm // 1000 <= th.t2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM g1 g JOIN sc ON g.doc_id = sc.doc_id CROSS JOIN th),
g2 AS MATERIALIZED (SELECT * FROM g2p WHERE bucket <> 'tail'),
ek AS (
  SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS exact_dups
  FROM g2
  GROUP BY regexp_replace(replace(text, chr(10), ' '), '\s{2,}', ' ', 'g')),
kept AS MATERIALIZED (
  SELECT g.doc_id, g.lang, g.toks, g.bits_per_token_ppm,
         g.bucket, k.exact_dups
  FROM g2 g JOIN ek k USING (doc_id)),
wnd AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
           i -> struct_pack(pos := i,
                            gram := array_to_string(toks[i:i+7], ' '))) AS wins
  FROM kept),
oc2 AS (
  SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram
  FROM (SELECT doc_id, unnest(wins) AS u FROM wnd)),
dup2 AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM oc2)
  GROUP BY gram HAVING count(*) >= 2),
st2 AS (
  SELECT o.doc_id, list_sort(list(o.pos)) AS starts
  FROM oc2 o JOIN dup2 d ON o.gram = d.gram GROUP BY o.doc_id),
kp AS (
  SELECT k.doc_id,
         list_filter(range(1, len(k.toks) + 1),
           j -> len(list_filter(coalesce(s.starts, []),
                                st -> j >= st AND j <= st + 7)) = 0) AS keep
  FROM kept k LEFT JOIN st2 s ON k.doc_id = s.doc_id),
ks AS MATERIALIZED (
  SELECT k.doc_id, k.lang,
         list_transform(p.keep, j -> k.toks[j]) AS ct,
         CAST(len(p.keep) AS BIGINT) AS n_words,
         k.bits_per_token_ppm, k.bucket, k.exact_dups,
         CAST(len(k.toks) - len(p.keep) AS BIGINT) AS stripped_tokens
  FROM kept k JOIN kp p USING (doc_id)),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(ct) - 2, 0) + 1),
                       i -> ct[i] || ' ' || ct[i+1] || ' ' || ct[i+2])) AS shingles
  FROM ks),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
elig AS MATERIALIZED (SELECT e.doc_id, e.s FROM ex e JOIN dfreq d ON e.s = d.s
         WHERE d.df <= 5),
na AS (SELECT doc_id, count(*) AS n_sh FROM elig GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM elig a JOIN elig b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN na x ON c.id_a = x.doc_id
  JOIN na y ON c.id_b = y.doc_id
  WHERE CAST(c.inter AS DOUBLE) / (x.n_sh + y.n_sh - c.inter) >= 0.8),
und AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION SELECT id_b, id_a FROM prs),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
comp AS (SELECT a AS node, least(a, min(b)) AS grp FROM reach GROUP BY a),
rep AS (
  SELECT k.doc_id, coalesce(comp.grp, k.doc_id) AS cluster_rep
  FROM ks k LEFT JOIN comp ON comp.node = k.doc_id),
asg AS (
  SELECT doc_id, cluster_rep,
         CASE WHEN (((cluster_rep % 1000003) * 2654435761
                     + (cluster_rep // 1000003) * 97) % 4294967296) % 100 < 90
              THEN 'train'
              WHEN (((cluster_rep % 1000003) * 2654435761
                     + (cluster_rep // 1000003) * 97) % 4294967296) % 100 < 95
              THEN 'validation'
              ELSE 'test' END AS split
  FROM rep),
cs2 AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS near_dups
        FROM asg GROUP BY cluster_rep),
surv AS MATERIALIZED (
  SELECT k.doc_id, k.lang, k.ct, k.n_words, k.bits_per_token_ppm,
         k.bucket, k.exact_dups, k.stripped_tokens, c.near_dups, a.split
  FROM ks k JOIN asg a USING (doc_id)
  JOIN cs2 c ON a.cluster_rep = c.cluster_rep
  WHERE k.doc_id = a.cluster_rep),
fe AS (
  SELECT doc_id, lang,
         unnest(ct || list_transform(range(1, len(ct)),
                                     i -> ct[i] || ' ' || ct[i+1])) AS f
  FROM surv),
tf2 AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 1024 AS b,
         count(*) AS tf
  FROM fe GROUP BY 1, 2, 3),
bu AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS ct,
         sum(tf) AS cs
  FROM tf2 GROUP BY b),
to2 AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM bu),
de AS (
  SELECT b,
         (length(bin(CAST((ts + 1024) // (cs + 1) AS BIGINT))) - 1)
       - (length(bin(CAST((tt + 1024) // (ct + 1) AS BIGINT))) - 1) AS d
  FROM bu CROSS JOIN to2),
pe2 AS (
  SELECT tf2.doc_id, sum(tf2.tf) AS n_feats, sum(tf2.tf * de.d) AS score_bits
  FROM tf2 JOIN de USING (b) GROUP BY tf2.doc_id),
sc2 AS (
  SELECT s.doc_id,
         CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
         CAST(coalesce(p.score_bits, 0) AS BIGINT) AS score_bits,
         CAST(CASE WHEN coalesce(p.n_feats, 0) > 0
              THEN floor(CAST(p.score_bits AS DOUBLE) * 1000.0
                         / CAST(p.n_feats AS DOUBLE))
              ELSE 0 END AS BIGINT) AS mean_milli
  FROM surv s LEFT JOIN pe2 p USING (doc_id))
SELECT s.doc_id, s.lang, s.n_words, s.bits_per_token_ppm, s.bucket,
       s.exact_dups, s.stripped_tokens, s.near_dups, s.split,
       c.n_feats, c.score_bits, c.mean_milli,
       (row_number() OVER (ORDER BY c.mean_milli DESC, s.doc_id ASC) <= 100)
         AS selected
FROM surv s JOIN sc2 c USING (doc_id)
ORDER BY s.doc_id
""",
)
def curation_v3_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation_v2 with the two stages the r10 verdict named still
    missing from the COMPOSITION, both live (VERDICT r10 #1 and #8):

    - **Substring span strip** (Lee et al. 2022; ``strip_spans=True``):
      between exact dedup and the pair graph, every token covered by a
      corpus-duplicated word 8-gram window is cut, ``n_words`` is
      recounted over the cleaned text, and the near-dup shingles /
      leakage split / DSIR features all operate on the CLEANED text.
      The chained-CTE oracle verifies the stage's BOUNDARY bit-for-bit
      (``stripped_tokens`` per doc, plus every downstream value that
      shifts when the text changes).
    - **Stop-word gate live** (``min_stops=2``): the fixtures contain
      zero English function words, so the composed v2 oracle runs the
      stop rule vacuously.  Here a deterministic overlay prepends the
      six Gopher stop words ``'the of and that have with '`` to every
      EVEN doc_id (same CASE expression on both engines), so the
      ``n_gopher_stops >= 2`` rule gates out every odd-id document IN
      COMPOSITION — all five Gopher rules are now exercised end-to-end.

    The overlay prefix is 6 tokens, shorter than the 8-gram window, so
    no strip window lies wholly inside it — stripped spans always carry
    real document text (near-dup boilerplate), which is what makes the
    strip stage non-vacuous on the fixtures (verified: >0 docs with
    ``stripped_tokens > 0`` at sf0.001/0.01).

    Kept as a SIBLING of ``curation_v2_pipeline`` (not a replacement) so
    the v2 bench row stays comparable across rounds; the pipeline-bench
    suite gains this as a NEW member per the suite-growth rule."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(_V3_OVERLAY), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return D.curate_corpus_v2(
        docs, min_stops=2, strip_spans=True
    ).orderBy("doc_id")
