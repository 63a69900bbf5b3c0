"""Round-2 training-data operators: PII redaction, repetition signals,
sequence packing (operators/textstats.py).

The oracle parity of the three driver queries is checked by
scripts/check_correctness.py; these tests pin the operator semantics on
handcrafted rows where the expected values are computable by eye.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    textstats as T,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "reach me at jane.doe+spam@mail.example.org or 192.168.0.1 now"),
        (2, "call +1-555-014-2391 twice +44-555-014-2391 ok"),
        (3, "no pii here at all"),
        (4, "two mails a@b.io c.d@e.f.museum and ip 10.0.0.7"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestRedactPII:
    def test_counts_and_masks(self, docs):
        out = {r["doc_id"]: r for r in T.redact_pii(docs).collect()}
        assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (1, 1, 0)
        assert "<EMAIL>" in out[1]["redacted"]
        assert "<IP>" in out[1]["redacted"]
        assert "jane" not in out[1]["redacted"]
        assert (out[2]["n_phone"], out[2]["n_email"]) == (2, 0)
        assert out[2]["redacted"].count("<PHONE>") == 2
        assert out[3]["redacted"] == "no pii here at all"
        assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_phone"]) == (0, 0, 0)
        assert out[4]["n_email"] == 2 and out[4]["n_ip"] == 1

    def test_clean_text_unchanged(self, docs):
        clean = T.redact_pii(docs.filter("doc_id = 3"))
        row = clean.collect()[0]
        assert row["redacted"] == "no pii here at all"


class TestRepetitionSignals:
    def test_handcrafted_fractions(self, spark):
        rows = [
            # 4x the same token: top=1.0, dup=3/4, bigrams "a a" x3 -> dup 2/3
            (1, "a a a a"),
            # all distinct: top=1/4, dup=0, bigrams all distinct -> 0
            (2, "w x y z"),
            # empty -> all zeros
            (3, "   "),
            # case folding: "The the" counts as one token twice
            (4, "The the"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in T.repetition_signals(df).collect()}
        # exact BIGINT ppm (floor division), never formatted doubles
        assert out[1]["n_tokens"] == 4
        assert out[1]["top_token_ppm"] == 1_000_000
        assert out[1]["dup_token_ppm"] == 750_000
        assert out[1]["dup_bigram_ppm"] == 666_666  # floor(2e6 / 3)
        assert out[2]["top_token_ppm"] == 250_000
        assert out[2]["dup_token_ppm"] == 0
        assert out[2]["dup_bigram_ppm"] == 0
        assert out[3]["n_tokens"] == 0
        assert out[3]["top_token_ppm"] == 0
        assert out[4]["top_token_ppm"] == 1_000_000

    def test_vertical_tab_matches_explicit_class(self, spark):
        # Java \s includes U+000B; RE2's does not.  The operator must split
        # on the explicit class so a VT-separated doc tokenizes identically
        # to what the DuckDB oracle computes (ADVICE r02).
        df = spark.createDataFrame(
            [(1, "a\x0bb a")], "doc_id bigint, text string"
        )
        row = T.repetition_signals(df).collect()[0]
        assert row["n_tokens"] == 3  # VT is a separator on both engines
        assert row["top_token_ppm"] == 666_666


class TestPackTokenBins:
    def test_concat_then_chop(self, spark):
        # shard 0: token counts 300, 300, 300 with capacity 512:
        #   doc 0 starts at 0   -> bin 0
        #   doc 2 starts at 300 -> bin 0 (straddles the 512 boundary)
        #   doc 4 starts at 600 -> bin 1
        rows = [(0, 0, 300), (2, 0, 300), (4, 0, 300), (1, 1, 1000), (3, 1, 24)]
        df = spark.createDataFrame(rows, "doc_id bigint, shard bigint, n_tok bigint")
        out = {
            (r["shard"], r["bin"]): r
            for r in T.pack_token_bins(df, "n_tok", "shard", "doc_id", 512).collect()
        }
        assert out[(0, 0)]["n_docs"] == 2 and out[(0, 0)]["tokens"] == 600
        assert out[(0, 0)]["fill_ratio"] == pytest.approx(600 / 512)
        assert out[(0, 1)]["n_docs"] == 1 and out[(0, 1)]["first_doc"] == 4
        # shard 1: doc 1 (1000 tokens) fills bins 0-1; doc 3 starts at 1000 -> bin 1
        assert out[(1, 0)]["tokens"] == 1000
        assert out[(1, 1)]["tokens"] == 24 and out[(1, 1)]["first_doc"] == 3

    def test_token_conservation(self, spark):
        import random

        rng = random.Random(7)
        rows = [(i, i % 4, rng.randint(1, 900)) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id bigint, shard bigint, n_tok bigint")
        out = T.pack_token_bins(df, "n_tok", "shard", "doc_id", 256)
        got = out.agg(
            F.sum("tokens").alias("tok"), F.sum("n_docs").alias("docs")
        ).collect()[0]
        assert got["tok"] == sum(r[2] for r in rows)
        assert got["docs"] == 200
        # bins are contiguous per shard and starts are consistent: every
        # bin index must be reachable from the running sum
        for shard in range(4):
            bins = sorted(
                r["bin"] for r in out.filter(F.col("shard") == shard).collect()
            )
            # strictly increasing, and bin 0 always present
            assert bins[0] == 0
            assert all(b2 > b1 for b1, b2 in zip(bins, bins[1:]))


class TestMixtureSample:
    def test_mixture_converges_and_excludes(self, spark):
        import random

        rng = random.Random(3)
        rows = [
            (i, ["en", "de", "xx"][i % 3], rng.randint(50, 150))
            for i in range(3000)
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string, ntok bigint")
        out = T.mixture_sample(
            df, {"en": 3, "de": 1}, budget=40000, token_count_col="ntok"
        )
        got = {r["lang"]: r for r in out.collect()}
        # spec-absent domain dropped entirely
        assert "xx" not in got
        # kept tokens approach budget * weight share (hash sampling is
        # uniform; 3:1 split of 40k => 30k/10k with sampling noise)
        assert got["en"]["kept_tokens"] == pytest.approx(30000, rel=0.15)
        assert got["de"]["kept_tokens"] == pytest.approx(10000, rel=0.15)
        # ppm shares sum to ~1e6 and reflect the 3:1 spec
        ppm = sum(r["kept_ppm"] for r in got.values())
        assert 999998 <= ppm <= 1000000
        assert got["en"]["kept_ppm"] == pytest.approx(750000, rel=0.1)
        # kept is a subset: never more docs/tokens than the domain holds
        for r in got.values():
            assert r["kept_docs"] <= r["domain_docs"]
            assert r["kept_tokens"] <= r["domain_tokens"]

    def test_rate_caps_at_one(self, spark):
        rows = [(i, "en", 10) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string, ntok bigint")
        out = T.mixture_sample(df, {"en": 1}, budget=10**9, token_count_col="ntok")
        row = out.collect()[0]
        # budget >> corpus: rate caps at 1.0, everything kept
        assert row["kept_docs"] == 50 and row["kept_tokens"] == 500
        assert row["kept_ppm"] == 1000000


class TestDatasetSplitShuffle:
    def test_ratios_determinism_and_partition_invariance(self, spark, sf_dir):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
            queries as Q,
        )

        out = Q.QUERIES["dataset_split_shuffle"](spark, sf_dir)
        rows = out.collect()
        n = len(rows)
        by_split = {}
        for r in rows:
            by_split.setdefault(r["split"], []).append(r)
        # hash split tracks 90/5/5 within sampling noise on 500 docs
        assert by_split["train"] and len(by_split["train"]) / n == pytest.approx(
            0.90, abs=0.05
        )
        assert len(by_split["validation"]) / n == pytest.approx(0.05, abs=0.035)
        assert len(by_split["test"]) / n == pytest.approx(0.05, abs=0.035)
        # every doc exactly once
        assert len({r["doc_id"] for r in rows}) == n
        # assignment is a pure function of doc_id: a repartitioned rerun
        # produces the identical (doc_id -> split, shuffle_key) mapping
        again = {
            r["doc_id"]: (r["split"], r["shuffle_key"])
            for r in Q.QUERIES["dataset_split_shuffle"](spark, sf_dir)
            .repartition(13)
            .collect()
        }
        assert {r["doc_id"]: (r["split"], r["shuffle_key"]) for r in rows} == again

    def test_hash_bucket_uniformity(self, spark):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators.textstats import (
            hash_bucket,
        )

        df = spark.range(0, 20_000).select(F.col("id").alias("doc_id"))
        counts = (
            df.select(hash_bucket("doc_id", 10).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        assert len(counts) == 10
        for r in counts:
            # each decile within 10% of expected 2000
            assert r["count"] == pytest.approx(2000, rel=0.1)


class TestUnigramSurprisal:
    def test_handcrafted_bits(self, spark):
        """Whole-bit surprisal against hand arithmetic: corpus = 8 tokens
        total; 'common' appears 4x -> total/freq = 2 -> 1 bit;
        'rare' 1x -> 8 -> 3 bits; 'mid' 2x (as doc text) -> 4 -> 2 bits."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
            textstats as TS,
        )

        docs = [
            (0, "common common common common"),  # 4 * 1 bit = 4
            (1, "mid mid rare"),                 # 2*2 + 1*3 = 7
            (2, "rare2"),                        # 1 * 3 bits = 3
            (3, ""),                             # empty
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: r
            for r in TS.unigram_surprisal(df).collect()
        }
        assert got[0]["surprisal_bits"] == 4 and got[0]["n_tokens"] == 4
        assert got[1]["surprisal_bits"] == 7 and got[1]["n_tokens"] == 3
        assert got[2]["surprisal_bits"] == 3
        assert got[3]["n_tokens"] == 0 and got[3]["bits_per_token_ppm"] == 0
        assert got[0]["bits_per_token_ppm"] == 1_000_000
        assert got[1]["bits_per_token_ppm"] == 7 * 1_000_000 // 3

    def test_common_vs_rare_tails(self, spark):
        """Boilerplate-only docs score low bits/token; rare-token docs
        score high — the two gate tails order correctly."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
            textstats as TS,
        )

        boiler = " ".join(["the"] * 20)
        rare = " ".join(f"zq{i}" for i in range(20))
        filler = [(10 + i, boiler) for i in range(5)]
        df = spark.createDataFrame(
            [(0, boiler), (1, rare)] + filler, "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["bits_per_token_ppm"]
            for r in TS.unigram_surprisal(df).collect()
        }
        assert got[1] > got[0]

    def test_plan_is_native(self, spark):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
            textstats as TS,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.plans import (
            explain as E,
        )

        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        out = TS.unigram_surprisal(df)
        assert E.python_eval_nodes(out) == []
        assert E.has_broadcast_join(out)  # the total-tokens scalar

    def test_partition_invariance(self, spark):
        """Integer bit-sums are exactly associative: any repartitioning
        must produce identical rows (the property that lets the oracle
        hash bit-for-bit with no ordering discipline)."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
            textstats as TS,
        )

        rows = [
            (i, " ".join(f"tok{(i * 7 + j) % 13}" for j in range(12)))
            for i in range(60)
        ]
        df1 = spark.createDataFrame(rows, "doc_id long, text string")
        df8 = df1.repartition(8)
        got1 = sorted(map(tuple, TS.unigram_surprisal(df1).collect()))
        got8 = sorted(map(tuple, TS.unigram_surprisal(df8).collect()))
        assert got1 == got8


def _surprisal_both_arms(df):
    """``unigram_surprisal`` rows under each arm of its vocab-broadcast
    dispatch: the default (broadcast LM) and the tf-first token-keyed
    join, forced by a zero vocab bound."""
    from unittest import mock

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        textstats as TS,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.plans import (
        explain as E,
    )

    out = []
    for bound in (TS.VOCAB_BROADCAST_MAX, 0):
        with mock.patch.object(TS, "VOCAB_BROADCAST_MAX", bound):
            scored = TS.unigram_surprisal(df)
        rows = sorted(map(tuple, scored.collect()))
        out.append((E.plan_signature(scored), rows))
    return out


def test_unigram_surprisal_vocab_arms_agree_on_fixture(spark, sf_dir):
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    (sig_b, broadcast), (sig_j, joined) = _surprisal_both_arms(
        load_table(spark, sf_dir, "documents")
    )
    # the join arm folds (doc, token) counts first: one more aggregate
    assert sig_j["HashAggregate"] > sig_b["HashAggregate"]
    assert broadcast and joined == broadcast


_WORDS = st.sampled_from(["a", "b", "cc", "ddd", "e", "a-b", "Zz"])


@given(st.lists(st.lists(_WORDS, max_size=8), min_size=1, max_size=10))
@settings(max_examples=8, deadline=None)
def test_unigram_surprisal_vocab_arms_agree_on_random_corpora(spark, texts):
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    (_, broadcast), (_, joined) = _surprisal_both_arms(df)
    assert joined == broadcast


def test_surprisal_tercile_buckets_properties(spark, sf_dir):
    """Head/middle/tail are equal thirds up to value ties, ordered by
    score (max(head) <= min(middle) <= ... at milli granularity), and
    every document is assigned exactly once."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        textstats as T,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = T.surprisal_tercile_buckets(docs).collect()
    assert len(out) == docs.count()
    by = {}
    for r in out:
        by.setdefault(r["bucket"], []).append(r["bits_per_token_ppm"] // 1000)
    assert set(by) <= {"head", "middle", "tail"}
    n = len(out)
    # Ordering: buckets are value-disjoint at milli granularity.
    if "head" in by and "middle" in by:
        assert max(by["head"]) < min(by["middle"])
    if "middle" in by and "tail" in by:
        assert max(by["middle"]) < min(by["tail"])
    # Sizes: each cut point is the smallest value whose cumulative count
    # reaches ceil(n/3) / ceil(2n/3) — so head >= ceil(n/3) (ties can
    # only ADD members at the boundary) and head+middle >= ceil(2n/3).
    assert len(by.get("head", [])) >= (n + 2) // 3
    assert len(by.get("head", [])) + len(by.get("middle", [])) >= (2 * n + 2) // 3


def test_gopher_quality_flags_thresholds(spark):
    """Constructed documents on each side of every Gopher rule."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        textstats as T,
    )

    prose = " ".join(
        ["the quick brown fox and that dog have fun with all of them be"] * 5
    )  # 60 words, mean len ~3.5, plenty of stops
    short = "the cat and dog"  # < 50 words
    symbols = " ".join(["x#y"] * 30 + ["the and of be that have with to"])  # symbol-heavy
    nonalpha = " ".join(["1234 5678"] * 30 + ["the of"])  # <80% alpha words
    rows = [(1, prose), (2, short), (3, symbols), (4, nonalpha)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.gopher_quality_flags(docs).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] == 4
    assert out[3]["keep"] is False and out[3]["symbol_word_ppm"] > 100_000
    assert out[4]["keep"] is False and out[4]["alpha_word_ppm"] < 800_000
    # stop-word counting is distinct-presence, lowercased
    assert out[1]["n_gopher_stops"] >= 2
