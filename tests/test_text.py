"""Unit tests pinning the reference's exact text semantics:
normalizer (Function.java:106-107) and chunker (Function.java:214-251).
Pure-Python first (no Spark), then the Spark expression twins.
"""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions.text import (
    MAX_SEPARATE_TOKEN_LENGTH,
    PUNCTUATION,
    normalize_text_py,
    split_text_py,
)


class TestNormalizer:
    def test_newline_to_space(self):
        assert normalize_text_py("a\nb") == "a b"

    def test_collapse_whitespace_runs(self):
        assert normalize_text_py("a  b\t\tc") == "a b c"

    def test_newline_then_collapse_interaction(self):
        # "a \n b": \n->space makes "a   b", then collapse -> "a b"
        assert normalize_text_py("a \n b") == "a b"

    def test_single_spaces_untouched(self):
        assert normalize_text_py("a b c") == "a b c"


class TestChunker:
    """Exact Function.java:214-251 semantics (SURVEY.md §7.5)."""

    def test_short_text_single_chunk(self):
        t = "x" * MAX_SEPARATE_TOKEN_LENGTH
        assert split_text_py(t) == [t]

    def test_7501_no_punct_splits_at_7200(self):
        t = "x" * 7501
        chunks = split_text_py(t)
        assert [len(c) for c in chunks] == [7200, 301]

    def test_punct_at_7500_starts_next_chunk(self):
        # t[7500] = '.', inside the scan window [7201, 7500]
        t = "x" * 7500 + "." + "y" * 100
        chunks = split_text_py(t)
        assert chunks[0] == "x" * 7500
        assert chunks[1] == "." + "y" * 100

    def test_punct_at_7201_found(self):
        t = "x" * 7201 + "." + "y" * 400  # t[7201]='.', len 7602 > 7500
        chunks = split_text_py(t)
        assert len(chunks[0]) == 7201
        assert chunks[1][0] == "."

    def test_punct_at_7200_outside_window(self):
        # t[7200] = '.' is below the scan floor (scan covers 7201..7500) —
        # the '.' must NOT be chosen; forced split at 7200 puts it at the
        # start of the next chunk anyway (same observable result as a find
        # at 7200 would give, but via the fallback path).
        t = "x" * 7200 + "." + "x" * 400
        chunks = split_text_py(t)
        assert [len(c) for c in chunks] == [7200, 401]
        assert chunks[1][0] == "."

    @pytest.mark.parametrize("p", sorted(PUNCTUATION))
    def test_each_punctuation_char(self, p):
        t = "x" * 7300 + p + "y" * 300  # punct at 7300, in window
        chunks = split_text_py(t)
        assert chunks[0] == "x" * 7300
        assert chunks[1].startswith(p)

    def test_multi_chunk_remainder(self):
        t = "x" * 16000
        chunks = split_text_py(t)
        assert [len(c) for c in chunks] == [7200, 7200, 1600]

    def test_empty_text(self):
        assert split_text_py("") == [""]

    @given(
        st.text(
            alphabet=string.ascii_letters + ".。;；!！?？ \n",
            max_size=2000,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_property_lossless_and_bounded(self, t):
        # Small params exercise many splits cheaply; semantics identical.
        chunks = split_text_py(t, max_len=100, floor_delta=30)
        assert "".join(chunks) == t  # no data loss
        assert all(len(c) <= 100 for c in chunks[:-1])
        # every non-final chunk is at least floor-length
        assert all(len(c) >= 70 for c in chunks[:-1])


class TestSparkTwins:
    def test_normalize_expr_matches_python(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions.text import (
            normalize_text,
        )

        docs = spark.createDataFrame(
            [("a \n b",), ("x\n\ny",), ("  lead",), ("tab\t\tsep",)], ["text"]
        )
        rows = docs.select("text", normalize_text("text").alias("n")).collect()
        for r in rows:
            assert r["n"] == normalize_text_py(r["text"])

    @given(
        st.lists(
            st.lists(
                st.sampled_from(
                    ["a", "b", ".", " ", "\t", "\n", "\r", "\r\n", "\x0b",
                     "\x0c", "\x1c", "\x1d", "\x1e", "\x1f", "\x85",
                     "\xa0", "\u2003"]
                ),
                max_size=40,
            ).map("".join),
            min_size=50,
            max_size=200,
        )
    )
    @settings(max_examples=8, deadline=None)
    def test_normalize_three_way(self, spark, texts):
        """Native ``normalize_text`` == ``normalize_text_py`` == the ingest
        kernel (``pipeline.page_chunks``, no split at this max_len) on
        Java-whitespace and Unicode-whitespace characters alike: only runs
        of ``[ \\t\\n\\x0B\\f\\r]`` collapse."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
            pipeline as P,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions.text import (
            normalize_text,
        )

        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        native = {
            r["doc_id"]: r["n"]
            for r in docs.select("doc_id", normalize_text("text").alias("n"))
            .collect()
        }
        pages = [("f.pdf", i, t) for i, t in enumerate(texts)]
        kernel = {
            page: text
            for _, page, _, text in P.page_chunks(pages, 10_000, None)
        }
        for i, t in enumerate(texts):
            assert native[i] == normalize_text_py(t) == kernel[i], repr(t)

    def test_chunk_udf_matches_python(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions.text import (
            chunk_udf,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents").limit(50)
        rows = docs.select(
            "text", chunk_udf(max_len=120, floor_delta=20)(F.col("text")).alias("c")
        ).collect()
        for r in rows:
            assert r["c"] == split_text_py(r["text"], 120, 20)


class TestRollingFingerprint:
    """rolling_fingerprint = Rabin–Karp full hash + min over k-char windows."""

    @staticmethod
    def _poly(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 131 + ord(ch)) % 1_000_000_007
        return h

    def test_matches_python_reference(self, spark):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions.text import (
            rolling_fingerprint,
        )

        texts = ["abcdefghij", "the quick brown fox", "short", "x"]
        df = spark.createDataFrame([(t,) for t in texts], ["text"])
        full, wmin = rolling_fingerprint("text", k=8)
        rows = df.select(
            "text", full.alias("fp_full"), wmin.alias("fp_min")
        ).collect()
        for r in rows:
            assert r["fp_full"] == self._poly(r["text"])
            if len(r["text"]) >= 8:
                expect = min(
                    self._poly(r["text"][i : i + 8])
                    for i in range(len(r["text"]) - 7)
                )
            else:
                expect = self._poly(r["text"])
            assert r["fp_min"] == expect

    def test_shift_invariance_of_min_window(self, spark):
        """A shared window keeps fp_min comparable under prefix insertion —
        the property that makes winnowing-style fingerprints useful where
        the full-text hash breaks."""
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions.text import (
            rolling_fingerprint,
        )

        base = "zqjvkwxyfpb0123 unchanged core content 456mnop"
        shifted = "PREFIX- " + base
        df = spark.createDataFrame([(base,), (shifted,)], ["text"])
        _, wmin = rolling_fingerprint("text", k=8)
        a, b = [r[0] for r in df.select(wmin).collect()]
        # The minimum window of the base text still exists inside the
        # shifted text, so the shifted min can only be <= equal-or-lower.
        assert b <= a


def test_rolling_fingerprint_udf_matches_native(spark):
    """The NumPy pandas-UDF fingerprinter must equal the native
    higher-order-expression form exactly (same Rabin-Karp math), including
    short (<k), exactly-k, and empty texts."""
    import random

    from pyspark.sql import functions as F

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
        text as X,
    )

    rng = random.Random(3)
    texts = ["", "ab", "exactly8", "a" * 7, "a" * 9]
    texts += [
        "".join(rng.choice(string.printable) for _ in range(rng.randint(1, 200)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    full_n, min_n = X.rolling_fingerprint("text", k=8)
    fp = X.rolling_fingerprint_udf(k=8)(F.col("text"))
    rows = df.select(
        full_n.alias("fn"), min_n.alias("mn"),
        fp["fp_full"].alias("fu"), fp["fp_min"].alias("mu"),
    ).collect()
    for r in rows:
        assert r["fn"] == r["fu"] and r["mn"] == r["mu"], r
