"""Text normalization, the reference's exact chunking algorithm, and
text-analysis expressions (token counts, quality scores, language ID,
fingerprints).

Reference semantics reproduced here:

- normalize: ``pageText.replace("\\n", " ")`` then
  ``replaceAll("\\s{2,}", " ")`` (Function.java:106-107).  Note the second
  regex also collapses the spaces the first step inserted.
- chunk: ``splitText(text, 7500)`` (Function.java:214-251): while
  ``len(text) > 7500`` scan indexes 7500 down to 7201 for a punctuation
  char; the chunk is ``text[:i]`` and the punctuation char *starts the next
  chunk* (``substring(0, splitIndex)`` Function.java:220-221); if no
  punctuation is found split at exactly 7200; the final remainder is always
  emitted.  Punctuation set ``{. 。 ; ； ! ！ ? ？}``
  (Function.java:248-251).  Java counts UTF-16 code units, Python counts
  code points — semantics here are defined on code points (documented
  divergence, SURVEY.md §7.4 item 1).

The chunker is pure Python (unit-testable without Spark) wrapped in a UDF
returning ``array<string>`` for ``explode``.  Everything else is native
``pyspark.sql.functions`` so it stays inside whole-stage codegen.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MAX_SEPARATE_TOKEN_LENGTH",
    "SPLIT_SEARCH_FLOOR",
    "PUNCTUATION",
    "normalize_text_py",
    "split_text_py",
    "normalize_text",
    "chunk_udf",
    "token_count",
    "bpe_token_count",
    "BPE_TOKEN_PATTERN",
    "word_tokens",
    "char_count",
    "quality_metrics",
    "language_id",
    "fingerprint64",
    "rolling_fingerprint",
    "rolling_fingerprint_udf",
    "char_codes",
]

# Function.java:40 — MAX_SEPARATE_TOKEN_LENGTH = 7500; findSplitIndex scans
# down to index 7200 (Function.java:230-233).
MAX_SEPARATE_TOKEN_LENGTH = 7500
SPLIT_SEARCH_FLOOR_DELTA = 300  # 7500 - 7200
SPLIT_SEARCH_FLOOR = MAX_SEPARATE_TOKEN_LENGTH - SPLIT_SEARCH_FLOOR_DELTA

# Function.java:248-251 — isPunctuation
PUNCTUATION = {".", "。", ";", "；", "!", "！", "?", "？"}


# ---------------------------------------------------------------------------
# Pure-Python reference semantics (unit-testable, reused inside UDFs)
# ---------------------------------------------------------------------------

# Whitespace is an EXPLICIT class everywhere (never \s): Java regex includes
# U+000B (vertical tab — present in PDF-extracted text) in \s while RE2 (the
# DuckDB oracle engine) does not, so any oracle-compared tokenization built
# on \s+ silently diverges on such input.  Both engines interpret the hex
# escape identically inside a class.  The class is exactly Java's \s;
# Python's \s is Unicode-aware (it also matches U+001C-U+001F, U+0085,
# U+00A0, U+2003, ...), so the Python twins use the class too.
_WS = r" \t\n\r\f\x0B"
WS_RUN = r"[" + _WS + r"]+"
_WS_RUN2_RE = re.compile(r"[" + _WS + r"]{2,}")


def normalize_text_py(text: str) -> str:
    """Function.java:106-107: newline->space, collapse runs of 2+ Java
    whitespace characters."""
    return _WS_RUN2_RE.sub(" ", text.replace("\n", " "))


def _find_split_index(text: str, max_len: int, floor_delta: int) -> int:
    """Function.java:230-245: scan max_len down to max_len-floor_delta+1
    inclusive for a punctuation char; 0 if none found (caller then splits at
    max_len - floor_delta)."""
    lo = max_len - floor_delta  # exclusive lower bound of the scan
    for i in range(max_len, lo, -1):
        if i < len(text) and text[i] in PUNCTUATION:
            return i
    return 0


def split_text_py(
    text: str,
    max_len: int = MAX_SEPARATE_TOKEN_LENGTH,
    floor_delta: int = SPLIT_SEARCH_FLOOR_DELTA,
) -> list[str]:
    """Function.java:214-226 ``splitText``: punctuation-aware chunking.

    The punctuation char found at ``i`` begins the *next* chunk
    (``text[:i]`` is emitted); with no punctuation in the window the split
    is at exactly ``max_len - floor_delta`` (=7200 for reference params —
    the ``splitIndex == 0`` branch at Function.java:241-243 is dead code
    since the scan floor is positive; observable behavior is the
    ``start`` fallback).  The remainder is always appended last.
    """
    # The reference hard-codes (7500, 300); for parameterized max_len the
    # scan window is clamped so the fallback split index stays positive.
    floor_delta = min(floor_delta, max_len - 1)
    chunks: list[str] = []
    while len(text) > max_len:
        i = _find_split_index(text, max_len, floor_delta)
        if i == 0:
            i = max_len - floor_delta
        chunks.append(text[:i])
        text = text[i:]
    chunks.append(text)
    return chunks


# ---------------------------------------------------------------------------
# Spark expressions
# ---------------------------------------------------------------------------

def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(c: Column | str) -> Column:
    """Native-expression twin of :func:`normalize_text_py` — regexp_replace
    runs JVM-side (codegen), no UDF."""
    return F.regexp_replace(
        F.regexp_replace(_col(c), "\n", " "), r"\s{2,}", " "
    )


def chunk_udf(
    max_len: int = MAX_SEPARATE_TOKEN_LENGTH,
    floor_delta: int = SPLIT_SEARCH_FLOOR_DELTA,
):
    """UDF ``string -> array<string>`` with the exact reference chunking.

    Python-side by necessity (imperative backward scan); cheap because it
    runs once per *document*, not per token, and the output feeds
    ``F.explode`` + ``F.posexplode`` for chunk indexes.  Arrow-batched
    (pandas UDF) so the Python boundary is crossed once per batch — the
    per-row logic is still the pinned pure function ``split_text_py``.
    """

    @F.pandas_udf(T.ArrayType(T.StringType(), containsNull=False))
    def _chunk(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [] if t is None else split_text_py(t, max_len, floor_delta)
                for t in texts
            ]
        )

    return _chunk


def word_tokens(c: Column | str) -> Column:
    """Whitespace tokenization with empty tokens dropped (robust to leading/
    trailing/double spaces).  Splits on the explicit ``WS_RUN`` class — see
    the Java-\\s-vs-RE2 note above; every oracle uses the same class."""
    return F.filter(F.split(_col(c), WS_RUN), lambda t: t != "")


def token_count(c: Column | str) -> Column:
    return F.size(word_tokens(c))


def char_count(c: Column | str) -> Column:
    return F.length(_col(c))


# GPT-2-style pretokenizer pattern, minus lookahead (kept to the RE2-safe
# subset so the DuckDB oracle can run the identical pattern): a token is an
# optionally space-prefixed letter run, digit run, or punctuation run, or a
# whitespace run.  Reuses the explicit ``_WS`` class defined above.
BPE_TOKEN_PATTERN = (
    r" ?\p{L}+| ?\p{N}+| ?[^" + _WS + r"\p{L}\p{N}]+|[" + _WS + r"]+"
)


def bpe_token_count(c: Column | str) -> Column:
    """BPE-ish token count (brief training-data ops: "token counting —
    whitespace + a BPE-ish regex").  Approximates a GPT-2 pretokenizer's
    piece count; native regexp so it stays a scan at 100 TB."""
    return F.size(
        F.regexp_extract_all(_col(c), F.lit(BPE_TOKEN_PATTERN), F.lit(0))
    )


def quality_metrics(c: Column | str) -> list[Column]:
    """Heuristic quality-scoring columns for LLM training-data filtering:
    char/token counts, mean token length, punctuation & digit ratios.
    All native expressions; round at the call-site for oracle comparison."""
    col = _col(c)
    n_chars = F.length(col).cast("double")
    n_tokens = token_count(col).cast("double")
    n_punct = (
        n_chars - F.length(F.regexp_replace(col, r"[\.,;:!\?]", ""))
    )
    n_digit = n_chars - F.length(F.regexp_replace(col, r"[0-9]", ""))
    return [
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        (n_chars / F.greatest(n_tokens, F.lit(1.0))).alias("mean_token_len"),
        (n_punct / F.greatest(n_chars, F.lit(1.0))).alias("punct_ratio"),
        (n_digit / F.greatest(n_chars, F.lit(1.0))).alias("digit_ratio"),
    ]


def language_id(c: Column | str) -> Column:
    """Tiny n-gram/charset language heuristic (SURVEY.md training-data ops):
    CJK chars -> zh; else scored stopword hits for en/es/de/fr.  Pure
    native expressions (regexp counts), so it scales as a scan."""
    col = F.concat(F.lit(" "), F.lower(_col(c)), F.lit(" "))

    def hits(words: list[str]) -> Column:
        pat = "|".join(f" {w} " for w in words)
        # size(split(x, pat)) - 1 counts non-overlapping matches; words are
        # space-delimited so overlap is not a concern for distinct stopwords.
        return F.size(F.split(col, pat)) - F.lit(1)

    en = hits(["the", "and", "of", "is", "a"])
    es = hits(["el", "la", "de", "que", "y"])
    de = hits(["der", "die", "und", "ist", "das"])
    fr = hits(["le", "la", "et", "les", "des"])
    has_cjk = F.length(F.regexp_replace(col, r"[一-鿿]", "")) < F.length(col)
    best = F.greatest(en, es, de, fr)
    return (
        F.when(has_cjk, F.lit("zh"))
        .when(best == F.lit(0), F.lit("unknown"))
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def fingerprint64(c: Column | str) -> Column:
    """64-bit content fingerprint: xxhash64 of the normalized text.
    Native expression — used for exact dedup at scale (group/join on a
    fixed-width key instead of comparing full documents)."""
    return F.xxhash64(normalize_text(_col(c)))


# Rabin–Karp polynomial parameters.  The modulus keeps every intermediate
# value under ~1.3e11, so the fold never overflows a BIGINT even with
# Spark 4's ANSI overflow checking enabled.
POLY_BASE = 131
POLY_MOD = 1_000_000_007


def _poly_hash(codes: Column) -> Column:
    """Left fold ``h = (h*B + code) % M`` over an ``array<long>``."""
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(POLY_BASE) + x) % F.lit(POLY_MOD),
    )


def char_codes(c: Column | str) -> Column:
    """``array<long>`` of per-character code points (native split+ascii)."""
    return F.transform(
        F.split(_col(c), ""), lambda ch: F.ascii(ch).cast("long")
    )


def rolling_fingerprint(
    c: Column | str, k: int = 8
) -> tuple[Column, Column]:
    """Document fingerprinting via a character-level rolling hash
    (SURVEY.md training-data ops): returns ``(fp_full, fp_min)`` where
    ``fp_full`` is the polynomial hash of the whole text and ``fp_min`` is
    the minimum hash over all ``k``-char windows — the winnowing-style
    robust fingerprint (stable under content shifts, unlike ``fp_full``).

    ``fp_min`` is a true O(len) Rabin–Karp roll: one ``aggregate`` over the
    character stream carrying ``(window_hash, running_min)`` state, with
    ``h' = (h - c_out·B^(k-1))·B + c_in (mod M)`` per step — NOT the naive
    O(len·k) re-hash of every window (measured 8x slower at fixture scale
    and allocating a k-array per character).  Identical values, so the
    DuckDB oracle (which states the per-window definition directly) is
    unchanged.  All native expressions — no shuffle, no UDF; at 100 TB this
    is a pure map over the corpus.  Texts shorter than ``k`` fall back to
    the full-document hash.
    """
    col = _col(c)
    codes = char_codes(col)
    full = _poly_hash(codes)
    # B^(k-1) mod M — the outgoing character's positional weight.
    bk = pow(POLY_BASE, k - 1, POLY_MOD)
    h0 = _poly_hash(F.slice(codes, 1, k))
    n = F.length(col)

    def step(acc: Column, i: Column) -> Column:
        # i is the 1-based index of the INCOMING char; outgoing is i-k.
        c_in = F.element_at(codes, i)
        c_out = F.element_at(codes, i - F.lit(k))
        # (h - c_out*bk) can go negative: add c_out*M's complement instead.
        # Max intermediate: (M-1 + M) * B + c_in < 2.7e11 — no ANSI overflow.
        h = (
            (acc["h"] + (F.lit(POLY_MOD) - (c_out * F.lit(bk)) % F.lit(POLY_MOD)))
            % F.lit(POLY_MOD)
            * F.lit(POLY_BASE)
            + c_in
        ) % F.lit(POLY_MOD)
        return F.struct(h.alias("h"), F.least(acc["mn"], h).alias("mn"))

    rolled = F.aggregate(
        F.sequence(F.lit(k + 1), n),
        F.struct(h0.alias("h"), h0.alias("mn")),
        step,
        lambda acc: acc["mn"],
    )
    windowed = (
        F.when(n > F.lit(k), rolled)
        .when(n == F.lit(k), h0)
        .otherwise(full)
    )
    return full, windowed


def rolling_fingerprint_udf(k: int = 8):
    """NumPy-vectorized twin of :func:`rolling_fingerprint` as an
    Arrow-batched pandas UDF ``string -> struct<fp_full, fp_min>``.

    This is the measured exception to "built-ins first": the native
    expression folds per CHARACTER through an interpreted higher-order
    ``aggregate`` (~19 s for 5,000 x 1 kB docs on local[32], dominated by
    per-step struct allocation), while this UDF does one strided-window
    matmul per document (~100x faster, scan-shaped, no shuffle).  Values
    are identical exact integers — equality with the native expression is
    pinned by tests, and the DuckDB oracle is unchanged.
    """
    B, M = POLY_BASE, POLY_MOD

    @F.pandas_udf("fp_full bigint, fp_min bigint")
    def _fp(texts: pd.Series) -> pd.DataFrame:
        n_rows = len(texts)
        out_full = np.zeros(n_rows, dtype=np.int64)
        out_min = np.zeros(n_rows, dtype=np.int64)
        mask = np.zeros(n_rows, dtype=bool)
        max_n = 0
        for t in texts:
            if t is not None and len(t) > max_n:
                max_n = len(t)
        # B^j mod M for j = 0..max_n-1 (one tiny Python loop per batch).
        pw = np.empty(max(max_n, k), dtype=np.int64)
        acc = 1
        for j in range(len(pw)):
            pw[j] = acc
            acc = (acc * B) % M
        pwk = pw[k - 1 :: -1][:k].copy()  # weights of one k-window
        for row, t in enumerate(texts):
            if t is None:
                mask[row] = True
                continue
            # utf-32-le gives the code-point array without a Python loop —
            # matches ord()/Spark ascii()/DuckDB ascii() per character.
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = len(codes)
            if n == 0:
                continue  # fold over [] is the init value 0, min falls back
            # fp_full: sum(code_i * B^(n-1-i)) mod M, block-wise so partial
            # sums stay under 2^63 (terms < 1.2e15; 4096 * 1.2e15 < 5e18).
            w = codes * pw[n - 1 :: -1][:n]
            total = 0
            for s in range(0, n, 4096):
                total = (total + int(w[s : s + 4096].sum())) % M
            out_full[row] = total
            if n <= k:
                out_min[row] = total
            else:
                win = np.lib.stride_tricks.sliding_window_view(codes, k)
                h = (win * pwk).sum(axis=1) % M  # 8 terms < 1e16 — no overflow
                out_min[row] = int(h.min())
        df = pd.DataFrame({"fp_full": out_full, "fp_min": out_min})
        if mask.any():
            df = df.astype("Int64")
            df.loc[mask, ["fp_full", "fp_min"]] = pd.NA
        return df

    return _fp
