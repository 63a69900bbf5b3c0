"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs, another seed gives different ones.  Nothing here
imports Spark, so the generators are unit-tested without a session.

Randomness comes from NumPy's PCG64 keyed on ``(seed, stream name)``, so
each input family draws from its own stream and adding one family never
shifts another.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np

# ---------------------------------------------------------------------------
# Shared vocabulary
# ---------------------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent PCG64 stream per (seed, name) pair."""
    key = hashlib.sha256(f"{int(seed)}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(key[:16], "big")))


@functools.lru_cache(maxsize=4)
def vocabulary(seed: int, size: int = 2000) -> tuple[str, ...]:
    """``size`` distinct lowercase words of 3-9 letters."""
    rng = rng_for(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        w = "".join(_LETTERS[i] for i in rng.integers(0, 26, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return tuple(words)


def _sentences(rng: np.random.Generator, vocab: tuple[str, ...], n_words: int) -> list[str]:
    """``n_words`` words cut into sentences of 8-20 words, each ending in a
    full stop (the chunker splits at punctuation)."""
    words = [vocab[k] for k in rng.integers(0, len(vocab), n_words).tolist()]
    cuts = np.cumsum(rng.integers(8, 21, n_words // 8 + 1)).tolist()
    out: list[str] = []
    i = 0
    for j in cuts:
        if i >= n_words:
            break
        out.append(" ".join(words[i:j]) + ".")
        i = j
    return out


# ---------------------------------------------------------------------------
# ingest: a corpus of real PDFs in fixed-size upload batches
# ---------------------------------------------------------------------------

WORDS_PER_LINE = 12


def pdf_file(
    seed: int, index: int, attempt: int = 0, pages_per_file: int = 6,
    min_words: int = 400, max_words: int = 1600,
) -> tuple[str, list[list[str]]]:
    """Document ``index`` as ``(file name, pages)``; a page is a list of
    PDF text lines.  400-1,600 words per page puts the longest pages past
    the chunker's 7,500-character limit, so some pages split in two.
    ``attempt`` draws a replacement for a document the caller rejects."""
    vocab = vocabulary(seed)
    rng = rng_for(seed, f"pdf/{index}/{attempt}")
    # Page lengths spread evenly over the range, in a random order and
    # with a little jitter, so every document carries about the same work.
    step = (max_words - min_words) // max(1, pages_per_file - 1)
    lengths = [min_words + k * step for k in rng.permutation(pages_per_file).tolist()]
    pages = []
    for n in lengths:
        n = min(max_words, max(min_words, n + int(rng.integers(-step // 4, step // 4 + 1))))
        words = " ".join(_sentences(rng, vocab, n)).split(" ")
        pages.append([
            " ".join(words[i:i + WORDS_PER_LINE])
            for i in range(0, len(words), WORDS_PER_LINE)
        ])
    return f"s{seed}-f{index:05d}.pdf", pages


def page_text(lines: list[str]) -> str:
    """The text extraction yields for one generated page."""
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# rag_query / batch_serve: the vector table's pages and the questions
# ---------------------------------------------------------------------------


def table_pages(
    seed: int, n_pages: int, pages_per_file: int = 8,
    min_words: int = 30, max_words: int = 120,
) -> list[tuple[str, int, str]]:
    """``(source, page number, text)`` rows, one chunk each, for the
    ``pipeline.ingest_documents`` build of the vector table."""
    vocab = vocabulary(seed)
    rng = rng_for(seed, "table")
    return [
        (
            f"s{seed}-d{i // pages_per_file:06d}.pdf",
            i % pages_per_file + 1,
            " ".join(_sentences(rng, vocab, int(rng.integers(min_words, max_words + 1)))),
        )
        for i in range(n_pages)
    ]


def questions(seed: int, n: int, stream: str = "questions") -> list[str]:
    """Distinct questions of 4-10 corpus words."""
    vocab = vocabulary(seed)
    rng = rng_for(seed, stream)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        idx = rng.integers(0, len(vocab), int(rng.integers(4, 11))).tolist()
        q = "what about " + " ".join(vocab[k] for k in idx) + "?"
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def probe_batch(
    seed: int, batch: int, size: int = 512, users: int = 64
) -> list[tuple[str, str]]:
    """One serving micro-batch: ``size`` distinct ``(user_id, query_text)``
    submits spread round-robin over ``users`` users."""
    qs = questions(seed, size, stream=f"probes/{batch}")
    return [(f"user-{i % users:03d}", q) for i, q in enumerate(qs)]


# ---------------------------------------------------------------------------
# curation: a documents corpus with planted duplicate and quality structure
# ---------------------------------------------------------------------------

# The documents fixture's 30-word technical vocabulary.
CURATION_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ROT_ALPHABET = "aeiousnrtl"
LANG_WEIGHTS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def letter_rotation(seed: int) -> dict[str, str]:
    """A seeded injective letter map over the ten most common letters; it
    keeps word lengths and the corpus's duplicate structure intact."""
    rng = rng_for(seed, "rotation")
    perm = "".join(ROT_ALPHABET[i] for i in rng.permutation(len(ROT_ALPHABET)))
    return dict(zip(ROT_ALPHABET, perm))


def curation_corpus(
    seed: int, n_docs: int, near_dup_frac: float = 0.05,
    exact_dup_frac: float = 0.01, noisy_frac: float = 0.02,
) -> list[tuple[int, str, str, str, int]]:
    """``(doc_id, text, lang, source, n_chars)`` rows shaped like the
    documents fixture: 10-100 words from a 30-word vocabulary (so the
    50-word quality gate drops about half), with structure planted for
    every curation stage:

    - word frequencies follow a Zipf law, so per-document surprisal varies
      and the perplexity terciles split the corpus;
    - about ``exact_dup_frac`` of the docs repeat an earlier doc verbatim;
    - about ``near_dup_frac`` repeat an earlier doc with one word swapped
      for another vocabulary word (Jaccard about 0.9 on 3-word shingles);
    - about ``noisy_frac`` have a fifth of their words replaced by ``#``
      runs, which the symbol-ratio rule of the quality gate drops.

    Every word passes through :func:`letter_rotation`."""
    rot = str.maketrans(letter_rotation(seed))
    vocab = [w.translate(rot) for w in CURATION_WORDS]
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    langs = [l for l, _ in LANG_WEIGHTS]
    lang_p = np.array([w for _, w in LANG_WEIGHTS])
    lang_p /= lang_p.sum()
    rng = rng_for(seed, "curation")
    texts: list[str] = []
    rows = []
    for i in range(n_docs):
        u = float(rng.random())
        if i > 0 and u < exact_dup_frac:
            text = texts[int(rng.integers(0, i))]
        elif i > 0 and u < exact_dup_frac + near_dup_frac:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.choice(len(vocab), p=zipf))]
            text = " ".join(words)
        else:
            words = [vocab[k] for k in rng.choice(len(vocab), int(rng.integers(10, 101)), p=zipf)]
            if u > 1.0 - noisy_frac:
                for k in rng.choice(len(words), len(words) // 5, replace=False):
                    words[k] = "##"
            text = " ".join(words)
        texts.append(text)
        lang = langs[int(rng.choice(len(langs), p=lang_p))]
        rows.append((i, text, lang, f"src{i % 20}", len(text)))
    return rows
