"""Fast tests for the benchmark's own parts: input generators, summary
arithmetic, oracles and the BENCHMARK.json schema.  No Spark session and
no fixture data.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import statistics

import numpy as np
import pytest

import gen
import oracles
import run
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generators --------------------------------------------------------------


def test_pdf_file_is_seeded():
    assert gen.pdf_file(1, 3) == gen.pdf_file(1, 3)
    assert gen.pdf_file(1, 3) != gen.pdf_file(2, 3)
    assert gen.pdf_file(1, 3) != gen.pdf_file(1, 4)
    assert gen.pdf_file(1, 3, attempt=1) != gen.pdf_file(1, 3)


def test_pdf_pages_span_the_length_range_and_some_split():
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
        text as X,
    )

    name, pages = gen.pdf_file(5, 0)
    assert name.endswith(".pdf") and len(pages) == 6
    words = [len(gen.page_text(p).split()) for p in pages]
    assert min(words) >= 400 and max(words) <= 1600
    assert max(words) - min(words) > 800
    chunks = [len(X.split_text_py(X.normalize_text_py(gen.page_text(p)))) for p in pages]
    assert 1 in chunks and 2 in chunks


def test_table_pages_and_questions_are_seeded():
    assert gen.table_pages(1, 50) == gen.table_pages(1, 50)
    assert gen.table_pages(1, 50) != gen.table_pages(2, 50)
    qs = gen.questions(1, 200)
    assert qs == gen.questions(1, 200) and qs != gen.questions(2, 200)
    assert len(set(qs)) == 200
    vocab = set(gen.vocabulary(1))
    assert all(w in vocab for q in qs for w in q[len("what about "):-1].split())


def test_probe_batch_shape():
    b = gen.probe_batch(1, 0, size=512, users=64)
    assert len(b) == 512 and len(set(b)) == 512
    assert len({u for u, _ in b}) == 64
    assert b == gen.probe_batch(1, 0) and b != gen.probe_batch(1, 1)


def test_letter_rotation_is_injective():
    for seed in range(5):
        m = gen.letter_rotation(seed)
        assert sorted(m) == sorted(m.values()) == sorted(gen.ROT_ALPHABET)


def test_curation_corpus_is_seeded_and_planted():
    rows = gen.curation_corpus(3, 2000)
    assert rows == gen.curation_corpus(3, 2000)
    assert rows != gen.curation_corpus(4, 2000)
    texts = [r[1] for r in rows]
    assert [r[0] for r in rows] == list(range(2000))
    assert all(r[4] == len(r[1]) for r in rows)
    assert len(texts) - len(set(texts)) >= 10  # exact duplicates
    assert sum("##" in t for t in texts) >= 10  # noisy docs
    long = [t.split() for t in texts if len(t.split()) >= 50]
    assert 0.3 < len(long) / len(texts) < 0.7
    by_len: dict[int, list[list[str]]] = {}
    for w in long:
        by_len.setdefault(len(w), []).append(w)
    near = sum(
        1 for ws in by_len.values() for i, a in enumerate(ws) for b in ws[i + 1:]
        if sum(x != y for x, y in zip(a, b)) == 1
    )
    assert near >= 10  # one-word-swap near duplicates


# -- summary arithmetic ------------------------------------------------------


def test_percentile_matches_numpy():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for p in (0, 10, 25, 50, 90, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_keeps_ten_beyond():
    assert stats.tail_percentile(11) is None
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


def test_failed_frac():
    assert stats.failed_frac(0, 12) == 0.0
    assert stats.failed_frac(3, 12) == 0.25
    for bad in ((1, 0), (-1, 3), (4, 3)):
        with pytest.raises(ValueError):
            stats.failed_frac(*bad)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 12.0, 10.1, 9.9, 10.4, 10.8, 9.7]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


# -- oracles -----------------------------------------------------------------


def _oracle():
    rng = np.random.default_rng(0)
    mat = rng.standard_normal((300, 8))
    mat[7] = mat[3]  # an exact tie
    ids = [f"id{i:03d}" for i in range(300)]
    return oracles.VectorOracle(ids, mat), mat


def test_vector_oracle_topk_breaks_ties_by_id():
    o, mat = _oracle()
    ids, dists = o.topk(mat[3] + 1e-9)[0]
    assert ids[:2] == ["id003", "id007"]
    d = np.sqrt(((mat - mat[3]) ** 2).sum(1))
    assert dists == pytest.approx(sorted(d)[:5], abs=1e-6)


def test_hits_match_accepts_tie_swaps_only():
    o, mat = _oracle()
    probe = mat[3]
    want = o.topk(probe)[0]
    ids, d = want
    assert o.hits_match(probe, ids, d, want)
    assert o.hits_match(probe, [ids[1], ids[0]] + ids[2:], None, want)  # tied
    assert not o.hits_match(probe, [ids[2], ids[1], ids[0]] + ids[3:], None, want)
    assert not o.hits_match(probe, ids[:4] + ["id299"], None, want)
    assert not o.hits_match(probe, ids, [x + 1e-3 for x in d], want)


def test_canonical_rows_ignore_order_and_numpy_types():
    import pandas as pd

    a = pd.DataFrame({"b": [2, 1], "a": ["x", "y"], "c": [True, False]})
    b = pd.DataFrame({"a": ["y", "x"], "c": [False, True], "b": [1, 2]})
    assert oracles.canonical_rows(a) == oracles.canonical_rows(b)


# -- BENCHMARK.json ----------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_schema():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["command"][0] == "python3" and len(spec["command"]) <= 32
    assert all(not a.startswith("/") and ".." not in a for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16
    assert all(re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) for p in spec["paths"])
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(spec["end_to_end"]) <= 16
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert 1 <= len(spec["per_layer"]) <= 128
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
               for m in spec["end_to_end"] + spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(json.dumps(spec)) <= 64 * 1024


def test_benchmark_json_matches_the_runner():
    import workloads

    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert sorted(m["name"] for m in spec["end_to_end"]) == sorted(run.metric_names(0))
    assert sorted(m["name"] for m in spec["per_layer"]) == sorted(run.metric_names(1))
