"""Dedup operators: exact, n-gram Jaccard, MinHash+LSH, SimHash."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    dedup as D,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill in the afternoon sun"
    )
    near = base.replace("afternoon", "morning")
    far = "completely different content about spark shuffles and parquet files"
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1
        (3, base + "\n"),               # dup of 1 after normalization? no —
                                        # trailing \n becomes trailing space
        (4, near),                      # near-dup of 1
        (5, far),
        (6, "the  quick \n brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill in the afternoon sun"),
        # 6 == 1 after whitespace normalization
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup_groups_normalized(spark, docs):
    out = D.exact_dedup(docs, "text", "doc_id").collect()
    groups = {r["keep_id"]: r["dup_count"] for r in out}
    # 1,2,6 identical after normalization; 3 differs (trailing space)
    assert groups[1] == 3
    assert groups[3] == 1
    assert groups[4] == 1
    assert groups[5] == 1


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], ["text"])
    got = df.select(D.word_shingles("text", 3).alias("s")).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == []
    assert got[2]["s"] == []


def test_jaccard_pairs_finds_near_dup(spark, docs):
    out = D.jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    # exact dups have jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 6)] == pytest.approx(1.0)
    # near-dup (one word changed) is above 0.5 but below 1.0
    assert 0.5 <= pairs[(1, 4)] < 1.0
    # unrelated doc never pairs with base
    assert (1, 5) not in pairs


def test_minhash_lsh_finds_planted_dups(spark, docs):
    out = D.minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.5
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # identical docs always collide in every band
    assert (1, 2) in pairs
    assert (1, 6) in pairs
    # verification step guarantees no pair below the Jaccard threshold
    for r in out:
        assert r["jaccard"] >= 0.5


def test_minhash_lsh_md5_twin_semantics(spark, docs):
    """The banding mechanism's oracle twin (minhash_lsh_pairs_md5): same
    planted dups found, every emitted pair passes the exact verify, the
    emitted set is a SUBSET of the exact Jaccard pairs at the same
    threshold (banding can only MISS, never invent — the verify step
    guarantees precision 1.0), and jaccard values equal the exact
    operator's."""
    out = D.minhash_lsh_pairs_md5(
        docs, "text", "doc_id", n=3, num_hashes=16, bands=4, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert (1, 2) in got and (1, 6) in got  # identical docs: all bands
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert v >= 0.5
        assert exact[k] == pytest.approx(v)


def test_minhash_jaccard_values_are_exact(spark, docs):
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, threshold=0.5).collect()
    }
    for k, v in lsh.items():
        assert exact[k] == pytest.approx(v)


def test_minhash_md5_signature_convention(spark, docs):
    """Pin the md5 hash-family convention (little-endian first 8 md5 bytes
    of shingle + \\x1f + family index, UNSIGNED min, two's-complement
    emit) against an independent pure-Python fold, plus the empty-shingle
    contract (docs under n tokens -> empty array)."""
    import hashlib as _hl

    rows = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", D.minhash_signature_md5("text", n=3, num_hashes=4).alias("sig")
        ).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def ref(text):
        toks = [t for t in text.split() if t]
        grams = {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))}
        if not grams:
            return []
        sig = []
        for i in range(4):
            mn = min(
                int.from_bytes(
                    _hl.md5((g + "\x1f" + str(i)).encode()).digest()[:8], "little"
                )
                for g in grams
            )
            sig.append(mn if mn < 2**63 else mn - 2**64)
        return sig

    for did, sig in rows.items():
        assert list(sig) == ref(texts[did]), did
    # identical text -> identical signature; the min is over a SET of
    # shingles so repeated windows don't shift it
    assert rows[1] == rows[2]
    # sub-n-token doc -> empty signature (no shingles)
    short = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    got = short.select(
        D.minhash_signature_md5("text", n=3, num_hashes=4).alias("sig")
    ).collect()[0]["sig"]
    assert list(got) == []


def test_simhash_identical_and_near(spark, docs):
    out = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", D.simhash64("text", 3).alias("sh")
        ).collect()
    }
    assert out[1] == out[2]  # identical text -> identical simhash
    # near-dup: small Hamming distance; unrelated: large
    ham_near = bin((out[1] ^ out[4]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((out[1] ^ out[5]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, triangle 10-11-12 (+edge), isolated pair 20-21:
    every node labels with its component's minimum id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster"]
        for r in D.connected_components_star(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    """A 12-node chain needs several propagation rounds (diameter); the
    fixpoint must still reach min-id everywhere."""
    edges = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["cluster"]
        for r in D.connected_components_star(pairs).collect()
    }
    assert got == {i: 0 for i in range(13)}


def test_jaccard_pairs_matches_bruteforce_random_corpus(spark):
    """The group-then-pair shingle algorithm must equal an O(n^2) Python
    brute force on a deterministic random corpus (30 docs, tiny vocab so
    shingle collisions are plentiful)."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        for _ in range(30)
    ]
    n = 3
    thr = 0.3

    def shingles(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
        }

    expect = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(texts), 2):
        sa, sb = shingles(a), shingles(b)
        inter = len(sa & sb)
        if inter:
            jac = inter / (len(sa) + len(sb) - inter)
            if jac >= thr:
                expect[(i, j)] = round(jac, 9)

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.jaccard_pairs(df, "text", "doc_id", n=n, threshold=thr).collect()
    }
    assert got == expect


def test_jaccard_max_df_caps_hot_shingles(spark):
    """A planted stopword-gram shared by every doc must be dropped from the
    Jaccard universe under max_df, while true near-dups (sharing rare
    shingles) still surface — and the capped result must equal a Python
    brute force over the capped universe."""
    hot = "the quick brown fox"
    docs = [(i, f"{hot} unique{i} tail{i} words{i} here{i}") for i in range(10)]
    # true near-dup pair: identical long tails
    docs += [
        (100, f"{hot} same body of duplicated text content one two three"),
        (101, f"{hot} same body of duplicated text content one two three"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = D.jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.8, max_df=3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert got == {(100, 101): 1.0}

    # Uncapped, the hot prefix shingles give every pair nonzero overlap —
    # the candidate fan-out the cap exists to bound.
    uncapped = D.jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.01)
    assert uncapped.count() == 66  # all C(12,2) pairs become candidates


def test_jaccard_max_df_matches_bruteforce(spark):
    """Capped Jaccard == brute force computed over the df<=cap universe."""
    import itertools
    import random

    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        for _ in range(30)
    ]
    n, thr, cap = 3, 0.3, 4

    def shingles(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
        }

    sets = [shingles(t) for t in texts]
    df_count = {}
    for s in sets:
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    capped_sets = [{g for g in s if df_count[g] <= cap} for s in sets]
    expect = {}
    for i, j in itertools.combinations(range(len(texts)), 2):
        sa, sb = capped_sets[i], capped_sets[j]
        inter = len(sa & sb)
        if inter:
            jac = inter / (len(sa) + len(sb) - inter)
            if jac >= thr:
                expect[(i, j)] = round(jac, 9)

    sdf = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.jaccard_pairs(
            sdf, "text", "doc_id", n=n, threshold=thr, max_df=cap
        ).collect()
    }
    assert got == expect


def test_connected_components_raises_without_convergence(spark):
    """A chain longer than the round budget must fail loudly, not return
    silently split clusters (ADVICE r01).  Only the distributed loop
    iterates, so it is forced with ``local_max_edges=0``."""
    import pytest as _pytest

    edges = [(i, i + 1) for i in range(64)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components_star(pairs, max_iter=2, local_max_edges=0)
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        D.connected_components_star(
            pairs, max_iter=2, on_max_iter="warn", local_max_edges=0
        ).collect()


def _py_components(edges):
    """Reference labelling: every endpoint -> the minimum id of its
    component, by plain graph search."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        comp, todo = {start}, [start]
        while todo:
            for nb in adj[todo.pop()]:
                if nb not in comp:
                    comp.add(nb)
                    todo.append(nb)
        root = min(comp)
        label.update((n, root) for n in comp)
    return label


def _star_arms(spark, edges, schema):
    """(node -> cluster) from the default dispatch and from the forced
    distributed loop."""
    pairs = spark.createDataFrame(edges, schema)
    return [
        {r["node"]: r["cluster"] for r in df.collect()}
        for df in (
            D.connected_components_star(pairs),
            D.connected_components_star(pairs, local_max_edges=0),
        )
    ]


def test_star_components_match_python_reference(spark):
    """Both arms of the components size dispatch — the driver union-find
    (default below COMPONENTS_LOCAL_MAX_EDGES) and the distributed star
    loop (forced with local_max_edges=0) — give the reference labelling
    on random graphs, chains, triangles, and isolated pairs."""
    import random

    rng = random.Random(42)
    cases = [
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(i, i + 1) for i in range(30)],  # 30-hop chain: few star rounds
        [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)],
        [(rng.randint(0, 1000), rng.randint(0, 1000)) for _ in range(300)],
    ]
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        want = _py_components(edges)
        got_local, got_dist = _star_arms(spark, edges, "id_a long, id_b long")
        assert got_local == want
        assert got_dist == want


_small_edges = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=20,
)


@given(_small_edges)
@settings(max_examples=5, deadline=None)
def test_star_components_arms_agree_on_random_edge_lists(spark, edges):
    """Forced-arm equality: the union-find arm, the distributed arm and
    the Python reference agree on random small edge lists — as long
    ids and as string ids, which always take the distributed arm and
    order as strings ("10" < "9")."""
    want = _py_components(edges)
    got_local, got_dist = _star_arms(spark, edges, "id_a long, id_b long")
    assert got_local == want
    assert got_dist == want
    sedges = [(str(a), str(b)) for a, b in edges]
    swant = _py_components(sedges)
    s_local, s_dist = _star_arms(spark, sedges, "id_a string, id_b string")
    assert s_local == swant
    assert s_dist == swant


def test_star_components_local_dispatch(spark):
    """The r12 size dispatch: a bounded integral-id edge list takes the
    driver union-find path (a LocalTableScan source — zero distributed
    rounds), the distributed loop can be forced with local_max_edges=0,
    and string-id graphs never dispatch locally (Python vs UTF8String
    ordering)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    local = D.connected_components_star(pairs)
    assert "Scan ExistingRDD" in plan(local) and "Join" not in plan(local)
    dist = D.connected_components_star(pairs, local_max_edges=0)
    assert "Join" in plan(dist)
    # string ids: always distributed
    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    sgot = D.connected_components_star(spairs)
    assert "Join" in plan(sgot)
    assert {r["node"]: r["cluster"] for r in sgot.collect()} == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
    }


def test_star_components_converge_fast_on_long_chain(spark):
    """A 64-hop chain converges within O(log n) star rounds (label
    propagation would need 64)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["cluster"]
        for r in D.connected_components_star(pairs, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(65)}


def test_corpus_curation_pipeline_invariants(spark, sf_dir):
    """The curation flagship's stage contracts hold on the fixture corpus:
    gates applied, keepers are exact-dup group minima, and no surviving
    pair is Jaccard-similar at the dedup threshold (the oracle check pins
    exact values; this pins the *semantics* of each stage)."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        queries as Q,
    )

    out = Q.QUERIES["corpus_curation_pipeline"](spark, sf_dir)
    rows = out.collect()
    assert rows, "curated corpus must be non-empty"
    assert [c for c, _ in out.dtypes] == [
        "doc_id", "lang", "n_tokens", "exact_dups",
    ]
    assert all(r["lang"] in ("en", "de", "fr") for r in rows)
    assert all(r["n_tokens"] >= 25 for r in rows)
    assert all(r["exact_dups"] >= 1 for r in rows)
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)) and ids == sorted(ids)

    # No two survivors remain near-duplicates: re-run the df-capped pair
    # finder restricted to the surviving ids — it must come back empty.
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    survivors = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isin(ids)
    )
    leftover = DD.jaccard_pairs(
        survivors, "text", "doc_id", n=3, threshold=0.8, max_df=5
    )
    assert leftover.count() == 0


def test_curate_corpus_v2_invariants(spark, sf_dir):
    """The composed curation-v2 run (r10): stage contracts hold end-to-end
    on the fixture — schema, gate monotonicity (every survivor passes the
    live Gopher rules), no tail-bucket survivor, exact-dup keepers are
    group minima, no surviving near-dup pair, split atomicity (a kept
    representative carries the split its cluster hashed to), and the DSIR
    flag counts exactly min(k, survivors).  The oracle entry
    (curation_v2_pipeline) pins exact values; this pins semantics."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        queries as Q,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        textstats as TS,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    out = Q.QUERIES["curation_v2_pipeline"](spark, sf_dir)
    rows = out.collect()
    assert rows, "curated corpus must be non-empty"
    assert [c for c, _ in out.dtypes] == [
        "doc_id", "lang", "n_words", "bits_per_token_ppm", "bucket",
        "exact_dups", "stripped_tokens", "near_dups", "split", "n_feats",
        "score_bits", "mean_milli", "selected",
    ]
    # strip_spans=False -> the witness column is constant 0.
    assert all(r["stripped_tokens"] == 0 for r in rows)
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)) and ids == sorted(ids)
    # Gate monotonicity: every survivor passes the four live Gopher rules
    # (min_stops=0 on the fixture — see the query docstring).
    docs = load_table(spark, sf_dir, "documents")
    flags = {
        r["doc_id"]: r
        for r in TS.gopher_quality_flags(docs)
        .filter(F.col("doc_id").isin(ids))
        .collect()
    }
    for i in ids:
        f = flags[i]
        assert 50 <= f["n_words"] <= 100_000
        assert 3_000_000 <= f["mean_word_len_ppm"] <= 10_000_000
        assert f["alpha_word_ppm"] >= 800_000
        assert f["symbol_word_ppm"] <= 100_000
    # CCNet stage: the tail third never survives.
    assert all(r["bucket"] in ("head", "middle") for r in rows)
    assert any(r["bucket"] == "head" for r in rows)
    # Dedup stage: exact_dups/near_dups are >= 1 and no surviving pair is
    # still near-duplicate at the threshold.
    assert all(r["exact_dups"] >= 1 and r["near_dups"] >= 1 for r in rows)
    survivors = docs.filter(F.col("doc_id").isin(ids))
    leftover = DD.jaccard_pairs(
        survivors, "text", "doc_id", n=3, threshold=0.8, max_df=5
    )
    assert leftover.count() == 0
    # Split: a survivor IS its cluster representative, so its split is the
    # hash of its own id — the doc-level rule (cluster members that were
    # dropped shared this value by construction, pinned separately in
    # test_leakage_safe_split_cluster_atomicity).
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators.textstats import (  # noqa: E501
        hash_bucket,
    )

    expect = {
        r["doc_id"]: r["s"]
        for r in survivors.select(
            "doc_id",
            F.when(hash_bucket("doc_id", 100) < 90, "train")
            .when(hash_bucket("doc_id", 100) < 95, "validation")
            .otherwise("test")
            .alias("s"),
        ).collect()
    }
    assert all(r["split"] == expect[r["doc_id"]] for r in rows)
    assert {r["split"] for r in rows} == {"train", "validation", "test"}
    # Selection: exactly min(k, survivors) flagged, and the flagged set is
    # the top of the (mean_milli, -id) total order.
    k = min(100, len(rows))
    sel = [r for r in rows if r["selected"]]
    assert len(sel) == k
    order = sorted(rows, key=lambda r: (-r["mean_milli"], r["doc_id"]))
    assert {r["doc_id"] for r in sel} == {r["doc_id"] for r in order[:k]}


def test_curate_corpus_v2_checkpoint_kept_is_pure_optimization(
    spark, sf_dir, monkeypatch
):
    """The kept boundary (the corpus-scale setting, r11 3M A/B), forced
    on by a zero byte threshold, changes the execution plan only — the
    output must be bit-identical to the fixture's default path."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(
        map(tuple, DD.curate_corpus_v2(docs, min_stops=0).collect())
    )
    monkeypatch.setattr(DD, "CHECKPOINT_KEPT_MIN_BYTES", 0)
    b = sorted(
        map(tuple, DD.curate_corpus_v2(docs, min_stops=0).collect())
    )
    assert a == b and a


def test_checkpoint_kept_size_dispatch(spark, sf_dir, monkeypatch):
    """The kept boundary is placed from the zero-action Catalyst byte
    estimate of the input (VERDICT r11 #5): the fixture documents table
    (~MBs) stays on the measured-faster no-boundary path, and a
    threshold below its estimate places the boundary.  Bit-identity of
    the two paths is pinned by
    test_curate_corpus_v2_checkpoint_kept_is_pure_optimization."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    size = DD._plan_size_bytes(docs)
    assert size is not None and 0 < size < DD.CHECKPOINT_KEPT_MIN_BYTES
    boundaries = []
    kept_fn = DD.curation_v2_kept

    def spy(*args, **kwargs):
        kept = kept_fn(*args, **kwargs)
        checkpoint = kept.localCheckpoint

        def recorded(*a, **k):
            boundaries.append(k)
            return checkpoint(*a, **k)

        kept.localCheckpoint = recorded
        return kept

    monkeypatch.setattr(DD, "curation_v2_kept", spy)
    DD.curate_corpus_v2(docs, min_stops=0)
    assert boundaries == []
    monkeypatch.setattr(DD, "CHECKPOINT_KEPT_MIN_BYTES", size)
    DD.curate_corpus_v2(docs, min_stops=0)
    assert boundaries == [{"eager": False}]


def test_curate_corpus_v2_staged_resume(spark, sf_dir, tmp_path):
    """The staged/resumable composed pipeline (VERDICT r11 #2): with
    ``staged_root`` every boundary persists as a parquet stage table and
    the output is bit-identical to the in-session form — on the defaults,
    with the span strip, and with the banded MinHash pair graph; a run
    killed between stages (simulated by deleting the later stage tables
    AND poisoning the input) resumes from the finished stages without
    ever reconstructing them; a torn stage directory (no ``_SUCCESS``) is
    overwritten, not trusted."""
    import os
    import shutil

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")

    def run(frame, **kwargs):
        return sorted(
            map(tuple, DD.curate_corpus_v2(frame, min_stops=0, **kwargs).collect())
        )

    for i, kwargs in enumerate(
        (dict(strip_spans=True), dict(use_minhash=True, max_df=None))
    ):
        want = run(docs, **kwargs)
        got = run(docs, staged_root=str(tmp_path / f"variant{i}"), **kwargs)
        assert got == want and want, kwargs
    base = run(docs)
    root = str(tmp_path / "stages")
    assert run(docs, staged_root=root) == base and base
    for s in ("gated2", "kept", "pairs", "surv"):
        assert os.path.exists(f"{root}/{s}/_SUCCESS"), s
    # Kill-between-stages: later stages gone, one torn (no _SUCCESS),
    # input poisoned EMPTY — if resume touched the input for gated2/kept
    # (or trusted the torn pairs dir) the output could not equal base.
    shutil.rmtree(f"{root}/surv")
    shutil.rmtree(f"{root}/pairs")
    os.makedirs(f"{root}/pairs")
    with open(f"{root}/pairs/part-torn.parquet", "w") as fh:
        fh.write("torn")
    poisoned = docs.limit(0)
    assert run(poisoned, staged_root=root) == base
    # All stages present: only the final DSIR join recomputes.
    assert run(poisoned, staged_root=root) == base


def test_curate_corpus_v2_staged_root_refuses_other_parameters(
    spark, sf_dir, tmp_path
):
    """A staged_root is pinned to the parameters that built its stages:
    a rerun with another ``jaccard_threshold`` raises instead of
    returning the stale pair and survivor stages, and the original
    parameters still resume."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "stages")
    first = DD.curate_corpus_v2(docs, min_stops=0, staged_root=root).collect()
    with pytest.raises(ValueError, match="other parameters"):
        DD.curate_corpus_v2(
            docs, min_stops=0, jaccard_threshold=0.5, staged_root=root
        )
    again = DD.curate_corpus_v2(docs, min_stops=0, staged_root=root).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))


def test_curate_corpus_v2_maintained_pairs(spark, sf_dir, tmp_path):
    """``pairs=`` (r12): feeding the incremental band store's matches log
    into the batch composition reproduces the from-scratch run
    bit-for-bit — the maintained pair graph replaces the top per-stage
    wall (the banded pair computation) at corpus scale.  The stream
    registers EVERY gated doc, so the matches cover more endpoints than
    the operator's own kept-only pair set; the kept-kept restriction
    must absorb the difference."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
        curation as SC,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    base = sorted(
        map(
            tuple,
            DD.curate_corpus_v2(
                docs, min_stops=0, use_minhash=True, max_df=None
            ).collect(),
        )
    )
    store = str(tmp_path / "pairstore")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    SC.curation_v2_maintain_batch(
        docs.filter(F.col("doc_id") <= mid), store, min_stops=0
    )
    SC.curation_v2_maintain_batch(
        docs.filter(F.col("doc_id") > mid), store, min_stops=0
    )
    matches = spark.read.parquet(f"{store}/matches").select(
        F.col("new_id").alias("id_a"), F.col("matched_id").alias("id_b")
    )
    got = sorted(
        map(
            tuple,
            DD.curate_corpus_v2(
                docs, min_stops=0, use_minhash=True, max_df=None,
                pairs=matches,
            ).collect(),
        )
    )
    assert got == base and base


def test_curation_v3_invariants(spark, sf_dir):
    """The v3 composition (r11): the stop-word gate runs LIVE (every odd
    doc_id — no overlay, zero fixture stop words — is gated out; every
    survivor is even), the span-strip stage is non-vacuous and agrees
    with the standalone oracle-verified operator run over the same
    exact-dedup survivor set, and n_words is the post-strip recount.
    The oracle entry (curation_v3_pipeline) pins exact values; this pins
    the stage semantics against the standalone operators."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        queries as Q,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
        dedup as DD,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.queries.curation import (  # noqa: E501
        _V3_OVERLAY,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    out = Q.QUERIES["curation_v3_pipeline"](spark, sf_dir)
    rows = out.collect()
    assert rows, "curated corpus must be non-empty"
    # Stop-word gate live: the overlay only touches even ids, so odd ids
    # (0 stop words < min_stops=2) cannot survive.
    assert all(r["doc_id"] % 2 == 0 for r in rows)
    # Strip stage non-vacuous on the fixture, and never negative.
    assert all(r["stripped_tokens"] >= 0 for r in rows)
    assert any(r["stripped_tokens"] > 0 for r in rows)
    # Stage agreement: rebuild the pipeline's exact-dedup survivor set
    # via the exposed subtree functions and run the STANDALONE
    # (oracle-verified) strip operator over it — per-doc clean token
    # counts must match the composition's n_words/stripped_tokens.
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(_V3_OVERLAY), F.col("text")),
        ).otherwise(F.col("text")),
    )
    kept = DD.curation_v2_kept(
        DD.curation_v2_gated(docs, min_stops=2), strip_spans=True
    )
    got = {
        r["id"]: (r["n_words"], r["stripped_tokens"])
        for r in kept.select("id", "n_words", "stripped_tokens").collect()
    }
    for r in rows:
        assert got[r["doc_id"]] == (r["n_words"], r["stripped_tokens"])


def test_minhash_max_df_drops_boilerplate(spark):
    """A boilerplate prefix shared by every doc must not band random pairs
    together under max_df, while planted near-dups still surface — the
    same universe convention as jaccard_pairs(max_df): capped sets feed
    BOTH the signatures and the verify Jaccard."""
    hot = "copyright acme corporation all rights reserved"
    docs = [
        (i, f"{hot} unique{i} body{i} words{i} here{i} tail{i}")
        for i in range(20)
    ]
    docs += [
        (100, f"{hot} same duplicated content one two three four five six"),
        (101, f"{hot} same duplicated content one two three four five six"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(
            df, "text", "doc_id", n=3, threshold=0.8, max_df=3
        ).collect()
    }
    assert got == {(100, 101): 1.0}

def test_jaccard_observation_reads_drop_count(spark):
    """VERDICT r02 #8: the df-cap drop count must be programmatically
    checkable, not just visible in the Spark UI.  Also pins that the dual
    consumption of the observed bucket node does NOT double-count."""
    from pyspark.sql import Observation

    hot = "the quick brown fox"
    docs = [(i, f"{hot} unique{i} tail{i} words{i} here{i}") for i in range(10)]
    docs += [
        (100, f"{hot} same body of duplicated text content one two three"),
        (101, f"{hot} same body of duplicated text content one two three"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    obs = Observation()
    out = D.jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.8, max_df=3, observation=obs
    )
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(100, 101)}
    # exactly the two df=12 prefix shingles ("the quick brown",
    # "quick brown fox") exceed the cap; 2, not 4 (no double count)
    assert obs.get["dropped_hot_shingles"] == 2


def test_minhash_observation_reads_drop_count(spark):
    from pyspark.sql import Observation

    hot = "the quick brown fox"
    docs = [(i, f"{hot} unique{i} tail{i} words{i} here{i}") for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    obs = Observation()
    out = D.minhash_lsh_pairs(
        df, "text", "doc_id", n=3, threshold=0.5, max_df=3, observation=obs
    )
    out.collect()
    # each of the 8 docs contributes one occurrence of each of the two
    # hot df=8 prefix shingles -> 16 dropped occurrences
    assert obs.get["dropped_hot_occurrences"] == 16


def test_curation_pipeline_logs_drop_count(spark, caplog):
    """The curation pipeline surfaces its cap metric: materialize, then
    utils.log_observed_drops logs and returns the count."""
    import logging

    from pyspark.sql import Observation

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        utils as U,
    )

    hot = "shared boilerplate header line"
    rows = [
        (i, "en", f"{hot} unique body {i} with plenty of distinct words "
                  f"alpha{i} beta{i} gamma{i}")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    obs = Observation()
    out = D.curate_corpus(
        df, langs=("en",), min_tokens=3, max_df=3, observation=obs
    )
    assert out.count() == 12  # nothing near-dup after the cap
    with caplog.at_level(logging.INFO, logger="spark_graft.metrics"):
        metrics = U.log_observed_drops(obs)
    assert metrics["dropped_hot_shingles"] >= 1
    assert "dropped_hot_shingles" in caplog.text


def test_jaccard_observation_survives_empty_output(spark):
    """AQE empty-relation propagation must not eat the cap metric: even
    when no pair survives, the drop count is still readable."""
    from pyspark.sql import Observation

    hot = "shared boilerplate header line"
    docs = [(i, f"{hot} unique body {i} alpha{i} beta{i}") for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    obs = Observation()
    out = D.jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.8, max_df=3, observation=obs
    )
    assert out.count() == 0
    assert obs.get["dropped_hot_shingles"] >= 1


def test_jaccard_observation_path_matches_default_path(spark):
    """The restructured observation plan must produce byte-identical pairs
    to the default single-grouping plan."""
    import random

    from pyspark.sql import Observation

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    kw = dict(n=3, threshold=0.2, max_df=4)
    base = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.jaccard_pairs(df, "text", "doc_id", **kw).collect()
    }
    obs = Observation()
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.jaccard_pairs(
            df, "text", "doc_id", observation=obs, **kw
        ).collect()
    }
    assert got == base
    assert obs.get["dropped_hot_shingles"] >= 0


def test_ngram_dup_stats_planted_spans(spark):
    """A shared 8-word span must be flagged in BOTH carriers (distinct-gram
    counting, >=2 docs), unique text must score zero, and short docs
    (<8 tokens) must report zero windows.  Counts cross-checked against a
    Python brute force."""
    span = "one two three four five six seven eight"
    docs = [
        (0, f"{span} unique-a tail-a"),       # carries the span + 2 extras
        (1, f"prefix-b {span} tail-b"),       # same span elsewhere in doc
        (2, "totally different words with no duplication at all here now"),
        (3, "short doc"),                     # < 8 tokens -> no windows
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in D.ngram_dup_stats(df, n=8).collect()
    }

    # brute force: distinct 8-gram sets per doc, dup = in >= 2 docs
    def grams(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
        }

    sets = {i: grams(t) for i, t in docs}
    from collections import Counter

    dfreq = Counter(g for s in sets.values() for g in s)
    for i, t in docs:
        n_tok = len(t.split())
        assert got[i]["n_windows"] == max(n_tok - 7, 0)
        assert got[i]["n_grams"] == len(sets[i])
        expect_dup = sum(1 for g in sets[i] if dfreq[g] >= 2)
        assert got[i]["n_dup_grams"] == expect_dup
        if len(sets[i]):
            assert (
                got[i]["dup_gram_ppm"]
                == expect_dup * 1000000 // len(sets[i])
            )
        else:
            assert got[i]["dup_gram_ppm"] == 0
    # the planted span is one shared gram in each carrier
    assert got[0]["n_dup_grams"] == 1 and got[1]["n_dup_grams"] == 1
    assert got[2]["n_dup_grams"] == 0 and got[3]["n_windows"] == 0


def test_ngram_dup_stats_plan_is_native(spark):
    """Hot path stays JVM-side: no Python eval nodes, and the gram string
    never reaches an exchange (only the 64-bit xxhash64 key shuffles)."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.plans import (
        explain as E,
    )

    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "doc_id long, text string"
    )
    out = D.ngram_dup_stats(df, n=8)
    assert E.python_eval_nodes(out) == []
    sig = E.plan_signature(out)
    assert "ArrowEvalPython" not in sig and "BatchEvalPython" not in sig
    # The gram-string ARRAY must never ride an exchange (it is ~8x the
    # corpus text; the final per-doc join must shuffle three longs).  It
    # may exist scan-side (under the Generate feeding the hash explode),
    # so assert on each Exchange's immediate child instead of globally.
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange hashpartitioning" in line and i + 1 < len(lines):
            assert "AS grams#" not in lines[i + 1], (
                "gram array shuffled:\n" + lines[i + 1][:200]
            )


def test_strip_dup_ngrams_removes_planted_span(spark):
    """Tokens covered by a corpus-duplicated 8-gram window are removed;
    everything else survives in order; fully-duplicated docs become ''."""
    span = "one two three four five six seven eight"
    docs = [
        (0, f"{span} keep-a keep-b"),
        (1, f"pre-b {span} post-b"),
        (2, span),  # the whole doc is the duplicated span
        (3, "totally unique text with no duplication present here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in D.strip_dup_ngrams(df, n=8).collect()
    }
    assert got[0]["clean_text"] == "keep-a keep-b"
    assert got[1]["clean_text"] == "pre-b post-b"
    assert got[2]["clean_text"] == "" and got[2]["n_removed_tokens"] == 8
    assert got[3]["n_removed_tokens"] == 0
    assert got[3]["clean_text"] == docs[3][1]
    for i in (0, 1):
        assert got[i]["n_tokens"] == 10 and got[i]["n_removed_tokens"] == 8


def test_strip_dup_ngrams_consistent_with_stats(spark, sf_dir):
    """A doc has removed tokens iff ngram_dup_stats flags duplicated
    grams in it (same window universe, same df threshold)."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    stripped = {
        r["doc_id"]: r["n_removed_tokens"]
        for r in D.strip_dup_ngrams(docs, n=8).collect()
    }
    flagged = {
        r["doc_id"]: r["n_dup_grams"]
        for r in D.ngram_dup_stats(docs, n=8).collect()
    }
    assert set(stripped) == set(flagged)
    for d, removed in stripped.items():
        assert (removed > 0) == (flagged[d] > 0), d


def test_leakage_safe_split_cluster_atomicity(spark, sf_dir):
    """Every near-dup component gets EXACTLY one split; members inherit
    their representative's assignment; the doc set is preserved."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = D.leakage_safe_split(docs, "text", "doc_id").cache()
    assert out.count() == docs.count()
    per_cluster = (
        out.groupBy("cluster_rep")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(F.max("n_splits"))
        .first()[0]
    )
    assert per_cluster == 1
    # The representative is a member of its own cluster and maps to itself.
    reps = out.filter(F.col("doc_id") == F.col("cluster_rep"))
    assert reps.count() == out.select("cluster_rep").distinct().count()


def test_leakage_safe_split_planted_pair_travels_together(spark):
    """A planted near-dup pair whose members' OWN ids would hash to
    different splits must land together on the representative's side,
    while unrelated singletons keep the doc-level assignment."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    near = base.replace("upsilon", "phi")
    # Find two ids whose doc-level pct buckets differ (hash formula below
    # mirrors dataset_split_shuffle).
    def pct(i):
        return ((i % 1000003) * 2654435761 + (i // 1000003) * 97) % 4294967296 % 100

    a = 1
    b = next(i for i in range(2, 500) if (pct(i) < 90) != (pct(a) < 90))
    rows = [(a, base), (b, near)] + [
        (i, f"unique filler document number {i} with entirely distinct words "
            f"row{i}a row{i}b row{i}c row{i}d row{i}e row{i}f row{i}g row{i}h "
            f"row{i}i row{i}j row{i}k row{i}l row{i}m row{i}n row{i}o row{i}p "
            f"row{i}q row{i}r row{i}s row{i}t row{i}u")
        for i in range(1000, 1010)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.leakage_safe_split(docs, "text", "doc_id").collect()}
    # The pair shares the min-id representative and therefore the split.
    assert out[a]["cluster_rep"] == out[b]["cluster_rep"] == a
    assert out[a]["split"] == out[b]["split"]
    # Singletons: rep == own id, split == the doc-level hash assignment.
    for i in range(1000, 1010):
        assert out[i]["cluster_rep"] == i
        want = "train" if pct(i) < 90 else ("validation" if pct(i) < 95 else "test")
        assert out[i]["split"] == want
