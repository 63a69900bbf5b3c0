"""PARITY.md is the judge-facing operator map — it must name every query
the driver contract exposes, and every oracle the contract declares must
belong to a registered query."""

import os
import re

import pytest

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_is_documented_in_parity():
    parity = open(os.path.join(REPO, "PARITY.md")).read()
    missing = [q for q in entry.queries() if q not in parity]
    assert not missing, f"queries absent from PARITY.md: {missing}"


def test_every_oracle_has_a_query():
    qs, os_ = set(entry.queries()), set(entry.oracle_sql())
    assert os_ <= qs, f"oracles without queries: {os_ - qs}"


def test_bench_headline_queries_exist():
    # bench measures individual queries from the full registry (the driver
    # contract groups some of them into suites).
    import bench

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        queries as Q,
    )

    missing = [q for q in bench.HEADLINE if q not in Q.QUERIES]
    assert not missing, missing


def test_driver_registry_covers_every_query():
    """Every full-registry query is driver-visible: individually or as a
    member of exactly one suite (build() asserts this; re-check here so a
    future query addition can't silently fall out of the driver sweep)."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        driver_registry as R,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        queries as Q,
    )

    members = [m for ms in R.SUITES.values() for m in ms]
    ro_members = [m for ms in R.ROWS_ONLY_SUITES.values() for m in ms]
    covered = (
        set(R.INDIVIDUAL) | set(R.ROWS_ONLY) | set(members) | set(ro_members)
    )
    assert covered == set(Q.QUERIES)
    assert len(members + ro_members) == len(set(members) | set(ro_members))
    # Cap headroom: the round-1 driver recorded only 50 entries.
    assert (
        len(R.INDIVIDUAL)
        + len(R.ROWS_ONLY)
        + len(R.SUITES)
        + len(R.ROWS_ONLY_SUITES)
        <= 50
    )


def test_driver_registry_respects_entry_cap():
    """The driver records at most 50 entries and silently truncates the
    rest — the registry must stay under the cap, and exceeding it must
    fail HERE (loudly) rather than in the driver sweep (VERDICT r02)."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        driver_registry as DR,
    )

    qs, oracles = DR.build()
    assert len(qs) <= DR.DRIVER_ENTRY_CAP == 50
    # a hypothetical 51st+ entry trips the assert inside build()
    import pytest

    extra = [f"__overflow_{i}" for i in range(51)]
    old = DR.ROWS_ONLY
    DR.ROWS_ONLY = list(old) + extra
    try:
        import unittest.mock as mock

        with mock.patch.dict(DR.Q.QUERIES, {e: (lambda *_: None) for e in extra}):
            with pytest.raises(AssertionError, match="silently"):
                DR.build()
    finally:
        DR.ROWS_ONLY = old


def test_parity_suite_table_matches_registry():
    """PARITY.md's driver-consolidation section is generated from
    driver_registry (the source of truth); this pin keeps it from
    drifting when suites gain or lose members."""
    import re

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        driver_registry as R,
    )

    parity = open(os.path.join(REPO, "PARITY.md")).read()
    documented = {}
    for line in parity.splitlines():
        m = re.match(r"\| `(\w+)`( \(rows-only\))? \| (.*) \|$", line)
        if m and m.group(1) in (R.SUITES | R.ROWS_ONLY_SUITES):
            documented[m.group(1)] = re.findall(r"`(\w+)`", m.group(3))
    want = {**R.SUITES, **R.ROWS_ONLY_SUITES}
    assert documented == want, (
        "PARITY.md suite table out of sync with driver_registry — "
        "regenerate it (see the section header)"
    )
    # entry counts in the prose stay current too
    n_ent = (
        len(R.SUITES)
        + len(R.ROWS_ONLY_SUITES)
        + len(R.INDIVIDUAL)
        + len(R.ROWS_ONLY)
    )
    assert f"**{n_ent} entries**" in parity


def test_bench_pipeline_queries_resolve():
    """The frozen pipeline-bench suite (r9): every member must resolve —
    a renamed/removed registry query would otherwise only fail inside the
    driver's bench run."""
    import bench

    p = bench._pipeline_queries()
    # frozen seven + curation_v2_pipeline (r10) + curation_v3 (r11)
    assert len(p) == 9
    assert set(bench.PIPELINE_FROZEN_R9) < set(p)
    assert len(bench.PIPELINE_FROZEN_R9) == 7
    assert set(bench.PIPELINE_FROZEN_R10) < set(p)
    assert len(bench.PIPELINE_FROZEN_R10) == 8
    assert all(callable(f) for f in p.values())


def test_bench_summary_line_carries_per_query_seconds():
    """VERDICT r12 #1 and ADVICE r13: the driver keeps only the final
    2,000 stdout chars and reads per-query seconds from the LAST JSON
    line.  Pin that the summary payload (a) has the driver-contract shape
    (metric/value/unit/queries/sf) with ``value == sum(queries)`` over
    the headline minima, as on the full result line, (b) carries every
    pipeline member under ``pipeline_queries``, with ``pipeline_sec``
    their sum, and (c) serializes under 2,000 chars with realistic
    values."""
    import json

    import bench

    timings = {n: 12.345 for n in bench.HEADLINE}
    ptimings = {n: 12.345 for n in bench._pipeline_queries()}
    payload = bench._summary_payload(
        timings,
        ptimings,
        99.999,
        111.111,
        0.1,
        [12.34, 12.34, 12.34],
        [12.34, 12.34, 12.34],
        0,
        {"curation_v3_pipeline": 1.62},
        {},
    )
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in payload, key
    assert payload["queries"] == timings
    assert payload["value"] == round(sum(payload["queries"].values()), 3)
    assert payload["pipeline_queries"] == ptimings
    assert "minhash_lsh_pairs" in ptimings and "minhash_lsh_pairs" in timings
    assert payload["pipeline_sec"] == round(sum(ptimings.values()), 3)
    line = json.dumps(payload)
    assert len(line) < 2000, len(line)
