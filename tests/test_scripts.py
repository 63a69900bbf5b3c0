"""Smoke checks for the probe scripts: each imports cleanly, argument
errors exit with a usage line before Spark starts, and every call in
``scripts/``, ``bench.py`` and ``perfbench/`` to a recently re-signed
package function or to the document source (the PDF writers and the
binary scan) still binds to its signature."""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import sys

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    dedup as D,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    textstats as TS,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.sources import (
    binary as B,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.sources import (
    minipdf as MP,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
    curation as SC,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "name",
    ["capture_plans", "scale_probe", "curation_stream_probe"],
)
def test_script_imports(name):
    assert callable(importlib.import_module(f"scripts.{name}").main)


# Package functions whose parameters changed recently, and the document
# source calls perfbench makes, by name: a call to one of them outside the
# package (scripts, the bench CLI, perfbench) must still bind to its
# signature, since no other test imports those callers.
RESIGNED = {
    "unigram_surprisal": TS.unigram_surprisal,
    "curate_corpus": D.curate_corpus,
    "curate_corpus_v2": D.curate_corpus_v2,
    "curation_v2_gated": D.curation_v2_gated,
    "curation_v2_kept": D.curation_v2_kept,
    "curation_survivors": SC.curation_survivors,
    "curation_v2_survivors": SC.curation_v2_survivors,
    "curation_maintain_batch": SC.curation_maintain_batch,
    "curation_v2_maintain_batch": SC.curation_v2_maintain_batch,
    "read_binary_dir": B.read_binary_dir,
    "pdf_filter": B.pdf_filter,
    "extract_pages": B.extract_pages,
    **{n: getattr(MP, n) for n in dir(MP) if n.startswith("make_pdf")},
}


def _caller_files() -> list[str]:
    out = [os.path.join(REPO, "bench.py")]
    for sub in ("scripts", "perfbench"):
        for root, _, files in os.walk(os.path.join(REPO, sub)):
            out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def test_callers_bind_to_resigned_signatures():
    seen = set()
    for path in _caller_files():
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name not in RESIGNED:
                continue
            seen.add(name)
            sig = inspect.signature(RESIGNED[name])
            kws = [k.arg for k in node.keywords]
            where = (os.path.relpath(path, REPO), node.lineno, name)
            if None in kws or any(isinstance(a, ast.Starred) for a in node.args):
                # ``*args`` / ``**kwargs``: only the named keywords are known
                assert set(kws) - {None} <= set(sig.parameters), where
            else:
                try:
                    sig.bind(*node.args, **dict.fromkeys(kws))
                except TypeError as e:
                    raise AssertionError(f"{where}: {e}") from None
    assert {
        "curate_corpus_v2",
        "curation_v2_survivors",
        "make_pdf",
        "read_binary_dir",
        "pdf_filter",
        "extract_pages",
    } <= seen


def _no_spark(*args, **kwargs):
    raise AssertionError("Spark started before the arguments were checked")


@pytest.mark.parametrize(
    "argv", [["--help"], [], ["r14"], ["before", "r14"]]
)
def test_capture_plans_cli_rejects_bad_arguments(monkeypatch, argv):
    from scripts import capture_plans as cp

    monkeypatch.setattr(cp, "get_spark", _no_spark)
    monkeypatch.setattr(sys, "argv", ["capture_plans.py", *argv])
    with pytest.raises(SystemExit) as exc:
        cp.main()
    assert str(exc.value.code).startswith("usage: ")


def test_capture_plans_cli_parses_out_dir():
    from scripts import capture_plans as cp

    assert cp.parse_args(["r14", "after", "q1"]) == ("r14", "after", ["q1"])

