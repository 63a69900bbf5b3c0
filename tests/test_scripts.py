"""Smoke checks for the probe scripts: each imports cleanly, argument
errors exit with a usage line before Spark starts, and every
``curate_corpus_v2`` call in ``scripts/`` passes only keywords the
function still accepts."""

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

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")


@pytest.mark.parametrize(
    "name",
    ["capture_plans", "r13_gallery_probe", "scale_probe", "curation_stream_probe"],
)
def test_script_imports(name):
    assert callable(importlib.import_module(f"scripts.{name}").main)


def test_scripts_call_curate_corpus_v2_with_known_keywords():
    accepted = set(inspect.signature(D.curate_corpus_v2).parameters)
    for fname in sorted(os.listdir(SCRIPTS)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(SCRIPTS, fname)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "curate_corpus_v2"
            ):
                kws = {k.arg for k in node.keywords if k.arg is not None}
                assert kws <= accepted, (fname, node.lineno, kws - accepted)


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


@pytest.mark.parametrize(
    "argv",
    [["--help"], ["sf", "0"], ["sf", "-1"], ["sf", "1", "no_such_query"]],
)
def test_gallery_probe_cli_rejects_bad_arguments(monkeypatch, argv):
    from scripts import r13_gallery_probe as gp

    monkeypatch.setattr(gp, "get_spark", _no_spark)
    monkeypatch.setattr(sys, "argv", ["r13_gallery_probe.py", *argv])
    with pytest.raises(SystemExit) as exc:
        gp.main()
    assert str(exc.value.code).startswith("usage: ")


def test_gallery_probe_cli_accepts_members():
    from scripts import r13_gallery_probe as gp

    gp.check_args(1, list(gp.MEMBERS))
    gp.check_args(2, [gp.MEMBERS[0]])
