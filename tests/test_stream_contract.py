"""Structural guard for the stream contract in streaming/pipeline.py:
every stream starts through ``_drain``, every dynamic partition
overwrite goes through ``overwrite_partitions``, and every mergeable
store commits through ``run_store`` (the IVM view and the cdcgen
witness excepted), so the per-stream copies of any of them cannot
creep back in unnoticed. Pure stdlib ``ast``; docstrings and comments
do not count."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kafka_stream_spark"
PIPELINE = PKG / "streaming" / "pipeline.py"
CONF_KEY = "spark.sql.sources.partitionOverwriteMode"


def _nodes_by_top_def(path: Path):
    """Yield (name of the enclosing module-level def or class or None,
    node)."""
    for top in ast.parse(path.read_text()).body:
        name = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.ClassDef))
            else None
        )
        for node in ast.walk(top):
            yield name, node


def _call_sites(func: str) -> set:
    """(module path under the package, enclosing top-level name) of every
    call of ``func`` in package code."""
    return {
        (path.relative_to(PKG).with_suffix("").as_posix(), name)
        for path in sorted(PKG.rglob("*.py"))
        for name, node in _nodes_by_top_def(path)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == func
    }


def _first_arg(call: ast.Call):
    if call.args and isinstance(call.args[0], ast.Constant):
        return call.args[0].value
    return None


def test_write_stream_only_in_drain_and_cdcgen():
    sites = {
        name
        for name, node in _nodes_by_top_def(PIPELINE)
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    }
    assert sites == {"_drain", "run_cdcgen_pipeline"}


def test_partition_overwrite_option_only_in_overwrite_partitions():
    sites = {
        name
        for name, node in _nodes_by_top_def(PIPELINE)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "option"
        and _first_arg(node) == "partitionOverwriteMode"
    }
    assert sites == {"overwrite_partitions"}


def test_no_package_code_sets_the_partition_overwrite_conf():
    offenders = [
        f"{path.relative_to(PKG)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for _, node in _nodes_by_top_def(path)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "config")
        and _first_arg(node) == CONF_KEY
    ]
    assert offenders == []


def test_merged_store_apply_only_in_run_store_ivm_and_cdcgen():
    """Every mergeable store is drained by ``run_store`` from its spec.
    The IVM view's ΔV reads the pre-batch state and the cdcgen witness
    writes its sink before its store, so neither is a spec; no other
    ``run_streaming_*`` runner merges a store itself."""
    assert _call_sites("merged_store_apply") == {
        ("streaming/pipeline", "run_store"),
        ("streaming/pipeline", "run_streaming_ivm"),
        ("streaming/pipeline", "cdcgen_batch_fn"),
    }


def test_additive_combine_only_in_the_spec_merge():
    assert _call_sites("additive_combine") == {
        ("streaming/pipeline", "Cells")
    }
