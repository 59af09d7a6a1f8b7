"""Structural guard for the stream contract in streaming/pipeline.py:
every stream starts through ``_drain`` and every dynamic partition
overwrite goes through ``overwrite_partitions``, so the per-stream
copies of either cannot creep back in unnoticed. Pure stdlib ``ast``;
docstrings and comments do not count."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kafka_stream_spark"
PIPELINE = PKG / "streaming" / "pipeline.py"
CONF_KEY = "spark.sql.sources.partitionOverwriteMode"


def _nodes_by_top_def(path: Path):
    """Yield (name of the enclosing module-level def or None, node)."""
    for top in ast.parse(path.read_text()).body:
        name = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            yield name, node


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
