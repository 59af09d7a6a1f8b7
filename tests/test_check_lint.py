"""The differential checker's driver-compatibility lint
(tools/check.py:lint_oracle_output): oracle result sets must be
scalar-typed, CAST away from HUGEINT/DECIMAL, and rounded — the three
classes that ERR or hash-mismatch on the driver side even when values
are semantically equal (r2's one red cell, q_map_funcs, was the
non-scalar class)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check import lint_oracle_output  # noqa: E402


def _lint(sql: str) -> list[str]:
    rel = duckdb.sql(sql)
    return lint_oracle_output(rel.columns, rel.types, rel.fetchall())


def test_clean_scalar_output_passes():
    assert _lint("SELECT 1 AS a, 'x' AS b, round(1.0/3, 6) AS c") == []


def test_list_column_flagged():
    probs = _lint("SELECT [1, 2, 3] AS xs")
    assert len(probs) == 1 and "non-scalar" in probs[0] and "xs" in probs[0]


def test_struct_and_map_columns_flagged():
    probs = _lint("SELECT {'a': 1} AS s, map(['k'], [1]) AS m")
    assert any("'s'" in p for p in probs)
    assert any("'m'" in p for p in probs)


def test_hugeint_and_decimal_flagged():
    probs = _lint("SELECT sum(x) AS tot FROM (SELECT 1::BIGINT AS x)")
    assert probs and "fragile" in probs[0]
    probs = _lint("SELECT 1.5::DECIMAL(10,2) AS d")
    assert probs and "fragile" in probs[0]


def test_unrounded_double_flagged_and_rounded_passes():
    probs = _lint("SELECT 1.0/3 AS v")
    assert probs and "unrounded" in probs[0]
    assert _lint("SELECT round(1.0/3, 6) AS v") == []


def test_null_and_nan_doubles_tolerated():
    assert _lint("SELECT CAST(NULL AS DOUBLE) AS v") == []
    assert _lint("SELECT 'nan'::DOUBLE AS v") == []
