"""The one board enrichment chain (boards.py): the rule join, the
only_id recipe and the DuckDB twin are each written once, and the batch
and CDC entry points are that chain."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kafka_stream_spark"


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _sites(check) -> set[tuple[str, str]]:
    """(module, innermost enclosing function or ``<module>``) of every
    node in the package for which ``check(node)`` holds."""
    found = set()

    def visit(node: ast.AST, path: Path, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if check(node, fn):
            found.add((str(path.relative_to(PKG)), fn))
        for child in ast.iter_child_nodes(node):
            visit(child, path, fn)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text(), filename=str(path)), path, "<module>")
    return found


def _calls(name: str):
    return lambda n, fn: isinstance(n, ast.Call) and _name(n.func) == name


def _collects_rules(n: ast.AST, fn: str) -> bool:
    """A function that calls ``.collect()`` and reads the rules dim's
    ``in_rules`` column."""
    if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return False
    body = list(ast.walk(n))
    return any(_calls("collect")(c, fn) for c in body) and any(
        (isinstance(c, ast.Constant) and c.value == "in_rules")
        or (isinstance(c, ast.Attribute) and c.attr == "in_rules")
        for c in body
    )


def test_rule_join_lives_in_one_function():
    """Collecting the rules dim, compiling the join condition and the
    broadcast join happen in ``rules.match`` only; the batch board, the
    CDC board and q_rule_match call it."""
    one = {("functions/rules.py", "match")}
    assert _sites(_calls("compiled_join_cond")) == one
    assert _sites(_collects_rules) == one


def test_only_id_recipe_lives_in_the_core():
    """``surrogate_key(col("yqid"), ...)`` — the only_id recipe — is
    spelled once, in ``boards.enrich``."""

    def only_id(n, fn):
        if not (isinstance(n, ast.Call) and _name(n.func) == "surrogate_key"):
            return False
        first = n.args[0] if n.args else None
        return (
            isinstance(first, ast.Call)
            and _name(first.func) == "col"
            and [getattr(a, "value", None) for a in first.args] == ["yqid"]
        )

    assert _sites(only_id) == {("boards.py", "enrich")}


def test_duckdb_twin_lives_in_the_core():
    """The DuckDB rule predicate is embedded by one SQL twin of the
    rule join, ``boards.match_sql``, which ``boards.enrich_sql`` and the
    q_rule_match oracle use."""
    assert _sites(_calls("duckdb_match_sql")) == {("boards.py", "match_sql")}


def test_batch_and_cdc_boards_share_the_chain(spark):
    """One fact row through both entry points: the shared tail columns
    agree, and each board keeps its own head and yqid recipe."""
    from kafka_stream_spark.boards import CDC, DOCS
    from kafka_stream_spark.plans.pipeline import enrich
    from kafka_stream_spark.streaming.pipeline import enrich_cdc

    title = "the spark fast stream window table scan filter"
    docs = spark.createDataFrame(
        [(7, title, "src1", "en")], schema=["doc_id", "title", "source", "lang"]
    )
    cdc = spark.createDataFrame(
        [("name_7", "src1", title, "2024-01-01 00:00:00", "http://doc/7")],
        schema=["cmp_short_name", "cmp_code", "title", "publish_date", "url"],
    )
    a = enrich(docs, spark)
    b = enrich_cdc(cdc, spark)
    tail = a.columns[len(DOCS.head):]
    assert b.columns[len(CDC.head):] == tail
    assert b.columns[: len(CDC.head)] == list(CDC.head)
    rows_a = sorted(tuple(r) for r in a.select(*tail, "site_name").collect())
    rows_b = sorted(tuple(r) for r in b.select(*tail, "site_name").collect())
    assert rows_a == rows_b and len(rows_a) == 2
    assert {r["yqid"] for r in a.collect()} != {r["yqid"] for r in b.collect()}
