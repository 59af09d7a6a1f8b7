"""The MinHash-LSH near-dup core (operators/lsh.py): one copy of the
chain, and the arrival-order contract of the streaming near-dedup log
built on its incremental candidate join."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from pyspark.sql import functions as F

PKG = Path(__file__).resolve().parent.parent / "kafka_stream_spark"
CORE = PKG / "operators" / "lsh.py"


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _calls(node: ast.AST, name: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call) and _name(n.func) == name
    ]


def _chain_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, what) of every near-dup chain step spelled out in ``tree``:
    a shingle_hashes call, an overlap count ``size(filter(a, v ->
    array_contains(b, v)))`` (as Columns or as parsed Spark SQL) and an
    explode over band_keys."""
    sites = [
        (c.lineno, "shingle_hashes") for c in _calls(tree, "shingle_hashes")
    ]
    for size in _calls(tree, "size"):
        for flt in size.args:
            if not (
                isinstance(flt, ast.Call)
                and _name(flt.func) == "filter"
                and len(flt.args) > 1
            ):
                continue
            lam = flt.args[1]
            if isinstance(lam, ast.Lambda) and _calls(
                lam.body, "array_contains"
            ):
                sites.append((size.lineno, "overlap lambda"))
    for ex in _calls(tree, "explode"):
        if any(_calls(a, "band_keys") for a in ex.args):
            sites.append((ex.lineno, "explode(band_keys)"))
    overlap_sql = re.compile(r"size\(\s*filter\([^;]*?array_contains\(", re.S)
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            if overlap_sql.search(n.value):
                sites.append((n.lineno, "overlap lambda (SQL)"))
    return sites


def test_near_dup_chain_lives_only_in_lsh_core():
    """Shingling, the overlap count and band-key explosion are written
    once, in operators/lsh.py; every batch query and streaming store
    calls it. (functions/ holds the definitions, which are not calls.)"""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == CORE:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders += [
            f"{path.relative_to(PKG)}:{line}: {what}"
            for line, what in _chain_sites(tree)
        ]
    assert not offenders, "near-dup chain outside operators/lsh.py:\n" + (
        "\n".join(offenders)
    )
    core = {what for _line, what in _chain_sites(ast.parse(CORE.read_text()))}
    assert core == {"shingle_hashes", "overlap lambda", "explode(band_keys)"}


def _flag_reference(pairs, arrival: dict[int, int]) -> dict[int, tuple]:
    """Pure-Python near-dedup log for documents arriving in batches
    (``arrival``: doc_id → batch index): each verified pair flags its
    later-arriving doc — within one batch, the larger doc_id — with the
    smallest earlier partner and the largest Jaccard."""
    flags: dict[int, list] = {}
    for a, b, j in pairs:
        if arrival[a] > arrival[b]:
            a, b = b, a
        cur = flags.setdefault(b, [a, j])
        cur[0], cur[1] = min(cur[0], a), max(cur[1], j)
    return {d: tuple(v) for d, v in flags.items()}


def test_streaming_near_dedup_flags_later_arrival_any_order(spark, tmp_path):
    """Deliver the upper doc_id half first and the lower half second:
    a pair whose later-arriving doc has the smaller id must still be
    found, and that doc flagged, in the batch where it lands."""
    from kafka_stream_spark.plans.llm_ext import near_dup_pairs
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import near_dedup_batch_fn

    sf = "/root/testdata/sf0.01"
    docs = load(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    upper = docs.filter(F.col("doc_id") > median)
    lower = docs.filter(F.col("doc_id") <= median)
    arrival = {r.doc_id: 0 for r in upper.select("doc_id").collect()}
    arrival.update({r.doc_id: 1 for r in lower.select("doc_id").collect()})
    pairs = [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in near_dup_pairs(spark, sf).collect()
    ]
    crossing = [p for p in pairs if arrival[p[0]] > arrival[p[1]]]
    assert crossing, "fixture has no pair whose later doc has the smaller id"

    store, out = str(tmp_path / "store"), str(tmp_path / "dups")
    fold = near_dedup_batch_fn(store, out)

    def flagged():
        return {
            r.doc_id: (r.dup_of, r.max_jaccard)
            for r in spark.read.parquet(out).collect()
        }

    fold(upper, 0)
    first = [p for p in pairs if arrival[p[0]] == arrival[p[1]] == 0]
    assert flagged() == _flag_reference(first, arrival)
    fold(lower, 1)
    want = _flag_reference(pairs, arrival)
    assert flagged() == want
    assert {a for a, _b, _j in crossing} <= set(want)
