"""The vector-quantization core (operators/vq.py): one copy of the
codebook fold, the nearest-centroid ordering and Lloyd training, pinned
against the window forms and DuckDB chains they stand for, on degenerate
input too."""

from __future__ import annotations

import ast
import random
import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_stream_spark.functions import vectors
from kafka_stream_spark.operators import ann, vq

PKG = Path(__file__).resolve().parent.parent / "kafka_stream_spark"
CORE = PKG / "operators" / "vq.py"

NAN = float("nan")

#: (vectors (id, v), codebook (cid, cvec)) on which the rank order of
#: every metric must equal the window form's
FRAMES = {
    # a NaN cosine sorts first (Spark orders NaN above every double),
    # a zero norm gives a NULL cosine, which sorts last
    "nan_zero_norm": (
        [(1, [1.0, 0.2]), (2, [NAN, 0.5]), (3, [0.0, 0.0]), (4, [0.3, 1.0])],
        [
            (0, [1.0, 0.0]),
            (1, [NAN, 1.0]),
            (2, [0.0, 1.0]),
            (3, [0.0, 0.0]),
            (4, [1.0, 1.0]),
        ],
    ),
    # a NULL vector, and a ragged centroid whose zip_with pads NULLs
    "null_ragged": (
        [(1, [1.0, 0.2]), (2, None), (3, [0.1, 1.0]), (4, [0.5, 0.5])],
        [(0, [1.0, 0.0, 0.0]), (5, [1.0, 0.0]), (7, [0.0, 1.0])],
    ),
    # exact score ties broken by cid; an empty and a ragged vector
    "ties_ragged": (
        [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, []), (4, [2.0, 0.0, 1.0])],
        [(3, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (0, [2.0, 0.0])],
    ),
    "empty_codebook": ([(1, [1.0, 0.2]), (2, [0.0, 0.0])], []),
}


def _frames(spark, name, keyed):
    vecs, book = FRAMES[name]
    v = spark.createDataFrame(vecs, "id long, v array<double>")
    cb = spark.createDataFrame(book, "cid long, cvec array<double>")
    if keyed:
        # every vector is searched in subspaces 0 and 1; a centroid
        # belongs to subspace cid % 2
        v = v.crossJoin(spark.range(2).select(F.col("id").alias("m")))
        cb = cb.withColumn("m", F.col("cid") % 2)
    return v, cb


def _score(metric):
    if metric == "cos":
        s = F.try_divide(
            vectors.dot("v", "cvec"), vectors.norm("v") * vectors.norm("cvec")
        )
    else:
        s = F.aggregate(
            F.zip_with("v", "cvec", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    return F.round(s, 6)


def _key(*vals):
    return tuple(None if x is None else repr(x) for x in vals)


def _window_form(v, cb, metric, n, key):
    """row_number() OVER (PARTITION BY id[, key] ORDER BY score <dir>,
    cid) <= n over the joined codebook: the form vq.nearest replaces."""
    order = F.desc("score") if metric == "cos" else F.asc("score")
    part = ["id"] + ([key] if key else [])
    joined = v.crossJoin(cb) if key is None else v.join(cb, key)
    w = Window.partitionBy(*part).orderBy(order, "cid")
    rows = (
        joined.withColumn("score", _score(metric))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
        .collect()
    )
    return {
        _key(r["id"], r[key] if key else 0, r["rk"], r["cid"], r["score"])
        for r in rows
    }


def _nearest_form(v, cb, metric, n, key):
    """vq.nearest's top-n, or its argmin when ``n`` is None."""
    if n is None:
        ranked, n = F.array(vq.nearest("v", metric)), 1
    else:
        ranked = vq.nearest("v", metric, n)
    rows = (
        vq.attach(v, vq.fold(cb, key), key)
        .select(
            "id",
            (F.col(key) if key else F.lit(0)).alias("k"),
            F.posexplode(ranked).alias("p0", "nn"),
        )
        .collect()
    )
    return {
        _key(r["id"], r["k"], r["p0"] + 1, r["nn"]["cid"], r["nn"]["score"])
        for r in rows
    }


@pytest.mark.parametrize("keyed", [False, True], ids=["flat", "keyed"])
@pytest.mark.parametrize("n", [1, 3])
@pytest.mark.parametrize("metric", ["cos", "l2"])
@pytest.mark.parametrize("frame", sorted(FRAMES))
def test_nearest_matches_window(spark, frame, metric, n, keyed):
    """vq.nearest's top-n and argmin equal the window form, rank by rank,
    with the same rounded score — NaN, NULL, zero-norm, ragged and empty
    inputs and the empty codebook (which yields no row) included."""
    key = "m" if keyed else None
    v, cb = _frames(spark, frame, keyed)
    got = _nearest_form(v, cb, metric, n, key)
    assert got == _window_form(v, cb, metric, n, key)
    if n == 1:  # the argmin is the top-1
        assert _nearest_form(v, cb, metric, None, key) == got
    if frame == "empty_codebook":
        assert got == set()


def _ranks(spark, frame, metric):
    v, cb = _frames(spark, frame, False)
    rows = vq.attach(v, vq.fold(cb)).select(
        "id", F.posexplode(vq.nearest("v", metric, 9)).alias("p", "nn")
    )
    out: dict = {}
    for r in sorted(rows.collect(), key=lambda r: (r["id"], r["p"])):
        out.setdefault(r["id"], []).append(r["nn"]["cid"])
    return out


def test_nearest_degenerate_ranks(spark):
    """The orderings spelled out: a NaN cosine ranks first and a NULL
    (zero-norm) one last; a NULL (ragged) distance ranks first and a
    NaN one last."""
    assert _ranks(spark, "nan_zero_norm", "cos")[1] == [1, 0, 4, 2, 3]
    assert _ranks(spark, "nan_zero_norm", "l2")[1] == [0, 4, 3, 2, 1]
    assert _ranks(spark, "null_ragged", "l2")[1] == [0, 5, 7]
    assert _ranks(spark, "null_ragged", "cos")[1] == [5, 7, 0]


def test_distances_index_by_nearest_pos(spark):
    """element_at(distances, nearest.pos) is the nearest entry's score:
    the indexed lookup the PQ distance tables rely on."""
    v, cb = _frames(spark, "ties_ragged", True)
    rows = (
        vq.attach(v, vq.fold(cb, "m"), "m")
        .select(
            vq.nearest("v", "l2").alias("nn"),
            vq.distances("v", "l2").alias("d"),
        )
        .select("nn.score", F.element_at("d", F.col("nn.pos")).alias("at"))
        .collect()
    )
    assert rows and all(_key(r["score"]) == _key(r["at"]) for r in rows)


def test_ivf_assign_on_zero_norm_vectors(spark):
    """A zero-norm corpus vector or centroid has a NULL cosine that ranks
    last, as in the (rounded try_divide cosine DESC, c_id) window form,
    instead of failing the assignment with DIVIDE_BY_ZERO."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.2]), (2, [0.0, 0.0]), (3, [0.1, 1.0])],
        "n_id long, emb array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0]), (5, [1.0, 0.0]), (7, [0.0, 1.0])],
        "c_id long, c_emb array<double>",
    )
    got = {
        (r["n_id"], r["centroid_id"])
        for r in ann.ivf_assign(corpus, cent).collect()
    }
    v = corpus.select(F.col("n_id").alias("id"), F.col("emb").alias("v"))
    cb = cent.select(F.col("c_id").alias("cid"), F.col("c_emb").alias("cvec"))
    want = {
        (int(r[0]), int(r[3])) for r in _window_form(v, cb, "cos", 1, None)
    }
    assert got == want == {(1, 5), (2, 0), (3, 7)}


def _write_embeddings(path: Path) -> None:
    """A small embeddings table with six centroids (vec_id % 50 == 0) on
    each side (label % 2), so that nprobe=2 routing is selective; the
    side-0 centroid vec_id 0 has a NULL embedding."""
    rnd = random.Random(7)
    rows = []
    for i in range(600):
        emb = None if i == 0 else [round(rnd.uniform(-1, 1), 3) for _ in range(4)]
        label = (i // 50) % 4 if i % 50 == 0 else rnd.randrange(4)
        rows.append((i, emb, label))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (vec_id BIGINT, embedding FLOAT[], label INTEGER)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    con.execute(f"COPY t TO '{path / 'embeddings.parquet'}' (FORMAT parquet)")


def test_margin_mining_routed_ranks_null_cosine_centroid_last(spark, tmp_path):
    """q_margin_mining_routed routes through the per-side codebook: a
    centroid whose cosine is NULL ranks last, as in the windows its
    DuckDB oracle replays, so the two engines agree on the mined pairs."""
    import __spark_entry__ as entry

    _write_embeddings(tmp_path)
    key = "q_margin_mining_routed"
    df = entry.queries()[key](spark, str(tmp_path))
    cols = sorted(df.columns)
    got = sorted(tuple(_key(*(r[c] for c in cols))) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    res = con.sql(entry.oracle_sql()[key])
    idx = [res.columns.index(c) for c in cols]
    want = sorted(tuple(_key(*(r[i] for i in idx))) for r in res.fetchall())
    assert got and got == want


def test_lloyd_matches_kmeans_ctes(spark):
    """vq.lloyd and its DuckDB twin train the same codebooks, flat and
    per key, from the k lowest (not the k smallest-valued) ids."""
    rnd = random.Random(3)
    rows = [
        (5 + 3 * i, m, [round(rnd.uniform(-1, 1), 4) for _ in range(3)])
        for i in range(40)
        for m in (0, 1)
    ]
    e = spark.createDataFrame(rows, "vec_id long, m int, emb array<double>")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, m INTEGER, emb DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    for key in (None, "m"):
        src = e if key else e.filter("m = 0").drop("m")
        spark_cb = {
            (r[key] if key else 0, r["cid"]): [round(x, 9) for x in r["cvec"]]
            for r in vq.lloyd(src, 4, iters=3, key=key).collect()
        }
        tbl = "t" if key else "(SELECT vec_id, emb FROM t WHERE m = 0)"
        sql = (
            f"WITH {vq.kmeans_ctes(k=4, iters=2, src=tbl, vec='emb', key=key)} "
            f"SELECT {key or 0}, cid, cvec FROM cent2"
        )
        duck_cb = {
            (m, cid): [round(x, 9) for x in cvec]
            for m, cid, cvec in con.sql(sql).fetchall()
        }
        assert spark_cb and spark_cb == duck_cb


def test_quantizer_training_fires_no_collect(spark, sf_dir, monkeypatch):
    """Building the k-means and PQ keys runs no driver collect: every
    codebook stays a broadcast column."""
    import __spark_entry__ as entry
    from pyspark.sql import DataFrame

    def refuse(self, *a, **k):
        raise AssertionError("driver collect() during construction")

    monkeypatch.setattr(DataFrame, "collect", refuse)
    qs = entry.queries()
    for key in ("q_kmeans_quantizer", "q_pq_codebook", "q_ivfpq_recall"):
        qs[key](spark, sf_dir)


# --- the guard --------------------------------------------------------------

_VEC_NAME = re.compile(r"emb|vec")
_FOLD_SQL = re.compile(r"collect_list\(\s*struct\([^)]*(emb|vec)")
_ORDER_SQL = re.compile(r"(array_min|array_sort)\(\s*transform\(")
# struct-valued elements: a field read off a lambda variable or a result
_FIELD = r"(c_?id|\w*(emb|vec)\w*)"
_FIELD_SQL = re.compile(rf"(\b[a-z_]\w*|\))\.{_FIELD}\b")
_LITERAL_SQL = re.compile(r"named_struct\(\s*'cid'")


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _template(node: ast.AST) -> str | None:
    """The text of a string literal; an f-string's holes read ``{}``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    return None


def _col_name(arg: ast.expr) -> str:
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value
    if isinstance(arg, ast.Call) and _name(arg.func) == "col" and arg.args:
        return _col_name(arg.args[0])
    return ""


def _reads_field(lam: ast.expr) -> bool:
    """A Column lambda that reads a codebook field (an id or a vector)
    of its struct element."""
    if not isinstance(lam, ast.Lambda):
        return False
    params = {a.arg for a in lam.args.args}
    return any(
        isinstance(n, ast.Subscript)
        and isinstance(n.value, ast.Name)
        and n.value.id in params
        and isinstance(n.slice, ast.Constant)
        and isinstance(n.slice.value, str)
        and re.fullmatch(_FIELD, n.slice.value)
        for n in ast.walk(lam.body)
    )


def _vq_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, what) of every codebook fold, ordering over a codebook and
    literal codebook spelled out in ``tree``."""
    sites = []
    strings = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.JoinedStr):
            strings.update(id(v) for v in n.values)
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            what = _name(n.func)
            if what == "collect_list" and n.args:
                s = n.args[0]
                if (
                    isinstance(s, ast.Call)
                    and _name(s.func) == "struct"
                    and any(_VEC_NAME.search(_col_name(a)) for a in s.args)
                ):
                    sites.append((n.lineno, "codebook fold"))
            if what in ("array_min", "array_sort") and n.args:
                t = n.args[0]
                if (
                    isinstance(t, ast.Call)
                    and _name(t.func) == "transform"
                    and len(t.args) > 1
                    and _reads_field(t.args[1])
                ):
                    sites.append((n.lineno, f"{what} over a codebook"))
        if id(n) in strings:
            continue  # read as part of its f-string
        text = _template(n)
        if text is None:
            continue
        if _FOLD_SQL.search(text):
            sites.append((n.lineno, "codebook fold (SQL)"))
        if _ORDER_SQL.search(text) and _FIELD_SQL.search(text):
            sites.append((n.lineno, "ordering over a codebook (SQL)"))
        if _LITERAL_SQL.search(text):
            sites.append((n.lineno, "literal codebook"))
    return sites


#: spellings of the copies operators/vq.py replaced, each of which the
#: guard must flag, and orderings that are not over a codebook
_COPIES = [
    'F.collect_list(F.struct("c_id", "c_emb"))',
    'F.expr(f"array_min(transform(_cents, c -> {s})).c_id")',
    'F.expr(f"transform(slice(array_sort(transform(_cents, c -> struct('
    '{s} AS ns, c.cid AS cid))), 1, {n}), s -> s.cid)")',
    'F.array_min(F.transform("_cb", lambda c: F.struct(c["d"], c["cid"])))',
    "f\"named_struct('cid', CAST({c} AS BIGINT), 'cvec', array({v}))\"",
]
_NOT_COPIES = [
    "F.array_min(F.transform(hashed_shingles, lambda h: perm_hash(h, a, b)))",
    'F.expr(f"array_min(transform({hashed_shingles}, h -> {p}))")',
    'F.array_sort(F.collect_list(F.struct("pos", "v")))',
    'F.array_sort(F.transform(F.map_entries(m), lambda e: e["key"]))',
]


def test_guard_flags_codebook_spellings():
    for src in _COPIES:
        assert _vq_sites(ast.parse(src)), src
    for src in _NOT_COPIES:
        assert not _vq_sites(ast.parse(src)), src


def test_codebook_code_lives_only_in_vq_core():
    """Codebook folds, argmin/top-n orderings over a codebook and
    literal codebooks are written once, in operators/vq.py. (The
    MinHash array_min in functions/hashing.py orders hashes, not a
    codebook, and is not flagged.)"""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == CORE:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders += [
            f"{path.relative_to(PKG)}:{line}: {what}"
            for line, what in _vq_sites(tree)
        ]
    assert not offenders, "codebook code outside operators/vq.py:\n" + (
        "\n".join(offenders)
    )
    core = {what for _l, what in _vq_sites(ast.parse(CORE.read_text()))}
    assert "codebook fold" in core
