"""Vector-quantization core: the one place a codebook is folded, searched
and trained. Every routed query and stream — IVF assignment and probes,
SemDeDup cells, the k-means quantizer, the clustering-quality keys and
the PQ codebooks — goes through these primitives.

- :func:`fold` — a codebook ``(cid, cvec[, key])`` as a broadcast
  ``array<struct<cid, cvec>>`` column, sorted by ``cid``: one row, or one
  row per ``key`` (per-side, per-subspace codebooks); no row at all for
  an empty codebook, so attaching it yields nothing, as a join against
  an empty codebook does.
- :func:`attach` — a frame fanned out and joined with its folded
  codebook.
- :func:`nearest` — per-row argmin or top-n over the attached codebook;
  :func:`distances` — the rounded score against every entry, in fold
  order (a PQ distance table that codes index into).
- :func:`lloyd` / :func:`update` — deterministic k-means training with no
  driver ``collect``.

:func:`kmeans_ctes` is the DuckDB twin of the training chain that the
oracles share.

Scores are rounded to 6 places before any comparison, the cross-engine
rule used throughout the repo. ``"cos"`` ranks the rounded cosine
DESC and ``"l2"`` the rounded squared L2 distance ASC, each with ``cid``
ASC as the tie-break, exactly as Spark's ``row_number() OVER (ORDER BY
score <dir>, cid)`` does on degenerate input too:

- a NaN cosine (NaN vector values) ranks first, since Spark orders NaN
  above every double; a NaN distance ranks last;
- a NULL score (a NULL or ragged vector, or a zero norm under
  ``try_divide``) ranks last for ``"cos"`` (DESC NULLS LAST) and first
  for ``"l2"`` (ASC NULLS FIRST).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors
from ..session import default_parallelism

#: name of the folded-codebook column that :func:`nearest` reads
CODEBOOK = "_cb"

_NEG_INF = "CAST('-Infinity' AS DOUBLE)"
_POS_INF = "CAST('Infinity' AS DOUBLE)"


def fold(codebook: DataFrame, key: str | None = None) -> DataFrame:
    """``(cid, cvec[, key])`` rows → broadcast ``([key,] _cb)``."""
    cb = F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias(CODEBOOK)
    if key is None:
        folded = codebook.agg(cb).filter(F.size(CODEBOOK) > 0)
    else:
        folded = codebook.groupBy(key).agg(cb)
    return F.broadcast(folded)


def attach(df: DataFrame, folded: DataFrame, on=None) -> DataFrame:
    """``df`` with its codebook row attached: a cross join, or a join on
    ``on`` for a keyed codebook. The frame is fanned out first because
    the per-row |codebook|·dim scoring would otherwise run inside a
    single-split scan task."""
    df = df.repartition(default_parallelism())
    return df.crossJoin(folded) if on is None else df.join(folded, on)


def _score_sql(vec: str, metric: str) -> str:
    """Rounded score of ``vec`` against the codebook entry ``c``."""
    if metric == "cos":
        return f"round({vectors.cosine_spark_sql(vec, 'c.cvec')}, 6)"
    if metric == "l2":
        return (
            f"round(aggregate(zip_with(CAST({vec} AS ARRAY<DOUBLE>), "
            f"CAST(c.cvec AS ARRAY<DOUBLE>), (x, y) -> (x - y) * (x - y)), "
            f"0D, (acc, v) -> acc + v), 6)"
        )
    raise ValueError(f"unknown metric {metric!r}")


def _ranked_sql(vec: str, metric: str) -> str:
    """One ``struct(k, cid, score, pos)`` per codebook entry, whose
    ascending struct order is the rank order: ``k`` is the score for
    ``"l2"``, and for ``"cos"`` the negated score with NaN mapped to
    -Infinity and NULL to +Infinity. ``pos`` is the entry's 1-based
    position in the fold."""
    key = (
        f"coalesce(nanvl(-t.score, {_NEG_INF}), {_POS_INF})"
        if metric == "cos"
        else "t.score"
    )
    return (
        f"transform(transform({CODEBOOK}, (c, i) -> struct("
        f"{_score_sql(vec, metric)} AS score, c.cid AS cid, i + 1 AS pos)), "
        f"t -> struct({key} AS k, t.cid AS cid, t.score AS score, "
        f"t.pos AS pos))"
    )


def nearest(vec: str, metric: str, n: int | None = None) -> Column:
    """Over the attached codebook: without ``n``, the nearest entry (the
    argmin) as ``struct<k, cid, score, pos>``; with ``n``, an array of
    the ``n`` nearest in rank order (fewer when the codebook is
    smaller)."""
    ranked = _ranked_sql(vec, metric)
    if n is None:
        return F.expr(f"array_min({ranked})")
    return F.expr(f"slice(array_sort({ranked}), 1, {int(n)})")


def distances(vec: str, metric: str) -> Column:
    """The rounded score of ``vec`` against every codebook entry, as an
    array in fold order: ``element_at(distances, nearest.pos)`` is the
    nearest entry's score."""
    return F.expr(f"transform({CODEBOOK}, c -> {_score_sql(vec, metric)})")


def update(assigned: DataFrame, key: str | None = None) -> DataFrame:
    """Lloyd update: ``(vec_id, [key,] cid, emb)`` → ``([key,] cid,
    cvec)``, the per-(cid, pos) means folded back to vectors. It
    shuffles (cid, pos, partial) triples, never raw vectors."""
    ks = [key] if key else []
    dims = (
        assigned.select(*ks, "cid", F.posexplode("emb").alias("pos", "val"))
        .groupBy(*ks, "cid", "pos")
        .agg(F.avg("val").alias("v"))
    )
    return dims.groupBy(*ks, "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("cvec")
    )


def lloyd(
    e: DataFrame,
    k: int,
    iters: int = 2,
    key: str | None = None,
    train: DataFrame | None = None,
) -> DataFrame:
    """Deterministic k-means over ``(vec_id, emb[, key])``: init = the
    ``k`` lowest vec_ids (per ``key``), then ``iters - 1`` rounds of
    squared-L2 assignment and :func:`update` over ``train`` (default
    ``e``), so the caller's own assignment against the result is the
    ``iters``-th pass. Returns ``([key,] cid, cvec)``."""
    ks = [key] if key else []
    if key is None:
        init = e.select("vec_id").orderBy("vec_id").limit(k).join(e, "vec_id")
    else:
        w = Window.partitionBy(key).orderBy("vec_id")
        init = e.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        )
    cent = init.select(
        *ks, F.col("vec_id").alias("cid"), F.col("emb").alias("cvec")
    )
    train = e if train is None else train
    for _ in range(iters - 1):
        assigned = attach(train, fold(cent, key), key).select(
            *ks, "emb", nearest("emb", "l2").cid.alias("cid")
        )
        cent = update(assigned, key)
    return cent


# --- DuckDB twin -------------------------------------------------------------


def kmeans_ctes(
    k: int = 8,
    iters: int = 2,
    src: str = "embeddings",
    vec: str = "embedding",
    key: str | None = None,
    prefix: str = "",
) -> str:
    """CTE chain of :func:`lloyd` over ``src (vec_id, vec[, key])``:
    ``<prefix>cent0`` (the k lowest vec_ids per key), then for
    i = 1..iters ``<prefix>assign<i> (vec_id, [key,] cid, dist)`` — the
    (dist, cid) argmin against ``cent<i-1>`` — and ``<prefix>cent<i>
    ([key,] cid, cvec)``, its update. Spark's ``lloyd(e, k, iters)``
    is ``cent<iters-1>``, and assigning against it gives
    ``assign<iters>``."""
    p = prefix
    # key column lists, bare and qualified, and the per-key join
    kc, ke, ka = (f"{key}, ", f"e.{key}, ", f"a.{key}, ") if key else ("", "", "")
    part = f"PARTITION BY {key} " if key else ""

    def against(c: int) -> str:
        if key:
            return f"JOIN {p}cent{c} c ON c.{key} = e.{key}"
        return f"CROSS JOIN {p}cent{c} c"

    dist = (
        f"round(list_aggregate(list_transform(range(len(e.{vec})), i -> "
        f"pow(CAST(e.{vec}[i + 1] AS DOUBLE) - c.cvec[i + 1], 2)), 'sum'), 6)"
    )
    ctes = [
        f"""{p}unn AS (
      SELECT vec_id, {kc}CAST(unnest({vec}) AS DOUBLE) AS val,
             unnest(range(len({vec}))) AS pos
      FROM {src}
    ), {p}cent0 AS (
      SELECT {kc}vec_id AS cid,
             list_transform({vec}, x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT *, row_number() OVER ({part}ORDER BY vec_id) AS r0
            FROM {src})
      WHERE r0 <= {k}
    )"""
    ]
    for i in range(1, iters + 1):
        ku = f" AND u.{key} = a.{key}" if key else ""
        ctes.append(
            f"""{p}assign{i} AS (
      SELECT vec_id, {kc}cid, dist FROM (
        SELECT e.vec_id, {ke}c.cid, {dist} AS dist,
               row_number() OVER (PARTITION BY {ke}e.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {src} e {against(i - 1)})
      WHERE rn = 1
    ), {p}cent{i} AS (
      SELECT {kc}cid, list(v ORDER BY pos) AS cvec FROM (
        SELECT {ka}a.cid, u.pos, avg(u.val) AS v
        FROM {p}assign{i} a JOIN {p}unn u ON u.vec_id = a.vec_id{ku}
        GROUP BY {ka}a.cid, u.pos)
      GROUP BY {kc}cid
    )"""
        )
    return ", ".join(ctes)
