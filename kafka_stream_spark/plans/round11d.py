"""Round-11 batch D (X754–X755): frequency-moment sketches.

Reference scope note: §2.13 mandate extensions, reference-free — the
bounded-memory stream summaries (AMS, space-saving) that complement
the existing CMS / HLL / Bloom / quantile-sketch family.

- X754 q_ams_f2: Alon-Matias-Szegedy second-frequency-moment sketch —
  K ±1-hash sign estimators, median-of-means, compared against the
  exact F2 so the gate pins both the sketch fold AND its accuracy.
- X755 q_space_saving: the Space-Saving heavy-hitters algorithm
  (Metwally et al. 2005) — k counters, evict-the-minimum, with the
  per-item overcount bound carried in the state and VERIFIED against
  exact prefix counts in the output (within_bound column).

Determinism: AMS signs are md5-parity; Space-Saving is an
order-dependent integer fold over the (ts, event_id) stream order,
replayed by a recursive-CTE oracle carrying the counter vectors
(the Elo/Kalman precedent); the gate instance folds only the first
_SS_GATE_STEPS events per stream and SAYS SO in the output schema
(gate_steps_cap column — the q_elo_ratings discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import token_hash, token_hash_sql
from ..session import default_parallelism
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X754 — AMS F2 sketch (median-of-means of squared sign sums)
# ---------------------------------------------------------------------------

_AMS_K = 32  # estimators
_AMS_G = 8  # mean groups (4 estimators each)


def _ams_sign_sql(k: str, item: str) -> str:
    inner = f"concat(CAST({k} AS VARCHAR), '|', CAST({item} AS VARCHAR), '|ams')"
    return f"(CASE WHEN ({token_hash_sql(inner)}) % 2 = 0 THEN 1 ELSE -1 END)"


_AMS_ORACLE = f"""
    WITH items AS (SELECT user_id AS item FROM events),
    z AS (
      SELECT k.k, CAST(sum({_ams_sign_sql('k.k', 'item')}) AS HUGEINT) AS zk
      FROM items CROSS JOIN (SELECT unnest(range({_AMS_K})) AS k) k
      GROUP BY k.k),
    grp AS (
      SELECT k // {_AMS_K // _AMS_G} AS g,
             CAST(avg(CAST(zk * zk AS DOUBLE)) AS DOUBLE) AS mean_x
      FROM z GROUP BY 1),
    med AS (
      SELECT avg(mean_x) AS est FROM (
        SELECT mean_x, row_number() OVER (ORDER BY mean_x, g) AS r
        FROM grp)
      WHERE r IN ({_AMS_G // 2}, {_AMS_G // 2 + 1})),
    exact AS (
      SELECT CAST(sum(CAST(f AS HUGEINT) * CAST(f AS HUGEINT)) AS DOUBLE)
        AS f2
      FROM (SELECT count(*) AS f FROM items GROUP BY item))
    SELECT CAST(g.g AS BIGINT) AS grp, round(g.mean_x, 4) AS mean_x,
           round(m.est, 4) AS f2_estimate,
           round(e.f2, 4) AS f2_exact,
           round(m.est / e.f2, 6) AS est_over_exact
    FROM grp g CROSS JOIN med m CROSS JOIN exact e
    ORDER BY grp
    """


@query("q_ams_f2", oracle=_AMS_ORACLE)
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X754 — AMS second-frequency-moment sketch: F2 = Σ f_item² from
    {_AMS_K} ±1-hash sign estimators — each keeps ONE integer
    Z_k = Σ_rows s_k(item); E[Z_k²] = F2 — combined median-of-means
    ({_AMS_G} groups of {_AMS_K // _AMS_G}).  The join-size / skew
    estimator a planner consults without counting every key.  The
    output carries the exact F2 and the est/exact ratio, so the gate
    pins the sketch's accuracy, not just its fold.

    Scale: one pass, {_AMS_K} integer accumulators per partition
    (combinable map-side); the exact-F2 audit column is one count
    shuffle and exists to PIN the estimate — production keeps only
    the sketch."""
    # the k-fold sign-hash expansion (K md5 hashes per row) is the
    # query's whole cost — fan the single-split scan out (guide §2.6)
    items = (
        load(spark, sf_dir, "events")
        .select(F.col("user_id").alias("item"))
        .repartition(default_parallelism())
    )
    ks = spark.range(_AMS_K).select(F.col("id").cast("int").alias("k"))
    sign = F.when(
        token_hash(
            F.concat(
                F.col("k").cast("string"),
                F.lit("|"),
                F.col("item").cast("string"),
                F.lit("|ams"),
            )
        )
        % 2
        == 0,
        1,
    ).otherwise(-1)
    dec = "decimal(38,0)"
    # z is K rows but its lineage is the full K·n hash pass; it feeds
    # both the median-of-means AND the per-group output — materialize
    # so the pass runs once, not twice (guide §2.4)
    z = (
        items.crossJoin(F.broadcast(ks))
        .select("k", sign.alias("s"))
        .groupBy("k")
        .agg(F.sum(F.col("s").cast(dec)).alias("zk"))
        .localCheckpoint(eager=True)
    )
    grp = (
        z.select(
            (F.col("k") / (_AMS_K // _AMS_G)).cast("int").alias("g"),
            (F.col("zk").cast("double") * F.col("zk").cast("double")).alias(
                "x"
            ),
        )
        .groupBy("g")
        .agg(F.avg("x").alias("mean_x"))
    )
    from pyspark.sql.window import Window as W

    med = (
        grp.withColumn(
            "r", F.row_number().over(W.orderBy("mean_x", "g"))
        )
        .filter(F.col("r").isin(_AMS_G // 2, _AMS_G // 2 + 1))
        .agg(F.avg("mean_x").alias("est"))
    )
    exact = (
        items.groupBy("item")
        .agg(F.count("*").alias("f"))
        .agg(
            F.sum((F.col("f") * F.col("f")).cast(dec))
            .cast("double")
            .alias("f2")
        )
    )
    return (
        grp.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("g").cast("long").alias("grp"),
            F.round("mean_x", 4).alias("mean_x"),
            F.round("est", 4).alias("f2_estimate"),
            F.round("f2", 4).alias("f2_exact"),
            F.round(F.col("est") / F.col("f2"), 6).alias("est_over_exact"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# X755 — Space-Saving heavy hitters (k counters, evict-the-minimum)
# ---------------------------------------------------------------------------

_SS_K = 8  # counters per stream
_SS_MOD = 23  # item = user_id % 23 (so k < distinct items → evictions)
_SS_GATE_STEPS = 400  # gate fold cap (differential-oracle cost)


def space_saving_fold(stream, k: int, state=None):
    """Space-Saving over an iterable of items: returns parallel lists
    (items, counts, errs).  Deterministic eviction: the minimum-count
    slot with the LOWEST index.  err[slot] is the count the evicted
    slot had when the new item took it — true frequency of a reported
    item lies in [count − err, count] (Metwally et al. Thm 3.1).
    Shared by the batch query, its pytest bound-check, and the
    streaming store (streaming/pipeline.space_saving_state_fold) —
    ``state`` resumes from prior (items, counts, errs) lists so
    incremental == batch is an identity."""
    if state is not None:
        items, counts, errs = (list(x) for x in state)
    else:
        items, counts, errs = [], [], []
    for it in stream:
        if it in items:
            counts[items.index(it)] += 1
        elif len(items) < k:
            items.append(it)
            counts.append(1)
            errs.append(0)
        else:
            m = min(counts)
            pos = counts.index(m)
            items[pos] = it
            errs[pos] = m
            counts[pos] = m + 1
    return items, counts, errs


def _ss_oracle() -> str:
    return f"""
    WITH RECURSIVE s AS (
      SELECT event_type, user_id % {_SS_MOD} AS item,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS gn
      FROM events),
    st AS (
      SELECT event_type, 0 AS step,
             CAST([] AS BIGINT[]) AS items,
             CAST([] AS BIGINT[]) AS counts,
             CAST([] AS BIGINT[]) AS errs
      FROM (SELECT DISTINCT event_type FROM s)
      UNION ALL
      SELECT event_type, step + 1,
             CASE WHEN pos > 0 THEN items
                  WHEN len(items) < {_SS_K}
                    THEN list_append(items, q_item)
                  ELSE list_transform(range(1, len(items) + 1),
                    i -> CASE WHEN i = mpos THEN q_item
                              ELSE items[i] END)
             END,
             CASE WHEN pos > 0
                    THEN list_transform(range(1, len(counts) + 1),
                      i -> counts[i]
                           + CASE WHEN i = pos THEN 1 ELSE 0 END)
                  WHEN len(items) < {_SS_K}
                    THEN list_append(counts, CAST(1 AS BIGINT))
                  ELSE list_transform(range(1, len(counts) + 1),
                    i -> CASE WHEN i = mpos THEN mval + 1
                              ELSE counts[i] END)
             END,
             CASE WHEN pos > 0 THEN errs
                  WHEN len(items) < {_SS_K}
                    THEN list_append(errs, CAST(0 AS BIGINT))
                  ELSE list_transform(range(1, len(errs) + 1),
                    i -> CASE WHEN i = mpos THEN mval
                              ELSE errs[i] END)
             END
      FROM (
        SELECT st.event_type, st.step, st.items, st.counts, st.errs,
               q.item AS q_item,
               list_position(st.items, q.item) AS pos,
               list_min(st.counts) AS mval,
               list_position(st.counts, list_min(st.counts)) AS mpos
        FROM st JOIN s q
          ON q.event_type = st.event_type AND q.gn = st.step + 1
        WHERE st.step < {_SS_GATE_STEPS}
      ) t),
    fin AS (
      SELECT event_type, items, counts, errs,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY step DESC) AS rk
      FROM st),
    flat AS (
      SELECT event_type, items[i] AS item, counts[i] AS est_count,
             errs[i] AS overcount_bound
      FROM fin, unnest(range(1, len(items) + 1)) u(i)
      WHERE rk = 1),
    exact AS (
      SELECT event_type, item, CAST(count(*) AS BIGINT) AS true_count
      FROM s WHERE gn <= {_SS_GATE_STEPS}
      GROUP BY event_type, item)
    SELECT f.event_type, f.item, f.est_count, f.overcount_bound,
           coalesce(e.true_count, 0) AS true_count,
           CAST(coalesce(e.true_count, 0) >= f.est_count - f.overcount_bound
                AND coalesce(e.true_count, 0) <= f.est_count
                AS BIGINT) AS within_bound,
           CAST({_SS_GATE_STEPS} AS BIGINT) AS gate_steps_cap
    FROM flat f LEFT JOIN exact e
      ON e.event_type = f.event_type AND e.item = f.item
    ORDER BY f.event_type, f.est_count DESC, f.item
    """


@query("q_space_saving", oracle=_ss_oracle())
def q_space_saving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X755 — Space-Saving heavy hitters: {_SS_K} counters per stream
    (event_type), evict-the-minimum on overflow, per-slot overcount
    bound carried in state — the bounded-memory top-k frequency
    summary (Metwally et al. 2005) streaming aggregators keep when
    the key space is unbounded.  The output joins exact prefix counts
    and pins the algorithm's guarantee: true ∈ [est − bound, est]
    (within_bound = 1 on every row).

    Order-dependent integer fold — ONE applyInPandas per stream
    (Kalman/Elo shape), zero driver iteration; the recursive-CTE
    oracle replays the identical counter-vector steps.  The gate
    instance folds the first {_SS_GATE_STEPS} events per stream and
    carries that cap in its schema (gate_steps_cap — the
    q_elo_ratings discipline); the fold itself is cap-free.

    Scale: state is 3·k integers per stream however long the stream;
    streams partition the shuffle."""
    from pyspark.sql.window import Window as W

    s = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.col("user_id") % _SS_MOD).alias("item"),
            "ts",
            "event_id",
        )
        .withColumn(
            "gn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("gn") <= _SS_GATE_STEPS)
    )

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("gn")
        items, counts, errs = space_saving_fold(
            (int(x) for x in pdf["item"]), _SS_K
        )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]] * len(items),
                "item": items,
                "est_count": counts,
                "overcount_bound": errs,
            }
        )

    flat = s.groupBy("event_type").applyInPandas(
        fold,
        schema=(
            "event_type string, item long, est_count long, "
            "overcount_bound long"
        ),
    )
    exact = s.groupBy("event_type", "item").agg(
        F.count("*").alias("true_count")
    )
    return (
        flat.join(exact, ["event_type", "item"], "left")
        .select(
            "event_type",
            "item",
            "est_count",
            "overcount_bound",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            (
                (
                    F.coalesce("true_count", F.lit(0))
                    >= F.col("est_count") - F.col("overcount_bound")
                )
                & (F.coalesce("true_count", F.lit(0)) <= F.col("est_count"))
            )
            .cast("long")
            .alias("within_bound"),
            F.lit(_SS_GATE_STEPS).cast("long").alias("gate_steps_cap"),
        )
        .orderBy("event_type", F.desc("est_count"), "item")
    )
