"""Round-11 batch G (X761): Bayesian online changepoint detection.

Reference scope note: §2.13 mandate extensions, reference-free — the
probabilistic changepoint monitor (Adams & MacKay 2007) that
complements the battery's frequentist drift tests (CUSUM,
Page-Hinkley, binary segmentation): instead of a reject/accept
decision it maintains a full posterior over "how long since the last
regime change", which is what a pipeline-health dashboard actually
wants to show.

Determinism: the fold is EXACT INTEGER arithmetic end-to-end —
posterior mass is kept in 1e-9 units, every Bernoulli-Beta predictive
update is a half-up rational quantization, and normalization is
half-up integer division — so the recursive-CTE oracle replays the
identical state trajectory (the Kalman/Elo/Space-Saving precedent).
The gate instance folds the first _BOCPD_GATE_STEPS events per stream
and carries that cap in its schema (gate_steps_cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

_BOCPD_R = 8  # truncated run-length slots (last = "≥ R-1")
_BOCPD_H = 20  # hazard in milli (0.02)
_BOCPD_THRESH = 100.0  # x_t = 1 if value > threshold
_BOCPD_GATE_STEPS = 300  # gate fold cap (differential-oracle cost)


def _hu(num: int, den: int) -> int:
    """Half-up(num/den) for non-negative integers."""
    return (2 * num + den) // (2 * den)


def bocpd_fold(xs, r: int = _BOCPD_R, h: int = _BOCPD_H, state=None):
    """Truncated-run-length BOCPD over a 0/1 iterable: returns
    (mass, ns, ones, cp_count) — posterior mass per slot in 1e-9
    units, per-slot run observation counts / one counts, and the
    number of MAP-reset steps: the changepoint-slot posterior is
    always exactly the hazard (the predictive cancels in the
    normalizer), so detection reads the MAP run length — a step where
    the argmax slot DROPS by more than 1 means the short-run
    hypotheses seeded at a recent changepoint have overtaken the long
    run: a detected regime change.  Slot merging at the cap keeps the
    capped slot's own sufficient stats (the continuing-run
    hypothesis); mass from the slot below merges in.  Shared by the
    batch query, its pytest recount, and the streaming store
    (streaming/pipeline.bocpd_state_fold) — ``state`` resumes the
    fold from a prior (mass, ns, ones, cp, prev_map) tuple so
    incremental == batch is an identity."""
    if state is not None:
        mass, ns, ones, cp, prev_map = state
        mass, ns, ones = list(mass), list(ns), list(ones)
    else:
        mass = [10**9] + [0] * (r - 1)
        ns = [0] * r
        ones = [0] * r
        cp = 0
        prev_map = 0
    for x in xs:
        gq = [0] * r
        cq = [0] * r
        for i in range(r):
            if mass[i] == 0:
                continue
            pn = 1 + ones[i] if x == 1 else 1 + ns[i] - ones[i]
            pd = 2 + ns[i]
            gq[i] = _hu(mass[i] * pn * (1000 - h), pd * 1000)
            cq[i] = _hu(mass[i] * pn * h, pd * 1000)
        new_mass = [sum(cq)] + [gq[j - 1] for j in range(1, r)]
        new_mass[r - 1] += gq[r - 1]
        tot = sum(new_mass)
        mass = [_hu(m * 10**9, tot) for m in new_mass]
        ns = [0] + [ns[j - 1] + 1 for j in range(1, r - 1)] + [ns[r - 1] + 1]
        ones = (
            [0]
            + [ones[j - 1] + x for j in range(1, r - 1)]
            + [ones[r - 1] + x]
        )
        map_slot = mass.index(max(mass))
        if map_slot < prev_map - 1:
            cp += 1
        prev_map = map_slot
    if state is not None:
        return mass, ns, ones, cp, prev_map
    return mass, ns, ones, cp


def _bocpd_oracle() -> str:
    r, h = _BOCPD_R, _BOCPD_H
    return f"""
    WITH RECURSIVE s AS (
      SELECT event_type,
             CASE WHEN value > {_BOCPD_THRESH} THEN 1 ELSE 0 END AS x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS gn
      FROM events),
    st AS (
      SELECT event_type, 0 AS step,
             [CAST(1000000000 AS BIGINT)]
               || list_transform(range({r - 1}), i -> CAST(0 AS BIGINT))
               AS mass,
             list_transform(range({r}), i -> CAST(0 AS BIGINT)) AS ns,
             list_transform(range({r}), i -> CAST(0 AS BIGINT)) AS ones,
             CAST(0 AS BIGINT) AS cp,
             CAST(1 AS BIGINT) AS pm
      FROM (SELECT DISTINCT event_type FROM s)
      UNION ALL
      SELECT event_type, step + 1, nmz,
             list_transform(range(1, {r} + 1), j ->
               CASE WHEN j = 1 THEN CAST(0 AS BIGINT)
                    WHEN j < {r} THEN ns[j - 1] + 1
                    ELSE ns[{r}] + 1 END),
             list_transform(range(1, {r} + 1), j ->
               CASE WHEN j = 1 THEN CAST(0 AS BIGINT)
                    WHEN j < {r} THEN ones[j - 1] + x
                    ELSE ones[{r}] + x END),
             cp + CASE WHEN list_position(nmz, list_max(nmz)) < pm - 1
               THEN 1 ELSE 0 END,
             CAST(list_position(nmz, list_max(nmz)) AS BIGINT)
      FROM (
        SELECT t25.*,
               list_transform(t25.nm, m ->
                 CAST((2 * m * 1000000000 + t25.tot)
                      // (2 * t25.tot) AS BIGINT)) AS nmz
        FROM (
        SELECT t2.*, list_sum(t2.nm) AS tot
        FROM (
          SELECT t.*,
                 list_transform(range(1, {r} + 1), j ->
                   CASE WHEN j = 1 THEN list_sum(t.cq)
                        WHEN j < {r} THEN t.gq[j - 1]
                        ELSE t.gq[{r - 1}] + t.gq[{r}] END) AS nm
          FROM (
            SELECT st.event_type, st.step, st.ns, st.ones, st.cp, st.pm,
                   q.x,
                   list_transform(range(1, {r} + 1), i ->
                     CAST((2 * st.mass[i]
                       * (CASE WHEN q.x = 1 THEN 1 + st.ones[i]
                               ELSE 1 + st.ns[i] - st.ones[i] END)
                       * {1000 - h}
                       + (2 + st.ns[i]) * 1000)
                       // (2 * (2 + st.ns[i]) * 1000) AS BIGINT)) AS gq,
                   list_transform(range(1, {r} + 1), i ->
                     CAST((2 * st.mass[i]
                       * (CASE WHEN q.x = 1 THEN 1 + st.ones[i]
                               ELSE 1 + st.ns[i] - st.ones[i] END)
                       * {h}
                       + (2 + st.ns[i]) * 1000)
                       // (2 * (2 + st.ns[i]) * 1000) AS BIGINT)) AS cq
            FROM st JOIN s q
              ON q.event_type = st.event_type AND q.gn = st.step + 1
            WHERE st.step < {_BOCPD_GATE_STEPS}
          ) t
        ) t2
        ) t25
      ) t3
      ),
    fin AS (
      SELECT event_type, mass, ns, ones, cp,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY step DESC) AS rk
      FROM st)
    SELECT event_type, CAST(i - 1 AS BIGINT) AS run_slot,
           round(mass[i] / 1000000000.0, 6) AS posterior,
           ns[i] AS n_obs, ones[i] AS n_ones,
           cp AS cp_steps,
           CAST({_BOCPD_GATE_STEPS} AS BIGINT) AS gate_steps_cap
    FROM fin, unnest(range(1, {r} + 1)) u(i)
    WHERE rk = 1
    ORDER BY event_type, run_slot
    """


@query("q_bocpd", oracle=_bocpd_oracle())
def q_bocpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X761 — truncated Bayesian online changepoint detection (Adams &
    MacKay 2007) per event_type: a run-length posterior over
    {_BOCPD_R} slots (last = "≥{_BOCPD_R - 1}"), Bernoulli-Beta(1,1)
    predictive on the thresholded value stream, constant hazard
    {_BOCPD_H}/1000.  Each step grows every run hypothesis by its
    predictive probability × (1−h), routes predictive × h mass to the
    changepoint slot, renormalizes, and counts the steps where the
    changepoint slot held majority mass (cp_steps) — the regime-change
    monitor that reports "probability the metric just changed" instead
    of a bare reject flag.

    EXACT INTEGER fold: mass in 1e-9 units, every product half-up
    quantized, normalization by half-up division — so the
    recursive-CTE oracle replays the identical trajectory.  Truncation
    merges cap-slot mass but keeps the capped slot's own sufficient
    stats (continuing-run hypothesis), the standard approximation.
    Gate instance folds {_BOCPD_GATE_STEPS} events/stream (cap carried
    in schema); the fold itself is cap-free.

    Scale: state is 3·R integers + a counter per stream — ONE
    applyInPandas shuffle (Kalman/Elo/Space-Saving shape), streams
    partition the work, zero driver iteration."""
    from pyspark.sql.window import Window as W

    s = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.when(F.col("value") > _BOCPD_THRESH, 1)
            .otherwise(0)
            .alias("x"),
            "ts",
            "event_id",
        )
        .withColumn(
            "gn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("gn") <= _BOCPD_GATE_STEPS)
    )

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("gn")
        mass, ns, ones, cp = bocpd_fold(int(x) for x in pdf["x"])
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]] * _BOCPD_R,
                "run_slot": list(range(_BOCPD_R)),
                "posterior": [round(m / 1e9, 6) for m in mass],
                "n_obs": ns,
                "n_ones": ones,
                "cp_steps": [cp] * _BOCPD_R,
            }
        )

    out = s.groupBy("event_type").applyInPandas(
        fold,
        schema=(
            "event_type string, run_slot long, posterior double, "
            "n_obs long, n_ones long, cp_steps long"
        ),
    )
    return out.withColumn(
        "gate_steps_cap", F.lit(_BOCPD_GATE_STEPS).cast("long")
    ).orderBy("event_type", "run_slot")
