"""Board configurations and the one board enrichment chain.

Board configurations (SURVEY.md §2.12): the kafka_s.py vs kafka_a.py
deltas as data. The reference maintains two ~640-line near-identical
files; the engine's two boards differ only in these literals and the
source field map (streaming.sources.FIELD_MAPS, keyed by ``name``).

The chain (SURVEY.md §3.1): site lookup (J1) → keyword-rule match (J3)
→ score decodes (P8) → deterministic keys (P4-P6) → literals/defaults
(P7/P9) → wide row (P10). ``enrich`` is its one Spark form and
``enrich_sql`` its one DuckDB twin. The batch board (``documents``
rows, plans.pipeline) and the CDC board (envelope fields,
streaming.pipeline) differ only in a ``FactShape``; the plan is the
same for a static and a streaming ``d`` (Structured Streaming runs it
per micro-batch, re-resolving the dims each batch = SURVEY.md T2).

Scale shape: the only joins are against broadcast dims (sites, rules),
so the fact side streams through map-side-only stages — zero shuffles.

Top-level module (imported by both plans.* and streaming.*) so neither
package pulls the other in at import time.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import decode, keys, rules
from .sources import dims


@dataclass(frozen=True)
class BoardConfig:
    name: str
    src_type: str  # srcType literal (kafka_s.py:318 vs kafka_a.py:322)
    webname: str = "巨潮资讯网"  # kafka_s.py:317
    rel_type: str = "直接关联"  # kafka_s.py:395-403


NEEQ = BoardConfig(name="neeq", src_type="新三板公告")
ASHARE = BoardConfig(name="ashare", src_type="A股公告")


@dataclass(frozen=True)
class FactShape:
    """What one fact source brings to the chain. ``site_key`` is looked
    up in the sites dim, ``yqid_of`` are the yqid key's inputs, and
    ``head`` the output columns ahead of the rule/decode tail, as
    expressions both engines parse (``"lang AS lang_code"``)."""

    site_key: str
    yqid_of: tuple[str, ...]
    head: tuple[str, ...]


#: batch board: (doc_id, title, source, lang) rows from ``documents``
DOCS = FactShape(
    site_key="source",
    yqid_of=("title", "source", "doc_id"),
    head=("doc_id", "yqid", "only_id", "title", "site_name", "lang AS lang_code"),
)
#: CDC board: envelope fields; yqid is the reference's recipe
#: title+srcUrl+pubTime (kafka_s.py:322)
CDC = FactShape(
    site_key="cmp_code",
    yqid_of=("title", "url", "publish_date"),
    head=(
        "yqid",
        "only_id",
        "title",
        "cmp_short_name",
        "cmp_code",
        "site_name",
        "url",
        "publish_date",
    ),
)


def enrich(
    d: DataFrame,
    spark: SparkSession,
    cfg: BoardConfig,
    shape: FactShape,
    rules_df: DataFrame | None = None,
) -> DataFrame:
    """The chain on ``d`` (static or streaming): one output row per
    (fact row, matching rule). ``rules_df`` defaults to the inline
    rules dim."""
    # J1: broadcast dim lookup; LEFT + coalesce('') fixes the reference's
    # stale-carry-over on lookup miss (SURVEY.md §1.4) into explicit default
    sites = dims.sites_df(spark)
    d = (
        d.join(F.broadcast(sites), d[shape.site_key] == sites["source"], "left")
        .drop(sites["source"])
        .withColumn("site_name", decode.default_empty(F.col("site_name")))
    )
    # J3: one row per matching rule
    r = rules_df if rules_df is not None else dims.rules_df(spark)
    m = rules.match(d, "title", r)
    # P4-P8: keys + decodes; P7/P9/P10: literals, defaults, wide assembly
    m = m.withColumn(
        "yqid", keys.surrogate_key(*[F.col(c) for c in shape.yqid_of])
    ).withColumn(
        "only_id",
        keys.surrogate_key(F.col("yqid"), F.col("site_name"), F.col("category_code")),
    )
    return m.select(
        *[F.expr(c) for c in shape.head],
        "rule_id",
        "category_code",
        "category_name",
        keys.concat_key(F.col("category_code"), F.col("rule_id")).alias("level_key"),
        F.col("sentiment").alias("emo_score"),
        decode.emo_label(F.col("sentiment")).alias("emo_label"),
        F.col("importance").alias("imp_score"),
        decode.imp_label(F.col("importance")).alias("imp_label"),
        F.lit(cfg.webname).alias("webname"),
        F.lit(cfg.src_type).alias("src_type"),
        F.lit(cfg.rel_type).alias("rel_type"),
        F.lit(1).alias("is_valid"),
        F.lit(1).alias("data_status"),
    )


def _key_sql(*cols: str) -> str:
    """DuckDB twin of ``keys.surrogate_key``."""
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '')" for c in cols)
    return f"md5(concat_ws('{keys.KEY_SEP}', {parts}))"


def match_sql(fact: str, title: str) -> str:
    """DuckDB twin of ``rules.match`` against the rules dim: each row of
    ``fact`` (a table name or a parenthesised query) once per rule its
    ``title`` column matches, with the rule's columns."""
    return f"""
      SELECT f.*, r.rule_id, r.category_code, r.category_name,
             r.sentiment, r.importance
      FROM {fact} f, {dims.rules_values_sql('r')}
      WHERE {rules.duckdb_match_sql(f'f.{title}', 'r.in_rules', 'r.filter_rules')}
    """


def enrich_sql(fact: str, cfg: BoardConfig, shape: FactShape) -> str:
    """DuckDB twin of ``enrich``: ``fact`` is a query yielding the fact
    columns under the names ``shape`` uses."""
    emo = decode.decode_case_sql("sentiment", decode.EMO_LABELS)
    imp = decode.decode_case_sql("importance", decode.IMP_LABELS)
    return f"""
    WITH fact AS ({fact}),
    enriched AS (
      SELECT f.*, coalesce(s.site_name, '') AS site_name
      FROM fact f LEFT JOIN {dims.sites_values_sql('s')}
        ON f.{shape.site_key} = s.source
    ), matched AS ({match_sql('enriched', 'title')}),
    keyed AS (SELECT *, {_key_sql(*shape.yqid_of)} AS yqid FROM matched),
    ided AS (
      SELECT *, {_key_sql('yqid', 'site_name', 'category_code')} AS only_id
      FROM keyed
    )
    SELECT {', '.join(shape.head)},
           rule_id, category_code, category_name,
           concat_ws('{keys.CONCAT_SEP}', CAST(category_code AS VARCHAR),
                     CAST(rule_id AS VARCHAR)) AS level_key,
           sentiment AS emo_score, {emo} AS emo_label,
           importance AS imp_score, {imp} AS imp_label,
           '{cfg.webname}' AS webname, '{cfg.src_type}' AS src_type,
           '{cfg.rel_type}' AS rel_type,
           1 AS is_valid, 1 AS data_status
    FROM ided
    """
