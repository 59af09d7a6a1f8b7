"""Inline dimension tables (rules, source→site names).

Stand-ins for the reference's MySQL dimension tables, with the same shape:

- rules dim ~ ``sy_yq_raw.sy_yq_lvl_rules_code`` (kafka_s.py:292-296):
  OR-of-AND include rules + exclude rules + category + sentiment +
  importance per rule. Keywords here come from the driver testdata's
  ``documents.text`` vocabulary so matches actually occur.
- site dim ~ ``EI_BDP.A_stock_code_name_fyi`` names dict
  (kafka_s.py:132-137): a tiny code→name broadcast lookup.

Both are broadcast in every plan that joins them: on a 1000-executor
cluster the dim ships once per executor, the fact side never shuffles.
``as_values_sql`` renders the same rows as a DuckDB VALUES clause so the
oracle runs on literally identical dimension data.

``local_frame`` is how every inline frame of the package (these dims,
literal grids, driver-computed results, empty state frames) enters
Spark: a ``LocalRelation`` the driver already holds, so touching it
(a ``collect``, a broadcast) runs no Spark job. ``createDataFrame`` on
a Python list builds an RDD-backed plan instead, and every action on it
ships the rows through Python workers.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

# (rule_id, in_rules, filter_rules, category_code, category_name,
#  sentiment, importance)
RULES_ROWS: list[tuple] = [
    (1, "spark&fast、stream&window", "slow", 101, "性能", 1, 30),
    (2, "table&scan&filter", "vector", 102, "存储", 0, 10),
    (3, "slow、error", "", 103, "故障", -1, 8),
    (4, "join&merge、batch&agg", "small", 104, "执行", 1, 5),
    (5, "customer&query、group&sort", "window ", 105, "用户", 0, 3),
    (6, " vector&data 、embedding", "", 106, "向量", 1, 10),
]
RULES_COLS = (
    "rule_id",
    "in_rules",
    "filter_rules",
    "category_code",
    "category_name",
    "sentiment",
    "importance",
)
RULES_SCHEMA = (
    "rule_id long, in_rules string, filter_rules string, category_code long,"
    " category_name string, sentiment long, importance long"
)

# (source, site_name)  — documents.source takes values src0..src9
SITES_ROWS: list[tuple] = [(f"src{i}", f"站点{i}") for i in range(10)]
SITES_COLS = ("source", "site_name")
SITES_SCHEMA = "source string, site_name string"


def local_frame(spark: SparkSession, rows: Iterable, schema: str) -> DataFrame:
    """``rows`` (tuples, lists, dicts or Rows) as a driver-local
    ``LocalRelation`` with exactly ``schema``, a DDL string such as
    ``"q double, n long"``.

    Values are converted by the schema's own ``toInternal``, as
    ``createDataFrame(rows, schema)`` converts them, so a naive
    ``datetime`` lands on the same instant (read in the Python process's
    local zone) and a date on the same day; the arrays are then typed by
    the schema's Arrow form. An Arrow table goes to the JVM as a
    ``LocalRelation`` whatever the Arrow conf says."""
    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    internal = [struct.toInternal(r) for r in rows]
    cols = [[r[i] for r in internal] for i in range(len(struct.fields))]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def rules_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, RULES_ROWS, RULES_SCHEMA)


def sites_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, SITES_ROWS, SITES_SCHEMA)


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def as_values_sql(rows: list[tuple], cols: tuple[str, ...], alias: str) -> str:
    values = ", ".join("(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows)
    return f"(VALUES {values}) AS {alias}({', '.join(cols)})"


def rules_values_sql(alias: str = "rules") -> str:
    return as_values_sql(RULES_ROWS, RULES_COLS, alias)


def sites_values_sql(alias: str = "sites") -> str:
    return as_values_sql(SITES_ROWS, SITES_COLS, alias)
