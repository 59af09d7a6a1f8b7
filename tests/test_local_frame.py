"""Inline frames are driver-local: ``dims.local_frame`` builds a
``LocalRelation`` (no Spark job to collect or broadcast it) with exactly
the schema and values ``createDataFrame`` gives, and ``tables.load``
infers a parquet footer schema once per session and file."""

from __future__ import annotations

import ast
import itertools
import math
import os
import time
from contextlib import contextmanager
from datetime import date, datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kafka_stream_spark import boards
from kafka_stream_spark.sources import dims, tables

PKG = Path(__file__).resolve().parent.parent / "kafka_stream_spark"

_GROUPS = itertools.count()


@contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    gid = f"test-local-frame-{next(_GROUPS)}"
    sc.setJobGroup(gid, gid)
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(gid))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_dims_collect_and_enrich_construction_run_no_job(spark):
    with _jobs(spark) as ids:
        rows = dims.rules_df(spark).collect()
        dims.sites_df(spark).collect()
    assert ids == []
    assert [tuple(r) for r in rows] == dims.RULES_ROWS

    docs = dims.local_frame(
        spark,
        [(1, "spark is fast", "src1", "en")],
        "doc_id long, title string, source string, lang string",
    )
    with _jobs(spark) as ids:
        out = boards.enrich(docs, spark, boards.NEEQ, boards.DOCS)
    assert ids == []
    assert [(r["doc_id"], r["rule_id"]) for r in out.collect()] == [(1, 1)]


def _write(path: Path, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def test_load_infers_schema_once_and_again_after_rewrite(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write(path, {"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]})
    first = tables.load(spark, str(tmp_path), "region")
    with _jobs(spark) as ids:
        second = tables.load(spark, str(tmp_path), "region")
    assert ids == []
    assert second.schema == first.schema
    assert second.collect() == first.collect()

    # a rewrite with another schema is a new file identity: inferred again
    time.sleep(0.01)
    _write(
        path,
        {
            "r_regionkey": pa.array([7], pa.int64()),
            "r_name": ["C"],
            "r_comment": ["new"],
        },
    )
    third = tables.load(spark, str(tmp_path), "region")
    assert third.dtypes == [
        ("r_regionkey", "bigint"),
        ("r_name", "string"),
        ("r_comment", "string"),
    ]
    assert [tuple(r) for r in third.collect()] == [(7, "C", "new")]


_SCHEMA = (
    "i int, l long, d double, s string, dt date, ts timestamp,"
    " al array<long>, ad array<double>"
)
_ROWS = [
    (
        1,
        2**40,
        float("nan"),
        "",
        date(2024, 1, 1),
        datetime(2024, 1, 1, 12, 30, 0, 123456),
        [1, None, 3],
        [float("inf"), float("-inf"), float("nan")],
    ),
    (None, None, None, None, None, None, None, None),
    (
        -(2**31),
        -(2**63),
        float("inf"),
        "中文テキスト 한국어",
        date(1969, 12, 31),
        datetime(1969, 12, 31, 23, 59, 59, 1),
        [],
        [],
    ),
    (
        2**31 - 1,
        2**63 - 1,
        float("-inf"),
        " \t padded ",
        date(2038, 1, 19),
        datetime(2038, 1, 19, 3, 14, 8, tzinfo=timezone.utc),
        [None],
        [None, 0.0, -0.0],
    ),
]


def _norm(v):
    """Collected values with NaN made comparable."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def _same(a, b) -> None:
    assert a.dtypes == b.dtypes
    assert a.schema == b.schema
    got = [[_norm(v) for v in r] for r in a.collect()]
    want = [[_norm(v) for v in r] for r in b.collect()]
    assert got == want


def test_local_frame_matches_create_dataframe(spark):
    _same(dims.local_frame(spark, _ROWS, _SCHEMA), spark.createDataFrame(_ROWS, _SCHEMA))
    _same(dims.local_frame(spark, [], _SCHEMA), spark.createDataFrame([], _SCHEMA))
    # the inferred-type sites spell their schema out; same result
    _same(
        dims.local_frame(spark, dims.RULES_ROWS, dims.RULES_SCHEMA),
        spark.createDataFrame(dims.RULES_ROWS, list(dims.RULES_COLS)),
    )


def test_naive_datetime_lands_on_the_same_instant(spark):
    """createDataFrame reads a naive datetime in the Python process's
    local zone (time.mktime), while an Arrow table would read it as UTC;
    local_frame must follow createDataFrame."""
    rows = [(datetime(2024, 1, 1, 8, 0, 0),), (datetime(2024, 7, 1, 8, 0, 0, 5),)]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Shanghai"
    time.tzset()
    try:
        micros = [
            [r[0] for r in df.select(F.unix_micros("ts")).collect()]
            for df in (
                dims.local_frame(spark, rows, "ts timestamp"),
                spark.createDataFrame(rows, "ts timestamp"),
            )
        ]
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    # 08:00 in UTC+8 is 00:00 UTC
    assert micros[0] == micros[1] == [1704067200000000, 1719792000000005]


def test_create_dataframe_only_in_local_frame():
    """Every inline frame of the package goes through dims.local_frame."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(fn)}
        offenders += [
            f"{path.relative_to(PKG)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and not (path.name == "dims.py" and id(n) in allowed)
        ]
    assert not offenders, "createDataFrame outside dims.local_frame:\n" + (
        "\n".join(offenders)
    )
