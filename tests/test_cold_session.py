"""Cold-session regression tests (VERDICT r8 #1).

Spark 4.x mis-plans higher-order-function lambdas inside a JOIN condition
when the fresh-session exprId counter is low: the lambda-variable exprIds
collide with the stream-side attribute (text#1), the conjunct's computed
references drop the stream side, and the predicate lands in a FilterExec
over the broadcast side alone — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. Any
prior action bumps the counter and masks the bug, so the only valid
witness is a FRESH SUBPROCESS whose first and only action is the query
under test. q_rule_match failed exactly this way from rounds 1–8 while
every warm-session gate stayed green.

The fix (functions/rules.py compiled_join_cond) removes lambdas from the
join condition entirely; these tests pin it cold.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

SF_DIR = "/root/testdata/sf0.001"
ROOT = str(Path(__file__).resolve().parent.parent)

_RUNNER = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from kafka_stream_spark.plans import QUERIES
# FIRST and ONLY action of this session: the query under test.
n = QUERIES["{key}"](spark, "{sf_dir}").count()
print("COLD_OK", n)
"""


def _run_cold(key: str) -> str:
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _RUNNER.format(key=key, sf_dir=SF_DIR, root=ROOT),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, (
        f"{key} failed as the first action of a fresh session:\n"
        + proc.stderr[-2000:]
    )
    return proc.stdout


def test_rule_match_cold_first_action():
    out = _run_cold("q_rule_match")
    assert "COLD_OK" in out


def test_board_pipeline_cold_first_action():
    out = _run_cold("q_board_pipeline")
    assert "COLD_OK" in out
