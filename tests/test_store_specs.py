"""Stream == batch for every declared store (``StoreSpec``).

Each spec is drained by ``run_store`` as a real availableNow query, one
run per input wave on one checkpoint, and after every wave its
finalized store must equal the registered batch key over the rows so
far: the same row multiset and the same dtypes (a tuple comparison
alone cannot see an int/long drift, ``3 == 3`` in Python).

The input directory is ``<cum>/<table>.parquet``, so the batch key
reads exactly the rows the stream drained by pointing at ``<cum>``.

Then two crash windows, through Spark's own recovery:

- replay: the last batch's checkpoint commit is removed, so the restart
  re-runs that batch under its committed id; the store must not change.
- for specs with more than one cell table, the last wave first runs
  with the second cell table's partial raising, so the batch dies
  between the two commits; the restart must complete the missing one.
"""

from __future__ import annotations

import dataclasses
import importlib
import os
import sys
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kafka_stream_spark.plans import QUERIES
from kafka_stream_spark.sources.tables import load
from kafka_stream_spark.streaming.pipeline import (
    StoreSpec,
    merged_store_last_applied,
    merged_store_read,
    run_store,
)

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _mod(col: str, n: int):
    return lambda df: [df.filter(F.col(col) % n == i) for i in range(n)]


def _vec_halves(df):
    return [
        df.filter(F.col("vec_id") % 4 < 2),
        df.filter(F.col("vec_id") % 4 >= 2),
    ]


#: name → (plans module, spec, batch key, testdata, wave split)
CASES = {
    "mixture_counts": (
        "llm_ext", "MIXTURE_COUNTS", "q_mixture_weights", SF01,
        _mod("doc_id", 2),
    ),
    # waves split by user: a (user, day) session must not straddle two
    # micro-batches
    "process_map": (
        "round4t", "PROCESS_MAP", "q_process_map", SF001, _mod("user_id", 2)
    ),
    "kmv": ("round4t", "KMV", "q_kmv_distinct", SF001, _mod("l_orderkey", 2)),
    "heavy_hitters": (
        "textscale", "HEAVY_HITTERS", "q_heavy_hitters", SF001,
        _mod("doc_id", 3),
    ),
    "lm_counts": (
        "round6", "LM_COUNTS", "q_stupid_backoff", SF01, _mod("doc_id", 2)
    ),
    "grpo_moments": (
        "round8b", "GRPO_MOMENTS", "q_grpo_advantage", SF001,
        _mod("event_id", 2),
    ),
    "best_of_n": (
        "round8b", "BEST_OF_N", "q_best_of_n", SF001, _mod("event_id", 2)
    ),
    "pass_counts": (
        "round9", "PASS_COUNTS", "q_pass_at_k", SF001, _mod("event_id", 2)
    ),
    "data_map": (
        "round9", "DATA_MAP", "q_data_map", SF001, _mod("event_id", 2)
    ),
    "funnel": (
        "round9", "FUNNEL", "q_curation_funnel", SF001, _mod("doc_id", 2)
    ),
    "dp_ledger": (
        "round9b", "DP_LEDGER", "q_dp_accounting", SF001, _mod("doc_id", 2)
    ),
    "embedding_drift": (
        "round9c", "EMBEDDING_DRIFT", "q_embedding_drift", SF001, _vec_halves
    ),
    "cms": ("round10b", "CMS", "q_cms_sketch", SF001, _mod("doc_id", 2)),
}


def _spec(module: str, name: str) -> StoreSpec:
    mod = importlib.import_module(f"kafka_stream_spark.plans.{module}")
    return getattr(mod, name)


def _result(df):
    """(row multiset, dtypes) of a query result."""
    return Counter(tuple(r) for r in df.collect()), df.dtypes


def _snapshot(spark, spec: StoreSpec, store: str):
    """Per cell table: committed version ids and the latest rows."""
    out = {}
    for cells in spec.cells:
        d = os.path.join(store, cells.name)
        out[cells.name] = (
            sorted(os.listdir(d)),
            Counter(tuple(r) for r in merged_store_read(spark, d).collect()),
        )
    return out


def _uncommit_last_batch(ckpt: str) -> int:
    """Remove the newest checkpoint commit, so a restart re-runs that
    batch under the same id (a crash after the store commit, before
    the checkpoint commit). Returns its batch id."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for n in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))
    return last


def _failing_second_table(spec: StoreSpec) -> StoreSpec:
    def boom(rows):
        raise RuntimeError("injected crash between cell-table commits")

    first, second, *rest = spec.cells
    return dataclasses.replace(
        spec, cells=(first, dataclasses.replace(second, partial=boom), *rest)
    )


@pytest.mark.parametrize("name", sorted(CASES))
def test_stream_equals_batch(spark, tmp_path, name):
    module, attr, key, sf, split = CASES[name]
    spec = _spec(module, attr)
    cum = str(tmp_path / "cum")
    inp = f"{cum}/{spec.table}.parquet"
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    def drain(s: StoreSpec = spec) -> None:
        assert run_store(spark, s, inp, store, ckpt).awaitTermination(240)

    def assert_equals_batch() -> None:
        source = load(spark, cum, spec.table)
        got = _result(spec.read(spark, store, source))
        want = _result(QUERIES[key](spark, cum))
        assert got[0], "the finalized store is empty"
        assert got == want

    def last_applied() -> list:
        return [
            merged_store_last_applied(os.path.join(store, c.name))
            for c in spec.cells
        ]

    waves = split(load(spark, sf, spec.table))
    for i, wave in enumerate(waves):
        wave.write.mode("append").parquet(inp)
        if i == len(waves) - 1 and len(spec.cells) > 1:
            with pytest.raises(StreamingQueryException):
                drain(_failing_second_table(spec))
            first, second, *_ = last_applied()
            assert first == i and (second is None or second < i)
        drain()
        # one batch per wave, committed to every cell table (a finalize
        # can hide a missing table, e.g. best-of-n's bar rarely moves
        # the selection)
        assert last_applied() == [i] * len(spec.cells)
        assert_equals_batch()

    before = _snapshot(spark, spec, store)
    replayed = _uncommit_last_batch(ckpt)
    drain()
    assert os.path.exists(os.path.join(ckpt, "commits", str(replayed)))
    assert _snapshot(spark, spec, store) == before
    assert_equals_batch()


def test_every_store_spec_is_tested():
    """A spec declared in ``plans`` but missing from CASES would have no
    stream == batch test."""
    declared = {
        id(v)
        for m in list(sys.modules.values())
        if getattr(m, "__name__", "").startswith("kafka_stream_spark.plans.")
        for v in vars(m).values()
        if isinstance(v, StoreSpec)
    }
    tested = {id(_spec(c[0], c[1])) for c in CASES.values()}
    assert declared == tested
