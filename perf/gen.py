"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the board envelopes that
``board_backlog`` and ``board_cycles`` feed to ``run_board_stream``, and
the star-schema parquet tables that ``query_suite`` hands to the registered
query functions as ``sf_dir``. The program under test receives only the
files written here.

Each generated board record is kept as a :class:`Record` so that the
independent reference (``reference.py``) computes expected rows from the
generator's own values, never from what the program wrote.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

#: every keyword the rules dim uses, plus the quirky spellings its rules
#: single out (" vector" with a leading space, "window " as a veto).
KEYWORDS = (
    "spark fast stream window slow table scan filter vector error join "
    "merge batch agg small customer query group sort data embedding"
).split()
FILLER = (
    "the of and to in market report company annual notice board meeting "
    "share 公告 年度报告 董事会 决议 股东 关于 披露 临时"
).split()

#: site codes: src0..src9 are in the sites dim, the rest fall back to ''
KNOWN_CODES = [f"src{i}" for i in range(10)]
UNKNOWN_CODES = [f"src{i}" for i in range(10, 20)] + ["830799", "BJ0001"]

#: input make-up shared by both board workloads (README "Input make-up")
UPDATE_SHARE = 0.10  # `$set` update envelopes, dropped by the insert-only filter
REPLAY_SHARE = 0.10  # exact replays of an earlier insert line
UNKNOWN_SHARE = 0.20  # inserts whose site code is not in the sites dim
KEYWORD_SHARE = 0.35  # chance that a title word is a rule keyword


@dataclass(frozen=True)
class Record:
    """One insert envelope's source fields (neeq field names)."""

    st_name: str
    st_code: str
    title: str
    publish_date: str
    url: str

    def line(self) -> str:
        return json.dumps({"o": self.__dict__}, ensure_ascii=False)


def _title(rng: random.Random, n_words: int) -> str:
    return " ".join(
        rng.choice(KEYWORDS) if rng.random() < KEYWORD_SHARE else rng.choice(FILLER)
        for _ in range(n_words)
    )


def _record(rng: random.Random, seed: int, event_id: int, words: tuple[int, int]) -> Record:
    code = rng.choice(UNKNOWN_CODES if rng.random() < UNKNOWN_SHARE else KNOWN_CODES)
    day = 1 + event_id % 28
    sec = event_id % 86400
    return Record(
        st_name=f"公司{code}",
        st_code=code,
        title=_title(rng, rng.randint(*words)),
        publish_date=f"2024-03-{day:02d} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}",
        url=f"http://www.neeq.com.cn/disclosure/{seed}/{event_id}.html",
    )


def _update_line(rng: random.Random, rec: Record) -> str:
    """A `$set` update on an existing doc: carries a full ``o`` (so only
    the ``o_set`` marker can drop it) with a title that would match."""
    o = dict(rec.__dict__, title=rec.title + " " + rng.choice(KEYWORDS))
    return json.dumps(
        {"o": o, "o_set": json.dumps({"$set": {"title": o["title"]}}, ensure_ascii=False)},
        ensure_ascii=False,
    )


def board_lines(
    seed: int,
    stream: int,
    n: int,
    words: tuple[int, int],
    history: list[Record],
    first_event_id: int,
) -> tuple[list[str], list[Record]]:
    """``n`` envelope lines for one input file.

    ``history`` holds the inserts of earlier files of the same stream;
    replays and updates may point at those or at this file's own inserts.
    Returns the lines (shuffled) and this file's new inserts in id order.
    """
    rng = random.Random(f"{seed}/{stream}/{first_event_id}")
    n_updates = round(n * UPDATE_SHARE)
    n_replays = round(n * REPLAY_SHARE)
    inserts = [
        _record(rng, seed, first_event_id + i, words)
        for i in range(n - n_updates - n_replays)
    ]
    pool = history + inserts
    lines = [r.line() for r in inserts]
    lines += [rng.choice(pool).line() for _ in range(n_replays)]
    lines += [_update_line(rng, rng.choice(pool)) for _ in range(n_updates)]
    rng.shuffle(lines)
    return lines, inserts


def write_lines(path: str, lines: list[str]) -> None:
    """Write a complete file and move it into place in one rename, so a
    file source never lists it half-written."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# query_suite tables: the schema of the testdata tables (TESTDATA.md), with
# values drawn from the seed. Sizes are those of sf0.01.
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash line sort window "
    "order data column join small customer query big stream group filter "
    "merge batch spark vector"
).split()


def write_tables(seed: int, out_dir: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def i32(a):
        return pa.array(np.asarray(a, dtype=np.int32))

    def i64(a):
        return pa.array(np.asarray(a, dtype=np.int64))

    def days(start: str, n: int, span: int):
        base = np.datetime64(start, "D")
        d = base + rng.integers(0, span, n).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    n_ev, n_doc, n_emb, dim = 10000, 500, 500, 64

    put("region", {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {"c_custkey": i64(range(n_cust)),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()})
    put("supplier", {"s_suppkey": i64(range(n_supp)),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)})
    colours = np.array(["red", "blue", "green", "small", "large", "shiny", "dull", "black"])
    nouns = np.array(["widget", "bolt", "ring", "anvil", "gear", "valve", "spring", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", {"p_partkey": i64(range(n_part)),
                 "p_name": [f"{c} {w}" for c, w in zip(colours[rng.integers(0, 8, n_part)],
                                                       nouns[rng.integers(0, 8, n_part)])],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": types[rng.integers(0, 6, n_part)].tolist(),
                 "p_size": i32(rng.integers(1, 51, n_part)),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {"o_orderkey": i64(range(n_ord)),
                   "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                   "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": days("1995-01-01", n_ord, 2404),
                   "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist()})
    put("lineitem", {"l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                     "l_partkey": i64(rng.integers(0, n_part, n_line)),
                     "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                     "l_linenumber": i32(rng.integers(1, 8, n_line)),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": money(900, 105000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
                     "l_shipdate": days("1995-01-02", n_line, 2498)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    put("events", {"event_id": i64(range(n_ev)),
                   "ts": pa.array(t0 + offs),
                   "user_id": i64(rng.integers(0, 150, n_ev)),
                   "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                       rng.integers(0, 5, n_ev)].tolist(),
                   "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]) for _ in range(n_doc)]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    put("documents", {"doc_id": i64(range(n_doc)),
                      "text": texts,
                      "lang": langs[rng.integers(0, len(langs), n_doc)].tolist(),
                      "source": [f"src{i % 20}" for i in range(n_doc)],
                      "n_chars": i64([len(t) for t in texts])})
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 0.1, (10, dim))
    vecs = (centres[labels] + rng.normal(0.0, 0.08, (n_emb, dim))).astype(np.float32)
    put("embeddings", {"vec_id": i64(range(n_emb)),
                       "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                       "label": i32(labels)})
