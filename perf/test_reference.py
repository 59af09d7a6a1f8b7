"""Pins the benchmark's independent reference and its generators.

Run with ``python3 -m pytest perf -q``; no Spark needed. The titles are
hand-worked against the rules dim's quirks: OR-groups are stripped but
AND-parts are not, ``"window "`` vetoes only a "window" followed by a
space, and empty filter keywords veto nothing.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference as ref  # noqa: E402

RULES = [
    (1, "spark&fast、stream&window", "slow", 101, "性能", 1, 30),
    (5, "customer&query、group&sort", "window ", 105, "用户", 0, 3),
    (6, " vector&data 、embedding", "", 106, "向量", 1, 10),
]
SITES = [("src0", "站点0")]


def _rule(rid):
    return next(r for r in RULES if r[0] == rid)


def _match(title, rid):
    _, in_rules, filter_rules, *_ = _rule(rid)
    return ref.matches(title, in_rules, filter_rules)


def test_or_group_is_stripped_so_padded_group_matches():
    # " vector&data " strips to "vector&data": both words, any order
    assert _match("data lake and vector store", 6)
    assert _match("embedding only", 6)
    assert not _match("vector only", 6)


def test_and_parts_are_not_stripped():
    # "a & b" stays ["a ", " b"] after the group strip
    assert ref.matches("x a b", "a & b", "")
    assert not ref.matches("ab", "a & b", "")
    assert not ref.matches("a&b", "a & b", "")


def test_window_veto_needs_the_trailing_space():
    assert _match("customer query window", 5)  # "window" ends the title
    assert not _match("customer query window shop", 5)
    assert not _match("group sort window  ", 5)


def test_empty_filter_keywords_veto_nothing():
    assert ref.matches("spark is fast", "spark&fast", "")
    assert ref.matches("spark is fast", "spark&fast", "、")
    assert not ref.matches("spark is fast but slow", "spark&fast", "、slow")


def test_veto_beats_any_or_group():
    assert _match("stream window", 1)
    assert not _match("stream window slow", 1)


class _Rec:
    def __init__(self, title, code, url="http://u/1", pd="2024-03-01 00:00:00"):
        self.title, self.st_code, self.url, self.publish_date = title, code, url, pd


def test_keys_and_site_fallback():
    rows = ref.expected_rows([_Rec("spark fast", "src0"), _Rec("spark fast", "zzz", "http://u/2")],
                             RULES, SITES)
    by_site = {r[7]: r for r in rows.values()}
    assert set(by_site) == {"站点0", ""}
    yqid = hashlib.md5("spark fast||http://u/1||2024-03-01 00:00:00".encode()).hexdigest()
    known = by_site["站点0"]
    assert known[0] == yqid
    assert known[1] == hashlib.md5(f"{yqid}||站点0||101".encode()).hexdigest()
    assert known[2:7] == ("1", "101", "101##1", "正向", "高")
    assert by_site[""][1] == hashlib.md5(f"{by_site[''][0]}||||101".encode()).hexdigest()


def test_one_title_many_rules_and_replay_collapses():
    title = "spark fast customer query embedding"
    rows = ref.expected_rows([_Rec(title, "src0"), _Rec(title, "src0")], RULES, SITES)
    assert sorted(r[2] for r in rows.values()) == ["1", "5", "6"]


def test_fingerprint_is_order_insensitive_and_counts_duplicates():
    a, b = ("x", 1, None), ("y", 2, "z")
    assert ref.fingerprint([a, b]) == ref.fingerprint([b, a])
    assert ref.fingerprint([a, a]) != ref.fingerprint([a])
    assert ref.row_hash(("x", None)) != ref.row_hash(("x", "None"))


def test_board_lines_are_seeded_and_keep_their_shares():
    lines, inserts = gen.board_lines(7, 0, 1000, (4, 12), [], 0)
    again, _ = gen.board_lines(7, 0, 1000, (4, 12), [], 0)
    other, _ = gen.board_lines(8, 0, 1000, (4, 12), [], 0)
    assert lines == again and lines != other
    assert len(lines) == 1000 and len(inserts) == 800
    assert sum('"o_set"' in ln for ln in lines) == 100
    insert_lines = {r.line() for r in inserts}
    assert sum(ln in insert_lines for ln in lines) == 900  # 800 inserts + 100 replays
