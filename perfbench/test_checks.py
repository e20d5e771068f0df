"""Tests of the benchmark's own output checks: each must accept the
reference output and reject a deliberately corrupted one.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import reference  # noqa: E402
from perfbench.inputs import SHARES, ArticleGenerator, parse_lines  # noqa: E402

LEX = {"fast": 80, "spark": 60, "slow": -80, "small": -45, "scan": -20}
TEXTS = [
    "fast spark stream value big data table",
    "slow scan small filter dup row key",
    "the key group order line query join",
    "spark slow value fast scan merge window",
]


def _articles(seed=7, n=400):
    gen = ArticleGenerator(TEXTS, seed, set(LEX))
    return gen.lines("a", n)


def _scored_rows(ref):
    return [(i, v[0], v[1]) for i, v in ref.items()]


def test_reference_scorer_semantics():
    art = {"title": "Fast News!", "description": "spark and SLOW, 2025"}
    # tokens: fast(80) spark(60) slow(-80) -> 60 / 300
    assert reference.score_article(art, LEX) == (60 / 300, "Positive")
    # thresholds are exclusive: 40 / 400 == 0.1 stays Neutral
    edge = {"title": "fast slow", "description": "spark scan"}
    assert reference.score_article(edge, LEX) == (0.1, "Neutral")
    assert reference.score_article({"title": "x", "description": "   "}, LEX) is None
    assert reference.score_article({"title": "x", "description": None}, LEX) is None
    assert reference.score_article({"title": "x", "description": "数据"}, LEX) is None
    assert reference.score_article({"title": None, "description": "fast"}, LEX) == (
        0.8,
        "Positive",
    )
    assert reference.score_article({"title": "a", "description": "none here"}, LEX) == (
        0.0,
        "Neutral",
    )


def test_generator_is_seeded_and_mixed():
    a, b, c = _articles(1), _articles(1), _articles(2)
    assert a == b and a != c
    parsed = parse_lines(a)
    assert 0 < len(a) - len(parsed) < 0.1 * len(a)  # malformed lines
    ids = [x["id"] for x in parsed]
    assert len(ids) == len(set(ids))
    titles = [x["title"] for x in parsed]
    assert len(set(titles)) < len(titles)  # duplicate titles
    ref = reference.reference_scores(parsed, LEX)
    dropped = len(parsed) - len(ref)
    share = SHARES["empty_desc"] + SHARES["non_latin"]
    assert 0.3 * share * len(a) < dropped < 2 * share * len(a)


def test_check_scored_accepts_reference():
    ref = reference.reference_scores(parse_lines(_articles()), LEX)
    assert reference.check_scored(_scored_rows(ref), ref, "sink") == []


def test_check_scored_rejects_one_flipped_class():
    ref = reference.reference_scores(parse_lines(_articles()), LEX)
    rows = _scored_rows(ref)
    i, p, s = rows[3]
    rows[3] = (i, p, "Negative" if s != "Negative" else "Positive")
    assert reference.check_scored(rows, ref, "sink")


def test_check_scored_rejects_one_duplicated_id():
    ref = reference.reference_scores(parse_lines(_articles()), LEX)
    rows = _scored_rows(ref)
    rows.append(rows[0])
    assert reference.check_scored(rows, ref, "sink")


def test_check_scored_rejects_dropped_row_and_missing_row():
    lines = _articles()
    parsed = parse_lines(lines)
    ref = reference.reference_scores(parsed, LEX)
    empty = next(a for a in parsed if a["id"] not in ref)
    assert reference.check_scored(
        _scored_rows(ref) + [(empty["id"], 0.0, "Neutral")], ref, "sink"
    )
    assert reference.check_scored(_scored_rows(ref)[1:], ref, "sink")


def test_check_counts_and_dashboard_reject_one_flip():
    ref = reference.reference_scores(parse_lines(_articles()), LEX)
    want = reference.class_counts(ref)
    assert reference.check_counts(want, want, "view") == []
    bad = dict(want, Positive=want["Positive"] + 1, Neutral=want["Neutral"] - 1)
    assert reference.check_counts(bad, want, "view")
    dash = reference.dashboard_reference(ref)
    assert dash["total_articles"] < len(ref)  # dedup by title removed rows
    assert sum(dash["histogram"]) == dash["total_articles"]
    got = json.loads(json.dumps(dash))
    assert reference.check_dashboard(got, dash, "refresh") == []
    got["class_counts"] = bad
    assert reference.check_dashboard(got, dash, "refresh")


def test_dashboard_reference_keeps_latest_then_smallest_id():
    ref = {
        "b": (0.5, "Positive", {"title": "T", "fetched_at": "2025-01-01T00:00:01"}),
        "a": (-0.5, "Negative", {"title": "T", "fetched_at": "2025-01-01T00:00:01"}),
        "c": (0.0, "Neutral", {"title": "T", "fetched_at": "2025-01-01T00:00:00"}),
    }
    dash = reference.dashboard_reference(ref)
    assert dash["total_articles"] == 1
    assert dash["class_counts"] == {"Positive": 0, "Neutral": 0, "Negative": 1}


def test_check_query_rows_rejects_changed_value():
    norm_rows = pytest.importorskip("scripts.check_oracle").norm_rows
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.25)]
    assert reference.check_query_rows("q", cols, rows, cols, list(rows), norm_rows) == []
    assert reference.check_query_rows("q", cols, rows, cols, [(1, 0.5), (2, 1.5)], norm_rows)
    assert reference.check_query_rows("q", cols, rows, cols, rows[:1], norm_rows)
