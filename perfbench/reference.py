"""Output checks computed apart from the program.

Nothing here calls the engine's scoring, cleaning or serving code. The
only thing shared with the program is the word -> score table
(``LEXICON``), passed in by the caller. Each ``check_*`` function
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import math
import re
from collections import Counter

CLASSES = ("Positive", "Neutral", "Negative")

# Java's \s is [ \t\n\x0B\f\r]; spelled out so Python's wider Unicode
# \s does not leak in
_NON_LETTER = re.compile("[^a-zA-Z \t\n\x0b\f\r]")


def _clean(s: str | None) -> str | None:
    return None if s is None else _NON_LETTER.sub("", s).lower()


def score_article(article: dict, lexicon: dict[str, int]) -> tuple[float, str] | None:
    """clean -> filter -> combine -> lexicon average -> class.

    Returns None when the article must be dropped (its cleaned
    description is null or only spaces), else (polarity, class)."""
    title, desc = _clean(article.get("title")), _clean(article.get("description"))
    if desc is None or desc.strip(" ") == "":
        return None
    combined = " ".join(x for x in (title, desc) if x is not None)
    n = total = 0
    for tok in combined.split(" "):
        v = lexicon.get(tok)
        if v is not None:
            n += 1
            total += v
    polarity = total / (n * 100) if n else 0.0
    if polarity > 0.1:
        cls = "Positive"
    elif polarity < -0.1:
        cls = "Negative"
    else:
        cls = "Neutral"
    return polarity, cls


def reference_scores(articles: list[dict], lexicon: dict[str, int]) -> dict[str, tuple]:
    """id -> (polarity, class, article) for every article that should be
    scored."""
    out = {}
    for a in articles:
        r = score_article(a, lexicon)
        if r is not None:
            out[a["id"]] = (r[0], r[1], a)
    return out


def class_counts(ref: dict[str, tuple]) -> dict[str, int]:
    c = Counter(v[1] for v in ref.values())
    return {k: c.get(k, 0) for k in CLASSES}


def check_scored(rows: list[tuple], ref: dict[str, tuple], what: str) -> list[str]:
    """``rows`` are (id, polarity, sentiment) read back from a scored
    sink. Every expected id must appear exactly once with the exact
    reference polarity and class; nothing else may appear (malformed,
    empty and non-Latin rows are absent from ``ref``)."""
    problems = []
    seen = Counter(r[0] for r in rows)
    dups = [i for i, c in seen.items() if c > 1]
    if dups:
        problems.append(f"{what}: {len(dups)} ids scored more than once, e.g. {dups[:3]}")
    extra = [i for i in seen if i not in ref]
    if extra:
        problems.append(f"{what}: {len(extra)} rows that must be dropped, e.g. {extra[:3]}")
    missing = [i for i in ref if i not in seen]
    if missing:
        problems.append(f"{what}: {len(missing)} valid ids missing, e.g. {missing[:3]}")
    bad = [
        (i, p, s, ref[i][:2])
        for i, p, s in rows
        if i in ref and (p != ref[i][0] or s != ref[i][1])
    ]
    if bad:
        problems.append(f"{what}: {len(bad)} rows disagree with the reference, e.g. {bad[:3]}")
    return problems


def check_counts(got: dict[str, int], want: dict[str, int], what: str) -> list[str]:
    g = {k: int(got.get(k, 0)) for k in CLASSES}
    extra = set(got) - set(CLASSES)
    if g != want or extra:
        return [f"{what}: class counts {dict(got)} != reference {want}"]
    return []


def dashboard_reference(ref: dict[str, tuple], nbins: int = 30) -> dict:
    """The dashboard's read-time dedup by title, in plain Python: per
    title keep the row with the greatest ``fetched_at``, ties to the
    smallest id; then totals, class counts and a fixed-width polarity
    histogram over [-1, 1]."""
    best: dict = {}
    for aid, (pol, cls, art) in ref.items():
        key = art.get("title")
        cand = (art.get("fetched_at") or "", aid, pol, cls)
        cur = best.get(key)
        if cur is None or cand[0] > cur[0] or (cand[0] == cur[0] and cand[1] < cur[1]):
            best[key] = cand
    counts = Counter(v[3] for v in best.values())
    width = 2.0 / nbins
    hist = [0] * nbins
    for v in best.values():
        hist[min(math.floor((v[2] + 1.0) / width), nbins - 1)] += 1
    return {
        "total_articles": len(best),
        "class_counts": {k: counts.get(k, 0) for k in CLASSES},
        "histogram": hist,
    }


def check_dashboard(got: dict, want: dict, what: str) -> list[str]:
    problems = []
    if got["total_articles"] != want["total_articles"]:
        problems.append(
            f"{what}: total {got['total_articles']} != reference {want['total_articles']}"
        )
    problems += check_counts(got["class_counts"], want["class_counts"], what)
    if sum(got["histogram"]) != want["total_articles"] or got["histogram"] != want["histogram"]:
        problems.append(f"{what}: histogram {got['histogram']} != reference {want['histogram']}")
    return problems


def check_query_rows(name: str, scols, srows, dcols, drows, norm_rows) -> list[str]:
    """Registry result vs its DuckDB oracle under the repository's own
    comparison (``norm_rows`` from scripts/check_oracle.py): same row
    count, same column names, equal normalized values."""
    if len(srows) != len(drows):
        return [f"{name}: rowcount spark={len(srows)} oracle={len(drows)}"]
    if sorted(scols) != sorted(dcols):
        return [f"{name}: columns spark={sorted(scols)} oracle={sorted(dcols)}"]
    ns, nd = norm_rows(scols, srows), norm_rows(dcols, drows)
    if ns != nd:
        diff = [(a, b) for a, b in zip(ns, nd) if a != b][:2]
        return [f"{name}: values differ from the oracle, e.g. {diff}"]
    return []
