"""Seeded article generator for the ``news_ingest`` workload.

The program under test sees only the NDJSON files written here. Every
article is built from the text of the corpus ``documents`` table; the
seed picks which documents, which rows get which defect, and the
timestamps. The same seed and corpus give byte-identical files.

Shares (of generated article lines) and why each is there:

- ``dup_title`` 10%: the title of an earlier article in the same
  input, so the dashboard's read-time dedup-by-title has work to do.
- ``empty_desc`` 5%: description is ``""``, ``"   "`` or null; the
  pipeline must drop the row before scoring.
- ``malformed`` 2%: a truncated JSON line; the file source must not
  turn it into a scored row.
- ``no_lexicon`` 8%: every lexicon word removed from title and
  description, so the scorer takes its zero-match branch (0.0,
  Neutral).
- ``non_latin`` 3%: CJK-only description, which cleans to the empty
  string and is dropped like an empty one.

The remaining ~72% are ordinary articles: a title of the document's
first words and a description of a seeded window of its text.
"""

from __future__ import annotations

import json
import os
import random

SHARES = {
    "dup_title": 0.10,
    "empty_desc": 0.05,
    "malformed": 0.02,
    "no_lexicon": 0.08,
    "non_latin": 0.03,
}

_CJK = "数据流处理新闻情感分析实时仪表板"


def load_texts(documents_parquet: str) -> list[str]:
    """Corpus text, in doc_id order (read once per run)."""
    import pyarrow.parquet as pq

    t = pq.read_table(documents_parquet, columns=["doc_id", "text"])
    rows = sorted(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    return [text for _, text in rows]


class ArticleGenerator:
    """Deterministic stream of article lines for one (seed, corpus).

    ``lines(prefix, n)`` returns ``n`` NDJSON lines whose ids are
    ``{prefix}-{k}``; the generator's state advances, so successive
    calls give fresh articles and titles can repeat across calls."""

    def __init__(self, texts: list[str], seed: int, lexicon_words: set[str]):
        self._texts = texts
        self._rng = random.Random(seed)
        self._lex = lexicon_words
        self._titles: list[str] = []
        self._clock = 0

    def _article(self, aid: str, kind: str) -> dict:
        rng = self._rng
        words = rng.choice(self._texts).split(" ")
        start = rng.randrange(0, max(1, len(words) - 8))
        desc_words = words[start : start + rng.randint(8, 60)]
        title_words = words[: rng.randint(3, 8)]
        if kind == "no_lexicon":
            desc_words = [w for w in desc_words if w not in self._lex] or ["news"]
            title_words = [w for w in title_words if w not in self._lex] or ["today"]
        title = " ".join(title_words).capitalize()
        desc: str | None = " ".join(desc_words)
        if kind == "dup_title" and self._titles:
            title = rng.choice(self._titles)
        elif kind == "empty_desc":
            desc = rng.choice(["", "   ", None])
        elif kind == "non_latin":
            desc = "".join(rng.choice(_CJK) for _ in range(rng.randint(6, 30)))
        self._titles.append(title)
        self._clock += rng.randint(1, 5)
        minute, sec = divmod(self._clock, 60)
        hour, minute = divmod(minute, 60)
        return {
            "id": aid,
            "title": title,
            "description": desc,
            "content": None,
            "url": f"https://news.example/{aid}",
            "image": None,
            "publishedAt": f"2025-11-21T{hour % 24:02d}:{minute:02d}:{sec:02d}Z",
            "lang": "en",
            "source": {"id": None, "name": "example", "url": None, "country": "us"},
            # second-resolution fetch stamps collide, so the dashboard's
            # (fetched_at desc, id asc) tie-break is exercised too
            "fetched_at": f"2025-11-22T{hour % 24:02d}:{minute:02d}:{sec:02d}",
        }

    def lines(self, prefix: str, n: int) -> list[str]:
        out = []
        for k in range(n):
            u = self._rng.random()
            kind, acc = "plain", 0.0
            for name, share in SHARES.items():
                acc += share
                if u < acc:
                    kind = name
                    break
            aid = f"{prefix}-{k}"
            if kind == "malformed":
                out.append('{"id": "%s", "title": "broken' % aid)
            else:
                out.append(json.dumps(self._article(aid, kind), ensure_ascii=False))
        return out


def write_lines(path: str, lines: list[str]) -> None:
    """Write atomically (tmp + rename) so a watching file source never
    lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def parse_lines(lines: list[str]) -> list[dict]:
    """The articles a reader should see: malformed lines skipped, the
    rest parsed (what the reference pipeline's skip-bad-lines loop
    keeps)."""
    out = []
    for line in lines:
        try:
            out.append(json.loads(line))
        except json.JSONDecodeError:
            continue
    return out
