"""The sessions of the ``olap_sessions`` workload: seeded progressive
OLAP sessions (the workload's churn round is in ``churn``).

A session is one new ``OlapEngine`` over the documents table and a
fixed op script in the form of the reference corpus's progressive
queries:

1. ``fresh``   a filter planned from the root (topic A);
2. ``refine``  topic A plus a numeric conjunct, seeded from A's node
   (a delta filter on a Subset ancestor);
3. ``analyze`` a roll-up and a drill-down over the refined node;
4. ``fresh``   a second filter from the root (topic B);
5. ``hit``     seven revisits of A, A' and B, four of them reworded (an
   Equal hit by the LLM relation judgment rather than by equal text).

Seven of twelve ops are hits, so the median op of a session is a hit
well inside the hit band; the two fresh filters are the slowest ops,
so its 90th percentile is nine-tenths a fresh filter.  A third
analysis (top-k) would push both percentiles onto the border between
two op types, so the session leaves it out; top-k intent detection
still runs inside every analysis op.

Every topic word lands in the same number of documents (see
``datagen``), so each fresh filter keeps the same number of rows
whatever the seed.
"""

from __future__ import annotations

import random

from datagen import TOPIC_WORDS

ANALYSIS_SUFFIX = {
    "group": "group lang into lang_family and count",
    "extract": "extract the topic",
}


def topic_stats(docs_rows) -> dict[str, list[int]]:
    """``{topic word: [n_chars of each document containing it]}`` from
    ``(text, n_chars)`` rows."""
    out: dict[str, list[int]] = {w: [] for w in TOPIC_WORDS}
    for text, n_chars in docs_rows:
        low = text.lower()
        for w in TOPIC_WORDS:
            if w in low:
                out[w].append(n_chars)
    return out


def pick_topics(stats: dict[str, list[int]], rng: random.Random, k: int) -> list[str]:
    """``k`` distinct topic words in seeded order."""
    words = sorted(stats)
    rng.shuffle(words)
    return words[:k]


def _threshold(n_chars: list[int]) -> int:
    xs = sorted(n_chars)
    return int(xs[len(xs) // 2])


def session_script(a: str, b: str, t_a: int) -> list[dict]:
    """The op script of one session over topics ``a`` and ``b``.

    Each op carries its NL query plus the oracle's view of it: the
    filter's significant tokens (stub semantics: a row matches when
    any token is a substring of the lower-cased text), the numeric
    conjunct, and the analysis kind.
    """
    fa = f"mentions {a} in text"
    ra = f"mentions {a} in text and n_chars > {t_a}"
    fb = f"mentions {b} in text"
    tok_a = ["mentions", a, "text"]
    tok_b = ["mentions", b, "text"]

    def op(kind, query, tokens, min_chars=None, analysis=None):
        return {"kind": kind, "query": query, "tokens": tokens,
                "min_chars": min_chars, "analysis": analysis}

    return [
        op("fresh", fa, tok_a),
        op("refine", ra, tok_a, t_a),
        op("analyze", f"{ra} then {ANALYSIS_SUFFIX['group']}", tok_a, t_a, "group"),
        op("analyze", f"{ra} then {ANALYSIS_SUFFIX['extract']}", tok_a, t_a, "extract"),
        op("fresh", fb, tok_b),
        op("hit", fa, tok_a),
        op("hit", f"text mentions {a} and n_chars > {t_a}", tok_a, t_a),
        op("hit", f"text mentions {b}", tok_b),
        op("hit", ra, tok_a, t_a),
        op("hit", f"text mentions {a}", tok_a),
        op("hit", f"in text mentions {b}", tok_b),
        op("hit", fb, tok_b),
    ]


def generate(seed: int, stats: dict[str, list[int]], n_sessions: int) -> list[list[dict]]:
    """``n_sessions`` scripts; the first is the untimed warm-up."""
    rng = random.Random(seed)
    words = pick_topics(stats, rng, 2 * n_sessions)
    return [
        session_script(words[2 * i], words[2 * i + 1], _threshold(stats[words[2 * i]]))
        for i in range(n_sessions)
    ]


def warmup_queries(script: list[dict]) -> list[str]:
    """The untimed warm-up: the script's ops before its second fresh
    filter (a fresh filter, the refine and both analyses), so every op
    path of the timed session has run once."""
    second_fresh = [i for i, op in enumerate(script) if op["kind"] == "fresh"][1]
    return [op["query"] for op in script[:second_fresh]]
