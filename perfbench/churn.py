"""The churn phase of the ``olap_sessions`` workload: one long-lived
engine whose lattice outgrows its cache budget.

The engine runs with ``max_cached_nodes=CACHE_NODES`` over the same
documents table as the sessions, with the in-process stub LLM.  Every
query is a topic filter planned from the root (``mentions W in
text``); distinct topics never relate under the stub's token
containment, so each filter is one root child.  A round is six query
ops in a fixed shape:

    fresh, revisit (cached), revisit (evicted),
    fresh, revisit (cached), revisit (evicted)

After every query op the harness checkpoints the lattice with
``save_cube_incremental``, and at the end of the round a second
engine reopens the checkpoint with ``OlapEngine.load`` and probes it
once (the ``reopen`` op).  The writer keeps running, so every round
meets the same mix of cached and evicted nodes.

Which revisits land on cached nodes follows from the cache policy the
engine documents (least recently used, counting fresh filters and
Equal hits on cached nodes): a "cached" revisit targets the second or
third most recent such filter, an "evicted" revisit the least
recently used filter outside that set.  The harness labels each op by
what it finds in the lattice before the op, not by this plan, so a
change of cache policy shows as a change of the op mix.
"""

from __future__ import annotations

import random

from sessions import pick_topics

CACHE_NODES = 3
ROUND = ("fresh", "hit", "rehit", "fresh", "hit", "rehit")


def query(word: str) -> str:
    return f"mentions {word} in text"


def _op(kind: str, word: str) -> dict:
    return {"kind": kind, "query": query(word),
            "tokens": ["mentions", word, "text"], "min_chars": None,
            "analysis": None}


def generate(seed: int, stats: dict[str, list[int]], n_rounds: int,
             cache_nodes: int = CACHE_NODES) -> list[list[dict]]:
    """``n_rounds`` rounds of ops, each ending in a ``reopen`` op.  The
    first round is the untimed warm-up: ``cache_nodes`` fresh filters,
    which fill the cache, so that each later round's fresh filters
    evict the nodes its ``rehit`` ops revisit."""
    rng = random.Random(f"churn-{seed}")
    words = iter(pick_topics(stats, rng, cache_nodes + 2 * (n_rounds - 1)))
    hot: list[str] = []       # by last fresh filter or cached hit
    by_use: list[str] = []    # by last use of any kind

    def use(kind: str, word: str) -> dict:
        for order in ([by_use, hot] if kind != "rehit" else [by_use]):
            if word in order:
                order.remove(word)
            order.insert(0, word)
        return _op(kind, word)

    def pick(kind: str, hits_in_round: int) -> str:
        if kind == "fresh":
            return next(words)
        if kind == "hit":
            return hot[1 + hits_in_round]
        cached = set(hot[:cache_nodes])
        return next(w for w in reversed(by_use) if w not in cached)

    rounds = [[use("fresh", next(words)) for _ in range(cache_nodes)]]
    for _ in range(n_rounds - 1):
        ops, hits = [], 0
        for kind in ROUND:
            ops.append(use(kind, pick(kind, hits)))
            hits += kind == "hit"
        rounds.append(ops)
    for ops in rounds:
        ops.append(_op("reopen", ops[-1]["tokens"][1]))
    return rounds
