"""Unit tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import math
import random

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import churn
import datagen
import oracle
import sessions
from stats import error_rate, percentile, samples_beyond, self_times, tail_rule
from tracing import Tracer


def _stats(tmp_path, seed):
    out = datagen.write_tables(str(tmp_path / f"d{seed}"), seed, 0.01,
                               topic_p=0.2, only=("documents",))
    t = pq.read_table(f"{out}/documents.parquet")
    return t, sessions.topic_stats(zip(t.column("text").to_pylist(),
                                       t.column("n_chars").to_pylist()))


def test_same_seed_same_inputs(tmp_path):
    t1, s1 = _stats(tmp_path, 5)
    t2, s2 = _stats(tmp_path / "again", 5)
    assert t1.equals(t2)
    assert sessions.generate(5, s1, 4) == sessions.generate(5, s2, 4)
    _, s3 = _stats(tmp_path / "other", 6)
    assert sessions.generate(6, s3, 4) != sessions.generate(5, s1, 4)


def test_star_tables_repeat_per_seed(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 3, 0.001)
    b = datagen.write_tables(str(tmp_path / "b"), 3, 0.001)
    for name in datagen.TABLES:
        assert pq.read_table(f"{a}/{name}.parquet").equals(
            pq.read_table(f"{b}/{name}.parquet")), name


def test_session_script_shape(tmp_path):
    _, st = _stats(tmp_path, 9)
    scripts = sessions.generate(9, st, 4)
    kinds = [op["kind"] for op in scripts[1]]
    # hits are the majority and the two fresh filters the slowest
    # sixth, so the median falls inside the hits and the 90th
    # percentile nine-tenths on a fresh filter
    assert kinds.count("hit") == 7 and kinds.count("fresh") == 2
    n = len(kinds)
    assert math.ceil((n - 1) * 0.5) <= kinds.count("hit") - 1
    assert math.floor((n - 1) * 0.9) >= n - 1 - kinds.count("fresh") - 1
    words = [s[0]["tokens"][1] for s in scripts] + [s[4]["tokens"][1] for s in scripts]
    assert len(set(words)) == len(words)
    assert [op["analysis"] for op in scripts[1] if op["kind"] == "analyze"] == ["group", "extract"]
    assert sessions.warmup_queries(scripts[0]) == [op["query"] for op in scripts[0][:4]]


def test_percentile_matches_numpy():
    rng = random.Random(1)
    xs = [rng.random() for _ in range(37)]
    for p in (0, 10, 50, 90, 100):
        assert math.isclose(percentile(xs, p), float(np.percentile(xs, p)))


def test_tail_rule():
    assert tail_rule(100) == 90.0
    assert tail_rule(1000) == 90.0
    assert tail_rule(50) == 80.0
    assert tail_rule(20) == 50.0
    assert tail_rule(19) is None
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(20, 90) == 2
    # the rule's percentile always leaves at least ten samples beyond it
    for n in range(20, 300):
        assert samples_beyond(n, tail_rule(n)) >= 10


def test_self_time_on_span_tree():
    # root [0,10] has children a [1,4] and b [3,8] (overlapping),
    # a has child c [2,3]; b has child d [7,12] that leaks past b
    spans = [
        (0.0, 10.0, None),
        (1.0, 4.0, 0),
        (3.0, 8.0, 0),
        (2.0, 3.0, 1),
        (7.0, 12.0, 2),
    ]
    got = self_times(spans)
    assert got == pytest.approx([10 - 7, 3 - 1, 5 - 1, 1, 5])


def test_tracer_spans_and_restore():
    import json as mod

    tr = Tracer()
    orig = mod.dumps
    tr.patch(mod, "dumps", "json.dumps")
    tr.trace_id = 7
    with tr.span("op"):
        mod.dumps({"a": 1})
        mod.dumps([1])
    tr.restore()
    assert mod.dumps is orig
    summ = tr.op_summary(7)
    assert summ["json.dumps"]["calls"] == 2
    total_self = sum(v["self_s"] for v in summ.values())
    assert total_self == pytest.approx(tr.ends[0] - tr.starts[0])


class _Rows:
    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self.rows


def test_error_rate_counts_oracle_mismatches(tmp_path):
    out = datagen.write_tables(str(tmp_path / "d"), 4, 0.01, topic_p=0.2,
                               only=("documents",))
    duck = oracle.SessionOracle(f"{out}/documents.parquet")
    op = {"kind": "fresh", "tokens": ["mentions", "kafka", "text"],
          "min_chars": None, "analysis": None}
    want = duck.expected(op)
    assert want
    ok, _ = duck.check(op, _Rows([(d,) for d in want]))
    assert ok
    ok, why = duck.check(op, _Rows([(d,) for d in want[:-1]]))
    assert not ok and "want" in why
    assert error_rate(attempted=10, failed=0, mismatched=1) == 0.1
    assert error_rate(attempted=10, failed=1, mismatched=2) == 0.3
    with pytest.raises(ValueError):
        error_rate(0, 0, 0)


def test_pipeline_check_uses_replay_hashing():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)"
    expected = oracle.duck_hash(con, sql)

    class Frame:
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):
            return self.pdf

    good = pd.DataFrame({"v": ["b", "a"], "k": [2, 1]})
    assert oracle.pipeline_check(Frame(good), expected)[0]
    bad = pd.DataFrame({"v": ["b", "a"], "k": [2, 3]})
    assert not oracle.pipeline_check(Frame(bad), expected)[0]


def test_churn_rounds_repeat_per_seed_and_follow_lru(tmp_path):
    _, st = _stats(tmp_path, 11)
    rounds = churn.generate(11, st, 5)
    assert rounds == churn.generate(11, st, 5)
    assert [op["kind"] for op in rounds[0]] == ["fresh"] * churn.CACHE_NODES + ["reopen"]
    for r in rounds[1:]:
        assert tuple(op["kind"] for op in r[:-1]) == churn.ROUND
        assert r[-1]["kind"] == "reopen"
    # replay the plan on a least-recently-used cache of CACHE_NODES
    # frames: a fresh filter adds a cached node and evicts the least
    # recently used one; a hit on a cached node refreshes it; a
    # revisit of an evicted node recomputes it without caching it
    cached: list[str] = []
    seen = set()
    for r in rounds:
        for op in r[:-1]:
            q = op["query"]
            if op["kind"] == "fresh":
                assert q not in seen
                seen.add(q)
                cached = [q] + cached[:churn.CACHE_NODES - 1]
            elif op["kind"] == "hit":
                assert q in cached
                cached = [q] + [c for c in cached if c != q]
            else:
                assert q in seen and q not in cached
        assert r[-1]["query"] in seen


def test_pipeline_rows_reach_every_family():
    import inspect
    import re

    import __spark_entry__ as entry

    import harness

    registry, oracles = entry.queries(), entry.oracle_sql()
    reached = set()
    for name in harness.PIPELINE_ROWS:
        assert name in registry and name in oracles, name
        src = inspect.getsource(registry[name])
        reached |= {f for f in harness.FAMILIES if re.search(
            rf"from semantic_olap_spark\.{re.escape(f)} import", src)}
    assert reached == set(harness.FAMILIES)


def test_topic_words_have_equal_document_counts(tmp_path):
    _, st = _stats(tmp_path, 12)
    assert {len(v) for v in st.values()} == {round(0.2 * 500)}
