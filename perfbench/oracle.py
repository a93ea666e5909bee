"""Independent output checks, run outside the timed window.

- Pipeline rows: DuckDB over the row's ``oracle_sql()`` text, compared
  with the Spark output through the row hashing of
  ``tools/replay_contract.py`` (pandas protocol: cells stringified,
  columns sorted by name, rows sorted, sha256).
- Session ops: DuckDB re-evaluates the generated predicate under the
  stub LLM's documented semantics (``StubLLM`` in
  ``semantic_olap_spark/llm/client.py``): a slice filter keeps a row
  when any significant token of its condition is a substring of the
  lower-cased text; a numeric conjunct is a plain comparison; the
  roll-up groups every row into the catch-all ``other`` tag; the
  drill-down labels a row with the first instruction token found in
  its content, else ``NA``.
"""

from __future__ import annotations

import os

from datagen import TABLES


def _replay():
    from tools import replay_contract

    return replay_contract


def register_tables(con, data_dir: str) -> None:
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def duck_hash(con, sql: str) -> tuple[str, int]:
    rc = _replay()
    rows = rc._frame_rows(con.execute(sql).df())
    return rc._hash_rows(rows), len(rows)


def pipeline_check(df, expected: tuple[str, int]) -> tuple[bool, str]:
    rc = _replay()
    rows = rc._frame_rows(df.toPandas())
    got = rc._hash_rows(rows)
    if got == expected[0]:
        return True, ""
    return False, f"hash {got[:12]} ({len(rows)} rows) != oracle {expected[0][:12]} ({expected[1]} rows)"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class SessionOracle:
    def __init__(self, documents_path: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")

    def _where(self, op: dict) -> str:
        ors = " OR ".join(f"contains(lower(text), {_sql_str(t)})" for t in op["tokens"])
        where = f"({ors})"
        if op["min_chars"] is not None:
            where += f" AND n_chars > {int(op['min_chars'])}"
        return where

    def expected(self, op: dict):
        where = self._where(op)
        kind = op.get("analysis")
        if kind is None:
            return sorted(r[0] for r in self.con.execute(
                f"SELECT doc_id FROM documents WHERE {where}").fetchall())
        if kind == "group":
            return sorted(self.con.execute(
                f"SELECT 'other', count(*) FROM documents WHERE {where} "
                f"HAVING count(*) > 0").fetchall())
        if kind == "extract":
            content = ("lower('doc_id: ' || doc_id || chr(10) || 'text: ' || text"
                       " || chr(10) || 'lang: ' || lang || chr(10) || 'source: '"
                       " || source || chr(10) || 'n_chars: ' || n_chars)")
            return sorted(self.con.execute(
                f"SELECT doc_id, CASE WHEN contains({content}, 'extract') "
                f"THEN 'extract' WHEN contains({content}, 'topic') THEN 'topic' "
                f"ELSE 'NA' END FROM documents WHERE {where}").fetchall())
        raise ValueError(f"unknown analysis {kind!r}")

    @staticmethod
    def actual(op: dict, df):
        kind = op.get("analysis")
        if kind is None:
            return sorted(r[0] for r in df.select("doc_id").collect())
        if kind == "group":
            return sorted(tuple(r) for r in df.select(
                "lang_family", "count_of_lang_family").collect())
        return sorted(tuple(r) for r in df.select("doc_id", "topic").collect())

    def check(self, op: dict, df) -> tuple[bool, str]:
        want = self.expected(op)
        got = self.actual(op, df)
        if got == want:
            return True, ""
        return False, f"got {str(got)[:200]} want {str(want)[:200]}"
