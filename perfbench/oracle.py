"""Expected answers from DuckDB, and the output checks.

The scores use the engine's own formula text
(``functions.bm25.duckdb_score_sql``) and tokenizer rule
(``functions.tokenize.DUCKDB_TOKENS_SQL``) over the generated corpus,
so an engine result is right when its ranked (doc, score) list matches
DuckDB's to floating-point tolerance.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.bm25 import (
    duckdb_score_sql,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    DUCKDB_TOKENS_SQL,
)

REL_TOL = 1e-9


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


class Oracle:
    """Full candidate scores per query over one corpus state
    (``docs``: doc_id, content)."""

    def __init__(self, docs: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("docs_in", docs[["doc_id", "content"]])
        tok = DUCKDB_TOKENS_SQL.format(col="content")
        self.con.execute(f"""
            CREATE TABLE toks AS
              SELECT doc_id, unnest({tok}) AS term FROM docs_in;
            CREATE TABLE dt AS
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY ALL;
            CREATE TABLE dl AS
              SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY doc_id;
            CREATE TABLE df AS
              SELECT term, count(*) AS df FROM dt GROUP BY term;
        """)
        self.n_docs, sum_dl = self.con.execute(
            "SELECT count(*), sum(doc_len) FROM dl").fetchone()
        self.avgdl = int(sum_dl) / int(self.n_docs)

    def expected(self, queries: pd.DataFrame) -> dict[str, list[tuple[int, float]]]:
        """query_id -> every candidate (doc_id, score), best first
        (score desc, doc_id asc — the engine's tie-break)."""
        self.con.register("q_in", queries[["query_id", "text"]])
        tok = DUCKDB_TOKENS_SQL.format(col="text")
        score = duckdb_score_sql("dt.tf", "df.df", "dl.doc_len",
                                 str(self.n_docs), repr(float(self.avgdl)))
        rows = self.con.execute(f"""
            WITH qt AS (
              SELECT DISTINCT query_id, unnest(list_distinct({tok})) AS term
              FROM q_in)
            SELECT qt.query_id, dt.doc_id, sum({score}) AS score
            FROM qt JOIN dt USING (term) JOIN df USING (term)
                    JOIN dl USING (doc_id)
            GROUP BY qt.query_id, dt.doc_id
            ORDER BY qt.query_id, score DESC, dt.doc_id
        """).fetchall()
        self.con.unregister("q_in")
        out = {q: [] for q in queries["query_id"]}
        for qid, doc, s in rows:
            out[qid].append((int(doc), float(s)))
        return out


def ranked(rows, score_col: str = "score") -> dict[str, list[tuple[int, float]]]:
    """Engine top-k rows -> query_id -> [(doc_id, score)] in rank order."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r[score_col])))
    return out


def topk_ok(got: list[tuple[int, float]], exp: list[tuple[int, float]],
            k: int) -> bool:
    """Right length, every returned doc scored as DuckDB scores it, and
    the score at each rank equal to DuckDB's — so two docs may only
    swap where their scores tie to tolerance."""
    want = exp[:k]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    full = dict(exp)
    return all(d in full and close(s, full[d]) and close(s, ws)
               for (d, s), (_, ws) in zip(got, want))


def check_topk(rows, expected: dict, k: int, qids) -> int:
    """Number of queries in ``qids`` whose result is wrong."""
    got = ranked(rows)
    return sum(not topk_ok(got.get(q, []), expected[q], k) for q in qids)


def same_ranking(a: dict, b: dict, qids) -> bool:
    """Two executors' results agree rank for rank (scores to
    tolerance; docs equal except inside a tie)."""
    for q in qids:
        x, y = a.get(q, []), b.get(q, [])
        if len(x) != len(y):
            return False
        for i, ((dx, sx), (dy, sy)) in enumerate(zip(x, y)):
            if not close(sx, sy):
                return False
            tied = any(close(sx, s) for j, (_, s) in enumerate(x) if j != i)
            if dx != dy and not tied:
                return False
    return True


def check_decide(rows, expected: dict, threshold: float) -> int:
    """Wrong "doc or Nil" decisions: a query matches exactly when its
    best DuckDB score exceeds the threshold, and then to a doc holding
    that best score."""
    bad = 0
    for r in rows:
        exp = expected[r["query_id"]]
        top = exp[0][1] if exp else None
        if top is not None and close(top, threshold):
            continue  # on the threshold to rounding: either answer is right
        want_match = top is not None and top > threshold
        if not want_match:
            bad += r["matched_doc_id"] is not None
            continue
        full = dict(exp)
        d = r["matched_doc_id"]
        bad += not (d is not None and d in full and close(full[d], top))
    return bad
