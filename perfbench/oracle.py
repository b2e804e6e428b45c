"""Independent BM25 oracle and the answer check.

The oracle never imports the package's `index`, `codec` or `query`
modules: it scores with DuckDB SQL over analyzer postings (corpus.py),
using Xapian's BM25 defaults (k1=1, k2=0, k3=1, b=0.5, min_normlen=0.5)
written out from the formula, not from `query/bm25.py`.

A query spec is (shape, terms) in index-term space:
    ("or", [t, ...])        sum of parts over matched terms
    ("and", [a, b])         docs holding every term
    ("andnot", [a, b])      docs holding a and not b, scored on a alone
    ("phrase", [a, b])      b at the position right after a
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence, Tuple

import duckdb

K1, B, MIN_NORMLEN = 1.0, 0.5, 0.5
REL_TOL = 1e-9

Hits = List[Tuple[int, float]]

_PARTS = f"""
WITH st AS (SELECT count(*)::DOUBLE AS n,
                   1.0 / (sum(doclen)::DOUBLE / count(*)) AS lf
            FROM doclen),
q AS (SELECT DISTINCT unnest($terms) AS term),
tf AS (SELECT term, count(*)::DOUBLE AS tf
       FROM post JOIN q USING (term) GROUP BY term),
-- the k3 factor (k3 + 1) * wqf / (k3 + wqf) is 1: every wqf is 1
tw AS (SELECT term,
              ln(CASE WHEN r < 2 THEN r * 0.5 + 1 ELSE r END) AS tw
       FROM (SELECT term, (st.n - tf + 0.5) / (tf + 0.5) AS r
             FROM tf, st))
SELECT p.doc_id, p.term,
       tw.tw * ({K1} + 1) * p.wdf
       / ({K1} * (greatest(d.doclen * st.lf, {MIN_NORMLEN}) * {B}
                  + (1 - {B})) + p.wdf) AS part
FROM post p JOIN tw USING (term) JOIN doclen d USING (doc_id), st
"""


class Oracle:
    """BM25 top-k over a mutable in-memory copy of the postings."""

    def __init__(self, post_path: str, pos_path: str, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET threads = 1")
        self.con.execute(
            f"CREATE TABLE post AS SELECT * FROM '{post_path}'")
        self.con.execute(f"CREATE TABLE pos AS SELECT * FROM '{pos_path}'")
        self._refresh_doclen()

    def _refresh_doclen(self) -> None:
        self.con.execute(
            "CREATE OR REPLACE TABLE doclen AS SELECT doc_id,"
            " sum(wdf)::BIGINT AS doclen FROM post GROUP BY doc_id")

    def close(self) -> None:
        self.con.close()

    def replace(self, post_rows: Dict[str, list], pos_rows: Dict[str, list]
                ) -> None:
        """Swap in new versions of the docs named in `post_rows`."""
        import pyarrow as pa

        ids = sorted(set(post_rows["doc_id"]))
        # DuckDB reads these two locals by name in the INSERTs below
        new_post = pa.table(post_rows)  # noqa: F841
        new_pos = pa.table(pos_rows)  # noqa: F841
        for t in ("post", "pos"):
            self.con.execute(f"DELETE FROM {t} WHERE doc_id IN"
                             " (SELECT unnest($ids))", {"ids": ids})
        self.con.execute("INSERT INTO post SELECT term, doc_id, wdf"
                         " FROM new_post")
        self.con.execute("INSERT INTO pos SELECT term, doc_id, p"
                         " FROM new_pos")
        self._refresh_doclen()

    def term_dict(self) -> Dict[str, Tuple[int, int]]:
        """term → (tf, cf), the index's term dictionary."""
        return {t: (tf, cf) for t, tf, cf in self.con.execute(
            "SELECT term, count(*), sum(wdf) FROM post GROUP BY term"
        ).fetchall()}

    def totals(self) -> Tuple[int, int]:
        """(doccount, total_doclen)."""
        n, total = self.con.execute(
            "SELECT count(*), sum(doclen) FROM doclen").fetchone()
        return int(n), int(total or 0)

    def topk(self, spec: Tuple[str, Sequence[str]], k: int) -> Hits:
        """Ranked (doc_id, score), score desc then doc_id asc: the top k
        plus every further doc tied with the k-th within REL_TOL, so a
        tie swap at the cut is recognised as one."""
        shape, terms = spec
        terms = list(terms)
        if shape == "or":
            sql = (f"SELECT doc_id, sum(part) AS score FROM ({_PARTS})"
                   " GROUP BY doc_id")
        elif shape == "and":
            sql = (f"SELECT doc_id, sum(part) AS score FROM ({_PARTS})"
                   " GROUP BY doc_id HAVING count(DISTINCT term) ="
                   f" {len(set(terms))}")
        elif shape == "andnot":
            sql = (f"SELECT doc_id, part AS score FROM ({_PARTS})"
                   " WHERE term = $a AND doc_id NOT IN"
                   " (SELECT doc_id FROM post WHERE term = $b)")
        elif shape == "phrase":
            sql = (f"SELECT doc_id, sum(part) AS score FROM ({_PARTS})"
                   " WHERE doc_id IN (SELECT x.doc_id FROM pos x JOIN pos y"
                   " ON x.doc_id = y.doc_id AND y.p = x.p + 1"
                   " WHERE x.term = $a AND y.term = $b)"
                   " GROUP BY doc_id HAVING count(DISTINCT term) = 2")
        else:
            raise ValueError(f"unknown query shape {shape!r}")
        params = {"terms": terms}
        if shape in ("andnot", "phrase"):
            params.update(a=terms[0], b=terms[1])
        rows = self.con.execute(
            f"SELECT doc_id, score FROM ({sql})"
            " ORDER BY score DESC, doc_id ASC", params).fetchall()
        if len(rows) <= k:
            return [(int(d), float(s)) for d, s in rows]
        cut = rows[k - 1][1]
        keep = k
        while keep < len(rows) and _close(rows[keep][1], cut):
            keep += 1
        return [(int(d), float(s)) for d, s in rows[:keep]]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)


def matches(got: Hits, expected: Hits, k: int) -> bool:
    """True when `got` is the oracle's top k: same length, each rank's
    score within REL_TOL, and each rank's doc the oracle's doc or one
    the oracle scores as tied with it. A swapped or missing doc fails."""
    want = expected[:k]
    if len(got) != len(want):
        return False
    oracle_score = dict(expected)
    seen = set()
    for (doc, score), (want_doc, want_score) in zip(got, want):
        if doc in seen or not _close(score, want_score):
            return False
        seen.add(doc)
        if doc != want_doc and not (
                doc in oracle_score
                and _close(oracle_score[doc], want_score)):
            return False
    return True
