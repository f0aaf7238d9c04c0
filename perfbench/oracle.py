"""Independent BM25 (lucene) oracle in DuckDB, and the rank-identity rule.

The oracle recomputes everything from the raw document text: lower-case,
tokens are maximal runs of two or more word characters, English
stopwords removed, ``k1=1.5``, ``b=0.75``, lucene idf
``ln(1 + (N - df + 0.5) / (df + 0.5))``.  DuckDB's RE2 ``\\w`` is ASCII
only, so the oracle spells Python's Unicode ``\\w`` as ``[\\pL\\pN_]``;
the generated corpus holds no combining marks, where the two differ.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from perfbench.inputs import STOPWORDS

K1, B = 1.5, 0.75
TOKEN_RE = r"[\pL\pN_]{2,}"
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

_CORPUS_CTE = f"""
docs AS (SELECT doc_id, lower(text) AS t FROM docs_tbl),
toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_extract_all(t, '{TOKEN_RE}')) AS term
    FROM docs
  ) WHERE term NOT IN ({_SW_SQL})
),
dl AS (
  SELECT d.doc_id, CAST(count(tk.term) AS DOUBLE) AS dl
  FROM docs d LEFT JOIN toks tk USING (doc_id) GROUP BY d.doc_id
),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM toks GROUP BY doc_id, term
)"""

_TOPK_SQL = f"""
WITH {_CORPUS_CTE},
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
idf AS (
  SELECT d.term, ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS idf
  FROM dfreq d CROSS JOIN s
),
qterms AS (
  SELECT query_id, term, CAST(count(*) AS DOUBLE) AS mult FROM (
    SELECT query_id,
           unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
    FROM queries_tbl
  ) WHERE term NOT IN ({_SW_SQL}) GROUP BY query_id, term
),
impacts AS (
  SELECT tf.doc_id, tf.term,
         i.idf * (tf.tf / ({K1} * ({1 - B} + {B} * dl.dl / s.avgdl) + tf.tf))
           AS impact
  FROM tf JOIN idf i USING (term) JOIN dl USING (doc_id) CROSS JOIN s
),
scored AS (
  SELECT q.query_id, im.doc_id, sum(q.mult * im.impact) AS score
  FROM qterms q JOIN impacts im USING (term)
  GROUP BY q.query_id, im.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= $k
ORDER BY query_id, rank
"""

_COUNTS_SQL = f"""
WITH {_CORPUS_CTE}
SELECT (SELECT count(*) FROM docs) AS num_docs,
       (SELECT count(*) FROM tf) AS num_postings
"""


class Oracle:
    """One DuckDB connection over a document set ``(doc_id, text)``."""

    def __init__(self, docs: pd.DataFrame):
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 2")
        self._docs = docs[["doc_id", "text"]].copy()
        self._con.register("docs_tbl", self._docs)

    def close(self) -> None:
        self._con.close()

    def counts(self) -> tuple[int, int]:
        """(num_docs, distinct (doc, term) postings)."""
        n, p = self._con.execute(_COUNTS_SQL).fetchone()
        return int(n), int(p)

    def topk(self, queries: pd.DataFrame, k: int) -> dict[str, list]:
        """query_id -> [(doc_id, score), ...] in rank order (matched
        documents only; queries matching nothing are absent)."""
        q = queries[["query_id", "text"]].copy()
        self._con.register("queries_tbl", q)
        try:
            rows = self._con.execute(_TOPK_SQL, {"k": k}).fetchall()
        finally:
            self._con.unregister("queries_tbl")
        out: dict[str, list] = {}
        for qid, _rank, doc, score in rows:
            out.setdefault(qid, []).append((int(doc), float(score)))
        return out


def same_ranking(ours: list, ref: list, rtol: float = 1e-4,
                 atol: float = 1e-5) -> bool:
    """Rank identity at tie-group granularity (the rule of the repo's
    ``assert_rank_identical``): equal length, scores equal position by
    position within tolerance, and equal doc sets inside every tie group
    that ends before the cut (a group truncated at k may differ)."""
    if len(ours) != len(ref):
        return False
    if not ref:
        return True
    o_docs = [d for d, _ in ours]
    r_docs = [d for d, _ in ref]
    o_sc = np.array([s for _, s in ours], dtype=np.float64)
    r_sc = np.array([s for _, s in ref], dtype=np.float64)
    if not np.allclose(o_sc, r_sc, rtol=rtol, atol=atol):
        return False
    i, n = 0, len(r_sc)
    while i < n:
        j = i + 1
        while j < n and abs(r_sc[j] - r_sc[i]) <= atol + rtol * abs(r_sc[i]):
            j += 1
        if j < n and sorted(o_docs[i:j]) != sorted(r_docs[i:j]):
            return False
        i = j
    return True


def padded(ref: list, k: int) -> list:
    """The interactive contract returns exactly k rows per query: fewer
    matches are padded with unmatched documents scoring 0 (lucene has no
    non-occurrence term).  Pad members form the last tie group, which
    the rank rule does not compare, so only their count and score
    matter."""
    return ref + [(-1, 0.0)] * (k - len(ref))
