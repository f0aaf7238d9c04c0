"""The five BM25 scoring variants as Catalyst column expressions.

Formulas are exactly those of the reference (all cited from
``reference/bm25s/scoring.py``; selection logic ``:162-175`` /
``:222-235``):

============  ============================================================  =================================
variant       TFC (term-frequency component)                                IDF
============  ============================================================  =================================
robertson     ``tf / (k1*((1-b) + b*dl/avgdl) + tf)``            (:115-122)  ``log((N-df+0.5)/(df+0.5))``, clamped at ≥0 (:178-187)
lucene        identical TFC to robertson                         (:125-130)  ``log(1 + (N-df+0.5)/(df+0.5))``  (:190-195)
atire         ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``         (:133-140)  ``log(N/df)``                     (:198-203)
bm25l         ``c=tf/(1-b+b*dl/avgdl); (k1+1)*(c+d)/(k1+c+d)``   (:143-149)  ``log((N+1)/(df+0.5))``           (:206-211)
bm25+         ``(k1+1)*tf/(k1*(1-b+b*dl/avgdl)+tf) + d``         (:152-159)  ``log((N+1)/df)``                 (:214-219)
============  ============================================================  =================================

Defaults k1=1.5, b=0.75, delta=0.5, method="lucene"
(``reference/bm25s/__init__.py:144-149``); ``idf_method`` defaults to
``method`` (``:217``).

bm25l / bm25+ additionally need the per-term *nonoccurrence* constant
``nnoc(t) = idf(df_t) * tfc(tf=0, dl=avgdl)``
(``reference/bm25s/scoring.py:76-112`` — note it evaluates the TFC at
``l_d = l_avg``); the per-posting impact is ``idf*tfc - nnoc(t)``
(the reference stores it, ``:295-298``; this engine computes it at
query time from tf, dl and df) and ``Σ_{t∈q} nnoc(t)`` is added back
per query (``reference/bm25s/__init__.py:614-618``).

Everything here is a pure ``pyspark.sql.Column`` expression — JVM-side,
whole-stage-codegen'd; no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

METHODS = ("robertson", "lucene", "atire", "bm25l", "bm25+")
# column-name-safe spellings ("bm25+" is not a valid identifier)
METHOD_SLUGS = {
    "robertson": "robertson",
    "lucene": "lucene",
    "atire": "atire",
    "bm25l": "bm25l",
    "bm25+": "bm25plus",
}
SLUG_TO_METHOD = {v: k for k, v in METHOD_SLUGS.items()}
METHODS_REQUIRING_NNOC = ("bm25l", "bm25+")

DEFAULT_K1 = 1.5
DEFAULT_B = 0.75
DEFAULT_DELTA = 0.5


def _check(method: str) -> str:
    if method not in METHODS:
        raise ValueError(f"Invalid method {method!r}. Choose from {METHODS}.")
    return method


def idf_expr(method: str, df_col: Column, n_docs: Column | int,
             allow_negative: bool = False) -> Column:
    """IDF as a column expression over a document-frequency column.

    ``allow_negative`` (robertson only, ``reference/bm25s/scoring.py:
    178-187``): skip the ≥0 clamp, so terms with df > N/2 score
    negatively — the original Robertson formulation.  Ignored for every
    other variant (their formulas are non-negative by construction).
    """
    _check(method)
    n = F.lit(n_docs) if not isinstance(n_docs, Column) else n_docs
    n = n.cast("double")
    dfc = df_col.cast("double")
    if method == "robertson":
        inner = (n - dfc + 0.5) / (dfc + 0.5)
        if allow_negative:
            return F.log(inner)
        return F.log(F.greatest(inner, F.lit(1.0)))
    if method == "lucene":
        return F.log(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
    if method == "atire":
        return F.log(n / dfc)
    if method == "bm25l":
        return F.log((n + 1.0) / (dfc + 0.5))
    return F.log((n + 1.0) / dfc)  # bm25+


def tfc_expr(
    method: str,
    tf_col: Column,
    dl_col: Column,
    avgdl: Column | float,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
) -> Column:
    """Term-frequency component as a column expression."""
    _check(method)
    tf = tf_col.cast("double")
    avg = F.lit(avgdl) if not isinstance(avgdl, Column) else avgdl
    norm = (1.0 - b) + b * dl_col.cast("double") / avg.cast("double")
    if method in ("robertson", "lucene"):
        return tf / (k1 * norm + tf)
    if method == "atire":
        return (tf * (k1 + 1.0)) / (tf + k1 * norm)
    if method == "bm25l":
        c = tf / norm
        return ((k1 + 1.0) * (c + delta)) / (k1 + c + delta)
    # bm25+
    return ((k1 + 1.0) * tf) / (k1 * norm + tf) + delta


def term_scalar_exprs(
    method: str,
    idf_method: str,
    df_col: Column,
    n_docs: Column | int,
    avgdl: Column | float,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
    allow_negative: bool = False,
) -> tuple[Column, Column]:
    """Per-term ``(idf, nnoc)`` over a document-frequency column — the
    column twin of the sharded kernel's per-term scalar pair.  nnoc is
    the nonoccurrence constant (``reference/bm25s/scoring.py:76-112``:
    idf times the tfc at tf=0, dl=avgdl; 0.0 for variants whose tfc(0)
    is 0).

    Both are 0.0 where ``df`` is 0 (the ``""`` vocab patch row): that
    term has no postings, and under ANSI mode the ``n/df`` division of
    atire/bm25+ would raise ``DIVIDE_BY_ZERO`` for it."""
    has_df = df_col > 0
    idf = idf_expr(idf_method, df_col, n_docs, allow_negative)
    nnoc = F.lit(0.0)
    if method in METHODS_REQUIRING_NNOC:
        avg = F.lit(avgdl) if not isinstance(avgdl, Column) else avgdl
        nnoc = F.when(
            has_df, idf * tfc_expr(method, F.lit(0), avg, avg, k1, b, delta)
        ).otherwise(F.lit(0.0))
    return F.when(has_df, idf).otherwise(F.lit(0.0)), nnoc


def impact_expr(
    method: str,
    tf_col: Column,
    dl_col: Column,
    idf_col: Column,
    nnoc_col: Column,
    avgdl: Column | float,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
) -> Column:
    """Per-(doc, term) impact ``idf·tfc(tf, dl) − nnoc`` from the
    per-term scalars of :func:`term_scalar_exprs` — the reference's
    stored representation (``reference/bm25s/scoring.py:295-298``) and
    the sharded kernel's formula.  nnoc is 0.0 for the variants whose
    tfc(0) is 0, so subtracting it leaves their impact unchanged."""
    return idf_col * tfc_expr(method, tf_col, dl_col, avgdl, k1, b, delta) \
        - nnoc_col


def nnoc_value(
    method: str,
    idf_method: str,
    df: float,
    n_docs: float,
    avgdl: float,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
    allow_negative: bool = False,
) -> float:
    """Driver-side scalar twin of :func:`term_scalar_exprs`' nnoc (used
    by the sharded query kernel, which receives plain floats)."""
    if method not in METHODS_REQUIRING_NNOC:
        return 0.0
    return idf_value(idf_method, df, n_docs, allow_negative) * tfc_value(
        method, 0.0, avgdl, avgdl, k1, b, delta)


def tfc_numpy(method: str, tf, dl, avgdl: float,
              k1: float = DEFAULT_K1, b: float = DEFAULT_B,
              delta: float = DEFAULT_DELTA):
    """Vectorized NumPy twin of :func:`tfc_expr` for the sharded query
    kernel (exact cross ``method × idf_method`` scoring from stored
    tf/dl arrays)."""
    import numpy as np

    _check(method)
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    norm = (1.0 - b) + b * dl / avgdl
    if method in ("robertson", "lucene"):
        return tf / (k1 * norm + tf)
    if method == "atire":
        return (tf * (k1 + 1.0)) / (tf + k1 * norm)
    if method == "bm25l":
        c = tf / norm
        return ((k1 + 1.0) * (c + delta)) / (k1 + c + delta)
    return ((k1 + 1.0) * tf) / (k1 * norm + tf) + delta


def idf_value(method: str, df: float, n_docs: float,
              allow_negative: bool = False) -> float:
    """Scalar IDF (same formulas as :func:`idf_expr`)."""
    _check(method)
    if method == "robertson":
        inner = (n_docs - df + 0.5) / (df + 0.5)
        if allow_negative:
            return math.log(inner)
        return math.log(max(inner, 1.0))
    if method == "lucene":
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    if method == "atire":
        return math.log(n_docs / df)
    if method == "bm25l":
        return math.log((n_docs + 1.0) / (df + 0.5))
    return math.log((n_docs + 1.0) / df)


def tfc_value(
    method: str,
    tf: float,
    dl: float,
    avgdl: float,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
) -> float:
    """Scalar TFC (same formulas as :func:`tfc_expr`)."""
    _check(method)
    norm = (1.0 - b) + b * dl / avgdl
    if method in ("robertson", "lucene"):
        return tf / (k1 * norm + tf)
    if method == "atire":
        return (tf * (k1 + 1.0)) / (tf + k1 * norm)
    if method == "bm25l":
        c = tf / norm
        return ((k1 + 1.0) * (c + delta)) / (k1 + c + delta)
    return ((k1 + 1.0) * tf) / (k1 * norm + tf) + delta
