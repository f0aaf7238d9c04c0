#!/usr/bin/env python
"""Dump `.explain("formatted")` for the headline plans to PLANS.md —
plan-hygiene evidence (pushdown, pruning, codegen spans, join
strategies).  Run: python scripts/explain_plans.py [out_path]
"""

from __future__ import annotations

import contextlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _formatted(df) -> str:
    """What ``df.explain("formatted")`` prints, read without redirecting
    stdout (a chunked retrieval runs its chunks on several threads)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@contextlib.contextmanager
def _executed(cls, action: str):
    """Collect the formatted plan of every DataFrame on which ``action``
    (``toPandas``, ``localCheckpoint``) runs inside the block: a sharded
    retrieval executes its plans inside the call, so the DataFrame it
    returns shows only their result."""
    plans: list[str] = []
    orig = getattr(cls, action)

    def spy(self, *args, **kw):
        plans.append(_formatted(self))
        return orig(self, *args, **kw)

    setattr(cls, action, spy)
    try:
        yield plans
    finally:
        setattr(cls, action, orig)


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PLANS.md"
    import tempfile

    from pyspark.sql import functions as F

    from bm25s_spark.session import get_spark
    from bm25s_spark.index_io import save_index, load_index
    from bm25s_spark.indexer import build_index
    from bm25s_spark.transcripts import transcripts_df

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    sections: list[tuple[str, str]] = []

    tdf = transcripts_df(spark, "t2")
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    idx.docs_per_shard = 512
    qdf = spark.createDataFrame(
        [("q0", "spark shuffle partition skew"), ("q1", "checkpoint lineage manifest")],
        "query_id string, text string",
    )

    sections.append((
        "index build (flat postings: the build's cut (doc_id, dl, term, tf) rows, a Scan ExistingRDD, ⨝ the term ids)",
        _formatted(idx.postings),
    ))
    sections.append((
        "top-k retrieval, join strategy (broadcast query terms → hash agg → window)",
        _formatted(idx.retrieve(qdf, k=5, pad=False)),
    ))
    frame = type(qdf)
    with _executed(frame, "toPandas") as pulls:
        idx.retrieve(qdf, k=5, strategy="sharded", pad=False)
    sections.append((
        "top-k retrieval, sharded strategy, bounded batch: the in-process layout pull (array_contains term filter on the cached layout → toPandas; the driver scores and merges)",
        pulls[-1],
    ))
    with _executed(frame, "localCheckpoint") as chunks:
        idx.retrieve(qdf, k=5, strategy="sharded", pad=False,
                     query_chunk_size=1)
    sections.append((
        "top-k retrieval, sharded strategy, batch above query_chunk_size: one chunk (semi-join prune → range exchange → mapInPandas kernel → q_idx exchange → mapInPandas merge)",
        chunks[0],
    ))

    # saved-index scan: term-lookup against the term-sorted layout should
    # show PushedFilters on term + min/max file skipping potential
    d = tempfile.mkdtemp()
    save_index(idx, os.path.join(d, "ix"))
    terms = spark.read.parquet(os.path.join(d, "ix", "postings_terms"))
    sections.append((
        "saved term-ordered postings: single-term lookup (expect PushedFilters: [IsNotNull(term), EqualTo(term,...)], ReadSchema pruned)",
        _formatted(terms.where(F.col("term") == "spark").select("term", "doc_ids")),
    ))
    loaded = load_index(spark, os.path.join(d, "ix"))
    with _executed(frame, "toPandas") as pulls:
        loaded.retrieve(qdf, k=5, strategy="sharded", pad=False)
    sections.append((
        "loaded sharded postings: the bounded batch's layout pull (expect a parquet scan with the term filter, no Python)",
        pulls[-1],
    ))

    from bm25s_spark.operators.coverage import query_coverage

    sections.append((
        "query-coverage report (expect broadcast query side into ONE postings scan; no SortMergeJoin)",
        _formatted(query_coverage(idx, qdf)),
    ))

    from bm25s_spark.operators.drift import term_drift

    docs_ab = tdf.select(F.monotonically_increasing_id().alias("doc_id"), "text")
    sections.append((
        "corpus term drift (expect one tokenize pass per snapshot, TakeOrderedAndProject for top-t — no global sort)",
        _formatted(term_drift(docs_ab.where("doc_id % 2 = 0"),
                              docs_ab.where("doc_id % 2 = 1"), top_t=10)),
    ))

    with open(out_path, "w") as f:
        f.write("# PLANS — formatted physical plans for the headline paths\n\n")
        f.write("Generated by scripts/explain_plans.py; reviewed for: filter/\n"
                "projection pushdown, broadcast choices, WholeStageCodegen spans,\n"
                "partial aggregation, and absence of Python in JVM-only paths.\n\n"
                "An in-memory index keeps no lineage to the frames it was built\n"
                "from: its doc lengths and (doc_id, dl, term, tf) rows are\n"
                "checkpoints stored by their first scan, so the flat postings\n"
                "plan starts from a Scan ExistingRDD instead of the tokenize →\n"
                "TF chain, and stays the same size after any number of merges.\n")
        for title, body in sections:
            f.write(f"\n## {title}\n\n```\n{body}\n```\n")
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
