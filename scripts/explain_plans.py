#!/usr/bin/env python
"""Dump `.explain("formatted")` for the headline plans to PLANS.md —
plan-hygiene evidence (pushdown, pruning, codegen spans, join
strategies).  Run: python scripts/explain_plans.py [out_path]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


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
        "index build (flat postings: tokenize → TF/DF → impacts)",
        _formatted(idx.postings),
    ))
    sections.append((
        "top-k retrieval, join strategy (broadcast query terms → hash agg → window)",
        _formatted(idx.retrieve(qdf, k=5, pad=False)),
    ))
    sections.append((
        "top-k retrieval, sharded strategy (semi-join prune → mapInPandas kernel → mapInPandas final merge)",
        _formatted(idx.retrieve(qdf, k=5, strategy="sharded", pad=False)),
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
    sections.append((
        "loaded sharded postings scan for query path (expect partition/batch scan, no Python until the kernel)",
        _formatted(loaded.retrieve(qdf, k=5, strategy="sharded", pad=False)),
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
                "partial aggregation, and absence of Python in JVM-only paths.\n")
        for title, body in sections:
            f.write(f"\n## {title}\n\n```\n{body}\n```\n")
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
