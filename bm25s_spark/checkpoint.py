"""Resumable, stage-checkpointed index builds with per-partition lineage
and metrics (north_rule requirement).

This is the same pipeline as ``indexer.build_index``, staged: the build
(``indexer.build_pipeline`` and its one index constructor,
``indexer.index_from_segments``) takes a stage hook, and here each of
its stages is a :meth:`Checkpointer.stage` — cut at the pipeline's
natural shuffle boundaries into materialized tables:

    doc_ids → tokenized → tf → term_stats → postings → sharded

Each stage writes its output table plus a ``_MANIFEST.json`` recording:
status, a build fingerprint (parameters + corpus tag), total rows,
**per-file lineage** (output file → row count), stage metrics (docs
tokenized / postings emitted / blocks compressed), and wall time.  A
re-run with the same fingerprint skips every completed stage (reads its
table back) and recomputes only what's missing — killing the driver
after any stage and relaunching produces an identical index, which is
what "resumable from checkpoint" means for a batch build (the analog of
Iceberg snapshot-per-stage on a cluster; the reference has no such
facility — its index build is all-or-nothing in memory).

Determinism note: resume correctness rests on deterministic doc-id
assignment (dense rank under (conv_id, turn_idx) — ``ids.py``), never on
partition order (SURVEY.md §7 hard-part 6).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bm25s_spark.indexer import BM25Index, build_pipeline, tokenizer_spec
from bm25s_spark.scoring import DEFAULT_B, DEFAULT_DELTA, DEFAULT_K1

MANIFEST = "_MANIFEST.json"


@dataclass
class StageResult:
    name: str
    df: DataFrame
    resumed: bool
    rows: int
    manifest: dict


@dataclass
class Checkpointer:
    spark: SparkSession
    root: str
    fingerprint: str
    log: list[StageResult] = field(default_factory=list)

    def _paths(self, name: str) -> tuple[str, str]:
        d = os.path.join(self.root, name)
        return d, os.path.join(d, MANIFEST)

    def completed(self, name: str) -> dict | None:
        _, mpath = self._paths(name)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            m = json.load(f)
        if m.get("status") == "complete" and m.get("fingerprint") == self.fingerprint:
            return m
        return None

    def stage(self, name: str, produce, metrics_fn=None) -> DataFrame:
        """Run ``produce()`` (→ DataFrame) unless this stage is already
        checkpointed under the current fingerprint; either way return the
        stage's table (read back from parquet, so downstream lineage cuts
        here)."""
        d, mpath = self._paths(name)
        m = self.completed(name)
        if m is not None:
            df = self.spark.read.parquet(os.path.join(d, "data"))
            self.log.append(StageResult(name, df, True, m["rows"], m))
            return df
        t0 = time.time()
        df = produce()
        data_dir = os.path.join(d, "data")
        df.write.mode("overwrite").parquet(data_dir)
        out = self.spark.read.parquet(data_dir)
        # per-file lineage: output file → row count (one metadata-light
        # aggregation over the freshly written table)
        lineage_rows = (
            out.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        rows = sum(r["rows"] for r in lineage_rows)
        manifest = {
            "stage": name,
            "status": "complete",
            "fingerprint": self.fingerprint,
            "rows": rows,
            "files": [
                {"file": os.path.basename(r["file"]), "rows": r["rows"]}
                for r in sorted(lineage_rows, key=lambda r: r["file"])
            ],
            "metrics": (metrics_fn(rows) if metrics_fn else {}),
            "wall_seconds": round(time.time() - t0, 3),
        }
        os.makedirs(d, exist_ok=True)
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=2)
        self.log.append(StageResult(name, out, False, rows, manifest))
        return out

    def summary(self) -> dict:
        return {
            "stages": [
                {
                    "name": s.name,
                    "resumed": s.resumed,
                    "rows": s.rows,
                    "wall_seconds": s.manifest.get("wall_seconds"),
                    "metrics": s.manifest.get("metrics", {}),
                }
                for s in self.log
            ]
        }


def build_index_checkpointed(
    docs: DataFrame,
    checkpoint_dir: str,
    corpus_tag: str = "default",
    text_col: str = "text",
    doc_id_col: str | None = None,
    order_cols: list[str] | None = None,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
    stopwords="en",
    stemmer: str | None = None,
    empty_fallback: bool = False,
    docs_per_shard: int | None = None,
    tokenizer_engine: str = "pandas",
) -> tuple[BM25Index, Checkpointer]:
    """``indexer.build_index``'s pipeline, staged: every stage is a
    :meth:`Checkpointer.stage`, and the sharded layout is the last one.

    ``docs_per_shard=None`` (default) resolves adaptively once the doc
    count is known (``indexer.auto_docs_per_shard``); the resolved size
    is baked into the sharded stage's name, so a parallelism change
    rebuilds only that stage and never reloads a layout built under a
    different shard size.  ``tokenizer_engine`` is part of the stage
    fingerprint (it rides in the tokenizer kwargs), so switching engines
    rebuilds rather than reusing the other engine's tokenized stage."""
    from bm25s_spark.shards import build_sharded_postings

    tok_kwargs = tokenizer_spec(stopwords, stemmer, empty_fallback,
                                tokenizer_engine)
    fingerprint = json.dumps(
        {
            "corpus_tag": corpus_tag,
            "k1": k1, "b": b, "delta": delta,
            "tokenizer": {
                k: (sorted(v) if isinstance(v, (set, frozenset)) else v)
                for k, v in tok_kwargs.items()
            },
            # column mapping is part of stage identity: the same corpus
            # under a different text/doc-id/order mapping must not reuse
            # doc_ids/tokenized stages built under the old mapping
            "text_col": text_col,
            "doc_id_col": doc_id_col,
            "order_cols": order_cols,
            "docs_per_shard": "auto" if docs_per_shard is None else docs_per_shard,
            "version": 1,
        },
        sort_keys=True,
    )
    ck = Checkpointer(docs.sparkSession, checkpoint_dir, fingerprint)
    index = build_pipeline(
        docs, doc_id_col, order_cols, True, dict(k1=k1, b=b, delta=delta),
        tok_kwargs, text_col=text_col, stage=ck.stage,
        docs_per_shard=docs_per_shard,
    )
    index.sharded = ck.stage(
        f"sharded_dps{index.docs_per_shard}" if docs_per_shard is None
        else "sharded",
        lambda: build_sharded_postings(index, index.docs_per_shard),
        metrics_fn=lambda rows: {"blocks_compressed": rows},
    )
    return index, ck
