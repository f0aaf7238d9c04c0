"""Document deletes: tombstone views and index compaction.

The reference index is immutable — deleting a document means rebuilding
(``reference/bm25s/__init__.py:326-438`` recomputes everything from the
token lists).  At 10^12-turn scale a full rebuild per delete batch is
not an option, so this module adds the Lucene-style two-phase lifecycle:

1. :func:`with_tombstones` — a *live-docs view*: deleted documents stop
   matching immediately, but every corpus statistic (``num_docs``,
   ``avg_doc_len``, per-term ``df``/IDF, nonoccurrence constants) still
   counts them, so surviving documents keep their exact pre-delete
   scores.  This is Lucene's deleted-docs bitmask semantics: cheap
   (one anti-join), immediate, and score-stable until a merge.
2. :func:`compact_index` — the "merge": statistics are *re-derived*
   from the surviving postings, producing an index bit-identical to a
   fresh build over the surviving corpus — WITHOUT re-tokenizing (the
   flat postings hold (tf, dl), which is all the scoring formulas
   need; re-running the one Python stage of the build would be the
   dominant cost at scale).

Scale shape: the tombstone set is per-batch small relative to the
corpus (deletes arrive in batches), so the anti-joins broadcast it;
pass ``broadcast=False`` for pathological tombstone sets and Spark
falls back to a shuffle anti-join.  Compaction's only new shuffle is
the vocab-sized DF re-aggregation — the same single aggregation the
build runs.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bm25s_spark.indexer import (BM25Index, index_from_segments,
                                 index_segments)


def _tombstone_set(tombstones_df: DataFrame, doc_id_col: str,
                   broadcast: bool) -> DataFrame:
    tomb = tombstones_df.select(
        F.col(doc_id_col).cast("long").alias("doc_id")
    ).distinct()
    return F.broadcast(tomb) if broadcast else tomb


def with_tombstones(
    index: BM25Index,
    tombstones_df: DataFrame,
    doc_id_col: str = "doc_id",
    broadcast: bool = True,
) -> BM25Index:
    """Live-docs view of ``index`` with ``tombstones_df``'s documents
    masked out (Lucene deleted-docs semantics).

    Deleted docs are removed from ``postings`` / ``doc_lens`` /
    ``doc_map`` via anti-join; ``num_docs``, ``avg_doc_len`` and
    ``term_stats`` (df, hence every idf and nnoc) are left untouched, so
    the scores of surviving documents are bit-identical to the
    pre-delete index — exactly what an incrementally-maintained serving
    index must guarantee between merges.  The blocked sharded layout
    (if built) is dropped from the view: block arrays pack many docs per row, so
    masking inside them would rewrite the blocks anyway — re-shard from
    the view's postings (``shards.build_sharded_postings``) when the
    kernel path is needed, or :func:`compact_index` first.
    """
    tomb = _tombstone_set(tombstones_df, doc_id_col, broadcast)
    live_map = (
        index.doc_map.join(tomb, "doc_id", "left_anti")
        if index.doc_map is not None else None
    )
    return replace(
        index,
        postings=index.postings.join(tomb, "doc_id", "left_anti"),
        doc_lens=index.doc_lens.join(tomb, "doc_id", "left_anti"),
        doc_map=live_map,
        sharded=None,
    )


def compact_index(
    index: BM25Index,
    tombstones_df: DataFrame | None = None,
    doc_id_col: str = "doc_id",
    broadcast: bool = True,
) -> BM25Index:
    """Rebuild the index statistics over the surviving documents —
    equivalent to a fresh :func:`~bm25s_spark.indexer.build_index` on
    the corpus minus the tombstones, without re-tokenizing.

    ``tombstones_df=None`` compacts an existing :func:`with_tombstones`
    view (its postings/doc_lens are already filtered).  Doc ids are
    preserved: compaction changes statistics, not identity.  The
    vocabulary (including the ``""`` patch), df and dense term ids are
    re-derived by the one index constructor every build uses
    (``indexer.index_from_segments``), so compacted and freshly-built
    indexes cannot drift.  A reference-format import
    (``compat.import_bm25s``) has no real (tf, dl) to re-derive from and
    raises ``ValueError``; its :func:`with_tombstones` view still serves
    queries.
    """
    if index.compat_import is not None:
        raise ValueError(
            "this index was imported from a reference-format save "
            "(compat.import_bm25s): it stores no tf/dl, so compact_index "
            "cannot rescore it; use with_tombstones for a live-docs view"
        )
    live = (
        with_tombstones(index, tombstones_df, doc_id_col, broadcast)
        if tombstones_df is not None else index
    )
    return index_from_segments(
        index_segments(live), live.doc_lens,
        live.doc_map, index.k1, index.b, index.delta, index.tokenizer_kwargs,
    )
