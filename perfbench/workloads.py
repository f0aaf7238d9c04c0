"""Workloads: set-up, the timed closed loop, tracing and checks.

Both workloads ingest the seeded corpus during set-up and then run a
closed loop with one client (the next request is sent only after the
previous one completed):

- ``batch_query``: batches of 1024 queries through
  ``retrieve(strategy="sharded", k=10, pad=False)``.
- ``serve``: single queries through ``retrieve(strategy="sharded",
  k=10)`` (the padded interactive contract), with a delta of 500 new
  turns ingested after every ``REFRESH_EVERY`` queries (``build_index``
  on the delta, ``merge_indexes``, ``ensure_sharded``).

An untraced ingest calls ``build_index`` as a user would.  A traced
ingest makes the same index through the layers' public functions with a
forced boundary (persist + count) after each, so every layer's time
shows as its own span.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import inputs as gen
from perfbench.oracle import Oracle, padded, same_ranking
from perfbench.tracing import Tracer

K = 10
# build_index's own tokenizer configuration (default pandas engine,
# English stopwords), passed explicitly on the traced path
TOK_KWARGS = dict(stopwords="en", stemmer=None, empty_fallback=False)
REFRESH_EVERY = 3
CHECKS_PER_BATCH = 16
WARMUP_BATCH_ROWS = 256
WARMUP_QUERIES = 6
QUERY_SCHEMA = "query_id string, text string"


class Workload:
    def __init__(self, spark, name: str, seed: int, work_dir: Path,
                 tracer: Tracer):
        self.spark = spark
        self.name = name
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.traced_run = tracer.enabled
        self.index = None
        self.epoch = 0                  # deltas ingested so far
        self.inputs: gen.Inputs | None = None
        self.delta_paths: list[str] = []
        self.ops: list[dict] = []       # one record per timed operation
        self.checks: list[dict] = []    # results kept for the oracle
        self.ingests: list[dict] = []   # traced ingest records
        self.errors: list[str] = []
        self.corpus_ingest_s = self.last_refresh_s = self.window_s = 0.0
        self._sample_rng = np.random.default_rng(seed + 1)
        self._df_cache: tuple | None = None

    # ---- set-up --------------------------------------------------------
    def setup(self) -> None:
        inp = gen.generate(self.seed, self.name)
        self.inputs = inp
        data = self.work_dir / "data"
        data.mkdir(parents=True, exist_ok=True)
        corpus_path = data / "corpus.parquet"
        inp.corpus.to_parquet(corpus_path, index=False)
        for i, d in enumerate(inp.deltas):
            p = data / f"delta-{i:03d}.parquet"
            d.to_parquet(p, index=False)
            self.delta_paths.append(str(p))
        self.corpus_ingest_s = self._timed_ingest(
            lambda: self._ingest_corpus(str(corpus_path)), "corpus"
        )
        # warm-up: the corpus ingest is the build path's first use (JIT,
        # Python worker spawn); query latency keeps dropping over the
        # first few operations (JIT, the kernel's Python worker pool), so
        # a few unchecked operations run before the clock starts
        if self.name == "batch_query":
            b = inp.batches[-1].head(WARMUP_BATCH_ROWS)
            self._query(b.assign(query_id="w-" + b["query_id"]), pad=False)
        else:
            for i in range(WARMUP_QUERIES):
                self._query(inp.singles.iloc[[-1 - i]].assign(
                    query_id=f"w-{i}"), pad=True)

    def _timed_ingest(self, fn, kind: str) -> float:
        t0 = time.perf_counter()
        group = self._job_group(f"ingest-{len(self.ingests)}")
        rec = fn()
        dt = time.perf_counter() - t0
        self._clear_job_group()
        if self.traced_run:
            rec.update(kind=kind, seconds=dt, group=group,
                       in_window=self.tracer.op is not None)
            self.ingests.append(rec)
        return dt

    # ---- ingest paths --------------------------------------------------
    def _ingest_corpus(self, path: str) -> dict:
        from bm25s_spark.indexer import build_index
        from bm25s_spark.shards import ensure_sharded

        docs = self.spark.read.parquet(path)
        if not self.traced_run:
            self.index = build_index(docs)
            ensure_sharded(self.index).count()
            return {}
        from bm25s_spark.ids import assign_doc_ids

        tr = self.tracer
        with tr.span("ingest.corpus"):
            with tr.span("ids.assign") as s:
                caches: list = []
                ided = assign_doc_ids(docs, persisted_out=caches).persist()
                s["docs"] = ided.count()
            tok = self._tokenize(ided, "tokenization.corpus")
            idx, postings = self._index_tokens(tok, "indexer.postings")
            idx.aux_persisted.extend(caches + [ided, tok])
            rec = self._layout(idx, docs_ingested=s["docs"],
                               postings=postings)
        self.index = idx
        return rec

    def _tokenize(self, df, span_name: str):
        from pyspark.sql import functions as F

        from bm25s_spark.tokenization import make_tokenizer_udf

        with self.tracer.span(span_name) as s:
            udf = make_tokenizer_udf(**TOK_KWARGS)
            tok = df.select("doc_id", udf(F.col("text")).alias("tokens")) \
                .persist()
            row = tok.agg(F.count(F.lit(1)).alias("n"),
                          F.sum(F.size("tokens")).alias("t")).collect()[0]
            s["docs"], s["tokens"] = int(row["n"]), int(row["t"] or 0)
        return tok

    def _index_tokens(self, tok, span_name: str):
        from pyspark.sql import functions as F

        from bm25s_spark.indexer import build_index_from_tokens

        with self.tracer.span(span_name) as s:
            idx = build_index_from_tokens(
                tok, doc_id_col="doc_id", query_tokenizer_kwargs=TOK_KWARGS
            )
            s["postings"] = idx.postings.count()
            s["vocab_terms"] = idx.term_stats.where(F.col("df") > 0).count()
        return idx, s["postings"]

    def _layout(self, idx, docs_ingested: int, postings: int) -> dict:
        from bm25s_spark.shards import ensure_sharded

        before = self._cached_bytes()
        with self.tracer.span("shards.layout") as s:
            s["blocks"] = ensure_sharded(idx).count()
        s["layout_bytes"] = self._cached_bytes() - before
        s["rewritten_per_doc"] = postings / max(docs_ingested, 1)
        return {"layout": s}

    def _cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def _refresh(self) -> None:
        """Ingest the next delta and make it searchable; the previous
        index and the delta's own index are released afterwards."""
        path = self.delta_paths[self.epoch]
        n_docs = len(self.inputs.deltas[self.epoch])
        old = self.index
        made: list = []

        def run() -> dict:
            d_idx, merged, rec = self._ingest_delta(old, path, n_docs)
            made.append(d_idx)
            self.index = merged
            return rec

        self.last_refresh_s = self._timed_ingest(run, "delta")
        self.epoch += 1
        for idx in (old, *made):
            idx.unpersist()
            if idx.sharded is not None:
                idx.sharded.unpersist()

    def _ingest_delta(self, old, path: str, n_docs: int):
        from bm25s_spark.indexer import build_index, merge_indexes
        from bm25s_spark.shards import ensure_sharded

        delta = self.spark.read.parquet(path)
        if not self.traced_run:
            d_idx = build_index(delta, doc_id_col="doc_id")
            merged = merge_indexes(old, d_idx)
            ensure_sharded(merged).count()
            return d_idx, merged, {}
        tr = self.tracer
        with tr.span("ingest.delta"):
            tok = self._tokenize(delta, "tokenization.delta")
            d_idx, _ = self._index_tokens(tok, "indexer.postings.delta")
            d_idx.aux_persisted.append(tok)
            with tr.span("indexer.merge") as s:
                merged = merge_indexes(old, d_idx)
                s["postings"] = merged.postings.count()
            rec = self._layout(merged, docs_ingested=n_docs,
                               postings=s["postings"])
        return d_idx, merged, rec

    # ---- operations ----------------------------------------------------
    def _query(self, qpdf: pd.DataFrame, pad: bool,
               metrics: dict | None = None) -> pd.DataFrame:
        from bm25s_spark.retrieval import retrieve

        tr = self.tracer
        with tr.span("client.query_df"):
            qdf = self.spark.createDataFrame(qpdf, schema=QUERY_SCHEMA)
        with tr.span("retrieval.retrieve"):
            res = retrieve(self.index, qdf, k=K, strategy="sharded", pad=pad,
                           metrics=metrics)
        with tr.span("shards.kernel"):
            return res.toPandas()

    def run(self, seconds: float) -> None:
        """The closed loop: operations back to back until ``seconds``
        have passed.  A traced run traces every refresh and every other
        query operation, so traced and untraced query latencies come
        from the same process."""
        inp = self.inputs
        t_start = time.perf_counter()
        deadline = t_start + seconds
        i = n_q = 0
        while time.perf_counter() < deadline:
            self.tracer.op = i
            if self.name == "serve" and n_q and n_q % REFRESH_EVERY == 0 \
                    and self.ops[-1]["kind"] == "query" \
                    and self.epoch < len(self.delta_paths):
                traced = self.tracer.enabled = self.traced_run
                rec = {"kind": "refresh", "traced": traced}
                with self.tracer.span("op.refresh"):
                    self._op(rec, self._refresh, traced)
                if rec["ok"]:
                    rec["latency"] = self.last_refresh_s
            else:
                traced = self.tracer.enabled = self.traced_run and n_q % 2 == 0
                if self.name == "serve":
                    qpdf = inp.singles.iloc[[n_q % len(inp.singles)]]
                else:
                    qpdf = inp.batches[n_q % len(inp.batches)]
                rec = {"kind": "query", "traced": traced,
                       "queries": len(qpdf)}
                metrics: dict | None = {} if traced else None
                with self.tracer.span("op.query"):
                    out = self._op(rec, lambda: self._query(
                        qpdf, pad=self.name == "serve", metrics=metrics),
                        traced)
                if out is not None:
                    self._keep(qpdf, out, rec, metrics)
                n_q += 1
            self.ops.append(rec)
            i += 1
        self.tracer.enabled = self.traced_run
        self.tracer.op = None
        self.window_s = time.perf_counter() - t_start

    def _op(self, rec: dict, fn, traced: bool):
        """Time ``fn()``; an exception fails the op and the loop goes on."""
        group = self._job_group(f"op-{len(self.ops)}") if traced else None
        t0 = time.perf_counter()
        out = None
        try:
            out = fn()
            rec["ok"] = True
        except Exception as exc:
            rec["ok"] = False
            self.errors.append(f"{rec['kind']}: {type(exc).__name__}: {exc}")
        rec["latency"] = time.perf_counter() - t0
        if group:
            self._clear_job_group()
            rec["group"] = group
        return out

    def _keep(self, qpdf: pd.DataFrame, out: pd.DataFrame, rec: dict,
              metrics: dict | None) -> None:
        """Outside the timed op: record kernel counters and keep the
        results to be checked (every query on serve, a seeded sample of
        each batch)."""
        serve = self.name == "serve"
        # rows that came out of the kernel (pad rows score exactly 0)
        rec["rows"] = int((out["score"] > 0).sum())
        if metrics is not None:
            rec["acc"] = {k: int(v.value) for k, v in metrics.items()}
            rec["unpruned"] = self._unpruned_postings(qpdf)
        if serve:
            keep = qpdf
        else:
            pick = self._sample_rng.choice(len(qpdf), CHECKS_PER_BATCH,
                                           replace=False)
            keep = qpdf.iloc[np.sort(pick)]
        by_q = {q: g for q, g in out.groupby("query_id")}
        for qid, text in zip(keep["query_id"], keep["text"]):
            g = by_q.get(qid)
            rows = [] if g is None else [
                (int(d), float(s))
                for d, s in g.sort_values("rank")[["doc_id", "score"]]
                .itertuples(index=False)
            ]
            self.checks.append({"op": len(self.ops), "epoch": self.epoch,
                                "query_id": qid, "text": text, "rows": rows,
                                "pad": serve})

    def _unpruned_postings(self, qpdf: pd.DataFrame) -> int:
        """Scatter-adds a kernel without MaxScore would perform: the df of
        every distinct in-vocabulary term of every query."""
        from bm25s_spark.tokenization import make_local_tokenizer

        if self._df_cache is None or self._df_cache[0] is not self.index:
            ts = self.index.term_stats.select("term", "df").toPandas()
            self._df_cache = (self.index, dict(zip(ts["term"], ts["df"])))
        dfs = self._df_cache[1]
        tok = make_local_tokenizer(**TOK_KWARGS)
        return int(sum(
            dfs.get(t, 0) for toks in tok(qpdf["text"]) for t in set(toks)
        ))

    # ---- spark job accounting (traced runs) ----------------------------
    def _job_group(self, name: str) -> str | None:
        if not self.traced_run:
            return None
        group = f"perfbench-{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        return group

    def _clear_job_group(self) -> None:
        if self.traced_run:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) of one job group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks + si.numFailedTasks
        return len(jobs), stages, tasks

    # ---- correctness ---------------------------------------------------
    def verify(self) -> tuple[int, list[str]]:
        """Check kept results and the final index against the DuckDB
        oracle.  Returns (failed ops, messages); a mismatching query
        fails its op, a wrong index count fails one more."""
        inp = self.inputs
        base = inp.corpus.assign(doc_id=np.arange(len(inp.corpus)))
        bad_ops: set[int] = set()
        msgs: list[str] = []
        by_epoch: dict[int, list[dict]] = {}
        for c in self.checks:
            by_epoch.setdefault(c["epoch"], []).append(c)
        for epoch in sorted(set(by_epoch) | {self.epoch}):
            docs = pd.concat([base] + inp.deltas[:epoch], ignore_index=True)
            oracle = Oracle(docs)
            try:
                checks = by_epoch.get(epoch, [])
                if checks:
                    qs = pd.DataFrame({
                        "query_id": [c["query_id"] for c in checks],
                        "text": [c["text"] for c in checks],
                    }).drop_duplicates("query_id")
                    ref = oracle.topk(qs, K)
                    for c in checks:
                        want = ref.get(c["query_id"], [])
                        if c["pad"]:
                            want = padded(want, K)
                        if not same_ranking(c["rows"], want):
                            bad_ops.add(c["op"])
                            msgs.append(
                                f"rank mismatch epoch={epoch} "
                                f"{c['query_id']}: ours={c['rows'][:3]} "
                                f"oracle={want[:3]}"
                            )
                if epoch == self.epoch:
                    n_docs, n_post = oracle.counts()
                    got = (self.index.num_docs, self.index.postings.count())
                    if got != (n_docs, n_post):
                        msgs.append(f"index counts {got} != oracle "
                                    f"{(n_docs, n_post)}")
                        bad_ops.add(-1)
            finally:
                oracle.close()
        return len(bad_ops), msgs

    # ---- metrics -------------------------------------------------------
    def end_to_end(self) -> dict:
        lat = self.query_latencies()
        refresh = [o["latency"] for o in self.ops if o["kind"] == "refresh"]
        return {
            "queries_per_s": sum(o["queries"] for o in self.ops
                                 if o["kind"] == "query") / sum(lat),
            "op_p50_s": statistics.median(lat),
            "ingest_s": statistics.median(refresh) if refresh
            else self.corpus_ingest_s,
        }

    def query_latencies(self) -> list[float]:
        return [o["latency"] for o in self.ops if o["kind"] == "query"]

    def tail(self) -> dict:
        """The highest nearest-rank percentile with at least ten query
        operations beyond it (none below 20 operations)."""
        lat = sorted(self.query_latencies())
        n = len(lat)
        if n < 20:
            return {"percentile": None, "value": None, "samples": n}
        pct = int(100 * (n - 10) / n)
        return {"percentile": pct, "samples": n,
                "value": lat[max(1, -(-pct * n // 100)) - 1]}

    def per_layer(self) -> dict:
        tr = self.tracer
        tok = tr.named("tokenization.corpus")[0]
        post = tr.named("indexer.postings")[0]
        layouts = [r["layout"] for r in self.ingests]
        window_ingests = [r for r in self.ingests if r["in_window"]]
        rewrite = [r["layout"]["rewritten_per_doc"]
                   for r in (window_ingests or self.ingests[:1])]
        traced_q = [o for o in self.ops
                    if o["kind"] == "query" and o["traced"] and o["ok"]]
        plain_q = [o for o in self.ops
                   if o["kind"] == "query" and not o["traced"] and o["ok"]]
        acc = {k: sum(o["acc"][k] for o in traced_q) for k in (
            "shards_scored", "postings_scanned", "postings_scored",
            "candidates_emitted")}
        n_t = max(len(traced_q), 1)
        counts = [self.job_counts(o["group"]) for o in traced_q]
        ingest_jobs = [self.job_counts(r["group"])[0]
                       for r in (window_ingests or self.ingests[:1])]
        overhead = 0.0
        if traced_q and plain_q:
            overhead = (statistics.median(o["latency"] for o in traced_q)
                        - statistics.median(o["latency"] for o in plain_q))
        return {
            "session.start_s": tr.median_self("session.get_spark"),
            "ids.assign_s": tr.median_self("ids.assign"),
            "tokenization.corpus_s": tr.median_self("tokenization.corpus"),
            "tokenization.docs": tok["docs"],
            "tokenization.tokens": tok["tokens"],
            "tokenization.query_s": tr.median_self(
                "tokenization.query", in_ops=True, per_op=True),
            "indexer.postings_s": tr.median_self("indexer.postings"),
            "indexer.postings": post["postings"],
            "indexer.vocab_terms": post["vocab_terms"],
            "indexer.merge_s": tr.median_self("indexer.merge", in_ops=True),
            "shards.layout_s": tr.median_self("shards.layout"),
            "shards.blocks": layouts[-1]["blocks"],
            "shards.layout_bytes": layouts[-1]["layout_bytes"],
            "shards.rows_rewritten_per_ingested_doc": statistics.median(
                rewrite),
            "shards.kernel_s": tr.median_self("shards.kernel", in_ops=True),
            "shards.shards_scored": acc["shards_scored"] / n_t,
            "shards.postings_scanned": acc["postings_scanned"] / n_t,
            "shards.postings_scored": acc["postings_scored"] / n_t,
            "shards.candidates_emitted": acc["candidates_emitted"] / n_t,
            "shards.useful_ratio": sum(o["rows"] for o in traced_q)
            / max(acc["candidates_emitted"], 1),
            "shards.prune_ratio": acc["postings_scored"]
            / max(sum(o["unpruned"] for o in traced_q), 1),
            "retrieval.call_s": tr.median_self(
                "retrieval.retrieve", in_ops=True),
            "client.query_df_s": tr.median_self(
                "client.query_df", in_ops=True),
            "spark.jobs_per_op": sum(c[0] for c in counts) / n_t,
            "spark.stages_per_op": sum(c[1] for c in counts) / n_t,
            "spark.tasks_per_op": sum(c[2] for c in counts) / n_t,
            "spark.jobs_per_ingest": statistics.median(ingest_jobs),
            "trace.overhead_s": overhead,
        }
