"""Per-layer metrics of a traced run.

Two sources, both outside the engine:
- probes the benchmark runs after the workload, on the workload's own
  index (host floors, kernel throughput, searcher breakdown, WAND, an NRT
  append), each inside a span;
- the spans themselves, joined with Spark's event log by job group
  (`from_event_log`).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import inputs
import workloads

HOST_REPS = 7
TOUCH_MB = 128
PROBE_QUERIES = 40
BREAKDOWN_QUERIES = 15
DIST_PROBE_QUERIES = 10
APPEND_DOCS = 300
NRT_ORACLE_QUERIES = 6


def _median_ms(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(out)


def _rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def host(ctx) -> None:
    """The host's regime: Spark's 1-task floors and page first-touch speed."""
    spark, L = ctx.spark, ctx.layer
    with ctx.tracer.span("host"):
        L["host.jvm_task_floor_ms"] = _median_ms(
            lambda: spark.range(0, 1, 1, 1).collect(), HOST_REPS)
        L["host.python_task_floor_ms"] = _median_ms(
            lambda: spark.range(0, 1, 1, 1).mapInPandas(lambda it: it, "id long").collect(),
            HOST_REPS)
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            a = np.empty(TOUCH_MB << 20, dtype=np.uint8)
            a.fill(1)  # every page is touched for the first time here
            rates.append(TOUCH_MB / (time.perf_counter() - t0))
            del a
        L["host.first_touch_mb_per_s"] = statistics.median(rates)


def build_tasks(ctx, pdf):
    """The build task each corpus row is routed to: the build tags rows
    with `with_partition` and shuffles them with repartition(<default
    parallelism>, "part"), whose partition id is pmod(hash(part), width)."""
    from lucene_rust_spark.index.build import with_partition

    width = ctx.spark.sparkContext.defaultParallelism
    keys = ctx.spark.createDataFrame(pdf[["repo", "path", "commit"]])
    tagged = with_partition(keys, workloads.num_partitions(ctx.cores))
    return tagged.selectExpr(f"pmod(hash(part), {width}) AS task").toPandas()["task"].to_numpy()


def kernels(ctx, index_dir: str, manifest: dict) -> None:
    """Single-threaded kernel throughput on the index's own blocks."""
    import pyarrow.dataset as ds

    from lucene_rust_spark.functions import kernels as K
    from lucene_rust_spark.index.manifest import store_dirs

    L = ctx.layer
    path = os.path.join(index_dir, store_dirs(manifest)["postings_dir"])
    tab = ds.dataset(path, format="parquet").to_table(columns=["n", "docs_bin", "tfs_bin", "dlq_bin"])
    ns = tab.column("n").to_numpy()
    docs_bin = tab.column("docs_bin").to_pylist()
    tfs_bin = tab.column("tfs_bin").to_pylist()
    dlq_bin = tab.column("dlq_bin").to_pylist()
    postings = int(ns.sum())
    with ctx.tracer.span("kernels"):
        t0 = time.perf_counter()
        docs = K.for_unpack_batch(docs_bin, ns)
        tfs = K.for_unpack_batch(tfs_bin, ns)
        unpack_s = time.perf_counter() - t0
        deltas = np.concatenate(docs)
        ends = np.cumsum(ns)
        t0 = time.perf_counter()
        K.for_pack_batch(deltas, ends - ns, ends)
        pack_s = time.perf_counter() - t0
        tf = np.concatenate(tfs)
        dlq = np.frombuffer(b"".join(dlq_bin), dtype=np.uint8)
        cache = K.bm25_norm_cache(np.float32(1000.0))
        idf = np.full(len(tf), np.float32(1.5), dtype=np.float32)
        t0 = time.perf_counter()
        K.bm25_score(tf, dlq, idf, cache)
        score_s = time.perf_counter() - t0
    L["kernels.for_unpack_postings_per_s"] = postings / unpack_s
    L["kernels.for_pack_postings_per_s"] = postings / pack_s
    L["kernels.bm25_score_postings_per_s"] = postings / score_s
    L["kernels.bytes_per_posting"] = sum(
        len(a) + len(b) + len(c) for a, b, c in zip(docs_bin, tfs_bin, dlq_bin)
    ) / postings


def shapes(ctx, built: dict, merged: dict, index_dir: str) -> None:
    """Index shape before and after the merge, and store sizes."""
    from lucene_rust_spark.index.manifest import store_dirs

    L = ctx.layer
    before = os.path.join(index_dir, store_dirs(built)["postings_dir"])
    after = os.path.join(index_dir, store_dirs(merged)["postings_dir"])
    L["build.segments"] = len(built["segments"])
    L["build.blocks"] = _rows(before)
    for store, nbytes in workloads.store_bytes(index_dir, built).items():
        L[f"build.{store}_bytes"] = nbytes
    L["merge.segments_before"] = len(built["segments"])
    L["merge.segments_after"] = len(merged["segments"])
    L["merge.blocks_before"] = L["build.blocks"]
    L["merge.blocks_after"] = _rows(after)


def searcher_probe(ctx, index_dir: str, manifest: dict) -> None:
    """Driver placement on a searcher instance of its own (the workload's
    LRU stays untouched): a short Zipf stream, then a per-step breakdown
    of LRU-miss queries."""
    from lucene_rust_spark.oracle.bm25 import query_terms
    from lucene_rust_spark.search.searcher import IndexSearcher, combine_bool_arrays

    L, tr = ctx.layer, ctx.tracer
    terms, dfs, nblocks = workloads.ranked_terms(index_dir, manifest)
    blocks_of = dict(zip(terms, nblocks.tolist()))
    if "searcher.open_s" not in L:
        L["searcher.open_s"], s = workloads.open_searcher(ctx, index_dir)
    else:
        s = IndexSearcher(ctx.spark, index_dir, cache=True)
    stream = inputs.QueryStream(terms, dfs, ctx.seed + 1_000)

    seen: set[str] = set()
    jobs, zero, posts, blocks, stats_ms = [], 0, [], [], []
    for _ in range(PROBE_QUERIES):
        q, k = stream.next()
        must, should, must_not, _ = query_terms(q)
        qt = sorted(set(must) | set(should) | set(must_not))
        t0 = time.perf_counter()
        st = s.term_stats(qt)
        stats_ms.append((time.perf_counter() - t0) * 1000.0)
        with tr.span("search", placement="driver") as sp:
            s.search(q, k)
        jobs.append(sp["spark_jobs"])
        zero += sp["spark_jobs"] == 0
        posts.append(sum(v["doc_freq"] for v in st.values()))
        blocks.append(sum(blocks_of.get(t, 0) for t in qt if t not in seen))
        seen.update(qt)
    L["searcher.term_stats_ms"] = statistics.median(stats_ms)
    L["searcher.spark_jobs_per_query"] = float(np.mean(jobs))
    L["searcher.zero_job_query_share"] = zero / PROBE_QUERIES
    L["searcher.postings_per_query"] = float(np.mean(posts))
    L["searcher.blocks_collected_per_query"] = float(np.mean(blocks))

    # breakdown of LRU-miss ORs of 3 Zipf-drawn terms, through the
    # engine's own steps: the uncached blocks collect + decode, the bool
    # combine, then the top-k sort
    parts = {"collect_decode": [], "combine": [], "rank": []}

    def timed(key, fn):
        t0 = time.perf_counter()
        out = fn()
        parts[key].append((time.perf_counter() - t0) * 1000.0)
        return out

    for _ in range(BREAKDOWN_QUERIES):
        qt = sorted(stream.draw_terms(3))
        st = s.term_stats(qt)
        idf = {t: np.float32(st[t]["idf"]) for t in st}
        with tr.span("searcher.breakdown"):
            arrays = timed("collect_decode", lambda: s._collect_postings_uncached(qt, None))
            docs, scores = timed("combine", lambda: combine_bool_arrays(arrays, [], qt, [], 0, idf, s.sim))
            timed("rank", lambda: IndexSearcher._rank_rows(docs, scores, 10, None))
    for key, v in parts.items():
        L[f"searcher.{key}_ms"] = statistics.median(v)
    ctx.state["probe_searcher"] = s
    ctx.state["probe_terms"] = (terms, dfs)
    ctx.state["probe_head_term"] = stream.ranked[0]


def distributed_probe(ctx) -> None:
    """A few queries forced onto the distributed placement through the
    searcher's documented per-instance override."""
    s = ctx.state["probe_searcher"]
    terms, dfs = ctx.state["probe_terms"]
    stream = inputs.QueryStream(terms, dfs, ctx.seed + 2_000)
    saved = s.DRIVER_EXEC_MAX_POSTINGS
    s.DRIVER_EXEC_MAX_POSTINGS = 0
    try:
        for kind in inputs.QUERY_MIX:  # compiles every plan shape: not counted
            with ctx.tracer.span("search.warmup"):
                s.search(*stream.make(kind))
        lat = []
        for _ in range(DIST_PROBE_QUERIES):
            q, k = stream.next()
            t0 = time.perf_counter()
            with ctx.tracer.span("search", placement="distributed"):
                s.search(q, k)
            lat.append((time.perf_counter() - t0) * 1000.0)
        ctx.layer["searcher.distributed_query_ms"] = statistics.median(lat)
    finally:
        s.DRIVER_EXEC_MAX_POSTINGS = saved


def wand(ctx) -> None:
    """Block-max WAND planning on the head term (auto-off at this size;
    forced here to report what it would prune)."""
    from pyspark.sql import functions as F

    from lucene_rust_spark.search.wand import wand_candidates

    s = ctx.state["probe_searcher"]
    head = ctx.state["probe_head_term"]
    st = s.term_stats([head])
    total = s.postings.filter(F.col("term") == head).count()
    with ctx.tracer.span("wand.candidates"):
        t0 = time.perf_counter()
        kept_df, _ = wand_candidates(s, [head], st, 10)
        kept = kept_df.count()
        ctx.layer["wand.candidates_ms"] = (time.perf_counter() - t0) * 1000.0
    ctx.layer["wand.block_prune_ratio"] = 1.0 - kept / max(total, 1)


def append(ctx, index_dir: str) -> None:
    """One NRT cycle: append a pure-ASCII batch, refresh, probe its
    unique token; the probe must hit."""
    from lucene_rust_spark.index.manifest import read_manifest
    from lucene_rust_spark.streaming.incremental import append_batch

    s, L, tr = ctx.state["probe_searcher"], ctx.layer, ctx.tracer
    pdf = inputs.append_batch_rows(ctx.seed, 0, APPEND_DOCS)
    df = ctx.spark.createDataFrame(pdf, inputs.SCHEMA)
    with tr.span("append") as sp:
        t0 = time.perf_counter()
        append_batch(ctx.spark, df, index_dir, epoch=0)
        L["append.wall_s"] = time.perf_counter() - t0
    L["append.spark_jobs"] = sp["spark_jobs"]
    L["append.segments_total"] = len(read_manifest(index_dir)["segments"])
    with tr.span("searcher.refresh"):
        t0 = time.perf_counter()
        s.refresh()
        L["searcher.refresh_ms"] = (time.perf_counter() - t0) * 1000.0
    rid = int(pdf["row_id"].iloc[0])
    with tr.span("append.first_query"):
        t0 = time.perf_counter()
        hits = s.search({"type": "term", "term": f"uniq_{rid}"}, 10)
        L["append.first_query_ms"] = (time.perf_counter() - t0) * 1000.0
    ctx.check(len(hits) == 1, f"appended doc uniq_{rid} not visible after refresh")

    # appended docs take epoch-offset docIDs, so only the top-k score
    # vectors compare with the oracle over base + appended rows
    import pandas as pd

    from lucene_rust_spark.oracle.bm25 import build_oracle_index, oracle_search

    oracle = build_oracle_index(pd.concat([ctx.state["pdf"], pdf], ignore_index=True),
                                workloads.num_partitions(ctx.cores))
    terms, dfs = ctx.state["probe_terms"]
    stream = inputs.QueryStream(terms, dfs, ctx.seed + 3_000)
    for _ in range(NRT_ORACLE_QUERIES):
        q, k = stream.next()
        got = [np.float32(x) for _, x in s.search(q, k)]
        want = [np.float32(x) for _, x in oracle_search(oracle, q, k)]
        ctx.check(got == want, f"after append, {q} scores != oracle over base + appended rows")


def run_all(ctx, e2e: dict, session_s: float) -> None:
    L, st = ctx.layer, ctx.state
    L["session.start_s"] = session_s
    L["trace.op_p50_ms"] = e2e["op_p50_ms"]
    L.update(inputs.corpus_properties(st["pdf"], build_tasks(ctx, st["pdf"]),
                                      int(ctx.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))))
    host(ctx)
    index_dir, merged = st["index_dir"], st["merged"]
    shapes(ctx, st["built"], merged, index_dir)
    kernels(ctx, index_dir, merged)
    if "open_s" in st:
        L["searcher.open_s"] = st["open_s"]
    searcher_probe(ctx, index_dir, merged)
    distributed_probe(ctx)
    wand(ctx)
    append(ctx, index_dir)


def from_event_log(ctx, log_dir: str) -> None:
    """Task totals per span subtree, from the event log."""
    from spans import EventLog

    ev = EventLog(log_dir)
    tr, L, cores = ctx.tracer, ctx.layer, ctx.cores

    def totals(span):
        return ev.totals(x["id"] for x in tr.subtree(span))

    index_dir = ctx.state["index_dir"]
    build_span = [sp for sp in tr.named("index.build") if sp["index"] == index_dir][-1]
    merge_span = [sp for sp in tr.named("index.merge") if sp["index"] == index_dir][-1]
    for prefix, sp in (("build", build_span), ("merge", merge_span)):
        t = totals(sp)
        wall = sp["end"] - sp["start"]
        L[f"{prefix}.wall_s"] = wall
        L[f"{prefix}.spark_jobs"] = tr.jobs_under(sp)
        L[f"{prefix}.tasks"] = t["tasks"]
        L[f"{prefix}.executor_run_s"] = t["run_ms"] / 1000.0
        L[f"{prefix}.core_utilization"] = t["run_ms"] / 1000.0 / (wall * cores)
        L[f"{prefix}.shuffle_write_bytes"] = t["shuffle_write"]
        if prefix == "build":
            L["build.gc_s"] = t["gc_ms"] / 1000.0
            L["build.task_skew"] = t["task_skew"]
            L["build.spill_bytes"] = t["spill"]
        else:
            L["merge.bytes_read"] = t["read"]
            L["merge.bytes_written"] = t["written"]

    dist = [sp for sp in tr.named("search") if sp.get("placement") == "distributed"]
    if dist:
        per = [totals(sp) for sp in dist]
        L["searcher.tasks_per_query"] = float(np.mean([t["tasks"] for t in per]))
        L["searcher.executor_run_ms_per_query"] = float(np.mean([t["run_ms"] for t in per]))
        L["searcher.shuffle_bytes_per_query"] = float(np.mean([t["shuffle_write"] for t in per]))
        L["searcher.job_wall_ms_per_query"] = float(np.mean([t["job_wall_ms"] for t in per]))
