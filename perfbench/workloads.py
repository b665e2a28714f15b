"""The two workloads. Each returns its end-to-end metrics; correctness checks
run outside the timed windows and count into ctx.attempted / ctx.failed.

- build-merge: repeated bulk build + merge of a seeded corpus, 1% of whose
  docs carry a non-ASCII comment line.
- search-zipf: a closed loop of Zipf-drawn term/bool queries over the
  merged index of the same kind of corpus, on the default (driver)
  placement with the searcher's decoded-postings LRU on, in rounds that
  each start on a freshly opened searcher.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import inputs

N_DOCS = 2000
WARMUP_DOCS = 250
WARMUP_PASSES = 1
NON_ASCII_SHARE = 0.01
MERGE_FAN_IN = 16
OPEN_REPS = 3
MIN_PASSES = 2
ORACLE_SAMPLE = 12
# search-zipf reopens its searcher every ROUND_QUERIES queries, so every
# round starts from an empty decoded-postings LRU and the hit share of a
# run does not grow with the number of queries the host had time for
ROUND_QUERIES = 100
WARMUP_ROUNDS = 1
MIN_ROUNDS = 2


def num_partitions(cores: int) -> int:
    """Two segments per core. bench.py's max(64, 8 x cores) rule, measured
    on this corpus (2k docs, 4 CPUs, same session, 3 warm passes each):
    64 segments take 7.8 s to build and 6.9 s to merge (into 4 segments),
    8 segments 5.7 s and 2.3 s (into 1); see README.md."""
    return 2 * cores


class Ctx:
    def __init__(self, spark, tracer, work: str, cores: int, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cores = cores
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}  # per-layer metrics (traced runs)
        self.state: dict = {}  # what the workload leaves for the layer probes

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")
        return ok

    def attempt(self, fn, what: str):
        """Run one timed operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # the loop must go on and report the failure
            self.failed += 1
            self.notes.append(f"FAILED: {what}: {type(e).__name__}: {e}")
            return None


def load_corpus(ctx: Ctx, n: int):
    """Generate the seed's corpus and materialize it as a cached DataFrame."""
    with ctx.tracer.span("corpus"):
        pdf = inputs.corpus(ctx.seed, n, NON_ASCII_SHARE)
        df = ctx.spark.createDataFrame(pdf, inputs.SCHEMA).persist()
        df.count()
    return pdf, df


def build_and_merge(ctx: Ctx, src, out_dir: str, expect_docs: int, expect_sha: str):
    """One bulk build + merge pass; returns (build_s, merge_s, manifest)."""
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.manifest import read_manifest
    from lucene_rust_spark.index.merge import merge_segments

    shutil.rmtree(out_dir, ignore_errors=True)
    parts = num_partitions(ctx.cores)
    # timers wrap the spans, so a traced run's numbers include the tracing
    t0 = time.perf_counter()
    with ctx.tracer.span("index.build", index=out_dir):
        built = build_index(ctx.spark, src, out_dir, num_partitions=parts)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ctx.tracer.span("index.merge", index=out_dir):
        merge_segments(ctx.spark, out_dir, fan_in=MERGE_FAN_IN)
    merge_s = time.perf_counter() - t0
    merged = read_manifest(out_dir)
    for tag, man in (("build", built), ("merge", merged)):
        ctx.check(man["doc_count"] == expect_docs,
                  f"{tag} manifest doc_count {man['doc_count']} != {expect_docs}")
        ctx.check(man["content_sha256_xor"] == expect_sha,
                  f"{tag} manifest content_sha256_xor {man['content_sha256_xor']} != {expect_sha}")
    return build_s, merge_s, built, merged


def store_bytes(index_dir: str, manifest: dict) -> dict[str, int]:
    """Bytes on disk of each store the manifest points at."""
    from lucene_rust_spark.index.manifest import store_dirs

    out = {}
    for key, rel in store_dirs(manifest).items():
        total = 0
        for root, _, files in os.walk(os.path.join(index_dir, rel)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
        out[key.replace("_dir", "")] = total
    return out


def ranked_terms(index_dir: str, manifest: dict):
    """(terms, doc_freqs, n_blocks) read straight from the terms store."""
    import pyarrow.dataset as ds

    from lucene_rust_spark.index.manifest import store_dirs

    t = ds.dataset(os.path.join(index_dir, store_dirs(manifest)["terms_dir"]), format="parquet")
    tab = t.to_table(columns=["term", "doc_freq", "n_blocks"])
    return (tab.column("term").to_pylist(), tab.column("doc_freq").to_numpy(),
            tab.column("n_blocks").to_numpy())


def open_searcher(ctx: Ctx, index_dir: str, reps: int = OPEN_REPS):
    """Open the searcher `reps` times (the repeatable part of set-up);
    returns (median open seconds, the last searcher)."""
    from lucene_rust_spark.search.searcher import IndexSearcher

    times, s = [], None
    for _ in range(reps):
        if s is not None:
            s.close()
        t0 = time.perf_counter()
        with ctx.tracer.span("searcher.open"):
            s = IndexSearcher(ctx.spark, index_dir, cache=True)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), s


def same_hits(engine_rows, oracle_rows) -> bool:
    a = [(int(d), np.float32(s)) for d, s in engine_rows]
    b = [(int(d), np.float32(s)) for d, s in oracle_rows]
    return a == b


def check_against_oracle(ctx: Ctx, pdf, recorded: list, label: str) -> None:
    """A seeded sample of the recorded (query, k, hits) must equal the
    oracle's top-k exactly: docIDs and float32 scores."""
    from lucene_rust_spark.oracle.bm25 import build_oracle_index, oracle_search

    oracle = build_oracle_index(pdf, num_partitions(ctx.cores))
    rng = np.random.default_rng([ctx.seed, 3])
    pick = rng.choice(len(recorded), size=min(ORACLE_SAMPLE, len(recorded)), replace=False)
    for i in sorted(pick):
        q, k, hits = recorded[i]
        ctx.check(same_hits(hits, oracle_search(oracle, q, k)), f"{label} query {i} {q} != oracle")


def build_merge(ctx: Ctx, session_s: float) -> dict:
    t0 = time.perf_counter()
    pdf, src = load_corpus(ctx, N_DOCS)
    expect_sha = inputs.content_sha256_xor(pdf["content"])
    # untimed warm-up: one pass over a slice of the corpus pays the
    # per-process costs (Python-worker start, JVM class loading) that a
    # production build amortises; then WARMUP_PASSES full passes, because
    # the JIT keeps warming and the first full passes vary the most from
    # run to run. The median over >= MIN_PASSES timed passes follows.
    warm = pdf.iloc[:WARMUP_DOCS]
    with ctx.tracer.span("warmup"):
        build_and_merge(ctx, ctx.spark.createDataFrame(warm, inputs.SCHEMA),
                        os.path.join(ctx.work, "warmup"), WARMUP_DOCS,
                        inputs.content_sha256_xor(warm["content"]))
        for _ in range(WARMUP_PASSES):
            build_and_merge(ctx, src, os.path.join(ctx.work, "warmup"), N_DOCS, expect_sha)
    setup_s = session_s + time.perf_counter() - t0

    passes = []
    window0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - window0 < ctx.seconds:
        out_dir = os.path.join(ctx.work, f"index{len(passes) % 2}")
        with ctx.tracer.span("pass", n=len(passes)):
            r = ctx.attempt(lambda: build_and_merge(ctx, src, out_dir, N_DOCS, expect_sha),
                            f"build+merge pass {len(passes)}")
        if r is None:
            break
        passes.append((r[0], r[1], out_dir, r[2], r[3]))
    if not passes:
        raise RuntimeError("no build+merge pass completed")
    ctx.notes.append("passes (build + merge s): " + ", ".join(
        f"{b:.2f} + {m:.2f}" for b, m, *_ in passes))
    ops = [b + m for b, m, *_ in passes]
    _, _, last_dir, built, last_manifest = passes[-1]
    content_bytes = sum(len(c.encode()) for c in pdf["content"])
    ctx.state = {"pdf": pdf, "index_dir": last_dir, "built": built, "merged": last_manifest}
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(ops) * 1000.0,
        "items_per_s": N_DOCS * len(ops) / sum(ops),
        "index_bytes_per_content_byte": sum(store_bytes(last_dir, last_manifest).values()) / content_bytes,
        "_samples": len(ops),
        "_ops_ms": [o * 1000.0 for o in ops],
    }


def query_round(ctx: Ctx, searcher, stream) -> list:
    """ROUND_QUERIES queries of the stream, one at a time; returns
    (query, k, hits, seconds) of each query that answered."""
    out = []
    for _ in range(ROUND_QUERIES):
        q, k = stream.next()
        t1 = time.perf_counter()
        with ctx.tracer.span("search", placement="default"):
            hits = ctx.attempt(lambda: searcher.search(q, k), f"query {q}")
        dt = time.perf_counter() - t1
        if hits is not None:
            out.append((q, k, hits, dt))
    return out


def search_zipf(ctx: Ctx, session_s: float) -> dict:
    from lucene_rust_spark.search.searcher import IndexSearcher

    t0 = time.perf_counter()
    pdf, src = load_corpus(ctx, N_DOCS)
    expect_sha = inputs.content_sha256_xor(pdf["content"])
    index_dir = os.path.join(ctx.work, "index")
    with ctx.tracer.span("base"):
        _, _, built, manifest = build_and_merge(ctx, src, index_dir, N_DOCS, expect_sha)
    src.unpersist()
    before_open = time.perf_counter() - t0
    open_s, searcher = open_searcher(ctx, index_dir)
    setup_s = session_s + before_open + open_s

    terms, dfs, _ = ranked_terms(index_dir, manifest)
    stream = inputs.QueryStream(terms, dfs, ctx.seed)
    # untimed warm-up rounds (a fixed count, so every run's window starts
    # after the same work): the JIT warms on the query path
    for _ in range(WARMUP_ROUNDS):
        with ctx.tracer.span("search.warmup"):
            query_round(ctx, searcher, stream)

    # timed rounds, each on a freshly opened searcher (an NRT reader
    # reopened every ROUND_QUERIES queries); the reopen is not timed. Only
    # whole rounds count: after MIN_ROUNDS, a round starts only while at
    # least half of it fits in the window. The fixed minimum keeps a slow
    # host from timing only the first, JIT-colder round.
    recorded, lat, round_p50 = [], [], []
    round_s = 0.0
    window0 = time.perf_counter()
    while (len(round_p50) < MIN_ROUNDS
           or time.perf_counter() - window0 + round_s / 2 < ctx.seconds):
        r0 = time.perf_counter()
        searcher.close()
        with ctx.tracer.span("searcher.open"):
            searcher = IndexSearcher(ctx.spark, index_dir, cache=True)
        done = query_round(ctx, searcher, stream)
        round_s = time.perf_counter() - r0
        recorded += [(q, k, hits) for q, k, hits, _ in done]
        lat += [dt for *_, dt in done]
        round_p50.append(statistics.median(dt for *_, dt in done) * 1000.0 if done else float("nan"))
    searcher.close()
    ctx.notes.append(f"{len(round_p50)} rounds of {ROUND_QUERIES} queries, p50 ms per round: "
                     + ", ".join(f"{x:.1f}" for x in round_p50))
    check_against_oracle(ctx, pdf, recorded, "search-zipf")
    content_bytes = sum(len(c.encode()) for c in pdf["content"])
    ctx.state = {"pdf": pdf, "index_dir": index_dir, "built": built, "merged": manifest,
                 "open_s": open_s}
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat) * 1000.0,
        "items_per_s": len(lat) / sum(lat),
        "index_bytes_per_content_byte": sum(store_bytes(index_dir, manifest).values()) / content_bytes,
        "_samples": len(lat),
        "_ops_ms": [x * 1000.0 for x in lat],
    }


WORKLOADS = {"build-merge": build_merge, "search-zipf": search_zipf}
