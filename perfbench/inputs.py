"""Seeded inputs: the corpus window, the non-ASCII injection and the query
stream. Everything here is a pure function of the seed (and, for the query
stream, of the terms dictionary the engine built from that corpus)."""

from __future__ import annotations

import hashlib

import numpy as np

# gen_rows sizes its repo distribution by n_rows; one fixed nominal corpus
# size keeps every seed's window drawn from the same distribution
NOMINAL_ROWS = 1_000_000
# seed s reads row ids [s * WINDOW_STRIDE, s * WINDOW_STRIDE + n)
WINDOW_STRIDE = 50_000
# appended batches read ids above every base window
APPEND_BASE = 900_000_000

NON_ASCII_LINES = [
    "// café au lait",
    "# 日本語のコメント",
    "// 🚀 launch",
    "# İstanbul",
    "/* naïve façade */",
    "// Größe",
    "# Ελληνικά σχόλια",
    "// emoji 🎉 done",
]

# query mix, as counts per block of 20 queries; each block is shuffled, so
# every run holds the mix almost exactly and the median does not move
# with the mix a seed happens to draw. Terms are Zipf(s=1.0) over
# doc_freq rank.
QUERY_MIX = {"term": 6, "and": 4, "or": 5, "and_not": 2, "or_msm2": 2, "term_k100": 1}
SCHEMA = "row_id long, repo string, path string, commit string, lang string, content string"


def corpus(seed: int, n: int, non_ascii_share: float):
    """n generated rows from the seed's row-id window; a seeded
    non_ascii_share of them get one non-ASCII comment line appended."""
    from lucene_rust_spark.corpus import gen_rows

    start = seed * WINDOW_STRIDE
    pdf = gen_rows(np.arange(start, start + n), NOMINAL_ROWS)
    n_inject = int(round(non_ascii_share * n))
    if n_inject:
        rng = np.random.default_rng([seed, 1])
        rows = rng.choice(n, size=n_inject, replace=False)
        lines = rng.integers(0, len(NON_ASCII_LINES), size=n_inject)
        content = pdf["content"].to_numpy(dtype=object).copy()
        for r, li in zip(rows, lines):
            content[r] = content[r] + "\n" + NON_ASCII_LINES[li]
        pdf["content"] = content
    return pdf


def append_batch_rows(seed: int, cycle: int, n: int):
    """A pure-ASCII batch of n rows for NRT appends (disjoint ids)."""
    from lucene_rust_spark.corpus import gen_rows

    start = APPEND_BASE + seed * WINDOW_STRIDE + cycle * n
    return gen_rows(np.arange(start, start + n), NOMINAL_ROWS)


def content_sha256_xor(contents) -> str:
    """The per-row content invariant the manifest must reproduce: XOR over
    rows of the leading 15 hex digits of sha256(content), the manifest's
    `content_sha256_xor` convention."""
    acc = 0
    for c in contents:
        acc ^= int(hashlib.sha256(c.encode()).hexdigest()[:15], 16)
    return format(acc, "016x")


def corpus_properties(pdf, task_of_row, batch_rows: int) -> dict:
    """Input properties a tokenizer change depends on. task_of_row[i] is
    the build task that row i is routed to; each task's rows reach the
    tokenizer in Arrow batches of batch_rows rows, in row order."""
    content = pdf["content"].tolist()
    non_ascii = np.array([not c.isascii() for c in content])
    task_of_row = np.asarray(task_of_row)
    batches = ascii_batches = 0
    for task in np.unique(task_of_row):
        rows = non_ascii[task_of_row == task]
        for i in range(0, len(rows), batch_rows):
            batches += 1
            ascii_batches += not rows[i : i + batch_rows].any()
    return {
        "corpus.docs": len(content),
        "corpus.content_bytes": sum(len(c.encode()) for c in content),
        "corpus.non_ascii_doc_share": float(non_ascii.mean()),
        "corpus.ascii_batch_share": ascii_batches / batches,
    }


class QueryStream:
    """Seeded closed-loop query stream over a terms dictionary ranked by
    doc_freq (ties by term). Yields (query_ast, k)."""

    def __init__(self, terms, doc_freqs, seed: int):
        order = np.lexsort((np.asarray(terms, dtype=object).astype(str), -np.asarray(doc_freqs)))
        self.ranked = [terms[i] for i in order]
        p = 1.0 / np.arange(1, len(self.ranked) + 1)
        self.cdf = np.cumsum(p / p.sum())
        self.rng = np.random.default_rng([seed, 2])
        self.block: list[str] = []

    def draw_terms(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            r = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
            t = self.ranked[min(r, len(self.ranked) - 1)]
            if t not in out:
                out.append(t)
        return out

    def next(self) -> tuple[dict, int]:
        if not self.block:
            self.block = [k for k, n in QUERY_MIX.items() for _ in range(n)]
            self.rng.shuffle(self.block)
        return self.make(self.block.pop())

    def make(self, kind: str) -> tuple[dict, int]:
        """One query of the given kind, with freshly drawn terms."""
        from lucene_rust_spark.oracle.bm25 import bool_query, term_query

        width = int(self.rng.integers(2, 5))
        if kind == "term":
            return term_query(self.draw_terms(1)[0]), 10
        if kind == "term_k100":
            return term_query(self.draw_terms(1)[0]), 100
        if kind == "and":
            return bool_query(must=self.draw_terms(width)), 10
        if kind == "or":
            return bool_query(should=self.draw_terms(width)), 10
        if kind == "and_not":
            a, b = self.draw_terms(2)
            return bool_query(must=[a], must_not=[b]), 10
        return bool_query(should=self.draw_terms(max(3, width)), min_should_match=2), 10
