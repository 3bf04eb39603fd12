"""The benchmark's workloads: ``build`` and ``search``.

Each workload runs one closed-loop client (the next request is sent when the
previous reply is back) in one process on ``local[<cores>]``, and times calls
into the engine's public functions from outside:

* ``build``  — repeated fresh ``build.build_index`` calls over a seeded
  source-code corpus read from parquet. Tokenize, the ``(term, doc_part)``
  shuffle, block encoding, segment writes and publish do the work; no query
  runs while timing.
* ``search`` — a warm ``wand.Searcher(persist_postings=True)`` over an index
  built before timing, fed a seeded stream of 1-3 term queries (Zipf-head
  disjunctions where block-max WAND falls back to exhaustive scoring,
  head+rare mixes where it skips blocks, absent terms); every third request
  is a 16-query batch.

After timing, every answer is checked (untimed) and a mismatch counts as a
failed op: ``build`` checks the doc count and ``build.verify_sha256``,
``search`` checks every reply against ``query.bm25_topk_batch`` over its
corpus. With tracing on, ``build`` then also indexes the corpus's first
``WRITE_CHECK_DOCS`` docs on their own, applies one seeded write batch there
(``incremental.delete_docs``, ``upsert_docs``, ``compact_with_tombstones``)
and checks ``wand.run_queries`` against the direct scorer over the live doc
set the benchmark tracks, and the layer probes (probes.py) run last. The
write check runs in traced runs only because its ~30 s would not fit the
untraced run's time budget.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from stats import median
from spans import Tracer

K = 10
BUILD_SETUP_ROUNDS = 5
# a search set-up round (open a Searcher, first reply) costs ~1.7 s on
# 4 cores; 3 rounds keep the run inside its time budget
SEARCH_SETUP_ROUNDS = 3
BUILD_DOCS = 48_000
SEARCH_DOCS = 6_000
PARQUET_FILES = 4
BATCH_EVERY = 3
CHECK_QUERIES = 8
PROBE_QUERIES = 8             # per query kind
WRITE_DELETES, WRITE_REPLACES, WRITE_NEW = 20, 10, 10
# the traced build's write check runs on its own index over the corpus's
# first WRITE_CHECK_DOCS docs: on the full build corpus it took ~60 s on
# 4 cores
WRITE_CHECK_DOCS = 6_000


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    mismatches: int = 0
    metrics: dict = field(default_factory=dict)   # name -> (value, unit, samples)
    info: dict = field(default_factory=dict)      # input properties, printed
    root: str | None = None                       # the index the probes read
    corpus: pd.DataFrame | None = None            # the docs of that index
    probe_queries: list = field(default_factory=list)   # [(kind, terms)]


class Bench:
    """Shared state of one run: session, work directory, tracer."""

    def __init__(self, workdir: str, cores: int, seconds: float, seed: int,
                 tracer: Tracer):
        self.workdir = workdir
        self.cores = cores
        self.seconds = seconds
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.session_start_s = None

    def start_session(self) -> None:
        from fafnir_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session", "get_spark"):
            self.spark = get_spark("perfbench", cores=self.cores)
        if self.session_start_s is None:
            self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark.sparkContext)

    def stop_session(self) -> None:
        if self.spark is None:
            return
        self.tracer.detach()
        with self.tracer.span("session", "stop"):
            self.spark.stop()
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


def write_corpus(b: Bench, corpus: pd.DataFrame, name: str) -> dict:
    """Write the corpus as ``PARQUET_FILES`` parquet files; return the scan
    properties the direct path's ``_widen_scan`` keys on."""
    d = b.path(name)
    os.makedirs(d)
    table = pa.Table.from_pandas(corpus, preserve_index=False)
    step = -(-len(corpus) // PARQUET_FILES)
    for i in range(PARQUET_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))
    files = [os.path.join(d, f) for f in sorted(os.listdir(d))]
    return {"dir": d, "parquet_files": len(files),
            "parquet_bytes": sum(os.path.getsize(f) for f in files)}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def timed(outcome: Outcome, fn):
    """Run one timed op. Returns (seconds, result), or (None, None) when it
    raised; the op is counted as attempted either way, and as failed when
    it raised."""
    outcome.attempted += 1
    t0 = time.perf_counter()
    try:
        res = fn()
    except Exception:
        outcome.failed += 1
        traceback.print_exc(file=sys.stderr)
        return None, None
    return time.perf_counter() - t0, res


def ranked(rows) -> dict[str, list[tuple]]:
    """{qid: [(rank, doc_id, score6), ...]} from (qid, rank, doc_id, score) rows."""
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append(
            (int(r["rank"]), int(r["doc_id"]), round(float(r["score"]), 6)))
    for v in out.values():
        v.sort()
    return out


def reference(b: Bench, docs_df, queries: dict[str, tuple]) -> dict[str, list[tuple]]:
    """Direct (index-free) BM25 top-k for each query over ``docs_df``."""
    from fafnir_spark import query

    with b.tracer.span("query", "bm25_topk_batch"):
        rows = query.bm25_topk_batch(docs_df, {q: list(t) for q, t in queries.items()},
                                     k=K, text_col="content").collect()
    return ranked(rows)


def query_key(terms: tuple) -> str:
    return " ".join(terms)


# ---------------------------------------------------------------- build


def run_build(b: Bench) -> Outcome:
    from fafnir_spark import build

    out = Outcome()
    log("inputs")
    rng = np.random.default_rng(b.seed)
    corpus = gen.make_corpus(rng, BUILD_DOCS)
    small = corpus.iloc[:WRITE_CHECK_DOCS].reset_index(drop=True)
    writes = gen.write_stream(rng, small, WRITE_DELETES, WRITE_REPLACES, WRITE_NEW)
    checks = [r.queries[0] for r in gen.query_stream(
        rng, gen.rare_terms(small), CHECK_QUERIES, batch_every=CHECK_QUERIES + 1)]
    out.info.update(gen.corpus_properties(corpus))
    scan = write_corpus(b, corpus, "corpus")
    small_dir = write_corpus(b, small, "corpus-small")["dir"]
    out.info.update({k: v for k, v in scan.items() if k != "dir"})
    out.info["write_batch"] = {"docs": len(small), "deletes": WRITE_DELETES,
                               "replaced": WRITE_REPLACES, "new": WRITE_NEW}

    log("session")
    # set-up: a fresh session and the corpus opened for the build, repeated
    # after the first launch (JVM start) so every round is the same work; on
    # 4 cores the first restart takes ~3 s against ~0.3 s for the others, and
    # the median of BUILD_SETUP_ROUNDS rounds leaves it out
    b.start_session()
    setup = []
    for _ in range(BUILD_SETUP_ROUNDS):
        b.stop_session()
        t0 = time.perf_counter()
        b.start_session()
        with b.tracer.span("build", "normalize_docs"):
            docs = build.normalize_docs(b.spark.read.parquet(scan["dir"]), id_col="doc_id")
        setup.append(time.perf_counter() - t0)

    def build_into(root: str, request=None) -> dict:
        with b.tracer.span("build", "build_index", request):
            return build.build_index(b.spark, docs, root, resume=False)

    # two untimed builds. The first, over the corpus's first
    # WRITE_CHECK_DOCS docs, pays the cold start (Python workers, JIT) for
    # less than a full build costs; the second is a full one, because after
    # a single warm-up the first timed build took 10.9 s against 7.5 s on
    # 4 cores
    log("warm-up builds")
    small_docs = build.normalize_docs(b.spark.read.parquet(small_dir), id_col="doc_id")
    for warm_docs in (small_docs, docs):
        with b.tracer.span("build", "build_index_warmup"):
            build.build_index(b.spark, warm_docs, b.path("idx-warmup"), resume=False)
        shutil.rmtree(b.path("idx-warmup"))

    log("timed loop")
    # ``root`` is the last index whose build succeeded; the answer check and
    # the probes read that one
    secs, totals, root = [], None, None
    t_end = time.perf_counter() + b.seconds
    i = 0
    while time.perf_counter() < t_end:
        target = b.path(f"idx-{i}")
        i += 1
        dt, res = timed(out, lambda: build_into(target, request=i))
        if dt is not None and res["docs"] != len(corpus):
            print(f"MISMATCH build: returned docs={res['docs']}", file=sys.stderr)
            out.failed += 1
            out.mismatches += 1
            dt = None
        if dt is None:
            shutil.rmtree(target, ignore_errors=True)
            continue
        if root is not None:
            shutil.rmtree(root)
        root, totals = target, res
        secs.append(dt)
    if totals is None:
        return out
    out.metrics["setup_s"] = (median(setup), "s", len(setup))
    out.info["setup_samples_ms"] = [round(x * 1000) for x in setup]
    out.metrics["latency_ms"] = (median(secs) * 1000.0, "ms", len(secs))
    out.metrics["items_per_s"] = (median([len(corpus) / s for s in secs]), "1/s", len(secs))
    out.metrics["index_bytes_per_input_byte"] = (
        totals["bytes"] / out.info["input_bytes"], "B/B", 1)
    out.info["build_totals"] = {k: totals[k] for k in ("docs", "postings", "bytes")}
    out.info["timed_op"] = "build_index"
    out.info["samples_ms"] = [round(x * 1000) for x in secs]

    log("answer check")
    # untimed answer check: doc count and the per-row sha256 invariant
    with b.tracer.span("build", "verify_sha256"):
        bad = build.verify_sha256(b.spark, root, docs)
    n_docs = read_stats(root)["n_docs"]
    if bad != 0 or n_docs != len(corpus):
        print(f"MISMATCH build: sha256 violations={bad} n_docs={n_docs}", file=sys.stderr)
        out.failed += 1
        out.mismatches += 1

    out.corpus = corpus
    if b.tracer.enabled:
        log("write check")
        churn_check(b, out, small_docs, small, writes, checks)
    out.root = root
    out.probe_queries = [(kind, t) for kind, t in checks if kind != "absent"]
    return out


def read_stats(root: str) -> dict:
    from fafnir_spark.catalog import Catalog

    return Catalog(root).read_manifest()["meta"]["stats"]


def churn_check(b: Bench, out: Outcome, docs, corpus: pd.DataFrame,
                writes: gen.WriteBatch, checks: list) -> None:
    """Index ``docs`` (``corpus``, normalized), apply one write batch,
    compact, and check ``run_queries`` against the direct scorer over the
    live doc set (exact stats hold after compaction)."""
    from fafnir_spark import build, incremental, wand
    from fafnir_spark.catalog import Catalog

    spark = b.spark
    root = b.path("idx-writes")
    with b.tracer.span("build", "build_index_writes"):
        build.build_index(spark, docs, root, resume=False)
    with b.tracer.span("incremental", "delete_docs"):
        incremental.delete_docs(spark, root, list(writes.deletes))
    upserts = build.normalize_docs(spark.createDataFrame(writes.upserts), id_col="doc_id")
    with b.tracer.span("incremental", "upsert_docs"):
        incremental.upsert_docs(spark, upserts, root, "upsert-0")
    cat = Catalog(root)
    m = cat.read_manifest()
    out.info["tombstones"] = (cat.read_table(spark, "tombstones", snapshot=m).count()
                              if "tombstones" in m["tables"] else 0)
    with b.tracer.span("incremental", "compact_with_tombstones"):
        incremental.compact_with_tombstones(spark, root)
    # the compacted postings segment(s) the manifest now points at
    out.info["compact_bytes_rewritten"] = sum(
        os.path.getsize(os.path.join(d, f))
        for seg in cat.read_manifest()["tables"]["postings"]
        for d, _, fs in os.walk(seg) for f in fs if f.endswith(".parquet"))

    live = gen.apply_writes(corpus, writes)
    queries = {f"c{i}": terms for i, (_, terms) in enumerate(checks)}
    with b.tracer.span("wand", "run_queries"):
        rows = wand.run_queries(spark, root, {q: list(t) for q, t in queries.items()},
                                k=K).collect()
    got = ranked(rows)
    want = reference(b, spark.createDataFrame(live[["doc_id", "content"]]), queries)
    for qid in queries:
        if got.get(qid, []) != want.get(qid, []):
            print(f"MISMATCH churn {qid} {queries[qid]}", file=sys.stderr)
            out.failed += 1
            out.mismatches += 1
    n_docs = read_stats(root)["n_docs"]
    if n_docs != len(live):
        print(f"MISMATCH churn n_docs={n_docs} live={len(live)}", file=sys.stderr)
        out.failed += 1
        out.mismatches += 1


# ---------------------------------------------------------------- search


def run_search(b: Bench) -> Outcome:
    from fafnir_spark import build, wand

    out = Outcome()
    log("inputs")
    rng = np.random.default_rng(b.seed)
    corpus = gen.make_corpus(rng, SEARCH_DOCS)
    rare = gen.rare_terms(corpus)
    stream = gen.query_stream(rng, rare, 1000, batch_every=BATCH_EVERY)
    warm = gen.warmup_stream(rng, rare)
    first = {"w": warm[0].queries[0][1]}
    out.info.update(gen.corpus_properties(corpus))
    scan = write_corpus(b, corpus, "corpus")
    out.info.update({k: v for k, v in scan.items() if k != "dir"})

    log("session")
    b.start_session()
    log("index build")
    root = b.path("idx")
    docs_df = b.spark.read.parquet(scan["dir"])
    t0 = time.perf_counter()
    with b.tracer.span("build", "build_index"):
        totals = build.build_index(
            b.spark, build.normalize_docs(docs_df, id_col="doc_id"), root, resume=False)
    out.info["index_build_s"] = round(time.perf_counter() - t0, 3)
    out.info["build_totals"] = {k: totals[k] for k in ("docs", "postings", "bytes")}

    def search(searcher, queries: dict, request=None, name="search"):
        with b.tracer.span("wand", name, request):
            return searcher.search({q: list(t) for q, t in queries.items()}, k=K).collect()

    # set-up: a Searcher over the published index and its first reply,
    # repeated; the last round's Searcher serves the timed loop. The session
    # is kept across rounds: restarting it would also discard the Python
    # workers the index build started, which no search session pays.
    setup, searcher = [], None
    for _ in range(SEARCH_SETUP_ROUNDS):
        if searcher is not None:
            searcher.close()
        t0 = time.perf_counter()
        with b.tracer.span("wand", "Searcher"):
            searcher = wand.Searcher(b.spark, root, persist_postings=True)
        search(searcher, first)
        setup.append(time.perf_counter() - t0)
    log("warm-up")
    for req in warm:
        search(searcher, {f"q{j}": t for j, (_, t) in enumerate(req.queries)})

    log("timed loop")
    single_s, batch_qps, answers = {k: [] for k in gen.QUERY_KINDS}, [], []
    kinds = {k: 0 for k in gen.QUERY_KINDS}
    kinds_seen = []             # (kind, terms) of every answered query
    t_end = time.perf_counter() + b.seconds
    i = 0
    while time.perf_counter() < t_end:
        req = stream[i % len(stream)]
        i += 1
        queries = {f"q{j}": t for j, (_, t) in enumerate(req.queries)}
        name = "search" if req.kind == "single" else "search_batch"
        dt, rows = timed(out, lambda: search(searcher, queries, request=i, name=name))
        for kind, _ in req.queries:
            kinds[kind] += 1
        if dt is None:
            continue
        kinds_seen.extend(req.queries)
        answers.append((queries, ranked(rows)))
        if req.kind == "single":
            single_s[req.queries[0][0]].append(dt)
        else:
            batch_qps.append(len(req.queries) / dt)
    searcher.close()
    if not all(single_s.values()) or not batch_qps:
        return out
    out.metrics["setup_s"] = (median(setup), "s", len(setup))
    out.info["setup_samples_ms"] = [round(x * 1000) for x in setup]
    # median per query kind, weighted by the kind's share of the stream: a
    # plain median of a few mixed-kind samples jumps between kinds
    out.metrics["latency_ms"] = (
        1000.0 * sum(share * median(single_s[kind])
                     for kind, share in zip(gen.QUERY_KINDS, gen.QUERY_SHARES)),
        "ms", sum(len(v) for v in single_s.values()))
    out.metrics["items_per_s"] = (median(batch_qps), "1/s", len(batch_qps))
    out.metrics["index_bytes_per_input_byte"] = (
        totals["bytes"] / out.info["input_bytes"], "B/B", 1)
    n_q = sum(kinds.values())
    out.info["query_mix"] = {k: round(v / n_q, 3) for k, v in kinds.items()}
    out.info["samples_ms"] = {**{k: [round(x * 1000) for x in v] for k, v in single_s.items()},
                              "batch": [round(16000 / q) for q in batch_qps]}

    log("answer check")
    # untimed answer check against the direct scorer over the same corpus
    distinct = {query_key(t): (kind, t) for kind, t in kinds_seen}
    want = reference(b, docs_df, {key: t for key, (_, t) in distinct.items()})
    out.info["reference_scan_files"] = len(docs_df.inputFiles())
    out.info["reference_scan_bytes"] = scan["parquet_bytes"]
    for queries, got in answers:
        if any(got.get(q, []) != want.get(query_key(t), []) for q, t in queries.items()):
            print(f"MISMATCH search {list(queries.values())[:2]}", file=sys.stderr)
            out.failed += 1
            out.mismatches += 1
    out.root = root
    out.corpus = corpus
    out.probe_queries = [q for kind in ("head", "mix")
                         for q in [q for q in distinct.values() if q[0] == kind][:PROBE_QUERIES]]
    return out


WORKLOADS = {"build": run_build, "search": run_search}
