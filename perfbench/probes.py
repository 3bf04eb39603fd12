"""Per-layer metrics of a traced run.

Two sources:

* the spans the workload recorded around engine calls (jobs, stages and
  tasks per call from the Spark status tracker; busy and self time per
  layer);
* direct probes run after timing over the run's final index and its probe
  queries: the catalog reads, the posting codec, the tokenizer, the
  dictionary derivation, and a driver-side replay of the block-max WAND
  kernel (``wand.score_bmw`` with ``counters=``) against the exhaustive
  kernel on the same blocks, per query kind.

``tokenizer.build_core_share`` and ``codec.build_core_share`` put the
tokenizer and the encoder in proportion to a timed build: one core's time to
tokenize the whole corpus (or re-encode every posting block of the index in
one segmented pass, as the build does) divided by the core time of one
median build call (``latency_ms`` x cores). They are 0 on ``search``, whose
timed op is a query.

Every metric in ``PER_LAYER`` is reported on every workload; a count for a
layer call the workload does not make is 0.
"""

from __future__ import annotations

import sys
import time

import numpy as np

from spans import LAYERS, Tracer
from stats import median
from workloads import K

REPEATS = 3
REPLAY_KINDS = ("head", "mix")   # absent queries have no blocks to replay
TOKENIZER_SAMPLE = 2_000

PER_LAYER = {
    "session.start_s": "s",
    "tokenizer.docs_per_s": "1/s",
    "tokenizer.build_core_share": "ratio",
    "codec.encode_mb_per_s": "MB/s",
    "codec.build_core_share": "ratio",
    "codec.decode_mb_per_s": "MB/s",
    "build.jobs_per_call": "count",
    "build.stages_per_call": "count",
    "build.tasks_per_call": "count",
    "build.dictionary_s": "s",
    "build.bytes_per_posting": "B",
    "catalog.manifest_ms": "ms",
    "catalog.dictionary_lookup_ms": "ms",
    "catalog.postings_segments": "count",
    "catalog.postings_scan_ms": "ms",
    "wand.jobs_per_query": "count",
    "wand.stages_per_query": "count",
    "wand.tasks_per_query": "count",
    "wand.blocks_decoded_frac": "ratio",
    "wand.bmw_fallback_frac": "ratio",
    **{f"wand.{m}.{kind}": "ratio" for m in ("blocks_decoded_frac", "bmw_fallback_frac")
       for kind in REPLAY_KINDS},
    "wand.kernel_ms": "ms",
    "wand.exhaustive_kernel_ms": "ms",
    "incremental.upsert_jobs_per_call": "count",
    "incremental.delete_jobs_per_call": "count",
    "incremental.tombstones": "count",
    "incremental.compact_jobs": "count",
    "incremental.compact_bytes_rewritten": "B",
    "query.jobs_per_call": "count",
    "query.tasks_per_call": "count",
    "query.scan_files": "count",
    "query.scan_bytes": "B",
    **{f"{layer}.{m}": u for layer in LAYERS
       for m, u in (("busy_s", "s"), ("self_s", "s"), ("failed_tasks", "count"))},
    "trace.overhead_ms_per_op": "ms",
    "trace.latency_ms": "ms",
    "trace.items_per_s": "1/s",
}


def _per_call(tracer: Tracer, layer: str, name: str, key: str,
              timed_only: bool = False) -> float:
    spans = [s for s in tracer.find(layer, name)
             if not timed_only or s["request"] is not None]
    return float(median([s[key] for s in spans])) if spans else 0.0


def _median_secs(fn, repeats: int = REPEATS) -> tuple[float, object]:
    """Median wall seconds of ``repeats`` calls, and the last result."""
    secs, res = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        res = fn()
        secs.append(time.perf_counter() - t0)
    return median(secs), res


def _blocks(rows, terms) -> dict[int, dict[str, list]]:
    """{doc_part: {term: [_Block, ...]}} in block order, fresh (undecoded)."""
    from fafnir_spark.wand import _Block

    parts: dict[int, dict[str, list]] = {}
    for r in sorted(rows, key=lambda r: (r["doc_part"], r["term"], r["block_id"])):
        if r["term"] not in terms:
            continue
        parts.setdefault(r["doc_part"], {}).setdefault(r["term"], []).append(
            _Block(r["first_doc"], r["last_doc"], r["max_tf"], r["min_dl"],
                   r["max_weight"], r["doc_ids"], r["tfs"], r["dls"], r["weights"],
                   r.get("seg") or ""))
    return parts


def _build_core_s(b, out) -> float:
    """Core seconds of one median timed build call; 0 when builds are not
    the timed op."""
    if out.info.get("timed_op") != "build_index":
        return 0.0
    return out.metrics["latency_ms"][0] / 1000.0 * b.cores


def encode_probe(b, out, cat, manifest, m: dict) -> None:
    """Re-encode every posting block of the index the way the build does (one
    ``varint_encode_segments`` pass per stream over all blocks) and check the
    bytes against the stored ones."""
    from fafnir_spark import codec

    streams = ("doc_ids", "tfs", "dls")
    with b.tracer.span("catalog", "postings_scan_all"):
        rows = cat.read_table(b.spark, "postings", snapshot=manifest) \
            .select(*streams).collect()
    stored = {k: [bytes(r[k]) for r in rows] for k in streams}
    values = {}
    for k in streams:
        parts = [codec.varint_decode(x) for x in stored[k]]
        lens = np.array([len(p) for p in parts])
        hi = np.cumsum(lens)
        values[k] = (np.concatenate(parts).astype(np.uint64), hi - lens, hi)

    def encode_all():
        return {k: codec.varint_encode_segments(*values[k]) for k in streams}

    with b.tracer.span("codec", "encode"):
        secs, encoded = _median_secs(encode_all)
    n_bytes = sum(len(x) for k in streams for x in stored[k])
    m["codec.encode_mb_per_s"] = n_bytes / 1e6 / secs
    build_core_s = _build_core_s(b, out)
    if build_core_s:
        m["codec.build_core_share"] = secs / build_core_s
    if any([bytes(x) for x in encoded[k]] != stored[k] for k in streams):
        print("MISMATCH codec: re-encoded posting blocks differ", file=sys.stderr)
        out.failed += 1
        out.mismatches += 1


def measure(b, out) -> dict[str, tuple[float, str]]:
    """All ``PER_LAYER`` metrics for a finished traced run."""
    from pyspark.sql import functions as F

    from fafnir_spark import build, codec, wand
    from fafnir_spark.catalog import Catalog
    from fafnir_spark.tokenizer import tokenize_code_series

    spark, tr = b.spark, b.tracer
    m: dict[str, float] = {"session.start_s": b.session_start_s}

    sample = out.corpus["content"].iloc[:TOKENIZER_SAMPLE].reset_index(drop=True)
    with tr.span("tokenizer", "tokenize_code_series"):
        secs, _ = _median_secs(lambda: tokenize_code_series(sample, with_positions=False))
    m["tokenizer.docs_per_s"] = len(sample) / secs
    build_core_s = _build_core_s(b, out)
    if build_core_s:
        m["tokenizer.build_core_share"] = (
            out.info["docs"] / m["tokenizer.docs_per_s"] / build_core_s)

    cat = Catalog(out.root)
    with tr.span("catalog", "read_manifest"):
        secs, manifest = _median_secs(cat.read_manifest)
    m["catalog.manifest_ms"] = secs * 1000.0
    m["catalog.postings_segments"] = len(manifest["tables"]["postings"])
    stats = manifest["meta"]["stats"]
    terms = sorted({t for _, q in out.probe_queries for t in q})
    with tr.span("catalog", "dictionary_lookup"):
        secs, drows = _median_secs(lambda: cat.read_dictionary(spark, snapshot=manifest)
                                   .filter(F.col("term").isin(terms)).collect())
    m["catalog.dictionary_lookup_ms"] = secs * 1000.0
    dfs = {r["term"]: r["df"] for r in drows}
    with tr.span("catalog", "postings_scan"):
        secs, prows = _median_secs(lambda: cat.read_table(spark, "postings", snapshot=manifest)
                                   .filter(F.col("term").isin(terms)).collect())
    prows = [r.asDict() for r in prows]
    m["catalog.postings_scan_ms"] = secs * 1000.0

    bufs = [(r["doc_ids"], r["tfs"], r["dls"]) for r in prows]
    n_bytes = sum(len(x) for t in bufs for x in t)

    def decode_all():
        return [(codec.delta_decode(i), codec.varint_decode(t), codec.varint_decode(d))
                for i, t, d in bufs]

    with tr.span("codec", "decode"):
        secs, _ = _median_secs(decode_all)
    m["codec.decode_mb_per_s"] = n_bytes / 1e6 / secs
    encode_probe(b, out, cat, manifest, m)

    # block-max WAND replay on the driver, per probe query and doc_part
    n = stats["n_docs"]
    idf = {t: float(np.log(1.0 + (n - df + 0.5) / (df + 0.5))) for t, df in dfs.items()}
    k1, bb, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    bmw_ms, exh_ms, agg = [], [], {"blocks_total": 0, "blocks_decoded": 0,
                                   "bmw_fallback": 0, "calls": 0}
    with tr.span("wand", "score_bmw_replay"):
        for kind in REPLAY_KINDS:
            counters: dict = {}
            calls = 0
            for _, q in (p for p in out.probe_queries if p[0] == kind):
                qterms = {t for t in q if t in idf}
                if not qterms:
                    continue
                q_bmw = q_exh = 0.0
                for part, tb in _blocks(prows, qterms).items():
                    t0 = time.perf_counter()
                    got = wand.score_bmw(tb, idf, K, k1, bb, avgdl, counters=counters)
                    q_bmw += time.perf_counter() - t0
                    tb_fresh = _blocks([r for r in prows if r["doc_part"] == part], qterms)[part]
                    t0 = time.perf_counter()
                    want = wand.score_exhaustive(tb_fresh, idf, K, k1, bb, avgdl)
                    q_exh += time.perf_counter() - t0
                    calls += 1
                    if not (np.array_equal(got[0], want[0]) and np.allclose(got[1], want[1])):
                        print(f"MISMATCH score_bmw {q} part {part}", file=sys.stderr)
                        out.failed += 1
                        out.mismatches += 1
                bmw_ms.append(q_bmw * 1000.0)
                exh_ms.append(q_exh * 1000.0)
            total = counters.get("blocks_total", 0)
            m[f"wand.blocks_decoded_frac.{kind}"] = (
                counters.get("blocks_decoded", 0) / total if total else 0.0)
            m[f"wand.bmw_fallback_frac.{kind}"] = (
                counters.get("bmw_fallback", 0) / calls if calls else 0.0)
            agg["calls"] += calls
            for key in ("blocks_total", "blocks_decoded", "bmw_fallback"):
                agg[key] += counters.get(key, 0)
    m["wand.blocks_decoded_frac"] = (agg["blocks_decoded"] / agg["blocks_total"]
                                     if agg["blocks_total"] else 0.0)
    m["wand.bmw_fallback_frac"] = agg["bmw_fallback"] / agg["calls"] if agg["calls"] else 0.0
    m["wand.kernel_ms"] = median(bmw_ms) if bmw_ms else 0.0
    m["wand.exhaustive_kernel_ms"] = median(exh_ms) if exh_ms else 0.0

    with tr.span("build", "dictionary_from_postings"):
        secs, _ = _median_secs(lambda: build.dictionary_from_postings(
            cat.read_table(spark, "postings", snapshot=manifest)).collect(), repeats=1)
    m["build.dictionary_s"] = secs
    totals = out.info["build_totals"]
    m["build.bytes_per_posting"] = totals["bytes"] / totals["postings"]

    if not tr.find("incremental", "delete_docs"):
        delete_probe(b, out, idf)
    m["incremental.tombstones"] = out.info.get("tombstones", 0)
    m["incremental.compact_bytes_rewritten"] = out.info.get("compact_bytes_rewritten", 0)

    for what in ("jobs", "stages", "tasks"):
        m[f"build.{what}_per_call"] = _per_call(tr, "build", "build_index", what)
    m["incremental.upsert_jobs_per_call"] = _per_call(tr, "incremental", "upsert_docs", "jobs")
    m["incremental.delete_jobs_per_call"] = _per_call(tr, "incremental", "delete_docs", "jobs")
    m["incremental.compact_jobs"] = _per_call(tr, "incremental", "compact_with_tombstones", "jobs")
    m["query.jobs_per_call"] = _per_call(tr, "query", "bm25_topk_batch", "jobs")
    m["query.tasks_per_call"] = _per_call(tr, "query", "bm25_topk_batch", "tasks")
    # search: the timed single-query requests; build: the write check's query
    searched = bool(tr.find("wand", "search"))
    for what in ("jobs", "stages", "tasks"):
        m[f"wand.{what}_per_query"] = _per_call(
            tr, "wand", "search" if searched else "run_queries", what, timed_only=searched)
    m["query.scan_files"] = out.info.get("reference_scan_files", 0)
    m["query.scan_bytes"] = out.info.get("reference_scan_bytes", 0)

    for layer, row in tr.layer_table().items():
        m[f"{layer}.busy_s"] = row["busy_s"]
        m[f"{layer}.self_s"] = row["self_s"]
        m[f"{layer}.failed_tasks"] = row["failed_tasks"]
    timed_spans = [s for s in tr.spans if s["request"] is not None]
    m["trace.overhead_ms_per_op"] = (median([s["book_s"] for s in timed_spans]) * 1000.0
                                     if timed_spans else 0.0)
    m["trace.latency_ms"] = out.metrics["latency_ms"][0]
    m["trace.items_per_s"] = out.metrics["items_per_s"][0]
    return {k: (float(m.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


def delete_probe(b, out, idf: dict) -> None:
    """Tombstone the top hit of the first probe query and check that the
    query's new top-k is the old top-(k+1) without it (scoring statistics
    stay as they were until compaction, so the other scores are unchanged)."""
    from fafnir_spark import incremental, wand

    q = next((q for _, q in out.probe_queries if any(t in idf for t in q)), None)
    if q is None:
        return
    before = wand.run_queries(b.spark, out.root, {"p": list(q)}, k=11).collect()
    if not before:
        return
    victim = int(before[0]["doc_id"])
    with b.tracer.span("incremental", "delete_docs"):
        incremental.delete_docs(b.spark, out.root, [victim])
    with b.tracer.span("wand", "run_queries"):
        after = wand.run_queries(b.spark, out.root, {"p": list(q)}, k=10).collect()
    want = [(int(r["doc_id"]), round(r["score"], 6)) for r in before[1:]]
    if [(int(r["doc_id"]), round(r["score"], 6)) for r in after] != want:
        print(f"MISMATCH delete probe {q}", file=sys.stderr)
        out.failed += 1
        out.mismatches += 1
    out.info["tombstones"] = 1
