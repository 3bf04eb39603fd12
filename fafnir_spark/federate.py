"""Cross-index federated search — ES multi-index search with
dfs_query_then_fetch semantics.

The reference's backend searches one alias over many indices; correct
cross-index relevance needs GLOBAL term statistics, which ES gets with the
dfs_query_then_fetch search type (a stats round-trip before scoring). Here
the same two phases are explicit and cheap:

  1. stats merge (driver-side, metadata-sized): n_docs and the exact
     integer sum_dl are additive across indexes (incremental.py maintains
     sum_dl exactly for this reason), so global avgdl = Σsum_dl / Σn_docs;
     per-term global df = Σ df_i from each index's dictionary point
     lookups (query terms only — never a full-vocabulary merge).
  2. scoring: each index's term-pruned posting blocks are unioned with an
     `idx` tag and scored per (idx, doc_part) shard with the GLOBAL
     idf/avgdl — a doc's whole score still lives in one shard, so the
     per-shard top-k merge stays exact.

Oracle identity: federating indexes built over a partition of a corpus
equals single-index search over the whole corpus (same global stats, same
scores) — the driver query uses exactly this as its DuckDB oracle.

Tombstones: per-index point tombstones merge trivially (doc ids are
disjoint across well-formed indexes and segment names carry the build id);
bulk mass-delete tables are unioned with the idx tag and cogrouped on
(idx, doc_part) — the run_queries pattern, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .wand import _bm25_idfs, _part_scorer, _shard_search, _Snapshot, _Tombstones


def _merged_stats(stats_list: list[dict]) -> dict:
    k1s = {s["k1"] for s in stats_list}
    bs = {s["b"] for s in stats_list}
    if len(k1s) != 1 or len(bs) != 1:
        raise ValueError(f"indexes disagree on BM25 params: k1={k1s}, b={bs}")
    n_docs = sum(int(s["n_docs"]) for s in stats_list)
    # exact integer sum_dl is additive; legacy stats without it fall back
    # to n*avgdl (float) — still deterministic, just not integer-exact
    sum_dl = sum(
        int(s["sum_dl"]) if s.get("sum_dl") is not None
        else s["n_docs"] * s["avgdl"]
        for s in stats_list
    )
    return {
        "n_docs": n_docs,
        "avgdl": sum_dl / n_docs if n_docs else 0.0,
        "k1": k1s.pop(),
        "b": bs.pop(),
    }


def search_federated(
    spark: SparkSession,
    index_roots: list[str],
    queries: dict[str, list[str]],
    k: int = 10,
    algo: str = "bmw",
    score_decimals: int = 6,
) -> DataFrame:
    """Evaluate a query set across MANY published indexes with global
    statistics (dfs_query_then_fetch). (qid, rank, doc_id, score) —
    identical to run_queries over a single index holding the union of the
    corpora."""
    snaps = [_Snapshot(spark, r) for r in index_roots]
    gstats = _merged_stats([s.stats for s in snaps])

    all_terms = sorted({t for ts in queries.values() for t in ts})
    gdf: dict[str, int] = {}
    for snap in snaps:
        for t, r in snap.lookup(all_terms).items():
            gdf[t] = gdf.get(t, 0) + int(r["df"])
    idfs = _bm25_idfs(gstats["n_docs"], gdf)
    present = [t for t in all_terms if t in idfs]

    postings = side = None
    merged_ids: list[int] = []
    merged_keeps: list[str | None] = []
    for i, snap in enumerate(snaps):
        p = snap.scan(present).withColumn("idx", F.lit(i))
        postings = p if postings is None else postings.unionByName(p)
        if snap.tombs is not None:
            merged_ids.extend(int(x) for x in snap.tombs.ids)
            merged_keeps.extend(snap.tombs.keeps)
        if snap.side is not None:
            b = snap.side.withColumn("idx", F.lit(i))
            side = b if side is None else side.unionByName(b)
    excluded = _Tombstones(merged_ids, merged_keeps) if merged_ids else None
    return _shard_search(postings, side,
                         _part_scorer(queries, idfs, gstats, k, algo, excluded),
                         k, score_decimals, keys=("idx", "doc_part"))
