"""Seeded inputs for the engine benchmark: corpus, query stream, write stream.

Everything here derives from one ``numpy.random.Generator`` seeded with the
run's ``--seed``, so the same seed gives byte-identical inputs. The module
deliberately does not import ``fafnir_spark`` (its own synthetic corpus has a
fixed RNG): an edit to the engine can never shift the workload.

Corpus shape (the input_hint schema ``repo, path, commit, lang, content`` plus
an explicit ``doc_id``):

* keywords are drawn from a Zipf law, so ``def``/``return`` have df ~ N and
  hot-term skew is an input property of every run;
* repo sizes are heavy-tailed (Zipf-picked repo id);
* each doc carries a few mid-frequency ``mod_*`` identifiers and 0-2 rare
  ``sym_<doc>_<j>`` identifiers (df = 1) for selective queries.

Content is lowercase identifiers joined by single spaces, so the engine's
code tokenizer and the whitespace tokenizer of the direct path and the
reference scorer see exactly the same tokens.
"""

from __future__ import annotations

import itertools
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

KEYWORDS = (
    "def return if else for while class import from try except raise with as "
    "lambda yield int str list dict set self none true false fn let mut pub "
    "struct impl match enum use mod async await spawn println vec string map "
    "filter reduce sort join merge index query score rank term doc posting "
    "block shard partition shuffle broadcast hash varint delta bm25 wand"
).split()
HEAD_TERMS = KEYWORDS[:6]
N_REPOS = 50
N_MODULES = 2000
LANGS = ["python", "java", "rust", "go", "js", "md"]
LANG_WEIGHTS = [0.35, 0.2, 0.15, 0.12, 0.12, 0.06]
EXT = {"python": "py", "java": "java", "rust": "rs", "go": "go", "js": "js", "md": "md"}

QUERY_KINDS = ("head", "mix", "absent")
QUERY_SHARES = (0.4, 0.4, 0.2)
# Every query's shape (kind, term count) follows fixed cycles, so every seed
# times the same shapes and picks only the terms: kinds cycle through
# KIND_CYCLE (shares as above), and each kind through its term counts. Mix
# queries are one head term plus 1-2 rare ones.
KIND_CYCLE = ("head", "mix", "absent", "head", "mix")
TERM_COUNTS = {"head": (1, 2, 3), "mix": (2, 3), "absent": (1, 2)}
BATCH_SIZE = 16


def zipf_weights(n: int, a: float) -> np.ndarray:
    """Probabilities of ranks 1..n under a Zipf law truncated at n."""
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


KEYWORD_WEIGHTS = zipf_weights(len(KEYWORDS), 1.1)
MODULE_WEIGHTS = zipf_weights(N_MODULES, 1.0)


def make_corpus(rng: np.random.Generator, n_docs: int, first_id: int = 0,
                mean_len: int = 60) -> pd.DataFrame:
    """``n_docs`` synthetic source files with doc ids ``first_id..``."""
    lengths = np.clip(rng.poisson(mean_len, n_docs), 8, 600)
    repos = np.minimum(rng.zipf(1.5, n_docs) - 1, N_REPOS - 1)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)
    n_sym = rng.integers(0, 3, n_docs)
    kw = np.array(KEYWORDS)[rng.choice(len(KEYWORDS), size=int(lengths.sum()),
                                       p=KEYWORD_WEIGHTS)]
    mods = rng.choice(N_MODULES, size=(n_docs, 3), p=MODULE_WEIGHTS)
    commits = rng.integers(0, 2**63, n_docs)
    ends = np.cumsum(lengths)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    content = []
    for i, doc_id in enumerate(ids.tolist()):
        toks = kw[ends[i] - lengths[i]:ends[i]].tolist()
        toks.extend(f"mod_{m}" for m in mods[i].tolist())
        toks.extend(f"sym_{doc_id}_{j}" for j in range(int(n_sym[i])))
        content.append(" ".join(toks))
    lang = [LANGS[j] for j in langs.tolist()]
    rows = {
        "doc_id": ids,
        "repo": [f"org{r}/proj{r}" for r in repos.tolist()],
        "path": [f"src/mod_{d % 97}/file_{d:07d}.{EXT[g]}" for d, g in zip(ids.tolist(), lang)],
        "commit": [f"{c:040x}" for c in commits.tolist()],
        "lang": lang,
        "content": content,
    }
    return pd.DataFrame(rows).astype({"doc_id": "int64"})


def corpus_properties(corpus: pd.DataFrame) -> dict:
    """Input properties the engine's behaviour depends on."""
    df = Counter()
    for text in corpus["content"]:
        df.update(set(text.split(" ")))
    hottest, hot_df = df.most_common(1)[0]
    return {
        "docs": len(corpus),
        "input_bytes": int(corpus["content"].str.len().sum()),
        "distinct_terms": len(df),
        "hottest_term": hottest,
        "hottest_df_frac": round(hot_df / len(corpus), 4),
    }


def rare_terms(corpus: pd.DataFrame) -> list[str]:
    """The corpus's ``sym_*`` identifiers (df = 1), in doc order."""
    return [t for text in corpus["content"] for t in text.split(" ")
            if t.startswith("sym_")]


@dataclass(frozen=True)
class Request:
    """One closed-loop request: a single query, or a batch of queries."""
    kind: str                       # "single" or "batch"
    queries: tuple                  # ((query_kind, (term, ...)), ...)


def shapes():
    """Endless (kind, term count) sequence: kinds by ``KIND_CYCLE``, each
    kind's term counts by its own cycle in ``TERM_COUNTS``."""
    seen = Counter()
    while True:
        for kind in KIND_CYCLE:
            counts = TERM_COUNTS[kind]
            yield kind, counts[seen[kind] % len(counts)]
            seen[kind] += 1


BATCH_SHAPES = tuple(itertools.islice(shapes(), BATCH_SIZE))


def _query(rng: np.random.Generator, rare: list[str], kind: str, n: int) -> tuple:
    if kind == "head":
        terms = rng.choice(HEAD_TERMS, size=n, replace=False).tolist()
    elif kind == "mix":
        terms = [str(rng.choice(HEAD_TERMS))]
        terms += [rare[int(j)] for j in rng.choice(len(rare), size=n - 1, replace=False)]
    else:
        terms = [f"absent_{int(j)}" for j in rng.integers(0, 10**6, n)]
    return kind, tuple(sorted(set(terms)))


def _batch(rng: np.random.Generator, rare: list[str]) -> Request:
    return Request("batch", tuple(_query(rng, rare, kind, n) for kind, n in BATCH_SHAPES))


def query_stream(rng: np.random.Generator, rare: list[str], n_requests: int,
                 batch_every: int) -> list[Request]:
    """Seeded request stream; every ``batch_every``-th request is a batch of
    ``BATCH_SIZE`` queries of the shapes in ``BATCH_SHAPES``, the rest are
    single queries whose shapes follow ``shapes()``."""
    out, single = [], shapes()
    for i in range(n_requests):
        if (i + 1) % batch_every == 0:
            out.append(_batch(rng, rare))
        else:
            out.append(Request("single", (_query(rng, rare, *next(single)),)))
    return out


def warmup_stream(rng: np.random.Generator, rare: list[str]) -> list[Request]:
    """One single query of each kind, then one batch: every request shape of
    the timed stream, for an untimed warm-up."""
    singles = [Request("single", (_query(rng, rare, kind, TERM_COUNTS[kind][0]),))
               for kind in QUERY_KINDS]
    return singles + [_batch(rng, rare)]


@dataclass(frozen=True)
class WriteBatch:
    """One write cycle: delete ``deletes``, then upsert ``upserts`` (stable
    ids: some replace live docs, the rest are new ids)."""
    deletes: tuple
    upserts: pd.DataFrame


def write_stream(rng: np.random.Generator, corpus: pd.DataFrame, n_delete: int,
                 n_replace: int, n_new: int) -> WriteBatch:
    ids = corpus["doc_id"].to_numpy()
    picked = rng.choice(ids, size=n_delete + n_replace, replace=False)
    deletes = tuple(int(i) for i in sorted(picked[:n_delete]))
    fresh = make_corpus(rng, n_replace + n_new, first_id=int(ids.max()) + 1)
    fresh["doc_id"] = np.concatenate(
        [np.sort(picked[n_delete:]), fresh["doc_id"].to_numpy()[n_replace:]]).astype("int64")
    return WriteBatch(deletes, fresh)


def apply_writes(corpus: pd.DataFrame, batch: WriteBatch) -> pd.DataFrame:
    """The live doc set after ``batch`` — what the index must now answer over."""
    gone = set(batch.deletes) | set(batch.upserts["doc_id"].tolist())
    live = corpus[~corpus["doc_id"].isin(gone)]
    return pd.concat([live, batch.upserts], ignore_index=True)
