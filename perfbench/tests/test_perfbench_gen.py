"""The seeded input generator: same seed, same inputs; tokens the engine's
code tokenizer and the whitespace tokenizer split identically."""

import re

import numpy as np
import pandas as pd

import gen

TOKEN = re.compile(r"[a-z_][a-z0-9_]*")


def _inputs(seed):
    rng = np.random.default_rng(seed)
    corpus = gen.make_corpus(rng, 300)
    stream = gen.query_stream(rng, gen.rare_terms(corpus), 30, batch_every=3)
    writes = gen.write_stream(rng, corpus, n_delete=5, n_replace=3, n_new=4)
    return corpus, stream, writes


def test_same_seed_same_inputs():
    c1, s1, w1 = _inputs(7)
    c2, s2, w2 = _inputs(7)
    pd.testing.assert_frame_equal(c1, c2)
    assert s1 == s2
    assert w1.deletes == w2.deletes
    pd.testing.assert_frame_equal(w1.upserts, w2.upserts)


def test_other_seed_other_inputs():
    c1, s1, _ = _inputs(7)
    c2, s2, _ = _inputs(8)
    assert not c1["content"].equals(c2["content"])
    assert s1 != s2


def test_tokens_are_plain_identifiers():
    corpus, _, writes = _inputs(3)
    for text in pd.concat([corpus, writes.upserts])["content"]:
        toks = text.split(" ")
        assert toks and all(TOKEN.fullmatch(t) for t in toks)


def test_corpus_shape_and_skew():
    corpus, _, _ = _inputs(1)
    assert corpus["doc_id"].is_unique
    assert corpus["doc_id"].dtype == np.int64
    props = gen.corpus_properties(corpus)
    assert props["hottest_term"] in gen.HEAD_TERMS
    assert props["hottest_df_frac"] > 0.9
    assert all(t.startswith("sym_") for t in gen.rare_terms(corpus))


def test_query_stream_mix_and_batches():
    rng = np.random.default_rng(5)
    corpus = gen.make_corpus(rng, 200)
    stream = gen.query_stream(rng, gen.rare_terms(corpus), 300, batch_every=3)
    assert [r.kind for r in stream[:3]] == ["single", "single", "batch"]
    assert all(len(r.queries) == gen.BATCH_SIZE for r in stream if r.kind == "batch")
    kinds = [k for r in stream for k, _ in r.queries]
    for kind, share in zip(gen.QUERY_KINDS, gen.QUERY_SHARES):
        assert abs(kinds.count(kind) / len(kinds) - share) < 0.05
    for r in stream:
        for kind, terms in r.queries:
            assert 1 <= len(terms) <= 3 and list(terms) == sorted(set(terms))
            if kind == "absent":
                assert all(t.startswith("absent_") for t in terms)


def test_apply_writes_tracks_live_set():
    corpus, _, writes = _inputs(9)
    live = gen.apply_writes(corpus, writes)
    assert live["doc_id"].is_unique
    assert len(live) == len(corpus) - len(writes.deletes) + 4
    assert not set(writes.deletes) & set(live["doc_id"])
    replaced = set(writes.upserts["doc_id"]) & set(corpus["doc_id"])
    assert len(replaced) == 3
    new_text = live.set_index("doc_id").loc[sorted(replaced), "content"]
    assert (new_text.values == writes.upserts.set_index("doc_id")
            .loc[sorted(replaced), "content"].values).all()


def test_warmup_covers_every_request_shape():
    rng = np.random.default_rng(2)
    corpus = gen.make_corpus(rng, 100)
    warm = gen.warmup_stream(rng, gen.rare_terms(corpus))
    assert [r.queries[0][0] for r in warm[:-1]] == list(gen.QUERY_KINDS)
    assert warm[-1].kind == "batch" and len(warm[-1].queries) == gen.BATCH_SIZE


def test_query_shapes_do_not_depend_on_seed():
    def shapes(seed):
        rng = np.random.default_rng(seed)
        corpus = gen.make_corpus(rng, 200)
        stream = gen.query_stream(rng, gen.rare_terms(corpus), 40, batch_every=4)
        return [(r.kind, [(k, len(t)) for k, t in r.queries]) for r in stream]

    assert shapes(1) == shapes(2)
    batches = [q for kind, q in shapes(3) if kind == "batch"]
    assert batches and all(q == list(gen.BATCH_SHAPES) for q in batches)
