"""The vectorized whole-shard block kernel must stay byte-identical to
the straightforward per-term encoder, and the sliceable varint encoder
must agree with per-range encoding (LEB128 self-delimiting property)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.codec import varint_encode, varint_encode_with_lengths
from engine.postings import (
    BLOCK_COLUMNS,
    blocks_pdf_for_shard_arrays,
    build_blocks,
    build_blocks_for_term,
    decode_block,
    decode_blocks,
    decode_terms,
    explode_terms,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300),
    st.integers(min_value=0, max_value=299),
    st.integers(min_value=0, max_value=299),
)
@settings(max_examples=60, deadline=None)
def test_varint_slices_equal_independent_encoding(vals, i, j):
    v = np.asarray(vals, dtype=np.uint64)
    out, nb = varint_encode_with_lengths(v)
    assert int(nb.sum()) == out.size
    assert out.tobytes() == varint_encode(v)
    if v.size:
        lo, hi = sorted((i % v.size, j % v.size))
        off = np.concatenate(([0], np.cumsum(nb)))
        sliced = out[off[lo]:off[hi]].tobytes()
        assert sliced == varint_encode(v[lo:hi])


@pytest.mark.parametrize("block_docs", [3, 128])
def test_shard_kernel_byte_identical_to_per_term(block_docs):
    rng = np.random.RandomState(7)
    n_docs, vocab = 400, [f"t{i:03d}" for i in range(37)]
    rows = []
    for d in range(n_docs):
        terms = sorted(rng.choice(vocab, size=rng.randint(1, 12), replace=False))
        tfs = rng.randint(1, 70000, size=len(terms)).tolist()
        rows.append(
            {
                "doc_id": int(rng.randint(0, 2**60)),
                "terms": list(terms),
                "tfs": tfs,
                "doc_len": int(sum(tfs)),
                "shard": 5,
            }
        )
    pdf = pd.DataFrame(rows).drop_duplicates("doc_id")
    out = blocks_pdf_for_shard_arrays(pdf, 123.4, block_docs)

    lens = pdf["terms"].map(len).to_numpy()
    doc_ids = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
    dls = np.repeat(pdf["doc_len"].to_numpy(np.int64), lens)
    terms = np.concatenate([np.asarray(t, dtype=object) for t in pdf["terms"]])
    tfs = np.concatenate([np.asarray(t, dtype=np.int64) for t in pdf["tfs"]])
    ref_rows = []
    for term in sorted(set(terms)):
        m = terms == term
        ref_rows.extend(
            build_blocks_for_term(5, term, doc_ids[m], tfs[m], dls[m], 123.4, block_docs)
        )
    ref = pd.DataFrame(ref_rows, columns=BLOCK_COLUMNS)
    assert len(ref) == len(out)
    for c in BLOCK_COLUMNS:
        assert list(ref[c]) == list(out[c]), c


def test_empty_and_zero_token_docs():
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "terms": [[], []],
            "tfs": [[], []],
            "doc_len": [0, 0],
            "shard": [0, 0],
        }
    )
    out = blocks_pdf_for_shard_arrays(pdf, 10.0, 128)
    assert len(out) == 0 and list(out.columns) == BLOCK_COLUMNS


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_decode_terms_equals_per_block_decode(data):
    """Blocks of random terms over random shards, rows shuffled: one
    decode_blocks pass over the concatenated blobs equals per-row
    decode_block concatenated; decode_terms yields every term (ascending)
    as its blocks decoded in (shard, block_id) order; and re-encoding a
    shard's decoded runs through build_blocks gives back its blocks
    byte for byte (the segment-merge identity)."""
    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    block_docs = data.draw(st.sampled_from([1, 3, 16, 128]))
    shards = data.draw(st.lists(st.integers(0, 7), min_size=1, max_size=3, unique=True))
    vocab = [f"t{i}" for i in range(data.draw(st.integers(1, 8)))]
    rows = []
    for shard in shards:
        for t in vocab:
            ids = np.unique(rng.randint(0, 2**62, size=rng.randint(0, 300)))
            n = ids.size
            if n:
                rows.extend(build_blocks_for_term(
                    shard, t, ids, rng.randint(1, 70000, size=n),
                    rng.randint(1, 5000, size=n), 50.0, block_docs,
                ))
    if not rows:
        return
    ref = pd.DataFrame(rows, columns=BLOCK_COLUMNS)
    blocks = ref.sample(frac=1.0, random_state=rng).reset_index(drop=True)

    per_row = [decode_block(r) for r in blocks.itertuples(index=False)]
    flat = decode_blocks(
        blocks["n"].to_numpy(np.int64),
        *(b"".join(blocks[c]) for c in ("doc_ids_blob", "tfs_blob", "doc_lens_blob")),
    )
    for got, want in zip(flat, zip(*per_row)):
        assert np.array_equal(got, np.concatenate(want))

    runs = decode_terms(blocks)
    assert list(runs) == sorted(set(blocks["term"]))
    for t, got in runs.items():
        mine = ref[ref["term"] == t].sort_values(["shard", "block_id"])
        want = [decode_block(r) for r in mine.itertuples(index=False)]
        for g, w in zip(got, zip(*want)):
            assert np.array_equal(g, np.concatenate(w))

    for shard in shards:
        mine = blocks[blocks["shard"] == shard]
        if not len(mine):
            continue
        out = build_blocks(shard, *explode_terms(decode_terms(mine)), 50.0, block_docs)
        want = ref[ref["shard"] == shard].reset_index(drop=True)
        for c in BLOCK_COLUMNS:
            assert list(out[c]) == list(want[c]), c


# ---------------------------------------------------------------- searchAfter
# Property: topk_shard(after=cursor) + the exact downstream cursor filter
# must equal the brute-force page (docs strictly after the cursor in
# (score DESC, doc_id ASC) order, top-k) — for random posting sets,
# random cursor depths, prune on/off, and both exact and rounded-key
# modes. Guards the OR-phase-resurrection class of bug (an evicted doc
# re-merged by a later term with a dangling partial).

def _brute_page(doc_ids, scores, s_a, d_a, k, nd=None):
    sc = np.round(scores, nd) if nd is not None else scores
    ok = (sc < s_a) | ((sc == s_a) & (doc_ids > d_a))
    ids, sc = doc_ids[ok], sc[ok]
    order = np.lexsort((ids, -sc))
    return ids[order][:k], sc[order][:k]


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_search_after_kernel_matches_brute_force(data):
    from engine.postings import score_norm
    from engine.wand import topk_shard

    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    n_docs = data.draw(st.integers(5, 60))
    n_terms = data.draw(st.integers(1, 6))
    k = data.draw(st.integers(1, 8))
    prune = data.draw(st.booleans())
    nd = data.draw(st.sampled_from([None, 6]))
    block_docs = data.draw(st.sampled_from([4, 128]))
    avgdl = 50.0

    vocab = [f"t{i}" for i in range(n_terms)]
    doc_ids = np.unique(rng.randint(0, 2**40, size=n_docs * 2))[:n_docs].astype(np.int64)
    n_docs = doc_ids.size
    dls = rng.randint(5, 200, size=n_docs).astype(np.int64)
    weights = {t: float(rng.uniform(0.1, 3.0)) for t in vocab}

    rows, exact = [], np.zeros(n_docs)
    for t in vocab:
        m = rng.rand(n_docs) < 0.6
        if not m.any():
            continue
        tfs = rng.randint(1, 30, size=int(m.sum())).astype(np.int64)
        rows.extend(
            build_blocks_for_term(0, t, doc_ids[m], tfs, dls[m], avgdl, block_docs)
        )
        exact[m] += weights[t] * score_norm(tfs, dls[m], avgdl)
    if not rows:
        return
    blocks = pd.DataFrame(rows, columns=BLOCK_COLUMNS)

    # exhaustive kernel scan = the engine's own score space (the cursor
    # is always a previously SERVED hit, so it must come from the same
    # accumulation order the kernel uses — a brute-force cursor can be
    # 1 ulp off and break exact-equality mode); brute force only sanity-
    # checks the values within float tolerance
    full_ids, full_sc = topk_shard(
        blocks, weights, avgdl, n_docs + 8, prune=False, eps=0.0
    )
    matched = exact > 0
    assert set(full_ids) == set(doc_ids[matched])
    brute = dict(zip(doc_ids[matched], exact[matched]))
    assert np.allclose(
        full_sc, [brute[i] for i in full_ids], rtol=1e-9, atol=1e-12
    )

    m_ids, m_sc = full_ids, full_sc
    key_sc = np.round(m_sc, nd) if nd is not None else m_sc
    order = np.lexsort((m_ids, -key_sc))
    rank = data.draw(st.integers(0, max(0, order.size - 1)))
    s_a = float(key_sc[order][rank])
    d_a = int(m_ids[order][rank])

    eps = 0.5 * 10.0 ** (-nd) if nd is not None else 0.0
    ids, sc = topk_shard(
        blocks, weights, avgdl, k, prune=prune, eps=eps, after=(s_a, d_a)
    )
    sc = np.round(sc, nd) if nd is not None else sc
    ok = (sc < s_a) | ((sc == s_a) & (ids > d_a))
    ids, sc = ids[ok], sc[ok]
    got_order = np.lexsort((ids, -sc))
    got_ids, got_sc = ids[got_order][:k], sc[got_order][:k]

    want_ids, want_sc = _brute_page(m_ids, m_sc, s_a, d_a, k, nd)
    assert list(got_ids) == list(want_ids)
    assert np.allclose(got_sc, want_sc, rtol=0, atol=1e-9)


def _blocks(shard, postings, avgdl, block_docs=128):
    """{term: (doc_ids, tfs, dls)} → one shard's BLOCKS_SCHEMA frame."""
    rows = []
    for t, (ids, tfs, dls) in postings.items():
        rows.extend(build_blocks_for_term(
            shard, t, np.asarray(ids, np.int64), np.asarray(tfs, np.int64),
            np.asarray(dls, np.int64), avgdl, block_docs,
        ))
    return pd.DataFrame(rows, columns=BLOCK_COLUMNS)


def test_term_order_is_shard_independent():
    """Two docs with identical per-term (tf, dl) in different shards get
    bit-equal scores, so the global cut ranks the smaller doc_id first.
    Each shard has a helper doc that lifts a DIFFERENT term's block-max
    bound (a per-shard bound order would add the three contributions in
    a different order in each shard), and the weights are picked so the
    two orders round differently: (1.3 + 2.9) + 1.7 != (1.7 + 2.9) + 1.3."""
    from engine.wand import topk_shard

    avgdl, w = 100.0, {"a": 1.3, "b": 1.7, "c": 2.9}
    assert (w["a"] + w["c"]) + w["b"] != (w["b"] + w["c"]) + w["a"]
    target = ([1], [100])  # tf 1 at dl = avgdl: each contribution is w exactly

    def shard(sid, doc, lifted, helper):
        post = {t: ([doc], *target) for t in w}
        post[lifted] = ([doc, helper], [1, 18], [100, 20])
        return _blocks(sid, post, avgdl)

    ids, sc = map(np.concatenate, zip(
        topk_shard(shard(0, 100, "a", 101), w, avgdl, 10),
        topk_shard(shard(1, 50, "b", 51), w, avgdl, 10),
    ))
    score = dict(zip(ids.tolist(), sc.tolist()))
    assert score[50] == score[100]
    ranked = ids[np.lexsort((ids, -sc))].tolist()
    assert ranked.index(50) < ranked.index(100)


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_shared_term_blocks_equal_one_query_entry(data):
    """topk_terms over TermBlocks shared by a sequence of queries (blocks
    decoded lazily by whichever query needs them first) returns exactly
    what topk_shard returns on a fresh frame in any row order —
    including keep_ids, after and bound_scale."""
    from engine.wand import term_blocks, topk_shard, topk_terms

    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    avgdl, vocab = 40.0, [f"t{i}" for i in range(5)]
    doc_ids = np.unique(rng.randint(0, 2**62, size=300))
    dls = rng.randint(3, 120, size=doc_ids.size)
    post = {}
    for t in vocab:
        m = rng.rand(doc_ids.size) < rng.uniform(0.05, 0.8)
        if m.any():
            post[t] = (doc_ids[m], rng.randint(1, 25, size=int(m.sum())), dls[m])
    blocks = _blocks(3, post, avgdl, data.draw(st.sampled_from([2, 16, 128])))
    shared = term_blocks(blocks, avgdl)
    for _ in range(4):
        terms = rng.choice(vocab, size=rng.randint(1, len(vocab) + 1), replace=False)
        weights = {str(t): float(rng.uniform(0.2, 3.0)) for t in terms}
        kw = dict(
            prune=data.draw(st.booleans()),
            eps=data.draw(st.sampled_from([0.0, 5e-7])),
            drop_ids=np.sort(rng.choice(doc_ids, 20, replace=False)),
            bound_scale=data.draw(st.sampled_from([1.0, 1.5])),
        )
        if data.draw(st.booleans()):
            kw["keep_ids"] = np.sort(rng.choice(doc_ids, rng.randint(0, 150), replace=False))
        if data.draw(st.booleans()):
            kw["after"] = (float(rng.uniform(0.5, 4.0)), int(rng.choice(doc_ids)))
        k = data.draw(st.integers(1, 12))
        want = topk_shard(blocks.sample(frac=1.0, random_state=rng), weights, avgdl, k, **kw)
        got = topk_terms(shared, weights, k, **kw)
        assert [np.array_equal(a[np.argsort(want[0])], b[np.argsort(got[0])])
                for a, b in zip(want, got)] == [True, True]
