"""Physical posting blocks: build/decode (SURVEY.md §1.3 physical layout).

A posting list for (shard, term) is split into blocks of ``BLOCK_DOCS``
postings. Per block we store three varint blobs — delta-gapped doc_ids,
tfs, doc_lens — plus the block's doc_id range and the block-max BM25
"score norm" for pruning.

score_norm(tf, dl) = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

is the query-independent part of the BM25 term score (the full score is
``qtf * idf * score_norm``), so ``block_max_norm`` (computed in float64
at build time, SURVEY.md §7 hard part #3) gives an exact per-block
upper bound once multiplied by the term's qtf*idf at query time.

Storing dl per posting denormalizes doc length into the index: at
10^12-doc scale a driver-side doc_id→doc_len broadcast map is
impossible, and a shuffle join per query is absurd — +1..2 varint bytes
per posting buys shard-local, join-free scoring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import BM25_B, BM25_K1, TF_CAP
from .codec import delta_decode, delta_encode, varint_decode, varint_encode, varint_encode_with_lengths

BLOCK_DOCS = 128

BLOCKS_SCHEMA = (
    "shard int, term string, block_id int, n int, "
    "first_doc_id long, last_doc_id long, "
    "doc_ids_blob binary, tfs_blob binary, doc_lens_blob binary, "
    "block_max_norm double, block_max_tf int"
)


def score_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl.astype(np.float64) / avgdl)
    return tf * (BM25_K1 + 1.0) / denom


def build_blocks_for_term(
    shard: int,
    term: str,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    avgdl: float,
    block_docs: int = BLOCK_DOCS,
) -> list[tuple]:
    """Postings (UNSORTED ok) → list of block rows."""
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order]
    tfs = np.minimum(tfs[order], TF_CAP)
    doc_lens = doc_lens[order]
    rows = []
    for b, start in enumerate(range(0, len(doc_ids), block_docs)):
        ids = doc_ids[start : start + block_docs]
        t = tfs[start : start + block_docs]
        dl = doc_lens[start : start + block_docs]
        rows.append(
            (
                shard,
                term,
                b,
                int(ids.size),
                int(ids[0]),
                int(ids[-1]),
                delta_encode(ids),
                varint_encode(t.astype(np.uint64)),
                varint_encode(dl.astype(np.uint64)),
                float(score_norm(t, dl, avgdl).max()),
                int(t.max()),
            )
        )
    return rows


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Block row (pandas namedtuple/Series-like) → (doc_ids, tfs, dls)."""
    n = int(row.n)
    ids = delta_decode(bytes(row.doc_ids_blob), n)
    tfs = varint_decode(bytes(row.tfs_blob), n).astype(np.int64)
    dls = varint_decode(bytes(row.doc_lens_blob), n).astype(np.int64)
    return ids, tfs, dls


def decode_blocks(
    n: np.ndarray, ids_blob: bytes, tfs_blob: bytes, dls_blob: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Blocks of ``n`` postings each, their blobs concatenated per
    column → the blocks' (doc_ids, tfs, dls) back to back, in ONE varint
    pass per column. LEB128 is self-delimiting, so this equals
    concatenating decode_block over the blocks; each block's first gap
    is an absolute doc_id, so the doc_id prefix sum restarts per block
    (uint64 arithmetic wraps exactly as delta_decode's int64 sum)."""
    total = int(n.sum())
    csum = np.cumsum(varint_decode(ids_blob, total))
    ends = np.cumsum(n)
    base = np.zeros(n.size, dtype=np.uint64)
    base[1:] = csum[ends[:-1] - 1]
    ids = (csum - np.repeat(base, n)).view(np.int64)
    tfs = varint_decode(tfs_blob, total).astype(np.int64)
    dls = varint_decode(dls_blob, total).astype(np.int64)
    return ids, tfs, dls


BLOCK_COLUMNS = [
    "shard", "term", "block_id", "n", "first_doc_id", "last_doc_id",
    "doc_ids_blob", "tfs_blob", "doc_lens_blob", "block_max_norm",
    "block_max_tf",
]


def term_runs(blocks: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """BLOCKS_SCHEMA rows (any row order, non-empty) → (order, terms,
    bounds): ``order`` sorts the rows by (term, shard, block_id), and
    rows ``order[bounds[i]:bounds[i + 1]]`` are the blocks of
    ``terms[i]``, terms ascending."""
    codes, terms = pd.factorize(blocks["term"].to_numpy(), sort=True)
    order = np.lexsort(
        (blocks["block_id"].to_numpy(), blocks["shard"].to_numpy(), codes)
    )
    bounds = np.searchsorted(codes[order], np.arange(terms.size + 1))
    return order, terms, bounds


def decode_terms(
    blocks: pd.DataFrame,
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """BLOCKS_SCHEMA rows (any row order) → {term: (doc_ids, tfs, dls)},
    terms ascending, from ONE decode_blocks call over the whole frame.
    A term's blocks are concatenated in (shard, block_id) order, so
    within one shard its run is doc_id-sorted and unique."""
    if not len(blocks):
        return {}
    order, terms, bounds = term_runs(blocks)
    n = blocks["n"].to_numpy(np.int64)[order]
    cols = decode_blocks(
        n,
        *(
            b"".join(blocks[c].to_numpy()[order])
            for c in ("doc_ids_blob", "tfs_blob", "doc_lens_blob")
        ),
    )
    off = np.concatenate(([0], np.cumsum(n)))[bounds]
    return {
        t: tuple(c[lo:hi] for c in cols)
        for t, lo, hi in zip(terms, off[:-1], off[1:])
    }


def explode_terms(runs: dict) -> tuple[np.ndarray, ...]:
    """decode_terms output (non-empty) → parallel (terms, doc_ids, tfs,
    dls) arrays, one entry per posting."""
    lens = [r[0].size for r in runs.values()]
    terms = np.repeat(np.array(list(runs), dtype=object), lens)
    return (terms, *(np.concatenate(c) for c in zip(*runs.values())))


def isin_sorted(ids: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    """Boolean mask: which ids are in the SORTED, non-empty int64 array."""
    pos = np.searchsorted(sorted_set, ids)
    pos = np.minimum(pos, sorted_set.size - 1)
    return sorted_set[pos] == ids


def blocks_pdf_for_shard_arrays(
    pdf: pd.DataFrame, avgdl: float, block_docs: int
) -> pd.DataFrame:
    """applyInPandas kernel over the ARRAY-form checkpoint (one row per
    doc: terms/tfs lists): explode in numpy, then build_blocks."""
    lens = pdf["terms"].map(len).to_numpy(np.int64)
    return build_blocks(
        int(pdf["shard"].iloc[0]),
        np.concatenate([np.asarray(t, dtype=object) for t in pdf["terms"]]),
        np.repeat(pdf["doc_id"].to_numpy(np.int64), lens),
        np.concatenate([np.asarray(t, dtype=np.int64) for t in pdf["tfs"]]),
        np.repeat(pdf["doc_len"].to_numpy(np.int64), lens),
        avgdl,
        block_docs,
    )


def build_blocks(
    shard: int,
    terms: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_docs: int,
) -> pd.DataFrame:
    """One WHOLE SHARD of postings (parallel arrays, any order) → its
    blocks for all terms: the one block builder of the build and of
    segment merge. One shard-sized call amortizes per-group overhead
    that grouping per (shard, term) would pay per term, and a single
    lexsort by (term, doc_id) hands every term its doc-sorted postings
    via slice boundaries. Shard size is the memory unit — size n_shards
    so a shard's tokens fit an executor (the reference's 124-bucket
    knob, SURVEY.md §4)."""
    if doc_ids.size == 0:
        return pd.DataFrame([], columns=BLOCK_COLUMNS)
    # sort by (term, doc_id) without object comparisons: factorize terms
    # in C, rank only the DISTINCT terms lexically (vocab-sized sort),
    # then one int64 lexsort — np.lexsort over an object array would
    # compare Python strings per element
    codes, uniques = pd.factorize(terms, sort=False)
    uniq_arr = uniques.to_numpy() if hasattr(uniques, "to_numpy") else np.asarray(uniques, dtype=object)
    order_u = np.argsort(uniq_arr)
    n_terms = len(order_u)
    rank = np.empty(n_terms, dtype=np.int64)
    rank[order_u] = np.arange(n_terms)
    keys = rank[codes]
    order = np.lexsort((doc_ids, keys))
    keys, doc_ids, tfs, dls = keys[order], doc_ids[order], tfs[order], dls[order]
    starts = np.searchsorted(keys, np.arange(n_terms), side="left")
    bounds = np.append(starts, keys.size)
    uniq_sorted = uniq_arr[order_u]

    # --- vectorized across ALL blocks of the shard -------------------
    # block boundaries: every term segment split at block_docs strides
    seg_len = bounds[1:] - bounds[:-1]
    nblk = (seg_len + block_docs - 1) // block_docs
    tot = int(nblk.sum())
    first_blk = np.concatenate(([0], np.cumsum(nblk)[:-1]))
    term_of_blk = np.repeat(np.arange(n_terms), nblk)
    k_within = np.arange(tot) - first_blk[term_of_blk]
    blk_start = bounds[:-1][term_of_blk] + k_within * block_docs
    blk_end = np.minimum(blk_start + block_docs, bounds[1:][term_of_blk])

    tfs_c = np.minimum(tfs, TF_CAP)
    # delta gaps with an ABSOLUTE doc_id at each block start (blocks are
    # independently decodable); term boundaries are always block starts,
    # so cross-term diffs never survive
    gaps = np.empty(keys.size, dtype=np.int64)
    gaps[0] = doc_ids[0]
    gaps[1:] = np.diff(doc_ids)
    gaps[blk_start] = doc_ids[blk_start]
    norms = score_norm(tfs_c, dls, avgdl)
    bmax_norm = np.maximum.reduceat(norms, blk_start)
    bmax_tf = np.maximum.reduceat(tfs_c, blk_start)

    # ONE varint encode per column per shard; per-block bytes sliced by
    # cumulative length (LEB128 is self-delimiting — byte-identical to
    # per-block encoding)
    ids_b, ids_nb = varint_encode_with_lengths(gaps.astype(np.uint64))
    tf_b, tf_nb = varint_encode_with_lengths(tfs_c.astype(np.uint64))
    dl_b, dl_nb = varint_encode_with_lengths(dls.astype(np.uint64))
    ids_off = np.concatenate(([0], np.cumsum(ids_nb)))
    tf_off = np.concatenate(([0], np.cumsum(tf_nb)))
    dl_off = np.concatenate(([0], np.cumsum(dl_nb)))

    rows: list[tuple] = []
    for i in range(tot):
        s, e = int(blk_start[i]), int(blk_end[i])
        rows.append(
            (
                shard,
                uniq_sorted[term_of_blk[i]],
                int(k_within[i]),
                e - s,
                int(doc_ids[s]),
                int(doc_ids[e - 1]),
                ids_b[ids_off[s]:ids_off[e]].tobytes(),
                tf_b[tf_off[s]:tf_off[e]].tobytes(),
                dl_b[dl_off[s]:dl_off[e]].tobytes(),
                float(bmax_norm[i]),
                int(bmax_tf[i]),
            )
        )
    return pd.DataFrame(rows, columns=BLOCK_COLUMNS)


def blocks_batches_for_partition(
    it, avgdl: float, block_docs: int
):
    """mapInPandas kernel: iterate a partition of the ARRAY-form token
    checkpoint, group rows by shard in-memory, and yield one block
    frame per shard.

    Shuffle-free stage 2: stage 1's hash partitioning puts EVERY row of
    a shard into one task, which (with parquet partitionBy and no
    maxRecordsPerFile rollover) writes exactly ONE file per shard; the
    chunk read is configured file-per-partition (see build_index), so a
    partition always holds whole shards and this kernel never sees a
    partial one. The dictionary stage asserts no duplicate
    (shard, term, block_id) as a guard on that invariant."""
    import pandas as pd

    buf: dict[int, list] = {}
    for pdf in it:
        for s, g in pdf.groupby("shard", sort=False):
            buf.setdefault(int(s), []).append(g)
    for s, parts in buf.items():
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        out = blocks_pdf_for_shard_arrays(pdf, avgdl, block_docs)
        if len(out):
            yield out
