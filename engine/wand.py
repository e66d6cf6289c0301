"""Block-max pruned top-k scoring kernel (BASELINE.json:6 "block-max
WAND pruning inside mapInPandas"; SURVEY.md §2.6 Q5).

Algorithm: block-max MaxScore, term-at-a-time — the rank-SAFE member of
the WAND family that vectorizes cleanly in numpy (document-at-a-time
WAND is a per-posting pointer chase; TAAT MaxScore does the same
pruning with whole-array ops):

1. Terms in descending weight order, ties by term: key (-w_t, t)
   (w_t = qtf_t * idf_t). A doc's score is the sum of its per-term
   contributions w_t * norm (norm is the query-independent BM25
   factor, engine/postings.py), added in this order, so the order
   must be the same in EVERY shard: two docs with equal (tf, dl) per
   term then get bit-equal sums wherever they live, and the global
   cut breaks their tie by doc_id as the reference does; an order by
   each shard's own bound w_t * max_block_norm would make such sums
   differ in the last bit between shards. The bounds below are
   rank-safe in any term order.
2. OR phase: merge-accumulate full posting lists while new documents
   can still reach the current top-k floor θ (θ = k-th best partial
   score — a LOWER bound of the k-th final score, so the switch is
   conservative/rank-safe).
3. AND phase (once Σ remaining ub < θ): no unseen doc can enter the
   top-k, so only accumulator docs need finishing. Blocks are decoded
   ONLY if (a) their doc_id range intersects the accumulator
   (searchsorted on first/last_doc_id) AND (b) their block-max bound
   could still matter: acc_max + w*block_max + Σ ub_after ≥ θ.
4. After each AND-phase term, accumulator docs with
   score + Σ ub_remaining < θ are dropped (they can no longer reach
   the top-k; dropping them is rank-safe because θ only grows).

All bounds are computed in float64 and compared with ≥ (SURVEY.md §7
hard part #3). ``prune=False`` gives the exhaustive path used for the
rank-safety cross-check.

The kernel runs on TermBlocks — one (shard, term) posting list as
numpy block columns, each block decoded at most once and only when the
kernel needs it — so a batch builds them once per shard (term_blocks)
and runs topk_terms for every query against them; topk_shard is the
one-query entry over a BLOCKS_SCHEMA frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# decode_block stays importable here: tools that count kernel decodes
# patch engine.wand.decode_block (the kernel itself decodes through
# decode_blocks, one varint pass per term and column)
from .postings import (  # noqa: F401
    decode_block, decode_blocks, isin_sorted, score_norm, term_runs,
)


class TermBlocks:
    """One (shard, term) posting list as block columns — ``first`` /
    ``last`` doc_id, ``bmax`` (block_max_norm), ``off`` (posting offset
    of each block, cumsum of n) — plus the three varint blob columns.
    ``take`` decodes blocks lazily, each at most once, and keeps the
    doc_ids and score norms at ``avgdl``: a term's contribution to any
    query is then w * norm, elementwise."""

    def __init__(self, first, last, bmax, n, ids_blobs, tfs_blobs, dls_blobs,
                 avgdl: float):
        self.first, self.last, self.bmax = first, last, bmax
        self.n = n.astype(np.int64)
        self.off = np.concatenate(([0], np.cumsum(self.n)))
        self.max_norm = float(bmax.max())
        self._blobs = (ids_blobs, tfs_blobs, dls_blobs)
        self._avgdl = avgdl
        self._ids = np.empty(self.off[-1], np.int64)
        self._norm = np.empty(self.off[-1], np.float64)
        self._todo = np.ones(n.size, bool)

    def _positions(self, sel: np.ndarray) -> np.ndarray:
        """Posting positions of the blocks ``sel``, back to back."""
        n = self.n[sel]
        shift = self.off[sel] - np.concatenate(([0], np.cumsum(n)[:-1]))
        return np.arange(int(n.sum())) + np.repeat(shift, n)

    def take(self, sel: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, norms) of the blocks ``sel`` (ascending block
        indices; every block when None), in doc_id order. Read-only:
        with ``sel`` None they are the cached arrays themselves."""
        todo = np.flatnonzero(self._todo) if sel is None else sel[self._todo[sel]]
        if todo.size:
            ids, tfs, dls = decode_blocks(
                self.n[todo], *(b"".join(col[todo]) for col in self._blobs)
            )
            pos = slice(None) if todo.size == self.n.size else self._positions(todo)
            self._ids[pos] = ids
            self._norm[pos] = score_norm(tfs, dls, self._avgdl)
            self._todo[todo] = False
        if sel is None or sel.size == self.n.size:
            return self._ids, self._norm
        pos = self._positions(sel)
        return self._ids[pos], self._norm[pos]


def term_blocks(blocks: pd.DataFrame, avgdl: float, terms=None) -> dict[str, TermBlocks]:
    """One shard's BLOCKS_SCHEMA rows (any row order) → {term:
    TermBlocks} in block_id order; only ``terms`` when given."""
    if not len(blocks):
        return {}
    order, uniq, bounds = term_runs(blocks)
    cols = [
        blocks[c].to_numpy()[order]
        for c in ("first_doc_id", "last_doc_id", "block_max_norm", "n",
                  "doc_ids_blob", "tfs_blob", "doc_lens_blob")
    ]
    return {
        t: TermBlocks(*(c[lo:hi] for c in cols), avgdl)
        for t, lo, hi in zip(uniq, bounds[:-1], bounds[1:])
        if terms is None or t in terms
    }


def _merge_accumulate(
    acc_ids: np.ndarray, acc_sc: np.ndarray, ids: np.ndarray, sc: np.ndarray
):
    """OR semantics over doc_id-sorted unique ``ids``: one add for docs
    already accumulated, a sorted insert for new ones."""
    if acc_ids.size == 0:
        return ids.copy(), sc
    pos = np.searchsorted(acc_ids, ids)
    miss = ~_update_existing(acc_ids, acc_sc, ids, sc, pos)
    # slots of the new docs in the merged order
    new = pos[miss] + np.arange(int(miss.sum()))
    old = np.ones(acc_ids.size + new.size, bool)
    old[new] = False
    out_ids = np.empty(old.size, np.int64)
    out_sc = np.empty(old.size, np.float64)
    out_ids[new], out_sc[new] = ids[miss], sc[miss]
    out_ids[old], out_sc[old] = acc_ids, acc_sc
    return out_ids, out_sc


def _update_existing(
    acc_ids: np.ndarray, acc_sc: np.ndarray, ids: np.ndarray, sc: np.ndarray,
    pos: np.ndarray | None = None,
) -> np.ndarray:
    """Add sc only for ids already present in acc (AND semantics, in
    place; ``ids`` unique) → the hit mask."""
    if pos is None:
        pos = np.searchsorted(acc_ids, ids)
    pos_c = np.minimum(pos, acc_ids.size - 1)
    hit = acc_ids[pos_c] == ids
    acc_sc[pos_c[hit]] += sc[hit]
    return hit


def _theta(acc_sc: np.ndarray, k: int) -> float:
    if acc_sc.size < k:
        return -np.inf
    return float(np.partition(acc_sc, acc_sc.size - k)[acc_sc.size - k])


def _cursor_masks(
    acc_sc: np.ndarray,
    acc_ids: np.ndarray,
    rem: float,
    s_a: float,
    d_a: int,
    eps: float,
) -> tuple[np.ndarray, np.ndarray]:
    """(guaranteed_accepted, guaranteed_rejected) masks vs a searchAfter
    cursor whose sort key is (rounded score DESC, doc_id ASC).

    TAAT cannot know a doc's final score mid-stream, so both masks are
    one-sided certainties derived from monotonicity (partials only
    grow; ``rem`` bounds everything a doc can still gain):

    - rejected-for-sure: the PARTIAL's rounded key already sorts at or
      before the cursor — final ≥ partial, so the final key can only
      sort earlier still. With rounding granularity 2·eps, "rounds
      above s_a" is certain when partial > s_a + eps, and "rounds to
      s_a or above" when partial > s_a − eps (doc_id ≤ d_a then loses
      the asc tiebreak either way).
    - accepted-for-sure: even partial + rem rounds strictly below s_a
      (< s_a − eps), or rounds to ≤ s_a (< s_a + eps) with the doc_id
      tiebreak won (doc_id > d_a).

    Docs within eps of the boundary are neither — kept, never counted
    toward θ; the exact rounded-key filter downstream decides them."""
    if eps > 0.0:
        rejected = (acc_sc > s_a + eps) | ((acc_sc > s_a - eps) & (acc_ids <= d_a))
        u = acc_sc + rem
        accepted = (u < s_a - eps) | ((u < s_a + eps) & (acc_ids > d_a))
    else:
        rejected = (acc_sc > s_a) | ((acc_sc >= s_a) & (acc_ids <= d_a))
        u = acc_sc + rem
        accepted = (u < s_a) | ((u <= s_a) & (acc_ids > d_a))
    return accepted, rejected


def topk_shard(
    blocks: pd.DataFrame,
    weights: dict[str, float],
    avgdl: float,
    k: int,
    *,
    prune: bool = True,
    eps: float = 0.0,
    drop_ids: np.ndarray | None = None,
    keep_ids: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    bound_scale: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one shard's blocks for one query → (doc_ids, scores) of the
    shard-local top-k (unsorted): topk_terms over the TermBlocks of
    ``blocks`` (BLOCKS_SCHEMA columns; terms outside ``weights`` are
    ignored) built at ``avgdl``."""
    return topk_terms(
        term_blocks(blocks, avgdl, weights), weights, k, prune=prune, eps=eps,
        drop_ids=drop_ids, keep_ids=keep_ids, after=after,
        bound_scale=bound_scale,
    )


def topk_terms(
    postings: dict[str, TermBlocks],
    weights: dict[str, float],
    k: int,
    *,
    prune: bool = True,
    eps: float = 0.0,
    drop_ids: np.ndarray | None = None,
    keep_ids: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    bound_scale: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one query (term → weight) over one shard's ``postings`` →
    (doc_ids, scores) of the shard-local top-k (unsorted). Terms of
    ``weights`` absent from ``postings`` contribute nothing.

    ``eps`` relaxes every θ-based drop to ``θ - eps``: the pruning is
    then rank-safe with respect to a sort key that rounds scores to a
    granularity of ``2·eps`` (serving passes eps = 0.5·10⁻ʳ when
    ``round_scores=r``). Without it, a doc whose unrounded score sits
    within eps below the k-th could be pruned here yet round to the SAME
    sort key as the k-th and win the doc_id-asc tiebreak downstream.

    ``drop_ids`` (a SORTED int64 array — index tombstones) removes docs
    in the OR phase, BEFORE they can enter the accumulator; every later
    θ drop then remains rank-safe over live docs only, and the AND
    phase needs no mask (it only updates docs already accumulated).

    ``keep_ids`` (a SORTED int64 array — this shard's metadata-filter
    survivors) inverts that mask: only listed docs may enter the
    accumulator, which makes θ a floor over FILTERED docs and lets
    block-max pruning engage under a filter (filtered_topk). Blocks
    whose [first_doc_id, last_doc_id] range contains no kept doc are
    skipped without decoding. Scores stay full-corpus (Lucene FILTER
    semantics — the filter gates emission, never rescores).

    ``after`` = (cursor_score, cursor_doc_id) turns the kernel into a
    Lucene ``searchAfter`` collector: only docs whose FINAL rounded sort
    key sorts strictly after the cursor may fill the page, and the heap
    stays size k (the whole point vs from+size, whose heap is
    offset+k). Because TAAT never knows a final score mid-stream, θ is
    derived from GUARANTEED-accepted docs only (partial + remaining
    upper bound already sorts after the cursor — their finals are both
    accepted and ≥ their partials, so θ is a true floor of the page's
    k-th final), and guaranteed-REJECTED docs (partial alone already
    sorts at/before the cursor; partials only grow) are evicted so they
    can never crowd the final cut. Boundary docs within eps stay until
    the exact rounded-key filter downstream. ``cursor_score`` must be
    in the SAME space the caller sorts on (the rounded score when
    ``round_scores`` is set — eps is the matching half-step).

    ``bound_scale`` multiplies every stored block-max bound. The stored
    ``block_max_norm`` is an upper bound of score_norm only at the
    avgdl the index was BUILT with; when the caller scores with a
    different (e.g. federated-global) avgdl_g, the norm ratio
    norm(avgdl_g)/norm(avgdl_b) is bounded above by
    max(1, avgdl_g/avgdl_b) (the ratio is monotone in dl and tends to
    avgdl_g/avgdl_b as dl→∞), so passing that factor keeps every
    θ-comparison rank-safe. Scores themselves are always computed
    exactly from the decoded (tf, dl) at the postings' avgdl — the
    scale only loosens pruning, never changes a result."""
    empty = np.empty(0, np.int64), np.empty(0, np.float64)
    if keep_ids is not None and keep_ids.size == 0:
        return empty
    # shard-independent order (module docstring, step 1)
    terms = sorted((t for t in weights if t in postings), key=lambda t: (-weights[t], t))
    if not terms:
        return empty
    ubs = np.array([weights[t] * bound_scale * postings[t].max_norm for t in terms])
    remaining_after = np.concatenate([np.cumsum(ubs[::-1])[::-1][1:], [0.0]])

    acc_ids, acc_sc = empty

    def _acc_theta(rem: float, evict: bool) -> float:
        """θ over docs allowed to witness the top-k floor. Plain top-k:
        every accumulator doc. searchAfter: guaranteed-accepted docs
        only. ``evict`` additionally drops guaranteed-rejected docs —
        legal ONLY where no later term can re-merge them as "new" with
        a dangling partial (the AND phase, which only updates existing
        docs and is absorbing, and the final cut); during the OR phase
        rejected docs must stay so their accumulation stays complete."""
        nonlocal acc_ids, acc_sc
        if after is None:
            return _theta(acc_sc, k) - eps
        if acc_ids.size == 0:
            return -np.inf
        accepted, rejected = _cursor_masks(
            acc_sc, acc_ids, rem, after[0], after[1], eps
        )
        if evict and rejected.any():
            live = ~rejected
            acc_ids, acc_sc = acc_ids[live], acc_sc[live]
            accepted = accepted[live]
        return _theta(acc_sc[accepted], k) - eps

    for i, t in enumerate(terms):
        w = weights[t]
        tb = postings[t]
        theta = _acc_theta(ubs[i] + remaining_after[i], evict=False)
        and_phase = prune and np.isfinite(theta) and (ubs[i] + remaining_after[i]) < theta

        if not and_phase:
            # OR phase: every block of t (under a filter, only blocks
            # whose range holds a kept doc), merge-accumulated
            if keep_ids is not None:
                lo = np.searchsorted(keep_ids, tb.first, "left")
                hi = np.searchsorted(keep_ids, tb.last, "right")
                sel = np.flatnonzero(lo < hi)
                if not sel.size:
                    continue
                ids, norm = tb.take(sel)
                m = isin_sorted(ids, keep_ids)
                ids, norm = ids[m], norm[m]
            else:
                ids, norm = tb.take()
            if drop_ids is not None and drop_ids.size:
                live = ~isin_sorted(ids, drop_ids)
                ids, norm = ids[live], norm[live]
            if ids.size:
                acc_ids, acc_sc = _merge_accumulate(acc_ids, acc_sc, ids, w * norm)
        else:
            if acc_ids.size == 0:
                break
            acc_max = float(acc_sc.max())
            # decode only blocks whose range holds an accumulator doc
            # and whose bound lets its best candidate still profit
            lo = np.searchsorted(acc_ids, tb.first, side="left")
            hi = np.searchsorted(acc_ids, tb.last, side="right")
            block_ub = w * bound_scale * tb.bmax
            sel = np.flatnonzero((lo < hi) & ~(acc_max + block_ub + remaining_after[i] < theta))
            if sel.size:
                ids, norm = tb.take(sel)
                _update_existing(acc_ids, acc_sc, ids, w * norm)
            # prune accumulator docs that can no longer reach top-k
            theta = _acc_theta(remaining_after[i], evict=True)
            if np.isfinite(theta):
                keep = acc_sc + remaining_after[i] >= theta
                acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]

    if after is not None and acc_ids.size:
        # final scores are known (rem=0): evict everything that sorts
        # at/before the cursor so it cannot crowd accepted docs out of
        # the size-k cut below; boundary docs (within eps) survive for
        # the exact rounded-key filter downstream
        _, rejected = _cursor_masks(acc_sc, acc_ids, 0.0, after[0], after[1], eps)
        live = ~rejected
        acc_ids, acc_sc = acc_ids[live], acc_sc[live]

    if acc_ids.size > k:
        idx = np.argpartition(acc_sc, acc_sc.size - k)[acc_sc.size - k :]
        # θ-ties at the boundary: keep everything ≥ the k-th score
        # (minus eps, the rounding half-step) so the global merge
        # (rounded score desc, doc_id asc) can break ties exactly
        kth = acc_sc[idx].min()
        keep = acc_sc >= kth - eps
        acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]
    return acc_ids, acc_sc
