"""Correctness gate: every timed engine result against oracle/bm25_ref.py.

An operation passes when its top-k is rank-identical to the oracle's
(same doc_ids in the same order) and every score is within 1e-6, the
repo's 6 dp score discipline (tests/test_bm25_oracle.py). An operation
that raised, or returned anything else, counts as failed.
"""

from __future__ import annotations

import sys
import traceback

from engine.ids import doc_id_py
from oracle.bm25_ref import OracleIndex

SCORE_TOL = 1e-6


def docs_by_id(corpus) -> dict[int, str]:
    """{engine doc_id: content}, the id computed independently of Spark."""
    return {
        doc_id_py(r, p, c): t
        for r, p, c, t in zip(corpus["repo"], corpus["path"], corpus["commit"], corpus["content"])
    }


def meta_by_id(corpus) -> dict[int, tuple[str, str]]:
    return {
        doc_id_py(r, p, c): (r, p)
        for r, p, c in zip(corpus["repo"], corpus["path"], corpus["commit"])
    }


class Oracle:
    """Reference top-k for one index state.

    ``hidden`` holds tombstoned doc_ids: between a delete and a compaction
    the engine scores with the pre-delete statistics and never emits a
    deleted doc (engine/compact.py), so the reference ranks the pre-delete
    index and drops those ids before the cut."""

    def __init__(self, index: OracleIndex, hidden=frozenset()) -> None:
        self.index = index
        self.hidden = frozenset(hidden)
        self._memo: dict[tuple[str, int], list[tuple[int, float]]] = {}

    @classmethod
    def over(cls, docs: dict[int, str]) -> "Oracle":
        return cls(OracleIndex(docs))

    def hiding(self, ids) -> "Oracle":
        return Oracle(self.index, self.hidden | set(ids))

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        key = (query, k)
        if key not in self._memo:
            if self.hidden:
                ranked = self.index.bm25_topk(query, len(self.index.doc_len))
                ranked = [(d, s) for d, s in ranked if d not in self.hidden][:k]
            else:
                ranked = self.index.bm25_topk(query, k)
            self._memo[key] = ranked
        return self._memo[key]


def mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when ``got`` is rank-identical to ``want`` within SCORE_TOL."""
    got_ids = [d for d, _ in got]
    want_ids = [d for d, _ in want]
    if got_ids != want_ids:
        return f"doc_ids {got_ids} != {want_ids}"
    for rank, ((_, a), (_, b)) in enumerate(zip(got, want), start=1):
        if abs(a - b) > SCORE_TOL:
            return f"score at rank {rank}: {a!r} != {b!r}"
    return None


class Tally:
    """Operations attempted and failed over one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def call(self, label: str, fn):
        """Run one engine operation; a raise counts as attempted + failed
        and returns None (the traceback goes to stderr)."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — the run must go on and report it
            self.attempted += 1
            self.failed += 1
            print(f"FAIL {label}: raised", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def record(self, label: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            print(f"FAIL {label}: {problem}", file=sys.stderr)

    def verdict(self) -> str:
        ratio = self.failed / self.attempted if self.attempted else 0.0
        state = "PASS" if self.failed == 0 else "FAIL"
        return (
            f"correctness: {state} — {self.failed} of {self.attempted} operations "
            f"failed (op_fail_ratio {ratio:.6f} ratio)"
        )
