"""Answer checks.  Pure Python so the benchmark's own tests can run
them without Spark."""

from __future__ import annotations

SCORE_TOL = 1e-6


def hits_of(rows) -> list[tuple[int, int, float]]:
    """``(doc_id, rank, score)`` triples in rank order, from Spark rows
    or response dicts."""
    return sorted(((int(r["doc_id"]), int(r["rank"]), float(r["score"]))
                   for r in rows), key=lambda h: h[1])


def same_ranking(expected: list[tuple[int, int, float]],
                 got: list[tuple[int, int, float]]) -> bool:
    """True when ``got`` ranks the same documents in the same order with
    scores equal to 6 decimals.

    Two plans may sum a document's per-term contributions in different
    orders, so equal scores can differ in the last float bits and swap
    rank.  Both lists are therefore compared in a canonical order (score
    to 9 decimals, then doc_id); documents tied with the k-th score may
    also differ in which of them made the top-k cut."""
    if len(expected) != len(got):
        return False
    if [h[1] for h in got] != list(range(1, len(got) + 1)):
        return False
    if any(abs(e[2] - g[2]) > SCORE_TOL for e, g in zip(expected, got)):
        return False
    cut = round(expected[-1][2], 9) if expected else None
    for (de, _, se), (dg, _, sg) in zip(_canonical(expected),
                                        _canonical(got)):
        if de != dg and not (round(se, 9) == cut == round(sg, 9)):
            return False
    return True


def _canonical(hits):
    return sorted(hits, key=lambda h: (-round(h[2], 9), h[0]))
