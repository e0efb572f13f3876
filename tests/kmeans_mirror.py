"""Pure-Python mirror of k-means farthest-point seeding, shared by the
k-means tests so the greedy they check against is written once."""

from __future__ import annotations


def sqdist(a: list[int], b: list[int]) -> int:
    return sum((x - y) ** 2 for x, y in zip(a, b))


def farthest_point_order(qs: list[list[int]], k: int) -> list[int]:
    """Indices into ``qs`` (points in ascending vec_id order) of the first
    ``k`` farthest-point seeds: seed 0 is ``qs[0]``; each next seed has the
    max min-squared-distance to the seeds chosen so far, ties to the lower
    index, chosen points not excluded."""
    order = [0]
    while len(order) < k:
        best = min(
            (-min(sqdist(q, qs[s]) for s in order), i) for i, q in enumerate(qs)
        )
        order.append(best[1])
    return order
