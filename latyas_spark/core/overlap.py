"""Overlap dedup/merge sweep over a page's detected blocks.

Semantics of the reference's ``Layout.remove_overlapping``
(latyas/layout/layout.py:86-132).  The sweep is order-dependent and
mutates in place, so it cannot be fully vectorized; per page n is small
(tens), and this runs batched inside ``applyInPandas`` — never per
Spark row.  Behavioral details preserved exactly:

* pairs (i, j), j > i over the *original* index range; the removed set
  is consulted only when the outer loop enters i (layout.py:88-89), so
  a block can keep merging after being marked removed within its own
  inner sweep, and a removed j still participates;
* kinds must be equal, unless both are text-group kinds (:99-101);
* trigger: intersection area (degenerate-clamped, see geometry.py)
  exceeds ``threshold * area`` of *either* side (:103-107);
* ``merge``: remove i; j's kind becomes the max-code kind of the pair
  (ties keep j's), j's bbox becomes the union (:118-126) — j keeps its
  payload (text/media_ref), exactly as the surviving mutable Block does;
* ``keep_large`` / ``keep_small``: remove the smaller/larger side, ties
  remove i (:108-117);
* survivors keep original relative order (:130-132).
"""

from __future__ import annotations

import numpy as np

MERGE_STRATEGIES = ("merge", "keep_large", "keep_small")


def overlap_merge(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    kinds: np.ndarray,
    text_kind_mask: np.ndarray,
    area_threshold: float = 0.5,
    strategy: str = "merge",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Run the sweep; returns (survivor_indices, x1, y1, x2, y2, kinds).

    Survivor indices point into the input order; coordinate/kind arrays
    returned are the post-mutation values for the survivors.
    ``text_kind_mask`` is a bool lookup table indexed by kind code.
    """
    if strategy not in MERGE_STRATEGIES:
        raise ValueError(f"unsupported overlapping strategy: {strategy}")

    n = len(kinds)
    # plain lists: the n^2 sweep touches ~15 scalars per pair and NumPy
    # scalar indexing is ~5x a list index at page-sized n
    cx1 = [float(v) for v in x1]
    cy1 = [float(v) for v in y1]
    cx2 = [float(v) for v in x2]
    cy2 = [float(v) for v in y2]
    k = [int(v) for v in kinds]
    tmask = [bool(text_kind_mask[v]) for v in k]

    removed: set[int] = set()
    for i in range(n):
        if i in removed:
            continue
        for j in range(i + 1, n):
            if k[i] != k[j] and not (tmask[i] and tmask[j]):
                continue
            iw = min(cx2[i], cx2[j]) - max(cx1[i], cx1[j])
            ih = min(cy2[i], cy2[j]) - max(cy1[i], cy1[j])
            inter = (iw if iw > 0.0 else 0.0) * (ih if ih > 0.0 else 0.0)
            area_i = (cx2[i] - cx1[i]) * (cy2[i] - cy1[i])
            area_j = (cx2[j] - cx1[j]) * (cy2[j] - cy1[j])
            if not (inter > area_threshold * area_i or inter > area_threshold * area_j):
                continue
            if strategy == "keep_large":
                removed.add(j if area_i > area_j else i)
            elif strategy == "keep_small":
                removed.add(j if area_i < area_j else i)
            else:  # merge
                removed.add(i)
                if k[i] > k[j]:
                    k[j] = k[i]
                    tmask[j] = bool(text_kind_mask[k[j]])
                if cx1[i] < cx1[j]:
                    cx1[j] = cx1[i]
                if cy1[i] < cy1[j]:
                    cy1[j] = cy1[i]
                if cx2[i] > cx2[j]:
                    cx2[j] = cx2[i]
                if cy2[i] > cy2[j]:
                    cy2[j] = cy2[i]

    keep = np.array(
        [i for i in range(n) if i not in removed], dtype=np.int64
    )
    arr = lambda xs: np.array([xs[i] for i in keep], dtype=np.float64)  # noqa: E731
    return (
        keep,
        arr(cx1),
        arr(cy1),
        arr(cx2),
        arr(cy2),
        np.array([k[i] for i in keep], dtype=np.int64),
    )
