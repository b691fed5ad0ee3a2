"""XY-cut kernel tests: hand cases, fallback, oracle agreement.

Reference semantics: xy_cut_reflow.py:14-202 (see kernel docstring).
"""

import numpy as np
import pytest

from latyas_spark.core.xycut import grid_sort_indices, xy_cut_order
from latyas_spark.oracle.ref_port import ORect, reading_order


def _order(boxes, **kw):
    a = np.asarray(boxes, dtype=float)
    return xy_cut_order(a[:, 0], a[:, 1], a[:, 2], a[:, 3], **kw).tolist()


def test_two_columns_reads_left_then_right():
    # left column rows 0,1 then right column rows 2,3
    boxes = [
        (0, 0, 100, 40),     # left top
        (0, 60, 100, 100),   # left bottom
        (200, 0, 300, 40),   # right top
        (200, 60, 300, 100), # right bottom
    ]
    # margin=10 keeps the 100..200 gap cuttable
    assert _order(boxes, margin=10.0) == [0, 1, 2, 3]


def test_vertical_stack_reads_top_down():
    boxes = [(0, 200, 100, 240), (0, 0, 100, 40), (0, 100, 100, 140)]
    assert _order(boxes, margin=10.0) == [1, 2, 0]


def test_single_and_empty():
    assert _order([(0, 0, 10, 10)]) == [0]
    assert xy_cut_order(
        np.empty(0), np.empty(0), np.empty(0), np.empty(0)
    ).tolist() == []


def test_straddler_blocks_cut_forces_fallback():
    # mutually-overlapping ring: no valid cut on either axis; the whole
    # set descends via trivial all-on-one-side cuts to depth 9, then
    # grid-sorts
    s = 40.0
    boxes = [
        (0, 0, 3 * s, s),
        (2 * s, 0.5 * s, 3.5 * s, 3 * s),
        (0.5 * s, 2 * s, 3 * s, 3.5 * s),
        (-0.5 * s, 0.5 * s, s, 3 * s),
    ]
    got = _order(boxes, margin=10.0)
    arr = np.asarray(boxes)
    want = grid_sort_indices(
        arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], np.arange(4)
    ).tolist()
    assert sorted(got) == [0, 1, 2, 3]
    assert got == want


def test_grid_sort_extent_seeded_from_block_zero():
    # block 0 is far away and NOT in the subset, yet stretches the
    # extent fold (reference quirk, xy_cut_reflow.py:19)
    x1 = np.array([0.0, 500.0, 510.0])
    y1 = np.array([0.0, 100.0, 0.0])
    x2 = np.array([10.0, 505.0, 520.0])
    y2 = np.array([10.0, 110.0, 10.0])
    idx = np.array([1, 2])
    got = grid_sort_indices(x1, y1, x2, y2, idx).tolist()
    # extent w=520, sf_x=173: qx(500)=2, qx(510)=2 -> tie on qx; then
    # qy separates: block 2 (y=0) before block 1 (y=100)
    assert got == [2, 1]


def test_kernel_matches_oracle_on_random_layouts():
    rng = np.random.RandomState(7)
    for trial in range(200):
        n = rng.randint(1, 14)
        x1 = rng.randint(0, 800, n).astype(float)
        y1 = rng.randint(0, 1000, n).astype(float)
        w = rng.randint(10, 300, n).astype(float)
        h = rng.randint(10, 120, n).astype(float)
        x2, y2 = x1 + w, y1 + h
        margin = [0.0, 5.0, 10.0][trial % 3]
        hf = trial % 2 == 0
        got = xy_cut_order(x1, y1, x2, y2, margin=margin, horizontal_first=hf).tolist()
        rects = [ORect(*t) for t in zip(x1, y1, x2, y2)]
        want = reading_order(rects, margin=margin, horizontal_first=hf)
        assert got == want, f"trial {trial}"


def test_order_is_permutation():
    rng = np.random.RandomState(3)
    n = 30
    x1 = rng.randint(0, 700, n).astype(float)
    y1 = rng.randint(0, 900, n).astype(float)
    x2 = x1 + rng.randint(5, 200, n)
    y2 = y1 + rng.randint(5, 80, n)
    got = xy_cut_order(x1, y1, x2, y2)
    assert sorted(got.tolist()) == list(range(n))


def test_margin_decay_family_discriminates_decay():
    """The flagship_decay family geometry (adapter.FAMILY_SQL["decay"]):
    B upper-right / C lower-left with an 8px y-gap.  The decayed
    depth-3 margin (6.5625) cuts the pair -> B first; a constant-margin
    engine would fall to the x-major grid sort -> C first.  Pins that
    the family's cross-engine hash genuinely observes the decay
    schedule (margins 10 -> 10 -> 8.75 -> 6.5625)."""
    # one column: F full-strip band, then the B/C pair band
    x1 = [100.0, 260.0, 200.0]
    y1 = [0.0, 150.0, 198.0]
    x2 = [360.0, 360.0, 300.0]
    y2 = [60.0, 190.0, 238.0]
    got = xy_cut_order(x1, y1, x2, y2, margin=10.0).tolist()
    assert got == [0, 1, 2]  # F, then B (upper) before C: decay cut fired
    from latyas_spark.core.xycut import _grid_sort_list

    assert _grid_sort_list(x1, y1, x2, y2, [1, 2]) == [2, 1]  # mutant order
