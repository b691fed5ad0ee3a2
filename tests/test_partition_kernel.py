"""Partition-driver parity: the mapInPandas kernels (doc mode and page
mode, E1 and dual-source frames) run directly on pandas frames, no
Spark, against the independent oracle port on random multi-doc,
multi-page geometry with shuffled rows.  tests/test_property.py covers
one document through the per-page entry point; this file covers what
the drivers add on top: sorting, page segmentation, page-aligned kernel
windows, the vectorized merge pre-test over many pages at once, and
doc-wide / page-local ordering."""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from latyas_spark.core.document import DEFAULT_CONFIG, ExtractConfig, extract_page
from latyas_spark.fixtures import doc_rows as fixture_rows
from latyas_spark.oracle.ref_port import (
    extract_document_dual_oracle,
    extract_document_oracle,
    extract_page_dual_oracle,
    extract_page_oracle,
)
from latyas_spark.pipeline import extract as EX
from latyas_spark.pipeline.presets import get_preset

LABELS = [
    "text", "Text", "TITLE", "figure", "figure_caption", "table_caption",
    "table", "header", "footer", "reference", "equation", "embedeq",
    "icon", "qrcode", "toc", "list", "unknownlabel", "textwithequation",
]

CONFIGS = [
    DEFAULT_CONFIG,
    get_preset("report").config,  # ruled_kinds: title/text/caption only
    ExtractConfig(ruled_kinds=get_preset("book").config.ruled_kinds, cjk_filters=True),
    ExtractConfig(cjk_filters=True),
    ExtractConfig(keep_media=False),
    # the oracle's keep_large/keep_small branch restates core/overlap.py
    # (unchecked against the reference), so these two configs check the
    # segmented drivers against the per-page sweep, not the reference
    ExtractConfig(merge_strategy="keep_large"),
    ExtractConfig(merge_strategy="keep_small"),
]

coord = st.integers(min_value=0, max_value=600)
# negative extents make inverted rects, zero makes zero-area ones
extent = st.integers(min_value=-40, max_value=300)
texts = st.text(alphabet="ab c\nd(3)图表见", max_size=10)


@st.composite
def page_rows(draw, page):
    """One page: free boxes, boxes nested in an earlier box (embedded
    equations, containment) and jittered duplicates (merge cascades);
    some pages fall wholly under the confidence cut or have no text."""
    all_low = draw(st.integers(0, 5)) == 0
    no_text = draw(st.integers(0, 5)) == 0
    rows = []
    for _ in range(draw(st.integers(min_value=0, max_value=10))):
        mode = draw(st.sampled_from(["free", "nested", "dup"])) if rows else "free"
        if mode == "free":
            x1, y1 = draw(coord), draw(coord)
            x2, y2 = x1 + draw(extent), y1 + draw(extent)
        else:
            p = rows[draw(st.integers(0, len(rows) - 1))]
            if mode == "nested":
                x1 = p["x1"] + draw(st.integers(-25, 60))
                y1 = p["y1"] + draw(st.integers(-25, 60))
                x2 = x1 + draw(st.integers(0, 80))
                y2 = y1 + draw(st.integers(0, 40))
            else:
                dx, dy = draw(st.integers(-8, 8)), draw(st.integers(-8, 8))
                x1, y1, x2, y2 = p["x1"] + dx, p["y1"] + dy, p["x2"] + dx, p["y2"] + dy
        has_text = not no_text and draw(st.booleans())
        rows.append({
            "page": page,
            "x1": float(x1), "y1": float(y1), "x2": float(x2), "y2": float(y2),
            "conf": draw(st.floats(0.0, 0.3 if all_low else 1.0)),
            "label": draw(st.sampled_from(LABELS)),
            "text": draw(texts) if has_text else None,
        })
    return rows


@st.composite
def doc_rows(draw, doc_id):
    rows = [r for p in range(draw(st.integers(1, 3))) for r in draw(page_rows(p))]
    offsets = draw(st.permutations(range(len(rows))))
    for r, off in zip(rows, offsets):
        r["doc_id"] = doc_id
        r["offset"] = off
        r["media_ref"] = None if r["text"] is not None else f"media://{doc_id}/{off}"
    return rows


@st.composite
def corpora(draw):
    return [draw(doc_rows(f"d{i}")) for i in range(draw(st.integers(1, 4)))]


@st.composite
def dual_corpora(draw):
    """``corpora`` with the dual-source columns: an OCR output that is
    missing, the native text, a near copy or unrelated, and a text-layer
    rect that is the row's C7 image (pdf2txt.py:71) plus jitter.  Half
    the rows get a label the dual DAG arbitrates (pdf2txt.py:68)."""
    docs = draw(corpora())
    rs, H = DEFAULT_CONFIG.render_scale, DEFAULT_CONFIG.page_height
    jitter = st.integers(-6, 6)
    for r in (r for doc in docs for r in doc):
        if draw(st.booleans()):
            r["label"] = draw(st.sampled_from(["text", "Title", "caption"]))
        native = r["text"] or ""
        r["ocr_text"] = draw(st.sampled_from(
            [None, r["text"], native[:-1] + "x", draw(texts)]
        ))
        r["lx1"] = r["x1"] / rs + draw(jitter)
        r["ly1"] = H - r["y2"] / rs + draw(jitter)
        r["lx2"] = r["x2"] / rs + draw(jitter)
        r["ly2"] = H - r["y1"] / rs + draw(jitter)
    return docs


def _frame(rows, cols, perm):
    frame = pd.DataFrame(rows, columns=cols)
    return frame.iloc[list(perm)].reset_index(drop=True)


def _batches(frame, cut):
    """The partition as two Arrow-sized batches, split anywhere."""
    cut = min(cut, len(frame))
    return [frame.iloc[:cut], frame.iloc[cut:]]


def _run(kernel, batches, window):
    saved = EX.KERNEL_WINDOW_ROWS
    EX.KERNEL_WINDOW_ROWS = window
    try:
        outs = list(kernel(iter(batches)))
    finally:
        EX.KERNEL_WINDOW_ROWS = saved
    if not outs:
        return None
    assert len(outs) == 1
    return outs[0]


def _doc_spans(out, doc_id):
    if out is None:
        return []
    sub = out[out["doc_id"] == doc_id]
    return [
        (r.kind, r.text, r.media_ref, r.order)
        for r in sub.itertuples(index=False)
    ]


def _page_spans(out, doc_id, page):
    if out is None:
        return []
    sub = out[(out["doc_id"] == doc_id) & (out["page"] == page)]
    assert list(sub["page_pos"]) == list(range(len(sub)))
    return [(r.kind, r.text, r.media_ref) for r in sub.itertuples(index=False)]


def _assert_drivers_equal_oracle(docs, cols, cfg, rnd, cut, window, doc_oracle,
                                 page_oracle):
    rows = [r for doc in docs for r in doc]
    perm = list(range(len(rows)))
    rnd.shuffle(perm)
    batches = _batches(_frame(rows, cols, perm), cut)

    doc_out = _run(EX._doc_mode_kernel(cfg), batches, window)
    page_out = _run(EX._page_mode_kernel(cfg), batches, window)
    for doc in docs:
        doc_id = doc[0]["doc_id"] if doc else None
        if doc_id is None:
            continue
        assert _doc_spans(doc_out, doc_id) == doc_oracle(doc, cfg)
        for page in sorted({r["page"] for r in doc}):
            want = page_oracle(
                sorted((r for r in doc if r["page"] == page), key=lambda r: r["offset"]),
                cfg,
            )
            assert _page_spans(page_out, doc_id, page) == want
    if doc_out is not None:
        # nothing emitted for docs the corpus does not hold, order dense
        assert set(doc_out["doc_id"]) <= {d[0]["doc_id"] for d in docs if d}
        for _, sub in doc_out.groupby("doc_id"):
            assert list(sub["order"]) == list(range(len(sub)))


@settings(max_examples=200, deadline=None)
@given(
    corpora(),
    st.sampled_from(CONFIGS),
    st.randoms(use_true_random=False),
    st.integers(0, 40),
    st.sampled_from([1, 5, 16, 8192]),
)
def test_partition_drivers_equal_oracle(docs, cfg, rnd, cut, window):
    _assert_drivers_equal_oracle(
        docs, EX.KERNEL_COLS, cfg, rnd, cut, window,
        extract_document_oracle, extract_page_oracle,
    )


# The dual DAG takes only the detect and arbitration parameters from the
# config (the oracle's sweep is the default "merge" strategy).
DUAL_CONFIGS = [c for c in CONFIGS if c.merge_strategy == "merge"] + [
    ExtractConfig(arbitrate_threshold=0.6),
]


@settings(max_examples=200, deadline=None)
@given(
    dual_corpora(),
    st.sampled_from(DUAL_CONFIGS),
    st.randoms(use_true_random=False),
    st.integers(0, 40),
    st.sampled_from([1, 5, 16, 8192]),
)
def test_dual_partition_drivers_equal_oracle(docs, cfg, rnd, cut, window):
    _assert_drivers_equal_oracle(
        docs, EX.KERNEL_COLS + EX.DUAL_EXTRA_COLS, cfg, rnd, cut, window,
        extract_document_dual_oracle, extract_page_dual_oracle,
    )


def _second_detector(doc, rnd):
    """Jittered re-detections of a subset of a doc's rows (detector 1):
    same (doc_id, offset) keys, so they carry the same span payload."""
    out = []
    for r in doc:
        if rnd.random() < 0.6:
            d = rnd.choice([-6.0, -2.0, 0.0, 3.0, 7.0])
            out.append(dict(r, x1=r["x1"] + d, x2=r["x2"] + d, y1=r["y1"] - d,
                            conf=rnd.random(), label=rnd.choice(LABELS), det=1))
    return out


@settings(max_examples=120, deadline=None)
@given(corpora(), st.randoms(use_true_random=False), st.integers(0, 40),
       st.sampled_from([1, 16, 8192]))
def test_multi_detector_frames_equal_per_page_kernel(docs, rnd, cut, window):
    docs = [
        [dict(r, det=0) for r in doc] + _second_detector(doc, rnd) for doc in docs
    ]
    rows = [r for doc in docs for r in doc]
    perm = list(range(len(rows)))
    rnd.shuffle(perm)
    batches = _batches(_frame(rows, EX.KERNEL_COLS + ["det"], perm), cut)

    doc_out = _run(EX._doc_mode_kernel(DEFAULT_CONFIG), batches, window)
    page_out = _run(EX._page_mode_kernel(DEFAULT_CONFIG), batches, window)
    for doc in docs:
        if not doc:
            continue
        doc_id = doc[0]["doc_id"]
        want_doc = []
        for page in sorted({r["page"] for r in doc}):
            pr = sorted((r for r in doc if r["page"] == page),
                        key=lambda r: (r["det"], r["offset"]))
            spans = extract_page(
                np.array([r["x1"] for r in pr]), np.array([r["y1"] for r in pr]),
                np.array([r["x2"] for r in pr]), np.array([r["y2"] for r in pr]),
                np.array([r["conf"] for r in pr]), [r["label"] for r in pr],
                [r["text"] for r in pr], [r["media_ref"] for r in pr],
                det=np.array([r["det"] for r in pr]),
                offsets=np.array([r["offset"] for r in pr]),
            )
            assert _page_spans(page_out, doc_id, page) == spans
            want_doc += spans
        got = _doc_spans(doc_out, doc_id)
        assert got == [s + (i,) for i, s in enumerate(want_doc)]
        assert got == extract_document_oracle(doc)


# --- bad input still fails loudly (until per-doc quarantine exists) ----


# Both drivers on E1 and dual frames: the two DAGs share one detect
# front end, so they must fail (and ignore under-cut rows) alike.
DRIVERS = [
    pytest.param(make, cols, id=make.__name__ + suffix)
    for suffix, cols in (("", EX.KERNEL_COLS),
                         ("-dual", EX.KERNEL_COLS + EX.DUAL_EXTRA_COLS))
    for make in (EX._doc_mode_kernel, EX._page_mode_kernel)
]


def _bad_frame(cols, **bad):
    rows = []
    for i in range(6):
        rows.append({
            "doc_id": "bad-doc", "page": 0, "offset": i,
            "x1": 10.0 + 40 * i, "y1": 10.0 + 60 * i,
            "x2": 200.0 + 40 * i, "y2": 50.0 + 60 * i,
            "conf": 0.9, "label": "text", "text": f"t{i}", "media_ref": None,
            "ocr_text": f"t{i}",
            "lx1": 5.0 + 20 * i, "ly1": 1075.0 - 30 * i,
            "lx2": 100.0 + 20 * i, "ly2": 1095.0 - 30 * i,
        })
    rows[3].update(bad)
    good = [dict(r, doc_id="good-doc") for r in rows]
    return pd.DataFrame(rows + good, columns=cols)


@pytest.mark.parametrize("make, cols", DRIVERS)
def test_null_label_raises(make, cols):
    """A null label must not borrow another label's kind: both drivers
    raise, as the per-row label parse always did."""
    with pytest.raises(AttributeError):
        list(make(DEFAULT_CONFIG)(iter([_bad_frame(cols, label=None)])))


@pytest.mark.parametrize("make, cols", DRIVERS)
def test_null_label_under_confidence_cut_is_ignored(make, cols):
    """Only detection candidates are classified: a null label on a row
    the confidence filter drops never reaches the label parse."""
    out = list(make(DEFAULT_CONFIG)(iter([_bad_frame(cols, label=None, conf=0.1)])))
    assert len(out) == 1 and len(out[0])


@pytest.mark.parametrize("make, cols", DRIVERS)
def test_nan_coordinate_raises(make, cols):
    """A NaN bottom edge on a detection makes the xy-cut's grid
    fallback raise (int(nan)); it must not pass silently."""
    rows = fixture_rows("doc-00000000")
    assert rows[0]["conf"] > DEFAULT_CONFIG.conf_threshold
    rows[0]["y2"] = math.nan
    frame = pd.DataFrame(rows, columns=cols)
    with pytest.raises(ValueError):
        list(make(DEFAULT_CONFIG)(iter([frame])))
