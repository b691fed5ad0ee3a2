"""Page extraction kernel: the full LATYAS operator DAG, segmented.

Reproduces the eight-stage physical plan of the reference's
``BasePipeline.analyze_pdf`` (latyas/pipelines/base_pipeline.py:94-192)
over span data, with every model call replaced by its deterministic
span-derived equivalent:

  detector ``detect``    -> sidecar rows (bbox, conf, raw label)
  OCR ``recognize(crop)``-> gather of native text-layer rects whose
                            intersection covers >0.5 of the smaller
                            side (the reference's own text-layer gather,
                            base_pipeline.py:17-42), newline-stripped
                            and joined with "" (:40-41)
  TexTeller equation OCR -> the equation span's own native text
  GOT-OCR2 table OCR     -> the table span's own native text
  TexMix mixed OCR       -> texmix.compose_text_with_equations

Stages (reference cites) and how ``extract_segments`` runs them over a
batch of pages addressed by page-start offsets:
  0. Rectangle constructor clamp x2 <- x1 if x1 >= x2, same for y
     (shape.py:74-77) — vectorized over every row
  1. confidence filter > 0.3 (ultralytics_layout_model.py:81) —
     vectorized over the batch
  2. label -> kind, ordered substring match (block.py:29-68) — parsed
     once per distinct label, a null label raises
  3. overlap merge, strategy "merge" (layout.py:86-132 via :112) — a
     vectorized trigger test over all within-page upper-triangle pairs
     picks the pages where the order-dependent sweep can change
     anything (~30% on the fixture corpus); only those run the sweep
  4. equation OCR (:114-125) — vectorized
  5. embedded-equation containment, margin 20 (:127-152) — vectorized
     over within-page (text block, embedeq block) pairs; texmix
     composition per has-equation block
  6. table OCR (:154-167) — vectorized
  7. text OCR for text-kind blocks without equations (:169-186) — one
     gather over every within-page (plain block, text-layer row) pair
  8. xy-cut reflow margin=10 horizontal-first (:189-190) — per page
     with at least two blocks
  9. emission filters (latyas/tools/pdf2text.py:30-39): skip blocks
     with no text, skip EmbedEq, ``$$``-wrap Equation; optional CJK
     cross-reference filters (pdf2txt.py:86-89) — column arrays built
     once per batch
``extract_page`` is the same function over one page.

``extract_segments_dual`` runs the dual-source (E2, pdf2txt.py) DAG
with the same page-start addressing.  It shares stages 0-3 (the detect
front end, ``_detect``), the gather of stage 7 and the xy-cut of stage
8 (``_reading_order``); its own steps are the C7 flip of the gather
rects, the levenshtein arbitration per block and the unconditional CJK
filter (``_cjk_xref``, E1's optional one).

Extension beyond the reference's text-only sink (north rule:
interleaved text + media): image-kind blocks are emitted as media spans
(text NULL, media_ref kept) instead of being dropped.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, NamedTuple, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from . import blocktypes as bt
from .overlap import MERGE_STRATEGIES, overlap_merge
from .texmix import compose_text_with_equations
from .textdist import relative_distance
from .xycut import xy_cut_order


@dataclass(frozen=True)
class ExtractConfig:
    conf_threshold: float = 0.3  # ultralytics_layout_model.py:81
    area_threshold: float = 0.5  # layout.py:86
    merge_strategy: str = "merge"  # base_pipeline.py:112
    containment_margin: float = 20.0  # shape.py:121
    xy_margin: float = 10.0  # xy_cut_reflow.py:190
    max_depth: int = 8  # xy_cut_reflow.py:199
    gather_ratio: float = 0.5  # base_pipeline.py:34
    cjk_filters: bool = False  # pdf2txt.py:86-89 (report variant)
    keep_media: bool = True  # extension: emit media spans
    # Preset rule gate (paper/report/book pipelines bind different
    # kind->model tables; base_pipeline.py:115-186 looks a block's kind
    # up before every OCR stage).  None = every kind ruled (paper).
    # A kind with no rule makes the reference RAISE mid-page; at corpus
    # scale we leave the block textless instead (not emitted) — the
    # documented divergence shared with ocr_route's 'unrouted' counts.
    ruled_kinds: Optional[frozenset] = None
    # Dual-source (pdf2txt.py) parameters: detection bboxes live in
    # render coords (scale x2, y down from top-left); the PDF text
    # layer lives in PDF coords (y up from bottom-left).  C7 transform:
    # x' = x/render_scale, y' = page_height - y/render_scale
    # (pdf2txt.py:56,71).
    render_scale: float = 2.0  # pdf2txt.py:56
    page_height: float = 1100.0  # page.get_size() stand-in (pdf2txt.py:54)
    arbitrate_threshold: float = 0.2  # pdf2txt.py:83


DEFAULT_CONFIG = ExtractConfig()


def _kind_ruled(cfg: ExtractConfig, kind_code: int) -> bool:
    return cfg.ruled_kinds is None or kind_code in cfg.ruled_kinds

Span = Tuple[str, Optional[str], Optional[str]]  # (kind, text, media_ref)


def gather_text(
    rect: Tuple[float, float, float, float],
    layer_rects: np.ndarray,
    layer_areas: np.ndarray,
    layer_texts: Sequence[str],
    ratio: float,
) -> str:
    """Text-layer gather: the deterministic OCR stand-in.

    Concatenates (separator "") the newline-stripped texts of every
    text-layer rect whose intersection with ``rect`` exceeds ``ratio``
    of the smaller area, in text-layer (offset) order — exactly the
    reference's get_text_by_bbox (base_pipeline.py:17-42).
    """
    if len(layer_texts) == 0:
        return ""
    x1, y1, x2, y2 = rect
    if x1 >= x2:  # Rectangle constructor clamp (shape.py:74-77)
        x2 = x1
    if y1 >= y2:
        y2 = y1
    rect_area = (x2 - x1) * (y2 - y1)
    iw = np.minimum(layer_rects[:, 2], x2) - np.maximum(layer_rects[:, 0], x1)
    ih = np.minimum(layer_rects[:, 3], y2) - np.maximum(layer_rects[:, 1], y1)
    inter = np.where(iw > 0, iw, 0.0) * np.where(ih > 0, ih, 0.0)
    denom = np.minimum(layer_areas, rect_area)
    # zero-area guard without errstate (reference would divide by zero)
    hits = np.nonzero(inter > ratio * denom)[0]
    if len(hits) and not (denom[hits] > 0).all():
        hits = hits[denom[hits] > 0]
    return "".join(layer_texts[i].replace("\n", "") for i in hits)


def _ranges(lo: np.ndarray, hi: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Flatten the index ranges ``[lo[i], hi[i])`` into ``(owner,
    index)`` pairs, owner-major and ascending within an owner: the
    within-page pair generator every segmented stage uses."""
    cnt = np.maximum(hi - lo, 0)
    owner = np.repeat(np.arange(len(cnt)), cnt)
    shift = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    return owner, np.arange(len(owner)) + shift


def gather_text_batch(
    qx1: np.ndarray,
    qy1: np.ndarray,
    qx2: np.ndarray,
    qy2: np.ndarray,
    layer_rects: np.ndarray,
    layer_areas: np.ndarray,
    layer_texts: Sequence[str],
    ratio: float,
    q_lo: Optional[np.ndarray] = None,
    q_hi: Optional[np.ndarray] = None,
) -> np.ndarray:
    """Vectorized ``gather_text`` for B query rects at once.

    Query b is tested against text-layer rows ``[q_lo[b], q_hi[b])``
    (default: the whole layer); over a page-sorted layer that is the
    query's own page, so one call gathers a whole partition from its
    within-page (query, layer) pairs.  Bit-identical to calling
    gather_text per rect (same clamp, zero-area guard, layer-order
    join).  Returns an object array of B strings."""
    B = len(qx1)
    out = np.full(B, "", dtype=object)
    if B == 0 or len(layer_texts) == 0:
        return out
    if q_lo is None:
        q_lo = np.zeros(B, dtype=np.int64)
        q_hi = np.full(B, len(layer_texts), dtype=np.int64)
    qx1 = np.asarray(qx1, dtype=np.float64)
    qy1 = np.asarray(qy1, dtype=np.float64)
    qx2 = np.where(qx1 >= qx2, qx1, qx2)  # shape.py:74-77 clamp
    qy2 = np.where(qy1 >= qy2, qy1, qy2)
    rect_area = (qx2 - qx1) * (qy2 - qy1)
    q, l = _ranges(q_lo, q_hi)
    iw = np.minimum(layer_rects[l, 2], qx2[q]) - np.maximum(layer_rects[l, 0], qx1[q])
    ih = np.minimum(layer_rects[l, 3], qy2[q]) - np.maximum(layer_rects[l, 1], qy1[q])
    inter = np.where(iw > 0, iw, 0.0) * np.where(ih > 0, ih, 0.0)
    denom = np.minimum(layer_areas[l], rect_area[q])
    hits = (inter > ratio * denom) & (denom > 0)
    q, l = q[hits], l[hits]
    if len(q):
        # pairs are query-major, layer-ascending: each query's hits are
        # one run, joined in text-layer (offset) order
        first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        clean = np.array([layer_texts[i].replace("\n", "") for i in l], dtype=object)
        out[q[first]] = np.add.reduceat(clean, first)
    return out


def _pages_to_sweep(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    kinds: np.ndarray,
    bounds: np.ndarray,
    threshold: float,
) -> np.ndarray:
    """Per page: can the J1 overlap sweep change anything?

    The sweep mutates only when a pair triggers, so if no pair of the
    ORIGINAL blocks triggers it never mutates and returns the page
    unchanged.  The test is the sweep's own trigger (kind compatibility,
    clamped intersection > threshold x either area) in the same float64
    arithmetic, over every within-page upper-triangle pair at once.
    NaN coordinates go to the sweep unconditionally: Python's min/max
    and NumPy's disagree on NaN, and the sweep's answer is the one the
    per-page kernel always gave."""
    size = np.diff(bounds)
    seg = np.repeat(np.arange(len(size)), size)
    sweep = np.zeros(len(size), dtype=bool)
    sweep[seg[np.isnan(x1) | np.isnan(y1) | np.isnan(x2) | np.isnan(y2)]] = True
    rows = np.flatnonzero(~sweep[seg] & (size[seg] >= 2))
    i, j = _ranges(rows + 1, bounds[seg[rows] + 1])
    i = rows[i]
    tmask = bt.TEXT_KIND_LOOKUP[kinds]
    same = (kinds[i] == kinds[j]) | (tmask[i] & tmask[j])
    i, j = i[same], j[same]
    iw = np.minimum(x2[i], x2[j]) - np.maximum(x1[i], x1[j])
    ih = np.minimum(y2[i], y2[j]) - np.maximum(y1[i], y1[j])
    inter = np.where(iw > 0, iw, 0.0) * np.where(ih > 0, ih, 0.0)
    area = (x2 - x1) * (y2 - y1)
    hit = (inter > threshold * area[i]) | (inter > threshold * area[j])
    sweep[seg[i[hit]]] = True
    return sweep


_KIND_NAME_ARR = np.array(
    [bt.KIND_NAMES[k] for k in range(len(bt.KIND_NAMES))], dtype=object
)


class SegmentSpans(NamedTuple):
    """Emitted spans of a segmented call, page-major and in reading
    order within a page: ``page`` is the page-segment index of each
    span, the other fields its (kind, text, media_ref) columns."""

    page: np.ndarray
    kind: np.ndarray
    text: np.ndarray
    media_ref: np.ndarray


def _page_index(starts: Sequence[int], n: int) -> Tuple[np.ndarray, np.ndarray]:
    """Page-start addressing: the page-segment index of each of ``n``
    rows, and the page ids 0..S that ``searchsorted`` turns into the
    bounds of any page-sorted subset."""
    bounds = np.append(np.asarray(starts, dtype=np.int64), n)
    pages = np.arange(len(bounds))
    return np.repeat(pages[:-1], np.diff(bounds)), pages


def _clamped(x1, y1, x2, y2) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """float64 rect columns under the Rectangle constructor clamp
    x2 <- x1 if x1 >= x2, same for y (shape.py:74-77)."""
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    x2 = np.where(x1 >= x2, x1, np.asarray(x2, dtype=np.float64))
    y2 = np.where(y1 >= y2, y1, np.asarray(y2, dtype=np.float64))
    return x1, y1, x2, y2


def _text_layer(x1, y1, x2, y2, texts, in_layer, row_page, pages):
    """The native text layer of a batch: source row, rect, area and
    text of every ``in_layer`` row, and per-page bounds (page ``p`` is
    layer rows ``[bounds[p], bounds[p+1])``)."""
    idx = np.flatnonzero(in_layer)
    rects = np.stack([x1[idx], y1[idx], x2[idx], y2[idx]], axis=1)
    areas = (rects[:, 2] - rects[:, 0]) * (rects[:, 3] - rects[:, 1])
    return idx, rects, areas, texts[idx], np.searchsorted(row_page[idx], pages)


class _Blocks(NamedTuple):
    """Detected blocks after the J1 merge, page-sorted: source row (the
    payload carrier), merged rect and kind of each survivor; page ``p``
    is blocks ``[bounds[p], bounds[p+1])``."""

    src: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    kind: np.ndarray
    page: np.ndarray
    bounds: np.ndarray


def _detect(x1, y1, x2, y2, conf, labels, row_page, pages, cfg) -> _Blocks:
    """The detect front end both DAGs share (model.detect,
    ultralytics_layout_model.py:81-87): confidence filter, label ->
    kind and the J1 overlap merge, over clamped rects."""
    if cfg.merge_strategy not in MERGE_STRATEGIES:
        raise ValueError(f"unsupported overlapping strategy: {cfg.merge_strategy}")
    labels = np.asarray(labels, dtype=object)

    # stage 1-2: confidence filter + label classification, the ordered
    # substring parse run once per distinct label
    cand = np.flatnonzero(np.asarray(conf, dtype=np.float64) > cfg.conf_threshold)
    codes, uniq = pd.factorize(labels[cand])
    if (codes < 0).any():
        # a null label has no kind; fail as the label parser always has
        # rather than let code -1 pick another label's kind
        raise AttributeError(
            f"null label on detection row {int(cand[np.argmax(codes < 0)])}"
        )
    kinds = bt.kinds_from_labels(uniq)[codes]

    # stage 3: overlap merge, swept only on pages where a pair triggers
    cx1, cy1, cx2, cy2 = x1[cand], y1[cand], x2[cand], y2[cand]
    cand_bounds = np.searchsorted(row_page[cand], pages)
    sweep = np.flatnonzero(_pages_to_sweep(
        cx1, cy1, cx2, cy2, kinds, cand_bounds, cfg.area_threshold
    ))
    bx1, by1, bx2, by2, bk = cx1, cy1, cx2, cy2, kinds
    if len(sweep):
        keep = np.ones(len(cand), dtype=bool)
        bx1, by1, bx2, by2, bk = (a.copy() for a in (cx1, cy1, cx2, cy2, kinds))
        for p in sweep:
            a, b = cand_bounds[p], cand_bounds[p + 1]
            k, mx1, my1, mx2, my2, mk = overlap_merge(
                cx1[a:b], cy1[a:b], cx2[a:b], cy2[a:b],
                kinds[a:b], bt.TEXT_KIND_LOOKUP,
                area_threshold=cfg.area_threshold,
                strategy=cfg.merge_strategy,
            )
            keep[a:b] = False
            k = k + a
            keep[k] = True
            bx1[k], by1[k], bx2[k], by2[k], bk[k] = mx1, my1, mx2, my2, mk
        cand = cand[keep]
        bx1, by1, bx2, by2, bk = bx1[keep], by1[keep], bx2[keep], by2[keep], bk[keep]
    bpage = row_page[cand]
    return _Blocks(cand, bx1, by1, bx2, by2, bk, bpage, np.searchsorted(bpage, pages))


def _reading_order(blocks: _Blocks, cfg: ExtractConfig) -> np.ndarray:
    """xy-cut reflow (margin, horizontal-first), per page with at least
    two blocks: the block indices in page-major reading order.  Plain
    lists, since xy_cut_order converts its inputs to lists anyway."""
    order = np.arange(len(blocks.src))
    bounds = blocks.bounds
    lx1, ly1 = blocks.x1.tolist(), blocks.y1.tolist()
    lx2, ly2 = blocks.x2.tolist(), blocks.y2.tolist()
    for p in np.flatnonzero(np.diff(bounds) >= 2):
        a, b = bounds[p], bounds[p + 1]
        order[a:b] = a + xy_cut_order(
            lx1[a:b], ly1[a:b], lx2[a:b], ly2[a:b], margin=cfg.xy_margin,
            horizontal_first=True, max_depth=cfg.max_depth,
        )
    return order


def _cjk_xref(text: str) -> bool:
    """CJK cross-reference snippet (pdf2txt.py:86-92): starts with
    图/表, or is short and says 见表/见图."""
    return text.startswith(("图", "表")) or (
        len(text) < 256 and ("见表" in text or "见图" in text)
    )


def extract_segments(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    conf: np.ndarray,
    labels: Sequence[str],
    texts: Sequence[Optional[str]],
    media_refs: Sequence[Optional[str]],
    starts: Sequence[int],
    cfg: ExtractConfig = DEFAULT_CONFIG,
    det: Optional[np.ndarray] = None,
    offsets: Optional[np.ndarray] = None,
) -> SegmentSpans:
    """Run the full page DAG over many pages at once.

    Rows are page-contiguous; page ``s`` is rows ``[starts[s],
    starts[s+1])`` (the last page ends at the last row), each page in
    span-offset order.  Every stage that does not depend on a page's
    sweep order runs once over the whole batch, on within-page pairs
    generated from the page offsets; only the J1 sweep (on pages where
    some pair can trigger it), texmix composition (per has-equation
    block) and xy-cut (per page with >= 2 blocks) stay per page.

    Row semantics as in ``extract_page``: each row is both a detection
    candidate and a text-layer rect; ``det`` restricts the text layer
    to detector 0; ``offsets`` keys the texmix equation-line exclusion
    (the row index when absent).
    """
    # every row is a Rectangle in the reference, detection and text
    # layer alike
    x1, y1, x2, y2 = _clamped(x1, y1, x2, y2)
    texts = np.asarray(texts, dtype=object)
    media_refs = np.asarray(media_refs, dtype=object)
    row_page, pages = _page_index(starts, len(x1))
    key = np.arange(len(x1)) if offsets is None else np.asarray(offsets)

    # text layer: every row with native text, regardless of confidence
    in_layer = texts != None  # noqa: E711 (elementwise on object arrays)
    if det is not None:
        in_layer &= np.asarray(det) == 0
    layer_idx, layer_rects, layer_areas, layer_texts, layer_bounds = _text_layer(
        x1, y1, x2, y2, texts, in_layer, row_page, pages
    )

    blocks = _detect(x1, y1, x2, y2, conf, labels, row_page, pages, cfg)
    src, bx1, by1, bx2, by2, bk, bpage, _ = blocks
    m = len(src)
    block_text = np.full(m, None, dtype=object)
    has_eq = np.zeros(m, dtype=bool)

    # stage 4: equation OCR (own span text); rule-gated per preset
    # (base_pipeline.py:120-125 — reference raises without a rule)
    if _kind_ruled(cfg, bt.EQUATION):
        eq = bk == bt.EQUATION
        block_text[eq] = texts[src[eq]]

    # stage 5: embedded-equation containment over within-page
    # (text block, embedeq block) pairs -> texmix compose per block
    text_mask = bt.text_kind_mask(bk)
    embed = np.flatnonzero(bk == bt.EMBED_EQ)
    if len(embed):
        eb = np.searchsorted(bpage[embed], pages)
        tb = np.flatnonzero(text_mask)
        t, e = _ranges(eb[bpage[tb]], eb[bpage[tb] + 1])
        t, e = tb[t], embed[e]
        mg = cfg.containment_margin
        inside = (
            (bx1[e] >= bx1[t] - mg)
            & (by1[e] >= by1[t] - mg)
            & (bx2[e] <= bx2[t] + mg)
            & (by2[e] <= by2[t] + mg)
        )
        t, e = t[inside], e[inside]
        has_eq[t] = True
        # rule gate: TextWithEquation route (base_pipeline.py:146-151);
        # _has_equation is still set first, exactly as the reference
        # does before its rule lookup, so stage 7 skips the block
        if len(t) and _kind_ruled(cfg, bt.TEXT_WITH_EQUATION):
            first = np.flatnonzero(np.r_[True, t[1:] != t[:-1]])
            for b, eqs in zip(t[first], np.split(e, first[1:])):
                la, lb = layer_bounds[bpage[b]], layer_bounds[bpage[b] + 1]
                block_text[b] = _texmix_block(
                    b, eqs, bx1, by1, bx2, by2, texts[src[eqs]], key[src[eqs]],
                    layer_rects[la:lb], layer_areas[la:lb], layer_texts[la:lb],
                    key[layer_idx[la:lb]], cfg.gather_ratio,
                )

    # stage 6: table OCR (own span text); rule-gated per preset
    if _kind_ruled(cfg, bt.TABLE):
        tab = bk == bt.TABLE
        block_text[tab] = texts[src[tab]]

    # stage 7: text OCR via gather — every plain text block of the
    # batch against its own page's text layer in one call; rule gate is
    # PER KIND (base_pipeline.py:180-184 looks up block.kind: report/
    # book rule only title/text/caption, so header/footer/reference
    # stay textless)
    ruled = text_mask & ~has_eq
    if cfg.ruled_kinds is not None:
        ruled &= np.isin(bk, list(cfg.ruled_kinds))
    plain = np.flatnonzero(ruled)
    gathered = gather_text_batch(
        bx1[plain], by1[plain], bx2[plain], by2[plain],
        layer_rects, layer_areas, layer_texts, cfg.gather_ratio,
        q_lo=layer_bounds[bpage[plain]], q_hi=layer_bounds[bpage[plain] + 1],
    )
    if cfg.cjk_filters:
        kept = np.array([not _cjk_xref(t) for t in gathered], dtype=bool)
        plain, gathered = plain[kept], gathered[kept]
    block_text[plain] = gathered

    # stage 8: xy-cut reflow
    order = _reading_order(blocks, cfg)

    # stage 9: emission as column arrays: media spans for image kinds,
    # else blocks with text except EmbedEq, Equation $$-wrapped
    image = bt.image_kind_mask(bk)
    emit = np.where(
        image, cfg.keep_media, (block_text != None) & (bk != bt.EMBED_EQ)  # noqa: E711
    )
    eq = emit & (bk == bt.EQUATION)
    block_text[eq] = "\n$$\n" + block_text[eq] + "\n$$\n"
    media = np.full(m, None, dtype=object)
    media[image] = media_refs[src[image]]
    order = order[emit[order]]
    return SegmentSpans(
        bpage[order], _KIND_NAME_ARR[bk[order]], block_text[order], media[order]
    )


def _texmix_block(
    b: int,
    eqs: np.ndarray,
    bx1: np.ndarray,
    by1: np.ndarray,
    bx2: np.ndarray,
    by2: np.ndarray,
    eq_native: np.ndarray,
    eq_keys: np.ndarray,
    layer_rects: np.ndarray,
    layer_areas: np.ndarray,
    layer_texts: np.ndarray,
    layer_keys: np.ndarray,
    ratio: float,
) -> str:
    """Texmix composition of block ``b`` with its contained equation
    blocks ``eqs`` (layout order), over its page's text layer."""
    eq_rects = [(bx1[e], by1[e], bx2[e], by2[e]) for e in eqs]
    eq_texts = [t or "" for t in eq_native]
    eq_rows = {int(k) for k in eq_keys}
    # mask analog: text lines overlapping the block, equations excluded
    block_rect = (bx1[b], by1[b], bx2[b], by2[b])
    line_rects = []
    if len(layer_texts):
        iw = np.minimum(layer_rects[:, 2], block_rect[2]) - np.maximum(
            layer_rects[:, 0], block_rect[0]
        )
        ih = np.minimum(layer_rects[:, 3], block_rect[3]) - np.maximum(
            layer_rects[:, 1], block_rect[1]
        )
        inter = np.where(iw > 0, iw, 0.0) * np.where(ih > 0, ih, 0.0)
        block_area = (block_rect[2] - block_rect[0]) * (block_rect[3] - block_rect[1])
        denom = np.minimum(layer_areas, block_area)
        # inter <= denom, so inter > ratio*denom implies denom > 0
        for k in np.nonzero(inter > ratio * denom)[0]:
            if int(layer_keys[k]) in eq_rows:
                continue
            line_rects.append(tuple(layer_rects[k]))

    def recognize(rect: Tuple[float, float, float, float]) -> str:
        return gather_text(rect, layer_rects, layer_areas, layer_texts, ratio)

    return compose_text_with_equations(eq_rects, eq_texts, line_rects, recognize)


def extract_page(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    conf: np.ndarray,
    labels: Sequence[str],
    texts: Sequence[Optional[str]],
    media_refs: Sequence[Optional[str]],
    cfg: ExtractConfig = DEFAULT_CONFIG,
    det: Optional[np.ndarray] = None,
    offsets: Optional[np.ndarray] = None,
) -> List[Span]:
    """Run the full page DAG over one page; rows must be in span-offset
    order.  This is ``extract_segments`` over a single page.

    Each input row is both a detection candidate (bbox, conf, label)
    and a text-layer rect (bbox, native text).  Returns the emitted
    spans in reading order.

    ``det`` (multi-detector U1, layout.py:67-68): detector index per
    row.  Rows must arrive detector-major ((det, offset) order — the
    reference's Layout.merge appends detector 2's blocks after
    detector 1's, base_pipeline.py:104-111), and the PDF text layer is
    built from detector 0's rows only: the text layer is a property of
    the page, not of a detector, so a second detector's jittered
    re-detections must not duplicate gathered text.

    ``offsets``: doc-wide span offset per row; used as the identity key
    for the texmix equation-line exclusion (mix mask analog).  Without
    it the row index is the key — identical semantics single-detector,
    but multi-detector rows sharing an offset must exclude by offset.
    """
    spans = extract_segments(
        x1, y1, x2, y2, conf, labels, texts, media_refs, [0], cfg,
        det=det, offsets=offsets,
    )
    return list(zip(spans.kind.tolist(), spans.text.tolist(), spans.media_ref.tolist()))


# Kinds the dual-source path arbitrates (pdf2txt.py:68: Text, Title,
# Caption — every other block keeps no text and is not emitted).
ARBITRATE_KINDS = frozenset({bt.TEXT, bt.TITLE, bt.CAPTION})


def extract_segments_dual(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    conf: np.ndarray,
    labels: Sequence[str],
    texts: Sequence[Optional[str]],
    ocr_texts: Sequence[Optional[str]],
    lx1: np.ndarray,
    ly1: np.ndarray,
    lx2: np.ndarray,
    ly2: np.ndarray,
    starts: Sequence[int],
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> SegmentSpans:
    """Dual-source (E2) DAG over many pages at once, with the page-start
    addressing of ``extract_segments``: the reference's ``pdf2txt.py``
    arbitration variant (get_page_text, pdf2txt.py:52-100).

    Each row carries a detection bbox in RENDER coords (x1..y2; the
    rendered page image, scale ``cfg.render_scale``, y down) plus its
    native text-layer rect in PDF coords (lx1..ly2; y up from the
    bottom-left) and text.  ``ocr_texts`` is the OCR-model output for
    the row's region (the pluggable model call of the reference).

    Stages: detect (shared with E1); for Text/Title/Caption blocks only
    (pdf2txt.py:68), the C7 flip+descale of the bbox (:71), the PDF-text
    gather over the page's text layer (get_text_by_bbox, :29-49) in one
    call for the batch, levenshtein arbitration per block ``dis/max(len)
    < 0.2 -> pdf text else ocr text`` (:81-88) and the unconditional CJK
    cross-ref filter (:89-92); xy-cut over all blocks (shared, :93-94);
    emit blocks with text in reading order (:100).
    """
    texts = np.asarray(texts, dtype=object)
    ocr_texts = np.asarray(ocr_texts, dtype=object)
    row_page, pages = _page_index(starts, len(texts))
    # PDF text layer (textpage rects): rows with native text
    in_layer = texts != None  # noqa: E711 (elementwise on object arrays)
    _, layer_rects, layer_areas, layer_texts, layer_bounds = _text_layer(
        *_clamped(lx1, ly1, lx2, ly2), texts, in_layer, row_page, pages
    )
    blocks = _detect(*_clamped(x1, y1, x2, y2), conf, labels, row_page, pages, cfg)

    # C7: render coords -> PDF coords (pdf2txt.py:71: x/rs, H - y/rs
    # with y1/y2 swapping roles under the flip)
    arb = np.flatnonzero(np.isin(blocks.kind, list(ARBITRATE_KINDS)))
    rs, H, page = cfg.render_scale, cfg.page_height, blocks.page[arb]
    pdf_texts = gather_text_batch(
        blocks.x1[arb] / rs, H - blocks.y2[arb] / rs,
        blocks.x2[arb] / rs, H - blocks.y1[arb] / rs,
        layer_rects, layer_areas, layer_texts, cfg.gather_ratio,
        q_lo=layer_bounds[page], q_hi=layer_bounds[page + 1],
    )
    block_text = np.full(len(blocks.src), None, dtype=object)
    for b, ocr, pdf_text in zip(arb, ocr_texts[blocks.src[arb]], pdf_texts):
        ocr = ocr or ""
        near = relative_distance(ocr, pdf_text) < cfg.arbitrate_threshold
        text = pdf_text if near else ocr
        if not _cjk_xref(text):
            block_text[b] = text

    # xy-cut reflow (render coords), then emission: text blocks only
    order = _reading_order(blocks, cfg)
    order = order[block_text[order] != None]  # noqa: E711
    return SegmentSpans(
        blocks.page[order], _KIND_NAME_ARR[blocks.kind[order]], block_text[order],
        np.full(len(order), None, dtype=object),
    )


def extract_document_rows(
    rows: Sequence[dict], cfg: ExtractConfig = DEFAULT_CONFIG
) -> List[Tuple[str, Optional[str], Optional[str], int]]:
    """Run every page of a doc (dict rows, any order) in one segmented
    call, assigning a doc-wide reading order."""
    rows = sorted(rows, key=lambda r: (r["page"], r["offset"]))
    starts = [i for i, r in enumerate(rows) if i == 0 or r["page"] != rows[i - 1]["page"]]
    col = lambda k: [r[k] for r in rows]  # noqa: E731
    spans = extract_segments(
        np.array(col("x1"), dtype=np.float64), np.array(col("y1"), dtype=np.float64),
        np.array(col("x2"), dtype=np.float64), np.array(col("y2"), dtype=np.float64),
        np.array(col("conf"), dtype=np.float64), col("label"), col("text"),
        col("media_ref"), starts, cfg,
    )
    return [
        (kind, text, media, pos)
        for pos, (kind, text, media) in enumerate(
            zip(spans.kind.tolist(), spans.text.tolist(), spans.media_ref.tolist())
        )
    ]
