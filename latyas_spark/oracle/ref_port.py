"""Straight-line pure-Python oracle port of the reference pipeline.

This module re-derives, in plain recursive/object-style Python, the
same extraction semantics that latyas_spark.core implements with
iterative NumPy kernels.  The two implementations were written
independently on purpose: the golden span-equality test
(tests/test_pipeline_golden.py) compares them document-by-document, so
a bug in either shows up as a mismatch instead of being silently
shared.

Reference behavior cites (see SURVEY.md §2 for the full map):
  * Rectangle clamp / intersect / union      shape.py:70-149
  * label classification (ordered substrings) block.py:29-68
  * overlap merge sweep                       layout.py:86-132
  * containment (margin 20)                   base_pipeline.py:127-152
  * text-layer gather (>0.5 of smaller area)  base_pipeline.py:17-42
  * recursive xy-cut (margin decay, depth 8)  xy_cut_reflow.py:14-202
  * texmix compose                            texmix_model.py:70-151
  * emission filters + $$-wrap                tools/pdf2text.py:30-39
  * CJK cross-ref filters                     pdf2txt.py:86-89

The only intentional deviations (shared with the kernels, see their
docstrings) are crash guards: grid-sort divisor 0 -> 1, texmix split
with an exhausted fragment stops instead of raising.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from ..core.blocktypes import (
    EMBED_EQ,
    EQUATION,
    IMAGE_KINDS,
    KIND_NAMES,
    TABLE,
    TEXT_KINDS,
    kind_from_label,
)
from ..core.document import ExtractConfig, DEFAULT_CONFIG, Span


class ORect:
    """Mutable rectangle with the reference constructor clamp."""

    def __init__(self, x1, y1, x2, y2):
        if x1 >= x2:
            x2 = x1
        if y1 >= y2:
            y2 = y1
        self.x1, self.y1, self.x2, self.y2 = x1, y1, x2, y2

    @property
    def area(self):
        return (self.x2 - self.x1) * (self.y2 - self.y1)

    def meet(self, o: "ORect") -> "ORect":
        return ORect(
            max(self.x1, o.x1), max(self.y1, o.y1), min(self.x2, o.x2), min(self.y2, o.y2)
        )

    def join(self, o: "ORect") -> "ORect":
        return ORect(
            min(self.x1, o.x1), min(self.y1, o.y1), max(self.x2, o.x2), max(self.y2, o.y2)
        )

    def within(self, o: "ORect", margin: float = 20.0) -> bool:
        return (
            self.x1 >= o.x1 - margin
            and self.y1 >= o.y1 - margin
            and self.x2 <= o.x2 + margin
            and self.y2 <= o.y2 + margin
        )

    def cut_at_x(self, x: float):
        if x <= self.x1:
            return None, self
        if x >= self.x2:
            return self, None
        return ORect(self.x1, self.y1, x, self.y2), ORect(x, self.y1, self.x2, self.y2)

    def shrunk(self, f: float) -> "ORect":
        cx, cy = (self.x1 + self.x2) / 2.0, (self.y1 + self.y2) / 2.0
        hw, hh = (self.x2 - self.x1) * f / 2.0, (self.y2 - self.y1) * f / 2.0
        return ORect(cx - hw, cy - hh, cx + hw, cy + hh)


class OBlock:
    def __init__(self, rect: ORect, kind: int, text, media_ref, src_offset: int):
        self.rect = rect
        self.kind = kind
        self.native_text = text
        self.media_ref = media_ref
        self.src_offset = src_offset
        self.text: Optional[str] = None
        self.has_equation = False


# --- recursive xy-cut, mirroring the reference's shape -------------------


def _fallback_sort(all_rects: List[ORect], subset: List[int]) -> List[int]:
    # extent fold seeded from rect 0 of the whole layout (quirk)
    r0 = all_rects[0]
    lo_x, lo_y, hi_x, hi_y = r0.x1, r0.y1, r0.x2, r0.y2
    for i in subset:
        r = all_rects[i]
        lo_x, hi_x = min(lo_x, r.x1), max(hi_x, r.x2)
        lo_y, hi_y = min(lo_y, r.y1), max(hi_y, r.y2)
    sf_y = (hi_y - lo_y) // 16
    sf_x = (hi_x - lo_x) // 3
    sf_y = sf_y if sf_y != 0 else 1.0
    sf_x = sf_x if sf_x != 0 else 1.0
    keyed = []
    for i in subset:
        r = all_rects[i]
        a, b, c, d = int(r.x1), int(r.y1), int(r.x2), int(r.y2)
        keyed.append(((a // sf_x, b // sf_y, c // sf_x, d // sf_y), i))
    keyed.sort(key=lambda t: t[0])
    return [i for _, i in keyed]


def _region(
    all_rects: List[ORect],
    subset: List[int],
    axis: str,
    margin: float,
    depth: int,
    max_depth: int,
) -> List[int]:
    if len(subset) <= 1:
        return subset
    if depth > max_depth:
        return _fallback_sort(all_rects, subset)

    def bounds(i):
        r = all_rects[i]
        return (r.x1, r.x2) if axis == "x" else (r.y1, r.y2)

    cuts = []
    for i in subset:
        lo, hi = bounds(i)
        cuts.extend([lo - margin, hi + margin])
    cuts.sort()

    child_margin = margin - depth * (margin / max_depth)
    other_axis = "y" if axis == "x" else "x"
    result: List[int] = []
    remaining = subset
    for cut in cuts:
        near, far, astride = [], [], []
        for i in remaining:
            lo, hi = bounds(i)
            if lo <= cut and hi <= cut:
                near.append(i)
            elif lo >= cut and hi >= cut:
                far.append(i)
            else:
                astride.append(i)
        if astride:
            continue
        if not near:
            continue
        result.extend(
            _region(all_rects, near, other_axis, child_margin, depth + 1, max_depth)
        )
        remaining = far
    result.extend(
        _region(all_rects, remaining, other_axis, child_margin, depth + 1, max_depth)
    )
    return result


def reading_order(
    rects: List[ORect], margin: float = 10.0, horizontal_first: bool = True,
    max_depth: int = 8,
) -> List[int]:
    if not rects:
        return []
    axis = "x" if horizontal_first else "y"
    return _region(rects, list(range(len(rects))), axis, margin, 0, max_depth)


# --- page pipeline --------------------------------------------------------


def _gather(
    target: ORect, layer: List[Tuple[ORect, str]], ratio: float
) -> str:
    parts = []
    for rect, txt in layer:
        denom = min(rect.area, target.area)
        if denom <= 0:
            continue
        if rect.meet(target).area / denom > ratio:
            parts.append(txt.replace("\n", ""))
    return "".join(parts)


def _compose_mixed(
    block: OBlock,
    eq_blocks: List[OBlock],
    layer: List[Tuple[ORect, str]],
    eq_offsets: set,
    ratio: float,
) -> str:
    snippets: List[Tuple[ORect, Optional[str]]] = [
        (e.rect, "$" + (e.native_text or "") + "$") for e in eq_blocks
    ]
    eqs_by_x = sorted(eq_blocks, key=lambda e: e.rect.x1)

    # mask analog: overlapping text lines, equation rows excluded
    line_rects: List[ORect] = []
    for rect, txt, off in layer:
        denom = min(rect.area, block.rect.area)
        if denom <= 0:
            continue
        if rect.meet(block.rect).area / denom > ratio and off not in eq_offsets:
            line_rects.append(rect)

    order = reading_order(line_rects, margin=0.0, horizontal_first=False)
    fragments: List[ORect] = []
    for idx in order:
        box = line_rects[idx]
        cur: Optional[ORect] = box
        for eq in eqs_by_x:
            if eq.rect.area <= 0:
                continue
            if eq.rect.meet(box).area / eq.rect.area <= 0.8:
                continue
            if cur is None:
                break
            lhs, _ = cur.cut_at_x(eq.rect.x1)
            _, rhs = cur.cut_at_x(eq.rect.x2)
            if lhs is not None:
                fragments.append(lhs)
            cur = rhs
        if cur is not None:
            fragments.append(cur)

    plain_layer = [(r, t) for r, t, _ in layer]
    for frag in fragments:
        snippets.append((frag, _gather(frag, plain_layer, ratio)))

    shrunk = [rect.shrunk(0.5) for rect, _ in snippets]
    final = reading_order(shrunk, margin=0.0, horizontal_first=False)
    return " ".join(snippets[i][1] or "" for i in final)


def _edit_distance(a: str, b: str) -> int:
    """Unit-cost edit distance (text_utils.py:1-18 semantics), written
    as a classic two-row Wagner-Fischer sweep — deliberately a
    different shape from core/textdist.py's vectorized scan so the
    golden tests cross-check the two."""
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        row = [i]
        for j, cb in enumerate(b, start=1):
            row.append(
                min(prev[j] + 1, row[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = row
    return prev[-1]


def extract_page_dual_oracle(
    rows: List[dict], cfg: ExtractConfig = DEFAULT_CONFIG
) -> List[Span]:
    """Dual-source (pdf2txt.py:52-100) page variant: detection bboxes
    in render coords, text layer in PDF coords (row keys lx1..ly2),
    OCR output in row key ``ocr_text``.  Mirrors get_page_text stage by
    stage; the one shared crash-guard deviation: both sources empty
    divides 0/0 in the reference — treated as distance 0 (prefer pdf).
    """
    layer = [
        (ORect(r["lx1"], r["ly1"], r["lx2"], r["ly2"]), r["text"])
        for r in rows
        if r["text"] is not None
    ]

    blocks: List[OBlock] = []
    for r in rows:
        if r["conf"] > cfg.conf_threshold:
            blk = OBlock(
                ORect(r["x1"], r["y1"], r["x2"], r["y2"]),
                kind_from_label(r["label"]),
                r["text"],
                r["media_ref"],
                r["offset"],
            )
            blk.ocr_text = r.get("ocr_text")
            blocks.append(blk)

    # overlap merge sweep (inside model.detect,
    # ultralytics_layout_model.py:87 -> layout.py:86-132)
    dropped: set = set()
    for i in range(len(blocks)):
        if i in dropped:
            continue
        for j in range(i + 1, len(blocks)):
            a, b = blocks[i], blocks[j]
            if a.kind != b.kind and not (
                a.kind in TEXT_KINDS and b.kind in TEXT_KINDS
            ):
                continue
            inter = a.rect.meet(b.rect).area
            if not (
                inter > cfg.area_threshold * a.rect.area
                or inter > cfg.area_threshold * b.rect.area
            ):
                continue
            dropped.add(i)
            if a.kind > b.kind:
                b.kind = a.kind
            b.rect = a.rect.join(b.rect)
    blocks = [blk for i, blk in enumerate(blocks) if i not in dropped]

    # arbitration for Text/Title/Caption (pdf2txt.py:68-92)
    from ..core.blocktypes import CAPTION, TEXT, TITLE

    rs = cfg.render_scale
    H = cfg.page_height
    for blk in blocks:
        if blk.kind not in (TEXT, TITLE, CAPTION):
            continue
        q = ORect(
            blk.rect.x1 / rs,
            H - blk.rect.y2 / rs,
            blk.rect.x2 / rs,
            H - blk.rect.y1 / rs,
        )
        pdf_text = _gather(q, layer, cfg.gather_ratio)
        ocr = getattr(blk, "ocr_text", None) or ""
        m = max(len(ocr), len(pdf_text))
        dis_percent = (_edit_distance(ocr, pdf_text) / m) if m else 0.0
        text = pdf_text if dis_percent < cfg.arbitrate_threshold else ocr
        if text.startswith("图") or text.startswith("表"):
            continue
        if len(text) < 256 and ("见表" in text or "见图" in text):
            continue
        blk.text = text

    order = reading_order(
        [blk.rect for blk in blocks], margin=cfg.xy_margin,
        max_depth=cfg.max_depth,
    )
    out: List[Span] = []
    for i in order:
        blk = blocks[i]
        if blk.text is None:
            continue
        out.append((KIND_NAMES[blk.kind], blk.text, None))
    return out


def extract_document_dual_oracle(
    rows: List[dict], cfg: ExtractConfig = DEFAULT_CONFIG
) -> List[Tuple[str, Optional[str], Optional[str], int]]:
    """Per-page dual-source extraction with doc-wide order (the E2
    analog of extract_document_oracle)."""
    pages = sorted({r["page"] for r in rows})
    out = []
    pos = 0
    for p in pages:
        page_rows = sorted(
            (r for r in rows if r["page"] == p), key=lambda r: r["offset"]
        )
        for kind, text, media in extract_page_dual_oracle(page_rows, cfg):
            out.append((kind, text, media, pos))
            pos += 1
    return out


def extract_page_oracle(
    rows: List[dict], cfg: ExtractConfig = DEFAULT_CONFIG
) -> List[Span]:
    """rows: dicts with x1,y1,x2,y2,conf,label,text,media_ref,offset
    in span-offset order (multi-detector: detector-major (det, offset)
    order, mirroring Layout.merge).  Returns emitted
    (kind, text, media_ref).  The text layer is detector 0's rows only
    — the page's text layer is not a detector artifact."""
    layer = [
        (ORect(r["x1"], r["y1"], r["x2"], r["y2"]), r["text"], r["offset"])
        for r in rows
        if r["text"] is not None and r.get("det", 0) == 0
    ]
    plain_layer = [(rect, txt) for rect, txt, _ in layer]

    blocks: List[OBlock] = []
    for r in rows:
        if r["conf"] > cfg.conf_threshold:
            blocks.append(
                OBlock(
                    ORect(r["x1"], r["y1"], r["x2"], r["y2"]),
                    kind_from_label(r["label"]),
                    r["text"],
                    r["media_ref"],
                    r["offset"],
                )
            )

    # overlap sweep (layout.py:86-132), strategy per cfg (:108-126)
    dropped: set = set()
    for i in range(len(blocks)):
        if i in dropped:
            continue
        for j in range(i + 1, len(blocks)):
            a, b = blocks[i], blocks[j]
            if a.kind != b.kind and not (a.kind in TEXT_KINDS and b.kind in TEXT_KINDS):
                continue
            inter = a.rect.meet(b.rect).area
            if not (
                inter > cfg.area_threshold * a.rect.area
                or inter > cfg.area_threshold * b.rect.area
            ):
                continue
            # keep_large/keep_small: written from the semantics that
            # core/overlap.py cites for layout.py:108-117, NOT checked
            # against the reference source, so for these two strategies
            # this oracle restates overlap.py rather than independently
            # porting the reference
            if cfg.merge_strategy == "keep_large":  # drop the smaller; tie drops a
                dropped.add(j if a.rect.area > b.rect.area else i)
                continue
            if cfg.merge_strategy == "keep_small":  # drop the larger; tie drops a
                dropped.add(j if a.rect.area < b.rect.area else i)
                continue
            dropped.add(i)
            if a.kind > b.kind:
                b.kind = a.kind
            b.rect = a.rect.join(b.rect)
    blocks = [blk for i, blk in enumerate(blocks) if i not in dropped]

    # preset rule gate (base_pipeline.py:115-186 looks up each block's
    # kind; see ExtractConfig.ruled_kinds for the non-raising semantics)
    def ruled(kind: int) -> bool:
        return cfg.ruled_kinds is None or kind in cfg.ruled_kinds

    from ..core.blocktypes import TEXT_WITH_EQUATION

    # equation OCR
    if ruled(EQUATION):
        for blk in blocks:
            if blk.kind == EQUATION:
                blk.text = blk.native_text

    # containment + texmix compose
    for blk in blocks:
        if blk.kind not in TEXT_KINDS:
            continue
        inside = [
            e
            for e in blocks
            if e is not blk and e.kind == EMBED_EQ and e.rect.within(blk.rect, cfg.containment_margin)
        ]
        if not inside:
            continue
        blk.has_equation = True
        if not ruled(TEXT_WITH_EQUATION):
            continue
        blk.text = _compose_mixed(
            blk, inside, layer, {e.src_offset for e in inside}, cfg.gather_ratio
        )

    # table OCR
    if ruled(TABLE):
        for blk in blocks:
            if blk.kind == TABLE:
                blk.text = blk.native_text

    # text OCR via gather (+ optional CJK filters)
    for blk in blocks:
        if blk.kind not in TEXT_KINDS or blk.has_equation or not ruled(blk.kind):
            continue
        text = _gather(blk.rect, plain_layer, cfg.gather_ratio)
        if cfg.cjk_filters:
            if text.startswith("图") or text.startswith("表"):
                continue
            if len(text) < 256 and ("见表" in text or "见图" in text):
                continue
        blk.text = text

    # reflow + emission
    order = reading_order(
        [blk.rect for blk in blocks], margin=cfg.xy_margin, max_depth=cfg.max_depth
    )
    out: List[Span] = []
    for i in order:
        blk = blocks[i]
        if blk.kind in IMAGE_KINDS:
            if cfg.keep_media:
                out.append((KIND_NAMES[blk.kind], None, blk.media_ref))
            continue
        if blk.text is None:
            continue
        if blk.kind == EMBED_EQ:
            continue
        if blk.kind == EQUATION:
            out.append((KIND_NAMES[blk.kind], "\n$$\n" + blk.text + "\n$$\n", None))
        else:
            out.append((KIND_NAMES[blk.kind], blk.text, None))
    return out


def extract_document_oracle(
    rows: List[dict], cfg: ExtractConfig = DEFAULT_CONFIG
) -> List[Tuple[str, Optional[str], Optional[str], int]]:
    """Group rows by page, run each page, assign doc-wide order."""
    pages = sorted({r["page"] for r in rows})
    out = []
    pos = 0
    for p in pages:
        page_rows = sorted(
            (r for r in rows if r["page"] == p),
            key=lambda r: (r.get("det", 0), r["offset"]),
        )
        for kind, text, media in extract_page_oracle(page_rows, cfg):
            out.append((kind, text, media, pos))
            pos += 1
    return out
