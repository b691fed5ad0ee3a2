"""Round-2 operator coverage: E2 dual-source arbitration (+C7 flip),
pipeline presets (rule-gated extraction), U1 multi-detector union in
the flagship, and the mega-id routing guard — each pinned Spark-vs-
independent-oracle."""

import pytest

from latyas_spark.core.document import DEFAULT_CONFIG
from latyas_spark.fixtures import corpus_rows, detector2_rows
from latyas_spark.oracle.ref_port import (
    _edit_distance,
    extract_document_dual_oracle,
    extract_document_oracle,
)
from latyas_spark.pipeline import extract as EX
from latyas_spark.pipeline.presets import BOOK, PAPER, REPORT, get_preset


def _rows_by_doc(n=40, mega_every=25):
    rows = corpus_rows(n, mega_every=mega_every)
    docs = {}
    for r in rows:
        docs.setdefault(r["doc_id"], []).append(r)
    return docs


def _spark_by_doc(df):
    by_doc = {}
    for r in df.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["order"], r["kind"], r["text"], r["media_ref"])
        )
    for v in by_doc.values():
        v.sort()
    return by_doc


# --- C1: the two independent levenshtein implementations agree --------


def test_levenshtein_cross_check():
    from latyas_spark.core.textdist import levenshtein, relative_distance

    cases = [
        ("", ""), ("a", ""), ("", "abc"), ("kitten", "sitting"),
        ("flaw", "lawn"), ("abcdef", "abcdef"), ("图表测试", "图标测试"),
        ("the quick brown fox", "the quick brwn fx"),
        ("x" * 200, "y" * 200),
    ]
    import zlib

    for i in range(40):
        h = zlib.crc32(f"lev{i}".encode())
        a = "".join(chr(97 + (h >> k) % 7) for k in range(h % 17))
        b = "".join(chr(97 + (h >> (k + 3)) % 7) for k in range((h >> 5) % 17))
        cases.append((a, b))
    for a, b in cases:
        assert levenshtein(a, b) == _edit_distance(a, b), (a, b)
    assert relative_distance("", "") == 0.0  # documented 0/0 guard


# --- E2 dual-source arbitration + C7 ----------------------------------


def test_dual_golden_spark_vs_oracle(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    got = _spark_by_doc(EX.extract_spans(docs, blocks, dual=True))

    want = {}
    for doc_id, rows in _rows_by_doc().items():
        spans = extract_document_dual_oracle(
            sorted(rows, key=lambda r: r["offset"])
        )
        if spans:
            want[doc_id] = [(o, k, t, m) for (k, t, m, o) in spans]
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], f"mismatch in {doc_id}"


def test_dual_both_arbitration_branches_fire():
    """The fixture corpus must exercise BOTH picks: near-faithful OCR
    (native text kept) and garbled OCR (OCR kept) — otherwise the
    threshold is untested."""
    from latyas_spark.core.textdist import relative_distance

    native_picks = ocr_picks = 0
    for doc_id, rows in _rows_by_doc(12, mega_every=0).items():
        for r in rows:
            if r["text"] is None or r["ocr_text"] is None:
                continue
            d = relative_distance(r["ocr_text"], r["text"])
            if d < 0.2:
                native_picks += 1
            else:
                ocr_picks += 1
    assert native_picks > 10
    assert ocr_picks > 10


def test_dual_c7_flip_is_load_bearing():
    """Running the dual oracle with an identity transform (no flip, no
    descale) must gather nothing: the text layer really is in PDF
    coords."""
    from dataclasses import replace

    rows = sorted(
        _rows_by_doc(3, mega_every=0)["doc-00000001"],
        key=lambda r: r["offset"],
    )
    good = extract_document_dual_oracle(rows, DEFAULT_CONFIG)
    # break the transform: scale 1, flip around 0 => query stays in
    # render space while the layer is in PDF space
    bad_cfg = replace(DEFAULT_CONFIG, render_scale=1.0, page_height=0.0)
    bad = extract_document_dual_oracle(rows, bad_cfg)
    good_native = [t for (_k, t, _m, _o) in good if t]
    bad_native = [t for (_k, t, _m, _o) in bad if t]
    assert good_native != bad_native
    # with a broken transform every gather comes back empty, so every
    # pick degenerates to the OCR string or ""
    ocr_texts = {r["ocr_text"] for r in rows} | {""}
    assert all(t in ocr_texts for t in bad_native)


# --- presets ----------------------------------------------------------


def test_presets_bind_reference_rule_tables():
    assert get_preset("paper") is PAPER
    assert PAPER.n_detectors == 2 and len(PAPER.ocr_rules) == 12
    assert REPORT.n_detectors == 1
    assert dict(REPORT.ocr_rules) == {
        "title": "ocr_paddle", "text": "ocr_paddle", "caption": "ocr_paddle"
    }
    assert BOOK.ocr_rules == REPORT.ocr_rules
    with pytest.raises(ValueError):
        get_preset("magazine")


def test_report_preset_rule_gate_golden(spark, corpus_dir):
    """Report mode rules only title/text/caption: equations, tables,
    headers etc. must come out textless (not emitted), matching the
    oracle run with the same gate."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    got = _spark_by_doc(EX.extract_spans_preset(docs, blocks, "report"))

    want = {}
    for doc_id, rows in _rows_by_doc().items():
        spans = extract_document_oracle(
            sorted(rows, key=lambda r: r["offset"]), REPORT.config
        )
        if spans:
            want[doc_id] = [(o, k, t, m) for (k, t, m, o) in spans]
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], f"mismatch in {doc_id}"
    # the gate is observable: no equation/table text in report output
    for spans in got.values():
        for (_o, kind, text, _m) in spans:
            assert kind not in ("equation", "table", "header", "footer"), kind
    # and it actually removed something vs paper mode
    paper = _spark_by_doc(EX.extract_spans(docs, blocks))
    assert sum(map(len, paper.values())) > sum(map(len, got.values()))


def test_preset_detector_count_enforced(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    with pytest.raises(ValueError, match="2 layout detector"):
        EX.extract_spans_preset(docs, blocks, "paper")


# --- U1 multi-detector union ------------------------------------------


def test_multi_detector_golden(spark, corpus_dir):
    """Two-detector flagship (paper preset shape): union -> J1 merge,
    vs the oracle fed the concatenated det-major row list."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    b1 = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    b2 = spark.read.parquet(f"{corpus_dir}/layout_blocks2.parquet")
    got = _spark_by_doc(EX.extract_spans(docs, [b1, b2]))

    want = {}
    for doc_id, rows in _rows_by_doc().items():
        rows1 = [dict(r, det=0) for r in rows]
        rows2 = [dict(r, det=1) for r in detector2_rows(rows)]
        spans = extract_document_oracle(
            sorted(rows1 + rows2, key=lambda r: (r["page"], r["det"], r["offset"]))
        )
        if spans:
            want[doc_id] = [(o, k, t, m) for (k, t, m, o) in spans]
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], f"mismatch in {doc_id}"

    # the union is not a no-op: the second detector's extra/jittered
    # detections must change at least one document's output
    single = _spark_by_doc(EX.extract_spans(docs, b1))
    assert any(single.get(d) != want[d] for d in want)


# --- R3 position_reflow -----------------------------------------------


def test_position_reflow_order_matches_reference_semantics():
    """R3 (position_reflow.py:8-21): page-dim-scaled quantized sort.
    Cross-checked against a direct transliteration of the cited
    algorithm on adversarial boxes (ties, int truncation, stability)."""
    import numpy as np

    from latyas_spark.core.xycut import position_reflow_order

    boxes = [
        (10.7, 900.2, 200.9, 950.0),   # bottom, left
        (10.0, 10.0, 200.0, 60.0),     # top, left
        (600.0, 10.0, 900.0, 60.0),    # top, right
        (10.0, 11.5, 200.0, 61.0),     # near-tie with box 1
        (333.0, 500.0, 666.0, 540.0),  # middle column
        (0.0, 0.0, 999.0, 30.0),       # full-width banner
    ]
    page_h, page_w = 1100.0, 1000.0
    sf = (int(page_h) // 256, int(page_w) // 3)

    keyed = []
    for i, (x, y, x2, y2) in enumerate(boxes):
        x, y, x2, y2 = int(x), int(y), int(x2), int(y2)
        keyed.append(((x // sf[1], y // sf[0], x2 // sf[1], y2 // sf[0]), i))
    want = [i for _, i in sorted(keyed, key=lambda t: t[0])]

    x1, y1, x2, y2 = (np.array([b[k] for b in boxes]) for k in range(4))
    got = position_reflow_order(x1, y1, x2, y2, page_h, page_w).tolist()
    assert got == want
    # divisor-0 guard: a tiny page must not raise
    position_reflow_order(x1, y1, x2, y2, 100.0, 2.0)


def test_dual_extract_query_spark_vs_local(spark, sf001_dir):
    """Rows-only pin for the dual_extract registry entry: the Spark DAG
    over the events-derived corpus equals the local dual oracle run on
    the same collected rows."""
    from dataclasses import replace

    from latyas_spark.pipeline.adapter import synth_blocks, with_dual_columns
    from latyas_spark.relational.registry import q_dual_extract

    got = {}
    for r in q_dual_extract(spark, sf001_dir).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["order"], r["kind"], r["text"], r["media_ref"])
        )
    for v in got.values():
        v.sort()

    dual = with_dual_columns(synth_blocks(spark, sf001_dir))
    rows = [r.asDict() for r in dual.collect()]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    cfg = replace(DEFAULT_CONFIG, page_height=550.0)
    want = {}
    for doc_id, doc_rows in by_doc.items():
        spans = extract_document_dual_oracle(
            sorted(doc_rows, key=lambda r: r["offset"]), cfg
        )
        if spans:
            want[doc_id] = [(o, k, t, m) for (k, t, m, o) in spans]
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], f"mismatch in {doc_id}"


# --- mega-id routing guard --------------------------------------------


def test_mega_inlist_guard_semi_join_path(spark, corpus_dir, monkeypatch):
    """Past MAX_MEGA_INLIST ids the router must switch to the broadcast
    semi/anti-join fallback and still produce identical spans."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")

    def collect(df):
        return sorted(
            (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
            for r in df.collect()
        )

    base = collect(EX.extract_spans(docs, blocks))
    monkeypatch.setattr(EX, "MAX_MEGA_INLIST", 0)
    guarded_df = EX.extract_spans(docs, blocks)
    plan = guarded_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and (
        "LeftSemi" in plan or "LeftAnti" in plan
    ), plan
    assert collect(guarded_df) == base
