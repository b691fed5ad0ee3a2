"""End-to-end Spark pipeline vs the pure-Python oracle: golden
span-sequence equality (kind, text, media_ref, order) per document,
via the real distributed plan (explode -> join -> applyInPandas ->
window)."""

import pytest

from latyas_spark.fixtures import corpus_rows
from latyas_spark.oracle.ref_port import extract_document_oracle
from latyas_spark.pipeline.extract import (
    extract_spans,
    reassemble_documents,
)


@pytest.fixture(scope="module")
def span_output(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    out = extract_spans(docs, blocks)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["order"], r["kind"], r["text"], r["media_ref"])
        )
    for v in by_doc.values():
        v.sort()
    return by_doc


def _oracle_by_doc():
    rows = corpus_rows(40, mega_every=25)
    docs = {}
    for r in rows:
        docs.setdefault(r["doc_id"], []).append(r)
    out = {}
    for doc_id, doc_rows_ in docs.items():
        spans = extract_document_oracle(sorted(doc_rows_, key=lambda r: r["offset"]))
        out[doc_id] = [(o, k, t, m) for (k, t, m, o) in spans]
    return out


def test_spark_matches_oracle_span_sequences(span_output):
    want = _oracle_by_doc()
    # docs that emit nothing are absent from Spark output; align
    want_nonempty = {k: v for k, v in want.items() if v}
    assert set(span_output) == set(want_nonempty)
    for doc_id, expected in want_nonempty.items():
        assert span_output[doc_id] == expected, f"mismatch in {doc_id}"


def test_order_dense_per_doc(span_output):
    for doc_id, spans in span_output.items():
        assert [s[0] for s in spans] == list(range(len(spans)))


def test_mega_doc_present_and_correct(span_output):
    # corpus has mega docs at i % 25 == 24
    mega_id = "doc-00000024"
    assert mega_id in span_output
    assert len(span_output[mega_id]) > 100


def test_reassembled_documents_roundtrip(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    flat = extract_spans(docs, blocks)
    nested = reassemble_documents(flat)
    row = nested.filter("doc_id = 'doc-00000001'").collect()[0]
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == sorted(offsets)
    back = [
        (s["offset"], s["kind"], s["text"], s["media_ref"]) for s in row["spans"]
    ]
    flat_rows = sorted(
        (r["order"], r["kind"], r["text"], r["media_ref"])
        for r in flat.filter("doc_id = 'doc-00000001'").collect()
    )
    assert back == flat_rows


def test_plan_has_no_python_row_udfs(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    plan = extract_spans(docs, blocks)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # row-at-a-time python stage
    assert "MapInPandas" in plan  # Arrow-batched kernel stage


def test_kernel_import_installs_zipcache_in_workers(spark, corpus_dir):
    """A worker that has run a kernel task has imported latyas_spark,
    and with it the stat-keyed zipimport invalidation that spares every
    later task the re-parse of pyspark.zip."""
    from latyas_spark.zipcache import MARKER

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    assert extract_spans(docs, blocks).collect()

    # Pickled by value and names no latyas_spark module, so running it
    # imports nothing from the package in the worker.
    def probe(chunks, marker=MARKER):
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in chunks:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "kernel_seen": ["latyas_spark" in sys.modules],
            "shim": [getattr(zipimport.zipimporter.invalidate_caches,
                             marker, False)],
        })

    rows = (
        spark.range(0, 8, 1, 8)
        .mapInPandas(probe, "pid long, kernel_seen boolean, shim boolean")
        .collect()
    )
    assert len(rows) == 8
    reused = [r for r in rows if r["kernel_seen"]]
    assert reused, rows
    assert all(r["shim"] for r in reused), rows


@pytest.mark.parametrize("dual", [False, True])
def test_page_path_equals_doc_path(spark, corpus_dir, dual):
    """Skew routing invariant: the mega-doc (page-salted + window) path
    produces exactly the same spans as the doc path, for the E1 and the
    dual-source kernel."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")

    def collect(mega_threshold):
        out = extract_spans(docs, blocks, mega_threshold=mega_threshold,
                            dual=dual)
        return sorted(
            (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
            for r in out.collect()
        )

    assert collect(-1) == collect(0)  # all-doc path == all-page path
    assert collect(-1) == collect(40)  # mixed routing == doc path


def test_join_reuses_doc_id_copartitioning(spark, corpus_dir):
    """The flagship join must add NO exchange of its own: both inputs
    are repartitioned by doc_id and HashPartitioning(doc_id) satisfies
    the join's clustering (requireAllClusterKeysForCoPartition=false).
    Exactly two exchanges, both on doc_id alone — a third (or any
    hashpartitioning carrying `offset`) means the kernel input lost
    doc-clustering and per-doc ordering would silently break."""
    import re

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    plan = (
        extract_spans(docs, blocks, mega_threshold=-1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 2, plan
    for p in parts:
        assert "offset" not in p, plan
        assert "doc_id" in p, plan
    assert "SortMergeJoin" not in plan, plan


def test_sinks_page_texts_and_labelme(spark, corpus_dir, tmp_path):
    import json
    import glob

    from latyas_spark.pipeline.sinks import write_labelme, write_page_texts

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    spans = extract_spans(docs, blocks)

    out_t = str(tmp_path / "texts")
    write_page_texts(spans, out_t)
    texts = spark.read.parquet(out_t)
    assert texts.count() > 0
    row = texts.filter("doc_id = 'doc-00000000'").collect()[0]
    want = [
        t for (_k, t, _m, _o) in sorted(
            extract_document_oracle(
                sorted(corpus_rows(1, mega_every=0), key=lambda r: r["offset"])
            ),
            key=lambda s: s[3],
        )
        if t is not None
    ]
    assert row["text"] == "\n\n\n".join(want)

    out_l = str(tmp_path / "labelme")
    write_labelme(blocks, out_l)
    rec = None
    for f in glob.glob(out_l + "/part-*.json"):
        for line in open(f):
            rec = json.loads(line)
            break
        if rec:
            break
    assert rec and rec["version"] == "5.0.1"
    assert rec["shapes"][0]["shape_type"] == "rectangle"
    assert len(rec["shapes"][0]["points"]) == 2
