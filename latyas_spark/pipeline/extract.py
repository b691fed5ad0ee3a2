"""The distributed extraction job (flagship query).

Plan shape (SURVEY.md §3 lifecycle mapping):

    documents (nested spans)   layout_blocks (sidecar)
        |  posexplode               |
     repartition(P, doc_id)     repartition(P, doc_id)
        +--- shuffled-hash equi-join on (doc_id, offset) ---+
            (co-partitioned: the join adds NO exchange and
             its output stays doc_id-clustered)
                                |
          mapInPandas(whole-partition kernel: pandas lexsort by
          (doc_id, page, offset), then the segmented page kernel
          over every page of the partition at once)
                                |
                       span rows / nested docs out

Scale design (SURVEY.md §4.3):

* **Batched kernels, not per-group calls.**  groupBy().applyInPandas
  invokes Python once per group; page groups are tiny (~10 rows), so
  per-group overhead would dominate at any scale.  Instead we
  repartition by hash(doc_id) and run ``mapInPandas`` over the whole
  task partition: one Python invocation per partition.
* **Segmented, not per-page, inside the batch.**  Calling the page DAG
  once per ~10-row page still pays a dozen small NumPy dispatches per
  page, and that overhead dominated the kernel.  The sorted partition
  is instead addressed by page-segment offsets (one flatnonzero over
  the doc_id/page change points) and handed to
  ``core.document.extract_segments`` in page-aligned windows of
  ``KERNEL_WINDOW_ROWS`` rows.  Confidence filter, label -> kind (the
  label parse runs per distinct label), the J1 merge pre-test,
  containment, text gather and emission each run once per window as
  vectorized operations on within-page pairs; only the order-dependent
  sweeps stay per page — the J1 sweep on pages where some pair can
  trigger it, xy-cut on pages with >= 2 blocks, texmix per
  has-equation block.  Doc-wide order (doc mode) and page-local
  position (page mode) are run positions over the page-major span
  arrays; the two mapInPandas functions differ only in that output
  shape.  The dual-source DAG runs through the same windows
  (``extract_segments_dual``: the same detect front end and xy-cut,
  one gather over the window, levenshtein arbitration per block).
* **Keep the JVM out of the hot path.**  Both join inputs are
  repartitioned by doc_id so the join itself needs no exchange
  (requires spark.sql.requireAllClusterKeysForCoPartition=false, set
  by build_session), the join is hash- not sort-merge- based, and the
  kernel sort happens vectorized in pandas — the JVM side of the
  kernel stage does shuffle IO and Arrow encoding only.  Measured at
  5.3M rows this removed ~230 JVM-CPU-seconds of wide-row sorting
  that serialized against the python workers inside one stage.
* **Two-path skew routing.**  A mega-document (>= ``mega_threshold``
  spans) would serialize a whole partition in the doc-grouped path, so
  docs are routed by span count: normal docs take the single-shuffle
  doc path (reading order assigned inside the kernel); mega docs are
  re-keyed by (doc_id, page) — the salt — and their doc-wide order is
  recovered with a window over the (much smaller) span output.  One
  builder (``_extract``) makes that routing decision for every entry
  point: a map-side-combined count (``route_mega_docs``), collected as
  an isin list (a broadcast semi/anti join past MAX_MEGA_INLIST ids).
* **No per-row Python** anywhere; only the columns the kernel needs
  cross the Arrow boundary (pandas UDFs are a pushdown barrier, so
  cheap filters/pruning happen before the shuffle by construction).
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.document import (  # noqa: F401 (extract_page is re-exported)
    DEFAULT_CONFIG,
    ExtractConfig,
    SegmentSpans,
    extract_page,
    extract_segments,
    extract_segments_dual,
)

# Columns the page kernel consumes.
KERNEL_COLS = [
    "doc_id", "page", "offset",
    "x1", "y1", "x2", "y2",
    "conf", "label", "text", "media_ref",
]

# Extra columns of the dual-source (pdf2txt.py) kernel: per-row OCR
# output and the row's text-layer rect in PDF coords (C7 source space).
DUAL_EXTRA_COLS = ["ocr_text", "lx1", "ly1", "lx2", "ly2"]

DOC_OUT_SCHEMA = (
    "doc_id string, `order` int, kind string, text string, media_ref string"
)
PAGE_OUT_SCHEMA = (
    "doc_id string, page int, page_pos int, kind string, "
    "text string, media_ref string"
)

# Default span-count threshold for the mega-doc page path.
MEGA_THRESHOLD = 5000


class _Cols:
    """Column arrays of one kernel chunk (extracted once; all further
    slicing is zero-copy NumPy views, no pandas in the hot loop).
    Optional columns (multi-detector ``det``, dual-source ocr/layer
    cols) are extracted only when present in the frame."""

    __slots__ = ("doc_id", "page", "offset", "x1", "y1", "x2", "y2",
                 "conf", "label", "text", "media_ref", "n", "det",
                 "ocr_text", "lx1", "ly1", "lx2", "ly2")

    def __init__(self, pdf: pd.DataFrame):
        self.doc_id = pdf["doc_id"].to_numpy()
        self.page = pdf["page"].to_numpy()
        self.offset = pdf["offset"].to_numpy(dtype=np.int64)
        self.x1 = pdf["x1"].to_numpy(dtype=np.float64)
        self.y1 = pdf["y1"].to_numpy(dtype=np.float64)
        self.x2 = pdf["x2"].to_numpy(dtype=np.float64)
        self.y2 = pdf["y2"].to_numpy(dtype=np.float64)
        self.conf = pdf["conf"].to_numpy(dtype=np.float64)
        self.label = pdf["label"].to_numpy()
        # Arrow->pandas string columns are object arrays with None for
        # nulls; a fully-null column can arrive as float NaN — normalize
        self.text = _clean_obj(pdf["text"])
        self.media_ref = _clean_obj(pdf["media_ref"])
        self.det = (
            pdf["det"].to_numpy(dtype=np.int64) if "det" in pdf.columns else None
        )
        self.ocr_text = (
            _clean_obj(pdf["ocr_text"]) if "ocr_text" in pdf.columns else None
        )
        for c in ("lx1", "ly1", "lx2", "ly2"):
            setattr(
                self,
                c,
                pdf[c].to_numpy(dtype=np.float64) if c in pdf.columns else None,
            )
        self.n = len(self.doc_id)


def _clean_obj(col: pd.Series) -> np.ndarray:
    arr = col.to_numpy(dtype=object)
    if len(arr) and col.isna().any():
        arr = arr.copy()
        arr[col.isna().to_numpy()] = None
    return arr


# Rows per segmented kernel call: the partition is cut into page-aligned
# windows of about this many rows, which bounds the kernel's within-page
# pair temporaries independent of the partition size.
KERNEL_WINDOW_ROWS = 8192


def _page_starts(cols: _Cols) -> np.ndarray:
    """Start row of every (doc_id, page) segment of a sorted chunk."""
    ids, pages = cols.doc_id, cols.page
    change = (ids[1:] != ids[:-1]) | (pages[1:] != pages[:-1])
    return np.concatenate(([0], np.flatnonzero(change) + 1))


def _spans(cols: _Cols, starts: np.ndarray, cfg: ExtractConfig) -> SegmentSpans:
    """The segmented kernel over a whole chunk, one call per page-aligned
    window of KERNEL_WINDOW_ROWS: the E1 (analyze_pdf) DAG, or the dual
    (E2, pdf2txt.py) one when the chunk carries ``ocr_text``."""
    bounds = np.append(starts, cols.n)
    cuts = np.unique(
        np.searchsorted(starts, np.arange(0, cols.n, KERNEL_WINDOW_ROWS), "right") - 1
    )
    parts = []
    for ws, we in zip(cuts, np.append(cuts[1:], len(starts))):
        w = slice(bounds[ws], bounds[we])
        rows = (cols.x1[w], cols.y1[w], cols.x2[w], cols.y2[w],
                cols.conf[w], cols.label[w], cols.text[w])
        page_starts = starts[ws:we] - bounds[ws]
        if cols.ocr_text is None:
            spans = extract_segments(
                *rows, cols.media_ref[w], page_starts, cfg,
                det=None if cols.det is None else cols.det[w],
                offsets=cols.offset[w],
            )
        else:
            spans = extract_segments_dual(
                *rows, cols.ocr_text[w], cols.lx1[w], cols.ly1[w], cols.lx2[w],
                cols.ly2[w], page_starts, cfg,
            )
        parts.append(spans._replace(page=spans.page + ws))
    return SegmentSpans(*(np.concatenate(c) for c in zip(*parts)))


def _run_positions(keys: np.ndarray) -> np.ndarray:
    """0-based position of each element within its run of equal keys."""
    n = len(keys)
    first = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    return np.arange(n) - np.repeat(first, np.diff(np.append(first, n)))


def _sorted_partition_chunks(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Buffer the WHOLE task partition, sort it vectorized in pandas,
    and yield it as one doc-contiguous chunk.

    The sort key comes from the chunk's own columns: (doc_id, page,
    offset), or (doc_id, page, det, offset) when a multi-detector
    ``det`` column is present — rows then sort detector-major within a
    page (Layout.merge appends detector 2's blocks after detector 1's,
    base_pipeline.py:104-111) with offset as the in-detector order, a
    total, deterministic key either way.

    Sorting here instead of a JVM SortExec keeps the heavy lifting in
    the (independently parallel) Python workers: with sort-merge join
    upstream the JVM burned ~231 CPU-seconds on three wide-row sorts
    at 5.3M rows, serialized against the Python kernel inside one
    stage.  A whole-partition pandas lexsort of the same data costs
    <2s total.

    Memory envelope (the cost of whole-partition buffering): a kernel
    input row is ~250 B on the wire (4 float64 coords, conf, 3 short
    strings, ids) and ~3x that as pandas objects, so a task holds
    ~750 B x rows_per_partition.  At the bench shape (5.3M rows / 128
    partitions) that is ~31 MB/task — far under a worker's share.  At
    warehouse scale, size the kernel partition count as
    P >= total_rows * 750B / 512MB (e.g. 10^10 span rows -> P ~ 15k),
    via spark.sql.shuffle.partitions or bucketing; _kernel_partitions
    only enforces a floor of 4x cores.  Mega docs are page-salted
    before this point, so no partition is dominated by one document —
    the bound holds under document skew.

    The segmented kernel adds within-page pair temporaries (a few
    int64/float64/bool arrays, ~100 B per pair) on top of the buffered
    partition.  They are built per window of KERNEL_WINDOW_ROWS rows, so
    they do not grow with the partition: the merge pre-test makes
    n(n-1)/2 pairs per page of n detections, so n/2 pairs per row; the
    gather makes (plain text blocks x text-layer rows) pairs per page,
    none on pages without plain text blocks; containment makes
    (text blocks x embedded equations) pairs.  At the fixture shape
    (~10 rows per page) that is ~4 merge + ~7 gather pairs per row,
    ~9 MB per 8192-row window; the bound is about n/2 + 2n pairs per
    row for pages of n rows.  A single page of n rows makes ~n^2 pairs
    in all, the same order as the per-page B x L intersection matrix
    always built.
    """
    parts = [pdf for pdf in batches if len(pdf)]
    if not parts:
        return
    pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
    key = ["doc_id", "page", "offset"]
    if "det" in pdf.columns:
        key.insert(2, "det")
    order = np.lexsort([pdf[c].to_numpy() for c in reversed(key)])
    if not np.array_equal(order, np.arange(len(order))):
        pdf = pdf.iloc[order].reset_index(drop=True)
    yield pdf


def _kernel(cfg: ExtractConfig, frame):
    """The one kernel driver: sort the partition, run the segmented
    kernel over all its pages, and hand the spans to ``frame`` for the
    output shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in _sorted_partition_chunks(batches):
            cols = _Cols(chunk)
            starts = _page_starts(cols)
            yield frame(cols, starts, _spans(cols, starts, cfg))

    return run


def _doc_frame(cols: _Cols, starts: np.ndarray, spans: SegmentSpans) -> pd.DataFrame:
    # page segments are doc-contiguous, so a span's doc-wide order is
    # its position within the run of spans of its doc
    ids = cols.doc_id[starts]
    doc_of_page = np.cumsum(np.r_[True, ids[1:] != ids[:-1]])
    return pd.DataFrame(
        {
            "doc_id": pd.Series(ids[spans.page], dtype=object),
            "order": pd.Series(_run_positions(doc_of_page[spans.page]), dtype="int32"),
            "kind": pd.Series(spans.kind, dtype=object),
            "text": pd.Series(spans.text, dtype=object),
            "media_ref": pd.Series(spans.media_ref, dtype=object),
        }
    )


def _page_frame(cols: _Cols, starts: np.ndarray, spans: SegmentSpans) -> pd.DataFrame:
    first = starts[spans.page]
    return pd.DataFrame(
        {
            "doc_id": pd.Series(cols.doc_id[first], dtype=object),
            "page": pd.Series(cols.page[first], dtype="int32"),
            "page_pos": pd.Series(_run_positions(spans.page), dtype="int32"),
            "kind": pd.Series(spans.kind, dtype=object),
            "text": pd.Series(spans.text, dtype=object),
            "media_ref": pd.Series(spans.media_ref, dtype=object),
        }
    )


def _doc_mode_kernel(cfg: ExtractConfig):
    """mapInPandas fn: whole docs per chunk, doc-wide order in-kernel."""
    return _kernel(cfg, _doc_frame)


def _page_mode_kernel(cfg: ExtractConfig):
    """mapInPandas fn for the mega-doc path: emits page-local order."""
    return _kernel(cfg, _page_frame)


def explode_documents(documents: DataFrame) -> DataFrame:
    """Nested input-hint table -> one row per span."""
    return documents.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def doc_clustering_safe(spark) -> bool:
    """True iff a join whose children are hash(doc_id)-distributed (via
    repartition or bucketed scans) keeps its output doc_id-CLUSTERED in
    this session — the precondition for handing the join output to the
    doc-grouped kernel without a re-shuffle.

    Two session settings can silently break it: (a) subset cluster
    keys disallowed — EnsureRequirements re-shuffles on (doc_id,
    offset), which does NOT cluster by doc alone; (b) AQE skew-join
    splitting — it breaks a skewed join partition by mapper ranges,
    scattering one doc's rows across tasks (mega routing handles doc
    skew instead; build_session disables the splitter).  Callers fall
    back to an explicit kernel repartition when this returns False."""
    subset_ok = (
        spark.conf.get(
            "spark.sql.requireAllClusterKeysForCoPartition", "true"
        ).lower()
        == "false"
    )
    skew_split_on = (
        spark.conf.get("spark.sql.adaptive.enabled", "true").lower() == "true"
        and spark.conf.get(
            "spark.sql.adaptive.skewJoin.enabled", "false"
        ).lower()
        == "true"
    )
    return subset_ok and not skew_split_on


def _kernel_partitions(df: DataFrame) -> int:
    """Explicit shuffle width for the kernel stage.

    An explicit count keeps AQE from coalescing the exchange toward its
    64MB advisory size — the kernel is CPU-bound per row, not
    byte-bound, so byte-based coalescing would idle most cores.  4x the
    core count smooths stragglers (per-doc work varies by page count),
    at a fixed cost per extra task.  With the per-task zipimport
    re-parse gone (``latyas_spark.zipcache``), that cost is 12-16 ms in
    the Python worker plus about 0.1 s per task wave outside it (64-task
    identity stage, 4-core host).  On the same host, ``extract_spans``
    over 5,000 1-3-page docs took 2.23 s at 16 tasks, 1.78 s at 8 and
    1.73 s at 4 (medians of 3), so fewer waves would still pay; the
    width stays until that remaining cost is attributed."""
    spark = df.sparkSession
    base = int(
        spark.conf.get(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism * 2),
        )
    )
    return max(base, spark.sparkContext.defaultParallelism * 4)


# Above this many mega doc ids, routing switches from a driver-side
# IN-list (pushed into both scans) to a broadcast semi/anti join: a fat
# skew tail would otherwise bloat the plan with a huge literal list.
MAX_MEGA_INLIST = 10_000


def route_mega_docs(
    frame: DataFrame, mega_threshold: int
) -> Tuple[Optional[List[str]], Optional[DataFrame]]:
    """Mega-doc routing set: ``(ids, None)`` — the driver-collected ids
    of docs with >= ``mega_threshold`` rows in ``frame`` — or, past
    MAX_MEGA_INLIST ids, ``(None, ids_df)``, the id set as a frame for
    broadcast semi/anti-join routing."""
    counts = frame.groupBy("doc_id").count()
    big = counts.filter(F.col("count") >= mega_threshold).select("doc_id")
    sample = big.limit(MAX_MEGA_INLIST + 1).collect()
    if len(sample) > MAX_MEGA_INLIST:
        return None, big
    return [r["doc_id"] for r in sample], None


def _prune(joined: DataFrame, dual: bool) -> DataFrame:
    """The kernel's input columns: KERNEL_COLS, plus ``det`` for
    multi-detector input, plus DUAL_EXTRA_COLS for the dual kernel —
    the only place that decides the column set the kernel driver reads
    its sort key and E1-or-dual choice from."""
    cols = list(KERNEL_COLS)
    if "det" in joined.columns:
        cols.append("det")
    if dual:
        cols += DUAL_EXTRA_COLS
    return joined.select(*cols)


def _doc_order(pages: DataFrame) -> DataFrame:
    """Doc-wide order of the page path's output: a distributed
    two-level ordering.

    The naive ordering (row_number over partitionBy(doc_id)) would pull
    every output span of a mega doc through one task.  Instead the
    doc-wide order is ``page_base + page_pos`` where page_base is the
    exclusive running sum of per-page span counts: the window that
    computes it runs over PAGE-level rows (one per (doc, page) — a few
    hundred for a mega doc), and the join that applies it distributes
    on (doc_id, page).  No task ever holds more than one page of one
    doc.  The kernel output is localCheckpoint'ed (lazy) because both
    the count branch and the join branch consume it — without that the
    kernel would run twice.
    """
    pages = pages.localCheckpoint(eager=False)
    pcounts = pages.groupBy("doc_id", "page").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    wp = Window.partitionBy("doc_id").orderBy("page")
    bases = pcounts.select(
        "doc_id",
        "page",
        (F.sum("n_spans").over(wp) - F.col("n_spans")).alias("page_base"),
    )
    return (
        pages.join(bases, ["doc_id", "page"])
        .select(
            "doc_id",
            (F.col("page_base") + F.col("page_pos")).cast("int").alias("order"),
            "kind",
            "text",
            "media_ref",
        )
    )


def extract_pages(
    joined: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, dual: bool = False
) -> DataFrame:
    """Page-granular extraction: the page-salted kernel WITHOUT the
    doc-wide order recovery — output keeps (page, page_pos).  Used by
    diagnostics and by the SQL-oracle-checkable flagship slice
    (registry.q_flagship_simple), where per-page positions are the
    comparable unit."""
    pruned = _prune(joined, dual)
    # salt = page: mega docs spread across partitions by (doc_id, page)
    shaped = pruned.repartition(_kernel_partitions(pruned), "doc_id", "page")
    return shaped.mapInPandas(_page_mode_kernel(cfg), schema=PAGE_OUT_SCHEMA)


def _extract(
    joined: DataFrame,
    cfg: ExtractConfig,
    mega_threshold: int,
    dual: bool,
    route_on: Optional[DataFrame] = None,
    clustered: bool = False,
) -> DataFrame:
    """The one extraction plan builder behind every entry point.

    Prunes ``joined`` to the kernel columns, splits its docs once into
    normal and mega (>= ``mega_threshold`` rows per doc in
    ``route_on``, else in the pruned join; 0 sends every doc to the
    page path, < 0 every doc to the doc path), then unions the
    doc-grouped kernel over the normal docs with the page-salted path
    over the mega docs.  ``clustered`` promises ``joined`` is
    hash(doc_id)-clustered already (a co-partitioned join), so the doc
    path needs only its partition-local sort — no exchange."""
    pruned = _prune(joined, dual)
    normal, mega = pruned, None
    if mega_threshold == 0:
        normal, mega = None, pruned
    elif mega_threshold > 0:
        ids, ids_df = route_mega_docs(
            pruned if route_on is None else route_on, mega_threshold
        )
        if ids_df is not None:
            normal = pruned.join(F.broadcast(ids_df), "doc_id", "left_anti")
            mega = pruned.join(F.broadcast(ids_df), "doc_id", "left_semi")
        elif ids:
            normal = pruned.filter(~F.col("doc_id").isin(ids))
            mega = pruned.filter(F.col("doc_id").isin(ids))
    parts = []
    if normal is not None:
        if not clustered:
            normal = normal.repartition(_kernel_partitions(normal), "doc_id")
        parts.append(
            normal.mapInPandas(_doc_mode_kernel(cfg), schema=DOC_OUT_SCHEMA)
        )
    if mega is not None:
        parts.append(_doc_order(extract_pages(mega, cfg, dual)))
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def extract_spans_flat(
    joined: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    mega_threshold: int = MEGA_THRESHOLD,
    dual: bool = False,
) -> DataFrame:
    """Extraction over an already-joined flat frame with KERNEL_COLS
    (plus ``det`` for multi-detector input, plus DUAL_EXTRA_COLS when
    ``dual=True``).

    Returns span rows (doc_id, order, kind, text, media_ref).  Docs
    with >= mega_threshold rows are routed to the page-salted path
    (found with a count aggregation over the frame).  Set
    ``mega_threshold=0`` to disable routing (all docs page path) or
    ``mega_threshold<0`` to force the doc path.
    """
    return _extract(joined, cfg, mega_threshold, dual)


def extract_spans(
    documents: DataFrame,
    layout_blocks,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    mega_threshold: int = MEGA_THRESHOLD,
    dual: bool = False,
) -> DataFrame:
    """Flagship: nested documents + geometry sidecar(s) -> ordered spans.

    ``layout_blocks`` may be one DataFrame or a sequence of them (one
    per layout detector, U1 / layout.py:67-68: the paper pipeline runs
    2 detectors, paper_pipeline.py:21-33).  Multiple sidecars union by
    name with a ``det`` index; the kernel then replays Layout.merge
    order (detector-major) and the J1 overlap merge dedups the
    cross-detector duplicates.

    ``dual=True`` runs the dual-source (E2, pdf2txt.py) DAG: the
    sidecar additionally carries the per-row OCR output and the
    text-layer rect in PDF coords (DUAL_EXTRA_COLS); the kernel
    arbitrates OCR vs native text per block (levenshtein < 0.2 prefers
    native) after the C7 flip+descale.

    Mega-doc routing uses a driver-collected mega id list: the
    resulting ``doc_id IN (...)`` predicates are pushed by Catalyst
    through the join into BOTH parquet scans (InSet, O(1) probe), so
    each union branch scans and joins only its own documents.  A
    derived-column flag (``size(spans) >= T``) cannot be pushed below
    the join and was measured ~3x slower at 240k docs.  Mega docs are
    rare by definition (skew tail), so the collected list stays tiny —
    but a pathological fat tail (> MAX_MEGA_INLIST ids) would bloat the
    plan with a huge literal, so routing falls back to a broadcast
    semi/anti join of the id set past that threshold.
    """
    if isinstance(layout_blocks, DataFrame):
        sidecars = [layout_blocks]
    else:
        sidecars = list(layout_blocks)
    if len(sidecars) == 1:
        sidecar = sidecars[0]
    else:
        sidecar = sidecars[0].withColumn("det", F.lit(0).cast("int"))
        for i, s in enumerate(sidecars[1:], start=1):
            sidecar = sidecar.unionByName(
                s.withColumn("det", F.lit(i).cast("int"))
            )
    # Pre-partition BOTH join inputs by doc_id: HashPartitioning(doc_id)
    # satisfies the join's ClusteredDistribution(doc_id, offset), so the
    # join adds no exchange of its own AND its output stays clustered by
    # doc_id — the kernel then needs only a partition-local sort.  One
    # shuffle of each input instead of three of the joined width.  At
    # warehouse scale the same effect comes from bucketing both tables
    # by doc_id (warehouse.extract_from_warehouse — ZERO input shuffle);
    # this is the unbucketed equivalent.
    spans = explode_documents(documents)
    P = _kernel_partitions(spans)
    joined = spans.repartition(P, "doc_id").join(
        sidecar.repartition(P, "doc_id"), ["doc_id", "offset"]
    )
    # span count per doc from the PRIMARY flat sidecar: scans only the
    # doc_id column, map-side-combines, shuffles tiny partial counts —
    # far cheaper than size(spans), which would read the whole nested
    # spans column.
    return _extract(
        joined, cfg, mega_threshold, dual, route_on=sidecars[0],
        clustered=doc_clustering_safe(documents.sparkSession),
    )


def extract_spans_preset(
    documents: DataFrame,
    layout_blocks,
    preset,
    mega_threshold: int = MEGA_THRESHOLD,
) -> DataFrame:
    """Flagship under a pipeline preset (paper/report/book): binds the
    preset's ExtractConfig (rule gate) and asserts the detector count
    matches the preset's model set (pipeline ctors, SURVEY.md §3)."""
    from .presets import Preset, get_preset

    if not isinstance(preset, Preset):
        preset = get_preset(preset)
    n = 1 if isinstance(layout_blocks, DataFrame) else len(layout_blocks)
    if n != preset.n_detectors:
        raise ValueError(
            f"preset {preset.name!r} binds {preset.n_detectors} layout "
            f"detector(s); got {n} sidecar(s)"
        )
    return extract_spans(
        documents, layout_blocks, cfg=preset.config,
        mega_threshold=mega_threshold,
    )


def reassemble_documents(span_rows: DataFrame) -> DataFrame:
    """Span rows -> nested output table (same shape as the input hint,
    with `order` taking the place of `offset`)."""
    return (
        span_rows.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("order").alias("offset"),
                        "kind",
                        "text",
                        "media_ref",
                    )
                )
            ).alias("spans")
        )
        .select(
            "doc_id",
            F.expr(
                "transform(spans, s -> struct(s.kind as kind, s.text as text,"
                " s.media_ref as media_ref, s.offset as offset))"
            ).alias("spans"),
        )
    )
