"""Adapter: derive a deterministic extraction corpus from the driver's
relational testdata (TESTDATA.md) with pure integer arithmetic.

The driver smoke/correctness harness provides TPC-H-ish parquet only;
the extraction engine needs (bbox, conf, label, text, media) rows.  We
derive them from the ``events`` table with arithmetic that DuckDB can
reproduce verbatim, so sub-operator queries over this corpus can be
oracle-checked SQL-to-SQL (see relational/registry.py).

Each geometry family is ONE SQL text over ``{events}`` (``FAMILY_SQL``):
``synth_blocks`` runs it on Spark and the registry's DuckDB oracles
embed the same text with ``events`` substituted.  The texts keep to
the dialect both Spark 4.1 and DuckDB 1.0 parse:

* ``split_part('<labels csv>', ',', i)`` picks a label (DuckDB's
  ``[...][i]`` list literal does not parse in Spark);
* ``CAST(... AS STRING)``, never ``AS VARCHAR`` (Spark rejects it
  without a length);
* a bare ``AS offset`` alias works in both engines; a bare ``offset``
  in an expression does not parse in DuckDB, so qualify it (``b.offset``);
* ``floor(rn / 3)``, never DuckDB's ``//``;
* operands are cast to DOUBLE before dividing, because Spark parses
  ``100.0`` as DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# raw detector labels, deliberately including from_str quirk forms
ADAPTER_LABELS = [
    "text", "Text", "title", "figure", "figure_caption", "table",
    "header", "footer", "reference", "equation", "embedeq", "TOC",
    "list", "icon", "qrcode", "textwithequation", "blob", "caption",
]

# labels whose kind is a media kind (from_str: figure/icon/qrcode)
MEDIA_LABELS = ("figure", "icon", "qrcode")

# Labels for the xy-cut families: ADAPTER_LABELS minus embedeq (no
# containment/texmix on these pages by construction).
SIMPLE_LABELS = [s for s in ADAPTER_LABELS if s != "embedeq"]

_MEDIA_SQL = ", ".join(f"'{s}'" for s in MEDIA_LABELS)


def _family_sql(
    prefix: str,
    x1: str,
    y1: str,
    w: str,
    h: str = "20 + (event_id * 23) % 80",
    labels: list[str] = SIMPLE_LABELS,
    rn_by: str = "doc_id, page",
) -> str:
    """One family's SQL text over ``{events}``: the columns every family
    shares (doc id, page, conf, label, the doc-wide ``offset``, the
    text/media_ref tail) around its geometry.  ``x1``/``y1``/``w``/``h``
    are integer expressions over ``event_id`` and ``rn``, the 0-based
    row number within ``rn_by`` in event_id order."""
    csv = ",".join(labels)
    return f"""
WITH base AS (
  SELECT
    '{prefix}' || lpad(CAST(user_id % 200 AS STRING), 5, '0') AS doc_id,
    CAST(event_id % 3 AS INT) AS page,
    event_id,
    event_type,
    CAST((event_id * 7) % 100 AS DOUBLE) / 100 AS conf,
    split_part('{csv}', ',',
               CAST((event_id * 13) % {len(labels)} + 1 AS INT)) AS label
  FROM {{events}}
), numbered AS (
  SELECT *,
    row_number() OVER (PARTITION BY {rn_by} ORDER BY event_id) - 1 AS rn
  FROM base
), placed AS (
  SELECT *,
    CAST({x1} AS DOUBLE) AS x1, CAST({y1} AS DOUBLE) AS y1,
    CAST({w} AS DOUBLE) AS w, CAST({h} AS DOUBLE) AS h
  FROM numbered
)
SELECT
  doc_id, page,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY event_id) - 1 AS INT)
    AS offset,
  x1, y1, x1 + w AS x2, y1 + h AS y2, conf, label,
  CASE WHEN label IN ({_MEDIA_SQL}) THEN NULL
       ELSE event_type || ' ' || CAST(event_id AS STRING) END AS text,
  CASE WHEN label IN ({_MEDIA_SQL})
       THEN 'media://' || CAST(event_id AS STRING) END AS media_ref
FROM placed
"""


FAMILY_SQL = {
    # The flagship corpus: scattered boxes of every label, overlapping
    # freely, so every kernel stage does real work.
    "events": _family_sql(
        "evdoc-",
        x1="(event_id * 131) % 700",
        y1="(event_id * 197) % 900",
        w="40 + (event_id * 17) % 260",
        labels=ADAPTER_LABELS,
    ),
    # Cut-free single-column pages.  The xy-cut recursion provably
    # reduces to an ascending-y sort, making the WHOLE extraction DAG
    # expressible in SQL (registry.q_flagship_simple's oracle):
    #
    #   * every pair of blocks overlaps in x (x1 in [100,150], width
    #     >= 300): a real vertical split would need two x-disjoint
    #     blocks, so no depth-0 cut fires;
    #   * blocks are y-stacked at pitch 125 with heights <= 99, so every
    #     consecutive y-gap is >= 26 > 2*margin(10): each depth-1
    #     horizontal cut isolates one block -> reading order == y order;
    #   * no embedeq labels (no containment stage), no overlapping pairs
    #     (zero intersection areas -> no merge).
    #
    # Low-confidence rows still land in the text layer, so the gather
    # stage stays live.  With the dual columns, every page's blocks are
    # y-disjoint, so each detection's flipped bbox intersects exactly
    # its own layer rect and the dual gather returns the row's own text
    # (registry.DUAL_SIMPLE_SQL).
    "simple": _family_sql(
        "simdoc-",
        x1="100 + (event_id * 7) % 50",
        y1="rn * 125",
        w="300 + (event_id * 11) % 100",
    ),
    # Two-column pages: exactly ONE provable depth-0 vertical cut, then
    # cut-free columns.  The cut-free family never exercises cut
    # SELECTION; this one pins the recursion's first branch:
    #
    #   * blocks alternate between two x-disjoint columns
    #     (col = event_id % 2): left x in [100, 308), right in
    #     [400, 608) — the >= 92px column gap dwarfs 2*margin(10), and
    #     within a column every pair x-overlaps (x1 spread 50 < min
    #     width 100), so the depth-0 horizontal-axis sweep admits
    #     EXACTLY one valid cut, at max(left x2) + 10: any cut inside a
    #     column has a straddler (all lo <= 150/450 < any hi+10
    #     candidate), and later in-gap candidates are skipped as
    #     near-side-empty increments (xycut.py:214-221);
    #   * per page the blocks are y-stacked at pitch 125 with heights
    #     <= 99 (gap >= 26 > 2*margin), so each column's depth-1
    #     VERTICAL sweep isolates every block -> within-column order is
    #     ascending y;
    #   * reading order is therefore (column, y1) — SQL-expressible —
    #     with the left segment emitted first (children pushed in
    #     reverse, xycut.py:232-233);
    #   * single-column pages degenerate to the cut-free case whose
    #     order (ascending y) equals the same (column, y1) key;
    #   * no embedeq labels, zero pair intersections (columns are
    #     x-disjoint, same-page rows y-disjoint), so merge/containment
    #     no-op and the gather provably returns each row's own text —
    #     exactly the cut-free family's arguments.
    #
    # Each argument is an all-pairs property, so it holds for every
    # subset of the blocks: the dual DAG's conf + arb-kind + CJK
    # filters leave the (column, y1) order intact.
    "depth1": _family_sql(
        "d1doc-",
        x1="100 + (event_id % 2) * 300 + (event_id * 7) % 50",
        y1="rn * 125",
        w="100 + (event_id * 11) % 60",
    ),
    # Three-column pages: exactly TWO provable depth-0 vertical cuts (a
    # MULTI-segment split), then cut-free columns.  depth1 pins
    # single-cut selection; this family pins the nseg>2 path —
    # candidate dedup across a gap (the far-side candidate of an
    # already-consumed gap is skipped as near-side-empty,
    # xycut.py:214-221), bisect segment assignment over MULTIPLE cuts,
    # and the reversed push of 3 children (xycut.py:232-233):
    #
    #   * col = event_id % 3 at x bases 100/400/700 with x1 spread < 50
    #     and widths in [100,160): columns occupy [100,310), [400,610),
    #     [700,910) — both inter-column gaps are >= 90 >> margin 10, and
    #     within a column all pairs x-overlap, so the depth-0 sweep
    #     admits exactly one valid cut per gap -> 3 segments in
    #     left-to-right order;
    #   * per page blocks are y-stacked at pitch 125 with heights <= 99
    #     (same argument as depth1), so each column's depth-1 vertical
    #     sweep isolates every block;
    #   * reading order is therefore (column, y1), columns left first —
    #     SQL-expressible, and subset-stable as for depth1;
    #   * no embedeq labels, zero pair intersections -> merge,
    #     containment and texmix all no-op, gather returns each row's
    #     own text.
    "threecol": _family_sql(
        "c3doc-",
        x1="100 + (event_id % 3) * 300 + (event_id * 7) % 50",
        y1="rn * 125",
        w="100 + (event_id * 11) % 60",
    ),
    # Margin DECAY: a depth-3 cut that fires only because the xy-cut
    # margin decays with depth (child_m = m - depth*(m/max_depth),
    # xycut.py; reference xy_cut_reflow.py margin schedule).
    #
    # Margins by depth: m0=m1=10, m2=8.75, m3=6.5625.  Per page, two
    # columns (bases 100/400); within a column, super-bands of pitch 300
    # holding a full-strip block F at y=300r (x [base, base+260]) and a
    # pair at y=300r+150: B upper-RIGHT ([base+160, base+260], y [t,
    # t+40]) and C lower-LEFT ([base+100, base+200], y [t+48, t+88]):
    #
    #   * depth 0 (x, m=10): only the inter-column gap (40 >= 10) cuts —
    #     every in-column candidate is either near-side-empty (nothing
    #     ends left of C.lo-10) or straddled by an F;
    #   * depth 1 (y, m=10): band extents are y-disjoint by >= 51, so
    #     cuts isolate each band; INSIDE the pair band the 8px B/C gap
    #     is < 10, so the pair stays whole;
    #   * depth 2 (x, m=8.75): B and C x-overlap ([base+160, base+200])
    #     -> no cut, the pair descends;
    #   * depth 3 (y, m=6.5625): the SAME 8px gap now satisfies
    #     8 >= 6.5625 -> cut fires -> B (upper) before C (lower);
    #   * a constant-margin mutant would never cut the pair and falls to
    #     the depth>8 grid sort, whose key is x-major
    #     (xycut._grid_sort_list) -> C (left) before B — so the hash
    #     OBSERVABLY pins the decay schedule, not just cut selection;
    #   * reading order is therefore exactly (column, y1) — B.y1 < C.y1 —
    #     and stays (column, y1) under any conf-filter subset (removing
    #     F creates no in-column depth-0 cut: the region left of C has
    #     no box ends; removing B or C leaves singletons);
    #   * zero pair intersections (F y-disjoint from B/C; B,C y-disjoint;
    #     columns x-disjoint), no embedeq -> merge/containment/texmix
    #     no-op, gather returns each row's own text.
    #
    # rn % 3 is the role: 0 = F full-strip, 1 = B upper-right,
    # 2 = C lower-left.
    "decay": _family_sql(
        "dcdoc-",
        x1="100 + (event_id % 2) * 300"
        " + CASE rn % 3 WHEN 1 THEN 160 WHEN 2 THEN 100 ELSE 0 END",
        y1="floor(rn / 3) * 300"
        " + CASE rn % 3 WHEN 1 THEN 150 WHEN 2 THEN 198 ELSE 0 END",
        w="CASE rn % 3 WHEN 0 THEN 260 ELSE 100 END",
        h="CASE rn % 3 WHEN 0 THEN 20 + (event_id * 23) % 80 ELSE 40 END",
        rn_by="doc_id, page, event_id % 2",
    ),
    # Conflict-free mixed text+equation pages.  One box per 80px line
    # band per (doc_id, page): y1 = band * 80 exactly, so the mix
    # kernel's band snap is the identity and every box sits alone on
    # its row.  On this family every data-dependent branch of the
    # interleave provably no-ops:
    #
    #   * ``merge_same_row`` sees no same-row pair -> identity;
    #   * ``split_conflict`` sees no text/latex row conflict -> no
    #     truncate/split/re-enqueue;
    #   * the re-recognition gather returns each text box's own content
    #     (no other box shares its row);
    #   * the ``\tag`` splice needs an isolated formula and a text box
    #     on ONE row -> never fires;
    #   * contents carry no ``$``/backslash/brace, so to_katex and
    #     normalize_inline reduce to space-collapse + trim.
    #
    # What remains — classify, conf filter, kind routing, $/$$ wrapping,
    # row-major assembly, final strip — is ANSI-SQL, so the REAL kernel
    # (registry.q_mix_simple runs compose_mixed_page unchanged) is
    # hash-checked end-to-end on this slice; the general corpus stays
    # rows-only (q_mix_interleave, pinned by tests/test_mixkernel.py).
    "mix": _family_sql(
        "mixdoc-",
        x1="(event_id * 131) % 700",
        y1="rn * 80",
        w="40 + (event_id * 17) % 260",
        h="64",
        labels=ADAPTER_LABELS,
    ),
}

# The dual-source (E2) columns over a KERNEL_COLS frame ``{blocks}``: a
# deterministic OCR corruption (offset%4: reversed, else a<->e swapped
# — both arbitration branches fire) and the text-layer rect as the
# exact C7 image of the bbox (rs=2, H=550; matches q_dual_arbitrate).
DUAL_COLUMNS_SQL = """
SELECT *,
  CASE WHEN b.offset % 4 = 0 THEN reverse(text)
       ELSE translate(text, 'ae', 'ea') END AS ocr_text,
  x1 / 2 AS lx1, 550 - y2 / 2 AS ly1, x2 / 2 AS lx2, 550 - y1 / 2 AS ly2
FROM {blocks} AS b
"""


def synth_blocks(
    spark: SparkSession, sf_dir: str, family: str = "events"
) -> DataFrame:
    """events.parquet -> the ``family`` frame (KERNEL_COLS shape)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return spark.sql(FAMILY_SQL[family], events=events)


def with_dual_columns(b: DataFrame) -> DataFrame:
    """``b`` plus the dual-source (E2) columns (DUAL_COLUMNS_SQL)."""
    return b.sparkSession.sql(DUAL_COLUMNS_SQL, blocks=b)


def synth_blocks_mix_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate-branch mixed family (KERNEL_COLS shape): per 80px line
    band, THREE boxes — T1 = text [0,100), T2 = text [120,380), L =
    latex [250,450) (embedeq for even event_id, isolated equation for
    odd).  On this geometry the split sweep (mix_inference.py:44-123)
    provably takes EXACTLY the text-truncate branch, never split:

      * T1.right(100) <= T2.x(120): no merge, T1 emitted untouched;
      * T2 overlaps L partially (T2.right 380 < L.right 450) with
        differing labels -> ``cand.w = cur.x - cand.x`` fires: T2 is
        truncated to [120,250);
      * containment (split) needs cand.right >= cur.right — impossible
        here, so the split/re-enqueue branches never run.

    The truncation is OBSERVABLE: T2's center-x is exactly 250, so the
    re-recognition gather excludes it from the truncated fragment
    (250 < 250 is false) and T2's content vanishes from the page —
    EXCEPT in the last band, where the sweep's final unconditional
    ``out.append(cand); out.append(cur)`` (the reference's last-pair
    quirk, mix_inference.py:117-118) emits T2 untruncated and its
    content survives.  Both outcomes are closed-form per band, so the
    whole page markdown is SQL-expressible (registry.MIX_TRUNC_SQL)
    while exercising a sweep branch mix_simple provably no-ops.
    """
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        F.concat(
            F.lit("mtrdoc-"),
            F.lpad((F.col("user_id") % 200).cast("string"), 5, "0"),
        ).alias("doc_id"),
        (F.col("event_id") % 3).cast("int").alias("page"),
        F.col("event_id"),
        F.col("event_type"),
    )
    wp = Window.partitionBy("doc_id", "page").orderBy("event_id")
    banded = base.withColumn(
        "band", (F.row_number().over(wp) - 1).cast("int")
    )
    slots = banded.select(
        "*",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("slot"),
    )
    xs1 = F.array(F.lit(0.0), F.lit(120.0), F.lit(250.0))
    xs2 = F.array(F.lit(100.0), F.lit(380.0), F.lit(450.0))
    return slots.select(
        "doc_id",
        "page",
        # offset only orders rows WITHIN a (doc_id, page) group (the
        # kernel's partition-chunk sort key), so band*3+slot is
        # sufficient and saves the doc-wide row_number window the
        # other synth families pay
        (F.col("band") * 3 + F.col("slot")).cast("int").alias("offset"),
        F.element_at(xs1, F.col("slot") + 1).alias("x1"),
        (F.col("band") * 80).cast("double").alias("y1"),
        F.element_at(xs2, F.col("slot") + 1).alias("x2"),
        (F.col("band") * 80 + 64).cast("double").alias("y2"),
        F.lit(0.9).alias("conf"),
        F.when(F.col("slot") < 2, F.lit("text"))
        .when(F.col("event_id") % 2 == 0, F.lit("embedeq"))
        .otherwise(F.lit("equation"))
        .alias("label"),
        F.when(
            F.col("slot") == 0,
            F.concat("event_type", F.lit(" "), F.col("event_id").cast("string")),
        )
        .when(
            F.col("slot") == 1,
            F.concat(F.lit("cont "), F.col("event_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("frm "), F.col("event_id").cast("string")))
        .alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )


def synth_table_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet -> detected table-structure objects (M11 input
    shape): per table, row/column/header boxes plus text tokens, as one
    unioned frame (table_id, obj_type, x1..y2, text, token_num).

    Deterministic family mirrored in registry.TABLE_CELLS_SQL:

      * t = event_id % 40 tables; R = 3 + t%3 rows, C = 2 + (t+1)%3
        columns; tables with t even have a column header over row 0;
      * structure boxes get expansion-only jitter (<= 4px) so the
        kernel's center-sort / iob logic does real work without
        changing any containment outcome;
      * each event contributes one token to cell
        (r, c) = ((7k+t)%R, (11k+t)%C), k = event_id div 40, strictly
        inside the cell (so max-overlap slotting is provably unique
        and the SQL oracle can assign tokens arithmetically).  The
        multipliers 7 and 11 are coprime to every R/C value, so r and
        c both cycle with k.  (r+c parity is correlated by
        construction, leaving some cells token-less — that exercises
        the empty-cell CSV/HTML paths.)

    In production these objects come from the structure detector (an
    M-row model plug point); this synth derivation exists so the
    deterministic assembly half is oracle-checkable end-to-end.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    base = ev.select(
        "event_id",
        "event_type",
        (F.col("event_id") % 40).alias("t"),
        F.expr("event_id div 40").alias("k"),
    ).withColumn("R", F.lit(3) + F.col("t") % 3).withColumn(
        "C", F.lit(2) + (F.col("t") + 1) % 3
    )
    table_id = F.concat(
        F.lit("tbl-"), F.lpad(F.col("t").cast("string"), 3, "0")
    )
    null_s = F.lit(None).cast("string")

    tokens = base.select(
        table_id.alias("table_id"),
        F.lit("token").alias("obj_type"),
        (
            ((F.col("k") * 11 + F.col("t")) % F.col("C")) * 80
            + 20 + F.col("k") % 7
        ).cast("double").alias("x1"),
        (
            ((F.col("k") * 7 + F.col("t")) % F.col("R")) * 100
            + 30 + F.col("k") % 11
        ).cast("double").alias("y1"),
        F.lit(None).cast("double").alias("x2"),
        F.lit(None).cast("double").alias("y2"),
        F.concat("event_type", F.lit(" "), F.col("event_id").cast("string"))
        .alias("text"),
        F.col("event_id").alias("token_num"),
    ).select(
        "table_id", "obj_type", "x1", "y1",
        (F.col("x1") + 30).alias("x2"),
        (F.col("y1") + 40).alias("y2"),
        "text", "token_num",
    )

    # one row per distinct table: 40 rows — a tiny distinct, test-only
    # (production structure boxes arrive from the detector per page).
    # All three structure-object kinds come off ONE distinct + ONE
    # explode (a per-kind derivation would re-shuffle the distinct 3x).
    tables = base.select("t", "R", "C").distinct()
    _bt = (
        "struct<obj_type:string,x1:double,y1:double,x2:double,y2:double>"
    )
    struct_arr = F.expr(
        f"""
concat(
  transform(sequence(0, cast(R - 1 as int)), r -> named_struct(
    'obj_type', 'row',
    'x1', cast(-(t % 3) as double),
    'y1', cast(r * 100 - (t + r) % 4 as double),
    'x2', cast(C * 80 + t % 5 as double),
    'y2', cast((r + 1) * 100 + (t + 3 * r) % 4 as double))),
  transform(sequence(0, cast(C - 1 as int)), c -> named_struct(
    'obj_type', 'column',
    'x1', cast(c * 80 - (t + c) % 4 as double),
    'y1', cast(-(t % 3) as double),
    'x2', cast((c + 1) * 80 + (t + 3 * c) % 4 as double),
    'y2', cast(R * 100 + t % 5 as double))),
  CASE WHEN t % 2 = 0 THEN array(named_struct(
    'obj_type', 'header',
    'x1', cast(-(t % 3) as double),
    'y1', cast(-(t % 4) as double),
    'x2', cast(C * 80 + t % 5 as double),
    'y2', cast(100 + t % 4 as double)))
  ELSE cast(array() as array<{_bt}>) END
)
"""
    )
    structs = tables.select(
        table_id.alias("table_id"), F.explode(struct_arr).alias("o")
    ).select(
        "table_id",
        F.col("o.obj_type").alias("obj_type"),
        F.col("o.x1").alias("x1"),
        F.col("o.y1").alias("y1"),
        F.col("o.x2").alias("x2"),
        F.col("o.y2").alias("y2"),
        null_s.alias("text"),
        F.lit(-1).cast("long").alias("token_num"),
    )
    return tokens.unionByName(structs)
