"""Bucketed warehouse layout: shuffle-free co-located doc_id joins.

The flagship join (documents x layout sidecar, extract.py) and every
doc-keyed enrichment after it re-shuffle both sides on doc_id each run.
At 100 TB that shuffle IS the job: ~2x the corpus over the network per
query.  The warehouse fix is to pay the partitioning once at write
time — store both tables bucketed by the same key into the same bucket
count, and every subsequent equi-join on that key is exchange-free
(Spark's bucketed scan satisfies the join's required distribution, so
Catalyst plans a SortMergeJoin with NO Exchange on either side).

This is the Spark-native analog of the Iceberg ``bucket(N, doc_id)``
partition transform the design doc targets (SURVEY.md §4.3); as with
checkpoint.py, no Iceberg runtime ships in this sandbox, so the
implementation uses Spark bucketed tables (identical layout semantics,
metastore-scoped instead of catalog-scoped).

Sizing at warehouse scale: buckets are the unit of join parallelism
for all future reads — pick ``n_buckets >= corpus_bytes / 1 GB`` and a
power of two (10^12 docs x ~4 KB -> ~4M GB -> n_buckets ~ 2^22 is too
many files per write; bucket counts compose multiplicatively with date
partitions, so partition by ingest date THEN bucket within, keeping
per-partition bucket files ~1 GB).  Bucket pruning: an equality filter
on the bucket key scans 1/n_buckets of the data.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..core.document import DEFAULT_CONFIG, ExtractConfig
from .extract import (
    MEGA_THRESHOLD,
    _extract,
    doc_clustering_safe,
    explode_documents,
)


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 16,
    bucket_col: str = "doc_id",
    sort_cols: Optional[Sequence[str]] = None,
    path: Optional[str] = None,
) -> None:
    """Persist ``df`` as a parquet table bucketed (and optionally
    sorted) by ``bucket_col``.  ``sort_cols`` additionally sorts within
    each bucket file, which lets the downstream SortMergeJoin skip its
    per-task sort too (plan shows neither Exchange nor Sort) — readers
    must set ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
    for the sort elimination (off by default since Spark 3.0 /
    SPARK-28632 because its one-file-per-bucket check can be costly;
    this writer guarantees one file per bucket, making it safe).
    ``path`` makes it an external table (tests point this at a tmp
    dir)."""
    # One shuffle task per bucket => exactly one file per bucket.
    # Without this, every write task emits a file for every bucket it
    # touches (tasks x buckets small files at scale), and Spark only
    # trusts the write-time sortBy on read when each bucket is a
    # single file — multi-file buckets silently re-sort in the join.
    df = df.repartition(n_buckets, bucket_col)
    w = df.write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    w = w.bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str] = ("doc_id",),
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key.  With both
    sides bucketed into the same count on the join key this plans with
    zero Exchange (assert via tests/test_warehouse.py); broadcast is
    deliberately not hinted — at warehouse scale neither side fits."""
    return spark.table(left_table).join(
        spark.table(right_table), list(on), how
    )


def ingest_corpus(
    spark: SparkSession,
    corpus_dir: str,
    n_buckets: int = 128,
    prefix: str = "wh",
    base_path: Optional[str] = None,
) -> tuple:
    """Pay the doc_id partitioning ONCE at ingest time: write the
    exploded span table and the layout sidecar bucketed by doc_id into
    the SAME bucket count.  Every subsequent extraction run
    (extract_from_warehouse) then joins and feeds the kernel with zero
    input shuffle.  Returns (spans_table, blocks_table)."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blocks = spark.read.parquet(f"{corpus_dir}/layout_blocks.parquet")
    spans_t, blocks_t = f"{prefix}_spans", f"{prefix}_blocks"
    write_bucketed(
        explode_documents(docs), spans_t, n_buckets,
        path=None if base_path is None else f"{base_path}/{spans_t}",
    )
    write_bucketed(
        blocks, blocks_t, n_buckets,
        path=None if base_path is None else f"{base_path}/{blocks_t}",
    )
    return spans_t, blocks_t


def extract_from_warehouse(
    spark: SparkSession,
    spans_table: str,
    blocks_table: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    mega_threshold: int = MEGA_THRESHOLD,
) -> DataFrame:
    """Flagship extraction fed from the bucketed warehouse: ZERO input
    exchange.  Both bucketed scans report HashPartitioning(doc_id), so
    the (doc_id, offset) equi-join co-locates without shuffling, the
    mega-count aggregation combines in place, and the join output is
    already doc-clustered for the kernel.  The only exchanges left in
    the whole job are output-sized (the mega-doc page path + its
    page-base window).  This is SURVEY §4.3's target plan — the
    Spark-bucketed-table analog of Iceberg ``bucket(N, doc_id)``; at
    10^12 docs it removes ~2x-corpus shuffle bytes per run (measured
    at 960k docs: ~1.26 GB -> ~0.09 GB, BENCH/SCALING_PROFILE.md).

    Falls back to an explicit kernel repartition when the session's
    settings make subset-key co-partitioning unsafe
    (extract.doc_clustering_safe)."""
    sidecar = spark.table(blocks_table)
    joined = spark.table(spans_table).join(sidecar, ["doc_id", "offset"])
    return _extract(
        joined, cfg, mega_threshold, False, route_on=sidecar,
        clustered=doc_clustering_safe(spark),
    )
