"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files dist/latyas_spark.zip scripts/run_extract.py \
        --input /data/documents.parquet --sidecar /data/layout_blocks.parquet \
        --output /out/spans --buckets 64 [--resume]

Runs the checkpointed bucket-by-bucket extraction (resume at partition
granularity is the default behavior: completed buckets are skipped on
restart).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    from latyas_spark.pipeline.extract import (
        KERNEL_COLS,
        MEGA_THRESHOLD,
        explode_documents,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents table (nested spans): parquet or JSON-lines")
    ap.add_argument("--input-format", default=None, choices=["parquet", "json"],
                    help="override the extension-inferred input format")
    ap.add_argument("--lax-input", action="store_true",
                    help="drop corrupt input records instead of failing "
                         "(PERMISSIVE crawl-hygiene mode)")
    ap.add_argument("--sidecar", required=True, help="layout_blocks parquet")
    ap.add_argument("--output", required=True, help="output dir (spans + _checkpoint)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--mega-threshold", type=int, default=MEGA_THRESHOLD)
    ap.add_argument("--cjk-filters", action="store_true")
    ap.add_argument("--run-id", default="run-0")
    args = ap.parse_args()

    from latyas_spark.core.document import ExtractConfig
    from latyas_spark.pipeline.checkpoint import run_checkpointed
    from latyas_spark.pipeline.sources import read_interleaved_docs

    spark = SparkSession.builder.appName("latyas-extract").getOrCreate()
    docs = read_interleaved_docs(
        spark, args.input, fmt=args.input_format, strict=not args.lax_input
    )
    blocks = spark.read.parquet(args.sidecar)
    joined = explode_documents(docs).join(blocks, ["doc_id", "offset"]).select(
        *KERNEL_COLS
    )
    cfg = ExtractConfig(cjk_filters=args.cjk_filters)
    summary = run_checkpointed(
        spark,
        joined,
        args.output,
        n_buckets=args.buckets,
        cfg=cfg,
        mega_threshold=args.mega_threshold,
        run_id=args.run_id,
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
