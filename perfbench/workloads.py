"""Workloads: seeded corpora and the extraction entry point each drives.

Each workload is a corpus shape plus a feed.  The feed calls the
library's public entry points exactly as a user job would; the
benchmark only times and checks what comes back.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from latyas_spark.fixtures import write_corpus_spark
from latyas_spark.pipeline.checkpoint import read_checkpointed, run_checkpointed
from latyas_spark.pipeline.extract import (
    KERNEL_COLS,
    explode_documents,
    extract_spans,
)
from latyas_spark.pipeline.sources import read_interleaved_docs
from latyas_spark.pipeline.warehouse import extract_from_warehouse, ingest_corpus


@dataclass(frozen=True)
class Shape:
    n_docs: int
    mega_every: int  # every mega_every-th doc is a 480-700-page mega doc


# Sizes keep one timed pass at a few seconds on a 4-core host, so a run
# fits its time budget with several passes; the shapes follow the
# workload descriptions in BENCHMARK.json.
SHAPES = {
    "normal_direct": Shape(n_docs=5000, mega_every=0),
    "mega_warehouse": Shape(n_docs=582, mega_every=97),
}

# Routing threshold (rows per doc) every feed passes.  Generated mega
# docs hold 4.6k-6.7k rows and ordinary ones under 50, so the library's
# 5000-row default would route only some mega docs, and a seed's routed
# share of rows would swing between 53% and 76%.  From 4000 every mega
# doc takes the mega path: about 75% of the rows on every seed.
ROUTE_THRESHOLD = 4000

# scripts/run_extract.py defaults to 64 buckets.  Each bucket costs
# about 3.5 s of per-job overhead on a 4-core host (routing collect,
# extraction and write, lineage re-read), so 64 would not fit a run;
# two still pay every per-bucket cost more than once.
CLI_BUCKETS = 2


def doc_ids(seed: int, shape: Shape) -> List[str]:
    """Doc ids exactly as fixtures.write_corpus_spark names them: the
    seed is the prefix, so every seed is a fresh corpus of one shape."""
    return [f"s{seed}-{i:08d}" for i in range(shape.n_docs)]


def is_mega(index: int, shape: Shape) -> bool:
    return shape.mega_every > 0 and index % shape.mega_every == shape.mega_every - 1


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def load_or_generate(
    spark: SparkSession, cache_root: str, seed: int, shape: Shape
) -> dict:
    """Corpus for (seed, shape), generated once and cached on disk.
    Returns its paths and measured shape; ``generated`` says whether
    this call wrote it."""
    final = os.path.join(
        cache_root,
        f"s{seed}-n{shape.n_docs}-m{shape.mega_every}-r{ROUTE_THRESHOLD}",
    )
    meta_path = os.path.join(final, "meta.json")
    generated = not os.path.exists(meta_path)
    if generated:
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        info = write_corpus_spark(
            spark, tmp, shape.n_docs, mega_every=shape.mega_every,
            prefix=f"s{seed}",
        )
        per_doc = (
            spark.read.parquet(info["layout_blocks"])
            .groupBy("doc_id")
            .agg(F.count("*").alias("rows"), F.countDistinct("page").alias("pages"))
            .collect()
        )
        mega = sorted(r["doc_id"] for r in per_doc if r["rows"] >= ROUTE_THRESHOLD)
        meta = {
            "docs": len(per_doc),
            "rows": sum(r["rows"] for r in per_doc),
            "pages": sum(r["pages"] for r in per_doc),
            "mega_ids": mega,
            "mega_rows": sum(r["rows"] for r in per_doc if r["doc_id"] in mega),
            "bytes": _dir_bytes(os.path.join(tmp, "documents.parquet"))
            + _dir_bytes(os.path.join(tmp, "layout_blocks.parquet")),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        if os.path.exists(meta_path):  # another run cached it meanwhile
            shutil.rmtree(tmp)
        else:
            shutil.rmtree(final, ignore_errors=True)
            os.rename(tmp, final)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["documents"] = os.path.join(final, "documents.parquet")
    meta["layout_blocks"] = os.path.join(final, "layout_blocks.parquet")
    meta["generated"] = generated
    return meta


def noop(df: DataFrame) -> None:
    """Full materialization with no output IO."""
    df.write.format("noop").mode("overwrite").save()


def kernel_width(spark: SparkSession) -> int:
    """The kernel stage width extract_spans picks for this session."""
    sc = spark.sparkContext
    return max(int(spark.conf.get("spark.sql.shuffle.partitions")),
               sc.defaultParallelism * 4)


class Feed:
    """One workload's entry point over a loaded corpus.

    ``build`` calls the library's extraction entry point (it runs the
    eager mega-id collect); ``input_plan`` is the join that feeds the kernel;
    ``run_pass`` is one timed pass as a user would run it."""

    def __init__(self, spark: SparkSession, corpus: dict, scratch: str):
        self.spark = spark
        self.corpus = corpus
        self.scratch = scratch

    def prepare(self) -> None:
        self.docs = self.spark.read.parquet(self.corpus["documents"])
        self.blocks = self.spark.read.parquet(self.corpus["layout_blocks"])

    def build(self) -> DataFrame:
        raise NotImplementedError

    def input_plan(self) -> DataFrame:
        raise NotImplementedError

    def run_pass(self) -> None:
        noop(self.build())

    def sample_rows(self, ids: List[str]) -> list:
        """Span rows of ``ids`` out of a full-corpus extraction (the
        filter sits above the kernel, so every doc is extracted)."""
        return self.build().filter(F.col("doc_id").isin(ids)).collect()


class DirectFeed(Feed):
    """extract_spans over the raw parquet corpus."""

    def build(self) -> DataFrame:
        return extract_spans(self.docs, self.blocks,
                             mega_threshold=ROUTE_THRESHOLD)

    def input_plan(self) -> DataFrame:
        # the join extract_spans builds ahead of its kernel
        p = kernel_width(self.spark)
        return (
            explode_documents(self.docs).repartition(p, "doc_id")
            .join(self.blocks.repartition(p, "doc_id"), ["doc_id", "offset"])
            .select(*KERNEL_COLS)
        )


class WarehouseFeed(Feed):
    """Corpus ingested once into doc_id-bucketed tables, then
    extract_from_warehouse with no input exchange."""

    def prepare(self) -> None:
        # one bucket per kernel task, the width the direct feed uses
        self.spans_t, self.blocks_t = ingest_corpus(
            self.spark, os.path.dirname(self.corpus["documents"]),
            n_buckets=kernel_width(self.spark), prefix="bench",
            base_path=os.path.join(self.scratch, "warehouse"),
        )

    def build(self) -> DataFrame:
        return extract_from_warehouse(self.spark, self.spans_t, self.blocks_t,
                                      mega_threshold=ROUTE_THRESHOLD)

    def input_plan(self) -> DataFrame:
        return (
            self.spark.table(self.spans_t)
            .join(self.spark.table(self.blocks_t), ["doc_id", "offset"])
            .select(*KERNEL_COLS)
        )


class CheckpointFeed(Feed):
    """The calls scripts/run_extract.py makes: read_interleaved_docs,
    explode + join, then run_checkpointed bucket by bucket, sequential,
    into a fresh output directory (a reused one resumes and skips all
    work)."""

    def prepare(self) -> None:
        docs = read_interleaved_docs(self.spark, self.corpus["documents"])
        blocks = self.spark.read.parquet(self.corpus["layout_blocks"])
        self.joined = explode_documents(docs).join(
            blocks, ["doc_id", "offset"]
        ).select(*KERNEL_COLS)
        self.out_dir = os.path.join(self.scratch, "ckpt")

    def run_pass(self) -> None:
        run_checkpointed(
            self.spark, self.joined, self.out_dir, n_buckets=CLI_BUCKETS,
            run_id="bench", max_concurrent=1, mega_threshold=ROUTE_THRESHOLD,
        )

    def manifests(self) -> List[dict]:
        d = os.path.join(self.out_dir, "_checkpoint")
        out = []
        for name in sorted(os.listdir(d)):
            if name.startswith("bucket_") and name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    out.append(json.load(f))
        return out

    def written(self) -> DataFrame:
        return read_checkpointed(self.spark, self.out_dir)


FEEDS = {
    "normal_direct": DirectFeed,
    "mega_warehouse": WarehouseFeed,
}
