"""SparkSession construction with the engine's scale defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    master: str | None = None,
    app_name: str = "latyas_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with the conf we want on a real cluster too:

    * AQE on (runtime coalescing + skew-join splitting),
    * Arrow enabled with a bounded record batch size so kernel batches
      stay cache-friendly,
    * shuffle partitions sized to parallelism (caller overrides at
      cluster scale).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 64 if n == "*" else max(int(n) * 2, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Skew-join splitting OFF: the flagship feeds a co-partitioned
        # join straight into a doc-grouped kernel, and AQE's skew
        # splitter breaks a skewed join partition by mapper ranges —
        # scattering one document across tasks and silently corrupting
        # the per-doc (doc_id, order) sequences.  Document skew is
        # handled explicitly by the mega-doc routing in
        # pipeline/extract.py instead; extract_spans also re-asserts
        # clustering if it finds itself in a session with skew
        # splitting enabled.
        .config("spark.sql.adaptive.skewJoin.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let HashPartitioning(doc_id) satisfy a join's clustered
        # distribution on (doc_id, offset): both extract_spans inputs
        # are repartitioned by doc_id once, the join adds no exchange,
        # and its output stays doc-clustered for the kernel (skew on
        # doc_id alone is handled by our own mega-doc routing).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Shuffled-hash join over sort-merge: the extract join's output
        # feeds a pandas kernel that sorts in-kernel anyway, so SMJ's
        # three wide-row JVM sorts (both children + the kernel's) are
        # pure overhead — measured 231 JVM-CPU-seconds at 5.3M rows.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        # NOTE: spark.local.dir is deliberately NOT set here.  The bench
        # harness points it at tmpfs (bench.py extra_conf) to remove
        # disk-writeback stalls from timing runs, but a library default
        # of tmpfs would make every large job's shuffle/spill consume
        # RAM and OOM instead of spilling to disk.
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
