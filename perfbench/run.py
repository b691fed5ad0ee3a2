"""Layer-attributed extraction benchmark.

    python3 perfbench/run.py --workload normal_direct --seed 1 \
        --seconds 9 --trace 0

Run from the repository root.  One closed-loop client, one job in
flight, from this single driver process; the master is ``local[N]`` with
N the number of CPUs this process may run on.  The last line of stdout
is one JSON object: ``correct``, ``attempted`` and ``failed`` count the
sampled docs checked against the reference port, and ``metrics`` holds
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``; that run also writes its spans to
``perfbench/out/trace-<workload>-seed<seed>.json``).

Workloads (shapes in workloads.SHAPES):

* ``normal_direct``: 1-3-page docs, no mega docs; ``extract_spans`` over
  the raw parquet into a noop sink.  Kernel-bound.
* ``mega_warehouse``: every 97th doc is generated with 480-700 pages
  and routed down the mega path (``workloads.ROUTE_THRESHOLD``); they
  hold about 75% of the rows.  Ingested into doc_id-bucketed tables in
  set-up, then ``extract_from_warehouse`` into a noop sink.  Routing, the
  page-salted kernel and order recovery do their work here; the input
  exchange is near zero.

The checkpointed CLI path (the calls ``scripts/run_extract.py`` makes:
``run_checkpointed``, sequential buckets, parquet plus manifests into a
fresh directory, ``workloads.CLI_BUCKETS`` buckets) is a leg of the
traced ``mega_warehouse`` run over the same mixed corpus.  Its
per-bucket job overhead (about 3.5 s a bucket on a 4-core host) made a
timed workload of it too slow and too noisy for the run budget.

End-to-end metrics: ``setup_s`` (one cold start: session start, corpus
load or generate, the warehouse ingest where the workload has one, and
a warm-up pass), ``rows_per_s`` and ``docs_per_s`` (sidecar rows and
docs over the median pass wall),
``match_rate`` (1 - the share of sampled docs whose spans differ from
the oracle) and ``worker_peak_rss_mb`` (peak VmHWM across the Python
workers).

Times are expressed at a reference host speed.  On a shared host the
speed of a core drifts by up to 1.8x within minutes, which moved raw
pass walls by 18-36% between runs.  Before the set-up and before and
after each timed pass, a busy loop on every core measures the host's
speed, and the step's wall is scaled by ``rate / REF_RATE`` (for a
pass, the mean of the rates probed around it): the time the step would
take on a host running at ``REF_RATE``.  Raw walls and the
probed rates go to stderr (and into the trace), and the per-layer
metrics are raw.

Deliberately not measured: the 147 registry queries (``bench.py`` and
``scripts/check_contract.py`` cover them), ``streaming.ingest`` (its
per-batch work is ``extract_spans``) and the dual kernel (no speed
work targets it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

DRIVER_MEM = "4g"
# Host speed the end-to-end times are expressed at, in millions of
# busy-loop iterations per second per core (tracing.HostProbe); about
# what an uncontended core of the 4-core reference host does.
REF_RATE = 25.0
PR_SET_CHILD_SUBREAPER = 36  # prctl option, linux/prctl.h
REAP_GRACE_S = 10.0

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "docs_per_s": "docs/s",
    "match_rate": "fraction",
    "worker_peak_rss_mb": "MB",
}

PER_LAYER = {
    "extract.input_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "extract.arrow_s": "s",
    "extract.kernel_s": "s",
    "spark.kernel_task_s.p50": "s",
    "spark.kernel_task_s.max": "s",
    "spark.util": "fraction",
    "kernel.rows_per_s_core": "rows/s",
    "kernel.driver_s": "s",
    "kernel.extract_page_s": "s",
    "kernel.page_self_s": "s",
    "kernel.classify_s": "s",
    "kernel.overlap_merge_s": "s",
    "kernel.texmix_s": "s",
    "kernel.gather_s": "s",
    "kernel.xycut_s": "s",
    "kernel.pages": "count",
    "kernel.spans_out": "count",
    "kernel.merge_active_frac": "fraction",
    "kernel.texmix_page_frac": "fraction",
    "kernel.fallbacks": "count",
    "extract.mega_kernel_s": "s",
    "extract.mega_order_s": "s",
    "extract.routing_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "warehouse.ingest_s": "s",
    "checkpoint.bucket_s.p50": "s",
    "checkpoint.bucket_s.max": "s",
    "checkpoint.read_amp": "ratio",
    "checkpoint.manifest_spans": "count",
    "sink.parquet_s": "s",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scaling_eff": "ratio",
    "trace.overhead_frac": "fraction",
}


def _passthrough(batches):
    """Identity mapInPandas body: the Arrow round trip and nothing else."""
    yield from batches


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 scratch: str):
        from tracing import HostProbe, Tracer
        from workloads import SHAPES

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.scratch = scratch
        self.shape = SHAPES[workload]
        self.width = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{workload}-{seed}-{uuid.uuid4().hex[:12]}", traced)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.probe = HostProbe(self.width)
        self.rates = []  # host probe before each timed pass and after the last
        self.picked = []  # (doc_id, generated as mega), set in setup
        self.want = None  # oracle spans of the sample, made on first check

    # --- session and set-up ---------------------------------------------

    def _session(self, width: int, extra: dict) -> None:
        from latyas_spark.pipeline.session import build_session

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "spark-warehouse"),
            # the JVM's temporary files stay in the run's scratch too
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={os.path.join(self.scratch, 'derby')}"
                f" -Djava.io.tmpdir={os.path.join(self.scratch, 'tmp')}"
                " -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            **extra,
        }
        self.spark = build_session(
            master=f"local[{width}]", app_name=f"perfbench-{self.workload}",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self, width: int, extra: dict):
        """One cold start: session start, corpus load (or generate, the
        first time a seed is run in a checkout), feed preparation (the
        warehouse ingest) and a warm-up pass.  The warm-up is the checked
        pass: the same extraction with the sampled docs' spans
        collected, compared with the oracle once the clock has stopped.
        Returns (feed, corpus, setup_s)."""
        from check import sample
        from workloads import FEEDS, load_or_generate

        span = self.tracer.span
        with span("setup"):
            rate = self.probe.rate()
            t0 = time.perf_counter()
            with span("session"):
                self._session(width, extra)
            with span("corpus"):
                corpus = load_or_generate(
                    self.spark, os.path.join(WORK, "corpora"), self.seed,
                    self.shape,
                )
                if corpus["generated"]:
                    # fresh workers: generation must not set their peak
                    # memory
                    self._session(width, extra)
            self.picked = sample(self.seed, self.shape, corpus["mega_ids"])
            feed = FEEDS[self.workload](
                self.spark, corpus, os.path.join(self.scratch, "setup")
            )
            t_prep = time.perf_counter()
            with span("ingest" if self.workload == "mega_warehouse" else "load"):
                feed.prepare()
            self.prepare_s = time.perf_counter() - t_prep
            with span("warmup"):
                rows = feed.sample_rows([doc_id for doc_id, _ in self.picked])
            setup_s = (time.perf_counter() - t0) * rate / REF_RATE
        self.check(rows)
        return feed, corpus, setup_s

    def check(self, rows) -> None:
        from check import expected, mismatches

        if self.want is None:
            self.want = expected(self.picked)
        bad = mismatches(self.want, rows)
        self.attempted += len(self.want)
        self.failed += len(bad)
        if bad:
            print(f"MISMATCH vs oracle: {bad[:5]}", file=sys.stderr)

    def check_written(self, feed) -> None:
        """Checkpointed output: the sample read back from the written
        parquet, and the manifests' span total against the rows
        actually written."""
        from pyspark.sql import functions as F

        written = feed.written()
        self.check(written.filter(F.col("doc_id").isin(list(self.want))).collect())
        total = sum(m["spans"] for m in feed.manifests())
        n = written.count()
        self.attempted += 1
        if total != n:
            self.failed += 1
            print(f"MISMATCH: manifests say {total} spans, {n} written",
                  file=sys.stderr)

    def timed(self, feed) -> list:
        """Timed passes until ``seconds`` of pass wall have accumulated."""
        walls = []
        while not walls or sum(walls) < self.seconds:
            self.rates.append(self.probe.rate())
            with self.tracer.span("pass"):
                t0 = time.perf_counter()
                feed.run_pass()
                walls.append(time.perf_counter() - t0)
        self.rates.append(self.probe.rate())
        return walls

    # --- runs -----------------------------------------------------------

    def run_untraced(self) -> dict:
        from tracing import WorkerPeakRss, median

        feed, corpus, setup_s = self.setup(self.width, {})
        with WorkerPeakRss().window() as rss:
            walls = self.timed(feed)
        # each pass at the mean of the host speeds probed around it
        wall = median([w * (r0 + r1) / 2 / REF_RATE
                       for w, r0, r1 in zip(walls, self.rates, self.rates[1:])])
        print(f"setup {setup_s:.3f} s, pass walls {[round(w, 3) for w in walls]},"
              f" host rates {[round(r, 2) for r in self.rates]}", file=sys.stderr)
        return {
            "setup_s": setup_s,
            "rows_per_s": corpus["rows"] / wall,
            "docs_per_s": corpus["docs"] / wall,
            "match_rate": 1.0 - self.failed / self.attempted,
            "worker_peak_rss_mb": rss.peak_mb,
        }

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def _rung(self, name: str, fn) -> float:
        """Wall of one run of a ladder rung, in a job group of its own."""
        self._group(name)
        with self.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

    def run_traced(self) -> dict:
        from pyspark.sql import functions as F

        from kernel_trace import load_partitions, trace_kernel
        from latyas_spark.pipeline.extract import extract_pages, extract_spans_flat
        from tracing import event_log_conf, median, parse_event_log, quantile
        from workloads import CheckpointFeed, kernel_width, noop

        span = self.tracer.span
        event_dir = os.path.join(self.scratch, "events")
        feed, corpus, _ = self.setup(self.width, event_log_conf(event_dir))
        app_id = self.spark.sparkContext.applicationId
        m = {k: 0.0 for k in PER_LAYER}
        if self.workload == "mega_warehouse":
            m["warehouse.ingest_s"] = self.prepare_s

        self._group("timed")
        walls = self.timed(feed)
        passes = len(walls)

        # layer ladder on the same corpus and session
        with span("ladder"):
            a = self._rung("rung_a", lambda: noop(feed.input_plan()))

            def arrow():
                inp = feed.input_plan()
                noop(inp.mapInPandas(_passthrough, schema=inp.schema))
            b = self._rung("rung_b", arrow)

            routing = []

            def full(sink):
                with span("build"):
                    t0 = time.perf_counter()
                    df = feed.build()
                    routing.append(time.perf_counter() - t0)
                with span("materialize"):
                    sink(df)
            c = self._rung("rung_c", lambda: full(noop))
            sink_dir = os.path.join(self.scratch, "sink")
            d = self._rung("rung_d", lambda: full(
                lambda df: df.write.mode("overwrite").parquet(sink_dir)))
        m["extract.input_s"] = a
        m["extract.arrow_s"] = b - a
        m["extract.kernel_s"] = c - b
        m["sink.parquet_s"] = d - c
        m["extract.routing_s"] = median(routing)

        mega = corpus["mega_ids"]
        if mega:
            with span("mega"):
                def mega_rows():
                    return feed.input_plan().filter(F.col("doc_id").isin(mega))
                pages = self._rung("mega_pages", lambda: noop(extract_pages(mega_rows())))
                path = self._rung("mega_path", lambda: noop(
                    extract_spans_flat(mega_rows(), mega_threshold=0)))
            m["extract.mega_kernel_s"] = pages
            m["extract.mega_order_s"] = path - pages

        if self.workload == "mega_warehouse":
            with span("checkpoint"):
                self._group("checkpoint")
                cli = CheckpointFeed(
                    self.spark, corpus, os.path.join(self.scratch, "cli")
                )
                cli.prepare()
                cli.run_pass()
                # the read-back is the benchmark's, not the CLI path's
                self._group("checkpoint_check")
                self.check_written(cli)
            buckets = [b["wall_sec"] for b in cli.manifests()]
            m["checkpoint.bucket_s.p50"] = quantile(buckets, 0.5)
            m["checkpoint.bucket_s.max"] = max(buckets)
            m["checkpoint.manifest_spans"] = sum(b["spans"] for b in cli.manifests())

        # kernel inputs as extract_spans_flat partitions them
        kdoc = os.path.join(self.scratch, "kernel_doc")
        kpage = os.path.join(self.scratch, "kernel_page")
        with span("kernel_inputs"):
            self._group("kernel_inputs")
            p = kernel_width(self.spark)
            inp = feed.input_plan()
            is_mega = F.col("doc_id").isin(mega) if mega else F.lit(False)
            inp.filter(~is_mega).repartition(p, "doc_id").write.parquet(kdoc)
            inp.filter(is_mega).repartition(p, "doc_id", "page").write.parquet(kpage)
        rows_per_s = corpus["rows"] / median(walls)
        self.spark.stop()
        self.spark = None

        groups = parse_event_log(event_dir, app_id)
        t = groups["timed"]
        m["spark.jobs"] = t["jobs"] / passes
        m["spark.tasks"] = t["tasks"] / passes
        m["spark.run_s"] = t["run_s"] / passes
        m["spark.cpu_s"] = t["cpu_s"] / passes
        m["spark.gc_s"] = t["gc_s"] / passes
        m["spark.util"] = t["run_s"] / (sum(walls) * self.width)
        m["spark.kernel_task_s.p50"] = quantile(t["kernel_task_s"], 0.5)
        m["spark.kernel_task_s.max"] = max(t["kernel_task_s"], default=0.0)
        ra = groups["rung_a"]
        m["spark.shuffle_write_bytes"] = ra["shuffle_write_bytes"]
        m["spark.shuffle_read_bytes"] = ra["shuffle_read_bytes"]
        m["spark.input_bytes"] = ra["input_bytes"]
        if "checkpoint" in groups:
            m["checkpoint.read_amp"] = (
                groups["checkpoint"]["input_bytes"] / corpus["bytes"]
            )

        with span("kernel_trace"):
            m.update(trace_kernel(load_partitions(kdoc, kpage)))

        if self.workload == "normal_direct":
            with span("local1"):
                feed, _, _ = self.setup(1, {})
                with span("pass"):
                    t0 = time.perf_counter()
                    feed.run_pass()
                    wall1 = time.perf_counter() - t0
            m["spark.scaling_eff"] = rows_per_s / (corpus["rows"] / wall1) / self.width

        shape = {k: corpus[k] for k in ("docs", "rows", "pages", "mega_rows", "bytes")}
        shape["mega_docs"] = len(mega)
        shape["mega_row_frac"] = corpus["mega_rows"] / corpus["rows"]
        self.tracer.write(
            os.path.join(OUT, f"trace-{self.workload}-seed{self.seed}.json"),
            {"workload": self.workload, "seed": self.seed, "width": self.width,
             "shape": shape, "pass_walls_s": walls, "host_rates": self.rates,
             "rows_per_s": rows_per_s,
             "metrics": m, "spark_groups": groups},
        )
        return m

    def close(self) -> None:
        """Stop Spark and the JVM this process launched, and wait for it."""
        from pyspark import SparkContext

        self.probe.close()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def become_subreaper() -> None:
    """Have orphaned descendants (the Python worker daemon once the JVM
    that forked it is gone, and its workers) reparented to this process,
    so ``reap_all`` can stop and wait for them too.  Linux only."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_all() -> None:
    """Wait until every process this run started has ended: descendants
    get REAP_GRACE_S to exit on their own, then are killed."""
    from tracing import descendants

    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        while True:  # collect exited children, orphans included
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            print(f"killing leftover processes {left}", file=sys.stderr)
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["normal_direct", "mega_warehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "latyas_spark")):
        print(f"latyas_spark not found under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    # workers import the library from the checkout; Spark keeps all its
    # files under the run's scratch directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    become_subreaper()
    # a terminated run still stops its processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), scratch)
        metrics = bench.run_traced() if args.trace else bench.run_untraced()
        units = PER_LAYER if args.trace else END_TO_END
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
    except Exception:
        traceback.print_exc()
        attempted = max(bench.attempted if bench else 0, 1)
        result = {"correct": False, "attempted": attempted,
                  "failed": attempted, "metrics": {}}
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            reap_all()
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
