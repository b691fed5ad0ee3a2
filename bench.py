"""Bench harness (driver contract).

Runs headline relational queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], then measures flagship extraction throughput
at N vs 4N cores on the same input (the sandbox stand-in for two
cluster sizes) and reports the scaling efficiency (thr_4N / thr_N) / 4
required >= 0.8 by BASELINE.json:

* headline pair local[4] -> local[16], measured as 3 adjacent rounds,
  gated on the MEDIAN round (best reported as supplementary);
* secondary pair local[8] -> local[32] on a wider corpus so both walls
  stay >= ~45s (short walls are overhead-dominated and under-measure
  scaling).

Prints ONE JSON line and refreshes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Corpus sizes chosen so every timed wall is >= ~45s: short walls are
# overhead-dominated and under-measure scaling (round-1's 11.8s
# local[32] wall produced a spurious 0.525 for 8->32; at 960k docs the
# same pipeline measures ~0.94).  The 4->16 pair uses a smaller corpus
# than 8->32 because local[4] walls grow 4x.
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "480000"))
BENCH_DOCS_WIDE = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS_WIDE", "960000"))
SKIP_SCALING = os.environ.get("SPARK_GRAFT_SKIP_SCALING", "") == "1"
# Hard wall for the scaling section: quiet-gate waits (up to ~10 min
# each) times 6 rounds can otherwise stretch a bench past 2h.  Once the
# deadline passes, no NEW round/attempt starts; whatever rounds exist
# are reported (a round in flight is never cut short).
SCALING_DEADLINE_SEC = float(
    os.environ.get("SPARK_GRAFT_SCALING_DEADLINE_SEC", "3600")
)

# Bench-only session conf: shuffle/spill on tmpfs removes disk-writeback
# stalls from timing runs.  Deliberately NOT a build_session default —
# a library default of tmpfs would make large jobs consume RAM instead
# of spilling to disk (ADVICE r1).
BENCH_CONF = {
    "spark.local.dir": os.environ.get(
        "SPARK_LOCAL_DIRS", "/dev/shm/spark-local"
    ),
    # The console progress bar writes \r-terminated fragments to stderr
    # with no trailing newline; in a merged stdout+stderr capture (how
    # the driver records the run) a leftover fragment glues itself to
    # the FRONT of the final summary line and breaks its JSON parse.
    "spark.ui.showConsoleProgress": "false",
}

HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "topk_orders",
    "page_assembly",
    "sessionize",
    "grid_rank",
    "overlap_pairs",
    "containment_pairs",
    "ship_window_pairs",
    "classify_counts",
    "union_dedup",
    "levenshtein_arbitration",
    "dedup_exact",
    "minhash_pairs",
    "simhash_buckets",
    "cosine_topk",
    "token_stats",
    "fingerprint",
    "boilerplate_strip",
    "boilerplate_cetd",
    "mix_interleave",
    "ocr_route",
    "ocr_route_report",
    "position_rank",
    "dual_arbitrate",
    "dual_extract",
    "quality_score",
    "table_cells",
    "table_export",
    "pad_plan",
    "media_bg_mode",
    "viz_overlay",
    "decontaminate",
    "pack_chunks",
    "flagship_extract",
    "flagship_simple",
]


def _headline_names() -> list[str]:
    """Curated order first, then every other registered query appended
    (sorted) — the bench must never silently omit an operator."""
    from latyas_spark.relational.registry import queries

    rest = sorted(set(queries()) - set(HEADLINE))
    return HEADLINE + rest


def _materialize(df) -> int:
    # noop sink: full materialization, no IO, no column pruning shortcut
    df.write.format("noop").mode("overwrite").save()
    return 0


def _bench_queries(spark) -> dict:
    from latyas_spark.relational.registry import queries

    qs = queries()
    # JIT/codegen warm-up so the first headline query doesn't absorb
    # session start costs (~5s measured on pricing_summary)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().write.format("noop").mode("overwrite").save()
    # Two full passes, min per query.  The first execution of a query
    # absorbs its own codegen/JIT + broadcast-build cost (measured
    # 3-5x noise on join-heavy plans: dual_arbitrate 14.2s cold vs
    # 2.9s warm, same host) — engine comparisons want the repeatable
    # number, and cold costs amortize over any real multi-batch run.
    # The passes are SEPARATED (not back-to-back per query) so one
    # transient stall (GC pause, writeback burst) can't hit both
    # samples of the same query.
    out = {}
    for _pass in range(2):
        for name in _headline_names():
            fn = qs[name]
            t0 = time.perf_counter()
            _materialize(fn(spark, SF_DIR))
            dt = round(time.perf_counter() - t0, 3)
            out[name] = min(out.get(name, dt), dt)
    return out


CORPUS_VERSION = 4  # bump when fixtures.py generation changes


def _fixture_corpus(n_docs: int) -> str:
    """Generate (once, in parallel via Spark) the bench corpus."""
    d = f"/tmp/latyas_bench_corpus_{n_docs}_v{CORPUS_VERSION}"
    marker = os.path.join(d, ".complete")
    if not os.path.exists(marker):
        from latyas_spark.fixtures import write_corpus_spark
        from latyas_spark.pipeline.session import build_session

        spark = build_session(master=f"local[{CPUS}]", app_name="bench-gen", extra_conf=BENCH_CONF)
        try:
            write_corpus_spark(spark, d, n_docs=n_docs, mega_every=1999)
        finally:
            spark.stop()
        with open(marker, "w") as f:
            f.write("ok")
        # force writeback NOW: the freshly-written ~1GB corpus otherwise
        # flushes lazily for minutes, competing with the first timed
        # runs (measured: first two masters ~2x slower before this)
        os.sync()
    return d


class _RateMonitor:
    """Samples single-core busy-loop throughput DURING a timed run.

    The pre-run quiet gate cannot catch a noisy-neighbor episode that
    starts mid-run (observed: a local[16] wall 2.4x its clean value
    with clean gates on both sides).  A driver thread burns one core
    for 0.25s every 2s; the AVERAGE sampled rate exposes CPU theft
    inside the window (the minimum is recorded too but is scheduler-
    jitter-noisy once 16+ cores are busy, so it doesn't gate).  Only
    meaningful when the Spark run leaves spare
    cores (master width < host cores): at local[32] the monitor
    contends with the job itself, so callers skip it there.
    """

    def __init__(self):
        import threading

        self.samples = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            t_end = time.perf_counter() + 0.25
            n = 0
            x = 1.0
            while time.perf_counter() < t_end:
                for _ in range(5000):
                    x = x * 1.0000001 + 0.5
                n += 5000
            self.samples.append(n / 0.25 / 1e6)
            self._stop.wait(2.0)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    def stats(self) -> dict:
        if not self.samples:
            return {"min": None, "avg": None}
        return {
            "min": round(min(self.samples), 1),
            "avg": round(sum(self.samples) / len(self.samples), 1),
        }


def _run_extraction(
    master: str, corpus: str, n_docs: int, n_timed: int = 2,
    monitor: bool = False, feed: str = "direct",
) -> dict:
    """Fresh session at the given parallelism; returns docs/sec.

    One full warm-up run (JVM JIT + python worker pool + page cache —
    mirrors the reference's warm-up exclusion, det_model/
    inference.py:117-121), then timed runs (best-of-n): the sandbox
    VM shows multi-second noise spikes, and a truncated warm-up
    (limit(64)) was measured to leave the first full run ~2x slower.
    ``monitor=True`` samples host single-core speed during the timed
    window (see _RateMonitor) and reports min/avg alongside.

    ``feed="direct"`` runs extract_spans over the raw parquet corpus
    (two repartition(doc_id) input exchanges per run); ``"warehouse"``
    first ingests into doc_id-bucketed tables (EXCLUDED from timing —
    the pay-once write-side cost, SURVEY §4.3) and times
    extract_from_warehouse, which plans with zero input exchange.
    """
    from latyas_spark.pipeline.extract import extract_spans
    from latyas_spark.pipeline.session import build_session

    spark = build_session(master=master, app_name=f"bench-{master}", extra_conf=BENCH_CONF)
    try:
        if feed == "warehouse":
            from latyas_spark.pipeline.warehouse import (
                extract_from_warehouse,
                ingest_corpus,
            )

            width = master[master.index("[") + 1 : master.index("]")]
            spans_t, blocks_t = ingest_corpus(
                spark, corpus, n_buckets=128, prefix=f"benchwh{width}",
                base_path=f"/tmp/latyas_bench_wh_{n_docs}_{width}",
            )
            _extract = lambda: extract_from_warehouse(  # noqa: E731
                spark, spans_t, blocks_t
            )
        else:
            docs = spark.read.parquet(f"{corpus}/documents.parquet")
            blocks = spark.read.parquet(f"{corpus}/layout_blocks.parquet")
            _extract = lambda: extract_spans(docs, blocks)  # noqa: E731
        _materialize(_extract())
        walls = []
        rate = {"min": None, "avg": None}
        if monitor:
            with _RateMonitor() as mon:
                for _ in range(n_timed):
                    t0 = time.perf_counter()
                    _materialize(_extract())
                    walls.append(time.perf_counter() - t0)
            rate = mon.stats()
        else:
            for _ in range(n_timed):
                t0 = time.perf_counter()
                _materialize(_extract())
                walls.append(time.perf_counter() - t0)
        wall = min(walls)
        return {"master": master, "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 2),
                "inrun_rate": rate}
    finally:
        spark.stop()


def _single_core_rate() -> float:
    """Quick 1.5s single-process busy-loop throughput (Miter/s)."""
    t_end = time.perf_counter() + 1.5
    n = 0
    x = 1.0
    while time.perf_counter() < t_end:
        for _ in range(10000):
            x = x * 1.0000001 + 0.5
        n += 10000
    return n / 1.5 / 1e6


# Host-speed thresholds (Miter/s, single-core busy loop): this VM runs
# ~26-30 clean; observed noisy-neighbor episodes drop it to ~10.
QUIET_NOMINAL = float(os.environ.get("SPARK_GRAFT_QUIET_NOMINAL", "26"))
# In-run validity floor, applied to the AVERAGE sampled rate of a run:
# the minimum sample is scheduler-jitter-noisy once 16+ cores are busy
# (observed: clean runs with min 16 but avg 24), while a genuine
# noisy-neighbor episode drags the average down for its whole duration.
RATE_FLOOR = QUIET_NOMINAL * 0.75
# ...but a DEEP minimum is theft, not jitter: contested windows show
# min samples of 0.1-2.8 Miter/s (>90% of the core stolen for 0.25s+)
# while tripling Spark walls, and the average alone can still clear
# the floor when the theft is bursty (observed: avg 20.4, min 1.3,
# local[16] wall 3.5x its clean value).  Jitter on a busy host bottoms
# out around 5-8; anything below RATE_MIN_FLOOR invalidates the run.
RATE_MIN_FLOOR = float(os.environ.get("SPARK_GRAFT_RATE_MIN_FLOOR", "4"))


def _rate_ok(rate: dict, width: int | None = None) -> bool:
    """A leg's in-run host-speed samples pass iff the average clears
    the floor and no sample dropped into theft territory.

    ``width`` = the leg's master width.  When the job occupies every
    host core (width >= host cores), the sampler thread timeshares
    with a Spark worker instead of landing on an idle core, so its
    samples read ~50% of true host speed on a perfectly clean host
    (observed: quiet gate 26.7 -> in-run avg 15.3 at local[32] while
    the leg itself hit full 19.8k docs/sec throughput).  Gating a
    full-width leg on the un-adjusted floor can therefore NEVER pass
    — the r2 run marked a clean 0.908 secondary pair "invalid" this
    way.  Full-width legs get a contention-halved average floor; the
    theft floor (RATE_MIN_FLOOR) still applies unchanged, and caught
    the genuinely-stolen attempt 0 (min 0.5)."""
    host = os.cpu_count() or 32
    floor = RATE_FLOOR * 0.5 if (width is not None and width >= host) else RATE_FLOOR
    return (
        rate.get("avg") is not None
        and rate["avg"] >= floor
        and rate.get("min") is not None
        and rate["min"] >= RATE_MIN_FLOOR
    )


def _wait_for_quiet(nominal: float = QUIET_NOMINAL, attempts: int = 20) -> float:
    """Scaling runs are meaningless under noisy-neighbor CPU theft (one
    observed episode dropped the host to ~10 vs ~27 Miter/s and tripled
    a timed wall).  Gate each timed section on single-core throughput
    reaching ``nominal`` Miter/s; waiting out an episode (up to ~10
    min) is far cheaper than a wasted 10-minute round.  The in-run
    monitor (_RateMonitor) covers episodes that start mid-run.
    """
    rate = _single_core_rate()
    for _ in range(attempts):
        if rate >= nominal:
            break
        time.sleep(30)
        rate = _single_core_rate()
    return round(rate, 1)


def _cpu_ceiling() -> dict:
    """Platform parallel-compute ceiling, independent of Spark: aggregate
    throughput of K pure-python busy loops.  The VM's all-core
    throughput droops above ~16 busy cores (frequency scaling), which
    bounds ANY embarrassingly-parallel job's 8->32 efficiency; this
    measurement separates that platform effect from pipeline scaling."""
    import multiprocessing as mp

    def burn(q):
        t_end = time.perf_counter() + 4.0
        n = 0
        x = 1.0
        while time.perf_counter() < t_end:
            for _ in range(10000):
                x = x * 1.0000001 + 0.5
            n += 10000
        q.put(n)

    out = {}
    for k in (4, 8, 16, 32):
        q = mp.Queue()
        ps = [mp.Process(target=burn, args=(q,)) for _ in range(k)]
        [p.start() for p in ps]
        total = sum(q.get() for _ in ps)
        [p.join() for p in ps]
        out[str(k)] = round(total / 4.0 / 1e6, 1)
    out["ceiling_4_16"] = round(out["16"] / out["4"] / 4.0, 3)
    out["ceiling_8_32"] = round(out["32"] / out["8"] / 4.0, 3)
    return out


def _write_report(result: dict) -> None:
    os.makedirs("BENCH", exist_ok=True)
    sc = result.get("scaling") or {}
    name = "BENCH/QUERIES.md" if SKIP_SCALING else "BENCH/BASELINE.md"
    lines = [
        f"# {name} — measured numbers (latest bench.py run)",
        "",
        f"- sf dir: `{SF_DIR}`, headline engine: `local[{CPUS}]`",
        "- query timings are steady-state: the full list runs in two "
        "SEPARATED passes (min per query), so one transient stall (GC "
        "window, writeback burst) cannot hit both samples of a query; "
        "cold-start costs (codegen/JIT, broadcast build) amortize over "
        "any real multi-batch run and are excluded by design",
        f"- extraction corpora (crc32-seeded, FIXTURES.md §1-2): "
        f"{BENCH_DOCS} docs for the 4->16 pair, "
        f"{sc.get('wide_corpus_docs', BENCH_DOCS_WIDE)} docs for the "
        "8->32 pair — sized so every timed wall is >= ~45s (short walls "
        "are overhead-dominated and under-measure scaling; round-1's "
        "11.8s local[32] wall produced a spurious 0.525 for 8->32, the "
        "identical pipeline at 960k docs measures ~0.94)",
        "",
        "## Extraction throughput — two parallelism levels "
        "(N vs 4N executor stand-in)",
        "",
        "| config | wall (s) | docs/sec |",
        "|---|---|---|",
    ]
    for r in sc.get("runs", []):
        lines.append(f"| {r['master']} | {r['wall_sec']} | {r['docs_per_sec']} |")
    if "efficiency" in sc:
        ceil = sc.get("cpu_ceiling", {})
        if sc.get("rounds"):
            lines += [
                "",
                "All N->4N rounds (gate metric = MEDIAN over rounds whose "
                "host speed was clean both at the pre-gate and throughout "
                "the run — validity decided by host speed only, never by "
                "the efficiency value; the median round's runs are tabled "
                "above):",
                "",
            ]
            for r in sc["rounds"]:
                lines.append(
                    f"- round {r['round']}: local[4] {r['wall_local4']}s, "
                    f"local[16] {r['wall_local16']}s, eff {r['efficiency']}, "
                    f"in-run host speed avg "
                    f"{r.get('inrun_avg_local4')}/{r.get('inrun_avg_local16')}"
                    f" (min {r.get('inrun_min_local4')}/"
                    f"{r.get('inrun_min_local16')}) Miter/s, "
                    + ("VALID" if r.get("valid") else "contested")
                )
        lines += [
            "",
            f"**Scaling efficiency N->4N (thr_16/thr_4)/4 = "
            f"{sc['efficiency']} (median of {sc.get('n_valid_rounds')} "
            f"valid rounds; best {sc.get('efficiency_best')}; "
            f"platform-adjusted {sc.get('efficiency_vs_ceiling')} vs the "
            "same-run busy-loop ceiling)** (required >= 0.8, "
            "BASELINE.json)",
            "",
            f"**Secondary pair 8->32: (thr_32/thr_8)/4 = "
            f"{sc.get('efficiency_8_32')}** at "
            f"{sc.get('wide_corpus_docs')} docs "
            f"({'clean window' if sc.get('secondary_valid') else 'CONTESTED window — rerun advised'}; "
            f"attempts: {sc.get('secondary_attempts')}).  "
            "Same-run platform "
            "context: aggregate throughput of K independent pure-python "
            f"busy loops (no Spark, no IO) measures {ceil.get('4')}/"
            f"{ceil.get('8')}/{ceil.get('16')}/{ceil.get('32')} Miter/s "
            f"at K=4/8/16/32 (ceilings {ceil.get('ceiling_4_16')} for "
            f"4->16, {ceil.get('ceiling_8_32')} for 8->32 — all-core "
            "frequency droop; Spark task mixes are less droop-sensitive "
            "than pure busy loops, so the pipeline can exceed this "
            "number).",
            "",
            "Full-width (local[32]) legs contend with the in-run host "
            "monitor, so single-run secondary numbers are noisy; the "
            "median-of-valid-attempts methodology and its measured "
            "results live in BENCH/SECONDARY.md.",
        ]
        whh = sc.get("warehouse_4_16")
        if whh:
            lines += [
                "",
                f"**Warehouse-fed 4->16 (the deployment-plan feed — the "
                f"north rule's input is an Iceberg bucket(N, doc_id) "
                f"table, which this doc_id-bucketed warehouse mirrors; "
                f"ingest excluded as the pay-once write cost): "
                f"(thr_16/thr_4)/4 = {whh['efficiency']}** "
                f"(median of {whh.get('n_valid', '?')} valid of "
                f"{len(whh.get('attempts', []))} attempts; "
                f"{'clean window' if whh.get('valid') else 'CONTESTED window'}; "
                f"local[4] {whh['wall_local4']}s / "
                f"{whh['thr_local4']} docs/sec, "
                f"local[16] {whh['wall_local16']}s / "
                f"{whh['thr_local16']} docs/sec).  The direct-parquet "
                "rounds above additionally pay a corpus-sized input "
                "shuffle per run that the deployment never pays.  "
                "Standalone paired re-measurements of this pair "
                "(direct + warehouse legs inside every host window) "
                "live in BENCH/SECONDARY.md.",
            ]
        wh = sc.get("warehouse_8_32")
        if wh:
            lines += [
                "",
                f"**Warehouse-fed 8->32 (the SURVEY §4.3 deployment plan: "
                f"doc_id-bucketed tables, ZERO input exchange; ingest "
                f"excluded as the pay-once write cost): "
                f"(thr_32/thr_8)/4 = {wh['efficiency']}** "
                f"({'clean window' if wh.get('valid') else 'CONTESTED window'}; "
                f"local[8] {wh['wall_local8']}s / "
                f"{wh['thr_local8']} docs/sec, "
                f"local[32] {wh['wall_local32']}s / "
                f"{wh['thr_local32']} docs/sec).  The bucketed feed "
                "removes ~7x of the shuffle-written bytes vs the direct "
                "feed (task-level event-log decomposition: "
                "BENCH/SCALING_PROFILE.md).",
                "",
                "Reading the warehouse pair: removing the input shuffle "
                "helps the NARROW leg proportionally more (shuffle cost "
                "is a larger share of its wall), so the warehouse "
                "baseline throughput at local[8] rises sharply while "
                "local[32] — already bound by single-host all-core "
                "droop (see the busy-loop ceiling) — barely moves; the "
                "ratio therefore DROPS even though both absolute legs "
                "improved or held.  On a real multi-host cluster the "
                "input-shuffle saving applies at every width, so this "
                "ratio compression is a single-host artifact: compare "
                "the warehouse legs' absolute docs/sec against the "
                "direct rounds, not only the 8->32 quotient.",
            ]
        lines += [
            "",
            "Run-to-run history of EVERY full scaling run (this file is "
            "regenerated per run; the history is append-only): "
            "BENCH/HISTORY.md.",
        ]
    lines += ["", "## Headline query timings (sec)", ""]
    for k, v in result["queries"].items():
        lines.append(f"- {k}: {v}")
    lines += ["", f"Total bench wall: {result['value']} {result['unit']}"]
    # A SKIP_SCALING run has no scaling sections — writing it to
    # BENCH/BASELINE.md would clobber the last full run's scaling
    # evidence, so query-only refreshes land in BENCH/QUERIES.md.
    with open(name, "w") as f:
        f.write("\n".join(lines) + "\n")
    # Every full scaling run also lands one line in the APPEND-ONLY
    # history log: BENCH/BASELINE.md is regenerated per run, so without
    # this the previous runs' medians would be silently discarded —
    # run-to-run noise is part of the evidence, not something to hide.
    if not SKIP_SCALING and sc and "efficiency" in sc:
        ceil = sc.get("cpu_ceiling", {})
        try:
            import subprocess

            rev = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or "unknown"
        except Exception:
            rev = "unknown"
        entry = (
            f"- {time.strftime('%Y-%m-%d %H:%M:%S')} (git {rev}): "
            f"N->4N median eff {sc['efficiency']} over "
            f"{sc.get('n_valid_rounds')} valid rounds "
            f"(all rounds: "
            + ", ".join(
                f"{r['efficiency']}{'' if r.get('valid') else ' contested'}"
                for r in sc.get("rounds", [])
            )
            + f", warehouse-fed {sc.get('efficiency_4_16_wh')}, "
            f"ceiling {ceil.get('ceiling_4_16')}); "
            f"8->32 eff {sc.get('efficiency_8_32')} "
            f"(ceiling {ceil.get('ceiling_8_32')}, "
            f"warehouse-fed {sc.get('efficiency_8_32_wh')}); "
            f"local[32] {sc.get('thr_local32')} docs/sec"
        )
        hist = "BENCH/HISTORY.md"
        fresh = not os.path.exists(hist)
        with open(hist, "a") as f:
            if fresh:
                f.write(
                    "# BENCH/HISTORY.md — append-only log of every full "
                    "scaling run (none discarded)\n\n"
                )
            f.write(entry + "\n")


MAX_SUMMARY_LINE = 1900
# The line carries the SLOWEST N queries only (a stable rule, chosen
# over "drop until it fits" so registry growth never silently changes
# which queries appear): the slow tail is the actionable signal, the
# full per-query dict always lands in BENCH/last_run.json +
# BENCH/BASELINE.md, and `queries_omitted` states the cut explicitly.
SUMMARY_TOP_QUERIES = 50


def build_summary_line(qtimes: dict, total: float, sf_val, scaling) -> str:
    """One compact JSON line for stdout, <= MAX_SUMMARY_LINE chars.

    The driver keeps only the LAST 2000 characters of stdout, so the
    whole line must fit inside that window or the JSON head is cut off
    (exactly what nulled BENCH_r02's ``parsed``).  Timings are rounded
    to one decimal and capped to the SUMMARY_TOP_QUERIES slowest
    (ties broken by name for determinism); if the line still
    overflows, timings coarsen to integers and then the fastest of the
    kept set drop ten at a time — every scalar contract field always
    survives.
    """
    sc = scaling or {}
    by_slowest = sorted(qtimes, key=lambda k: (-qtimes[k], k))
    kept = by_slowest[:SUMMARY_TOP_QUERIES]
    summary = {
        "metric": "bench_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: round(qtimes[k], 1) for k in kept},
        "queries_omitted": len(qtimes) - len(kept),
        "sf": sf_val,
        "n_queries": len(qtimes),
        "extraction_docs_per_sec": sc.get("thr_local32"),
        "scaling_efficiency": sc.get("efficiency"),
        "efficiency_4_16_wh": sc.get("efficiency_4_16_wh"),
        "efficiency_8_32": sc.get("efficiency_8_32"),
        "efficiency_8_32_wh": sc.get("efficiency_8_32_wh"),
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > MAX_SUMMARY_LINE:
        summary["queries"] = {k: int(round(qtimes[k])) for k in kept}
        line = json.dumps(summary, separators=(",", ":"))
        while len(line) > MAX_SUMMARY_LINE and summary["queries"]:
            kept = kept[: max(len(summary["queries"]) - 10, 0)]
            summary["queries"] = {k: int(round(qtimes[k])) for k in kept}
            summary["queries_omitted"] = len(qtimes) - len(kept)
            line = json.dumps(summary, separators=(",", ":"))
    return line


def main() -> None:
    t_start = time.perf_counter()

    from latyas_spark.pipeline.session import build_session

    spark = build_session(master=f"local[{CPUS}]", app_name="bench-headline", extra_conf=BENCH_CONF)
    try:
        qtimes = _bench_queries(spark)
    finally:
        spark.stop()

    scaling = None
    if not SKIP_SCALING:
        corpus = _fixture_corpus(BENCH_DOCS)
        # The headline N->4N pair is measured as adjacent (local[4],
        # local[16]) rounds; the gate metric is the MEDIAN over VALID
        # rounds (best-of-N on a noisy metric is upward selection bias
        # on exactly the gated number — ADVICE r1).  A round is valid
        # iff its pre-run quiet gate passed AND the in-run host-speed
        # monitor (one 0.25s single-core sample every 2s, on the cores
        # the 4/16-wide job leaves idle) never dipped below RATE_FLOOR
        # — validity is decided by host speed alone, never by the
        # efficiency value.  Up to 6 rounds run until 3 are valid; ALL
        # rounds, gates and in-run rates are recorded for audit.
        rounds = []
        quiet = {}
        t_scaling = time.perf_counter()
        for r in range(6):
            # time-box: keep ~40% of the deadline for the 8->32 pair;
            # round 0 always runs so there is always a reportable number
            if rounds and (
                time.perf_counter() - t_scaling > SCALING_DEADLINE_SEC * 0.6
            ):
                break
            quiet[f"round{r}"] = _wait_for_quiet()
            r4 = _run_extraction(
                "local[4]", corpus, BENCH_DOCS, n_timed=1, monitor=True
            )
            r16 = _run_extraction(
                "local[16]", corpus, BENCH_DOCS, n_timed=1, monitor=True
            )
            valid = (
                quiet[f"round{r}"] >= QUIET_NOMINAL
                and _rate_ok(r4["inrun_rate"], width=4)
                and _rate_ok(r16["inrun_rate"], width=16)
            )
            rounds.append(
                {
                    "round": r,
                    "thr_local4": r4["docs_per_sec"],
                    "thr_local16": r16["docs_per_sec"],
                    "wall_local4": r4["wall_sec"],
                    "wall_local16": r16["wall_sec"],
                    "inrun_min_local4": r4["inrun_rate"]["min"],
                    "inrun_min_local16": r16["inrun_rate"]["min"],
                    "inrun_avg_local4": r4["inrun_rate"]["avg"],
                    "inrun_avg_local16": r16["inrun_rate"]["avg"],
                    "valid": bool(valid),
                    "efficiency": round(
                        (r16["docs_per_sec"] / r4["docs_per_sec"]) / 4.0, 3
                    ),
                }
            )
            if sum(1 for x in rounds if x["valid"]) >= 3:
                break
        valid_rounds = [x for x in rounds if x["valid"]] or rounds
        by_eff = sorted(valid_rounds, key=lambda x: x["efficiency"])
        median = by_eff[len(by_eff) // 2]
        best = by_eff[-1]
        # Warehouse-fed 4->16 pair (single quiet-gated attempt): the
        # north rule's input is an Iceberg bucket(N, doc_id) table, so
        # the bucketed-warehouse feed IS the deployment plan — the
        # direct-parquet rounds above additionally pay an input shuffle
        # per run that the deployment never pays, and that shuffle is
        # what the single-host width droop amplifies.
        # Up to 3 attempts, early-out at 2 valid, median-of-valid — the
        # same anti-cherry-picking discipline as the direct rounds
        # (validity is decided by host speed ALONE, never by the
        # efficiency value).  Round 3 recorded a single contested-window
        # 0.753 as the operative number precisely because this pair had
        # no retry; the direct pair's multi-round median never had that
        # failure mode.
        wh_4_16 = None
        wh_attempts = []
        for wa in range(3):
            # INTENTIONAL: attempt 0 runs even past SCALING_DEADLINE_SEC
            # — this pair is the deployment-plan gate metric and must
            # exist in every BENCH artifact (round 3 shipped a single
            # contested-window number because this pair had no retry;
            # shipping NO number would be strictly worse).  Only the
            # retries are deadline-bounded.
            if wh_attempts and (
                time.perf_counter() - t_scaling > SCALING_DEADLINE_SEC
            ):
                break
            quiet[f"warehouse_4_16_a{wa}"] = _wait_for_quiet()
            w4 = _run_extraction(
                "local[4]", corpus, BENCH_DOCS, n_timed=1,
                monitor=True, feed="warehouse",
            )
            w16 = _run_extraction(
                "local[16]", corpus, BENCH_DOCS, n_timed=1,
                monitor=True, feed="warehouse",
            )
            wh_attempts.append(
                {
                    "attempt": wa,
                    "thr_local4": w4["docs_per_sec"],
                    "thr_local16": w16["docs_per_sec"],
                    "wall_local4": w4["wall_sec"],
                    "wall_local16": w16["wall_sec"],
                    "inrun_min_local4": w4["inrun_rate"]["min"],
                    "inrun_avg_local4": w4["inrun_rate"]["avg"],
                    "inrun_min_local16": w16["inrun_rate"]["min"],
                    "inrun_avg_local16": w16["inrun_rate"]["avg"],
                    "valid": bool(
                        quiet[f"warehouse_4_16_a{wa}"] >= QUIET_NOMINAL
                        and _rate_ok(w4["inrun_rate"], width=4)
                        and _rate_ok(w16["inrun_rate"], width=16)
                    ),
                    "efficiency": round(
                        (w16["docs_per_sec"] / w4["docs_per_sec"]) / 4.0, 3
                    ),
                }
            )
            if sum(1 for x in wh_attempts if x["valid"]) >= 2:
                break
        if wh_attempts:
            wh_valid = [x for x in wh_attempts if x["valid"]] or wh_attempts
            wh_by_eff = sorted(wh_valid, key=lambda x: x["efficiency"])
            wh_4_16 = dict(wh_by_eff[len(wh_by_eff) // 2])
            wh_4_16["attempts"] = wh_attempts
            wh_4_16["n_valid"] = sum(1 for x in wh_attempts if x["valid"])
        # Secondary pair 8->32 on the wide corpus so BOTH walls stay
        # >= ~45s (amortizing fixed costs; see BENCH_DOCS note above).
        # BOTH legs are monitored: at local[32] the sampler thread is
        # one 12.5%-duty core out of 32 (~0.4% perturbation) — cheap
        # insurance after an unmonitored local[32] leg let a stolen
        # window report efficiency 0.275 as "valid".
        corpus_wide = _fixture_corpus(BENCH_DOCS_WIDE)
        # PAIRED MODE (round-5): every attempt window measures BOTH
        # feeds — direct legs, then warehouse legs (doc_id-bucketed
        # tables; the kernel's input Exchange disappears, ~7x less
        # shuffle written, BENCH/SCALING_PROFILE.md; this is the plan a
        # 100 TB deployment runs, SURVEY §4.3) — under ONE quiet gate,
        # so the direct-vs-warehouse comparison is never confounded by
        # window-to-window host drift (the round-3/4 failure mode:
        # single unpaired warehouse windows produced 0.582/0.667
        # against direct numbers from DIFFERENT windows).
        attempts_8_32 = []
        for a in range(2):
            if attempts_8_32 and (
                time.perf_counter() - t_scaling > SCALING_DEADLINE_SEC
            ):
                break
            quiet[f"secondary{a}"] = _wait_for_quiet()
            r8 = _run_extraction(
                "local[8]", corpus_wide, BENCH_DOCS_WIDE, n_timed=1,
                monitor=True,
            )
            r32 = _run_extraction(
                "local[32]", corpus_wide, BENCH_DOCS_WIDE, n_timed=1,
                monitor=True,
            )
            w8 = _run_extraction(
                "local[8]", corpus_wide, BENCH_DOCS_WIDE, n_timed=1,
                monitor=True, feed="warehouse",
            )
            w32 = _run_extraction(
                "local[32]", corpus_wide, BENCH_DOCS_WIDE, n_timed=1,
                monitor=True, feed="warehouse",
            )
            a_valid = (
                quiet[f"secondary{a}"] >= QUIET_NOMINAL
                and _rate_ok(r8["inrun_rate"], width=8)
                and _rate_ok(r32["inrun_rate"], width=32)
            )
            wh_valid = (
                quiet[f"secondary{a}"] >= QUIET_NOMINAL
                and _rate_ok(w8["inrun_rate"], width=8)
                and _rate_ok(w32["inrun_rate"], width=32)
            )
            attempts_8_32.append(
                {
                    "attempt": a,
                    "r8": r8,
                    "r32": r32,
                    "w8": w8,
                    "w32": w32,
                    "valid": bool(a_valid),
                    "wh_valid": bool(wh_valid),
                    "efficiency": round(
                        (r32["docs_per_sec"] / r8["docs_per_sec"]) / 4.0, 3
                    ),
                    "wh_efficiency": round(
                        (w32["docs_per_sec"] / w8["docs_per_sec"]) / 4.0, 3
                    ),
                }
            )
            if a_valid and wh_valid:
                break
        chosen = next(
            (x for x in attempts_8_32 if x["valid"] and x["wh_valid"]),
            next((x for x in attempts_8_32 if x["valid"]),
                 attempts_8_32[-1]),
        )
        r8, r32 = chosen["r8"], chosen["r32"]
        w8, w32 = chosen["w8"], chosen["w32"]
        wh_pair = {
            "thr_local8": w8["docs_per_sec"],
            "thr_local32": w32["docs_per_sec"],
            "wall_local8": w8["wall_sec"],
            "wall_local32": w32["wall_sec"],
            "inrun_min_local8": w8["inrun_rate"]["min"],
            "inrun_avg_local8": w8["inrun_rate"]["avg"],
            "inrun_min_local32": w32["inrun_rate"]["min"],
            "inrun_avg_local32": w32["inrun_rate"]["avg"],
            "valid": chosen["wh_valid"],
            "paired_with_direct_attempt": chosen["attempt"],
            "efficiency": chosen["wh_efficiency"],
        }
        scaling = {
            "rounds": rounds,
            "median_round": median["round"],
            "best_round": best["round"],
            "runs": [
                {"master": "local[4]", "wall_sec": median["wall_local4"],
                 "docs_per_sec": median["thr_local4"]},
                {"master": "local[8]", "wall_sec": r8["wall_sec"],
                 "docs_per_sec": r8["docs_per_sec"]},
                {"master": "local[16]", "wall_sec": median["wall_local16"],
                 "docs_per_sec": median["thr_local16"]},
                {"master": "local[32]", "wall_sec": r32["wall_sec"],
                 "docs_per_sec": r32["docs_per_sec"]},
            ],
            "thr_local4": median["thr_local4"],
            "thr_local16": median["thr_local16"],
            "thr_local8": r8["docs_per_sec"],
            "thr_local32": r32["docs_per_sec"],
            "efficiency": median["efficiency"],
            "efficiency_best": best["efficiency"],
            "n_valid_rounds": sum(1 for x in rounds if x["valid"]),
            "efficiency_8_32": chosen["efficiency"],
            "secondary_valid": chosen["valid"],
            "secondary_attempts": [
                {"attempt": x["attempt"], "valid": x["valid"],
                 "efficiency": x["efficiency"],
                 "wh_valid": x["wh_valid"],
                 "wh_efficiency": x["wh_efficiency"],
                 "thr_local8": x["r8"]["docs_per_sec"],
                 "thr_local32": x["r32"]["docs_per_sec"],
                 "wh_thr_local8": x["w8"]["docs_per_sec"],
                 "wh_thr_local32": x["w32"]["docs_per_sec"],
                 "inrun_min_local8": x["r8"]["inrun_rate"]["min"],
                 "inrun_avg_local8": x["r8"]["inrun_rate"]["avg"],
                 "inrun_min_local32": x["r32"]["inrun_rate"]["min"],
                 "inrun_avg_local32": x["r32"]["inrun_rate"]["avg"]}
                for x in attempts_8_32
            ],
            "wide_corpus_docs": BENCH_DOCS_WIDE,
            "warehouse_4_16": wh_4_16,
            "efficiency_4_16_wh": (wh_4_16 or {}).get("efficiency"),
            "warehouse_8_32": wh_pair,
            "efficiency_8_32_wh": (wh_pair or {}).get("efficiency"),
            "cpu_ceiling": _cpu_ceiling(),
            "quiet_gate_miters": quiet,
        }
        # Supplementary, platform-adjusted view: the same-run busy-loop
        # ceiling is what an embarrassingly-parallel job could scale to
        # in this window; efficiency/ceiling separates pipeline scaling
        # from host frequency droop + neighbor load.
        ceil = scaling["cpu_ceiling"]
        if ceil.get("ceiling_4_16"):
            scaling["efficiency_vs_ceiling"] = round(
                scaling["efficiency"] / ceil["ceiling_4_16"], 3
            )
        if ceil.get("ceiling_8_32"):
            scaling["efficiency_8_32_vs_ceiling"] = round(
                scaling["efficiency_8_32"] / ceil["ceiling_8_32"], 3
            )

    total = round(time.perf_counter() - t_start, 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    result = {
        "metric": "bench_total_wall",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": sf_val,
        "extraction_docs_per_sec": (scaling or {}).get("thr_local32"),
        "scaling_efficiency": (scaling or {}).get("efficiency"),
        "scaling": scaling,
    }
    _write_report(result)
    # Full detail (nested scaling rounds/attempts) goes to a file; the
    # round-2 driver could not parse BENCH_r02.json because the single
    # stdout line grew past its tail-capture buffer and was cut
    # mid-line.  Stdout gets ONE compact JSON line: the contract fields
    # (metric/value/unit/queries/sf) plus flat scaling scalars only.
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/last_run.json", "w") as f:
        json.dump(result, f, indent=1)
    line = build_summary_line(qtimes, total, sf_val, scaling)
    # Leading newline: terminate any straggling \r-fragment another
    # writer left on the merged stream so the JSON starts at column 0
    # of its own line.
    print("\n" + line, flush=True)


if __name__ == "__main__":
    main()
