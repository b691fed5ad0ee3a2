"""Bench harness (driver contract).

Times every registered relational query at $SPARK_GRAFT_SF_DIR on
local[N] (N = $SPARK_GRAFT_CPUS, default: this host's core count), then
measures flagship extraction throughput at two widths on the same
corpus, local[max(1, N // 4)] -> local[N] (the sandbox stand-in for
N- and 4N-executor clusters), on both feeds: the direct parquet corpus
and the doc_id-bucketed warehouse.  Scaling efficiency is
(thr_wide / thr_narrow) / (wide / narrow), required >= 0.8 by
BASELINE.json.

Prints ONE JSON line and refreshes BENCH/ (BASELINE.md, or QUERIES.md
when there is no scaling section; HISTORY.md gains one line per run
with a scaling section).

    SPARK_GRAFT_CPUS=4 SPARK_LOCAL_DIRS=/tmp/spark-local python bench.py
    SPARK_GRAFT_SKIP_SCALING=1 python bench.py     # queries only
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
SKIP_SCALING = os.environ.get("SPARK_GRAFT_SKIP_SCALING", "") == "1"
# Corpus docs per host core: on a 4-core host the 40k-doc corpus gives
# narrow-leg (local[1]) timed walls of ~33s direct and ~64s warehouse.
# Short walls are overhead-dominated and under-measure scaling.
DOCS_PER_CORE = 10_000
ROUNDS = 3

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


def scaling_pair(cpus: int) -> tuple[int, int] | None:
    """(narrow, wide) executor widths N/4 -> N, or None when the host
    is too narrow for two distinct widths."""
    narrow = max(1, cpus // 4)
    return None if narrow == cpus else (narrow, cpus)


def _materialize(df) -> None:
    # noop sink: full materialization, no IO, no column pruning shortcut
    df.write.format("noop").mode("overwrite").save()


def _bench_queries(spark) -> dict:
    from latyas_spark.relational.registry import queries

    qs = queries()
    # JIT/codegen warm-up so the first query doesn't absorb session
    # start costs (~5s measured on pricing_summary)
    _materialize(
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag").count()
    )
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
        for name in sorted(qs):
            t0 = time.perf_counter()
            _materialize(qs[name](spark, SF_DIR))
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
        # force writeback now, so the freshly-written corpus does not
        # flush lazily during the first timed runs
        os.sync()
    return d


def _run_extraction(width: int, corpus: str, n_docs: int, feed: str) -> dict:
    """Fresh local[width] session: one full warm-up run (JVM JIT +
    python worker pool + page cache — mirrors the reference's warm-up
    exclusion, det_model/inference.py:117-121), then one timed run.

    ``feed="direct"`` runs extract_spans over the raw parquet corpus
    (two repartition(doc_id) input exchanges per run); ``"warehouse"``
    first ingests into doc_id-bucketed tables (EXCLUDED from timing —
    the pay-once write-side cost, SURVEY §4.3) and times
    extract_from_warehouse, which plans with zero input exchange.
    """
    from latyas_spark.pipeline.extract import extract_spans
    from latyas_spark.pipeline.session import build_session

    spark = build_session(master=f"local[{width}]", app_name=f"bench-{feed}-{width}", extra_conf=BENCH_CONF)
    try:
        if feed == "warehouse":
            from latyas_spark.pipeline.warehouse import (
                extract_from_warehouse,
                ingest_corpus,
            )

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
        t0 = time.perf_counter()
        _materialize(_extract())
        wall = time.perf_counter() - t0
        return {"wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 2)}
    finally:
        spark.stop()


def _measure_scaling(
    corpus: str, n_docs: int, feed: str, narrow: int, wide: int
) -> dict:
    """ROUNDS adjacent (narrow, wide) rounds on one feed; the result is
    the MEDIAN round by efficiency (best-of-N on a noisy metric is
    upward selection bias on exactly the gated number — ADVICE r1), and
    every round is recorded."""
    rounds = []
    for r in range(ROUNDS):
        n = _run_extraction(narrow, corpus, n_docs, feed)
        w = _run_extraction(wide, corpus, n_docs, feed)
        rounds.append({
            "round": r,
            "wall_narrow": n["wall_sec"], "wall_wide": w["wall_sec"],
            "thr_narrow": n["docs_per_sec"], "thr_wide": w["docs_per_sec"],
            "efficiency": round(
                (w["docs_per_sec"] / n["docs_per_sec"]) / (wide / narrow), 3
            ),
        })
    median = sorted(rounds, key=lambda x: x["efficiency"])[len(rounds) // 2]
    return {**median, "rounds": rounds}


def _git_rev() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def _write_report(result: dict, out_dir: str) -> None:
    """Write the run's BENCH files into ``out_dir``: last_run.json, then
    BASELINE.md plus one appended HISTORY.md line when the run has a
    scaling section, else QUERIES.md only (a query-only run must not
    clobber the last full run's scaling evidence)."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "last_run.json"), "w") as f:
        json.dump(result, f, indent=1)
    sc = result.get("scaling")
    name = "BASELINE.md" if sc else "QUERIES.md"
    lines = [
        f"# BENCH/{name} — measured numbers (latest bench.py run)",
        "",
        f"- sf dir: `{result['sf_dir']}`, query engine: "
        f"`local[{result['cpus']}]`",
        "- query timings are steady-state: the full list runs in two "
        "SEPARATED passes (min per query); cold-start costs "
        "(codegen/JIT, broadcast build) are excluded by design",
    ]
    if sc:
        lines += [
            f"- extraction corpus: {sc['corpus_docs']} docs "
            f"({DOCS_PER_CORE} per core, crc32-seeded, FIXTURES.md §1-2); "
            "each leg is a fresh session, one warm-up run, one timed run",
            "",
            f"## Extraction scaling {sc['pair']} "
            f"(host cores: {sc['host_cpus']})",
            "",
            "Efficiency = (thr_wide / thr_narrow) / "
            f"{sc['wide'] / sc['narrow']:g}; the reported value is the "
            "median round (required >= 0.8, BASELINE.json).",
            "",
            "| feed | round | narrow wall (s) | wide wall (s) "
            "| narrow docs/s | wide docs/s | efficiency |",
            "|---|---|---|---|---|---|---|",
        ]
        for feed in ("direct", "warehouse"):
            for r in sc[feed]["rounds"]:
                lines.append(
                    f"| {feed} | {r['round']} | {r['wall_narrow']} | "
                    f"{r['wall_wide']} | {r['thr_narrow']} | "
                    f"{r['thr_wide']} | {r['efficiency']} |"
                )
        lines += [
            "",
            f"**Median efficiency: direct {sc['direct']['efficiency']}, "
            f"warehouse {sc['warehouse']['efficiency']}.**  The warehouse "
            "feed (doc_id-bucketed tables, the Iceberg bucket(N, doc_id) "
            "stand-in; ingest excluded as the pay-once write cost) plans "
            "with zero input exchange.  One line per run: BENCH/HISTORY.md.",
        ]
    lines += ["", "## Query timings (sec)", ""]
    lines += [f"- {k}: {v}" for k, v in result["queries"].items()]
    lines += ["", f"Total bench wall: {result['value']} {result['unit']}"]
    with open(os.path.join(out_dir, name), "w") as f:
        f.write("\n".join(lines) + "\n")
    if not sc:
        return
    entry = (
        f"- {time.strftime('%Y-%m-%d %H:%M:%S')} (git {_git_rev()}): "
        f"{sc['pair']} on a {sc['host_cpus']}-core host, "
        f"{sc['corpus_docs']} docs: median eff direct "
        f"{sc['direct']['efficiency']}, warehouse "
        f"{sc['warehouse']['efficiency']} (rounds: direct "
        + ", ".join(str(r["efficiency"]) for r in sc["direct"]["rounds"])
        + "; warehouse "
        + ", ".join(str(r["efficiency"]) for r in sc["warehouse"]["rounds"])
        + f"); local[{sc['wide']}] direct {sc['direct']['thr_wide']} docs/sec"
    )
    hist = os.path.join(out_dir, "HISTORY.md")
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

    The 4->16 warehouse and 8->32 keys belong to retired 32-core pairs
    and stay in the line as null so existing parsers keep working.
    """
    sc = scaling or {}
    direct = sc.get("direct") or {}
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
        "extraction_docs_per_sec": direct.get("thr_wide"),
        "scaling_efficiency": direct.get("efficiency"),
        "efficiency_4_16_wh": None,
        "efficiency_8_32": None,
        "efficiency_8_32_wh": None,
        "scaling_pair": sc.get("pair"),
        "efficiency_wh": (sc.get("warehouse") or {}).get("efficiency"),
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

    spark = build_session(master=f"local[{CPUS}]", app_name="bench-queries", extra_conf=BENCH_CONF)
    try:
        qtimes = _bench_queries(spark)
    finally:
        spark.stop()

    scaling = None
    pair = None if SKIP_SCALING else scaling_pair(CPUS)
    if pair:
        narrow, wide = pair
        n_docs = DOCS_PER_CORE * CPUS
        corpus = _fixture_corpus(n_docs)
        scaling = {
            "pair": f"local[{narrow}]->local[{wide}]",
            "narrow": narrow,
            "wide": wide,
            "host_cpus": os.cpu_count(),
            "corpus_docs": n_docs,
        }
        for feed in ("direct", "warehouse"):
            scaling[feed] = _measure_scaling(corpus, n_docs, feed, narrow, wide)

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
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "scaling": scaling,
    }
    _write_report(result, "BENCH")
    line = build_summary_line(qtimes, total, sf_val, scaling)
    # Leading newline: terminate any straggling \r-fragment another
    # writer left on the merged stream so the JSON starts at column 0
    # of its own line.
    print("\n" + line, flush=True)


if __name__ == "__main__":
    main()
