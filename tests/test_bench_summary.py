"""The bench summary line must survive the driver's tail capture.

The per-round driver records only the last 2000 characters of bench
stdout and parses the final JSON line out of that window; a line longer
than the window loses its head and parses to null (BENCH_r02).  These
tests pin build_summary_line against the REAL query registry so adding
a query can never silently push the line past the window again.  They
also pin the host-width scaling pair and which BENCH files a run
writes.
"""

from __future__ import annotations

import json
import os

import pytest

import bench
from latyas_spark.relational.registry import queries

DRIVER_TAIL_CHARS = 2000
REPO_HISTORY = os.path.join(
    os.path.dirname(os.path.abspath(bench.__file__)), "BENCH", "HISTORY.md"
)
PARENT_KEYS = {
    "metric", "value", "unit", "queries", "queries_omitted", "sf",
    "n_queries", "extraction_docs_per_sec", "scaling_efficiency",
    "efficiency_4_16_wh", "efficiency_8_32", "efficiency_8_32_wh",
}
RETIRED_KEYS = {"efficiency_4_16_wh", "efficiency_8_32", "efficiency_8_32_wh"}


def _feed_stub(eff: float, thr_wide: float) -> dict:
    rounds = [
        {"round": i, "wall_narrow": 40.0, "wall_wide": 20.0,
         "thr_narrow": 1000.0, "thr_wide": thr_wide, "efficiency": e}
        for i, e in enumerate((eff - 0.02, eff, eff + 0.03))
    ]
    return {**rounds[1], "rounds": rounds}


def _scaling_stub() -> dict:
    return {
        "pair": "local[1]->local[4]",
        "narrow": 1,
        "wide": 4,
        "host_cpus": 4,
        "corpus_docs": 40000,
        "direct": _feed_stub(0.869, 23456.78),
        "warehouse": _feed_stub(0.77, 2100.0),
    }


def _result_stub(scaling) -> dict:
    return {
        "metric": "bench_total_wall",
        "value": 321.0,
        "unit": "sec",
        "queries": {"pricing_summary": 1.5, "topk_orders": 0.7},
        "sf": 0.1,
        "sf_dir": "/data/sf0.1",
        "cpus": 4,
        "scaling": scaling,
    }


def test_summary_line_fits_tail_window_pessimistic():
    # Every registered query at a pessimistically wide timing value.
    qtimes = {name: 141.694 for name in queries()}
    line = bench.build_summary_line(qtimes, 5432.109, 0.1, _scaling_stub())
    assert len(line) + 2 <= DRIVER_TAIL_CHARS  # +2: leading \n + print's \n
    parsed = json.loads(line)
    assert parsed["metric"] == "bench_total_wall"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert parsed["n_queries"] == len(queries())
    assert parsed["scaling_efficiency"] == 0.869
    assert parsed["extraction_docs_per_sec"] == 23456.78


def test_summary_line_keeps_slowest_queries_and_states_the_cut():
    # The kept set is the SLOWEST-N by time (stable rule), the cut is
    # explicit in queries_omitted, and n_queries stays the full count.
    qtimes = {name: float(i) for i, name in enumerate(sorted(queries()))}
    line = bench.build_summary_line(qtimes, 321.0, 0.1, _scaling_stub())
    parsed = json.loads(line)
    want = set(
        sorted(qtimes, key=lambda k: (-qtimes[k], k))[
            : bench.SUMMARY_TOP_QUERIES
        ]
    )
    assert set(parsed["queries"]) == want
    assert parsed["queries_omitted"] == len(queries()) - len(want)
    assert parsed["n_queries"] == len(queries())
    assert len(line) + 2 <= DRIVER_TAIL_CHARS


def test_summary_line_degrades_rather_than_overflows():
    # 400 long-named queries cannot fit; the guard must drop timings,
    # never a contract scalar, and never exceed the window.
    qtimes = {f"extremely_long_query_name_{i:03d}": 99.9 for i in range(400)}
    line = bench.build_summary_line(qtimes, 1.0, 0.01, None)
    assert len(line) + 2 <= DRIVER_TAIL_CHARS
    parsed = json.loads(line)
    assert parsed["n_queries"] == 400
    assert parsed["value"] == 1.0
    assert "scaling_efficiency" in parsed


@pytest.mark.parametrize("scaling", [_scaling_stub(), None])
def test_summary_line_key_set_and_retired_pairs(scaling):
    # The parent's 12 keys plus exactly scaling_pair and efficiency_wh;
    # the retired 32-core pairs are present and null.
    parsed = json.loads(
        bench.build_summary_line({"q": 1.0}, 2.0, 0.1, scaling)
    )
    assert set(parsed) == PARENT_KEYS | {"scaling_pair", "efficiency_wh"}
    assert all(parsed[k] is None for k in RETIRED_KEYS)
    if scaling:
        assert parsed["scaling_pair"] == "local[1]->local[4]"
        assert parsed["efficiency_wh"] == 0.77
    else:
        assert parsed["scaling_pair"] is None
        assert parsed["scaling_efficiency"] is None


@pytest.mark.parametrize(
    "cpus,pair",
    [(1, None), (2, (1, 2)), (4, (1, 4)), (16, (4, 16)), (32, (8, 32))],
)
def test_scaling_pair_from_core_count(cpus, pair):
    assert bench.scaling_pair(cpus) == pair
    if pair:
        assert pair[1] == cpus and pair[1] / pair[0] == min(cpus, 4)


@pytest.fixture
def repo_history_unchanged():
    with open(REPO_HISTORY, "rb") as f:
        before = f.read()
    yield
    with open(REPO_HISTORY, "rb") as f:
        assert f.read() == before


def test_full_run_report_appends_one_history_line(tmp_path, repo_history_unchanged):
    bench._write_report(_result_stub(_scaling_stub()), str(tmp_path))
    rows = [
        line for line in (tmp_path / "HISTORY.md").read_text().splitlines()
        if line.startswith("- ")
    ]
    assert len(rows) == 1
    assert "local[1]->local[4] on a 4-core host" in rows[0]
    assert "median eff direct 0.869, warehouse 0.77" in rows[0]
    assert "git " in rows[0]
    baseline = (tmp_path / "BASELINE.md").read_text()
    assert "local[1]->local[4]" in baseline
    assert not (tmp_path / "QUERIES.md").exists()
    assert json.loads((tmp_path / "last_run.json").read_text())["cpus"] == 4


def test_query_only_report_writes_no_history(tmp_path, repo_history_unchanged):
    bench._write_report(_result_stub(None), str(tmp_path))
    assert "pricing_summary: 1.5" in (tmp_path / "QUERIES.md").read_text()
    assert not (tmp_path / "HISTORY.md").exists()
    assert not (tmp_path / "BASELINE.md").exists()
