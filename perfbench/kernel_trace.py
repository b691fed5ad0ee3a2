"""Single-core kernel trace, no Spark.

Feeds a workload's kernel partitions, read with pyarrow, through the
same functions ``extract_spans`` hands to ``mapInPandas``, once plain
and once with timing wrappers installed on the stage names
``latyas_spark.core.document`` calls.  The wrappers are installed from
here and removed afterwards; nothing in the library changes.
"""

from __future__ import annotations

import glob
import time
from contextlib import contextmanager
from typing import Callable, Dict, Iterator, List, Tuple

import pandas as pd
import pyarrow.parquet as pq

from latyas_spark.core import blocktypes, document, mixkernel
from latyas_spark.core.document import DEFAULT_CONFIG
from latyas_spark.pipeline import extract

# metric suffix -> (module whose attribute extract_page looks up, name)
STAGES = {
    "classify": (blocktypes, "kinds_from_labels"),
    "overlap_merge": (document, "overlap_merge"),
    "texmix": (document, "compose_text_with_equations"),
    "gather": (document, "gather_text_batch"),
    "xycut": (document, "xy_cut_order"),
}


class _StageClock:
    def __init__(self) -> None:
        self.seconds: Dict[str, float] = {k: 0.0 for k in STAGES}
        self.page_s = 0.0
        self.pages = 0
        self.spans_out = 0
        self.swept = 0
        self.merge_pages = 0
        self.texmix_pages = 0
        self._merged = False
        self._texmix = False

    def stage(self, key: str, fn: Callable) -> Callable:
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.seconds[key] += time.perf_counter() - t0
            if key == "overlap_merge":
                self.swept += 1
                self._merged |= len(out[0]) < len(args[4])
            elif key == "texmix":
                self._texmix = True
            return out
        return timed

    def page(self, fn: Callable) -> Callable:
        def timed(*args, **kwargs):
            self._merged = self._texmix = False
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.page_s += time.perf_counter() - t0
            self.pages += 1
            self.spans_out += len(out)
            self.merge_pages += self._merged
            self.texmix_pages += self._texmix
            return out
        return timed


@contextmanager
def _wrapped() -> Iterator[_StageClock]:
    clock = _StageClock()
    saved: List[Tuple[object, str, Callable]] = []
    targets = [(mod, name, clock.stage(key, getattr(mod, name)))
               for key, (mod, name) in STAGES.items()]
    targets.append((extract, "extract_page", clock.page(extract.extract_page)))
    try:
        for mod, name, wrapper in targets:
            saved.append((mod, name, getattr(mod, name)))
            setattr(mod, name, wrapper)
        yield clock
    finally:
        for mod, name, original in saved:
            setattr(mod, name, original)


def load_partitions(doc_dir: str, page_dir: str) -> List[Tuple[Callable, pd.DataFrame]]:
    """(kernel fn, partition frame) pairs: normal docs go through the
    doc-mode kernel, mega-doc rows through the page-mode kernel, as
    ``extract_spans_flat`` routes them."""
    out = []
    for path, make in ((doc_dir, extract._doc_mode_kernel),
                       (page_dir, extract._page_mode_kernel)):
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            pdf = pq.read_table(f).to_pandas()
            if len(pdf):
                out.append((make(DEFAULT_CONFIG), pdf))
    return out


def _run(parts: List[Tuple[Callable, pd.DataFrame]]) -> float:
    t0 = time.perf_counter()
    for fn, pdf in parts:
        for _ in fn(iter([pdf])):
            pass
    return time.perf_counter() - t0


def trace_kernel(parts: List[Tuple[Callable, pd.DataFrame]]) -> Dict[str, float]:
    if not parts:
        raise ValueError("no kernel partitions to trace")
    rows = sum(len(pdf) for _, pdf in parts)
    _run(parts[:1])  # label memo and import warm-up
    # plain runs on both sides of the traced one: the faster of the two
    # is the untraced rate, so warm-up drift does not read as overhead
    plain_s = _run(parts)
    fallbacks0 = sum(mixkernel.KERNEL_FALLBACKS.values())
    with _wrapped() as clock:
        traced_s = _run(parts)
    plain_s = min(plain_s, _run(parts))
    stage_s = sum(clock.seconds.values())
    metrics = {
        "kernel.rows_per_s_core": rows / plain_s,
        "kernel.driver_s": traced_s - clock.page_s,
        "kernel.extract_page_s": clock.page_s,
        "kernel.page_self_s": clock.page_s - stage_s,
        "kernel.pages": clock.pages,
        "kernel.spans_out": clock.spans_out,
        "kernel.merge_active_frac": clock.merge_pages / max(clock.swept, 1),
        "kernel.texmix_page_frac": clock.texmix_pages / max(clock.pages, 1),
        "kernel.fallbacks": sum(mixkernel.KERNEL_FALLBACKS.values()) - fallbacks0,
        "trace.overhead_frac": traced_s / plain_s - 1.0,
    }
    for key, s in clock.seconds.items():
        metrics[f"kernel.{key}_s"] = s
    return metrics
