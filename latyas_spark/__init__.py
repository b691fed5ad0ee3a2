"""latyas_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the extraction *semantics* of
quantmew/LATYAS (layout classification, overlap merge, XY-cut reading
order, interleaved text/equation splitting, emission rules) as
vectorized pandas/Arrow kernels over Spark DataFrames of interleaved
text+media span documents:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

The ML detector/OCR stages of the reference are pluggable model calls;
here they are replaced by deterministic span-derived equivalents so the
whole operator DAG (classify -> merge -> containment -> route -> reflow
-> emit) is exactly testable without GPUs.  Reference citations in
docstrings point into /root/reference (read-only) so parity can be
audited file:line by file:line; no reference code is copied.
"""

from latyas_spark import zipcache

__version__ = "0.1.0"

# Every Python worker that unpickles a kernel imports this package, so
# this is where the per-task zipimport re-parse is removed for them.
zipcache.install()
