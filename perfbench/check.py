"""Output check: a seeded sample of docs against the reference port.

Every sampled doc's emitted (kind, text, media_ref, order) sequence must
equal ``oracle.ref_port.extract_document_oracle`` over the same
``fixtures.doc_rows``; a missing doc is a mismatch.
"""

from __future__ import annotations

import random
from typing import Dict, Iterable, List, Tuple

from latyas_spark.fixtures import doc_rows
from latyas_spark.oracle.ref_port import extract_document_oracle

from workloads import Shape, doc_ids, is_mega

SAMPLE_NORMAL = 48
SAMPLE_MEGA = 1


def sample(seed: int, shape: Shape, mega_ids: List[str]) -> List[Tuple[str, bool]]:
    """(doc_id, generated as mega) for a seeded sample: docs of the
    ordinary path plus docs the routing sends down the mega path
    (``mega_ids``, the corpus's docs at or over the routing threshold)."""
    ids = doc_ids(seed, shape)
    routed = set(mega_ids)
    normal = [i for i in range(shape.n_docs) if ids[i] not in routed]
    mega = [i for i in range(shape.n_docs) if ids[i] in routed]
    rng = random.Random(seed)
    picked = rng.sample(normal, min(SAMPLE_NORMAL, len(normal)))
    picked += rng.sample(mega, min(SAMPLE_MEGA, len(mega)))
    return [(ids[i], is_mega(i, shape)) for i in sorted(picked)]


def expected(picked: List[Tuple[str, bool]]) -> Dict[str, list]:
    return {
        doc_id: extract_document_oracle(doc_rows(doc_id, mega=mega))
        for doc_id, mega in picked
    }


def mismatches(want: Dict[str, list], rows: Iterable) -> List[str]:
    """Doc ids whose extracted span sequence differs from the oracle."""
    got: Dict[str, list] = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"], r["order"])
        )
    bad = []
    for doc_id, spans in want.items():
        if sorted(got.get(doc_id, []), key=lambda s: s[3]) != spans:
            bad.append(doc_id)
    return bad
