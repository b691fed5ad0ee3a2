"""Fast relational-contract spot checks vs DuckDB at sf0.001.

The full contract (147 queries, 143 with a DuckDB oracle) is exercised
by scripts/check_contract.py (and by the driver at sf0.01); here we
pin a representative subset so `pytest -x -q` catches oracle drift
early.
"""

import pandas as pd
import pytest

from latyas_spark.relational import registry as R

SUBSET = [
    "classify_counts",
    "containment_pairs",
    "dedup_exact",
    "dedup_incremental",
    "token_stats",
    "sessionize",
    "grid_rank",
    "cosine_topk",
    "minhash_pairs",
    "dedup_clusters",
    "dedup_canonical",
    "simhash_buckets",
    "ngram_jaccard",
    "stratified_sample",
    "rep_ngrams",
    "pii_scrub",
    "ann_ivf",
    "ann_ivf_multiprobe",
    "dedup_embedding",
    "boilerplate_strip",
    "ocr_route",
    "ocr_route_report",
    "position_rank",
    "dual_arbitrate",
    "dual_simple",
    "dual_depth1",
    "dual_threecol",
    "dual_decay",
    "dedup_agreement",
    "cetd_simple",
    "flagship_simple",
    "flagship_depth1",
    "flagship_threecol",
    "flagship_decay",
    "mix_simple",
    "quality_score",
    "bm25_topk",
    "ann_kmeans",
    "perplexity_bucket",
    "paragraph_dedup",
    "corpus_curate",
    "substring_dedup",
    "quality_classifier",
    "frame_sample",
    "semdedup",
    "text_normalize",
    "chunk_overlap",
    "winnow_pairs",
    "ann_recall",
    "dedup_stats",
    "corpus_profile",
    "interleave_stats",
    "minhash_calibration",
    "caption_pairs",
    "shuffle_shards",
    "mixture_weights",
    "corpus_select",
    "bpe_pair_counts",
    "mixture_sample",
    "dedup_soft",
    "header_footer_strip",
    "dehyphenate",
    "bloom_dedup",
    "tfidf_keywords",
    "knn_graph",
    "hard_negatives",
    "split_leakage_safe",
    "kmv_distinct",
    "char_entropy",
    "funnel_steps",
    "retention_cohorts",
    "outlier_embeddings",
    "json_props_extract",
    "pmi_pairs",
    "coreset_sample",
    "asof_join",
    "embed_quantize",
    "pagerank",
    "length_quantiles",
    "dsir_weights",
    "simhash_pairs",
    "ann_pq",
    "corpus_rollup",
    "rolling_activity",
    "quality_deciles",
    "stitch_fragments",
    "audio_windows",
    "skew_profile",
    "zorder_layout",
    "bpe_encode",
    "media_dedup",
    "event_transitions",
    "join_size_estimate",
    "triangle_count",
    "watermark_lag_stats",
    "cluster_purity",
    "scan_prune_stats",
    "column_stats",
    "value_histogram",
    "k_anonymity",
    "compaction_plan",
    "classifier_pr_eval",
    "kind_pivot",
    "ngram_containment",
    "mix_trunc",
    "cetd_depth2",
    "ann_ivfpq",
    "ann_ivfpq_recall",
    "ngram_novelty",
    "ann_ivfpq_multiprobe",
    "minhash_pr_eval",
    "unigram_drift",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9).astype(float)
        else:
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(name, spark, sf001_dir, sf001_duck):
    fn, sql = R._REGISTRY[name]
    got = _normalize(fn(spark, sf001_dir).toPandas())
    want = _normalize(sf001_duck.execute(sql).fetchdf())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_interleave_stats_single_exchange(spark, sf001_dir):
    """The lag window and the per-doc agg must share one doc_id hash
    partitioning: exactly ONE Exchange in the plan (SURVEY T36)."""
    from latyas_spark.relational import registry as R

    plan = (
        R.q_interleave_stats(spark, sf001_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1


def test_caption_pairs_nearest_text_semantics(spark, sf001_dir):
    """Independent pin of the pairing rule: for every media span the
    chosen caption is the page-nearest text span by |offset gap|, tie
    going to the PRECEDING span — recomputed here in pure pandas from
    the same synthetic corpus."""
    from latyas_spark.pipeline.adapter import synth_blocks

    blocks = (
        synth_blocks(spark, sf001_dir)
        .select("doc_id", "page", "offset", "text", "media_ref")
        .toPandas()
    )
    got = (
        R.q_caption_pairs(spark, sf001_dir)
        .toPandas()
        .set_index(["doc_id", "page", "media_offset"])
        .sort_index()
    )
    expected = {}
    for (doc, page), g in blocks.groupby(["doc_id", "page"]):
        texts = g[g.text.notna()][["offset", "text"]].values.tolist()
        for off in g[g.media_ref.notna()].offset:
            best = None
            for t_off, t_txt in texts:
                gap = abs(off - t_off)
                side = "prev" if t_off < off else "next"
                key = (gap, 0 if side == "prev" else 1)
                if best is None or key < best[0]:
                    best = (key, t_off, t_txt, side)
            if best is not None:
                expected[(doc, page, off)] = best[1:]
    assert len(got) == len(expected)
    for key, (t_off, t_txt, side) in expected.items():
        row = got.loc[key]
        assert row["caption_offset"] == t_off
        assert row["caption_text"] == t_txt
        assert row["side"] == side
        assert row["gap"] == abs(key[2] - t_off)


def test_caption_pairs_single_exchange(spark, sf001_dir):
    """Both direction windows and the media filter share one
    (doc_id, page) hash partitioning: exactly ONE Exchange — the naive
    media×text per-page self-join shape must not appear."""
    plan = (
        R.q_caption_pairs(spark, sf001_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1


def test_shuffle_shards_partial_agg_only(spark, sf001_dir):
    """The shard audit is one partial-aggregated groupBy: a single
    Exchange carrying at most N_TRAIN_SHARDS partial rows per task."""
    df = R.q_shuffle_shards(spark, sf001_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()
    shards = df.toPandas()
    assert shards.n_docs.sum() == spark.read.parquet(
        f"{sf001_dir}/documents.parquet"
    ).count()
    assert (shards.shard >= 0).all() and (shards.shard < R.N_TRAIN_SHARDS).all()


def test_mixture_weights_invariants(spark, sf001_dir):
    """The mixture is a probability allocation: weights sum to ~1
    (floor rounding loses < |groups| ppm), every quality-surviving
    (lang, source) group gets a row, and the corpus never reaches the
    normalizer — the key-space-sized agg is checkpointed (one corpus
    scan feeds both consumers), the normalizing sum is a 1-row
    aggregate of it broadcast back: the visible plan has exactly ONE
    shuffle Exchange (the 1-row SinglePartition total; the corpus
    partial-agg exchange lives inside the checkpoint lineage), ONE
    BroadcastExchange, and no WindowExec anywhere."""
    df = R.q_mixture_weights(spark, sf001_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert plan.count("BroadcastExchange") == 1
    assert "SinglePartition" in plan
    assert "Window" not in plan
    pdf = df.toPandas()
    assert 1.0 - len(pdf) * 1e-6 <= pdf.weight.sum() <= 1.0
    assert (pdf.alloc_tokens >= 0).all()
    assert (pdf.epochs_bp >= 0).all()
    # alpha=0.5 flattens: the largest source's weight share must be
    # strictly below its token share, the smallest's strictly above.
    tok_share = pdf.total_tokens / pdf.total_tokens.sum()
    big, small = tok_share.idxmax(), tok_share.idxmin()
    assert pdf.weight[big] < tok_share[big]
    assert pdf.weight[small] > tok_share[small]


def test_bpe_pair_counts_partial_agg_and_pin(spark, sf001_dir):
    """The pair count must be partial-aggregated (the shuffle carries
    charset^2-bounded partials, never the character stream), and the
    counts must equal an independent pure-python recomputation."""
    from collections import Counter

    import re

    df = R.q_bpe_pair_counts(spark, sf001_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower()
    got = df.toPandas()
    assert len(got) <= R._BPE_TOPK
    texts = (
        spark.read.parquet(f"{sf001_dir}/documents.parquet")
        .select("text")
        .toPandas()["text"]
    )
    c = Counter()
    for t in texts:
        # match the query's tokenization exactly: trim + split on runs
        # of ASCII spaces (not arbitrary whitespace)
        for w in re.split(" +", t.strip(" ")):
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
    expect = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[: R._BPE_TOPK]
    got = got.sort_values("rank")
    assert list(zip(got["pair"], got["cnt"])) == expect


def test_mixture_sample_realizes_allocation(spark, sf001_dir):
    """The realized repeats must (a) flow through a broadcast-hash
    join with ZERO corpus-side exchange, and (b) land each source's
    realized token mass within one doc of its allocation in
    expectation terms: base-epoch mass <= realized <= allocation +
    max-doc mass (the fractional remainder is a Bernoulli over docs,
    deterministic given the hash, so we bound rather than equate)."""
    df = R.q_mixture_sample(spark, sf001_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    got = df.toPandas().set_index("doc_id")
    w = R.q_mixture_weights(spark, sf001_dir).toPandas().set_index(
        ["lang", "source"]
    )
    assert (got.repeats > 0).all()
    # exact independent recomputation of the realization rule per doc
    import hashlib

    surv = R._quality_survivors(spark, sf001_dir).toPandas()
    n_expected = 0
    for _, r in surv.iterrows():
        alloc = w.alloc_tokens[(r.lang, r.source)]
        total = w.total_tokens[(r.lang, r.source)]
        h = int(hashlib.md5(f"mix:{r.doc_id}".encode()).hexdigest()[:8], 16)
        rep = alloc // total + (1 if h % total < alloc % total else 0)
        if rep > 0:
            n_expected += 1
            assert got.repeats[r.doc_id] == rep, r.doc_id
        else:
            assert r.doc_id not in got.index
    assert len(got) == n_expected


def test_dedup_soft_mass_conservation(spark, sf001_dir):
    """Soft-dedup invariant: every cluster's summed weight is one
    document's mass (ppm sums to ~1e6 per component, exact up to the
    integer-division floor), un-clustered docs weigh exactly 1e6, and
    the corpus path is a broadcast join (no SortMergeJoin)."""
    df = R.q_dedup_soft(spark, sf001_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    got = df.toPandas()
    n_docs = spark.read.parquet(f"{sf001_dir}/documents.parquet").count()
    assert len(got) == n_docs
    singles = got[got.n_members == 1]
    assert (singles.weight_ppm == 1_000_000).all()
    clustered = got[got.n_members > 1]
    assert len(clustered) > 0
    cc = R.q_dedup_clusters(spark, sf001_dir).toPandas()
    comp = cc.set_index("doc_id").component
    mass = clustered.assign(c=clustered.doc_id.map(comp)).groupby("c")
    for _, g in mass:
        n = g.n_members.iloc[0]
        assert (g.n_members == n).all() and len(g) == n
        assert n * (1_000_000 // n) == g.weight_ppm.sum()
        assert 1_000_000 - n < g.weight_ppm.sum() <= 1_000_000


def test_corpus_select_greedy_pin(spark, sf001_dir):
    """Greedy maximality, recomputed independently in pandas: the
    selection is exactly the docs whose running token sum (ordered
    mbits ASC, doc_id ASC) stays within the budget — so the first
    EXCLUDED doc in that order must overflow the selected token mass,
    and the selection must be a strict subset that exercises the
    boundary-bucket path (some doc of the threshold bucket excluded)."""
    sel = R.q_corpus_select(spark, sf001_dir).toPandas()
    all_docs = (
        R._ppl_per_doc(spark, sf001_dir)
        .toPandas()
        .sort_values(["mbits", "doc_id"])
        .reset_index(drop=True)
    )
    assert 0 < len(sel) < len(all_docs)
    assert sel.n_tokens.sum() <= R.CORPUS_SELECT_BUDGET
    cum = all_docs.n_tokens.cumsum()
    expect = all_docs[cum <= R.CORPUS_SELECT_BUDGET]
    assert sorted(sel.doc_id) == sorted(expect.doc_id)
    first_excluded = all_docs.iloc[len(expect)]
    assert sel.n_tokens.sum() + first_excluded.n_tokens > R.CORPUS_SELECT_BUDGET
    # the threshold bucket is split: selection touches the max selected
    # mbits bucket without taking all of it, proving the boundary
    # window (not just the histogram filter) decided membership —
    # unless the greedy cut landed exactly on a bucket edge.
    t = sel.mbits.max()
    in_bucket_all = (all_docs.mbits == t).sum()
    in_bucket_sel = (sel.mbits == t).sum()
    assert in_bucket_sel <= in_bucket_all


def test_winnow_guarantee(spark):
    """The winnowing guarantee (Schleimer et al. 2003 §3): two texts
    sharing a contiguous run of >= w+k-1 = 7 words MUST share at least
    one selected fingerprint — the run contains a complete window of w
    consecutive grams in both docs, and that window's min hash is
    selected in both.  Pinned on the EXACT expressions q_winnow_pairs
    runs, over 200 seeded random splice cases in ONE Spark job."""
    import random

    import pyspark.sql.functions as F

    rng = random.Random(0xC0FFEE)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for case in range(200):
        shared = [rng.choice(vocab) for _ in range(7)]
        for side in ("a", "b"):
            n_pre = rng.randint(0, 30)
            n_post = rng.randint(0, 30)
            words = (
                [rng.choice(vocab) for _ in range(n_pre)]
                + shared
                + [rng.choice(vocab) for _ in range(n_post)]
            )
            rows.append((case, side, " ".join(words)))
    df = spark.createDataFrame(rows, "case_id int, side string, text string")
    from latyas_spark.relational.registry import (
        WINNOW_FPS_EXPR,
        WINNOW_GH_EXPR,
    )

    fps = (
        df.select(
            "case_id", "side", F.split(F.trim("text"), " +").alias("w")
        )
        .select("case_id", "side", F.expr(WINNOW_GH_EXPR).alias("gh"))
        .select("case_id", "side", F.expr(WINNOW_FPS_EXPR).alias("fps"))
    )
    both = (
        fps.groupBy("case_id")
        .pivot("side", ["a", "b"])
        .agg(F.first("fps"))
        .select(
            "case_id", F.arrays_overlap("a", "b").alias("shares_fp")
        )
    )
    bad = both.filter(~F.col("shares_fp")).count()
    assert bad == 0


def test_every_query_has_callable_and_alignment():
    qs = R.queries()
    sqls = R.oracle_sql()
    assert set(sqls) <= set(qs)
    # every non-oracle query is documented as rows-only
    rows_only = set(qs) - set(sqls)
    assert rows_only == {
        "flagship_extract", "boilerplate_cetd", "mix_interleave",
        "dual_extract",
    }


def test_minhash_bucket_cap_suppresses_hot_signature(spark, tmp_path):
    """100 TB guard (VERDICT r1): a boilerplate signature shared by more
    docs than MINHASH_BUCKET_CAP must not quadratically join — its
    (band, sig) buckets are dropped, while genuine small near-dup
    clusters still pair."""
    hot_n = R.MINHASH_BUCKET_CAP + 36
    rows = [
        (f"boiler-{i:04d}", "subscribe to our newsletter terms apply")
        for i in range(hot_n)
    ]
    rows += [
        ("near-a", "the quick brown fox jumps over the lazy dog today"),
        ("near-b", "the quick brown fox jumps over the lazy dog today"),
    ]
    d = str(tmp_path / "hotsig")
    spark.createDataFrame(rows, "doc_id string, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = R.q_minhash_pairs(spark, d).toPandas()
    # the identical near-dup pair survives with all 4 bands shared
    assert len(got) == 1
    assert {got.loc[0, "doc_a"], got.loc[0, "doc_b"]} == {"near-a", "near-b"}
    assert got.loc[0, "shared_bands"] == 4
    # without the cap this would have been hot_n*(hot_n-1)/2 extra pairs


def test_dedup_incremental_verdicts(spark, tmp_path):
    """All three verdicts fire and the increment is checked only
    against the index side: 1008/1010/1016 hash into the new shard
    (md5 first nibble in 0/1), 1000/1001/1002 into the index."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1000, base),                      # index: exact twin of 1008
        (1001, "one two three four five six seven eight nine ten"),
        (1002, "totally unrelated corpus content about spark plans"),
        (1008, base),                      # new: exact_dup of 1000
        # 1001's shingle set + one extra gram ("nine ten ten") whose
        # xor-seeded hash wins no lane min (verified offline): all 4
        # bands still match but md5(text) differs
        (1010, "one two three four five six seven eight nine ten ten"),
        (1016, "completely novel text with no counterpart anywhere"),
    ]
    d = str(tmp_path / "incr")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = (
        R.q_dedup_incremental(spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[1008, "verdict"] == "exact_dup"
    assert got.loc[1008, "match_doc"] == "1000"
    assert got.loc[1010, "verdict"] == "near_dup"
    assert got.loc[1010, "match_doc"] == "1001"
    assert got.loc[1016, "verdict"] == "unique"
    assert got.loc[1016, "match_doc"] == ""
    # index docs never appear in the output
    assert set(got.index) == {1008, 1010, 1016}


def test_dedup_incremental_hot_guards(spark, tmp_path):
    """The two 100 TB guards of the incremental path: (a) a hot content
    hash in the index (boilerplate copies) matches via the
    fp-deduplicated index — one representative, no quadratic pairing —
    and (b) a hot (band, sig) LSH bucket on the index side (> cap rows)
    is dropped, so a new doc whose only matches are boilerplate comes
    back 'unique', while a genuine 1-index-doc near pair survives."""
    import hashlib

    def is_new(d):
        return hashlib.md5(str(d).encode()).hexdigest()[0] in "01"

    def take(pred, n, start):
        out, i = [], start
        while len(out) < n:
            if pred(i):
                out.append(i)
            i += 1
        return out

    cap = R.MINHASH_BUCKET_CAP
    idx_ids = take(lambda d: not is_new(d), 2 * (cap + 4) + 1, 5000)
    new_ids = take(is_new, 3, 5000)
    exact_boiler = "all rights reserved contact us terms privacy"
    rows = [(d, exact_boiler) for d in idx_ids[: cap + 4]]
    # same distinct-word set (same minhash lanes), distinct md5s: a
    # hot NEAR bucket that is not a hot content hash
    rows += [
        (d, "subscribe to our newsletter " + "today " * (i % 7 + 1))
        for i, d in enumerate(idx_ids[cap + 4 : 2 * (cap + 4)])
    ]
    rows += [(idx_ids[-1], "rare convex optimization convergence proof")]
    rows += [
        (new_ids[0], exact_boiler),                       # exact_dup
        (new_ids[1], "subscribe to our newsletter " + "today " * 9),
        (new_ids[2], "rare convex optimization convergence proof proof"),
    ]
    d = str(tmp_path / "hotincr")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = R.q_dedup_incremental(spark, d).toPandas().set_index("doc_id")
    assert got.loc[new_ids[0], "verdict"] == "exact_dup"
    assert got.loc[new_ids[0], "match_doc"] == str(min(idx_ids[: cap + 4]))
    # hot near bucket capped: boilerplate-only similarity -> unique
    assert got.loc[new_ids[1], "verdict"] == "unique"
    # genuine near pair (single index doc, uncapped bucket) survives
    assert got.loc[new_ids[2], "verdict"] == "near_dup"
    assert got.loc[new_ids[2], "match_doc"] == str(idx_ids[-1])


def _dedup_incremental_local(rows):
    """Independent pure-Python reimplementation of the incremental
    dedup semantics (third implementation besides Spark and the DuckDB
    oracle), for randomized-corpus equality."""
    import hashlib

    def is_new(d):
        return hashlib.md5(str(d).encode()).hexdigest()[0] in "01"

    def fp(t):
        return hashlib.md5(t.encode()).hexdigest()

    def grams(t):
        wd = [w for w in t.split(" ") if w != ""]
        if len(wd) >= 3:
            gs = [" ".join(wd[i : i + 3]) for i in range(len(wd) - 2)]
        else:
            gs = [" ".join(wd)]
        return [g for g in gs if g != ""]

    def lanes(t):
        hs = []
        for g in grams(t):
            d = (
                hashlib.md5(g.encode()).hexdigest()
                + hashlib.md5((g + "#").encode()).hexdigest()
            )
            hs.append([int(d[8 * i : 8 * i + 8], 16) for i in range(8)])
        if not hs:
            return None
        return [min(h[i] for h in hs) for i in range(8)]

    def sigs(t):
        m = lanes(t)
        if m is None:
            return []
        return [(b, f"{m[2*b]}:{m[2*b+1]}") for b in range(4)]

    idx = [(d, t) for d, t in rows if not is_new(d)]
    new = [(d, t) for d, t in rows if is_new(d)]
    idx_fp = {}
    for d, t in idx:
        k = fp(t)
        idx_fp[k] = min(idx_fp.get(k, d), d)
    from collections import defaultdict

    bucket = defaultdict(list)
    for d, t in idx:
        for key in sigs(t):
            bucket[key].append(d)
    bucket = {
        k: v for k, v in bucket.items() if len(v) <= R.MINHASH_BUCKET_CAP
    }
    out = {}
    for d, t in new:
        exact = idx_fp.get(fp(t))
        shared = defaultdict(int)
        for key in sigs(t):
            for i_doc in bucket.get(key, []):
                shared[i_doc] += 1
        near = min((i for i, c in shared.items() if c >= 2), default=None)
        if exact is not None:
            out[d] = ("exact_dup", str(exact))
        elif near is not None:
            out[d] = ("near_dup", str(near))
        else:
            out[d] = ("unique", "")
    return out


def test_dedup_incremental_random_corpora(spark, tmp_path):
    """Spark vs the local reimplementation on 3 seeded random corpora
    (mutated/duplicated/shuffled word soups) — input diversity beyond
    the fixed testdata."""
    import random

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        rows = []
        for d in range(3000, 3000 + 60):
            base = rng.sample(words, rng.randint(1, 8))
            if rng.random() < 0.4 and rows:
                # duplicate or near-duplicate an earlier doc
                src = rng.choice(rows)[1]
                t = src if rng.random() < 0.5 else src + " " + src.split(" ")[0]
            else:
                t = " ".join(base)
            rows.append((d, t))
        p = str(tmp_path / f"rc{seed}")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            f"{p}/documents.parquet"
        )
        got = {
            r["doc_id"]: (r["verdict"], r["match_doc"])
            for r in R.q_dedup_incremental(spark, p).toPandas().to_dict("records")
        }
        want = _dedup_incremental_local(rows)
        assert got == want, f"seed {seed}: {got} != {want}"


def test_ngram_df_cap_suppresses_hot_gram(spark, tmp_path):
    """100 TB guard, the ngram twin of the minhash bucket cap: a
    boilerplate 3-gram shared by more than 64 docs must never reach a
    posting list (the df count agg filters it first), so the hot
    cluster produces zero candidate pairs while a genuine rare-gram
    near-dup pair still surfaces with Jaccard 1.0."""
    hot_n = 64 + 16
    rows = [
        (f"boiler-{i:04d}", "subscribe to our newsletter today")
        for i in range(hot_n)
    ]
    rows += [
        ("near-a", "gradient descent converges on convex losses"),
        ("near-b", "gradient descent converges on convex losses"),
    ]
    d = str(tmp_path / "hotgram")
    spark.createDataFrame(rows, "doc_id string, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = R.q_ngram_jaccard(spark, d).toPandas()
    # without the cap the boiler cluster alone would emit C(80,2)=3160 pairs
    assert len(got) == 1
    assert {got.loc[0, "doc_a"], got.loc[0, "doc_b"]} == {"near-a", "near-b"}
    assert got.loc[0, "jaccard"] == 1.0


def test_paragraph_dedup_keeps_first_occurrence(spark, tmp_path):
    """RefinedWeb-style sub-document dedup: a chunk repeated across
    documents survives only at its globally first (doc_id, idx) home;
    the later copy is dropped and the reassembled text reflects it."""
    shared = "alpha beta gamma delta epsilon"  # exactly _PARA_W words
    rows = [
        ("doc-a", f"{shared} one two three four five"),
        ("doc-b", f"zero nine eight seven six {shared}"),
    ]
    d = str(tmp_path / "para")
    spark.createDataFrame(rows, "doc_id string, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = (
        R.q_paragraph_dedup(spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    import hashlib

    # doc-a owns the shared chunk (lexicographically first doc_id)
    assert got.loc["doc-a", "n_kept"] == 2
    assert got.loc["doc-a", "n_dropped"] == 0
    assert got.loc["doc-b", "n_kept"] == 1
    assert got.loc["doc-b", "n_dropped"] == 1
    assert (
        got.loc["doc-b", "dedup_md5"]
        == hashlib.md5(b"zero nine eight seven six").hexdigest()
    )


def test_corpus_curate_funnel_gates(spark, tmp_path):
    """Every funnel gate must bite on a corpus built to trip each one:
    a quality failure, an exact duplicate pair, and a doc sharing a
    3-gram with the benchmark slice (doc_id % 97 == 0)."""
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "lorem ipsum dolor sit amet consectetur adipiscing elit", "en"),
        (1, dup, "en"),
        (2, dup, "en"),
        (3, "x", "en"),  # fails n_words >= 10
        (4, "one two three four five six seven eight nine ten", "en"),
        (5, "lorem ipsum dolor plus many extra words here to fill", "en"),
    ]
    d = str(tmp_path / "curate")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    ).write.parquet(f"{d}/documents.parquet")
    got = R.q_corpus_curate(spark, d).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    # doc 0 is the benchmark slice; 5 corpus docs remain
    assert r["n_docs"] == 5
    assert r["n_quality"] == 4  # doc 3 fails
    assert r["n_unique"] == 3  # dup pair collapses to doc 1
    assert r["n_kept"] == 2  # doc 5 contaminated by 'lorem ipsum dolor'
    assert r["tokens_kept"] == 20  # docs 1 and 4, 10 words each


def test_no_per_row_python_udfs_anywhere():
    """North-rule invariant (SURVEY.md §7 step 4): no row-at-a-time
    Python UDFs in the engine — only Arrow-batched mapInPandas /
    applyInPandas kernels and JVM builtins."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "latyas_spark"
    bad = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if re.search(r"F\.udf\(|@udf\b|pandas_udf\(.*PandasUDFType\.SCALAR_ITER", src):
            bad.append(str(p))
    assert not bad, f"per-row/legacy UDF usage in: {bad}"


def test_no_asserts_in_package():
    """VERDICT r2 #6: no ``assert`` statements anywhere in the engine
    package — an assert inside an Arrow kernel kills a whole task over
    one malformed row, and asserts vanish under ``python -O``.
    Invariant violations must raise typed errors (with skip-and-flag
    fallbacks in kernels) instead."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "latyas_spark"
    bad = []
    for p in root.rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Assert):
                bad.append(f"{p}:{node.lineno}")
    assert not bad, f"assert statements in package: {bad}"


def test_scan_speed_ops_have_zero_shuffle(spark, sf001_dir):
    """The per-doc text passes (repetition, PII scrub, fingerprint,
    token stats) are doc-local: their plans must contain no Exchange —
    at 100 TB an accidental shuffle would turn a scan-speed pass into
    a corpus-wide network copy."""
    from latyas_spark.relational import registry as R

    for q in (R.q_rep_ngrams, R.q_pii_scrub, R.q_fingerprint, R.q_token_stats,
              R.q_quality_classifier, R.q_text_normalize, R.q_chunk_overlap,
              R.q_dehyphenate):
        plan = (
            q(spark, sf001_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, q.__name__


def test_tfidf_keywords_hand_checked(spark, tmp_path):
    """Hand-computed TF-IDF on a 3-doc corpus: a corpus-unique repeated
    term outranks a shared term; a term in EVERY doc scores exactly 0
    and ranks last; a 2-term doc emits only 2 rows."""
    import math

    rows = [
        (1, "apple apple banana common"),
        (2, "banana common common"),
        (3, "cherry common"),
    ]
    d = str(tmp_path / "tfidf")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = R.q_tfidf_keywords(spark, d).toPandas()
    got["doc_id"] = got["doc_id"].astype(int)
    by_doc = {
        k: list(g.sort_values("rank")[["term", "score"]].itertuples(index=False))
        for k, g in got.groupby("doc_id")
    }
    assert [t for t, _ in by_doc[1]] == ["apple", "banana", "common"]
    assert by_doc[1][0].score == round(2 * math.log(3.0), 6)
    assert by_doc[1][2].score == 0.0
    assert [t for t, _ in by_doc[3]] == ["cherry", "common"]
    assert len(by_doc[3]) == 2


def test_knn_graph_hand_checked(spark, tmp_path):
    """Independent numpy pin on a crafted 4-vector corpus: three
    same-sign vectors form a bucket clique whose per-node neighbor
    ORDER must match exact cosine on the quantized ints; the
    opposite-sign vector shares no bucket and emits no rows."""
    import math

    vecs = {
        1: [0.5] * 64,
        2: [0.5] * 32 + [0.25] * 32,
        3: [0.5] * 63 + [0.1],
        4: [-0.5] * 64,
    }
    d = str(tmp_path / "knn")
    spark.createDataFrame(
        [(k, [float(x) for x in v], 0) for k, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{d}/embeddings.parquet")
    got = R.q_knn_graph(spark, d).toPandas()
    got["vec_id"] = got["vec_id"].astype(int)
    assert 4 not in set(got["vec_id"]) and 4 not in set(
        got["nbr_id"].astype(int)
    )

    def q(v):
        # float32 storage first, then the operator's floor(x * 1e6)
        import numpy as np

        return [math.floor(float(np.float32(x)) * 1_000_000) for x in v]

    def cos(a, b):
        da = sum(x * y for x, y in zip(q(a), q(b)))
        return da / (
            math.sqrt(sum(x * x for x in q(a)))
            * math.sqrt(sum(x * x for x in q(b)))
        )

    for vid in (1, 2, 3):
        others = [o for o in (1, 2, 3) if o != vid]
        want = sorted(others, key=lambda o: (-cos(vecs[vid], vecs[o]), o))
        g = got[got["vec_id"] == vid].sort_values("rank")
        assert list(g["nbr_id"].astype(int)) == want, vid
        assert list(g["cos_sim"]) == [
            round(cos(vecs[vid], vecs[o]), 6) for o in want
        ]


def test_hard_negatives_semantics(spark, tmp_path):
    """Mixed-label bucket clique: each vector's positive is its best
    same-label bucket-mate and its negative the best different-label
    one; an all-same-label clique emits the -1/-2.0 sentinels for the
    missing negative."""
    rows = [
        (1, [0.5] * 64, 0),
        (2, [0.5] * 63 + [0.1], 0),
        (3, [0.5] * 32 + [0.25] * 32, 1),
        (4, [0.5] * 16 + [0.25] * 48, 1),
        # opposite-sign clique, single label: no negatives available
        (5, [-0.5] * 64, 2),
        (6, [-0.5] * 63 + [-0.1], 2),
    ]
    d = str(tmp_path / "hardneg")
    spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{d}/embeddings.parquet")
    got = (
        R.q_hard_negatives(spark, d)
        .toPandas()
        .astype({"vec_id": int, "pos_id": int, "neg_id": int})
        .set_index("vec_id")
    )
    assert got.loc[1, "pos_id"] == 2 and got.loc[2, "pos_id"] == 1
    assert got.loc[3, "pos_id"] == 4 and got.loc[4, "pos_id"] == 3
    # v1 is closer to v3 (32 flipped dims) than to v4 (48 flipped)
    assert got.loc[1, "neg_id"] == 3
    assert got.loc[3, "neg_id"] in (1, 2)
    assert got.loc[5, "pos_id"] == 6 and got.loc[6, "pos_id"] == 5
    assert (got.loc[[5, 6], "neg_id"] == -1).all()
    assert (got.loc[[5, 6], "neg_cos"] == -2.0).all()
    assert got.loc[1, "pos_cos"] > got.loc[1, "neg_cos"]


def test_split_leakage_safe_no_cluster_straddle(spark, sf001_dir):
    """The leakage guarantee, checked against the actually-built
    clusters: every near-dup cluster lands entirely inside ONE split,
    and the doc-level proportions are near 80/10/10."""
    splits = R.q_split_leakage_safe(spark, sf001_dir).toPandas()
    cc = R.q_dedup_clusters(spark, sf001_dir).toPandas()
    merged = cc.merge(splits, on="doc_id")
    assert (merged.groupby("component")["split"].nunique() == 1).all()
    frac = splits["split"].value_counts(normalize=True)
    assert 0.6 < frac.get("train", 0) < 0.95
    assert frac.get("valid", 0) > 0.02 and frac.get("test", 0) > 0.02


def test_kmv_distinct_estimates(spark, sf001_dir, tmp_path):
    """The sketch must actually estimate (sources here have ~1.4k
    distinct shingles >> k=64): every estimate within 3 sigma
    (sigma ~ 1/sqrt(k-2) ~ 12.7%), mean abs error well inside 1 sigma
    across 20 sources.  A corpus whose vocab is below k must fall back
    to the EXACT count (rel_err == 0)."""
    got = R.q_kmv_distinct(spark, sf001_dir).toPandas()
    assert (got["n_exact"] > 64).all()
    assert (got["rel_err"] < 0.38).all()
    assert got["rel_err"].mean() < 0.13

    rows = [(1, "alpha beta gamma delta", "s0", 22)]
    d = str(tmp_path / "kmv")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    small = R.q_kmv_distinct(spark, d).toPandas()
    assert (small["rel_err"] == 0.0).all()
    assert (small["n_est"] == small["n_exact"].astype(float)).all()


def test_char_entropy_hand_checked(spark, tmp_path):
    """Known-entropy docs: a single repeated char has H=0 (flagged
    repetitive); a uniform 8-char doc has H=ln(8) (above the 1.5-nat
    flag line); 'ab' has ln(2); values match math.log to 6dp."""
    import math

    rows = [
        (1, "aaaaaaaa", "s0", 8),
        (2, "abcdefgh", "s0", 8),
        (3, "ab", "s0", 2),
        (4, "aab", "s0", 3),
    ]
    d = str(tmp_path / "ent")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    got = (
        R.q_char_entropy(spark, d)
        .toPandas()
        .astype({"doc_id": int})
        .set_index("doc_id")
    )
    assert got.loc[1, "entropy"] == 0.0 and bool(got.loc[1, "repetitive"])
    assert got.loc[2, "entropy"] == round(math.log(8), 6)
    assert not bool(got.loc[2, "repetitive"])  # ln(8) > 1.5 nats
    assert got.loc[3, "entropy"] == round(math.log(2), 6)
    h_aab = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert got.loc[4, "entropy"] == round(h_aab, 6)
    assert got.loc[2, "n_distinct_chars"] == 8


def _write_events(spark, d, rows):
    spark.createDataFrame(
        [
            (i, __import__("datetime").datetime(2024, 1, day, hour), u, et, 0.0, "{}")
            for i, (day, hour, u, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")


def test_funnel_steps_strict_ordering(spark, tmp_path):
    """The funnel requires each step STRICTLY AFTER the previous one:
    u1 completes view->click->purchase in order; u2's only purchase
    precedes their click, so they stall at click; u3 only views."""
    rows = [
        (1, 1, 1, "view"), (1, 2, 1, "click"), (1, 3, 1, "purchase"),
        (2, 1, 2, "view"), (2, 2, 2, "purchase"), (2, 3, 2, "click"),
        (3, 1, 3, "view"),
        (3, 2, 4, "click"),  # click with no prior view: never in funnel
    ]
    d = str(tmp_path / "funnel")
    _write_events(spark, d, rows)
    got = (
        R.q_funnel_steps(spark, d)
        .toPandas()
        .astype({"step": int, "n_users": int})
        .set_index("step")
    )
    assert list(got["n_users"]) == [3, 2, 1]
    assert got.loc[1, "pct_of_prev"] == 1.0
    assert got.loc[2, "pct_of_prev"] == round(2 / 3, 6)
    assert got.loc[3, "pct_of_prev"] == 0.5


def test_retention_cohorts_hand_checked(spark, tmp_path):
    """u1,u2 share cohort Jan-1: both active day 0, only u1 on day 2;
    u3's cohort is Jan-2, active day 0 only; multi-event days count
    once."""
    rows = [
        (1, 1, 1, "view"), (1, 2, 1, "click"),  # same day: one active row
        (3, 1, 1, "view"),
        (1, 5, 2, "view"),
        (2, 1, 3, "view"),
    ]
    d = str(tmp_path / "cohort")
    _write_events(spark, d, rows)
    got = R.q_retention_cohorts(spark, d).toPandas()
    got["day_offset"] = got["day_offset"].astype(int)
    got["n_active"] = got["n_active"].astype(int)
    m = {
        (r.cohort_day, r.day_offset): r.n_active
        for r in got.itertuples(index=False)
    }
    assert m == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_outlier_embeddings_flags_far_member(spark, tmp_path):
    """A tight cluster plus one far member of the same cluster: the
    far member carries the cluster's max z and the outlier flag; tight
    members don't flag; singleton clusters have var=0 -> z=0."""
    vecs = {0: [0.5] * 64}
    for j in range(1, 8):  # far-apart seeds -> singleton clusters
        vecs[j] = [-0.9 + 0.05 * j] * 64
    for i in range(8, 16):  # tight members of cluster 0
        vecs[i] = [0.5 + 0.001 * (i - 8)] * 64
    vecs[16] = [0.42] * 64  # same cluster, much farther out
    d = str(tmp_path / "outl")
    spark.createDataFrame(
        [(k, [float(x) for x in v], 0) for k, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{d}/embeddings.parquet")
    got = (
        R.q_outlier_embeddings(spark, d)
        .toPandas()
        .astype({"vec_id": int, "cid": int})
        .set_index("vec_id")
    )
    c0 = got.loc[got["cid"] == got.loc[16, "cid"]]
    assert bool(got.loc[16, "is_outlier"])
    assert got.loc[16, "z"] == c0["z"].max()
    tight = [i for i in range(8, 16) if i in c0.index]
    assert tight and not got.loc[tight, "is_outlier"].any()
    singles = got.loc[got.index.isin(range(1, 8))]
    assert (singles["z"] == 0.0).all()
    assert not singles["is_outlier"].any()


def test_json_props_extract_null_handling(spark, tmp_path):
    """Missing keys and malformed JSON count as n_missing, never
    silently dropped; stats come from the present values only."""
    rows = [
        (0, __import__("datetime").datetime(2024, 1, 1), 1, "view", 0.0, '{"k": 10}'),
        (1, __import__("datetime").datetime(2024, 1, 1), 1, "view", 0.0, '{"k": 20}'),
        (2, __import__("datetime").datetime(2024, 1, 1), 1, "view", 0.0, '{"x": 5}'),
        (3, __import__("datetime").datetime(2024, 1, 1), 1, "click", 0.0, "not json"),
    ]
    d = str(tmp_path / "json")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    got = R.q_json_props_extract(spark, d).toPandas().set_index("event_type")
    assert int(got.loc["view", "n_events"]) == 3
    assert int(got.loc["view", "n_missing"]) == 1
    assert int(got.loc["view", "min_k"]) == 10
    assert int(got.loc["view", "max_k"]) == 20
    assert got.loc["view", "avg_k"] == 15.0
    assert int(got.loc["click", "n_missing"]) == 1
    assert got.loc["click", "avg_k"] == -1.0


def test_pmi_pairs_hand_checked(spark, tmp_path):
    """Hand-computed PMI on a crafted corpus: the exclusive bigram
    (new, york) outranks the shared-left-word (the, cat); a pair below
    the min-support cut is absent no matter how high its PMI."""
    import math

    rows = (
        [(i, "new york") for i in range(6)]
        + [(10 + i, "the cat sat") for i in range(6)]
        + [(20 + i, "the dog sat") for i in range(6)]
        + [(30 + i, "rare gem") for i in range(4)]  # c_ab=4 < 5: cut
    )
    d = str(tmp_path / "pmi")
    spark.createDataFrame(
        [(i, t, "s0", len(t)) for i, t in rows],
        "doc_id long, text string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = R.q_pmi_pairs(spark, d).toPandas()
    pairs = list(zip(got["word_a"], got["word_b"]))
    assert ("rare", "gem") not in pairs
    assert pairs[0] == ("new", "york")
    n_u, n_b = 56, 34
    want = math.log((6 * n_u * n_u) / (n_b * 6 * 6))
    assert got.iloc[0]["pmi"] == round(want, 6)
    the_cat = got[(got["word_a"] == "the") & (got["word_b"] == "cat")]
    assert the_cat.iloc[0]["pmi"] == round(
        math.log((6 * n_u * n_u) / (n_b * 12 * 6)), 6
    )


def test_coreset_sample_consistent_with_outlier_distances(spark, sf001_dir):
    """Cross-operator pin: coreset_sample's kept set per cluster must
    be exactly the 16 smallest idist (ties by vec_id) in
    outlier_embeddings' full per-member distance table — both run the
    identical Lloyd chain, so any drift is a real bug."""
    kept = R.q_coreset_sample(spark, sf001_dir).toPandas()
    full = R.q_outlier_embeddings(spark, sf001_dir).toPandas()
    for cid, g in full.groupby("cid"):
        want = list(
            g.sort_values(["idist", "vec_id"]).head(16)["vec_id"]
        )
        got = list(
            kept[kept["cid"] == cid].sort_values("rank")["vec_id"]
        )
        assert got == want, cid
    assert (kept.groupby("cid")["rank"].max() <= 16).all()
    assert (kept.groupby("cid")["rank"].min() == 1).all()


def test_bloom_dedup_semantics(spark, sf001_dir, tmp_path):
    """Pins Bloom's one-sided guarantee and the broadcast plan shape.

    Crafted corpus: one NEW doc's text equals an INDEX doc's text (an
    exact cross-shard dup) — it MUST come back verdict='dup' with
    bloom_hit=true (a Bloom filter has no false negatives).  On the
    sandbox corpus: every bloom miss is truly fresh, every dup is a
    hit, and the measured FPR stays under 10% (m/k are sized so the
    FP path actually fires at sf0.001 — asserted non-empty)."""
    import hashlib

    # split crafted ids exactly as _NEW_SHARD_PRED does
    def is_new(i):
        return hashlib.md5(str(i).encode()).hexdigest()[0] in "01"

    ids = list(range(1, 60))
    new_ids = [i for i in ids if is_new(i)]
    idx_ids = [i for i in ids if not is_new(i)]
    assert new_ids and idx_ids
    dup_new = new_ids[0]
    rows = [
        (i, "shared corpus text" if i in (dup_new, idx_ids[0])
         else f"unique text {i}")
        for i in ids
    ]
    d = str(tmp_path / "bloom")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = R.q_bloom_dedup(spark, d).toPandas().set_index("doc_id")
    assert set(got.index) == {str(i) if got.index.dtype == object else i
                              for i in new_ids}
    assert got.loc[dup_new, "verdict"] == "dup"
    assert bool(got.loc[dup_new, "bloom_hit"])

    # sandbox corpus: one-sidedness + measured FPR bound + FP coverage
    full = R.q_bloom_dedup(spark, sf001_dir).toPandas()
    assert ((full["verdict"] == "dup") <= full["bloom_hit"]).all()
    assert (~full["bloom_hit"] <= (full["verdict"] == "fresh")).all()
    n_fp = (full["verdict"] == "false_positive").sum()
    n_clean = (full["verdict"] != "dup").sum()
    assert n_fp >= 1, "filter sized too large: FP path never exercised"
    assert n_fp / n_clean < 0.10

    # the filter side must broadcast: the probe never shuffles
    plan = (
        R.q_bloom_dedup(spark, sf001_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_chunk_overlap_no_subset_tail(spark, tmp_path):
    """ADVICE r2: a tail window fully contained in its predecessor must
    not be emitted (100 tokens used to produce starts 0/48/96 where the
    4-token chunk at 96 was a subset of the 48-chunk).  A start s > 0
    exists iff s + 16 < n_tokens; chunk 0 always exists."""
    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),  # tail dropped
        (2, " ".join(f"w{i}" for i in range(64))),   # exactly one window
        (3, " ".join(f"w{i}" for i in range(65))),   # 1 fresh tail token
        (4, "tiny doc"),                             # short single chunk
        (5, " ".join(f"w{i}" for i in range(113))),  # tail keeps 17 toks
    ]
    d = str(tmp_path / "chunks")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = R.q_chunk_overlap(spark, d).toPandas()
    starts = {k: sorted(g["start_tok"]) for k, g in got.groupby("doc_id")}
    assert starts == {
        "1": [0, 48],
        "2": [0],
        "3": [0, 48],
        "4": [0],
        "5": [0, 48, 96],
    }
    n = got.set_index(["doc_id", "start_tok"])["n_toks"]
    assert n[("1", 48)] == 52
    assert n[("3", 48)] == 17
    assert n[("5", 96)] == 17


def test_substring_dedup_spans_and_merge(spark, tmp_path):
    """ExactSubstr semantics on a crafted corpus: duplicate RUNS are
    found at different alignments in each document, near ranges whose
    windows' coverage intervals touch (start gap <= K) merge into one
    span with exact token coverage, and separated runs stay two
    ranges."""
    K = R._SUB_K
    assert K == 8
    a = [f"a{i}" for i in range(1, 31)]     # a1..a30
    b = [f"b{i}" for i in range(1, 21)]     # b1..b20
    rows = [
        (1, " ".join(a)),                                    # a1..a30
        (2, " ".join([f"f{i}" for i in range(1, 6)]
                     + a[9:19]
                     + [f"g{i}" for i in range(1, 6)])),     # run a10..a19
        (3, " ".join(a[0:10]
                     + [f"h{i}" for i in range(1, 11)]
                     + b[0:10])),           # two separated shared runs
        (4, " ".join(b)),                                    # b1..b20
    ]
    d = str(tmp_path / "substr")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = (
        R.q_substring_dedup(spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 1: run a1..a10 (shared w/ doc 3, window starts 0..2) and run
    # a10..a19 (shared w/ doc 2, starts 9..11); start gap 9-2=7 <= K so
    # the two MERGE into one span covering words 0..18 (19 tokens).
    assert got.loc[1, "n_pos"] == 23
    assert got.loc[1, "n_dup_pos"] == 6
    assert got.loc[1, "n_ranges"] == 1
    assert got.loc[1, "dup_tokens"] == 19
    # doc 2: one 10-word shared run at offset 5 (starts 5..7)
    assert got.loc[2, "n_pos"] == 13
    assert (got.loc[2, "n_dup_pos"], got.loc[2, "n_ranges"]) == (3, 1)
    assert got.loc[2, "dup_tokens"] == 10
    # doc 3: two shared runs separated by a 10-word unique gap -> 2
    # ranges, 10 covered tokens each
    assert got.loc[3, "n_ranges"] == 2
    assert got.loc[3, "n_dup_pos"] == 6
    assert got.loc[3, "dup_tokens"] == 20
    # doc 4: one shared run at its head
    assert (got.loc[4, "n_dup_pos"], got.loc[4, "dup_tokens"]) == (3, 10)


def test_quality_classifier_matches_local_hashing(spark, tmp_path):
    """Third implementation: the hashed-linear score recomputed in pure
    Python must match Spark exactly (bucket indexing, weight table, and
    integer sum), and both labels must fire."""
    import hashlib

    def score(text):
        s = 0
        for w in text.strip().split(" "):
            b = int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % 256
            s += R._QC_WEIGHTS[b]
        return s

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(1, 12))) for i in range(40)
    ]
    d = str(tmp_path / "qc")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = R.q_quality_classifier(spark, d).toPandas().set_index("doc_id")
    labels = set()
    for i, text in rows:
        s = score(text)
        assert got.loc[i, "w_sum"] == s
        assert got.loc[i, "label"] == ("keep" if s >= 0 else "drop")
        labels.add(got.loc[i, "label"])
    assert labels == {"keep", "drop"}


def test_semdedup_flags_near_vector_with_min_id_rep(spark, tmp_path):
    """SemDeDup semantics on a crafted embedding table: a vector
    epsilon-close to a smaller-id one in the same cluster is flagged
    with that id as representative; well-separated vectors are kept."""
    # ids 0..7 seed the centroids (well-separated grid); the near-twin
    # pair uses ids 8/9 so both land in the SAME learned cluster.
    rows = [(i, [float(i)] * 64, 0) for i in range(8)]
    rows.append((8, [3.45] * 64, 0))
    rows.append((9, [3.45 + 1e-4] * 64, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "sem")
    df.write.parquet(f"{d}/embeddings.parquet")
    got = R.q_semdedup(spark, d).toPandas().set_index("vec_id").sort_index()
    assert bool(got.loc[9, "is_dup"]) is True
    assert got.loc[9, "rep_id"] == "8"
    assert got.loc[9, "cid"] == got.loc[8, "cid"]
    for i in range(9):
        assert bool(got.loc[i, "is_dup"]) is False, i
        assert got.loc[i, "rep_id"] == ""


def test_bm25_ranks_by_term_frequency_and_length(spark, tmp_path):
    """BM25 semantics on a crafted corpus: with equal doc length, more
    query-term occurrences rank higher; term-free docs score 0; and a
    shorter doc with the same tf outranks a longer one (length
    normalization, b=0.75)."""
    filler = "the"
    rows = []
    # doc 0: tf(spark)=5, doc 1: tf(spark)=1, same length 25
    rows.append((0, " ".join(["spark"] * 5 + [filler] * 20)))
    rows.append((1, " ".join(["spark"] * 1 + [filler] * 24)))
    # doc 2: tf=1 but much longer than doc 1
    rows.append((2, " ".join(["spark"] * 1 + [filler] * 99)))
    # docs 3..11: no query terms at all
    for i in range(3, 12):
        rows.append((i, " ".join([filler] * 25)))
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: r["bm25"]
        for r in R.q_bm25_topk(spark, str(tmp_path)).collect()
    }
    assert got[0] > got[1] > got[2] > 0
    for d in range(3, 12):
        assert got.get(d, 0.0) == 0.0


def test_header_footer_rules(spark, sf001_dir):
    """Pins the three detection rules on the injected fixture lines:
    the constant header is flagged on every multi-page doc, the
    page-numbered footer is flagged ONLY because digit normalization
    collapses "Page N of 3" across pages, and the page-0-only DRAFT
    line never appears (>=2 distinct pages required)."""
    got = R.q_header_footer_strip(spark, sf001_dir).toPandas()
    hdr = got[got.norm_line == "confidential evdoc-#"]
    ftr = got[got.norm_line == "page # of #"]
    assert len(hdr) > 0 and (hdr.band == "header").all()
    assert len(ftr) > 0 and (ftr.band == "footer").all()
    # every doc that got the header also got the footer: both are
    # injected on the same (doc, page) set
    assert set(hdr.doc_id) == set(ftr.doc_id)
    assert (ftr.n_pages >= 2).all()
    assert not got.norm_line.str.startswith("draft").any()


def test_dehyphenate_repairs_wraps(spark, sf001_dir, tmp_path):
    """Every corpus row must roundtrip (repair inverts the synthetic
    line-wrapper exactly), and on a crafted doc the counts are exact:
    'alphabet' (8) and 'considerable' (12) get hyphen-split, 'pears'
    (5) gets a plain wrap that must NOT join words."""
    got = R.q_dehyphenate(spark, sf001_dir).toPandas()
    assert got.roundtrip_ok.all()
    assert (got.n_hyphen_joins > 0).any()
    assert (got.n_breaks >= got.n_hyphen_joins).all()

    pd.DataFrame(
        [(0, "alphabet soup considerable pears xy")],
        columns=["doc_id", "text"],
    ).to_parquet(str(tmp_path / "documents.parquet"))
    row = R.q_dehyphenate(spark, str(tmp_path)).collect()[0]
    # 2 hyphen splits (alphabet, considerable) + 1 plain wrap (pears)
    assert row["n_hyphen_joins"] == 2
    assert row["n_breaks"] == 3
    assert bool(row["roundtrip_ok"]) is True


def test_asof_join_strictness_invariants(spark, sf001_dir):
    """Independent pins of the as-of semantics (not the oracle mirror):
    strictly-before means a purchase never matches itself (gap 0 is
    impossible), every match looks backward in time (gap > 0), every
    user's EARLIEST purchase has no prior purchase (-1 sentinel), and
    unmatched rows carry all three sentinels coherently."""
    out = R.q_asof_join(spark, sf001_dir).toPandas()
    ev = pd.read_parquet(f"{sf001_dir}/events.parquet")
    assert len(out) == len(ev)
    matched = out[out.prev_purchase_id >= 0]
    assert (matched.gap_us > 0).all()
    unmatched = out[out.prev_purchase_id < 0]
    assert (unmatched.gap_us == -1).all()
    assert (unmatched.prev_purchase_value == 0.0).all()
    pur = ev[ev.event_type == "purchase"]
    first_purchase = pur.loc[pur.groupby("user_id").ts.idxmin(), "event_id"]
    got_first = out.set_index("event_id").loc[first_purchase]
    assert (got_first.prev_purchase_id == -1).all()


def test_embed_quantize_bounds(spark, sf001_dir):
    """Independent pins of int8 scalar quantization: one row per dim,
    the max-|v| element always saturates (it maps exactly to +/-127),
    and the reconstruction MSE respects the half-step bound
    (scale/254)^2 -- clamping never adds error because |v| <= scale by
    construction."""
    out = R.q_embed_quantize(spark, sf001_dir).toPandas()
    emb = pd.read_parquet(f"{sf001_dir}/embeddings.parquet")
    ndim = len(emb.embedding.iloc[0])
    assert len(out) == ndim
    assert (out.n == len(emb)).all()
    assert (out.n_saturated >= 1).all()
    assert (out.mse_e6 >= 0).all()
    bound_e6 = (out.scale / 254.0) ** 2 * 1e6
    assert (out.mse_e6 <= bound_e6 + 1e-9).all()


def test_pagerank_fixed_point_recurrence(spark, sf001_dir):
    """Independent numpy re-derivation of the integer PageRank
    recurrence from the kNN edge list, plus structural invariants:
    every rank >= the teleport base, an in-degree-0 node sits EXACTLY
    at the base after the final iteration, and total mass never
    exceeds N * PR_SCALE (integer truncation + dangling leak only
    remove mass, never add it)."""
    import numpy as np

    edges = R.q_knn_graph(spark, sf001_dir).toPandas()
    got = R.q_pagerank(spark, sf001_dir).toPandas()
    n = len(got)
    ids = sorted(got["vec_id"])
    idx = {v: i for i, v in enumerate(ids)}
    src = edges["vec_id"].map(idx).to_numpy()
    dst = edges["nbr_id"].map(idx).to_numpy()
    od = np.zeros(n, dtype=np.int64)
    np.add.at(od, src, 1)
    rf = np.full(n, R.PR_SCALE, dtype=np.int64)
    for _ in range(R.PR_ITERS):
        contrib = rf[src] // od[src]
        m = np.zeros(n, dtype=np.int64)
        np.add.at(m, dst, contrib)
        rf = R.PR_BASE + (17 * m) // 20
    want = dict(zip(ids, [int(x) for x in rf]))
    got_map = dict(zip(got["vec_id"], got["pr_fp"]))
    assert got_map == want
    assert (got["pr_fp"] >= R.PR_BASE).all()
    indeg = np.zeros(n, dtype=np.int64)
    np.add.at(indeg, dst, 1)
    sinks = [ids[i] for i in range(n) if indeg[i] == 0]
    if sinks:
        assert all(got_map[v] == R.PR_BASE for v in sinks)
    assert got["pr_fp"].sum() <= n * R.PR_SCALE


def test_length_quantiles_hand_checked(spark, tmp_path):
    """Quartiles on a crafted single-language corpus checked against
    numpy's linear interpolation — the dyadic-fraction exactness claim
    in the docstring, pinned on an n where 0.25*(n-1) is fractional."""
    import numpy as np

    lens = [10, 20, 30, 40, 50, 60]  # n=6: h(0.25)=1.25 fractional
    d = str(tmp_path / "lq")
    spark.createDataFrame(
        [
            (i, " ".join(["w"] * ln), "en", "s0", ln)
            for i, ln in enumerate(lens)
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    out = R.q_length_quantiles(spark, d).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert row["n_docs"] == 6
    assert row["chars_min"] == 10 and row["chars_max"] == 60
    for col, q in [
        ("chars_p25", 0.25),
        ("chars_p50", 0.5),
        ("chars_p75", 0.75),
    ]:
        assert row[col] == np.percentile(lens, q * 100), col
    assert row["toks_p50"] == np.percentile(lens, 50)


def test_dsir_weights_separates_target(spark, sf001_dir):
    """The operator's purpose, pinned: target-language docs must score
    a strictly higher mean importance weight than off-target docs
    (they ARE the target distribution), weights must be internally
    consistent with their fixed-point column, and n_toks must equal
    the whitespace token count."""
    out = R.q_dsir_weights(spark, sf001_dir).toPandas()
    docs = pd.read_parquet(f"{sf001_dir}/documents.parquet")
    assert len(out) == len(docs)
    tgt = out[out["lang"] == R.DSIR_TARGET_LANG]["dsir_weight"]
    off = out[out["lang"] != R.DSIR_TARGET_LANG]["dsir_weight"]
    assert tgt.mean() > off.mean()
    assert (out["dsir_weight"] == (out["weight_fp"] / 1e6).round(6)).all()
    want_toks = (
        docs.set_index("doc_id")["text"]
        .str.split()
        .map(len)
        .rename("n_toks")
    )
    got_toks = out.set_index("doc_id")["n_toks"]
    assert got_toks.sort_index().equals(want_toks.sort_index())


def test_simhash_pairs_brute_force_equality(spark, sf001_dir):
    """Independent pure-python recomputation: per-doc 64-bit simhash
    from md5 word votes (unsigned arithmetic — the engine's signed
    two's-complement fold is the same bit pattern), then ALL-PAIRS
    exact Hamming <= 3 — must equal the banded query exactly (the
    zero-false-negative pigeonhole claim; at sf0.001 no 16-bit band
    bucket exceeds the cap, so the banding must be lossless)."""
    import hashlib

    out = R.q_simhash_pairs(spark, sf001_dir).toPandas()
    docs = pd.read_parquet(f"{sf001_dir}/documents.parquet")
    sigs = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        votes = [0] * 64
        for w in text.split(" "):
            if not w:
                continue
            hx = hashlib.md5(w.encode()).hexdigest()
            h1, h2 = int(hx[:8], 16), int(hx[8:16], 16)
            for b in range(64):
                bit = (h1 >> b) & 1 if b < 32 else (h2 >> (b - 32)) & 1
                votes[b] += 1 if bit else -1
        sigs[doc_id] = sum(1 << b for b in range(64) if votes[b] > 0)
    ids = sorted(sigs)
    want = set()
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            ham = bin(sigs[da] ^ sigs[db]).count("1")
            if ham <= R.SIMHASH_PAIR_MAXHAM:
                want.add((da, db, ham))
    got = set(
        (a, b, int(h))
        for a, b, h in zip(out["doc_a"], out["doc_b"], out["hamming"])
    )
    assert got == want
    assert len(want) > 0  # the fixture must exercise the operator
    # no bucket at this sf may hit the cap (else "lossless" is vacuous)
    from collections import Counter

    cnt = Counter()
    for s in sigs.values():
        for b in range(4):
            cnt[(b, (s >> (16 * b)) & 0xFFFF)] += 1
    assert max(cnt.values()) <= R.MINHASH_BUCKET_CAP


def test_ann_pq_numpy_rederivation(spark, sf001_dir):
    """Full independent numpy re-derivation of the PQ chain: per
    subspace the exact 2-round Lloyd (int64 subvectors, argmin ties to
    smaller cid, floor(sum/count) centroid updates), then the ADC
    lookup-table search — top-10 (vec_id, adc_dist, idist) must match
    the query exactly."""
    import numpy as np

    out = R.q_ann_pq(spark, sf001_dir).toPandas()
    emb = pd.read_parquet(f"{sf001_dir}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    iv = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * R._KM_Q
    ).astype(np.int64)
    ids = emb["vec_id"].to_numpy()
    assert (ids == np.arange(len(ids))).all()  # init rule needs 0..7

    def assign_to(sub, cents):
        cids = sorted(cents)
        cm = np.stack([cents[c] for c in cids])
        d = ((sub[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        return np.array([cids[j] for j in d.argmin(axis=1)])

    def lloyd(sub):
        cents = {c: sub[c].copy() for c in range(R._KM_K)}
        for _ in range(2):
            assign = assign_to(sub, cents)
            cents = {
                c: np.floor(
                    sub[assign == c].sum(axis=0)
                    / float((assign == c).sum())
                ).astype(np.int64)
                for c in sorted(set(assign))
            }
        # final assignment against the SAME codebook the LUT uses (c2)
        return assign_to(sub, cents), cents

    adc = np.zeros(len(ids), dtype=np.int64)
    for m in range(R._PQ_M):
        sub = iv[:, m * R._PQ_SUBDIM : (m + 1) * R._PQ_SUBDIM]
        assign, cents = lloyd(sub)
        lut = {c: int(((sub[0] - v) ** 2).sum()) for c, v in cents.items()}
        adc += np.array([lut[c] for c in assign])
    idist = ((iv - iv[0]) ** 2).sum(axis=1)
    order = sorted(
        (int(adc[i]), int(v))
        for i, v in enumerate(ids)
        if v != 0
    )[:10]
    want = [
        (v, a, int(idist[np.where(ids == v)[0][0]])) for a, v in order
    ]
    got = list(zip(out["vec_id"], out["adc_dist"], out["idist"]))
    assert [(int(a), int(b), int(c)) for a, b, c in got] == want


def test_corpus_rollup_marginals_consistent(spark, sf001_dir):
    """CUBE structural invariants: the grand-total row equals the sum
    of the finest cells, every lang marginal equals the sum of its
    (lang, source) cells, and all four granularities are present."""
    out = R.q_corpus_rollup(spark, sf001_dir).toPandas()
    fine = out[(out.lang != "(all)") & (out.source != "(all)")]
    total = out[(out.lang == "(all)") & (out.source == "(all)")]
    assert len(total) == 1
    for c in ("n_docs", "n_tokens", "n_chars"):
        assert int(total.iloc[0][c]) == int(fine[c].sum())
    lang_m = out[(out.lang != "(all)") & (out.source == "(all)")]
    for _, row in lang_m.iterrows():
        cells = fine[fine.lang == row["lang"]]
        assert int(row["n_docs"]) == int(cells["n_docs"].sum())
        assert int(row["n_tokens"]) == int(cells["n_tokens"].sum())
    src_m = out[(out.lang == "(all)") & (out.source != "(all)")]
    assert len(out) == len(fine) + len(lang_m) + len(src_m) + 1


def test_rolling_activity_range_frame_ages_out_gap_days(spark, tmp_path):
    """The RANGE-vs-ROWS distinction, pinned: a crafted stream with a
    calendar gap — events on days 0, 1, 10.  Day 10's 7-day rolling
    count must be day 10 ALONE (days 0-1 aged out by the RANGE frame);
    a 7-ROWS frame would wrongly include them."""
    import datetime as dt

    d = str(tmp_path / "ra")
    rows = []
    eid = 0
    for day, n in [(0, 3), (1, 2), (10, 4)]:
        for i in range(n):
            rows.append(
                (eid, dt.datetime(2024, 3, 1 + day, 12, i), 100 + i,
                 "view", 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    out = (
        R.q_rolling_activity(spark, d)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert list(out["n_events"]) == [3, 2, 4]
    assert list(out["rolling7_events"]) == [3, 5, 4]  # day 10 stands alone


def test_quality_deciles_bucket_properties(spark, sf001_dir):
    """ntile invariants per language: bucket sizes differ by at most
    one with earlier buckets never smaller, sizes sum to the language's
    doc count, and bucket boundaries are monotonic (chars_max of decile
    d <= chars_min of decile d+1)."""
    out = R.q_quality_deciles(spark, sf001_dir).toPandas()
    docs = pd.read_parquet(f"{sf001_dir}/documents.parquet")
    for lang, g in out.groupby("lang"):
        g = g.sort_values("decile").reset_index(drop=True)
        sizes = list(g["n_docs"])
        assert max(sizes) - min(sizes) <= 1
        assert sizes == sorted(sizes, reverse=True)
        assert sum(sizes) == (docs["lang"] == lang).sum()
        for i in range(len(g) - 1):
            assert g.iloc[i]["chars_max"] <= g.iloc[i + 1]["chars_min"]


def test_audio_windows_hashlib_rederivation(spark, sf001_dir):
    """Independent hashlib recomputation of EVERY audio window's
    features: 16 PCM-stand-in bytes = md5(md5(ref) + ':w:' + w),
    amplitude = |byte - 128| — sum/peak/loud-count must match the
    kernel exactly, and each row must emit exactly k=4 windows at the
    uniform indices."""
    import hashlib

    out = R.q_audio_windows(spark, sf001_dir).toPandas()
    assert len(out) > 0
    per_ref = out.groupby("media_ref").size()
    assert (per_ref == 4).all()
    for _, r in out.iterrows():
        seed = hashlib.md5(r["media_ref"].encode()).hexdigest()
        digest = hashlib.md5(
            (seed + f":w:{int(r['win_idx'])}").encode()
        ).digest()
        amps = [abs(b - 128) for b in digest]
        assert int(r["sum_abs"]) == sum(amps)
        assert int(r["peak"]) == max(amps)
        assert int(r["n_loud"]) == sum(1 for a in amps if a >= 64)
    # uniform sampling rule: win_idx = i * n_windows div 4
    for ref, g in out.groupby("media_ref"):
        nw = int(g["n_windows"].iloc[0])
        assert sorted(g["win_idx"]) == sorted(
            (i * nw) // 4 for i in range(4)
        )
