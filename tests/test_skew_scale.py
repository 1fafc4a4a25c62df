"""Adversarial skew corpus at NATURAL split size (SURVEY §7 "the" case):

One term appears in EVERY doc of a 280k-doc corpus, so each of the two
doc-hash shards holds a ~140k-posting list for it — above
codec.MAX_ROW_POSTINGS (131072), so the giant-list split fires at its
real production cap (no artificial tiny caps), the (shard, tbucket)
exchange must stay balanced, and the split-row WAND path must both
return the analytically-correct result set AND decode only a small
fraction of tf/dl blocks on a top-k query (transfer ∝ blocks decoded —
the Spark analogue of the reference's mmap-granularity reads,
/root/reference/indexer-qp2/src/index_reader.rs:271-311).

The corpus is synthesized in-Spark (spark.range → column exprs): no
driver-side row lists, fully deterministic.
"""

import pytest
from pyspark.sql import functions as F

from search_suite_spark.operators.codec import MAX_ROW_POSTINGS
from search_suite_spark.operators.wand import wand_scored
from search_suite_spark.sources.segments import build_segment

N_DOCS = 280_000
N_SHARDS = 2


def _letters(col):
    # digit→letter translation: the tokenizer splits letter/digit runs
    # ("w17" → w, 17), so synthetic terms must be pure letters
    return F.translate(col.cast("string"), "0123456789", "abcdefghij")


def _skew_pages(spark):
    # every doc: "the", a mid-frequency w<id % 50000>, a unique u<id>
    # (letter-encoded), and 1-in-2000 docs are LONG (25 filler tokens).
    # df("the") = N makes its idf NEGATIVE (ranking.rs:43-49), which
    # flips the block bound to impact(min_tf, max_dl): the long docs
    # score least-negative and win the top-k, and blocks holding only
    # short docs are provably below θ — the variance the pruning test
    # needs, in the exact shape a real stop-word corpus produces.
    return spark.range(N_DOCS).select(
        F.concat(F.lit("d://"), F.col("id")).alias("url"),
        F.concat(
            F.lit("the w"), _letters(F.col("id") % 50_000),
            F.lit(" u"), _letters(F.col("id")),
            F.when(F.col("id") % 2000 == 0, F.lit(" p" * 25))
            .otherwise(F.lit("")),
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def skew_seg(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("skew") / "seg")
    return build_segment(
        _skew_pages(spark), d, n_shards=N_SHARDS,
        shards_per_batch=N_SHARDS, dedupe=False,
    )


def test_natural_size_split_fires(skew_seg):
    rows = (
        skew_seg.postings.filter(F.col("term") == "the")
        .groupBy("shard")
        .agg(F.count("*").alias("rows"), F.max("n").alias("max_n"),
             F.sum("n").alias("postings"))
        .collect()
    )
    assert {r["shard"] for r in rows} == set(range(N_SHARDS))
    for r in rows:
        assert r["postings"] > MAX_ROW_POSTINGS, "corpus too small to split"
        assert r["rows"] >= 2, "split must fire at the natural cap"
        assert r["max_n"] <= MAX_ROW_POSTINGS


def test_shard_exchange_stays_balanced(spark, skew_seg):
    """Doc-hash sharding bounds stop-word skew BY CONSTRUCTION: the
    universal term lands df/n_shards postings per shard, so per-shard
    posting totals stay near-equal even on this adversarial corpus."""
    from search_suite_spark.sources.segment_io import current_io

    lineage = current_io().read_lineage(spark, skew_seg.path)
    counts = [r["n_postings"] for r in lineage.collect()]
    assert len(counts) == N_SHARDS
    assert min(counts) > 0
    assert max(counts) / min(counts) < 1.05, f"shard imbalance: {counts}"


def _enc(i: int) -> str:
    return str(i).translate(str.maketrans("0123456789", "abcdefghij"))


def test_split_row_wand_correct_by_construction(skew_seg):
    # "the w<17> u<17>": u<17> only in doc 17 → exactly one result
    q1 = f"the w{_enc(17)} u{_enc(17)}"
    out = wand_scored(skew_seg, q1).collect()
    assert [r["url"] for r in out] == ["d://17"]
    assert out[0]["term_count"] == 3
    # "the w<17>": docs 17, 50017, ..., 250017 → six results
    out = wand_scored(skew_seg, f"the w{_enc(17)}").collect()
    assert {r["url"] for r in out} == {
        f"d://{17 + 50_000 * k}" for k in range(6)
    }


def test_topk_decodes_fraction_of_blocks(skew_seg):
    """End-to-end (through applyInPandas executors, via accumulators):
    a top-10 query on the universal term must decode well under half of
    its tf/dl blocks. df = N ⇒ idf < 0 ⇒ the lossless bound flip
    (wand.py phase 3) puts the LONG docs on top and lets every
    short-docs-only block be skipped without decoding its tf/dl."""
    stats: dict = {}
    out = wand_scored(skew_seg, "the", max_results=10, stats=stats).collect()
    assert len(out) == 10
    # winners under negative idf: the long docs (ids ≡ 0 mod 2000)
    for r in out:
        assert int(r["url"].split("://")[1]) % 2000 == 0
    decoded = stats["blocks_decoded"].value
    total = stats["blocks_total"].value
    assert total >= (2 * (N_DOCS // N_SHARDS)) // 128 - 2
    assert 0 < decoded < 0.5 * total, (
        f"block-max failed to prune: decoded {decoded}/{total}"
    )


def test_single_term_fastpath_matches_generic_kernel(skew_seg):
    """The single-term top-k fast path (blocks visited in upper-bound
    order, no full id decode — wand._single_term_topk) must agree with
    the generic score-everything kernel on the k best scores, and must
    actually skip id decodes (< 20% of blocks touched on the universal
    stop-word list)."""
    import numpy as np
    from search_suite_spark.operators import wand as W

    rows = skew_seg.postings.filter(F.col("term") == "the").toPandas()
    one = rows[rows["shard"] == rows["shard"].iloc[0]]
    df = skew_seg.term_dfs(["the"])["the"]
    idfs = {"the": W._idf(skew_seg.num_docs, df)}
    meta = {0: (skew_seg.avgdl, idfs, {"q": {"the": (df, 1)}})}
    deleted = np.empty(0, dtype=np.uint64)

    sd = W._stats_dict()
    d0 = sd["blocks_decoded"]
    fast = W._kernel(meta, 10)(0, one, deleted)
    fast_decoded = sd["blocks_decoded"] - d0
    full = W._kernel(meta, None)(0, one, deleted)
    top_fast = sorted(fast["score"], reverse=True)[:10]
    top_full = sorted(full["score"], reverse=True)[:10]
    assert np.allclose(top_fast, top_full, rtol=1e-12)
    n_blocks = int(sum(len(r["block_last"]) for _, r in one.iterrows()))
    assert 0 < fast_decoded < 0.2 * n_blocks
