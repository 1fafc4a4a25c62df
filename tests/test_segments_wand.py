"""Packed-segment build + WAND query tests:

  - rank identity: WAND over the packed segment must reproduce the flat
    DataFrame path's (url, score) results exactly (rel tol 1e-9)
  - resume: interrupted builds complete without recomputing finished
    shards (per-partition lineage, north_rule)
  - deletion filtering inside the shard kernel
"""

import shutil

import pytest
from pyspark.sql import functions as F

from search_suite_spark.operators.build import build_index
from search_suite_spark.operators.query import bm25_scored
from search_suite_spark.operators.wand import wand_scored
from search_suite_spark.sources.segments import (
    build_segment,
    completed_shards,
    delete_url,
    read_segment,
)

SF_DIR = "/root/testdata/sf0.001"


def _pages(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
        )
    )


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seg"))
    return build_segment(_pages(spark), d, n_shards=4, shards_per_batch=2)


@pytest.fixture(scope="module")
def flat(spark):
    return build_index(_pages(spark), dedupe=False)


QUERIES = ["spark", "merge join", "the fast key", "doc", "zzznope", "spark zzznope"]


def test_wand_rank_identity_vs_flat(spark, seg, flat):
    for q in QUERIES:
        w = {(r["url"]): (r["score"], r["term_count"]) for r in wand_scored(seg, q).collect()}
        f = {(r["url"]): (r["score"], r["term_count"]) for r in bm25_scored(flat, q).collect()}
        assert set(w) == set(f), f"url set mismatch for {q!r}"
        for url, (score, tc) in f.items():
            assert w[url][0] == pytest.approx(score, rel=1e-9), f"{q!r} {url}"
            assert w[url][1] == tc


def test_wand_topk_matches_flat_topk(spark, seg, flat):
    w = wand_scored(seg, "spark", max_results=5).collect()
    f = bm25_scored(flat, "spark", max_results=5).collect()
    assert len(w) == 5
    assert [r["url"] for r in w] == [r["url"] for r in f]
    for a, b in zip(w, f):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9)


def test_segment_stats_match_flat(seg, flat):
    assert seg.num_docs == flat.num_docs
    assert seg.total_doc_len == flat.total_doc_len


def test_lineage_complete(spark, seg):
    from tests.conftest import require_parquet_layout

    require_parquet_layout()
    assert completed_shards(spark, seg.path) == {0, 1, 2, 3}
    lineage = spark.read.parquet(f"{seg.path}/lineage")
    row = lineage.agg(
        F.sum("n_docs").alias("nd"), F.sum("n_postings").alias("np")
    ).collect()[0]
    assert row["nd"] == seg.num_docs
    assert row["np"] > 0


def test_resume_skips_completed_shards(spark, seg):
    import os

    from tests.conftest import require_parquet_layout

    require_parquet_layout()

    # no-op resume: postings files untouched
    before = {
        p: os.path.getmtime(os.path.join(dp, p))
        for dp, _, fs in os.walk(f"{seg.path}/postings")
        for p in fs
    }
    build_segment(_pages(spark), seg.path, n_shards=4, shards_per_batch=2)
    after = {
        p: os.path.getmtime(os.path.join(dp, p))
        for dp, _, fs in os.walk(f"{seg.path}/postings")
        for p in fs
    }
    assert before == after


def test_resume_completes_interrupted_build(spark, seg, flat, tmp_path):
    from tests.conftest import require_parquet_layout

    require_parquet_layout()
    d = str(tmp_path / "seg_interrupted")
    # simulate a crash after the first batch: copy only shards {0,1}'s
    # lineage and drop shard 2/3 postings+docs
    import os

    shutil.copytree(seg.path, d)
    lin = spark.read.parquet(f"{seg.path}/lineage").filter(F.col("shard") < 2)
    lin_pd = lin.toPandas()
    shutil.rmtree(f"{d}/lineage")
    spark.createDataFrame(lin_pd).write.parquet(f"{d}/lineage")
    for s in (2, 3):
        shutil.rmtree(f"{d}/postings/shard={s}")
        shutil.rmtree(f"{d}/docs/shard={s}")

    assert completed_shards(spark, d) == {0, 1}
    seg2 = build_segment(_pages(spark), d, n_shards=4, shards_per_batch=2)
    assert completed_shards(spark, d) == {0, 1, 2, 3}
    assert seg2.num_docs == seg.num_docs

    w = {r["url"]: r["score"] for r in wand_scored(seg2, "merge join").collect()}
    f = {r["url"]: r["score"] for r in bm25_scored(flat, "merge join").collect()}
    assert set(w) == set(f)
    for url, score in f.items():
        assert w[url] == pytest.approx(score, rel=1e-9)


def test_build_dedupe_per_batch_and_resume(spark, tmp_path):
    """Newest-wins url dedupe runs AFTER the shard filter (it commutes:
    every copy of a url shares its shard), so a resumed build skips the
    dedupe shuffle for completed shards — and the result is identical to
    corpus-wide dedupe: the duplicate url's OLD body never surfaces, on
    the initial multi-batch build or across a crash/resume."""
    from tests.conftest import require_parquet_layout

    from search_suite_spark.sources.corpus import pages_tiny

    require_parquet_layout()
    pages = pages_tiny(spark)  # http://doc3 twice; "baz" only in the old body
    d = str(tmp_path / "seg_dedupe")
    seg = build_segment(pages, d, n_shards=4, shards_per_batch=2)
    assert seg.num_docs == 3
    assert [r["url"] for r in wand_scored(seg, "bazar").collect()] == [
        "http://doc3"
    ]
    assert wand_scored(seg, "baz").count() == 0  # old doc3 body replaced

    # crash after the first batch; the resumed build must keep the same
    # dedupe result even though it only re-tokenizes the missing shards
    lin_pd = (
        spark.read.parquet(f"{d}/lineage").filter(F.col("shard") < 2).toPandas()
    )
    shutil.rmtree(f"{d}/lineage")
    spark.createDataFrame(lin_pd).write.parquet(f"{d}/lineage")
    for s in (2, 3):
        shutil.rmtree(f"{d}/postings/shard={s}", ignore_errors=True)
        shutil.rmtree(f"{d}/docs/shard={s}", ignore_errors=True)
    seg2 = build_segment(pages, d, n_shards=4, shards_per_batch=2)
    assert seg2.num_docs == 3
    assert [r["url"] for r in wand_scored(seg2, "bazar").collect()] == [
        "http://doc3"
    ]
    assert wand_scored(seg2, "baz").count() == 0


def test_blockmax_skips_scoring_decodes():
    """The block-max metadata must actually PRUNE: on a posting list with
    one high-impact block (tf=100 in block 0, tf=1 elsewhere), a k=5
    query must decode fewer tf/dl blocks than the list contains, and the
    surviving scores must equal the exact BM25 values.

    Deterministic kernel-level test (hand-packed list, ids in order) —
    corpus-level rank identity is covered by the tests above. On a real
    hash-sharded corpus single-term bounds are loose (score mass is
    i.i.d. across blocks); the deterministic shape isolates the pruning
    logic itself.
    """
    import numpy as np
    import pandas as pd

    from search_suite_spark.operators import wand as W
    from search_suite_spark.operators.codec import BLOCK, impact, pack_posting_list

    n, n_docs, df, avgdl = 2000, 4000, 900, 120
    ids = np.arange(1, n + 1, dtype=np.uint64)
    tfs = np.where(ids <= BLOCK, 100, 1).astype(np.uint64)
    dls = np.full(n, avgdl, dtype=np.uint64)
    p = pack_posting_list(ids, tfs, dls, presorted=True)
    row = {"term": "common", "shard": 0, **p}
    pdf = pd.DataFrame([row])

    idfs = {"common": W._idf(n_docs, df)}
    kernel = W._kernel({0: (avgdl, idfs, {"q": {"common": (df, 1)}})}, 5)
    W.DECODE_STATS.update(blocks_decoded=0, blocks_total=0)
    out = kernel(0, pdf, np.empty(0, dtype=np.uint64))

    n_blocks = (n + BLOCK - 1) // BLOCK
    assert W.DECODE_STATS["blocks_total"] == n_blocks
    assert 0 < W.DECODE_STATS["blocks_decoded"] < n_blocks, (
        "block-max bound must prune tf/dl block decodes "
        f"(decoded {W.DECODE_STATS['blocks_decoded']} of {n_blocks})"
    )
    # pruning must be lossless: every returned score is exact, and the
    # top-k set contains the hot docs with the exact hot score
    idf = W._idf(n_docs, df)
    hot = idf * float(impact(np.array([100]), np.array([avgdl]), avgdl)[0])
    assert idf > 0
    top = sorted(out["score"], reverse=True)[:5]
    for s in top:
        assert s == pytest.approx(hot, rel=1e-12)
    assert len(out) >= 5


def test_wand_deletion(spark, seg, flat):
    full = {r["url"] for r in wand_scored(seg, "spark").collect()}
    victim = sorted(full)[0]
    delete_url(spark, seg, victim)
    seg2 = read_segment(spark, seg.path)
    seg2 = type(seg2)(
        path=seg2.path, postings=seg2.postings, docs=seg2.docs,
        num_docs=seg2.num_docs, total_doc_len=seg2.total_doc_len,
        deletes=seg2.deletes,
    )
    after = {r["url"] for r in wand_scored(seg2, "spark").collect()}
    assert after == full - {victim}
    # stats unchanged by deletion (ranking.rs:48-50)
    assert seg2.num_docs == flat.num_docs


def test_wand_large_deletes_cogroup_branch(spark, seg):
    """Above the broadcast cap the deletes table must never reach the
    driver: the shard-cogrouped path has to produce results identical to
    the closure-array path (deletes_broadcast_max=0 forces it)."""
    full = {r["url"] for r in wand_scored(seg, "spark").collect()}
    victims = sorted(full)[:2]
    for v in victims:
        delete_url(spark, seg, v)
    seg2 = read_segment(spark, seg.path)
    assert seg2.n_shards == 4
    small = wand_scored(seg2, "spark")
    big = wand_scored(seg2, "spark", deletes_broadcast_max=0)
    rows_small = {(r["url"], round(r["score"], 9)) for r in small.collect()}
    rows_big = {(r["url"], round(r["score"], 9)) for r in big.collect()}
    assert rows_small == rows_big
    assert {u for u, _ in rows_big}.isdisjoint(victims)


def test_giant_list_row_split_rank_identity(spark, flat, tmp_path):
    """codec.MAX_ROW_POSTINGS splitting: a segment built with a tiny
    per-row posting cap must (a) actually cap every packed row, (b) keep
    every query rank-identical to the flat path, and (c) bound the Arrow
    bytes per row (the 100-TB stop-word transfer guard)."""
    d = str(tmp_path / "seg_split")
    seg = build_segment(
        _pages(spark), d, n_shards=2, shards_per_batch=2,
        max_row_postings=128,
    )
    stats = seg.postings.groupBy("term", "shard").count()
    assert stats.filter(F.col("count") > 1).count() > 0, "no term split rows"
    assert seg.postings.agg(F.max("n")).collect()[0][0] <= 128
    for q in QUERIES:
        w = {r["url"]: (r["score"], r["term_count"])
             for r in wand_scored(seg, q).collect()}
        f = {r["url"]: (r["score"], r["term_count"])
             for r in bm25_scored(flat, q).collect()}
        assert set(w) == set(f), f"url set mismatch for {q!r}"
        for url, (score, tc) in f.items():
            assert w[url][0] == pytest.approx(score, rel=1e-9), f"{q!r} {url}"
            assert w[url][1] == tc


def test_split_segment_unpack_flat_matches_unsplit(spark, seg, tmp_path):
    from search_suite_spark.operators.merge import unpack_flat

    d = str(tmp_path / "seg_split2")
    seg_s = build_segment(
        _pages(spark), d, n_shards=4, shards_per_batch=4,
        max_row_postings=128,
    )
    a = {tuple(r) for r in unpack_flat(seg).collect()}
    b = {tuple(r) for r in unpack_flat(seg_s).collect()}
    assert a == b


def test_newline_url_roundtrips_through_marker(spark, tmp_path):
    """Doc identity is marker-term-encoded ("\\n"+micros+"\\n"+url); urls
    with embedded newlines — possible in user-supplied pages frames —
    must land in the docs table byte-identical (ADVICE r3 medium)."""
    from search_suite_spark.sources.corpus import pages_from_docs_list

    weird = "http://evil\nexample.com/a"
    pages = pages_from_docs_list(
        spark, [(weird, "alpha beta"), ("http://ok", "alpha gamma")]
    )
    seg = build_segment(pages, str(tmp_path / "seg_nl"), n_shards=2)
    rows = {r["url"]: r for r in seg.docs.collect()}
    assert set(rows) == {weird, "http://ok"}
    # doc_len counts URL tokens too (mk_doc indexes the url,
    # doc.rs:74): http/evil/example/com/a = 5 url + 2 body tokens
    assert rows[weird]["doc_len"] == 7
    assert rows[weird]["warc_ts"] is not None
    # and the doc is queryable end-to-end
    assert {r["url"] for r in wand_scored(seg, "alpha").collect()} == {
        weird, "http://ok"
    }


def test_cogroup_deletes_rejects_unset_n_shards(spark, seg):
    """pmod(doc_id, 0) would silently mis-shard deletes; the cogrouped
    path must refuse a Segment whose n_shards was never derived
    (ADVICE r3)."""
    s2 = read_segment(spark, seg.path)
    if s2.deletes is None:  # earlier delete tests may not have run
        delete_url(spark, s2, sorted(
            r["url"] for r in s2.docs.select("url").collect())[0])
        s2 = read_segment(spark, seg.path)
    bad = type(s2)(
        path=s2.path, postings=s2.postings, docs=s2.docs,
        num_docs=s2.num_docs, total_doc_len=s2.total_doc_len,
        deletes=s2.deletes, terms=s2.terms, n_shards=0,
    )
    with pytest.raises(ValueError, match="n_shards"):
        wand_scored(bad, "spark", deletes_broadcast_max=0).collect()


def test_deletes_hint_routes_without_count_job(spark, seg):
    """read_segment populates n_deletes_hint from file metadata; the
    broadcast/cogroup routing must agree with a live count."""
    s2 = read_segment(spark, seg.path)
    if s2.deletes is None:
        delete_url(spark, s2, sorted(
            r["url"] for r in s2.docs.select("url").collect())[0])
        s2 = read_segment(spark, seg.path)
    assert s2.n_deletes_hint is not None
    assert s2.n_deletes_hint >= s2.deletes.select("doc_id").distinct().count()


def test_df_strategy_paths_agree(spark, seg):
    """The dictionary probe — the driver-side TermDictionary read of the
    terms table files — must return exactly what a Spark filter of
    seg.terms returns, and wand_scored must give identical rows whichever
    df source it uses: the driver probe (default), caller-provided
    term_dfs, and the postings scan (no dictionary) — including
    duplicate-term multiplicity and the missing-term AND abort
    (query.rs:34-40)."""
    from search_suite_spark.sources.segments import term_probe_predicate

    assert seg.dictionary is not None
    words = ["spark", "merge", "join", "the", "zzznope", "a", "spark"]
    spark_rows = {
        r["term"]: int(r["df"])
        for r in seg.terms.filter(term_probe_predicate(seg.terms, words))
        .collect()
    }
    assert seg.term_dfs(words) == spark_rows
    assert "zzznope" not in spark_rows and "spark" in spark_rows

    def variant(**kw):
        fields = dict(
            path=seg.path, postings=seg.postings, docs=seg.docs,
            num_docs=seg.num_docs, total_doc_len=seg.total_doc_len,
            deletes=seg.deletes, terms=seg.terms, n_shards=seg.n_shards,
            n_deletes_hint=seg.n_deletes_hint, deleted_ids=seg.deleted_ids,
        )
        fields.update(kw)
        return type(seg)(**fields)

    no_dictionary = variant()  # → a Spark scan of the postings
    for q in ["spark", "merge join", "spark spark merge", "spark zzznope"]:
        dfs = seg.term_dfs(sorted(set(q.split())))
        key = lambda rows: sorted(
            (r["url"], round(r["score"], 9), r["term_count"]) for r in rows
        )
        got = [
            key(wand_scored(seg, q).collect()),
            key(wand_scored(seg, q, term_dfs=dfs).collect()),
            key(wand_scored(no_dictionary, q).collect()),
        ]
        assert all(g == got[0] for g in got), q
    assert wand_scored(seg, "zzznope").count() == 0


def test_term_dictionary_row_group_pruning(spark, tmp_path):
    """TermDictionary over several files of several small row groups,
    (tlen, term)-sorted like write_terms: every probe equals a Spark
    filter of the same files (missing and repeated words included), and
    the row-group statistics prune — a one-word probe reads far fewer
    row groups than the table holds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_suite_spark.sources.segments import (
        TermDictionary,
        term_probe_predicate,
    )

    vocab = sorted({f"w{i * 7919 % 100003}" + "x" * (i % 5) for i in range(3000)})
    files = []
    for f in range(3):
        part = sorted(vocab[f::3], key=lambda t: (len(t), t))
        t = pa.table({
            "term": part,
            "df": pa.array([len(w) * 3 + f for w in part], pa.int64()),
            "tlen": pa.array([len(w) for w in part], pa.int32()),
        })
        path = str(tmp_path / f"part-{f}.parquet")
        pq.write_table(t, path, row_group_size=64)
        files.append(path)
    d = TermDictionary(files)
    n_groups = sum(len(b) for _, _, b in d._files)
    assert n_groups > 30
    table = spark.read.parquet(*files)
    probes = [
        [vocab[0]],
        [vocab[5], vocab[5], "nope", vocab[-1]],
        ["", "zzzz", "w1"],
        vocab[100:140],
        [],
    ]
    for words in probes:
        want = {
            r["term"]: int(r["df"])
            for r in table.filter(term_probe_predicate(table, words)).collect()
        } if words else {}
        assert d.dfs(words) == want, words
    from search_suite_spark.sources.segments import _may_hold

    touched = sum(
        1 for _, _, bounds in d._files for b in bounds
        if _may_hold(b, vocab[0])
    )
    assert touched <= 3


def test_bm25_batch_matches_individual(spark, seg):
    """bm25_batch scores N queries in ONE action; each qid's rows must
    be identical to wand_scored on that query alone — including the
    duplicate-term multiplicity, the per-query missing-term abort, and
    an all-empty batch."""
    from search_suite_spark.operators.wand import bm25_batch

    queries = {
        "q_and": "spark merge",
        "q_single": "spark",
        "q_dup": "spark spark merge",
        "q_missing": "spark zzznope",
        "q_empty": "!!!",
    }
    batch = bm25_batch(seg, queries, max_results=5).collect()
    by_qid: dict[str, list] = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append(
            (r["url"], round(r["score"], 9), r["term_count"])
        )
    assert "q_missing" not in by_qid and "q_empty" not in by_qid
    for qid, q in queries.items():
        if qid in ("q_missing", "q_empty"):
            continue
        solo = [
            (r["url"], round(r["score"], 9), r["term_count"])
            for r in wand_scored(seg, q, max_results=5).collect()
        ]
        assert by_qid.get(qid, []) == solo, qid
    assert bm25_batch(seg, {"a": "zzznope", "b": "!!!"}).count() == 0


def test_bm25_batch_release_contract(spark, seg):
    """Serving-loop lifecycle: the returned frame carries ss_release()
    (drops the metadata broadcast's executor blocks after the action),
    the empty-batch frame carries a no-op one, and a released frame is
    still re-executable (the driver re-ships the broadcast value)."""
    from search_suite_spark.operators.wand import bm25_batch

    df = bm25_batch(seg, {"q": "spark merge"}, max_results=5)
    first = [(r["qid"], r["url"]) for r in df.collect()]
    assert first
    df.ss_release()
    assert [(r["qid"], r["url"]) for r in df.collect()] == first
    bm25_batch(seg, {"a": "zzznope"}).ss_release()  # empty path: no-op


def test_bm25_batch_respects_deletes(spark, seg):
    """Batch scoring must filter deleted docs exactly like the
    single-query path (both deletes routings share _route_deletes)."""
    from search_suite_spark.operators.wand import bm25_batch

    s2 = read_segment(spark, seg.path)
    if s2.deletes is None:
        delete_url(spark, s2, sorted(
            r["url"] for r in s2.docs.select("url").collect())[0])
        s2 = read_segment(spark, seg.path)
    for kwargs in ({}, {"deletes_broadcast_max": 0}):
        batch = bm25_batch(s2, {"q": "doc"}, max_results=20, **kwargs)
        solo = wand_scored(s2, "doc", max_results=20, **kwargs)
        assert [
            (r["url"], round(r["score"], 9)) for r in batch.collect()
        ] == [(r["url"], round(r["score"], 9)) for r in solo.collect()]
