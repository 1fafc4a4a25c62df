"""Collection queries in one scatter, with no planning jobs.

query_collection scores every segment in ONE groupBy("_seg", "shard")
scatter (wand.scored_candidates), each segment with its own N, avgdl
and df; its rows must equal the per-segment reference — the union of
one-segment wand_scored results, deduped by url keeping the max score.
The query metadata (deleted ids, dictionary footers, table schemas) is
resolved when a segment is read, so reading a collection and planning a
query over it submit no Spark job. Every test runs under both SegmentIO
backends (the seg_io fixture).
"""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from search_suite_spark.operators.wand import wand_scored
from search_suite_spark.sources import registry, segments
from search_suite_spark.sources.corpus import pages_from_docs_list
from search_suite_spark.sources.registry import (
    index_into_collection,
    load_collection,
    query_collection,
)
from search_suite_spark.sources.segment_io import current_io
from search_suite_spark.sources.segments import delete_url, read_segment

# http://both lives in the first two segments with different scores;
# zeta only in the third (a query on it is missing from the others)
BATCHES = [
    [
        ("http://s1", "alpha beta shared"),
        ("http://s2", "alpha gamma shared gamma"),
        ("http://both", "alpha beta beta"),
        ("http://d1", "alpha beta delta"),
        ("http://s3", "beta beta beta gamma"),
    ],
    [
        ("http://t1", "alpha beta"),
        ("http://both", "alpha beta shared words here"),
        ("http://t2", "beta epsilon shared"),
        ("http://d2", "alpha beta omega"),
    ],
    [
        ("http://u1", "alpha zeta"),
        ("http://u2", "alpha beta zeta zeta"),
        ("http://u3", "gamma zeta shared"),
    ],
]
DELETED = {"http://d1", "http://d2"}
QUERIES = ["alpha beta", "alpha zeta", "gamma", "beta beta", "shared", "zzznope"]


def _collection(spark, col, n_segments):
    for docs in BATCHES[:n_segments]:
        index_into_collection(
            spark, pages_from_docs_list(spark, docs), col,
            n_shards=2, compact=False,
        )
    segs = load_collection(spark, col)
    for seg in segs.values():
        urls = {r["url"] for r in seg.docs.select("url").collect()}
        for url in sorted(urls & DELETED):
            delete_url(spark, seg, url)
    return load_collection(spark, col)  # snapshots that see the deletes


def _reference(segs, query, k):
    """Per-segment wand_scored, union, max-score url dedupe, top-k."""
    best: dict[str, tuple] = {}
    for seg in segs.values():
        for r in wand_scored(seg, query, max_results=k).collect():
            row = (r["url"], round(r["score"], 9), r["term_count"])
            if r["url"] not in best or row[1] > best[r["url"]][1]:
                best[r["url"]] = row
    rows = sorted(best.values(), key=lambda r: (-r[1], r[0]))
    return rows if k is None else rows[:k]


def _rows(df):
    return [(r["url"], round(r["score"], 9), r["term_count"])
            for r in df.collect()]


@pytest.mark.parametrize("n_segments", [2, 3])
def test_fused_collection_matches_per_segment_reference(
    spark, tmp_path, seg_io, monkeypatch, n_segments
):
    col = str(tmp_path / "col")
    segs = _collection(spark, col, n_segments)
    assert len(segs) == n_segments
    assert all(s.deleted_ids is not None for s in segs.values())
    assert sum(s.deleted_ids.size for s in segs.values()) == 2
    # the same collection read with the cap at 0: every segment holding
    # deletes is over it, so its ids stay unresolved and queries take
    # the cogroup-on-(_seg, shard) path
    with monkeypatch.context() as m:
        m.setattr(segments, "DELETES_BROADCAST_MAX", 0)
        over_cap = load_collection(spark, col)
    assert [s.deleted_ids is None for s in over_cap.values()] == [
        s.deletes is not None for s in over_cap.values()
    ]
    for q in QUERIES:
        for k in (2, None):
            want = _reference(segs, q, k)
            assert _rows(query_collection(segs, q, max_results=k)) == want, (
                q, k)
            got = _rows(query_collection(over_cap, q, max_results=k))
            assert got == want, (q, k, "cogroup")
    got = {r[0] for r in _rows(query_collection(segs, "alpha", None))}
    assert "http://both" in got and not got & DELETED
    # a url held by two segments comes back once, with its best score
    both = [r for r in _rows(query_collection(segs, "alpha beta", None))
            if r[0] == "http://both"]
    assert len(both) == 1


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn ran) — counted in a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_collection_query_plans_without_jobs(spark, tmp_path, seg_io):
    col = str(tmp_path / "col")
    _collection(spark, col, 2)
    segs, load_jobs = _jobs(spark, lambda: load_collection(spark, col))
    assert load_jobs == []
    assert any(s.n_deletes_hint for s in segs.values())
    df, plan_jobs = _jobs(
        spark, lambda: query_collection(segs, "alpha beta", max_results=3)
    )
    assert plan_jobs == []
    rows, run_jobs = _jobs(spark, df.collect)
    assert run_jobs, "the job group saw no job at all"
    assert [r["url"] for r in rows] == [
        r[0] for r in _reference(segs, "alpha beta", 3)
    ]


def test_read_segment_declares_footer_schemas(spark, tmp_path, seg_io):
    """read_segment declares each table's schema from its footers (no
    inference job); the declared schemas equal what inference gives."""
    from search_suite_spark.sources.segment_io import ManifestSegmentIO

    segs = _collection(spark, str(tmp_path / "col"), 1)
    path = next(iter(segs.values())).path
    seg, jobs = _jobs(spark, lambda: read_segment(spark, path))
    assert jobs == []
    for table, df in (("docs", seg.docs), ("terms", seg.terms),
                      ("deletes", seg.deletes)):
        if isinstance(seg_io, ManifestSegmentIO):
            inferred = spark.read.parquet(*seg_io._live_paths(path, table))
        else:
            inferred = spark.read.parquet(os.path.join(path, table))
        assert df.schema == inferred.schema, table
    assert seg.docs.filter(F.col("url") == "http://d1").count() == 1


def test_ingest_loads_collection_once(spark, tmp_path, monkeypatch):
    """index_into_collection returns the segments its compaction pass
    already loaded instead of loading the collection again."""
    calls = []
    real = registry.load_collection

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(registry, "load_collection", counting)
    col = str(tmp_path / "col")
    for i, compact in enumerate((True, False, True)):
        calls.clear()
        segs = index_into_collection(
            spark, pages_from_docs_list(spark, BATCHES[i]), col,
            n_shards=2, compact=compact,
        )
        assert len(calls) == 1, (i, compact)
        assert len(segs) == i + 1  # the policy merges none of these


def test_driver_metadata_skips_hidden_files(spark, tmp_path, seg_io):
    """A writer's leftovers under a table dir (a dead or running
    append's _temporary attempt file, a staging dir) are invisible to
    Spark's reads; the driver-side listing must skip them too, so the
    resolved deleted ids equal the distinct ids of seg.deletes."""
    import shutil

    segs = _collection(spark, str(tmp_path / "col"), 1)
    seg = next(iter(segs.values()))
    files = current_io().table_files(seg.path, "deletes")
    assert files
    stray = [
        os.path.join(seg.path, "deletes", "_temporary", "0", "part-x.parquet"),
        os.path.join(seg.path, "deletes", ".spark-staging-1", "part-y.parquet"),
        os.path.join(seg.path, "deletes", "part-z.parquet._COPYING_"),
    ]
    other = next(
        r["doc_id"] for r in seg.docs.collect() if r["url"] not in DELETED
    )
    spark.createDataFrame([(other,)], "doc_id long").coalesce(1).write.parquet(
        str(tmp_path / "stray"))
    src = next(f for f in os.listdir(tmp_path / "stray")
               if f.endswith(".parquet"))
    for path in stray:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        shutil.copy(tmp_path / "stray" / src, path)
    assert current_io().table_files(seg.path, "deletes") == files
    s2 = read_segment(spark, seg.path)
    spark_ids = sorted(
        r["doc_id"] for r in s2.deletes.select("doc_id").distinct().collect()
    )
    assert sorted(s2.deleted_ids.view("int64").tolist()) == spark_ids
    assert other not in spark_ids
    assert s2.n_deletes_hint == seg.n_deletes_hint
