"""Collection queries in one scatter, with no planning jobs.

query_collection, query_collection_partial and query_collection_batch
score every segment in ONE groupBy("_seg", "shard") scatter
(wand.query_segments), each segment with its own N, avgdl and df; their
rows must equal the per-segment reference — the union of one-segment
wand_scored / wand_partial results, deduped by url keeping the max
score.
The query metadata (deleted ids, dictionary footers, table schemas) is
resolved when a segment is read, so reading a collection and planning a
query over it submit no Spark job. Every test runs under both SegmentIO
backends (the seg_io fixture).
"""

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from search_suite_spark.operators.wand import wand_partial, wand_scored
from search_suite_spark.sources import registry, segments
from search_suite_spark.sources.corpus import pages_from_docs_list
from search_suite_spark.sources.registry import (
    index_into_collection,
    load_collection,
    query_collection,
    query_collection_batch,
    query_collection_partial,
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


def _reference(segs, query, k, m=None):
    """Per-segment wand_scored (wand_partial with ``m``), union,
    max-score url dedupe (ties: the larger count), top-k."""
    best: dict[str, tuple] = {}
    for seg in segs.values():
        df = (wand_scored(seg, query, max_results=k) if m is None
              else wand_partial(seg, query, m, max_results=k))
        for r in df.collect():
            row = (r[0], round(r[1], 9), r[2])
            if r[0] not in best or row[1:] > best[r[0]][1:]:
                best[r[0]] = row
    rows = sorted(best.values(), key=lambda r: (-r[1], r[0]))
    return rows if k is None else rows[:k]


def _rows(df):
    return [(r[0], round(r[1], 9), r[2]) for r in df.collect()]


def _over_cap(spark, col, monkeypatch):
    """The collection read with the cap at 0: every segment holding
    deletes is over it, so its ids stay unresolved and queries take the
    cogroup-on-(_seg, shard) path."""
    with monkeypatch.context() as m:
        m.setattr(segments, "DELETES_BROADCAST_MAX", 0)
        over_cap = load_collection(spark, col)
    assert [s.deleted_ids is None for s in over_cap.values()] == [
        s.deletes is not None for s in over_cap.values()
    ]
    return over_cap


# partial queries: a url in two segments, deleted urls, a term missing
# from some segments, a term missing from all
PARTIAL_QUERIES = ["alpha beta", "beta zeta", "gamma shared zzznope"]
# batch: every QUERIES entry (a qid with a term missing from some
# segments, one missing from all) plus a qid that normalises to nothing
BATCH = {f"q{i}": q for i, q in enumerate(QUERIES + ["!!!"])}


@pytest.fixture(scope="module")
def built_collections():
    return {}


def _shared_collection(spark, built, tmp_path_factory, n_segments):
    """(collection dir, its segments): built once per module for each
    storage backend and segment count."""
    key = (type(current_io()).__name__, n_segments)
    if key not in built:
        col = str(tmp_path_factory.mktemp("shapes") / "col")
        _collection(spark, col, n_segments)
        built[key] = col
    return built[key], load_collection(spark, built[key])


def _fused(coll, shape, k):
    """Every query of ``shape`` through its collection call → rows."""
    if shape == "batch":
        df = query_collection_batch(coll, BATCH, max_results=k)
        rows = [(r[0], r[1], round(r[2], 9)) for r in df.collect()]
        df.ss_release()
        return rows
    if shape == "scored":
        return [_rows(query_collection(coll, q, max_results=k))
                for q in QUERIES]
    m = int(shape.split("-")[1])
    return [_rows(query_collection_partial(coll, q, m, k))
            for q in PARTIAL_QUERIES]


def _expected(segs, shape, k):
    """_fused's rows from the per-segment reference."""
    if shape == "batch":
        return [(qid, url, score) for qid in sorted(BATCH)
                for url, score, _ in _reference(segs, BATCH[qid], k)]
    if shape == "scored":
        return [_reference(segs, q, k) for q in QUERIES]
    m = int(shape.split("-")[1])
    return [_reference(segs, q, k, m) for q in PARTIAL_QUERIES]


SHAPES = [(n, shape) for shape in ("scored", "partial-1", "partial-2", "batch")
          for n in (2, 3)]


@pytest.mark.parametrize(
    "n_segments, shape", SHAPES,
    ids=[str(n) if s == "scored" else f"{s}-{n}" for n, s in SHAPES],
)
def test_fused_collection_matches_per_segment_reference(
    spark, tmp_path_factory, seg_io, monkeypatch, built_collections,
    n_segments, shape,
):
    """query_collection, query_collection_partial (min_should_match 1
    and 2) and query_collection_batch equal the per-segment reference,
    with the deletes both under the cap and forced over it."""
    col, segs = _shared_collection(
        spark, built_collections, tmp_path_factory, n_segments)
    assert len(segs) == n_segments
    assert all(s.deleted_ids is not None for s in segs.values())
    assert sum(s.deleted_ids.size for s in segs.values()) == 2
    over_cap = _over_cap(spark, col, monkeypatch)
    for k in (2, None):
        want = _expected(segs, shape, k)
        assert _fused(segs, shape, k) == want, k
        assert _fused(over_cap, shape, k) == want, (k, "cogroup")
    if shape == "batch":
        assert {qid for qid, _, _ in want} < set(BATCH)  # some qids empty
        return
    # a url held by two segments comes back once, a deleted one never
    got = [r[0] for r in (
        query_collection(segs, "alpha", None) if shape == "scored"
        else query_collection_partial(segs, "alpha", 1, None)
    ).collect()]
    assert got.count("http://both") == 1 and not set(got) & DELETED


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _kernel_nodes(df) -> int:
    return len(re.findall(
        r"\(\d+\) FlatMap(?:Co)?GroupsInPandas\b", _plan(df)))


def test_every_collection_shape_plans_one_kernel(
    spark, tmp_path_factory, built_collections
):
    """A collection request is one kernel pass whatever its shape or
    segment count, and the structured path filters deletes in that
    pass (no anti-join)."""
    from search_suite_spark.plans.structured_packed import (
        structured_query_packed,
    )

    _, segs = _shared_collection(
        spark, built_collections, tmp_path_factory, 3)
    seg_list = list(segs.values())
    assert _kernel_nodes(query_collection_partial(segs, "alpha beta", 1)) == 1
    assert _kernel_nodes(query_collection_batch(segs, BATCH)) == 1
    assert _kernel_nodes(structured_query_packed(seg_list[:2], "alpha")) == 1
    deleted = next(s for s in seg_list if s.deletes is not None)
    assert deleted.deleted_ids is not None  # under the cap
    out = structured_query_packed(deleted, "/\\ alpha\n/\\ beta")
    assert "LeftAnti" not in _plan(out)
    got = {r["url"] for r in out.collect()}
    assert got and not got & DELETED


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
