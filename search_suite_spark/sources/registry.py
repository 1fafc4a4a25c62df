"""Collection registry: named sets of segments + compaction loop +
multi-segment scatter/gather query.

Reference counterparts: the STM registry of components per collection
(/root/reference/searchapi3/src/Registry.hs:45-50), startup import by
directory scan (Importer.hs:29-79), the ingest-then-compact loop
(Indexer.hs:58-106, Compactor.hs:57-97), and the per-segment
scatter/gather query with bounded-heap merge + url-dedupe
(Query/QueryProcessor.hs:61-152).

Spark-first: a collection is a directory of segment subdirectories;
snapshot isolation comes from immutable segment dirs + atomic directory
renames (in production: Iceberg snapshot tags per build generation —
no locks needed, unlike the reference's STM lock set). Per-segment
statistics (N, avgdl, df) stay segment-local during scoring, exactly
like the reference (ranking.rs:48-50) — a doc's score depends on which
segment it lives in until compaction folds segments together.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_suite_spark.functions.normalise import normalise
from search_suite_spark.plans.compaction import choose_merge_pair
from search_suite_spark.operators.merge import merge_segments
from search_suite_spark.operators.wand import _seg_list, query_segments
from search_suite_spark.sources.segments import Segment, build_segment, read_segment

_REPLACES = "replaces.json"  # compaction tombstone manifest (see below)


def _is_segment_dir(name: str, path: str) -> bool:
    # tmp_ dirs are in-progress builds — they may already contain lineage,
    # so the name prefix (not the content) is the registration bit
    return name.startswith("seg_") and os.path.isdir(os.path.join(path, "lineage"))


def _replaced_names(col_dir: str, names: list[str]) -> set[str]:
    """Segments superseded by a completed merge: every merged segment
    carries a replaces.json tombstone naming its sources. A crash between
    the merge's rename and the source rmtree leaves both registered —
    without this, every doc in the sources would be double-counted."""
    dead: set[str] = set()
    for name in names:
        mf = os.path.join(col_dir, name, _REPLACES)
        if os.path.isfile(mf):
            try:
                with open(mf) as f:
                    dead.update(json.load(f))
            except (OSError, json.JSONDecodeError):
                pass
    return dead


def load_collection(spark: SparkSession, col_dir: str) -> dict[str, Segment]:
    """Startup import (Importer.hs:29-79): scan segment subdirectories,
    read num_docs for each from its lineage table. Segments named in a
    live segment's replaces.json are skipped (crash-consistent view)."""
    if not os.path.isdir(col_dir):
        return {}
    names = [
        n for n in sorted(os.listdir(col_dir))
        if _is_segment_dir(n, os.path.join(col_dir, n))
    ]
    dead = _replaced_names(col_dir, names)
    return {
        name: read_segment(spark, os.path.join(col_dir, name))
        for name in names
        if name not in dead
    }


def _next_segment_name(col_dir: str) -> str:
    existing = set(os.listdir(col_dir)) if os.path.isdir(col_dir) else set()
    i = 0
    while f"seg_{i:06d}" in existing or f"tmp_{i:06d}" in existing:
        i += 1
    return f"seg_{i:06d}"


def index_into_collection(
    spark: SparkSession,
    pages: DataFrame,
    col_dir: str,
    n_shards: int = 16,
    compact: bool = True,
    segment_name: str | None = None,
) -> dict[str, Segment]:
    """Ingest a batch of pages as a fresh segment, then compact
    (Indexer.hs:58-106: index → register → compact loop). Builds into a
    tmp_ dir and renames, so a crashed ingest never registers.

    ``segment_name`` pins the segment's registered name — callers with a
    replayable source (streaming foreachBatch) derive it from the batch
    id so a replayed batch is an idempotent no-op instead of a duplicate
    segment. Ignored (fresh name chosen) when None.
    """
    os.makedirs(col_dir, exist_ok=True)
    name = segment_name or _next_segment_name(col_dir)
    final = os.path.join(col_dir, name)
    if segment_name is not None and (
        os.path.isdir(final) or _batch_marker_exists(col_dir, name)
    ):
        return load_collection(spark, col_dir)  # replay → no-op
    tmp = os.path.join(col_dir, name.replace("seg_", "tmp_"))
    build_segment(pages, tmp, n_shards=n_shards, resume=False)
    os.rename(tmp, final)
    if segment_name is not None:
        _write_batch_marker(col_dir, name)
    if compact:
        # compaction ends by loading the collection at its fixpoint
        return compact_collection(spark, col_dir, n_shards=n_shards)
    return load_collection(spark, col_dir)


def _markers_dir(col_dir: str) -> str:
    return os.path.join(col_dir, "_ingested")


def _batch_marker_exists(col_dir: str, name: str) -> bool:
    """True iff a pinned-name segment completed earlier — even if
    compaction has since merged the segment dir away (the dir-exists
    check alone would re-ingest it on replay)."""
    return os.path.isfile(os.path.join(_markers_dir(col_dir), name))


def _write_batch_marker(col_dir: str, name: str) -> None:
    os.makedirs(_markers_dir(col_dir), exist_ok=True)
    with open(os.path.join(_markers_dir(col_dir), name), "w") as f:
        f.write("done")


def compact_collection(
    spark: SparkSession, col_dir: str, n_shards: int = 16
) -> dict[str, Segment]:
    """Compact to the policy fixpoint (Compactor.hs:57-97): repeatedly
    pick a pair via the Fibonacci-hybrid strategy and sort-merge it.

    Crash safety: the merged segment is built under tmp_ with a
    replaces.json tombstone naming its two sources, then renamed into
    place, and only then are the sources deleted. A crash at any point
    leaves a loadable collection (load_collection skips replaced
    sources); the next compact pass finishes the cleanup here.
    """
    while True:
        # finish any interrupted cleanup: sources named by a live merge's
        # tombstone are dead even if a crash preserved their dirs
        names = [
            n for n in sorted(os.listdir(col_dir))
            if _is_segment_dir(n, os.path.join(col_dir, n))
        ] if os.path.isdir(col_dir) else []
        for leftover in _replaced_names(col_dir, names):
            shutil.rmtree(os.path.join(col_dir, leftover), ignore_errors=True)

        segs = load_collection(spark, col_dir)
        sizes = {name: seg.num_docs for name, seg in segs.items()}
        pair = choose_merge_pair(sizes)
        if pair is None:
            return segs
        a, b = pair
        name = _next_segment_name(col_dir)
        tmp = os.path.join(col_dir, name.replace("seg_", "tmp_"))
        merge_segments(spark, segs[a], segs[b], tmp, n_shards=n_shards)
        with open(os.path.join(tmp, _REPLACES), "w") as f:
            json.dump([a, b], f)
        os.rename(tmp, os.path.join(col_dir, name))
        shutil.rmtree(os.path.join(col_dir, a))
        shutil.rmtree(os.path.join(col_dir, b))


def merge_into(
    spark: SparkSession, src_col: str, dest_col: str, n_shards: int = 16
) -> dict[str, Segment]:
    """Drain collection ``src_col`` into ``dest_col`` (M10 — the
    reference's mergeInto, Compactor.hs:102-142 via
    Controllers/Collections.hs:22-24): every source segment is adopted by
    the destination under a fresh name, then the destination compacts.
    The source collection ends empty (its dir remains, drained).

    Segment adoption is a directory rename — segments are immutable, so
    no data is rewritten until the destination's own compaction policy
    decides to fold them (exactly the reference's move-then-compact)."""
    os.makedirs(dest_col, exist_ok=True)
    src_names = [
        n for n in sorted(os.listdir(src_col))
        if _is_segment_dir(n, os.path.join(src_col, n))
    ] if os.path.isdir(src_col) else []
    dead = _replaced_names(src_col, src_names)
    for n in src_names:
        if n in dead:
            shutil.rmtree(os.path.join(src_col, n), ignore_errors=True)
            continue
        new_name = _next_segment_name(dest_col)
        # drop any stale tombstone: its sources stayed behind in src
        mf = os.path.join(src_col, n, _REPLACES)
        if os.path.isfile(mf):
            os.unlink(mf)
        os.rename(os.path.join(src_col, n), os.path.join(dest_col, new_name))
    return compact_collection(spark, dest_col, n_shards=n_shards)


def collection_doc_status(
    segs: dict[str, Segment] | list[Segment], urls: list[str]
) -> DataFrame:
    """Multi-segment doc-status count map (Indexer.hs:160-194: statuses
    are aggregated ACROSS segments into a count per status) →
    (url, status, n_segments).

    A url typically exists in one segment (ingest dedupe), but mid-merge
    or after mergeInto it can be PRESENT in one and DELETED in another —
    the count map is how the reference surfaces that.
    """
    from search_suite_spark.operators.query import doc_status_table
    from search_suite_spark.operators.build import InvertedIndex

    parts = []
    for s in _seg_list(segs):
        idx = InvertedIndex(
            postings=None, docs=s.docs, terms=None,
            num_docs=s.num_docs, total_doc_len=s.total_doc_len,
            deletes=s.deletes,
        )
        parts.append(doc_status_table(idx, urls))
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    return allr.groupBy("url", "status").agg(
        F.count("*").alias("n_segments")
    )


def collection_term_dfs(
    seg_list: list[Segment], terms: list[str]
) -> list[dict[str, int]]:
    """Q1 dictionary lookup across segments → one {term: df} dict per
    segment, positionally. Read segments probe their dictionaries on
    the driver (Segment.term_dfs → TermDictionary), so the whole lookup
    submits no Spark job; the reference fans the per-segment lookups
    out concurrently instead (QueryProcessor.hs:72). A hand-built
    Segment without a dictionary pays its own postings scan."""
    if not terms:
        return [{} for _ in seg_list]
    return [s.term_dfs(terms) for s in seg_list]


def _collection_query(segs, queries, max_results, min_should_match=None,
                      columns=None) -> DataFrame:
    """wand.query_segments over every segment of a collection, with the
    dictionaries probed through collection_term_dfs."""
    seg_list = _seg_list(segs)
    terms = sorted({t for q in queries.values() for t in normalise(q)})
    return query_segments(
        seg_list, collection_term_dfs(seg_list, terms), queries,
        max_results, min_should_match, columns=columns,
    )


def query_collection(
    segs: dict[str, Segment] | list[Segment],
    query: str,
    max_results: int | None = 10,
) -> DataFrame:
    """Scored query across all segments (Q12, QueryProcessor.hs:61-152):
    every segment scored with its own stats, then a global merge that
    dedupes urls keeping the max score and re-sorts by exact score.

    The dictionary probe and delete routing read metadata the segments
    resolved when they were read (no Spark job); the query is
    wand.query_segments over every segment — one exchange and one
    kernel pass, the same plan wand_scored runs on one segment."""
    return _collection_query(
        segs, {"": query}, max_results, columns=("url", "score", "term_count")
    )


def query_collection_batch(
    segs: dict[str, Segment] | list[Segment],
    queries: dict[str, str],
    max_results: int | None = 10,
) -> DataFrame:
    """MANY scored queries across ALL segments in one Spark action →
    (qid, url, score): per-(segment, qid) top-k inside the shard
    kernels, global per-qid url-dedupe keeping the max score, per-qid
    re-sort + limit — each qid's rows identical to
    ``query_collection(segs, queries[qid])``.

    The N-segments × M-queries request is one wand.query_segments call:
    the dictionary probes run on the driver (collection_term_dfs), and
    one kernel pass scores every query on every segment, where the
    reference runs one process per segment per query
    (QueryProcessor.hs:72).

    The returned frame carries ``ss_release()`` (see wand._attach_release):
    serving loops call it after their action to drop the query-metadata
    broadcast deterministically."""
    return _collection_query(
        segs, queries, max_results, columns=("qid", "url", "score")
    )


def query_collection_partial(
    segs: dict[str, Segment] | list[Segment],
    query: str,
    min_should_match: int = 1,
    max_results: int | None = 10,
) -> DataFrame:
    """Partial-match (min-should-match) scored query across ALL of a
    collection's segments → (url, score, n_matched): per-segment
    top-k with segment-local stats, url-dedupe keeping the
    best-scoring row (its n_matched travels with it), global re-sort +
    limit — the disjunctive twin of query_collection, completing the
    flat/packed/collection symmetry for every scored query mode
    (reference collections answer only conjunctive,
    QueryProcessor.hs:61-152; min-should-match is its own query.rs:
    192-193 TODO, so the collection composition has no reference
    counterpart to mirror — semantics follow query_collection's
    max-score url merge).

    Same plan as query_collection: driver-side dictionary probes
    (collection_term_dfs), then one wand.query_segments kernel pass
    over every segment."""
    return _collection_query(
        segs, {"": query}, max_results, min_should_match,
        columns=("url", "score", "n_matched"),
    )
