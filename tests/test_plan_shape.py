"""Plan-shape regression guard: the physical-plan properties the
100 TB design depends on, asserted from `.explain` text so a future
refactor cannot silently lose them.

Guarded invariants (BASELINE.md "plan you'd want at 100x"):
  1. a packed query's posting scan pushes the term filter into the
     parquet reader (PushedFilters / row-group pruning) and prunes
     columns — the scan must not read the whole segment;
  2. the single-pass build plan contains exactly ONE shuffle exchange
     (the (shard, tbucket) repartition) and its tokenize stage runs in
     whole-stage codegen with NO row-at-a-time Python evaluation;
  3. the flat BM25 path broadcasts the tiny per-query dictionary side
     rather than shuffling the postings (no sort-merge join on the
     query hot path).
"""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_packed_scan_pushes_term_filter(spark, tmp_path):
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import build_segment, read_segment

    docs = [(f"http://p{i}", f"alpha beta w{i}") for i in range(30)]
    build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "seg"), n_shards=2
    )
    seg = read_segment(spark, str(tmp_path / "seg"))
    scan = seg.postings.filter(F.col("term").isin(["alpha", "beta"]))
    plan = _plan(scan)
    # the isin lands in the parquet reader, not a post-scan Filter only
    assert re.search(r"PushedFilters:.*[Ii]n\(term", plan), plan
    # column pruning intact: the scan's ReadSchema is the packed schema,
    # never a select * of some wider frame
    assert "ReadSchema" in plan


def test_build_plan_single_exchange_no_python_tokenize(spark):
    from search_suite_spark.operators.build import token_rows_with_doc
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import shard_of_doc_id

    pages = pages_from_docs_list(
        spark, [(f"http://p{i}", f"alpha beta w{i}") for i in range(20)]
    )
    flat = token_rows_with_doc(pages).withColumn(
        "shard", shard_of_doc_id(2)
    )
    # the build's pre-shuffle stage: tokenize + marker rows must stay
    # JVM-side (pages synthesis itself uses one Arrow UDF for the html
    # zlib column — tokenize must not add row-at-a-time Python on top)
    plan = _plan(flat)
    assert "BatchEvalPython" not in plan, plan

    # the full single-pass build shape (pack_and_write's exact staging):
    # exactly one shuffle exchange — tbucket rides as a COLUMN so the
    # tf hash-aggregate's required distribution is satisfied by the
    # explicit repartition (both partial and final agg run post-shuffle)
    staged = (
        flat.withColumn(
            "tbucket", F.pmod(F.xxhash64("term"), F.lit(7)).cast("int")
        )
        .repartition(4, F.col("shard"), F.col("tbucket"))
        .groupBy("shard", "tbucket", "doc_id", "doc_len", "term")
        .agg(F.count("*").cast("int").alias("tf"))
    )
    # formatted mode prints each node twice (tree + details): count
    # exchanges in the details section's numbered headers only
    plan2 = _plan(staged)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan2))
    assert n_exchanges == 1, plan2


def test_flat_query_broadcasts_dictionary(spark):
    from search_suite_spark.operators.build import build_index
    from search_suite_spark.operators.query import bm25_scored
    from search_suite_spark.sources.corpus import pages_from_docs_list

    idx = build_index(
        pages_from_docs_list(
            spark, [(f"http://p{i}", f"alpha beta w{i}") for i in range(30)]
        )
    )
    out = bm25_scored(idx, "alpha beta", max_results=5)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan
    )


def test_spelling_scan_pushes_length_predicate(spark, tmp_path):
    """Q14 at dictionary scale: the segment terms table materializes
    tlen and is written (tlen, term)-clustered, so the spelling length
    band AND dictionary point lookups compile to PUSHED parquet
    predicates (the partition-prunable analogue of the reference
    BK-tree's range search, indexer-qp2/src/bk_tree.rs:128-190)."""
    from search_suite_spark.operators.spelling import spelling_suggestions
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import (
        build_segment,
        term_probe_predicate,
    )

    docs = [(f"http://p{i}", f"alpha beta gamma w{i}") for i in range(30)]
    seg = build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "seg"), n_shards=2
    )
    assert "tlen" in seg.terms.columns

    sugg = spelling_suggestions(seg.terms, "alpa beta")
    plan = _plan(sugg)
    # the length band reaches the parquet reader
    assert re.search(r"PushedFilters:.*[Ii]n\(tlen", plan), plan

    # point lookups carry the literal's length too (a single-element
    # isin plans as EqualTo — equally pushable)
    probe = seg.terms.filter(term_probe_predicate(seg.terms, ["alpha"]))
    plan2 = _plan(probe)
    assert re.search(
        r"PushedFilters:.*(EqualTo|[Ii]n)\(tlen", plan2
    ), plan2
    assert re.search(
        r"PushedFilters:.*(EqualTo|[Ii]n)\(term", plan2
    ), plan2

    # and results stay correct: 'alpa' ~ 'alpha' at dist 1
    got = {(r["word"], r["dist"], r["suggestion"]) for r in sugg.collect()}
    assert ("alpa", 1, "alpha") in got and ("beta", 0, "beta") in got


def test_partial_and_collection_plans_stay_pruned(spark, tmp_path):
    """wand_partial (and query_collection_partial, the same
    query_segments path over many segments) must push the query-term
    isin into the posting scan —
    a disjunctive query still reads only its own terms' rows, never the
    segment."""
    from search_suite_spark.operators.wand import wand_partial
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import build_segment

    docs = [(f"http://p{i}", f"alpha beta gamma w{i}") for i in range(30)]
    seg = build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "pseg"), n_shards=2
    )
    plan = _plan(wand_partial(seg, "alpha beta", min_should_match=1))
    assert re.search(r"PushedFilters:.*[Ii]n\(term", plan), plan
    # the kernel is the ONLY Python stage: one ArrowEvalPython-free scan
    # side (FlatMapGroupsInPandas is the applyInPandas kernel itself)
    assert "BatchEvalPython" not in plan, plan


def _subtree(plan: str, node: str) -> str:
    """The lines of the first ``node`` subtree in a plan's tree text."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        m = re.match(r"^([\s:+\-]*)(\w+)", line)
        if m and m.group(2) == node:
            depth, out = len(m.group(1)), [line]
            for nxt in lines[i + 1:]:
                m2 = re.match(r"^([\s:+\-]*)(\w+)", nxt)
                if not m2 or len(m2.group(1)) <= depth:
                    break
                out.append(nxt)
            return "\n".join(out)
    return ""


def test_packed_query_shapes(spark, tmp_path):
    """The one-segment plans the repo benchmark times: a top-k scored or
    partial query broadcasts the kernel's output (not the docs table)
    into the url resolve, and a batch scores every query in one kernel
    node."""
    from search_suite_spark.operators.wand import (
        bm25_batch,
        wand_partial,
        wand_scored,
    )
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import build_segment

    docs = [(f"http://p{i}", f"alpha beta gamma w{i}") for i in range(30)]
    seg = build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "qseg"), n_shards=2
    )
    for df in (
        wand_scored(seg, "alpha beta", max_results=5),
        wand_partial(seg, "alpha zzz", min_should_match=1, max_results=5),
    ):
        tree = _plan(df).split("\n\n")[0]
        under = _subtree(tree, "BroadcastExchange")
        assert "FlatMapGroupsInPandas" in under, tree
    batch = bm25_batch(seg, {"a": "alpha", "b": "beta gamma"}, max_results=5)
    assert len(re.findall(
        r"\(\d+\) FlatMapGroupsInPandas\b", _plan(batch))) == 1
    batch.ss_release()
