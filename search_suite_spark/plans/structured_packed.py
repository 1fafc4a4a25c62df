"""Structured boolean queries over PACKED segments and collections (Q11
on the LSM path — reference `POST /structured-query/:collection`,
/root/reference/searchapi3/src/Query/StructuredProcessor.hs:44-71).

Reference semantics (StructuredProcessor.hs `go` / `runUnscored`): each
LEAF runs as an unscored query against EVERY segment of the collection
concurrently and the per-segment uri sets are merged with `mconcat`
(set union); the Conjunction left-fold (union / intersection /
difference) then applies to the collection-wide sets. Text leaves are
conjunctive WITHIN a segment — a url whose terms are split across two
segments does not match (each segment's unscored query sees only its
own postings).

Spark-first mapping — one kernel pass + one aggregation, zero joins in
the set algebra:

  1. Every leaf gets an integer id. Text-leaf terms are driver-known;
     regex leaves become (term, leaf) rows from ONE flag-column scan of
     each segment's dictionary (all patterns in one pass, the same
     batching as plans/structured._batched_regex_terms).
  2. Per segment, the packed postings join the tiny term→leaves map;
     every segment's rows go through the scored queries' one scatter
     (wand._scatter): ONE applyInPandas kernel grouped by (segment,
     shard). Shards partition docs (doc-hash), so leaf
     membership is decidable shard-locally: a text leaf's ids are the
     sorted-array intersection of its terms' decoded id lists
     (ids-only decode — tf/dl stay packed, wand._TermList), a regex
     leaf's the union of its matched terms' lists. The kernel emits
     bare (leaf, doc_id) rows of the docs its segment has not deleted.
  3. The clause tree compiles to a BOOLEAN COLUMN over per-doc leaf
     membership: `groupBy(doc_id).agg(collect_set(leaf))` then
     `filter(tree_expr)` — set union/intersection/difference over N
     leaves is per-doc boolean algebra over membership bits, so the
     whole fold costs one shuffle of 12-byte rows however deep the
     tree is (the flat path's chain of semi/anti joins would shuffle
     once per Conjunction child).
  4. urls resolve once at the end against the unioned docs tables.

Deletes are filtered per segment inside the kernel, routed like every
other packed query's (wand._route_deletes: the snapshot's deleted ids
ride the task closure, a table over the cap is cogrouped) — matching
the reference, where each segment's unscored query consults its own
deletions bitset, and a url deleted in one segment but live in another
still surfaces via the union.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from search_suite_spark.operators.query import parse_query_terms
from search_suite_spark.operators.wand import (
    _docs,
    _live,
    _scatter,
    _seg_list,
    _TermList,
    _union,
)
from search_suite_spark.plans.structured import (
    Clause,
    ClauseRegex,
    ClauseText,
    Conjunction,
    parse_structured_query,
)
from search_suite_spark.sources.segments import DELETES_BROADCAST_MAX, Segment

_LEAF_SCHEMA = "leaf int, doc_id long"


def _assign_leaves(
    clause: Clause,
    text_req: dict[int, list[str]],
    regex_pat: dict[int, str],
    by_key: dict[tuple, int],
) -> None:
    """Walk the tree, assigning one id per DISTINCT leaf payload (two
    identical leaves share an id — their doc sets are equal, so the
    membership bit is too)."""
    if isinstance(clause, ClauseText):
        key = ("t", clause.text)
        if key not in by_key:
            by_key[key] = len(by_key)
            text_req[by_key[key]] = parse_query_terms(clause.text)
    elif isinstance(clause, ClauseRegex):
        key = ("r", clause.pattern)
        if key not in by_key:
            by_key[key] = len(by_key)
            regex_pat[by_key[key]] = clause.pattern
    else:
        assert isinstance(clause, Conjunction)
        for c in clause.children:
            _assign_leaves(c, text_req, regex_pat, by_key)


def _membership_expr(clause: Clause, by_key: dict[tuple, int]) -> Column:
    """Clause tree → boolean Column over the per-doc `_ls` leaf-id set.

    The StructuredProcessor.hs:65-71 left-fold, as per-doc boolean
    algebra: doc ∈ (A /\\ B) ⟺ doc ∈ A AND doc ∈ B, and the SUB fold
    acc \\ c2 \\ c3 ⟺ acc AND NOT c2 AND NOT c3."""
    if isinstance(clause, ClauseText):
        return F.array_contains(F.col("_ls"), by_key[("t", clause.text)])
    if isinstance(clause, ClauseRegex):
        return F.array_contains(F.col("_ls"), by_key[("r", clause.pattern)])
    assert isinstance(clause, Conjunction)
    acc = _membership_expr(clause.children[0], by_key)
    for c in clause.children[1:]:
        sub = _membership_expr(c, by_key)
        if clause.op == "and":
            acc = acc & sub
        elif clause.op == "or":
            acc = acc | sub
        else:
            acc = acc & ~sub
    return acc


def _leaf_kernel(text_req: dict[int, list[str]]):
    """Per-(segment, shard) kernel for wand._scatter: decode each tagged
    term's doc-id list ONCE (ids only — wand._TermList.decode_all_ids;
    tf/dl never unpack), then emit (leaf, doc_id) membership rows via
    sorted-array set ops, dropping the shard's deleted ids. A text leaf
    with a term absent from this shard is empty here (no doc in the
    shard can hold every term — postings of one doc never straddle
    shards within a segment)."""

    def kernel(seg_i, pdf: pd.DataFrame, deleted_ids) -> pd.DataFrame:
        lists: dict[str, _TermList] = {}
        leaf_terms: dict[int, list[str]] = {}
        for t, g in pdf.groupby("term", sort=False):
            lists[t] = _TermList(g.to_dict("records"))
            for lf in g["leaves"].iat[0]:
                leaf_terms.setdefault(int(lf), []).append(t)
        ids_cache: dict[str, np.ndarray] = {}

        def ids_of(t: str) -> np.ndarray:
            a = ids_cache.get(t)
            if a is None:
                a = lists[t].decode_all_ids()  # ascending, unique
                ids_cache[t] = a
            return a

        out_leaf: list[np.ndarray] = []
        out_ids: list[np.ndarray] = []
        for lf, tagged in leaf_terms.items():
            req = text_req.get(lf)
            if req is not None:
                if any(t not in lists for t in req):
                    continue  # conjunctive leaf missing a term here
                acc: np.ndarray | None = None
                # rarest-first keeps every intersection ≤ the smallest list
                for t in sorted(req, key=lambda t: lists[t].n):
                    cur = ids_of(t)
                    acc = (
                        cur
                        if acc is None
                        else np.intersect1d(acc, cur, assume_unique=True)
                    )
                    if acc.size == 0:
                        break
                ids = acc if acc is not None else np.empty(0, np.uint64)
            else:  # regex leaf: union of every matched term's list
                ids = np.unique(np.concatenate([ids_of(t) for t in tagged]))
            ids = ids[_live(ids, deleted_ids)]
            if ids.size:
                out_leaf.append(np.full(ids.size, lf, dtype=np.int32))
                out_ids.append(ids.view(np.int64))
        if not out_ids:
            return pd.DataFrame({"leaf": [], "doc_id": []}).astype(
                {"leaf": "int32", "doc_id": "int64"}
            )
        return pd.DataFrame(
            {"leaf": np.concatenate(out_leaf),
             "doc_id": np.concatenate(out_ids)}
        )

    return kernel


def _segment_leaf_rows(
    seg: Segment,
    text_terms: list[str],
    text_map: list[tuple[str, int]],
    regex_pat: dict[int, str],
) -> DataFrame:
    """One segment's packed rows tagged with their leaf ids.

    term→leaves is aggregated to ONE array per term before the postings
    join so a term serving several leaves never duplicates its packed
    binary payload through the shuffle. With regex leaves, matched
    terms come from one flag-column dictionary scan covering every
    pattern; text-only trees skip the dictionary entirely and push an
    isin filter into the postings scan."""
    spark = seg.postings.sparkSession
    parts: list[DataFrame] = []
    if text_map:
        parts.append(
            spark.createDataFrame(text_map, "term string, leaf int")
        )
    if regex_pat:
        terms_src = (
            seg.terms.select("term")
            if seg.terms is not None
            else seg.postings.select("term").distinct()
        )
        items = sorted(regex_pat.items())
        whens = [
            F.when(F.col("term").rlike(p), F.lit(lf)) for lf, p in items
        ]
        tagged = terms_src.select(
            "term",
            F.filter(
                F.array(*whens), lambda c: c.isNotNull()
            ).alias("_lfs"),
        ).filter(F.size("_lfs") > 0)
        parts.append(
            tagged.select("term", F.explode("_lfs").alias("leaf"))
        )
    tl = _union(parts).groupBy("term").agg(
        F.collect_set("leaf").alias("leaves")
    )

    rows = seg.postings
    if not regex_pat:
        # no regex → the full term set is driver-known: prune the scan
        # (Parquet row-group min/max on the sorted term column) and
        # broadcast the tiny map
        rows = rows.filter(F.col("term").isin(text_terms))
        tl = F.broadcast(tl)
    return rows.join(tl, "term")


def structured_ids_packed(
    segs: Segment | dict[str, Segment] | list[Segment],
    clause: Clause | str,
) -> DataFrame:
    """Clause tree over packed segment(s) → DataFrame of distinct
    doc_ids in the result set (collection-wide leaf union + tree fold,
    StructuredProcessor.hs:57-71)."""
    seg_list = _seg_list(segs)
    if isinstance(clause, str):
        clause = parse_structured_query(clause)
    spark = seg_list[0].postings.sparkSession

    text_req: dict[int, list[str]] = {}
    regex_pat: dict[int, str] = {}
    by_key: dict[tuple, int] = {}
    _assign_leaves(clause, text_req, regex_pat, by_key)
    # a text leaf normalizing to zero terms is an empty set everywhere;
    # leave it untagged so its membership bit is simply never set
    live_text = {lf: ts for lf, ts in text_req.items() if ts}
    text_terms = sorted({t for ts in live_text.values() for t in ts})
    text_map = [
        (t, lf) for lf, ts in sorted(live_text.items()) for t in set(ts)
    ]
    if not text_map and not regex_pat:
        return spark.createDataFrame([], "doc_id long")

    parts = [
        (s, _segment_leaf_rows(s, text_terms, text_map, regex_pat))
        for s in seg_list
    ]
    memb_rows = _scatter(
        parts, _leaf_kernel(live_text), _LEAF_SCHEMA, DELETES_BROADCAST_MAX
    )
    memb = memb_rows.select("leaf", "doc_id").groupBy("doc_id").agg(
        F.collect_set("leaf").alias("_ls")
    )
    return memb.filter(_membership_expr(clause, by_key)).select("doc_id")


def structured_query_packed(
    segs: Segment | dict[str, Segment] | list[Segment],
    query: str,
) -> DataFrame:
    """Structured boolean query over packed segment(s)/collection →
    (doc_id, url); urls resolve once, after the id algebra collapses.
    The packed twin of plans.structured.structured_query — the two are
    rank-set-identical (tests/test_structured_packed.py)."""
    seg_list = _seg_list(segs)
    ids = structured_ids_packed(seg_list, query)
    out = ids.join(_docs(seg_list).select("doc_id", "url"), "doc_id")
    # doc_id is xxhash64(url): equal ids ⇒ equal urls, so the distinct
    # only collapses the same doc appearing in SEVERAL segments — with a
    # single segment both join sides are already unique per doc_id and
    # the dedupe exchange would shuffle the result for nothing (r6)
    return out.distinct() if len(seg_list) > 1 else out
