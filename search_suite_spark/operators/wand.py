"""Conjunctive block-max query processing over packed segments.

The scale path of the query engine (SURVEY §2.5 Q4-Q7, north_rule):

  1. The term filter prunes the packed-postings scan to the query terms
     (Parquet row-group min/max on the term column; Iceberg bucket
     pruning in production).
  2. Each *shard* (doc-hash partition) answers the conjunction locally —
     all terms' shard-s postings cover the same doc subset, so shards
     are embarrassingly parallel (the reference's per-segment
     scatter/gather, Query/QueryProcessor.hs:61-152).
  3. Inside a shard (vectorized numpy in applyInPandas):
       a. intersect rarest-term-first (query.rs:97-98) decoding doc-id
          blocks ONLY — tf/dl stay packed through the whole intersection
          (searchsorted against block_last skip pointers picks which id
          blocks to decode at all);
       b. block-max scoring skip: each survivor's score upper bound is
          Σ_t idf_t·impact(block_max_tf, block_min_dl) over the block
          containing it (codec.py metadata); candidates are scored
          exactly in upper-bound order, maintaining the running top-k
          threshold θ, and scoring STOPS when the next upper bound
          cannot enter the heap — tf/dl blocks of hopeless candidates
          are never decoded.
  4. Global top-k = orderBy().limit(k) over ≤ ~k·n_shards candidate rows
     (TakeOrderedAndProject: per-partition heaps + driver merge — the
     bounded-heap merge of Q7/Q12), or a per-qid window for many.

Every scored packed query — conjunctive or min-should-match, one query
or many, one segment or many — takes that path through query_segments.
Deletions are filtered inside the shard kernel from a sorted id set
(the docDeletions bitset analogue, see _scatter); corpus stats (N,
avgdl, df) keep counting deleted docs, matching ranking.rs:48-50.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_suite_spark.functions.normalise import normalise
from search_suite_spark.operators.codec import (
    BLOCK,
    impact,
    impact_bound,
    unpack_blocks,
    unpack_ids,
)
from search_suite_spark.sources.segments import (
    DELETES_BROADCAST_MAX,
    Segment,
    collect_ids_capped,
    shard_of_doc_id,
)

# observability hook: kernels accumulate (tf/dl blocks decoded, tf/dl
# blocks total) here. ALWAYS access it through _stats_dict(): closures
# shipped to executors are cloudpickled BY VALUE with a synthetic copy
# of their globals, while classes like _BlockCache arrive by reference
# and see the worker's real module — a direct global reference would
# split writers across two dicts and silently under-count.
DECODE_STATS: dict[str, int] = {"blocks_decoded": 0, "blocks_total": 0}


def _stats_dict() -> dict[str, int]:
    from search_suite_spark.operators import wand

    return wand.DECODE_STATS


def _idf(n_docs: int, df: float) -> float:
    return float(np.log((n_docs - df + 0.5) / (df + 0.5)))


def _empty_result(count_col: str = "term_count") -> pd.DataFrame:
    return pd.DataFrame({"doc_id": [], "score": [], count_col: []}).astype(
        {"doc_id": "int64", "score": "float64", count_col: "int32"}
    )


def _live(ids: np.ndarray, deleted_ids: np.ndarray) -> np.ndarray:
    """Mask of the ``ids`` not in the sorted ``deleted_ids``."""
    if not deleted_ids.size or not ids.size:
        return np.ones(ids.size, dtype=bool)
    pos = np.searchsorted(deleted_ids, ids)
    ok = pos < deleted_ids.size
    dead = np.zeros(ids.size, dtype=bool)
    dead[ok] = deleted_ids[pos[ok]] == ids[ok]
    return ~dead


class _TermList:
    """One logical posting list for a (term, shard) — possibly several
    packed ROWS after the giant-list split (codec.MAX_ROW_POSTINGS):
    rows cover disjoint, consecutive doc-id ranges; this class presents
    them as one list addressed by GLOBAL block index. Only the metadata
    arrays are concatenated up front (cheap); posting buffers decode
    lazily per block, per owning row."""

    def __init__(self, rows: list):
        def first_last(r):
            return np.asarray(r["block_last"], dtype=np.int64).view(np.uint64)[0]

        rows = sorted(rows, key=first_last)
        self.rows = rows
        self.n = sum(int(r["n"]) for r in rows)
        per_row = [
            np.asarray(r["block_last"], dtype=np.int64).view(np.uint64)
            for r in rows
        ]
        self.block_last = np.concatenate(per_row)
        # global block b belongs to row searchsorted(row_block_off, b, 'right')-1
        self.row_block_off = np.concatenate(
            ([0], np.cumsum([x.size for x in per_row]))
        ).astype(np.int64)
        self._meta: dict[str, np.ndarray] = {}

    def meta(self, name: str) -> np.ndarray:
        # memoized: phase 3 reads two metadata arrays per term per kernel
        # call, and split rows multiply the concat cost at scale
        m = self._meta.get(name)
        if m is None:
            m = np.concatenate(
                [np.asarray(r[name], dtype=np.int64) for r in self.rows]
            )
            self._meta[name] = m
        return m

    def _by_row(self, global_blocks: np.ndarray):
        gb = np.asarray(global_blocks, dtype=np.int64)
        row_idx = np.searchsorted(self.row_block_off, gb, side="right") - 1
        for ri in np.unique(row_idx):
            yield int(ri), gb[row_idx == ri] - self.row_block_off[ri]

    def decode_all_ids(self) -> np.ndarray:
        return (
            np.concatenate([unpack_ids(r) for r in self.rows])
            if self.rows
            else np.empty(0, dtype=np.uint64)
        )

    def decode_blocks_ids(self, global_blocks: np.ndarray) -> np.ndarray:
        out = [
            unpack_blocks(self.rows[ri], local, cols=("ids",))[0]
            for ri, local in self._by_row(global_blocks)
        ]
        return np.concatenate(out) if out else np.empty(0, dtype=np.uint64)

    def decode_blocks_full(
        self, global_blocks: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(ids, tfs, dls) of the given global blocks, concatenated in
        ascending block order."""
        ids, tfs, dls = [], [], []
        for ri, local in self._by_row(global_blocks):
            i, t, d, _ = unpack_blocks(self.rows[ri], local)
            ids.append(i)
            tfs.append(t)
            dls.append(d)
        if not ids:
            z = np.empty(0, dtype=np.uint64)
            return z, z.copy(), z.copy()
        return np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls)


class _BlockCache:
    """Lazily-decoded (ids, tfs, dls) per GLOBAL block of a _TermList."""

    def __init__(self, tl: _TermList):
        self.tl = tl
        self.blocks: dict[int, tuple] = {}
        self.block_last = tl.block_last

    def block_of(self, ids: np.ndarray) -> np.ndarray:
        return np.searchsorted(self.block_last, ids, side="left")

    def ensure(self, needed: np.ndarray) -> None:
        missing = np.asarray(
            [b for b in np.unique(needed) if int(b) not in self.blocks],
            dtype=np.int64,
        )
        if missing.size == 0:
            return
        _stats_dict()["blocks_decoded"] += int(missing.size)
        for ri, local in self.tl._by_row(missing):
            ids, tfs, dls, pos = unpack_blocks(self.tl.rows[ri], local)
            off = int(self.tl.row_block_off[ri])
            for lb in np.unique(local):
                lb = int(lb)
                s = np.searchsorted(pos, lb * BLOCK)
                e = np.searchsorted(pos, (lb + 1) * BLOCK)
                self.blocks[off + lb] = (ids[s:e], tfs[s:e], dls[s:e])

    def lookup(self, cand_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """tf/dl for candidate ids KNOWN to be present in this list."""
        blk = self.block_of(cand_ids)
        self.ensure(blk)
        tf = np.empty(cand_ids.size, dtype=np.uint64)
        dl = np.empty(cand_ids.size, dtype=np.uint64)
        for b in np.unique(blk):
            sel = blk == b
            bids, btf, bdl = self.blocks[int(b)]
            p = np.searchsorted(bids, cand_ids[sel])
            tf[sel] = btf[p]
            dl[sel] = bdl[p]
        return tf, dl


def _single_term_topk(
    tl: "_TermList",
    cache: "_BlockCache",
    idf: float,
    mult: int,
    n_instances: int,
    avgdl: int,
    k: int,
    deleted_ids: np.ndarray,
) -> pd.DataFrame:
    """Single-term top-k WITHOUT the full id decode: blocks are visited
    in upper-bound order and decoding stops once the k-th best exact
    score (θ) provably beats every remaining block's bound.

    The generic kernel decodes the ENTIRE rarest list's ids for
    candidate generation — correct for conjunctive multi-term queries
    (the rarest list is small by definition) but pathological for a
    single stop-word term, where "rarest" IS the giant list. Here the
    candidate set never materializes: each chunk of high-bound blocks
    decodes ids+tf+dl together, scores exactly, and raises θ. Pruning is
    lossless (ub ≥ exact, ties with θ kept) so results stay
    rank-identical with the flat oracle; the decode stats then show
    transfer ∝ blocks that could matter, matching the reference's
    skip-reads (index_reader.rs:271-311) for the single-term case too.
    """
    if idf >= 0:
        ub = mult * idf * impact_bound(
            tl.meta("block_max_tf"), tl.meta("block_min_dl"), avgdl
        )
    else:
        ub = mult * idf * impact_bound(
            tl.meta("block_min_tf"), tl.meta("block_max_dl"), avgdl
        )
    by_ub = np.argsort(-ub, kind="stable")
    # ≥ 4k postings per decode call, and ≥ 8 blocks to amortize call
    # overhead — same chunking intent as the generic phase-3 loop
    chunk = max(8, -(-4 * k // BLOCK))
    kept_ids: list[np.ndarray] = []
    kept_scores: list[np.ndarray] = []
    theta = -np.inf
    n_kept = 0
    for s in range(0, by_ub.size, chunk):
        sel = by_ub[s : s + chunk]
        if n_kept >= k and ub[sel[0]] < theta:
            break  # blocks are ub-descending: nothing left can enter
        # decode through the shared cache: a batch kernel scoring many
        # queries over the same term pays each block's decode once
        # (ensure() counts only genuinely-missing blocks in the stats)
        cache.ensure(sel)
        parts = [cache.blocks[int(b)] for b in sel]
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        alive = _live(ids, deleted_ids)
        ids, tfs, dls = ids[alive], tfs[alive], dls[alive]
        if ids.size == 0:
            continue
        kept_ids.append(ids)
        kept_scores.append(mult * idf * impact(tfs, dls, avgdl))
        n_kept += ids.size
        if n_kept >= k:
            all_scores = np.concatenate(kept_scores)
            theta = np.partition(all_scores, all_scores.size - k)[
                all_scores.size - k
            ]
    if not kept_ids:
        return _empty_result()
    out_ids = np.concatenate(kept_ids)
    out_scores = np.concatenate(kept_scores)
    if out_ids.size > k:
        keep = out_scores >= theta
        out_ids, out_scores = out_ids[keep], out_scores[keep]
    return pd.DataFrame(
        {
            "doc_id": out_ids.view(np.int64),
            "score": out_scores,
            "term_count": np.full(out_ids.size, n_instances, dtype=np.int32),
        }
    )


def _block_upper_bounds(
    lists, caches, terms, terms_meta, idfs, avgdl, cand, hits=None
):
    """Per-candidate block-max upper bound over ``terms``:
    ub_term = mult · idf · impact(max_tf, min_dl)   when idf ≥ 0
            = mult · idf · impact(min_tf, max_dl)   when idf <  0
    (idf may be negative — ranking.rs:43-49 — which flips which block
    extremum bounds the contribution from above). ``hits`` (partial
    match): per-term boolean masks limiting each term's contribution to
    the candidates it actually matches; None (conjunctive) = every term
    contributes to every candidate."""
    ub = np.zeros(cand.size, dtype=np.float64)
    for t in terms:
        h = hits[t] if hits is not None else None
        if h is not None and not h.any():
            continue
        blk = caches[t].block_of(cand if h is None else cand[h])
        mult = terms_meta[t][1]
        if idfs[t] >= 0:
            btf = lists[t].meta("block_max_tf")[blk]
            bdl = lists[t].meta("block_min_dl")[blk]
        else:
            btf = lists[t].meta("block_min_tf")[blk]
            bdl = lists[t].meta("block_max_dl")[blk]
        contrib = mult * idfs[t] * impact_bound(btf, bdl, avgdl)
        if h is None:
            ub += contrib
        else:
            ub[h] += contrib
    return ub


def _theta_pruned_topk(ub, k, score_chunk):
    """Exact scoring in upper-bound order, chunked; stop when the next
    chunk's best possible score cannot beat the running θ (k-th best
    exact score so far). ub ≥ exact always (impact ↑ in tf, ↓ in dl),
    so pruning is lossless; ties with θ are KEPT (the global
    score-then-url tie-break happens at the Spark layer).

    ``score_chunk(sel)`` returns exact scores for candidate indices
    ``sel``; it's the only thing that differs between the conjunctive
    and partial-match kernels. Returns (kept_indices, kept_scores) —
    everything scoring ≥ the k-th best; k=None scores everything."""
    by_ub = np.argsort(-ub, kind="stable")
    chunk = max(1024, 0 if k is None else 4 * k)
    kept_sel: list[np.ndarray] = []
    kept_scores: list[np.ndarray] = []
    theta = -np.inf
    n_scored = 0
    for s in range(0, by_ub.size, chunk):
        sel = by_ub[s : s + chunk]
        if k is not None and n_scored >= k and ub[sel[0]] < theta:
            break  # no remaining candidate can enter the top-k
        kept_sel.append(sel)
        kept_scores.append(score_chunk(sel))
        n_scored += sel.size
        if k is not None and n_scored >= k:
            all_scores = np.concatenate(kept_scores)
            theta = np.partition(all_scores, all_scores.size - k)[
                all_scores.size - k
            ]
    sel_all = np.concatenate(kept_sel)
    scores = np.concatenate(kept_scores)
    if k is not None and sel_all.size > k:
        # keep everything scoring ≥ the k-th best (ties survive for the
        # global tie-break), drop the provably-out rest
        keep = scores >= theta
        sel_all, scores = sel_all[keep], scores[keep]
    return sel_all, scores


def _score_conjunctive(lists, caches, terms_meta, idfs, avgdl, k, deleted_ids):
    """Score ONE conjunctive query against a shard's decoded term lists,
    which hold every one of its terms (the kernel skips a query missing
    one: empty AND).

    lists/caches may cover a SUPERSET of this query's terms (a kernel
    scoring many queries decodes the shard once; caches are shared so a
    block decoded for one query is reused by the next).
    terms_meta: {term: (global_df, multiplicity)} for THIS query.
    Returns the kernel-local result frame (doc_id, score, term_count).
    """
    n_instances = sum(m for _, m in terms_meta.values())
    # rarest-first by shard-local posting count
    order = sorted(terms_meta, key=lambda t: lists[t].n)

    if len(order) == 1 and k is not None:
        t = order[0]
        return _single_term_topk(
            lists[t], caches.setdefault(t, _BlockCache(lists[t])),
            idfs[t], terms_meta[t][1],
            n_instances, avgdl, k, deleted_ids,
        )

    # ---- phase 1+2: ids-only intersection ------------------------
    cand_ids = lists[order[0]].decode_all_ids()
    for t in order[1:]:
        if cand_ids.size == 0:
            return _empty_result()
        tl = lists[t]
        blocks = np.searchsorted(tl.block_last, cand_ids, side="left")
        in_range = blocks < tl.block_last.size
        cand_ids = cand_ids[in_range]
        ids = tl.decode_blocks_ids(np.unique(blocks[in_range]))
        pos = np.searchsorted(ids, cand_ids)
        pos_ok = pos < ids.size
        hit = np.zeros(cand_ids.size, dtype=bool)
        hit[pos_ok] = ids[pos[pos_ok]] == cand_ids[pos_ok]
        cand_ids = cand_ids[hit]

    cand_ids = cand_ids[_live(cand_ids, deleted_ids)]
    if cand_ids.size == 0:
        return _empty_result()

    # ---- phase 3: block-max upper bounds, then exact scoring in
    # upper-bound order with lossless θ pruning (shared with the
    # partial-match kernel — see _block_upper_bounds/_theta_pruned_topk)
    for t in order:
        caches.setdefault(t, _BlockCache(lists[t]))
    ub = _block_upper_bounds(
        lists, caches, order, terms_meta, idfs, avgdl, cand_ids
    )

    def score_chunk(sel: np.ndarray) -> np.ndarray:
        ids_c = cand_ids[sel]
        score = np.zeros(ids_c.size, dtype=np.float64)
        for t in order:
            tf, dl = caches[t].lookup(ids_c)
            score += terms_meta[t][1] * idfs[t] * impact(tf, dl, avgdl)
        return score

    sel_kept, out_scores = _theta_pruned_topk(ub, k, score_chunk)
    out_ids = cand_ids[sel_kept]

    return pd.DataFrame(
        {
            "doc_id": out_ids.view(np.int64),
            "score": out_scores,
            "term_count": np.full(out_ids.size, n_instances, dtype=np.int32),
        }
    )


def _score_partial(
    lists, caches, terms_meta, idfs, avgdl, k, min_match, deleted_ids
):
    """Disjunctive (min-should-match) scoring of ONE query against a
    shard's term lists — the packed twin of query.bm25_partial (the
    reference's own TODO, query.rs:192-193).

    Candidate generation must union EVERY present term's ids (a doc
    matching any ``min_match`` subset qualifies), so the ids decode is
    full per term — the disjunctive floor. Scoring stays block-max
    pruned: per-candidate upper bounds sum only the terms that HIT the
    candidate, exact scoring runs in upper-bound order and stops at θ
    like the conjunctive kernel, so tf/dl blocks of hopeless candidates
    never decode. The kernel calls it only when some term is present."""
    present = [t for t in terms_meta if t in lists]
    ids_per_term = {t: lists[t].decode_all_ids() for t in present}
    cand = np.unique(np.concatenate([ids_per_term[t] for t in present]))
    hits: dict[str, np.ndarray] = {}
    n_matched = np.zeros(cand.size, dtype=np.int32)
    for t in present:
        ids = ids_per_term[t]
        pos = np.searchsorted(ids, cand)
        ok = pos < ids.size
        hit = np.zeros(cand.size, dtype=bool)
        hit[ok] = ids[pos[ok]] == cand[ok]
        hits[t] = hit
        n_matched += hit
    keep = (n_matched >= min_match) & _live(cand, deleted_ids)
    if not keep.any():
        return _empty_result("n_matched")
    cand, n_matched = cand[keep], n_matched[keep]
    for t in present:
        hits[t] = hits[t][keep]
        caches.setdefault(t, _BlockCache(lists[t]))

    ub = _block_upper_bounds(
        lists, caches, present, terms_meta, idfs, avgdl, cand, hits=hits
    )

    def score_chunk(sel: np.ndarray) -> np.ndarray:
        score = np.zeros(sel.size, dtype=np.float64)
        for t in present:
            h = hits[t][sel]
            if not h.any():
                continue
            tf, dl = caches[t].lookup(cand[sel][h])
            score[h] += terms_meta[t][1] * idfs[t] * impact(tf, dl, avgdl)
        return score

    sel_kept, out_scores = _theta_pruned_topk(ub, k, score_chunk)
    out_ids, out_nm = cand[sel_kept], n_matched[sel_kept]
    return pd.DataFrame(
        {
            "doc_id": out_ids.view(np.int64),
            "score": out_scores,
            "n_matched": out_nm.astype(np.int32),
        }
    )


def _build_lists(pdf: pd.DataFrame) -> dict:
    """Group a shard's posting rows into _TermLists (vectorized row
    grouping: to_dict('records') hands each row to _TermList as a plain
    dict — iterrows built a pandas Series per row, measurably slower
    once split rows multiply the row count)."""
    return {
        t: _TermList(g.to_dict("records"))
        for t, g in pdf.groupby("term", sort=False)
    }


def _kernel(meta, k: int | None, min_match: int | None = None):
    """THE per-shard scorer of every packed scored query: conjunctive
    (_score_conjunctive), or min-should-match (_score_partial) when
    ``min_match`` is given; one query or many, one segment or many.

    ``meta``: {seg_i: (avgdl, idfs, {qid: terms_meta})} — idfs {term:
    idf} and terms_meta {term: (df, multiplicity)} segment-local
    (ranking.rs:48-50) — or a Spark BROADCAST of it. One query's
    metadata is bytes and rides the task closure; a 100k-query sweep's
    is megabytes, which in the closure would ship in EVERY task's
    pickle, so query_segments broadcasts it (torrent, once per
    executor). The returned ``kernel(seg_i, pdf, deleted_ids)`` groups
    the shard's posting rows (the union of every query's terms) into
    _TermLists ONCE and shares the block caches, so a block decoded for
    one query is free for every other query touching it. deleted_ids:
    the shard's sorted uint64 deleted doc ids (see _scatter). Output
    rows carry the qid; the top-k across shards and the url resolve
    happen at the Spark layer.
    """
    conjunctive = min_match is None
    count_col = "term_count" if conjunctive else "n_matched"

    def kernel(seg_i, pdf: pd.DataFrame, deleted_ids) -> pd.DataFrame:
        m = meta.value if isinstance(meta, Broadcast) else meta
        avgdl, idfs, queries = m[seg_i]
        present = set(pdf["term"])
        # a conjunctive query missing a term in this shard is empty here
        # (no decode); a partial one needs any of its terms
        live = [
            (qid, qm) for qid, qm in queries.items()
            if (present.issuperset(qm) if conjunctive
                else not present.isdisjoint(qm))
        ]
        outs = []
        if live:
            lists = _build_lists(pdf)
            _stats_dict()["blocks_total"] += sum(
                tl.block_last.size for tl in lists.values()
            )
            caches: dict = {}
            for qid, qm in live:
                out = (
                    _score_conjunctive(
                        lists, caches, qm, idfs, avgdl, k, deleted_ids)
                    if conjunctive else
                    _score_partial(
                        lists, caches, qm, idfs, avgdl, k, min_match,
                        deleted_ids)
                )
                if len(out):
                    out.insert(0, "qid", qid)
                    outs.append(out)
        if not outs:
            e = _empty_result(count_col)
            e.insert(0, "qid", pd.Series([], dtype=object))
            return e
        return pd.concat(outs, ignore_index=True)

    return kernel


def _route_deletes(seg: Segment, deletes_broadcast_max: int):
    """(deleted_ids, deletes_df): the sorted uint64 ids the kernels close
    over, and — only above the cap — the deletes table to cogroup.

    A read segment routes without any Spark job: within the cap its ids
    were resolved on the driver by read_segment; above it (hint set, no
    ids) the table is cogrouped. Only a Segment without metadata
    (hand-built: no hint, no ids) pays one capped collect."""
    none = np.empty(0, dtype=np.uint64)
    if seg.deletes is None:
        return none, None
    d = seg.deletes.select("doc_id").distinct()
    ids = seg.deleted_ids
    if ids is None and seg.n_deletes_hint is None:
        ids = collect_ids_capped(d, deletes_broadcast_max)
    if ids is None or ids.size > deletes_broadcast_max:
        return none, d
    return ids, None


def _seg_list(segs) -> list[Segment]:
    """A Segment, a {name: Segment} collection or a list → a non-empty
    list of segments."""
    if isinstance(segs, Segment):
        segs = [segs]
    seg_list = list(segs.values()) if isinstance(segs, dict) else list(segs)
    if not seg_list:
        raise ValueError("empty collection")
    return seg_list


def _union(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _counted(kernel, stats: dict):
    """The kernel, adding its decode counts to the stats accumulators."""
    acc_dec, acc_tot = stats["blocks_decoded"], stats["blocks_total"]

    def counted(seg_i, pdf, deleted_ids):
        sd = _stats_dict()
        d0, t0 = sd["blocks_decoded"], sd["blocks_total"]
        out = kernel(seg_i, pdf, deleted_ids)
        acc_dec.add(sd["blocks_decoded"] - d0)
        acc_tot.add(sd["blocks_total"] - t0)
        return out

    return counted


def _scatter(
    parts: list,
    kernel,
    schema: str,
    deletes_broadcast_max: int,
    stats: dict | None = None,
) -> DataFrame:
    """THE packed scatter, for one segment or many → the kernel's rows
    (``schema`` columns) tagged ``_seg``, the segment's index in
    ``parts``.

    ``parts``: [(seg, rows)] — a segment and its term-filtered postings.
    Every part's rows are tagged ``_seg`` and go through ONE
    groupBy("_seg", "shard").applyInPandas calling
    ``kernel(seg_i, pdf, deleted_ids)``: a collection query costs one
    exchange and one kernel pass, not one per segment.

    Deletes: ids within the cap ride the task closure (resolved at
    read_segment — no job). A segment over the cap has its deletes
    table shard-partitioned (shard = pmod(doc_id, n_shards) derives
    from the id alone) and cogrouped on (_seg, shard), so each kernel
    call sees only its shard's slice and nothing reaches the driver.
    """
    deleted, tagged, dels = {}, [], []
    for i, (seg, rows) in enumerate(parts):
        deleted[i], d = _route_deletes(seg, deletes_broadcast_max)
        if d is not None:
            if seg.n_shards <= 0:
                # pmod(doc_id, 0) yields nulls → deletes silently
                # mis-shard and deleted docs come back. n_shards is
                # lineage-derived (read_segment); a hand-built Segment
                # must set it.
                raise ValueError(
                    "cogrouped deletes need Segment.n_shards > 0 "
                    f"(got {seg.n_shards}); read the segment via "
                    "read_segment or raise deletes_broadcast_max"
                )
            dels.append(d.select(
                F.lit(i).alias("_seg"),
                shard_of_doc_id(seg.n_shards).alias("shard"),
                "doc_id",
            ))
        tagged.append(rows.withColumn("_seg", F.lit(i)))
    if stats is not None:
        kernel = _counted(kernel, stats)
    out_schema = "_seg int, " + schema

    def run(key, pdf: pd.DataFrame, dead: np.ndarray) -> pd.DataFrame:
        i = int(key[0])
        out = kernel(i, pdf, dead)
        out.insert(0, "_seg", np.full(len(out), i, dtype=np.int32))
        return out

    grouped = _union(tagged).groupBy("_seg", "shard")
    if not dels:
        return grouped.applyInPandas(
            lambda key, pdf: run(key, pdf, deleted[int(key[0])]), out_schema
        )

    def cg(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        dead = deleted[int(key[0])]
        if len(right):
            dead = np.union1d(dead, right["doc_id"].to_numpy(
                dtype=np.int64).view(np.uint64))
        return run(key, left, dead)

    return grouped.cogroup(
        _union(dels).groupBy("_seg", "shard")
    ).applyInPandas(cg, out_schema)


def _docs(segs: list[Segment]) -> DataFrame:
    """Every segment's (_seg, doc_id, url), tagged like _scatter's rows."""
    return _union([
        s.docs.select(F.lit(i).alias("_seg"), "doc_id", "url")
        for i, s in enumerate(segs)
    ])


def _with_urls(cands: DataFrame, segs: list[Segment], broadcast: bool):
    """Resolve _scatter's candidate rows to urls.

    Urls resolve BEFORE any global limit: each shard kernel already
    pruned to its local top-k (+ ties), so the join touches ≤
    ~k·n_shards rows per segment, and the k-boundary tie-break lands on
    url — a deterministic, externally-reproducible order (the packed and
    flat paths then agree with the SQL oracle's ORDER BY score DESC, url
    even on exact ties). ``broadcast`` broadcasts the CANDIDATE side
    (r6): without the hint the planner either broadcasts the whole docs
    tables (rebuilt per query — 25 MB at 500k docs) or, past the
    auto-broadcast threshold, sort-merges them per query. Measured at
    500k docs: cold p50 0.86-1.01 s → 0.68-0.70 s."""
    if broadcast:
        cands = F.broadcast(cands)
    return cands.join(_docs(segs), ["_seg", "doc_id"])


def _attach_release(df: DataFrame, bcs: list) -> DataFrame:
    """Give a query frame a deterministic executor-storage release:
    ``df.ss_release()`` unpersists the metadata broadcasts after the
    caller's consuming action. Without it the broadcast is freed only
    when the frame is GC'd AND ContextCleaner next runs — still correct,
    but under sustained serving (thousands of bm25_batch calls, each
    broadcasting MBs of query metadata) executor storage grows
    unboundedly between cleaner cycles. ss_release is safe even if the
    frame is re-executed later: unpersist(blocking=False) drops executor
    blocks only; the driver re-ships the value on the next job."""

    def ss_release() -> None:
        for b in bcs:
            b.unpersist(False)

    df.ss_release = ss_release
    return df


def query_segments(
    segs: list[Segment],
    term_dfs: list[dict[str, int]] | None,
    queries: dict[str, str],
    max_results: int | None,
    min_should_match: int | None = None,
    deletes_broadcast_max: int = DELETES_BROADCAST_MAX,
    stats: dict | None = None,
    columns: tuple[str, ...] | None = None,
) -> DataFrame:
    """THE request path of every packed scored query → (qid, url, score,
    term_count) — n_matched instead of term_count when
    ``min_should_match`` is given — ordered by qid, then score desc,
    then url; ``columns`` selects from those.

    ``term_dfs`` holds one {term: df} per segment covering (at least)
    its dictionary's query terms; None probes each segment's dictionary
    on the driver (Segment.term_dfs). Each segment is scored with its
    own N, avgdl and df. Per segment, a conjunctive qid is dropped when
    the dictionary lacks one of its terms (the missing-term AND abort,
    query.rs:34-40); for a partial one, absent terms just don't match.
    A segment with no qid left is skipped. The rest go through ONE
    _scatter and one _kernel pass.

    The finish: a max-score (qid, url) dedupe when more than one
    segment is queried (QueryProcessor.hs:61-152; the global top-k
    needs no per-segment cut — a url outside its segment's top-k has k
    urls ahead of it in the merged ranking too), then orderBy().limit
    for one query or a per-qid row_number window for many, both with
    the score-then-url tie-break. The frame carries ``ss_release()``
    (see _attach_release)."""
    count_col = "term_count" if min_should_match is None else "n_matched"
    spark = segs[0].postings.sparkSession
    if stats is not None:  # up front: an empty result still reads zeros
        stats["blocks_decoded"] = spark.sparkContext.accumulator(0)
        stats["blocks_total"] = spark.sparkContext.accumulator(0)
    columns = columns or ("qid", "url", "score", count_col)
    multis = {qid: Counter(normalise(q)) for qid, q in queries.items()}
    if term_dfs is None:
        terms = sorted({t for m in multis.values() for t in m})
        term_dfs = [s.term_dfs(terms) if terms else {} for s in segs]
    parts, meta, qids = [], {}, set()
    for seg, dfs in zip(segs, term_dfs):
        seg_queries = {}
        for qid, multiplicity in multis.items():
            tm = {t: (dfs[t], m) for t, m in multiplicity.items() if t in dfs}
            if tm and (min_should_match is not None
                       or len(tm) == len(multiplicity)):
                seg_queries[qid] = tm
        if not seg_queries:
            continue
        terms = sorted({t for tm in seg_queries.values() for t in tm})
        idfs = {t: _idf(seg.num_docs, dfs[t]) for t in terms}
        meta[len(parts)] = (seg.avgdl, idfs, seg_queries)
        parts.append((seg, seg.postings.filter(F.col("term").isin(terms))))
        qids.update(seg_queries)
    if not parts:
        return _attach_release(spark.createDataFrame(
            [], f"qid string, url string, score double, {count_col} int"
        ).select(*columns), [])

    one_query = len(qids) == 1
    bcs = [] if one_query else [spark.sparkContext.broadcast(meta)]
    cands = _scatter(
        parts,
        _kernel(bcs[0] if bcs else meta, max_results, min_should_match),
        f"qid string, doc_id long, score double, {count_col} int",
        deletes_broadcast_max, stats,
    )
    out = _with_urls(
        cands, [s for s, _ in parts],
        broadcast=one_query and max_results is not None,
    )
    order = [F.col("score").desc(), F.col("url")]
    if len(segs) > 1:
        # keep each (qid, url)'s best-scoring row; the count column
        # breaks exact score ties so the surviving row is deterministic
        w = Window.partitionBy("qid", "url").orderBy(
            F.col("score").desc(), F.col(count_col).desc()
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
    if one_query:
        out = out.orderBy(*order)
        if max_results is not None:
            out = out.limit(max_results)
    else:
        if max_results is not None:
            w = Window.partitionBy("qid").orderBy(*order)
            out = (
                out.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= max_results)
            )
        out = out.orderBy("qid", *order)
    return _attach_release(out.select(*columns), bcs)


def wand_scored(
    seg: Segment,
    query: str,
    max_results: int | None = None,
    deletes_broadcast_max: int = DELETES_BROADCAST_MAX,
    term_dfs: dict[str, int] | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Scored conjunctive query over a packed segment → (url, score,
    term_count), rank-identical to the flat path (tests enforce it) —
    query_segments on one segment and one query.

    ``term_dfs``: precomputed {term: df} covering (at least) every
    query term present in this segment's dictionary; by default the
    segment's dictionary is probed on the driver (Segment.term_dfs).

    ``stats``: pass a dict to receive two Spark ACCUMULATORS under keys
    'blocks_decoded' / 'blocks_total' — executor-side counts of tf/dl
    blocks the kernels decoded vs held, readable (``.value``) after an
    action. This is the end-to-end transfer-proportionality evidence:
    decoded ≪ total on a top-k query means the engine moved only the
    blocks the block-max bound could not prune (the Spark analogue of
    the reference's mmap-granularity reads, index_reader.rs:271-311).
    """
    return query_segments(
        [seg], None if term_dfs is None else [term_dfs], {"": query},
        max_results, deletes_broadcast_max=deletes_broadcast_max,
        stats=stats, columns=("url", "score", "term_count"),
    )


def wand_partial(
    seg: Segment,
    query: str,
    min_should_match: int = 1,
    max_results: int | None = None,
    deletes_broadcast_max: int = DELETES_BROADCAST_MAX,
    term_dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Scored partial-match query over a packed segment → (url, score,
    n_matched), rank-identical to the flat bm25_partial (tests enforce
    it). A doc qualifies when ≥ ``min_should_match`` DISTINCT query
    terms match; the score sums every matched instance. Terms absent
    from the dictionary simply don't match (no conjunctive fast abort —
    disjunctive semantics). Same request path as wand_scored
    (query_segments); candidate generation is the full union of present
    terms' id lists (the disjunctive floor), exact scoring stays
    θ-pruned in upper-bound order."""
    return query_segments(
        [seg], None if term_dfs is None else [term_dfs], {"": query},
        max_results, min_should_match, deletes_broadcast_max,
        columns=("url", "score", "n_matched"),
    )


def bm25_batch(
    seg: Segment,
    queries: dict[str, str],
    max_results: int | None = 10,
    deletes_broadcast_max: int = DELETES_BROADCAST_MAX,
    stats: dict | None = None,
    term_dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Score MANY conjunctive queries against one segment in ONE Spark
    action → (qid, url, score, term_count), each qid's rows
    rank-identical to ``wand_scored(seg, queries[qid])``.

    The throughput shape Spark is actually good at: the reference serves
    concurrent queries from an always-on API (Controller.hs:73) at ~ms
    each; a Spark job pays a fixed plan+submit cost per ACTION, so the
    way to win is to amortize it — one posting scan pruned to the UNION
    of all queries' terms, one shard shuffle, one kernel pass scoring
    every query, with block decodes SHARED across queries that touch the
    same term. A 10k-query relevance sweep (e.g. mining BM25 hard
    negatives for retriever training) runs as one job instead of 10k.

    Per-query semantics are identical to wand_scored: conjunctive AND,
    duplicate-term multiplicity, missing-term fast abort (empty result
    for that qid only), deletes filtering, top-k with score-then-url
    ordering.

    The returned frame carries ``ss_release()``: serving loops call it
    after their consuming action to drop the query-metadata broadcast
    deterministically (see _attach_release).
    """
    return query_segments(
        [seg], None if term_dfs is None else [term_dfs], queries,
        max_results, deletes_broadcast_max=deletes_broadcast_max,
        stats=stats,
    )
