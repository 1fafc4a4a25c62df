"""The benchmark's two workloads, each a single closed-loop client.

ingest_live  page batches of seeded, unequal sizes enter one collection
             through registry.index_into_collection (build, then the
             compaction policy); the first enters during set-up. A few
             seeded delete_url calls follow each timed batch, then a
             fixed set of scored query_collection queries. The
             collection is then folded into one segment with
             merge_segments, smallest pair first, and the folded segment
             answers a fixed number of partial requests and bm25_batch
             chunks.
serve        builds its serving segment: ingests the corpus as two
             segments (the first during set-up) and folds them into one
             segment. The timed loop then sends a fixed number of rounds
             of one wand_scored and one wand_partial request, with a
             fixed number of bm25_batch chunks spread over the rounds.

An untimed warm-up call of each query kind precedes its timed samples.

Every result is checked against oracle.py. README.md has the figures.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

import gen
import oracle

N_SHARDS = 2
K = 10
CORPUS_DOCS = 2_500
DELETES_PER_BATCH = 2
# a chunk this large costs about 1.1x a chunk of 8 on the host in
# README.md, so batch_qps follows decode and scoring, not submit cost
BATCH_CHUNK = 32
# --seconds sets each run's operation count, never the host's speed:
SECONDS_PER_BATCH = 10  # ingest_live: timed batches = seconds / this
FOLDED_PARTIAL_PER_S = 0.3  # ingest_live: partial requests on the fold
FOLDED_CHUNKS_PER_S = 0.2  # ingest_live: batch chunks on the fold
SERVE_ROUNDS_PER_S = 0.5  # serve: rounds of one scored + one partial
SERVE_CHUNKS_PER_S = 0.3  # serve: batch chunks, spread over the rounds

# (term bands, min_match for the partial kind); see gen.Generator.queries
TEMPLATES = [
    (("rare",), 1),
    (("mid", "mid"), 1),
    (("high",), 1),
    (("rare", "high"), 2),
    (("mid", "high", "high"), 2),
    (("mid",), 1),
    (("mid", "missing"), 1),
    (("rare", "mid"), 1),
    (("high", "high"), 2),
    (("mid", "rep"), 1),
    (("mid", "mid", "high"), 2),
    (("high", "mid", "missing"), 2),
]
# the fixed set query_collection answers after every ingest_live batch
STEP_TEMPLATES = [(("mid", "high"), 1), (("rare",), 1), (("mid",), 1)]

LAYER_OPS = (
    "registry.ingest", "segments.build", "segments.delete",
    "registry.compact", "registry.load", "registry.term_dfs",
    "registry.query", "merge.merge", "wand.scored", "wand.partial",
    "wand.batch",
)


class Failed(Exception):
    """A write-path operation failed; the run cannot go on."""


class Run:
    """Per-kind attempt/failure counts and latencies, plus the first
    correctness mismatches."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.kinds: dict[str, dict] = {}
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.checks = 0
        self.extra: dict = {}

    def op(self, kind: str, fn, span: bool = True, fatal: bool = False):
        """Time fn() as one operation of ``kind``. A failing query is
        counted and skipped (returns None); a failing write-path step
        raises Failed."""
        rec = self.kinds.setdefault(kind, {"attempted": 0, "failed": 0,
                                           "ms": []})
        rec["attempted"] += 1
        t0 = time.perf_counter()
        try:
            if span:
                with self.tracer.span(kind):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # counted as a failed operation
            rec["failed"] += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            if fatal:
                raise Failed(kind) from e
            return None
        rec["ms"].append((time.perf_counter() - t0) * 1000.0)
        return out

    def check(self, what: str, problem: str | None) -> None:
        self.checks += 1
        if problem is not None and len(self.mismatches) < 20:
            self.mismatches.append(f"{what}: {problem}")

    def ms(self, kind: str) -> list[float]:
        return self.kinds.get(kind, {}).get("ms", [])


# -- shared pieces ------------------------------------------------------

def _batch_sizes(rng, n_batches: int) -> list[int]:
    """The first batch (set-up's, the process's cold build) takes a
    seeded 10-20% of the corpus, since a cold build costs more per doc;
    the rest is split with seeded weights from U(0.6, 1.4)."""
    first = int(round(rng.uniform(0.1, 0.2) * CORPUS_DOCS))
    w = rng.uniform(0.6, 1.4, n_batches - 1)
    rest = [int(x) for x in (w / w.sum() * (CORPUS_DOCS - first)).round()]
    rest[-1] += CORPUS_DOCS - first - sum(rest)
    return [first] + rest


def _oracle_corpus(steps) -> oracle.Corpus:
    corpus = oracle.Corpus()
    for st in steps:
        for p in sorted(st.pages, key=lambda p: p.warc_us):
            corpus.add(p.url, p.text)
    return corpus


def _members(run: Run, corpus: oracle.Corpus, seg) -> dict[str, int]:
    """url → doc_len from a segment's docs table; each doc_len is
    checked against the oracle's tokenization."""
    rows = seg.docs.select("url", "doc_len").collect()
    out = {r["url"]: int(r["doc_len"]) for r in rows}
    run.check(f"docs table {os.path.basename(seg.path)}",
              None if len(out) == len(rows) else "a url appears twice")
    bad = [u for u, dl in out.items()
           if u not in corpus.docs or corpus.docs[u][1] != dl]
    run.check(f"doc_len {os.path.basename(seg.path)}",
              f"{len(bad)} docs disagree, e.g. {bad[:2]}" if bad else None)
    return out


class Models:
    """Oracle segment models, keyed by segment path (segments never
    change once written; deletes live outside the model)."""

    def __init__(self, run: Run, corpus: oracle.Corpus):
        self.run, self.corpus = run, corpus
        self.by_path: dict[str, oracle.SegmentModel] = {}

    def get(self, seg) -> oracle.SegmentModel:
        m = self.by_path.get(seg.path)
        if m is None:
            m = oracle.SegmentModel(
                self.corpus, _members(self.run, self.corpus, seg))
            self.by_path[seg.path] = m
        return m

    def check_cover(self, segs, live: set[str], ingested: set[str]) -> None:
        seen: set[str] = set()
        overlap = 0
        for s in segs:
            urls = set(self.get(s).urls)
            overlap += len(seen & urls)
            seen |= urls
        problem = None
        if overlap:
            problem = f"{overlap} urls in more than one segment"
        elif not live <= seen:
            problem = f"{len(live - seen)} live urls in no segment"
        elif not seen <= ingested:
            problem = f"{len(seen - ingested)} urls never ingested"
        self.run.check("segment membership", problem)


def _rows(df) -> list[tuple[str, float]]:
    return [(r["url"], float(r["score"])) for r in df.collect()]


def _disk_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _lineage_totals(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, "lineage"))
    return (int(t.column("n_postings").to_numpy().sum()),
            int(t.column("packed_bytes").to_numpy().sum()))


def _stats(tracer):
    return {} if tracer.enabled else None


def _add_blocks(tracer, prefix: str, st) -> None:
    if st:
        tracer.count(f"{prefix}.blocks_decoded", st["blocks_decoded"].value)
        tracer.count(f"{prefix}.blocks_total", st["blocks_total"].value)


class Engine:
    """The engine's public calls the benchmark drives, each timed as one
    operation and checked against the oracle."""

    def __init__(self, spark, run: Run, models: Models):
        from search_suite_spark.operators import wand
        from search_suite_spark.operators.merge import merge_segments
        from search_suite_spark.sources import registry, segments

        self.spark, self.run, self.models = spark, run, models
        self.registry, self.segments, self.wand = registry, segments, wand
        self.merge_segments = merge_segments
        self.deleted: set[str] = set()

    def ingest(self, path: str, col: str) -> dict:
        spark, reg = self.spark, self.registry
        return self.run.op("registry.ingest", lambda: reg.index_into_collection(
            spark, spark.read.parquet(path), col, n_shards=N_SHARDS),
            fatal=True)

    def delete(self, segs: dict, url: str) -> None:
        holder = [s for s in segs.values()
                  if url in self.models.get(s).urls]
        if len(holder) != 1:
            self.run.check(f"delete {url}", f"held by {len(holder)} segments")
            return
        self.run.op("segments.delete", lambda: self.segments.delete_url(
            self.spark, holder[0], url), fatal=True)
        self.deleted.add(url)

    def load(self, col: str) -> dict:
        # registry.load_collection carries its own span when tracing
        return self.run.op("registry.load", lambda: self.registry
                           .load_collection(self.spark, col),
                           span=False, fatal=True)

    def query_collection(self, segs: dict, q: gen.Query) -> None:
        out = self.run.op("registry.query", lambda: _rows(
            self.registry.query_collection(segs, q.text, max_results=K)))
        if out is not None:
            want = oracle.collection_scores(
                [self.models.get(s) for s in segs.values()], q.text,
                self.deleted)
            self.run.check(f"query_collection {q.text!r}",
                           oracle.compare(out, want, K))

    def fold(self, segs: list, dest: str):
        """Merge smallest pair first until one segment remains."""
        segs = list(segs)
        i = 0
        while len(segs) > 1:
            segs.sort(key=lambda s: (s.num_docs, s.path))
            a, b = segs[0], segs[1]
            out = os.path.join(dest, f"fold_{i:03d}")
            i += 1
            merged = self.run.op("merge.merge", lambda: self.merge_segments(
                self.spark, a, b, out, n_shards=N_SHARDS), fatal=True)
            segs = [merged] + segs[2:]
        return segs[0]

    def scored(self, seg, q: gen.Query) -> None:
        st = _stats(self.run.tracer)
        out = self.run.op("wand.scored", lambda: _rows(self.wand.wand_scored(
            seg, q.text, max_results=K, stats=st)))
        _add_blocks(self.run.tracer, "wand.scored", st)
        if out is not None:
            want = oracle.collection_scores([self.models.get(seg)], q.text,
                                            self.deleted)
            self.run.check(f"wand_scored {q.text!r}",
                           oracle.compare(out, want, K))

    def partial(self, seg, q: gen.Query) -> None:
        out = self.run.op("wand.partial", lambda: _rows(self.wand.wand_partial(
            seg, q.text, min_should_match=q.min_match, max_results=K)))
        if out is not None:
            want = oracle.collection_scores([self.models.get(seg)], q.text,
                                            self.deleted, q.min_match)
            self.run.check(f"wand_partial {q.text!r} m={q.min_match}",
                           oracle.compare(out, want, K))

    def batch(self, seg, chunk: list[gen.Query]) -> None:
        st = _stats(self.run.tracer)
        queries = {f"q{i:02d}": q.text for i, q in enumerate(chunk)}

        def call():
            df = self.wand.bm25_batch(seg, queries, max_results=K, stats=st)
            rows = df.collect()
            df.ss_release()
            return rows

        rows = self.run.op("wand.batch", call)
        _add_blocks(self.run.tracer, "wand.batch", st)
        if rows is None:
            return
        self.run.extra["batch_queries"] = (
            self.run.extra.get("batch_queries", 0) + len(chunk))
        got: dict[str, list] = {qid: [] for qid in queries}
        for r in rows:
            got[r["qid"]].append((r["url"], float(r["score"])))
        model = self.models.get(seg)
        for qid, text in queries.items():
            want = oracle.collection_scores([model], text, self.deleted)
            self.run.check(f"bm25_batch {text!r}",
                           oracle.compare(got[qid], want, K))

    def check_folded(self, seg, corpus: oracle.Corpus, live: set[str],
                     stale: list[tuple[str, str]]) -> dict:
        """Write-path properties of the folded segment; returns its
        size figures."""
        urls = set(self.models.get(seg).urls)
        self.run.check("folded segment holds exactly the live urls",
                       None if urls == live else
                       f"{len(urls - live)} extra, {len(live - urls)} missing")
        n_post, packed = _lineage_totals(seg.path)
        want_post = sum(len(corpus.docs[u][0]) for u in live)
        want_len = sum(corpus.docs[u][1] for u in live)
        for what, got, want in (("num_docs", seg.num_docs, len(live)),
                                ("lineage n_postings", n_post, want_post),
                                ("total_doc_len", seg.total_doc_len, want_len)):
            self.run.check(f"folded {what}",
                           None if got == want else f"{got}, oracle {want}")
        if stale:
            # a term only an older crawl held must find nothing
            df = self.wand.bm25_batch(seg, {u: m for u, m in stale},
                                      max_results=K)
            rows = df.collect()
            df.ss_release()
            self.run.check("re-crawled urls index only the newest text",
                           None if not rows else
                           f"{len(rows)} hits on stale terms, e.g. "
                           f"{rows[0]['qid']}")
        disk = _disk_bytes(seg.path)
        text = sum(corpus.text_bytes[u] for u in live)
        return {"bytes_on_disk": disk, "text_bytes": text,
                "n_postings": n_post, "packed_bytes": packed}


def _warm_queries(run: Run, segs: dict, shapes: tuple[str, ...],
                  inp: "Inputs") -> None:
    """Untimed: one call of each query plan shape on warm-up query
    strings (never the timed ones), on the segments the timed samples
    will query, right before them and one after another like them. A
    plan shape's first call compiles its code, and the first calls on a
    new segment run 1.1-1.5x slower than the next ones, so without this
    the medians would follow how fast that passes."""
    from search_suite_spark.operators import wand
    from search_suite_spark.sources import registry

    t0 = time.monotonic()
    seg = next(iter(segs.values()))
    text = inp.warm

    def batch():
        df = wand.bm25_batch(seg, {f"w{i:02d}": t for i, t in
                                   enumerate(inp.warm_chunk)}, max_results=K)
        df.collect()
        df.ss_release()

    calls = {
        "collection": lambda: registry.query_collection(
            segs, text, max_results=K).collect(),
        "scored": lambda: wand.wand_scored(seg, text, max_results=K).collect(),
        "partial": lambda: wand.wand_partial(
            seg, text, min_should_match=1, max_results=K).collect(),
        "batch": batch,
    }
    with run.tracer.paused():
        for name in shapes:
            calls[name]()
    run.extra["warm_s"] = (run.extra.get("warm_s", 0.0)
                           + time.monotonic() - t0)


def _first_batch(spark, path: str, col: str, deletes: list[str]):
    """Set-up: the first batch enters the collection (the process's first
    build, so JIT and worker start-up are paid here) and its deletes
    follow."""
    from search_suite_spark.sources import registry, segments

    t0 = time.monotonic()
    segs = registry.index_into_collection(
        spark, spark.read.parquet(path), col, n_shards=N_SHARDS)
    t1 = time.monotonic()
    seg = next(iter(segs.values()))
    for url in deletes:
        segments.delete_url(spark, seg, url)
    segs = registry.load_collection(spark, col)
    return segs, {"first_ingest": t1 - t0,
                  "first_deletes_load": time.monotonic() - t1}


def _patch_layers(tracer) -> None:
    """Traced mode: spans around the public functions the registry
    calls internally, so they nest under the benchmark's own spans."""
    from search_suite_spark.sources import registry

    registry.build_segment = tracer.wrap("segments.build",
                                         registry.build_segment)
    registry.compact_collection = tracer.wrap("registry.compact",
                                              registry.compact_collection)
    registry.load_collection = tracer.wrap("registry.load",
                                           registry.load_collection)
    registry.collection_term_dfs = tracer.wrap("registry.term_dfs",
                                               registry.collection_term_dfs)
    merge = tracer.wrap("merge.merge", registry.merge_segments)

    def compaction_merge(*args, **kwargs):
        tracer.count("compaction.merges", 1)
        return merge(*args, **kwargs)

    registry.merge_segments = compaction_merge


def _count(seconds: int, per_s: float) -> int:
    return max(1, round(seconds * per_s))


def _chunks(g: gen.Generator, bands, n: int, offset: int = 0):
    """n chunks of BATCH_CHUNK distinct queries each."""
    return [g.queries(bands, TEMPLATES, BATCH_CHUNK,
                      offset=offset + c * BATCH_CHUNK, distinct=True)
            for c in range(n)]


def _spread(n: int, m: int) -> list[int]:
    """For each of n rounds, how many of m items it takes, so that the
    items are spread evenly over the rounds."""
    return [(r + 1) * m // n - r * m // n for r in range(n)]


def _band_shares(queries: list[gen.Query]) -> dict:
    bands = [b for q in queries for b in q.bands]
    out = {b: round(bands.count(b) / len(bands), 4)
           for b in ("rare", "mid", "high", "missing", "rep")}
    out["queries_with_missing_term"] = round(
        sum("missing" in q.bands for q in queries) / len(queries), 4)
    return out


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


# -- inputs -------------------------------------------------------------

@dataclass
class Inputs:
    """Everything a run needs that is not Spark: the generated pages (as
    parquet files), the oracle's corpus and the query streams."""
    steps: list
    paths: list[str]
    corpus: oracle.Corpus
    live: set
    step_queries: list
    scored: list
    partial: list
    chunks: list
    warm: str  # untimed warm-up query, apart from the timed ones
    warm_chunk: list


def prepare(workload: str, seed: int, seconds: int, work: str) -> Inputs:
    g = gen.Generator(seed)
    if workload == "ingest_live":
        n_timed = max(1, round(seconds / SECONDS_PER_BATCH))
        steps = g.batches(_batch_sizes(g.rng, n_timed + 1), DELETES_PER_BATCH)
        n_scored = 0
        n_partial = _count(seconds, FOLDED_PARTIAL_PER_S)
        n_chunks = _count(seconds, FOLDED_CHUNKS_PER_S)
    else:
        steps = g.batches(_batch_sizes(g.rng, 2), 0)
        n_scored = n_partial = _count(seconds, SERVE_ROUNDS_PER_S)
        n_chunks = _count(seconds, SERVE_CHUNKS_PER_S)
    paths = []
    for i, st in enumerate(steps):
        paths.append(os.path.join(work, f"batch_{i:03d}.parquet"))
        gen.write_pages(st.pages, paths[-1])
    corpus = _oracle_corpus(steps)
    bands = gen.df_bands(corpus.dfs(), len(corpus.docs))
    step_queries = g.queries(bands, STEP_TEMPLATES, len(STEP_TEMPLATES))
    scored = g.queries(bands, TEMPLATES, n_scored)
    partial = g.queries(bands, TEMPLATES, n_partial, offset=5)
    chunks = _chunks(g, bands, n_chunks)
    warm = g.queries(bands, TEMPLATES, 1, offset=3)[0]
    warm_chunk = _chunks(g, bands, 1, offset=7)[0]
    live = set(corpus.docs) - {u for st in steps for u in st.deletes}
    return Inputs(steps, paths, corpus, live, step_queries, scored, partial,
                  chunks, warm.text, [q.text for q in warm_chunk])


# -- ingest_live --------------------------------------------------------

def ingest_live(spark, run: Run, inp: Inputs, seconds: int, work: str,
                setup_done):
    steps, paths, corpus, live = inp.steps, inp.paths, inp.corpus, inp.live
    step_queries, partial, chunks = inp.step_queries, inp.partial, inp.chunks
    col = os.path.join(work, "collection")
    segs, run.extra["setup_phases_s"] = _first_batch(
        spark, paths[0], col, steps[0].deletes)
    models = Models(run, corpus)
    eng = Engine(spark, run, models)
    eng.deleted = set(steps[0].deletes)
    if run.tracer.enabled:
        _patch_layers(run.tracer)
    setup_s = setup_done()

    # every timed batch is followed by the fixed query set, so all its
    # samples see the same segments; the set-up batch by none
    ingested = {p.url for p in steps[0].pages}
    models.check_cover(segs.values(), ingested - eng.deleted, ingested)
    seg_counts = []
    for k, st in enumerate(steps[1:], 1):
        segs = eng.ingest(paths[k], col)
        ingested |= {p.url for p in st.pages}
        for url in st.deletes:
            eng.delete(segs, url)
        segs = eng.load(col)
        run.tracer.peak("registry.segments_max", len(segs))
        models.check_cover(segs.values(), ingested - eng.deleted, ingested)
        seg_counts.append(len(segs))
        _warm_queries(run, segs, ("collection",), inp)
        for q in step_queries:
            eng.query_collection(segs, q)
    folded = eng.fold(list(segs.values()), os.path.join(work, "fold"))
    eng.deleted = set()  # the fold dropped every deleted doc
    sizes = eng.check_folded(folded, corpus, live,
                             [s for st in steps for s in st.stale])
    _warm_queries(run, {"folded": folded}, ("batch",), inp)
    c = 0
    for q, n in zip(partial, _spread(len(partial), len(chunks))):
        eng.partial(folded, q)
        for chunk in chunks[c:c + n]:
            eng.batch(folded, chunk)
        c += n

    timed = steps[1:]
    run.extra.update({
        "batch_pages": [len(st.pages) for st in steps],
        "segments_at_query_steps": seg_counts,
        "step_queries": [q.text for q in step_queries],
        "partial_requests": len(partial),
        "batch_chunks": len(chunks),
        "query_bands": _band_shares(step_queries + partial
                                    + [q for c in chunks for q in c]),
        **sizes,
    })
    q = run.ms("registry.query")
    return {
        "setup_s": (setup_s, "s"),
        "ingest_docs_per_s": (
            sum(len(st.pages) for st in timed)
            / (sum(run.ms("registry.ingest")) / 1000.0), "docs/s"),
        "merge_docs_per_s": (folded.num_docs
                             / (sum(run.ms("merge.merge")) / 1000.0), "docs/s"),
        "index_bytes_per_text_byte": (
            sizes["bytes_on_disk"] / sizes["text_bytes"], "B/B"),
        "query_p50_ms": (_median(q), "ms"),
        "partial_p50_ms": (_median(run.ms("wand.partial")), "ms"),
        "batch_qps": (run.extra["batch_queries"]
                      / (sum(run.ms("wand.batch")) / 1000.0), "1/s"),
    }, q


# -- serve --------------------------------------------------------------

def serve(spark, run: Run, inp: Inputs, seconds: int, work: str,
          setup_done):
    steps, paths, corpus, live = inp.steps, inp.paths, inp.corpus, inp.live
    scored, partial, chunks = inp.scored, inp.partial, inp.chunks
    col = os.path.join(work, "collection")
    _, run.extra["setup_phases_s"] = _first_batch(spark, paths[0], col, [])
    models = Models(run, corpus)
    eng = Engine(spark, run, models)
    if run.tracer.enabled:
        _patch_layers(run.tracer)
    setup_s = setup_done()

    # membership of the parts and the re-crawl check are ingest_live's;
    # here the folded segment's counts, doc_len and results are checked
    segs = eng.ingest(paths[1], col)
    run.tracer.peak("registry.segments_max", len(segs))
    folded = eng.fold(list(segs.values()), os.path.join(work, "fold"))
    sizes = eng.check_folded(folded, corpus, live, [])
    run.check("serving segment has no deletes",
              None if folded.deletes is None else "deletes table present")
    _warm_queries(run, {"folded": folded}, ("scored", "partial", "batch"),
                  inp)

    c = 0
    for r, n in enumerate(_spread(len(scored), len(chunks))):
        eng.scored(folded, scored[r])
        eng.partial(folded, partial[r])
        for chunk in chunks[c:c + n]:
            eng.batch(folded, chunk)
        c += n

    run.extra.update({
        "part_pages": [len(st.pages) for st in steps],
        "rounds": len(scored),
        "batch_chunks": len(chunks),
        "query_bands": _band_shares(scored + partial
                                    + [q for c in chunks for q in c]),
        **sizes,
    })
    ingest_ms = sum(run.ms("registry.ingest"))
    merge_ms = sum(run.ms("merge.merge"))
    q = run.ms("wand.scored")
    return {
        "setup_s": (setup_s, "s"),
        "ingest_docs_per_s": (len(steps[1].pages) / (ingest_ms / 1000.0),
                              "docs/s"),
        "merge_docs_per_s": (folded.num_docs / (merge_ms / 1000.0), "docs/s"),
        "index_bytes_per_text_byte": (
            sizes["bytes_on_disk"] / sizes["text_bytes"], "B/B"),
        "query_p50_ms": (_median(q), "ms"),
        "partial_p50_ms": (_median(run.ms("wand.partial")), "ms"),
        "batch_qps": (run.extra["batch_queries"]
                      / (sum(run.ms("wand.batch")) / 1000.0), "1/s"),
    }, q


WORKLOADS = {"ingest_live": ingest_live, "serve": serve}
