"""Driver-contract query registry: Spark callables + DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 (plus the training-data
pipeline operators) is registered here twice:

  SPARK_QUERIES[name](spark, sf_dir) -> DataFrame
  ORACLE_SQL[name] -> ANSI/DuckDB SQL over the pre-registered parquet views
                      (documents, embeddings, ...)

The two sides are kept *column-name and value identical*: every computed
column is aliased the same, floats are rounded to 6 dp on both sides, and
counts are BIGINT on both sides. The DuckDB tokenizer expression is an
exact SQL transcription of search_suite_spark.functions.normalise (ASCII
path), golden-tested in tests/test_oracle_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_suite_spark.operators.build import build_index, tokenized
from search_suite_spark.operators.query import bm25_scored, score_expr, unscored
from search_suite_spark.operators import dedup as D
from search_suite_spark.operators import similarity as S
from search_suite_spark.operators import text_analysis as TA
from search_suite_spark.plans.structured import structured_query
from search_suite_spark.operators.build import InvertedIndex

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

def tok_sql(col: str) -> str:
    """DuckDB transcription of normalise() (ASCII path): runs of letters /
    digits; camelCase deagglutination incl. the whole-word-at-group-1 quirk
    (reference indexer-qp2/src/normalise.rs:35-42)."""
    return f"""
flatten(list_transform(
  regexp_extract_all({col}, '[A-Za-z]+|[0-9]+'),
  r -> CASE WHEN regexp_matches(r, '^[0-9]') THEN [r] ELSE
    flatten(list_transform(
      [string_split(regexp_replace(r, '([a-z])([A-Z])', '\\1 \\2', 'g'), ' ')],
      g -> CASE WHEN len(g) > 1
           THEN list_concat([lower(g[1]), lower(r)], list_transform(g[2:], x -> lower(x)))
           ELSE [lower(r)] END))
  END))
""".strip()


# pages + token/tf/doc_len/dict/stats CTEs over the documents view
DOC_CTE = f"""
pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
),
tok AS (
  SELECT url, unnest(list_concat({tok_sql('url')}, {tok_sql('text')})) AS term
  FROM pages
),
tf AS (
  SELECT url, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY url, term
),
dl AS (
  SELECT url, CAST(count(*) AS BIGINT) AS doc_len FROM tok GROUP BY url
),
dict AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS num_docs,
         CAST(sum(doc_len) AS BIGINT) AS total_doc_len,
         CAST(sum(doc_len) AS BIGINT) // CAST(count(*) AS BIGINT) AS avgdl
  FROM dl
)
""".strip()


def bm25_sql(terms: list[str], extra_where: str = "", limit: int | None = None) -> str:
    """Scored conjunctive BM25 query in SQL, scorer per ranking.rs:83-94."""
    tl = ", ".join(f"'{t}'" for t in terms)
    n = len(terms)
    limit_clause = ""
    if limit is not None:
        limit_clause = f"ORDER BY score DESC, url LIMIT {limit}"
    return f"""
WITH {DOC_CTE},
scored AS (
  SELECT t.url,
         sum( ln((stats.num_docs - dict.df + 0.5) / (dict.df + 0.5))
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.doc_len::DOUBLE / stats.avgdl::DOUBLE)))
            ) AS exact_score,
         CAST(count(*) AS BIGINT) AS term_count
  FROM tf t
  JOIN dict USING (term)
  JOIN dl USING (url)
  CROSS JOIN stats
  WHERE t.term IN ({tl})
  GROUP BY t.url
  HAVING count(*) = {n}
)
SELECT url, round(exact_score, 6) AS score, term_count
FROM scored {extra_where} {limit_clause}
""".strip()


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text"),
    )


_INDEX_CACHE: dict[tuple[str, str], InvertedIndex] = {}
_SEG_CACHE: dict[tuple[str, str], object] = {}


def _cache_key(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    # applicationId is unique per live SparkContext — id(spark) is not
    # (CPython reuses addresses after GC, so a new session could read a
    # dead session's cached DataFrames)
    return (spark.sparkContext.applicationId, sf_dir)


def _segment(spark: SparkSession, sf_dir: str):
    """Build (once per session+sf_dir) a packed on-disk segment for the
    WAND-path queries."""
    import tempfile

    from search_suite_spark.sources.segments import build_segment

    key = _cache_key(spark, sf_dir)
    if key not in _SEG_CACHE:
        d = tempfile.mkdtemp(prefix="entry_seg_")
        _SEG_CACHE[key] = build_segment(
            _pages(spark, sf_dir), d, n_shards=8, shards_per_batch=8,
            resume=False, dedupe=False,
        )
    return _SEG_CACHE[key]


def _index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """Build (once per session+sf_dir) the flat index; the driver calls
    ~25 queries() entries in one process — rebuilding the index per query
    would re-run the tokenizer 25x."""
    key = _cache_key(spark, sf_dir)
    if key not in _INDEX_CACHE:
        idx = build_index(_pages(spark, sf_dir), dedupe=False)
        # materialize the cached frames once so later queries reuse them
        idx.postings.count()
        idx.terms.count()
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def _bm25(spark, sf_dir, query, limit=None, exclude_mod7=False):
    idx = _index(spark, sf_dir)
    if exclude_mod7:
        deletes = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
            F.col("doc_id") % 7 == 0
        ).select(
            F.xxhash64(F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))).alias(
                "doc_id"
            )
        )
        idx = InvertedIndex(
            postings=idx.postings, docs=idx.docs, terms=idx.terms,
            num_docs=idx.num_docs, total_doc_len=idx.total_doc_len, deletes=deletes,
        )
    out = bm25_scored(idx, query, max_results=None)
    out = out.select(
        "url", F.round("score", 6).alias("score"), F.col("term_count").cast("long").alias("term_count")
    )
    if limit is not None:
        out = out.orderBy(F.col("score").desc(), F.col("url")).limit(limit)
    return out


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------

def q_tokenize_tf(spark, sf_dir):
    toks = tokenized(_pages(spark, sf_dir))
    return toks.select("url", F.explode("term_freqs").alias("p")).select(
        "url", F.col("p.term").alias("term"), F.col("p.tf").cast("long").alias("tf")
    )


def q_doc_table(spark, sf_dir):
    return tokenized(_pages(spark, sf_dir)).select(
        "url", F.col("doc_len").cast("long").alias("doc_len")
    )


def q_term_dict(spark, sf_dir):
    return _index(spark, sf_dir).terms.select("term", F.col("df").cast("long").alias("df"))


def q_index_stats(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return spark.createDataFrame(
        [(idx.num_docs, idx.total_doc_len, idx.avgdl)],
        "num_docs long, total_doc_len long, avgdl long",
    )


def q_bm25_single_term(spark, sf_dir):
    return _bm25(spark, sf_dir, "spark")


def q_bm25_multi_and(spark, sf_dir):
    return _bm25(spark, sf_dir, "merge join")


def q_bm25_topk(spark, sf_dir):
    return _bm25(spark, sf_dir, "the fast", limit=10)


def q_bm25_with_deletes(spark, sf_dir):
    return _bm25(spark, sf_dir, "spark", exclude_mod7=True)


def q_unscored_and(spark, sf_dir):
    return unscored(_index(spark, sf_dir), "merge join sort").select("url")


def q_unscored_regex(spark, sf_dir):
    return unscored(_index(spark, sf_dir), "^jo", mode="regex").select("url")


def q_structured_and_or(spark, sf_dir):
    q = "/\\ spark\n/\\ \\/ merge\n   \\/ join"
    return structured_query(_index(spark, sf_dir), q).select("url")


def q_structured_sub(spark, sf_dir):
    return structured_query(_index(spark, sf_dir), "-- spark\n-- window").select("url")


def q_dedupe_newest_wins(spark, sf_dir):
    from search_suite_spark.operators.build import dedupe_newest_wins

    p = _pages(spark, sf_dir)
    v1 = p.withColumn("warc_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    v2 = p.withColumn("warc_ts", F.to_timestamp(F.lit("2026-01-02 00:00:00"))).withColumn(
        "text", F.concat("text", F.lit(" v2"))
    )
    return dedupe_newest_wins(v1.unionByName(v2)).select("url", "text")


def q_verify_invariants(spark, sf_dir):
    idx = _index(spark, sf_dir)
    dup = (
        idx.postings.groupBy("term", "doc_id").count().filter(F.col("count") > 1).count()
    )
    nonpos = idx.terms.filter(F.col("df") <= 0).count()
    mismatch = (
        idx.postings.groupBy("doc_id")
        .agg(F.sum("tf").alias("s"), F.first("doc_len").alias("dl"))
        .filter(F.col("s") != F.col("dl"))
        .count()
    )
    return spark.createDataFrame(
        [(dup, nonpos, mismatch)],
        "dup_postings long, nonpos_df long, doclen_mismatch long",
    )


def q_dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_pages(spark, sf_dir)).select(
        "fingerprint", F.col("n_docs").cast("long").alias("n_docs"), "first_key"
    )


def q_dedup_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 40)
    p = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"), "text"
    )
    return D.jaccard_pairs(p, n=1, threshold=0.9)


def q_dedup_minhash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 60)
    p = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"), "text"
    )
    return D.minhash_candidates(p, n=1, bands=4)


def q_dedup_simhash16(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 100)
    p = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"), "text"
    )
    return D.simhash16(p)


def _query_vec(spark, sf_dir):
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def q_ann_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.cosine_topk(emb, _query_vec(spark, sf_dir), k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"), "cos"
    )


def q_ann_lsh_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.lsh_ann_topk(emb, _query_vec(spark, sf_dir), k=10, n_planes=8).select(
        F.col("vec_id").cast("long").alias("vec_id"), "cos"
    )


def q_emb_neardup(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 80)
    return D.embedding_neardup_pairs(emb, threshold=0.3).select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"), "cos"
    )


def q_lang_id(spark, sf_dir):
    return TA.lang_id(_pages(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return TA.quality_score(_pages(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    return TA.token_counts(_pages(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    return TA.doc_fingerprint(_pages(spark, sf_dir))


def q_decontaminate(spark, sf_dir):
    # deterministic stand-in benchmark: every 37th doc (a real pipeline
    # passes the eval corpus here); those docs flag as contaminated by
    # construction, plus any training doc sharing a 5-gram with one
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text"),
    )
    return TA.decontaminate(_pages(spark, sf_dir), bench, n=5)


def q_repetition_3gram(spark, sf_dir):
    return TA.repetition_ratio(_pages(spark, sf_dir), n=3)


def q_pii_scrub(spark, sf_dir):
    return TA.pii_scrub(_pages(spark, sf_dir))


def q_dataset_split(spark, sf_dir):
    return TA.dataset_split(_pages(spark, sf_dir))


def q_bm25_packed_topk(spark, sf_dir):
    from search_suite_spark.operators.wand import wand_scored

    out = wand_scored(_segment(spark, sf_dir), "the fast", max_results=10)
    return out.select(
        "url",
        F.round("score", 6).alias("score"),
        F.col("term_count").cast("long").alias("term_count"),
    )


BATCH_QUERIES = {"qa": ["the", "fast"], "qb": ["doc"], "qc": ["merge", "join"]}


def bm25_batch_sql(queries: dict[str, list[str]], limit: int = 10) -> str:
    """Batched scored queries: one shared corpus CTE, one ranked CTE per
    qid (same scorer/tie-break as bm25_sql), UNION ALL."""
    parts = []
    for qid, terms in queries.items():
        tl = ", ".join(f"'{t}'" for t in terms)
        n = len(terms)
        parts.append(f"""
r_{qid} AS (
  SELECT '{qid}' AS qid, url, round(exact_score, 6) AS score, term_count
  FROM (
    SELECT t.url,
           sum( ln((stats.num_docs - dict.df + 0.5) / (dict.df + 0.5))
                * (t.tf * 2.2)
                / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.doc_len::DOUBLE / stats.avgdl::DOUBLE)))
              ) AS exact_score,
           CAST(count(*) AS BIGINT) AS term_count
    FROM tf t JOIN dict USING (term) JOIN dl USING (url) CROSS JOIN stats
    WHERE t.term IN ({tl})
    GROUP BY t.url HAVING count(*) = {n}
  ) ORDER BY score DESC, url LIMIT {limit}
)""".strip())
    sel = " UNION ALL ".join(f"SELECT * FROM r_{q}" for q in queries)
    return f"WITH {DOC_CTE},\n" + ",\n".join(parts) + f"\n{sel}"


def q_bm25_batch(spark, sf_dir):
    """N scored queries in ONE Spark action (wand.bm25_batch): one scan
    pruned to the union of all queries' terms, one shard shuffle, one
    kernel pass with block decodes shared across queries."""
    from search_suite_spark.operators.wand import bm25_batch

    out = bm25_batch(
        _segment(spark, sf_dir),
        {qid: " ".join(ts) for qid, ts in BATCH_QUERIES.items()},
        max_results=10,
    )
    return out.select(
        "qid",
        "url",
        F.round("score", 6).alias("score"),
        F.col("term_count").cast("long").alias("term_count"),
    )


def q_bm25_packed_single(spark, sf_dir):
    """Single-term packed top-k — exercises the upper-bound-ordered
    block fast path (wand._single_term_topk): no full id decode of the
    term's posting list, lossless θ pruning, rank-identical to the SQL
    oracle's full scoring."""
    from search_suite_spark.operators.wand import wand_scored

    out = wand_scored(_segment(spark, sf_dir), "the", max_results=10)
    return out.select(
        "url",
        F.round("score", 6).alias("score"),
        F.col("term_count").cast("long").alias("term_count"),
    )


# SUB( AND(spark, OR(merge, ~^jo)), window ) — text + nested OR +
# regex + difference in one tree, the full grammar over the LSM path
STRUCTURED_PACKED_QUERY = (
    "-- /\\ spark\n   /\\ \\/ merge\n      \\/ ~ ^jo\n-- window"
)


def q_structured_packed(spark, sf_dir):
    """Structured boolean query over ONE packed segment (Q11 on the LSM
    path): per-shard ids-only decode kernel + membership-bit tree fold
    (plans/structured_packed.py — reference
    Query/StructuredProcessor.hs:44-71)."""
    from search_suite_spark.plans.structured_packed import (
        structured_query_packed,
    )

    return structured_query_packed(
        _segment(spark, sf_dir), STRUCTURED_PACKED_QUERY
    ).select("url")


def q_structured_collection(spark, sf_dir):
    """Structured boolean query across a multi-segment COLLECTION: each
    leaf evaluates against every segment (union), the tree folds on the
    collection-wide sets — the reference's
    POST /structured-query/:collection."""
    from search_suite_spark.plans.structured_packed import (
        structured_query_packed,
    )

    segs = _collection(spark, sf_dir)
    return structured_query_packed(segs, STRUCTURED_PACKED_QUERY).select(
        "url"
    )


def q_bm25_partial_packed(spark, sf_dir):
    """Packed-path partial match (min_should_match=2 of 3 terms):
    disjunctive candidate union + θ-pruned block-max scoring
    (wand.wand_partial) — value-identical to the flat bm25_partial."""
    from search_suite_spark.operators.wand import wand_partial

    out = wand_partial(
        _segment(spark, sf_dir), "spark merge window", min_should_match=2
    )
    return out.select(
        "url",
        F.round("score", 6).alias("score"),
        F.col("n_matched").cast("long").alias("n_matched"),
    )


def q_spelling_levenshtein(spark, sf_dir):
    from search_suite_spark.operators.spelling import spelling_suggestions

    idx = _index(spark, sf_dir)
    return spelling_suggestions(idx.terms, "spark merg", max_dist=1).select(
        "word", F.col("dist").cast("int").alias("dist"), "suggestion"
    )


def q_spelling_symspell(spark, sf_dir):
    """Q14 via the SymSpell deletion-neighborhood index: build the
    (variant, term) index over the same dictionary, probe it with the
    query words' deletion variants, verify with exact levenshtein. The
    oracle is IDENTICAL to spelling_levenshtein's — the indexed path
    must surface exactly the scan's suggestion set."""
    from search_suite_spark.operators.spelling import (
        spelling_suggestions_indexed,
        term_deletion_index,
    )

    idx = _index(spark, sf_dir)
    di = term_deletion_index(idx.terms, max_dist=1)
    return spelling_suggestions_indexed(di, "spark merg", max_dist=1).select(
        "word", F.col("dist").cast("int").alias("dist"), "suggestion"
    )


_HTML_TMPL = (
    '<html><head><title>Doc %s</title><meta name="lang" content="%s">'
    '<meta content="%s" name="source"></head><body>%s</body></html>'
)


def q_html_metadata(spark, sf_dir):
    from search_suite_spark.functions.html_meta import page_metadata

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.format_string(
            _HTML_TMPL, F.col("doc_id").cast("string"), "lang", "source", "text"
        ).alias("html_text"),
    )
    meta = page_metadata(pages)
    return meta.select(
        "url",
        "title",
        F.col("meta")["lang"].alias("meta_lang"),
        F.col("meta")["source"].alias("meta_source"),
    )


def _entry_fake_fetcher(url: str) -> bytes:
    """Deterministic no-network fetcher for the S3 oracle: body derived
    from the url; every 7th doc 404s (exercises the failure report
    path). Module-level so executors pickle it by reference."""
    doc = int(url.rsplit("/", 1)[-1])
    if doc % 7 == 0:
        raise OSError("HTTP 404")
    return f"synthetic body {doc} of {url}".encode()


def q_url_ingest(spark, sf_dir):
    """S3 url-list ingest (Indexation.hs:64-100): host-partitioned
    politeness + bounded-concurrency fetch + strict-decode reject, with
    a deterministic injected fetcher (the sandbox has no network — the
    DuckDB twin recomputes each fetched body from the url)."""
    from search_suite_spark.sources.acquire import ingest_url_list

    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .collect()
    ]
    urls = [f"http://h{i % 5}.example/{i}" for i in sorted(ids)]
    pages, report = ingest_url_list(
        spark, urls, fetcher=_entry_fake_fetcher
    )
    assert len(report["failure"]) == sum(1 for i in ids if i % 7 == 0)
    return pages.select("url", "text")


def q_metadata_merge(spark, sf_dir):
    """M11 metadata merge (Metadata.hs:142-233): two overlapping
    per-segment metadata tables union into one row per url, the A side
    winning EQ — meta['source'] records which side survived."""
    from search_suite_spark.functions.html_meta import (
        merge_metadata,
        page_metadata,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )

    def side(pred, tag):
        return page_metadata(
            docs.filter(pred).select(
                F.concat(
                    F.lit("doc://"), F.col("doc_id").cast("string")
                ).alias("url"),
                F.format_string(
                    _HTML_TMPL,
                    F.col("doc_id").cast("string"),
                    "lang",
                    F.lit(tag),
                    "text",
                ).alias("html_text"),
            )
        )

    a = side(F.col("doc_id") % 3 != 2, "A")
    b = side(F.col("doc_id") % 2 == 0, "B")
    return merge_metadata(a, b).select(
        "url", "title", F.col("meta")["source"].alias("meta_source")
    )


def _media_meta(spark, sf_dir):
    from search_suite_spark.operators.multimodal import (
        decode_media_meta,
        synthesize_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url")
    )
    return decode_media_meta(synthesize_media(docs))


def q_media_meta(spark, sf_dir):
    return _media_meta(spark, sf_dir).select(
        "url", "kind", "width", "height", "n_frames", "sample_rate",
        "n_samples", "n_bytes",
    )


def q_media_resize_plan(spark, sf_dir):
    from search_suite_spark.operators.multimodal import resize_plan

    return resize_plan(_media_meta(spark, sf_dir), max_side=256)


def q_media_frame_sample(spark, sf_dir):
    from search_suite_spark.operators.multimodal import frame_sample

    return frame_sample(_media_meta(spark, sf_dir), every_n=500).select(
        "url", F.col("frame_idx").cast("long").alias("frame_idx")
    )


def q_windowed_event_counts(spark, sf_dir):
    from search_suite_spark.streaming.ingest import windowed_event_counts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_event_counts(events)


def q_cached_page(spark, sf_dir):
    from search_suite_spark.operators.query import cached_page

    return cached_page(_pages(spark, sf_dir), "doc://7")


def q_doc_status(spark, sf_dir):
    from search_suite_spark.operators.query import doc_status_table

    idx = _index(spark, sf_dir)
    # delete doc://3, then probe a present, a deleted, and a missing url
    from search_suite_spark.operators.build import InvertedIndex

    deletes = idx.docs.filter(F.col("url") == "doc://3").select("doc_id")
    idx2 = InvertedIndex(
        postings=idx.postings, docs=idx.docs, terms=idx.terms,
        num_docs=idx.num_docs, total_doc_len=idx.total_doc_len, deletes=deletes,
    )
    return doc_status_table(idx2, ["doc://1", "doc://3", "doc://nope"])


def q_merge_then_query(spark, sf_dir):
    """M1-M9 oracle check: build two disjoint half-corpus segments, merge
    them (unpack → union → repack shuffle), query the merged segment —
    the DuckDB twin is plain BM25 over the FULL corpus, because
    merge-equals-direct-build is exactly the reference's merge contract
    (indexer-qp2/test/system_tests.rs:155-198)."""
    import tempfile

    from search_suite_spark.operators.merge import merge_segments
    from search_suite_spark.operators.wand import wand_scored
    from search_suite_spark.sources.segments import build_segment, read_segment

    p = _pages(spark, sf_dir)
    d_a = tempfile.mkdtemp(prefix="entry_mrg_a_")
    d_b = tempfile.mkdtemp(prefix="entry_mrg_b_")
    d_m = tempfile.mkdtemp(prefix="entry_mrg_m_")
    seg_a = build_segment(
        p.filter(F.xxhash64("url") % 2 == 0), d_a, n_shards=4,
        shards_per_batch=4, resume=False, dedupe=False,
    )
    seg_b = build_segment(
        p.filter(F.xxhash64("url") % 2 != 0), d_b, n_shards=4,
        shards_per_batch=4, resume=False, dedupe=False,
    )
    merge_segments(spark, seg_a, seg_b, d_m, n_shards=4)
    merged = read_segment(spark, d_m)
    out = wand_scored(merged, "merge join", max_results=10)
    return out.select(
        "url",
        F.round("score", 6).alias("score"),
        F.col("term_count").cast("long").alias("term_count"),
    )


def q_query_with_metadata(spark, sf_dir):
    """Q13: BM25 results joined with scraped page metadata at query time
    (QueryProcessor.hs:93-99)."""
    from search_suite_spark.functions.html_meta import attach_metadata, page_metadata

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html_pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.format_string(
            _HTML_TMPL, F.col("doc_id").cast("string"), "lang", "source", "text"
        ).alias("html_text"),
    )
    meta = page_metadata(html_pages)
    results = _bm25(spark, sf_dir, "spark")
    return attach_metadata(results, meta).select(
        "url", "score", "title", F.col("meta")["source"].alias("meta_source")
    )


def q_bm25_partial_match(spark, sf_dir):
    """Scored partial-match (min_should_match=2 of 3 terms) — the
    reference's own TODO at query.rs:192-193."""
    from search_suite_spark.operators.query import bm25_partial

    out = bm25_partial(_index(spark, sf_dir), "spark merge window",
                       min_should_match=2)
    return out.select("url", F.round("score", 6).alias("score"), "n_matched")


def q_dedup_lsh_jaccard(spark, sf_dir):
    """Composed scale path: MinHash/LSH proposes candidate pairs, exact
    n-gram Jaccard verifies only those pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 60
    )
    p = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    cands = D.minhash_candidates(p, n=1, bands=4)
    return D.jaccard_pairs(p, n=1, threshold=0.5, candidates=cands)


def q_dedup_clusters(spark, sf_dir):
    """Full near-dup pipeline verdict: LSH proposes pairs, Jaccard
    verifies, connected components group, canonical selection keeps the
    min-url doc per cluster (dedup.connected_components — min-label
    propagation with an exact convergence check; the DuckDB twin is a
    recursive reachability CTE)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 60
    )
    p = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    cands = D.minhash_candidates(p, n=1, bands=4)
    pairs = D.jaccard_pairs(p, n=1, threshold=0.5, candidates=cands)
    return D.dedup_keep_canonical(p, pairs)


def q_ann_lsh_multiprobe(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.lsh_ann_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_planes=8, multiprobe=1
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cos")


def _collection(spark, sf_dir):
    """Build (once per session+sf_dir) a two-segment collection split by
    doc_id parity — the split is expressed on the source doc_id column so
    the DuckDB oracle can reproduce segment membership exactly (xxhash64
    has no DuckDB twin)."""
    import tempfile

    from search_suite_spark.sources.registry import (
        index_into_collection,
        load_collection,
    )

    key = _cache_key(spark, sf_dir)
    if key not in _COLLECTION_CACHE:
        col = tempfile.mkdtemp(prefix="entry_col_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for parity in (0, 1):
            half = docs.filter(F.col("doc_id") % 2 == parity).select(
                F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias(
                    "url"
                ),
                F.col("text"),
            )
            index_into_collection(spark, half, col, n_shards=4, compact=False)
        _COLLECTION_CACHE[key] = load_collection(spark, col)
    return _COLLECTION_CACHE[key]


_COLLECTION_CACHE: dict[tuple[str, str], dict] = {}


def q_collection_scatter_gather(spark, sf_dir):
    """Multi-segment scatter/gather (Q12): per-segment top-k with
    segment-local stats (N, avgdl, df), union, url-dedupe keeping max
    score, global re-sort — the DuckDB twin computes per-half stats in
    CTEs keyed on doc_id parity."""
    from search_suite_spark.sources.registry import query_collection

    segs = _collection(spark, sf_dir)
    return query_collection(segs, "spark merge", max_results=10).select(
        "url", F.round("score", 6).alias("score")
    )


COLLECTION_BATCH_QUERIES = {
    "qx": ["spark", "merge"],
    "qy": ["the"],
    "qz": ["merge", "join"],
}


def q_collection_batch(spark, sf_dir):
    """M scored queries x N segments in one result job, dictionaries
    probed on the driver (registry.query_collection_batch) — each qid's rows
    identical to query_collection on that query alone."""
    from search_suite_spark.sources.registry import query_collection_batch

    segs = _collection(spark, sf_dir)
    out = query_collection_batch(
        segs,
        {qid: " ".join(ts) for qid, ts in COLLECTION_BATCH_QUERIES.items()},
        max_results=10,
    )
    return out.select("qid", "url", F.round("score", 6).alias("score"))


def q_collection_partial(spark, sf_dir):
    """Partial match over a COLLECTION (min_should_match=2 of 3 terms):
    per-segment wand_partial top-k with segment-local stats, url-dedupe
    keeping the best-scoring row, global re-sort — completes the
    flat/packed/collection symmetry for the disjunctive scored mode."""
    from search_suite_spark.sources.registry import query_collection_partial

    segs = _collection(spark, sf_dir)
    out = query_collection_partial(
        segs, "spark merge window", min_should_match=2, max_results=10
    )
    return out.select(
        "url",
        F.round("score", 6).alias("score"),
        F.col("n_matched").cast("long").alias("n_matched"),
    )


def q_spelling_collection(spark, sf_dir):
    """Q14 multi-segment: per-segment dictionary scans merged as the
    reference's word→dist→set monoid (set union of suggestion rows)."""
    from search_suite_spark.operators.spelling import spelling_collection

    segs = _collection(spark, sf_dir)
    return spelling_collection(segs, "spark merg", max_dist=1).select(
        "word", F.col("dist").cast("int").alias("dist"), "suggestion"
    )


SPARK_QUERIES = {
    "tokenize_tf": q_tokenize_tf,
    "doc_table": q_doc_table,
    "term_dict": q_term_dict,
    "index_stats": q_index_stats,
    "bm25_single_term": q_bm25_single_term,
    "bm25_multi_and": q_bm25_multi_and,
    "bm25_topk": q_bm25_topk,
    "bm25_with_deletes": q_bm25_with_deletes,
    "unscored_and": q_unscored_and,
    "unscored_regex": q_unscored_regex,
    "structured_and_or": q_structured_and_or,
    "structured_sub": q_structured_sub,
    "dedupe_newest_wins": q_dedupe_newest_wins,
    "verify_invariants": q_verify_invariants,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash16": q_dedup_simhash16,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "emb_neardup": q_emb_neardup,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "decontaminate": q_decontaminate,
    "repetition_3gram": q_repetition_3gram,
    "pii_scrub": q_pii_scrub,
    "dataset_split": q_dataset_split,
    "bm25_packed_topk": q_bm25_packed_topk,
    "bm25_packed_single": q_bm25_packed_single,
    "bm25_batch": q_bm25_batch,
    "spelling_levenshtein": q_spelling_levenshtein,
    "spelling_symspell": q_spelling_symspell,
    "html_metadata": q_html_metadata,
    "url_ingest": q_url_ingest,
    "metadata_merge": q_metadata_merge,
    "media_meta": q_media_meta,
    "media_resize_plan": q_media_resize_plan,
    "media_frame_sample": q_media_frame_sample,
    "windowed_event_counts": q_windowed_event_counts,
    "cached_page": q_cached_page,
    "doc_status": q_doc_status,
    "collection_scatter_gather": q_collection_scatter_gather,
    "collection_batch": q_collection_batch,
    "collection_partial": q_collection_partial,
    "merge_then_query": q_merge_then_query,
    "query_with_metadata": q_query_with_metadata,
    "bm25_partial_match": q_bm25_partial_match,
    "dedup_lsh_jaccard": q_dedup_lsh_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
    "spelling_collection": q_spelling_collection,
    "structured_packed": q_structured_packed,
    "structured_collection": q_structured_collection,
    "bm25_partial_packed": q_bm25_partial_packed,
}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

# per-half (doc_id parity) twin of DOC_CTE — segment-local stats for the
# collection scatter/gather and collection spelling oracles
_HALF_CTE = f"""
pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text,
         doc_id % 2 AS half
  FROM documents
),
tok AS (
  SELECT url, half, unnest(list_concat({tok_sql('url')}, {tok_sql('text')})) AS term
  FROM pages
),
tf AS (
  SELECT url, half, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY url, half, term
),
dl AS (
  SELECT url, half, CAST(count(*) AS BIGINT) AS doc_len
  FROM tok GROUP BY url, half
),
dict AS (
  SELECT half, term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY half, term
),
stats AS (
  SELECT half, CAST(count(*) AS BIGINT) AS num_docs,
         CAST(sum(doc_len) AS BIGINT) // CAST(count(*) AS BIGINT) AS avgdl
  FROM dl GROUP BY half
)
""".strip()


def _scatter_gather_sql(terms: list[str], k: int = 10) -> str:
    """Per-segment BM25 top-k with segment-local (N, avgdl, df), merged
    by url keeping the max score, re-sorted globally — the SQL twin of
    registry.query_collection over the doc_id-parity collection."""
    tl = ", ".join(f"'{t}'" for t in terms)
    n = len(terms)
    return f"""
WITH {_HALF_CTE},
scored AS (
  SELECT t.half, t.url,
         sum( ln((s.num_docs - d.df + 0.5) / (d.df + 0.5))
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.doc_len::DOUBLE / s.avgdl::DOUBLE)))
            ) AS exact_score
  FROM tf t
  JOIN dict d ON d.half = t.half AND d.term = t.term
  JOIN dl ON dl.half = t.half AND dl.url = t.url
  JOIN stats s ON s.half = t.half
  WHERE t.term IN ({tl})
  GROUP BY t.half, t.url
  HAVING count(*) = {n}
),
per_seg AS (
  SELECT half, url, exact_score,
         row_number() OVER (PARTITION BY half ORDER BY exact_score DESC, url) AS rn
  FROM scored
),
merged AS (
  SELECT url, max(exact_score) AS exact_score
  FROM per_seg WHERE rn <= {k} GROUP BY url
)
SELECT url, round(exact_score, 6) AS score
FROM merged ORDER BY exact_score DESC, url LIMIT {k}
""".strip()


def _scatter_gather_batch_sql(
    queries: dict[str, list[str]], k: int = 10
) -> str:
    """Batched twin of _scatter_gather_sql: one shared per-half corpus
    CTE, one scored→per-seg-top-k→url-merged chain per qid, UNION ALL —
    mirrors registry.query_collection_batch."""
    parts = []
    for qid, terms in queries.items():
        tl = ", ".join(f"'{t}'" for t in terms)
        n = len(terms)
        parts.append(f"""
scored_{qid} AS (
  SELECT t.half, t.url,
         sum( ln((s.num_docs - d.df + 0.5) / (d.df + 0.5))
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.doc_len::DOUBLE / s.avgdl::DOUBLE)))
            ) AS exact_score
  FROM tf t
  JOIN dict d ON d.half = t.half AND d.term = t.term
  JOIN dl ON dl.half = t.half AND dl.url = t.url
  JOIN stats s ON s.half = t.half
  WHERE t.term IN ({tl})
  GROUP BY t.half, t.url
  HAVING count(*) = {n}
),
r_{qid} AS (
  SELECT '{qid}' AS qid, url, round(exact_score, 6) AS score
  FROM (
    SELECT url, max(exact_score) AS exact_score
    FROM (
      SELECT half, url, exact_score,
             row_number() OVER (PARTITION BY half ORDER BY exact_score DESC, url) AS rn
      FROM scored_{qid}
    ) WHERE rn <= {k} GROUP BY url
  ) ORDER BY exact_score DESC, url LIMIT {k}
)""".strip())
    sel = " UNION ALL ".join(f"SELECT * FROM r_{q}" for q in queries)
    return f"WITH {_HALF_CTE},\n" + ",\n".join(parts) + f"\n{sel}"


def _scatter_gather_partial_sql(
    terms: list[str], min_match: int, k: int = 10
) -> str:
    """Disjunctive twin of _scatter_gather_sql: per-segment partial
    scoring (HAVING count >= min_match, score sums matched terms only),
    per-segment top-k, url-merge keeping the best-scoring row (its
    n_matched travels with it; n_matched DESC breaks exact score ties),
    global re-sort — the SQL twin of registry.query_collection_partial
    over the doc_id-parity collection."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {_HALF_CTE},
scored AS (
  SELECT t.half, t.url,
         sum( ln((s.num_docs - d.df + 0.5) / (d.df + 0.5))
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.doc_len::DOUBLE / s.avgdl::DOUBLE)))
            ) AS exact_score,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM tf t
  JOIN dict d ON d.half = t.half AND d.term = t.term
  JOIN dl ON dl.half = t.half AND dl.url = t.url
  JOIN stats s ON s.half = t.half
  WHERE t.term IN ({tl})
  GROUP BY t.half, t.url
  HAVING count(*) >= {min_match}
),
per_seg AS (
  SELECT half, url, exact_score, n_matched,
         row_number() OVER (PARTITION BY half ORDER BY exact_score DESC, url) AS rn
  FROM scored
),
merged AS (
  SELECT url, exact_score, n_matched,
         row_number() OVER (PARTITION BY url ORDER BY exact_score DESC, n_matched DESC) AS mr
  FROM per_seg WHERE rn <= {k}
)
SELECT url, round(exact_score, 6) AS score, n_matched
FROM merged WHERE mr = 1 ORDER BY exact_score DESC, url LIMIT {k}
""".strip()


def _jaccard_sql(max_doc_id: int, threshold: float) -> str:
    return f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents WHERE doc_id < {max_doc_id}
),
sh AS (
  SELECT DISTINCT url, unnest({tok_sql('text')}) AS shingle FROM pages
),
sz AS (SELECT url, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY url),
inter AS (
  SELECT x.url AS a, y.url AS b, CAST(count(*) AS BIGINT) AS ni
  FROM sh x JOIN sh y USING (shingle)
  WHERE x.url < y.url
  GROUP BY x.url, y.url
)
SELECT a, b, round(ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sz sa ON sa.url = a
JOIN sz sb ON sb.url = b
WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= {threshold}
""".strip()


def _minhash_sql(max_doc_id: int, bands: int) -> str:
    return f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents WHERE doc_id < {max_doc_id}
),
sh AS (
  SELECT DISTINCT url, unnest({tok_sql('text')}) AS shingle FROM pages
),
sig AS (
  SELECT url, b.band, min(md5(CAST(b.band AS VARCHAR) || '|' || shingle)) AS sig
  FROM sh, (SELECT unnest(range({bands})) AS band) b
  GROUP BY url, b.band
)
SELECT DISTINCT x.url AS a, y.url AS b
FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
WHERE x.url < y.url
""".strip()


def _simhash16_sql(max_doc_id: int) -> str:
    votes = ", ".join(
        "sum(CASE WHEN substr(md5(term), {j}, 1) IN ('8','9','a','b','c','d','e','f') "
        "THEN tf ELSE -tf END) AS v{j}".format(j=j)
        for j in range(1, 17)
    )
    bits = " || ".join(f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(1, 17))
    return f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents WHERE doc_id < {max_doc_id}
),
tok AS (
  SELECT url, unnest(list_concat({tok_sql('url')}, {tok_sql('text')})) AS term FROM pages
),
tf AS (SELECT url, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY url, term),
v AS (SELECT url, {votes} FROM tf GROUP BY url)
SELECT url, {bits} AS simhash FROM v
""".strip()


def _cosine_topk_sql() -> str:
    return """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
p AS (
  SELECT e.vec_id,
         sum(e.embedding[t.i]::DOUBLE * q.qe[t.i]::DOUBLE) AS dot,
         sqrt(sum(e.embedding[t.i]::DOUBLE * e.embedding[t.i]::DOUBLE)) AS ne,
         sqrt(sum(q.qe[t.i]::DOUBLE * q.qe[t.i]::DOUBLE)) AS nq
  FROM embeddings e, q, UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, round(dot / (ne * nq), 6) AS cos
FROM p ORDER BY cos DESC, vec_id LIMIT 10
""".strip()


def _lsh_topk_sql(max_hamming: int = 0, n_planes: int = 8) -> str:
    import search_suite_spark.operators.similarity as sim

    dim = 64
    planes = [sim.hyperplane(p, dim) for p in range(n_planes)]
    plane_rows = ", ".join(
        f"({p}, [{', '.join(str(x) for x in vec)}]::DOUBLE[])" for p, vec in enumerate(planes)
    )
    if max_hamming == 0:
        cand_pred = "b.bucket = qb.bucket"
    else:
        cand_pred = (
            f"len(list_filter(range(1, {n_planes + 1}), "
            "i -> substr(b.bucket, CAST(i AS INT), 1) <> "
            f"substr(qb.bucket, CAST(i AS INT), 1))) <= {max_hamming}"
        )
    return f"""
WITH planes(p, vec) AS (VALUES {plane_rows}),
sig AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN sum(e.embedding[t.i]::DOUBLE * pl.vec[t.i]) > 0 THEN '1' ELSE '0' END AS bit
  FROM embeddings e, planes pl, UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id, pl.p
),
buck AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM sig GROUP BY vec_id),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
cands AS (SELECT b.vec_id FROM buck b, qb WHERE {cand_pred}),
p2 AS (
  SELECT e.vec_id,
         sum(e.embedding[t.i]::DOUBLE * q.qe[t.i]::DOUBLE) AS dot,
         sqrt(sum(e.embedding[t.i]::DOUBLE * e.embedding[t.i]::DOUBLE)) AS ne,
         sqrt(sum(q.qe[t.i]::DOUBLE * q.qe[t.i]::DOUBLE)) AS nq
  FROM embeddings e JOIN cands USING (vec_id), q,
       UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, round(dot / (ne * nq), 6) AS cos
FROM p2 ORDER BY cos DESC, vec_id LIMIT 10
""".strip()


_LANG_CASE_SCORES = ", ".join(
    "len(list_filter(toks, t -> t IN ({m}))) AS s_{lang}".format(
        lang=lang, m=", ".join(f"'{w}'" for w in TA.LANG_MARKERS[lang])
    )
    for lang in sorted(TA.LANG_MARKERS)
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(TA.LANG_MARKERS)) + ")"
_LANG_PRED = (
    "CASE WHEN " + _LANG_BEST + " <= 0 THEN 'unk' "
    + " ".join(
        f"WHEN s_{lang} = {_LANG_BEST} THEN '{lang}'" for lang in sorted(TA.LANG_MARKERS)
    )
    + " END"
)

_STOP_LIST = ", ".join(f"'{w}'" for w in TA.STOPWORDS)

ORACLE_SQL = {
    "tokenize_tf": f"WITH {DOC_CTE} SELECT url, term, tf FROM tf",
    "doc_table": f"WITH {DOC_CTE} SELECT url, doc_len FROM dl",
    "term_dict": f"WITH {DOC_CTE} SELECT term, df FROM dict",
    "index_stats": f"WITH {DOC_CTE} SELECT num_docs, total_doc_len, avgdl FROM stats",
    "bm25_single_term": bm25_sql(["spark"]),
    "bm25_multi_and": bm25_sql(["merge", "join"]),
    "bm25_topk": bm25_sql(["the", "fast"], limit=10),
    "bm25_with_deletes": bm25_sql(
        ["spark"],
        extra_where=(
            "WHERE url NOT IN (SELECT 'doc://' || CAST(doc_id AS VARCHAR) "
            "FROM documents WHERE doc_id % 7 = 0)"
        ),
    ),
    "unscored_and": f"""
WITH {DOC_CTE}
SELECT url FROM tf WHERE term = 'merge'
INTERSECT SELECT url FROM tf WHERE term = 'join'
INTERSECT SELECT url FROM tf WHERE term = 'sort'
""".strip(),
    "unscored_regex": f"""
WITH {DOC_CTE}
SELECT DISTINCT url FROM tf WHERE regexp_matches(term, '^jo')
""".strip(),
    "structured_and_or": f"""
WITH {DOC_CTE}
SELECT url FROM tf WHERE term = 'spark'
INTERSECT
(SELECT url FROM tf WHERE term = 'merge' UNION SELECT url FROM tf WHERE term = 'join')
""".strip(),
    "structured_sub": f"""
WITH {DOC_CTE}
SELECT url FROM tf WHERE term = 'spark'
EXCEPT SELECT url FROM tf WHERE term = 'window'
""".strip(),
    # SUB( AND(spark, OR(merge, ~^jo)), window ). Every doc lives in
    # exactly one segment of the parity collection, so the reference's
    # per-segment-leaf-then-union semantics reduce to the flat sets —
    # one SQL twin serves both the packed-segment and collection entries.
    "structured_packed": f"""
WITH {DOC_CTE}
(SELECT url FROM tf WHERE term = 'spark'
 INTERSECT
 (SELECT url FROM tf WHERE term = 'merge'
  UNION SELECT DISTINCT url FROM tf WHERE regexp_matches(term, '^jo')))
EXCEPT SELECT url FROM tf WHERE term = 'window'
""".strip(),
    "structured_collection": f"""
WITH {DOC_CTE}
(SELECT url FROM tf WHERE term = 'spark'
 INTERSECT
 (SELECT url FROM tf WHERE term = 'merge'
  UNION SELECT DISTINCT url FROM tf WHERE regexp_matches(term, '^jo')))
EXCEPT SELECT url FROM tf WHERE term = 'window'
""".strip(),
    "dedupe_newest_wins": """
WITH v1 AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text,
         TIMESTAMP '2026-01-01 00:00:00' AS warc_ts FROM documents
),
v2 AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text || ' v2' AS text,
         TIMESTAMP '2026-01-02 00:00:00' AS warc_ts FROM documents
),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
r AS (SELECT url, text, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn FROM u)
SELECT url, text FROM r WHERE rn = 1
""".strip(),
    "verify_invariants": f"""
WITH {DOC_CTE},
dup AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM (
    SELECT url, term FROM tf GROUP BY url, term HAVING count(*) > 1
  )
),
nonpos AS (SELECT CAST(count(*) AS BIGINT) AS c FROM dict WHERE df <= 0),
mism AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM (
    SELECT t.url FROM tf t JOIN dl USING (url)
    GROUP BY t.url, dl.doc_len HAVING sum(t.tf) <> dl.doc_len
  )
)
SELECT dup.c AS dup_postings, nonpos.c AS nonpos_df, mism.c AS doclen_mismatch
FROM dup, nonpos, mism
""".strip(),
    "dedup_exact": """
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
)
SELECT md5(text) AS fingerprint, CAST(count(*) AS BIGINT) AS n_docs, min(url) AS first_key
FROM pages GROUP BY md5(text)
""".strip(),
    "bm25_packed_topk": bm25_sql(["the", "fast"], limit=10),
    "bm25_packed_single": bm25_sql(["the"], limit=10),
    "bm25_batch": bm25_batch_sql(BATCH_QUERIES, limit=10),
    "spelling_levenshtein": f"""
WITH {DOC_CTE},
words(word) AS (VALUES ('spark'), ('merg'))
SELECT word, CAST(levenshtein(term, word) AS INT) AS dist, term AS suggestion
FROM dict, words
WHERE abs(length(term) - length(word)) <= 1 AND levenshtein(term, word) <= 1
""".strip(),
    # same oracle on purpose: the SymSpell index must find EXACTLY the
    # suggestion set the levenshtein scan finds
    "spelling_symspell": f"""
WITH {DOC_CTE},
words(word) AS (VALUES ('spark'), ('merg'))
SELECT word, CAST(levenshtein(term, word) AS INT) AS dist, term AS suggestion
FROM dict, words
WHERE abs(length(term) - length(word)) <= 1 AND levenshtein(term, word) <= 1
""".strip(),
    "url_ingest": """
SELECT 'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.example/'
         || CAST(doc_id AS VARCHAR) AS url,
       'synthetic body ' || CAST(doc_id AS VARCHAR) || ' of http://h'
         || CAST(doc_id % 5 AS VARCHAR) || '.example/'
         || CAST(doc_id AS VARCHAR) AS text
FROM documents
WHERE doc_id < 120 AND doc_id % 7 <> 0
""".strip(),
    "metadata_merge": """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       CASE WHEN doc_id % 3 <> 2 THEN 'A' ELSE 'B' END AS meta_source
FROM d
WHERE doc_id % 3 <> 2 OR doc_id % 2 = 0
""".strip(),
    "html_metadata": """
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><meta name="lang" content="' || lang
         || '"><meta content="' || source
         || '" name="source"></head><body>' || text || '</body></html>' AS h
  FROM documents
)
SELECT url,
       trim(regexp_extract(h, '<title[^>]*>(.*?)</title>', 1)) AS title,
       regexp_extract(h, '<meta name="lang" content="([^"]*)"', 1) AS meta_lang,
       regexp_extract(h, '<meta content="([^"]*)" name="source"', 1) AS meta_source
FROM pages
""".strip(),
    "media_meta": """
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url FROM documents
),
h AS (
  SELECT url, CAST(CAST('0x' || substr(md5(url), 1, 8) AS UBIGINT) AS BIGINT) AS hv
  FROM pages
)
SELECT url,
  CASE hv % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE hv % 3 WHEN 0 THEN (hv % 1920) + 1 WHEN 2 THEN (hv % 1280) + 1 END AS INT) AS width,
  CAST(CASE hv % 3 WHEN 0 THEN (hv % 1080) + 1 WHEN 2 THEN (hv % 720) + 1 END AS INT) AS height,
  CAST(CASE hv % 3 WHEN 2 THEN (hv % 9000) + 1 END AS INT) AS n_frames,
  CAST(CASE hv % 3 WHEN 1 THEN 16000 + (hv % 32000) END AS INT) AS sample_rate,
  CAST(CASE hv % 3 WHEN 1 THEN (hv % 99999999) + 1 END AS INT) AS n_samples,
  CAST(CASE hv % 3 WHEN 0 THEN 46 ELSE 51 END AS BIGINT) AS n_bytes
FROM h
""".strip(),
    "media_resize_plan": """
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url FROM documents
),
h AS (
  SELECT url, CAST(CAST('0x' || substr(md5(url), 1, 8) AS UBIGINT) AS BIGINT) AS hv
  FROM pages
),
m AS (
  SELECT url,
    CASE hv % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    CASE hv % 3 WHEN 0 THEN (hv % 1920) + 1 WHEN 2 THEN (hv % 1280) + 1 END AS width,
    CASE hv % 3 WHEN 0 THEN (hv % 1080) + 1 WHEN 2 THEN (hv % 720) + 1 END AS height
  FROM h
),
s AS (
  SELECT url, kind, width, height,
         least(256.0 / greatest(width, height), 1.0) AS eff
  FROM m WHERE kind IN ('image', 'video')
)
SELECT url, kind, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(greatest(round(width * eff), 1) AS INT) AS out_w,
       CAST(greatest(round(height * eff), 1) AS INT) AS out_h
FROM s
""".strip(),
    "media_frame_sample": """
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url FROM documents
),
h AS (
  SELECT url, CAST(CAST('0x' || substr(md5(url), 1, 8) AS UBIGINT) AS BIGINT) AS hv
  FROM pages
),
v AS (SELECT url, (hv % 9000) + 1 AS n_frames FROM h WHERE hv % 3 = 2)
SELECT url, CAST(unnest(range(0, n_frames, 500)) AS BIGINT) AS frame_idx FROM v
""".strip(),
    "windowed_event_counts": """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
""".strip(),
    "cached_page": """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text
FROM documents WHERE doc_id = 7
""".strip(),
    "doc_status": """
WITH want(url) AS (VALUES ('doc://1'), ('doc://3'), ('doc://nope')),
docs AS (SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url FROM documents)
SELECT want.url,
       CASE WHEN docs.url IS NULL THEN 'MISSING'
            WHEN want.url = 'doc://3' THEN 'DELETED'
            ELSE 'PRESENT' END AS status
FROM want LEFT JOIN docs ON want.url = docs.url
""".strip(),
    "dedup_jaccard": _jaccard_sql(40, 0.9),
    "dedup_minhash": _minhash_sql(60, 4),
    "dedup_simhash16": _simhash16_sql(100),
    "ann_cosine_topk": _cosine_topk_sql(),
    "ann_lsh_topk": _lsh_topk_sql(),
    "ann_lsh_multiprobe": _lsh_topk_sql(max_hamming=1),
    "collection_scatter_gather": _scatter_gather_sql(["spark", "merge"]),
    "collection_batch": _scatter_gather_batch_sql(COLLECTION_BATCH_QUERIES),
    "collection_partial": _scatter_gather_partial_sql(
        ["spark", "merge", "window"], min_match=2
    ),
    "spelling_collection": f"""
WITH {_HALF_CTE},
words(word) AS (VALUES ('spark'), ('merg'))
SELECT DISTINCT word, CAST(levenshtein(term, word) AS INT) AS dist,
       term AS suggestion
FROM dict, words
WHERE abs(length(term) - length(word)) <= 1 AND levenshtein(term, word) <= 1
""".strip(),
    "merge_then_query": bm25_sql(["merge", "join"], limit=10),
    "query_with_metadata": f"""
WITH meta AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
         'Doc ' || CAST(doc_id AS VARCHAR) AS title,
         source AS meta_source
  FROM documents
)
SELECT r.url, r.score, m.title, m.meta_source
FROM ({bm25_sql(["spark"])}) r
LEFT JOIN meta m ON r.url = m.url
""".strip(),
    "bm25_partial_match": f"""
WITH {DOC_CTE},
scored AS (
  SELECT t.url,
         sum( ln((stats.num_docs - dict.df + 0.5) / (dict.df + 0.5))
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.doc_len::DOUBLE / stats.avgdl::DOUBLE)))
            ) AS exact_score,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM tf t
  JOIN dict USING (term)
  JOIN dl USING (url)
  CROSS JOIN stats
  WHERE t.term IN ('spark', 'merge', 'window')
  GROUP BY t.url
  HAVING count(*) >= 2
)
SELECT url, round(exact_score, 6) AS score, n_matched FROM scored
""".strip(),
    # the packed path computes the SAME result (flat vs packed is a
    # storage choice, not a semantics one) — one SQL twin for both
    "bm25_partial_packed": f"""
WITH {DOC_CTE},
scored AS (
  SELECT t.url,
         sum( ln((stats.num_docs - dict.df + 0.5) / (dict.df + 0.5))
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.doc_len::DOUBLE / stats.avgdl::DOUBLE)))
            ) AS exact_score,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM tf t
  JOIN dict USING (term)
  JOIN dl USING (url)
  CROSS JOIN stats
  WHERE t.term IN ('spark', 'merge', 'window')
  GROUP BY t.url
  HAVING count(*) >= 2
)
SELECT url, round(exact_score, 6) AS score, n_matched FROM scored
""".strip(),
    "dedup_lsh_jaccard": f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents WHERE doc_id < 60
),
sh AS (
  SELECT DISTINCT url, unnest({tok_sql('text')}) AS shingle FROM pages
),
sig AS (
  SELECT url, b.band, min(md5(CAST(b.band AS VARCHAR) || '|' || shingle)) AS sig
  FROM sh, (SELECT unnest(range(4)) AS band) b
  GROUP BY url, b.band
),
cand AS (
  SELECT DISTINCT x.url AS a, y.url AS b
  FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
  WHERE x.url < y.url
),
sz AS (SELECT url, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY url),
inter AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS ni
  FROM cand c
  JOIN sh x ON x.url = c.a
  JOIN sh y ON y.url = c.b AND y.shingle = x.shingle
  GROUP BY c.a, c.b
)
SELECT a, b, round(ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sz sa ON sa.url = a
JOIN sz sb ON sb.url = b
WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= 0.5
""".strip(),
    "dedup_clusters": f"""
WITH RECURSIVE pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents WHERE doc_id < 60
),
sh AS (
  SELECT DISTINCT url, unnest({tok_sql('text')}) AS shingle FROM pages
),
sig AS (
  SELECT url, b.band, min(md5(CAST(b.band AS VARCHAR) || '|' || shingle)) AS sig
  FROM sh, (SELECT unnest(range(4)) AS band) b
  GROUP BY url, b.band
),
cand AS (
  SELECT DISTINCT x.url AS a, y.url AS b
  FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
  WHERE x.url < y.url
),
sz AS (SELECT url, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY url),
inter AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS ni
  FROM cand c
  JOIN sh x ON x.url = c.a
  JOIN sh y ON y.url = c.b AND y.shingle = x.shingle
  GROUP BY c.a, c.b
),
pairs AS (
  SELECT a, b FROM inter
  JOIN sz sa ON sa.url = a
  JOIN sz sb ON sb.url = b
  WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= 0.5
),
sym AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach(u, label) AS (
  SELECT DISTINCT u, u FROM sym
  UNION
  SELECT s.u, r.label FROM sym s JOIN reach r ON r.u = s.v
),
cc AS (SELECT u AS url, min(label) AS cluster FROM reach GROUP BY u)
SELECT p.url,
       coalesce(cc.cluster, p.url) AS cluster,
       CAST(p.url = coalesce(cc.cluster, p.url) AS BIGINT) AS keep
FROM pages p LEFT JOIN cc ON cc.url = p.url
""".strip(),
    "emb_neardup": """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 80),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         sum(a.embedding[t.i]::DOUBLE * b.embedding[t.i]::DOUBLE) AS dot,
         sqrt(sum(a.embedding[t.i]::DOUBLE * a.embedding[t.i]::DOUBLE)) AS na,
         sqrt(sum(b.embedding[t.i]::DOUBLE * b.embedding[t.i]::DOUBLE)) AS nb
  FROM e a, e b, UNNEST(generate_series(1, len(a.embedding))) AS t(i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, round(dot/(na*nb), 6) AS cos
FROM p WHERE dot/(na*nb) >= 0.3
""".strip(),
    "lang_id": f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
),
t AS (SELECT url, {tok_sql('text')} AS toks FROM pages),
s AS (SELECT url, {_LANG_CASE_SCORES} FROM t)
SELECT url, {_LANG_PRED} AS pred_lang FROM s
""".strip(),
    "decontaminate": f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text, doc_id FROM documents
),
t AS (SELECT url, doc_id, {tok_sql('text')} AS toks FROM pages),
g AS (
  SELECT url, doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(toks) - 4, 0)),
    i -> array_to_string(toks[i:i+4], ' ')))) AS gram
  FROM t
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0),
hits AS (
  SELECT g.url, CAST(count(*) AS BIGINT) AS n_hits
  FROM g JOIN bench USING (gram) GROUP BY g.url
)
SELECT p.url,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_contaminated_grams,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM pages p LEFT JOIN hits h ON p.url = h.url
""".strip(),
    "repetition_3gram": f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
),
t AS (SELECT url, {tok_sql('text')} AS toks FROM pages),
base AS (
  SELECT url,
         CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_grams,
         CAST(len(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' ')))) AS BIGINT) AS n_distinct
  FROM t
)
SELECT url, n_grams,
       round(CASE WHEN n_grams > 0
             THEN 1.0 - n_distinct::DOUBLE / n_grams ELSE 0.0 END, 6) AS dup_ratio
FROM base
""".strip(),
    "pii_scrub": """
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
)
SELECT url,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phones,
       md5(regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')) AS clean_md5
FROM pages
""".strip(),
    "dataset_split": """
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url FROM documents
),
b AS (
  SELECT url,
         CAST(CAST(concat('0x', substr(md5(url), 1, 8)) AS BIGINT) % 1000 AS BIGINT) AS bucket
  FROM pages
)
SELECT url, bucket,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val'
            ELSE 'test' END AS split
FROM b
""".strip(),
    "quality_score": f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
),
t AS (SELECT url, text, {tok_sql('text')} AS toks FROM pages),
base AS (
  SELECT url,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS BIGINT) AS n_stop
  FROM t
),
calc AS (
  SELECT url, n_chars, n_tokens,
         CASE WHEN n_tokens > 0 THEN n_types::DOUBLE / n_tokens ELSE 0.0 END AS ttr,
         CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END AS stop_ratio,
         least(n_tokens / 100.0, 1.0) AS len_score
  FROM base
)
SELECT url, n_chars, n_tokens,
       round(ttr, 6) AS type_token_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round((len_score + ttr + greatest(1.0 - abs(stop_ratio - 0.4) / 0.4, 0.0)) / 3.0, 6) AS quality
FROM calc
""".strip(),
    "token_counts": f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
)
SELECT url,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws,
       CAST(len({tok_sql('text')}) AS BIGINT) AS n_terms,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe
FROM pages
""".strip(),
    "doc_fingerprint": f"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents
)
SELECT url, md5(array_to_string({tok_sql('text')}, ' ')) AS fingerprint
FROM pages
""".strip(),
}
