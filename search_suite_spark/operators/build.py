"""Index build pipeline: ``pages`` → inverted index DataFrames.

Reference semantics rebuilt Spark-first (SURVEY §2.3, B1-B8):

  - tokenize url then body; per-doc term frequencies; doc_len = total
    token count url+body (/root/reference/indexer-qp2/src/doc.rs:65-93)
  - doc ids: the reference assigns *random* u32s (input.rs:41-44) and
    repairs collisions at merge time (merge/common_docids.rs) — we instead
    assign deterministic ids ``xxhash64(url)`` so ids are stable across
    builds and collisions are statistically negligible at 2^64 (audited by
    ``verify.doc_id_collisions``).
  - inversion (index.rs:142-159) = groupBy(term); the term dictionary's
    doc_freq (index.rs:103-140) = posting-list length; totals (index.rs:31-37)
    = sum(doc_len), count(*).

Scale notes (10^12 docs):
  - term-frequency counting happens *map-side* inside one Arrow UDF
    (per-doc local aggregation) — the only wide shuffle in the flat build
    is the term-keyed aggregation of the packed path; the flat postings
    DataFrame needs no shuffle at all until a consumer groups it.
  - doc_len is denormalized into each posting row so BM25 scoring never
    joins the (huge) docs table; the extra 4 bytes/posting buys removal of
    a doc-keyed shuffle join at query time.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_suite_spark.functions.normalise import normalise, tokens_column

TOKEN_STRUCT = "array<struct<term:string,tf:int>>"


def term_freqs_udf():
    """(url, text) → sorted array<struct<term,tf>> — map-side tf counting.

    Mirrors mk_doc (doc.rs:65-93): url tokens are indexed too ("cheap &
    nasty way of including url terms", doc.rs:74). One Arrow batch in,
    one out; no per-row Python at the JVM boundary.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TOKEN_STRUCT)
    def _term_freqs(urls: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for url, text in zip(urls, texts):
            counts: dict[str, int] = {}
            for tok in normalise(url if isinstance(url, str) else ""):
                counts[tok] = counts.get(tok, 0) + 1
            for tok in normalise(text if isinstance(text, str) else ""):
                counts[tok] = counts.get(tok, 0) + 1
            out.append([{"term": t, "tf": c} for t, c in sorted(counts.items())])
        return pd.Series(out)

    return _term_freqs


@dataclass
class InvertedIndex:
    """The flat (relational) index representation.

    postings: (term, doc_id, tf, doc_len)  — the uncompressed posting rows
    docs:     (doc_id, url, doc_len, warc_ts)
    terms:    (term, df)                   — term dictionary
    num_docs / total_doc_len: broadcast-scalar stats (B5, index.rs:31-37)
    deletes:  (doc_id) or None             — docDeletions analogue (Q17)
    """

    postings: DataFrame
    docs: DataFrame
    terms: DataFrame
    num_docs: int
    total_doc_len: int
    deletes: DataFrame | None = None

    @property
    def avgdl(self) -> int:
        # integer division for scorer parity (ranking.rs:50)
        return self.total_doc_len // self.num_docs

    def live_postings(self) -> DataFrame:
        if self.deletes is None:
            return self.postings
        return self.postings.join(F.broadcast(self.deletes), "doc_id", "left_anti")


def token_rows_with_doc(pages: DataFrame) -> DataFrame:
    """pages → exploded token instances (doc_id, doc_len, term) plus one
    null-term MARKER row per doc carrying ``-doc_len - 1`` — the
    single-pass build: one tokenize, one shuffle, and the pack kernel
    emits both posting rows and doc-table rows from the same stream
    (doc identity — url, warc_ts — is re-attached at docs-write time by
    a column-pruned pages join, so the big shuffle never carries a url).

    The marker is a DEDICATED row (null term, prepended before the
    explode) rather than a flag on the first token row, so the rows
    survive a (doc_id, doc_len, term) aggregation unchanged — the build
    counts tf with a hash agg whose distribution the one exchange already
    satisfies (both partial and final run post-shuffle; the collapse pays
    off in the in-partition sort and Arrow transfer, not shuffle bytes —
    see segment write), and a flagged token row would split its
    (doc, term) group in two.
    Zero-token docs yield just the marker (doc_len = -1), so the docs
    table still records them.

    Doc identity rides the marker row too, ENCODED IN ITS TERM VALUE:
    ``"\n" + unix_micros(warc_ts) + "\n" + url`` (empty micros when the
    pages table has no warc_ts). A newline can never appear in a
    tokenizer term (terms are letter/digit runs), so marker terms can
    never collide with real terms. The url goes LAST so the decoder can
    split on at most two newlines and keep the remainder verbatim —
    WARC target URIs are single header lines, but user-supplied pages
    frames can carry newline-bearing urls, and those must round-trip
    byte-identically into the docs table. The wide stream needs NO
    extra nullable columns: a nullable url column on the
    ~doc_len-times-more token rows costs offsets + null slots on every
    posting row (~45% extra Arrow transfer, measured), while the
    encoded marker pays only one string per doc. The docs table
    therefore needs no second pages scan or join at write time.
    """
    has_ts = "warc_ts" in pages.columns
    marker = F.concat(
        F.lit("\n"),
        (
            F.coalesce(F.unix_micros(F.col("warc_ts")).cast("string"), F.lit(""))
            if has_ts
            else F.lit("")
        ),
        F.lit("\n"),
        F.col("url"),
    )
    base = pages.select(
        F.xxhash64("url").alias("doc_id"),
        marker.alias("_marker"),
        tokens_column(F.col("url"), F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("_toksz"),
        F.explode(
            F.concat(F.array(F.col("_marker")), F.col("toks"))
        ).alias("term"),
    )
    is_marker = F.col("term").startswith("\n")
    sz = F.col("_toksz")
    return base.select(
        "doc_id",
        F.when(is_marker, -sz - 1).otherwise(sz).alias("doc_len"),
        "term",
    )


def tokenized(pages: DataFrame) -> DataFrame:
    """pages → (doc_id, url, warc_ts, doc_len, term_freqs[])."""
    tf_udf = term_freqs_udf()
    cols = [
        F.xxhash64("url").alias("doc_id"),
        F.col("url"),
        tf_udf(F.col("url"), F.col("text")).alias("term_freqs"),
    ]
    if "warc_ts" in pages.columns:
        cols.insert(2, F.col("warc_ts"))
    return pages.select(*cols).withColumn(
        "doc_len", F.aggregate("term_freqs", F.lit(0), lambda acc, x: acc + x["tf"])
    )


def dedupe_newest_wins(pages: DataFrame) -> DataFrame:
    """Newest-wins url dedupe (M2 analogue, merge/common_urls.rs:108-136 —
    the reference keeps one doc per url at merge; we keep max warc_ts).

    Kept as the one-exchange window form deliberately (r6): a
    duplicate-split variant (column-pruned dup-url agg + anti-join for
    the unique majority, window only over the dup subset — guide §8's
    decide-on-metadata shape) was measured SLOWER on both cached and
    scanned corpora at bench sizes (0.50s vs 0.30s at 50k docs): the
    rn=1 window compiles to WindowGroupLimit, which pre-prunes each
    partition to its per-url head before the final sort, so the window
    path is already near the shuffle floor, while the split pays two
    extra corpus scans plus join probes."""
    from pyspark.sql import Window as W

    w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_index(pages: DataFrame, dedupe: bool = True) -> InvertedIndex:
    """Full build (B1-B8). Returns cached DataFrames + computed stats.

    Tokenization is the Catalyst expression (tokens_column) — all of
    tokenize/doc_len/tf-count runs JVM-side; tf counting is a partial
    (map-side combined) hash aggregation, so the shuffle carries ~one row
    per distinct (doc, term), not one per token instance.
    """
    spark = pages.sparkSession
    target = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < target:
        # small-input guard (see segments.build_segment): a 1-file corpus
        # otherwise tokenizes on 1 task
        pages = pages.repartition(target)

    if dedupe and "warc_ts" in pages.columns:
        pages = dedupe_newest_wins(pages)

    cols = [
        F.xxhash64("url").alias("doc_id"),
        F.col("url"),
        tokens_column(F.col("url"), F.col("text")).alias("toks"),
    ]
    if "warc_ts" in pages.columns:
        cols.insert(2, F.col("warc_ts"))
    toks = pages.select(*cols).withColumn("doc_len", F.size("toks"))

    docs = toks.drop("toks").cache()

    # empty-input guard (B6, index.rs:54-71)
    stats_row = docs.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("doc_len"), F.lit(0)).alias("tdl")
    ).collect()[0]
    num_docs, total_doc_len = int(stats_row["n"]), int(stats_row["tdl"])
    if num_docs == 0:
        raise ValueError("refusing to build an index from 0 docs (index.rs:54-71)")

    postings = (
        toks.select("doc_id", "doc_len", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count("*").cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "doc_len")
        .cache()
    )

    terms = postings.groupBy("term").agg(F.count("*").alias("df")).cache()

    return InvertedIndex(
        postings=postings,
        docs=docs,
        terms=terms,
        num_docs=num_docs,
        total_doc_len=total_doc_len,
    )


def doc_id_collisions(docs: DataFrame) -> DataFrame:
    """Audit for xxhash64(url) collisions (replaces the reference's random
    docid collision repair, merge/common_docids.rs:30-138): distinct urls
    mapping to one doc_id."""
    return (
        docs.groupBy("doc_id")
        .agg(F.countDistinct("url").alias("n_urls"))
        .filter(F.col("n_urls") > 1)
    )
