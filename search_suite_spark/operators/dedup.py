"""Deduplication operators for large-scale training-data pipelines.

These go beyond the reference (whose only dedupe is newest-wins by url at
segment merge, /root/reference/indexer-qp2/src/merge/common_urls.rs) and
cover the standard near-dup toolbox over a ``(url, text)`` corpus:

  - exact dedup           hash-groupBy on the text fingerprint
  - n-gram Jaccard        shingle → pair-join on shared shingles
  - MinHash + LSH         salted-md5 min-signatures, banded bucket join
  - SimHash               weighted bit-vote fingerprint + hamming pairs
  - embedding cosine      near-dup pairs over an embedding column

Everything except simhash64 is pure Column expressions (JVM-side,
whole-stage codegen); md5 is used as the portable hash so the DuckDB
oracle can replicate results bit-for-bit.

Scale notes: the shingle pair-join explodes to (doc, shingle) rows —
at 10^12 docs this join must be banded (MinHash LSH) rather than
all-pairs; `jaccard_pairs` therefore takes the candidate-pair frame from
`minhash_candidates` when running at scale, and the all-pairs variant is
for small verification corpora only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_suite_spark.operators.build import term_freqs_udf


def tokens_col(text_col="text"):
    """Ordered token array via the engine tokenizer — the JVM/Catalyst
    expression (functions.normalise.tokens_column), parity-tested
    against the Arrow-UDF twin (tests/test_normalise.py golden +
    hypothesis suites). Codegen keeps every analysis scan that calls
    this (lang_id, quality_score, token_counts, fingerprints, shingle
    dedup) out of Python workers: one core per task instead of the
    Arrow path's task-thread + worker-process pair, and immune to the
    sandbox hosts' round-to-round Python-throughput swings (BENCH
    calib_* keys)."""
    from search_suite_spark.functions.normalise import tokens_column

    # null text → empty array, as normalise treats a missing text; the
    # raw Catalyst expr would propagate NULL
    return tokens_column(F.coalesce(F.col(text_col), F.lit("")))


def exact_duplicates(df: DataFrame, key: str = "url", text: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: (fingerprint, n_docs, first_key).

    first_key = lexicographic min key of the group (the canonical doc a
    dedup pass would keep).
    """
    return (
        df.select(F.md5(F.col(text)).alias("fingerprint"), F.col(key))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(key).alias("first_key"))
    )


def ngrams_col(toks, n: int):
    """Array of space-joined token n-grams over an ordered token array;
    docs shorter than n tokens get an EMPTY array (sequence(0, -1) would
    otherwise descend to [0, -1] and slice(toks, 0, n) throws)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(df: DataFrame, key: str = "url", text: str = "text", n: int = 3) -> DataFrame:
    """(key, shingle) distinct n-token shingles per doc."""
    toks = df.select(F.col(key), tokens_col(text).alias("toks"))
    sh = toks.select(
        F.col(key),
        F.explode(ngrams_col(F.col("toks"), n)).alias("shingle"),
    )
    return sh.distinct()


def jaccard_pairs(
    df: DataFrame,
    key: str = "url",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard ≥ threshold → (a, b, jaccard).

    With ``candidates`` (an (a, b) frame, e.g. from `minhash_candidates`)
    the exact Jaccard is computed ONLY for those pairs — the scale path:
    LSH proposes, this verifies, and the shingle join is semi-joined down
    to candidate members before any pairing. Without it, the full
    all-pairs self-join runs — small verification corpora only.
    """
    sh = shingles(df, key, text, n)
    if candidates is not None:
        members = (
            candidates.select(F.col("a").alias(key))
            .unionByName(candidates.select(F.col("b").alias(key)))
            .distinct()
        )
        sh = sh.join(members, key, "left_semi")
    # the shingle frame feeds three subplans (sizes + both join sides):
    # persist for the duration of THIS evaluation only — the result is
    # materialized eagerly (pair-sized, the same bound as the candidate
    # frame) and the cache is released in the finally, so a serving loop
    # never accumulates executor storage (the acquire.py leak class).
    sh = sh.persist()
    try:
        sizes = sh.groupBy(key).agg(F.count("*").alias("n_sh"))
        a = sh.select(F.col(key).alias("a"), "shingle")
        b = sh.select(F.col(key).alias("b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_inter"))
        )
        if candidates is not None:
            inter = inter.join(
                candidates.select("a", "b").distinct(), ["a", "b"], "left_semi"
            )
        out = (
            inter.join(
                sizes.select(F.col(key).alias("a"), F.col("n_sh").alias("na")), "a"
            )
            .join(
                sizes.select(F.col(key).alias("b"), F.col("n_sh").alias("nb")), "b"
            )
            .withColumn(
                "jaccard",
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
        )
        sc = df.sparkSession.sparkContext
        out = (
            out.checkpoint(eager=True)
            if sc.getCheckpointDir() is not None
            else out.localCheckpoint(eager=True)
        )
    finally:
        sh.unpersist()
    return out


def minhash_signatures(
    df: DataFrame, key: str = "url", text: str = "text", n: int = 3, bands: int = 4
) -> DataFrame:
    """(key, band, sig): per band, sig = min(md5(band || '|' || shingle)).

    Simulates `bands` independent hash functions by salting md5 — portable
    across engines (the DuckDB oracle reproduces it exactly). One-row-per-
    band signatures are the LSH bucketing keys.

    Physical shape (r6): the band multiplication happens in COLUMNS, not
    rows — each shingle instance projects `bands` salted md5 columns, one
    aggregation per key carries `bands` min buffers, and the tiny per-key
    signature row explodes back to (key, band, sig) AFTER the shuffle.
    Two exchanges disappear versus the row-wise form: the shingle
    ``distinct`` (min() is insensitive to duplicate shingles, so the
    dedupe bought nothing) and the bands crossJoin's ×bands row blowup
    feeding the (sort-based — string min buffers) aggregation. The one
    remaining exchange moves one row per key, not one per
    (key, shingle, band).
    """
    toks = df.select(F.col(key), tokens_col(text).alias("toks"))
    sh = toks.select(
        F.col(key), F.explode(ngrams_col(F.col("toks"), n)).alias("shingle")
    )
    sig_cols = [
        F.min(
            F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle")))
        ).alias(f"_s{b}")
        for b in range(bands)
    ]
    per_key = sh.groupBy(key).agg(*sig_cols)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.col(f"_s{b}").alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return per_key.select(F.col(key), F.explode(band_structs).alias("_b")).select(
        F.col(key), F.col("_b.band").alias("band"), F.col("_b.sig").alias("sig")
    )


def minhash_candidates(
    df: DataFrame,
    key: str = "url",
    text: str = "text",
    n: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any (band, sig) bucket → (a, b).

    The scale path for near-dup: shuffle is keyed on (band, sig) buckets,
    never all-pairs. Skewed mega-buckets (boilerplate / degenerate-vocab
    corpora) are the known hazard: a bucket of m docs emits m² pairs, so
    one boilerplate bucket at web scale is a job-killer. ``max_bucket``
    drops buckets larger than the cap before the self-join (the standard
    mitigation — a bucket that big is boilerplate, not near-duplication;
    AQE skew-join only rebalances the pain, the cap removes it).
    """
    sig = minhash_signatures(df, key, text, n, bands)
    # materialize the signature frame once: the bucket-cap window and
    # BOTH sides of the bucket self-join otherwise re-evaluate the whole
    # tokenize → shingle → min-agg pipeline per reference (no exchange
    # reuse survives the join's aliasing). The frame is tiny — one row
    # per (key, band) — so this is metadata-sized even at corpus scale.
    # Durable checkpoint when the context has a checkpoint dir (cluster:
    # blocks survive executor loss), else localCheckpoint (single-node
    # sessions lose the session with the executor anyway) — the same
    # policy as plans/structured.structured_query.
    sc = df.sparkSession.sparkContext
    sig = (
        sig.checkpoint(eager=True)
        if sc.getCheckpointDir() is not None
        else sig.localCheckpoint(eager=True)
    )
    if max_bucket is not None:
        from pyspark.sql import Window as W

        sig = (
            sig.withColumn(
                "_bn", F.count("*").over(W.partitionBy("band", "sig"))
            )
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = sig.select(F.col(key).alias("a"), "band", "sig")
    b = sig.select(F.col(key).alias("b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash16(df: DataFrame, key: str = "url", text: str = "text") -> DataFrame:
    """16-bit SimHash as pure Column expressions → (key, simhash string).

    Bit j (1-based hex position of md5(term)) votes +tf when the top bit
    of nibble j is set, −tf otherwise; fingerprint bit = vote > 0. This
    variant exists to be oracle-checkable in SQL; `simhash64` below is the
    production-strength numpy version.
    """
    tf_udf = term_freqs_udf()
    tf = (
        df.select(F.col(key), tf_udf(F.col(key), F.col(text)).alias("tfs"))
        .select(F.col(key), F.explode("tfs").alias("p"))
        .select(F.col(key), F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
        .withColumn("h", F.md5("term"))
    )
    votes = [
        F.sum(
            F.when(
                F.substring("h", j, 1).isin(*"89abcdef"), F.col("tf")
            ).otherwise(-F.col("tf"))
        ).alias(f"v{j}")
        for j in range(1, 17)
    ]
    agg = tf.groupBy(key).agg(*votes)
    bits = [F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(1, 17)]
    return agg.select(F.col(key), F.concat(*bits).alias("simhash"))


def simhash64(df: DataFrame, key: str = "url", text: str = "text") -> DataFrame:
    """64-bit SimHash as pure Column expressions → (key, simhash:long).

    Per doc: every token instance of key+text votes ±1 on each of 64
    bits (bit j of the first 8 bytes of md5(term), big-endian — summed
    per-instance votes equal the per-(term, tf) votes of the classic
    formulation); fingerprint bit j = vote_j > 0, assembled into a
    signed int64. Near-dup pairs = hamming distance ≤ k, found by
    banding the 64 bits into 4×16-bit keys (pigeonhole: hamming ≤ 3
    pairs share at least one exact 16-bit band) — simhash_candidates.

    JVM-side end to end (r6, the simhash16 nibble construction
    generalized to 64 bits): tokenize (Catalyst tokenizer) → explode →
    h = md5 first 16 hex chars as two 32-bit halves via conv() → 64
    conditional-sum vote buffers in ONE hash aggregation per key. No
    Python workers, no per-row hashing loops — the plan carries a single
    exchange and zero BatchEvalPython/ArrowEvalPython nodes
    (tests/test_dedup_simhash64.py pins parity with the reference
    bit-vote definition and the plan shape).
    """
    from search_suite_spark.functions.normalise import tokens_column

    toks = df.select(
        F.col(key),
        tokens_column(
            F.coalesce(F.col(key), F.lit("")),
            F.coalesce(F.col(text), F.lit("")),
        ).alias("toks"),
    )
    # explode_outer keeps zero-token docs: their single null term row
    # votes -1 everywhere (when(null).otherwise(-1)), so every bit's
    # vote is ≤ 0 and the fingerprint is 0 — the all-zero-votes result
    # of the per-term formulation.
    inst = toks.select(F.col(key), F.explode_outer("toks").alias("term"))
    h = F.md5("term")
    # int.from_bytes(md5[:8], 'big') == first 16 hex chars: bits 32..63
    # live in hex chars 1-8, bits 0..31 in chars 9-16 (conv() is exact
    # for 32-bit halves; the full 64 bits would overflow signed long).
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")

    def vote(j: int):
        half = lo if j < 32 else hi
        bit = F.shiftrightunsigned(half, j % 32).bitwiseAND(F.lit(1))
        return F.sum(
            F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{j}")

    agg = inst.groupBy(key).agg(*[vote(j) for j in range(64)])
    fp = F.lit(0).cast("long")
    for j in range(63):
        fp = fp + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    # bit 63 is the sign bit of the int64 two's-complement encoding
    fp = fp + F.when(
        F.col("v63") > 0, F.lit(-(1 << 63))
    ).otherwise(F.lit(0))
    return agg.select(F.col(key), fp.cast("long").alias("simhash"))


def simhash_candidates(sim: DataFrame, key_a: str = "a", max_hamming: int = 3) -> DataFrame:
    """Band the 64-bit simhash into 4×16-bit keys and bucket-join; verify
    hamming ≤ max_hamming via bit_count(xor). Never all-pairs."""
    banded = sim.select(
        F.col(sim.columns[0]).alias("k"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("bkey"),
                )
                for i in range(4)
            ])
        ).alias("bk"),
    ).select("k", "simhash", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a = banded.select(F.col("k").alias("a"), F.col("simhash").alias("sa"), "band", "bkey")
    b = banded.select(F.col("k").alias("b"), F.col("simhash").alias("sb"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    emb: DataFrame, key: str = "vec_id", vec: str = "embedding", threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold → (a, b, cos).

    All-pairs verification path (small corpora); the scale path buckets by
    hyperplane-LSH first (similarity.lsh_buckets) so the join is banded.
    """
    withnorm = emb.select(
        F.col(key),
        F.col(vec),
        F.sqrt(
            F.aggregate(
                F.col(vec), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        ).alias("norm"),
    )
    a = withnorm.select(
        F.col(key).alias("a"), F.col(vec).alias("va"), F.col("norm").alias("na")
    )
    b = withnorm.select(
        F.col(key).alias("b"), F.col(vec).alias("vb"), F.col("norm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


def _sym(edges: DataFrame) -> DataFrame:
    return edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical form: u < v, no self-loops,
    distinct."""
    return (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )


def _star_contraction(edges0: DataFrame, max_rounds: int = 60) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", Algorithm 2) → (url, cluster = component min).

    Each round rewires edges toward local minima:
      large-star: per node u with m = min(Γ(u) ∪ {u}), every strictly
        LARGER neighbor v > u re-attaches as (v, m);
      small-star: per node u over its smaller neighbors N = {v < u},
        with m = min(N), every v ∈ N re-attaches as (v, m) and u keeps
        (u, m).
    The edge set converges in O(log² n) rounds INDEPENDENT of graph
    diameter — the scale path for adversarial chain-shaped dup graphs
    where diameter-round label propagation would need thousands of
    shuffles. At the fixed point every component is a star on its min
    node; labels read off as each node's min neighbor. Convergence is
    detected by an (edge count, xxhash64 sum) signature — one 1-row agg
    job per round; localCheckpoint truncates lineage per round.
    """
    E = _canon(edges0).localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_rounds):
        # large-star
        sym = _sym(E)
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = _canon(
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over edges oriented big→small (E is already u < v)
        directed = large.select(
            F.col("v").alias("u"), F.col("u").alias("v")
        )
        smins = (
            directed.groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        small = _canon(
            directed.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionAll(smins.select(F.col("u").alias("a"), "m"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
        )
        E = small.localCheckpoint(eager=True)
        # per-edge hash folded to < 10^6 so the ANSI-mode sum cannot
        # overflow a long even at 10^12 edges; a false match needs a
        # different edge set with identical count AND folded-hash sum
        # in consecutive rounds of a converging contraction
        sig = E.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(999983))), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star contraction did not stabilize in {max_rounds} rounds"
        )
    # at the fixed point each node's min neighbor IS its component min;
    # label every ORIGINAL node (roots have no smaller neighbor → self)
    nodes = _sym(_canon(edges0)).select(F.col("u").alias("url")).distinct()
    starmap = (
        _sym(E)
        .groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("url"), F.least("mn", F.col("u")).alias("c"))
    )
    return nodes.join(starmap, "url", "left").select(
        "url", F.coalesce(F.col("c"), F.col("url")).alias("cluster")
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 20, method: str = "auto"
) -> DataFrame:
    """Connected components over an undirected (a, b) pair frame →
    (url, cluster), cluster = MIN key reachable from url (lexicographic,
    so the representative is deterministic and DuckDB-reproducible).

    Min-label propagation: each round every node adopts the smallest
    label in its closed neighborhood; one distributed join + aggregate
    per round, converging in graph-diameter rounds with an exact
    convergence check (count of changed labels — one small driver action
    per round). Near-dup graphs are LSH-bucket near-cliques with
    diameter 2-4, so the loop is short; when an adversarial long-chain
    graph fails to converge in ``max_iter`` rounds, ``method="auto"``
    falls back to the diameter-independent star contraction
    (_star_contraction) instead of raising. ``method`` forces a path:
    "label" (raise on non-convergence, the pre-round-4 contract) or
    "star" (skip label propagation entirely). localCheckpoint truncates
    the plan each round so the lineage does not grow with iterations.

    The reference has no component stage at all (its only dedupe is
    pairwise newest-wins by url, indexer-qp2/src/merge/common_urls.rs);
    this is the step a training-data pipeline needs between pairwise
    near-dup output and "keep one doc per cluster".
    """
    if method not in ("auto", "label", "star"):
        raise ValueError(f"unknown method {method!r}")
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if method == "star":
        return _star_contraction(edges)
    labels = (
        edges.select(F.col("u").alias("url"))
        .distinct()
        .withColumn("label", F.col("url"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.v == labels.url)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh_min, labels.url == neigh_min.u, "left")
            .select(
                "url",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "url")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("url", F.col("label").alias("cluster"))
    if method == "auto":
        return _star_contraction(edges)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the pair graph has pathological diameter — use method='auto' "
        "or 'star' for the diameter-independent star contraction"
    )


def dedup_keep_canonical(
    df: DataFrame, pairs: DataFrame, key: str = "url"
) -> DataFrame:
    """(key, cluster, keep): cluster = min key of the doc's near-dup
    component (the doc itself when it has no dup pair), keep = 1 for the
    one canonical doc per cluster, 0 for the rest.

    The end-to-end LSM-pipeline dedup verdict: LSH proposes pairs,
    Jaccard verifies, components group, and this selects — filtering
    `keep = 1` yields the deduplicated corpus."""
    cc = connected_components(pairs)
    return df.select(F.col(key)).join(cc, df[key] == cc.url, "left").select(
        df[key],
        F.coalesce(F.col("cluster"), df[key]).alias("cluster"),
        (df[key] == F.coalesce(F.col("cluster"), df[key]))
        .cast("long")
        .alias("keep"),
    )
