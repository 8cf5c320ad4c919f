"""Deduplication + similarity search for training-data pipelines.

Everything that can be JVM-side is (shingles, minhash signatures, band
bucketing, cosine — all built-in higher-order functions); only simhash
bit-voting uses a vectorized pandas UDF. Scale shapes:

* exact dedup: hash-groupBy — one shuffle on the content hash.
* MinHash+LSH near-dup: shingle → k minhashes → b bands → self-join on
  (band_idx, band_hash). The band join is the scale path: candidate
  pairs ∝ collisions, never the n² of brute force.
* SimHash: 64-bit fingerprint; near-dups share all-but-few bits —
  bucket by rotated prefixes for hamming-radius search.
* n-gram Jaccard verification of candidate pairs.
* cosine top-k: brute-force scan (the correct baseline at any scale —
  one pass, no shuffle) and hyperplane-LSH bucketing as the ANN path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import round_half_up


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content hash."""
    h = F.md5(F.col(content_col))
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(F.col(id_col)).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("_h")
    )


# -------------------------------------------------------------- shingles

def tokenize_words(col: Column | str) -> Column:
    """Normalized word tokens: lowercase, collapse whitespace, split,
    drop empties. All JVM built-ins."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(c), "\\s+", " ")), " "),
        lambda t: t != "",
    )


def word_shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams from a token ARRAY COLUMN. ``toks`` must be
    a materialized attribute (not an inline expression): higher-order
    lambdas re-evaluate referenced subtrees per element, so an inline
    tokenizer here costs O(tokens²) per document."""
    tc = F.col(toks) if isinstance(toks, str) else toks
    k = F.size(tc) - F.lit(n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(tc, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tc)))
    return F.array_distinct(grams)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (shingles) of a document as one Column
    expression. WARNING: interpreted HOF lambdas re-evaluate the inlined
    tokenizer per shingle (O(tokens²) per doc) — for DataFrame-level
    use, prefer :func:`shingle_docs`, which puts the token array behind
    a projection boundary (measured 10× on the sf0.1 documents table)."""
    return word_shingles_from_tokens(tokenize_words(col), n)


def shingle_docs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int = 3,
    repartition: bool = True,
) -> DataFrame:
    """(_id, _sh) shingled documents, shaped for scale: tokenize behind
    a projection boundary (single evaluation per doc — CollapseProject
    leaves it alone because the token array is non-cheap and referenced
    repeatedly), and spread docs across the cluster BEFORE the shingle
    fan-out (a documents table often arrives as one small file = one
    input task)."""
    out = df.select(
        F.col(id_col).alias("_id"), tokenize_words(content_col).alias("_toks")
    )
    if repartition:
        par = df.sparkSession.sparkContext.defaultParallelism
        out = out.repartition(par, "_id")
    return out.select("_id", word_shingles_from_tokens("_toks", n).alias("_sh"))


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two shingle arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# --------------------------------------------------------------- minhash

_MERSENNE_31 = 2_147_483_647  # 2^31 - 1, prime


def minhash_signatures(
    df: DataFrame,
    shingles_col: str,
    id_col: str,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """k-minhash signatures via explode → TWO codegen'd xxhash64 evals →
    k affine combinations h1 + j·h2 (mod 2^31-1) → partial+final
    hash-agg of k mins → array.

    The affine-combination family is the standard k-minhash trick
    (Indyk/Broder): per shingle only 2 real hash evaluations, the other
    k-2 are one multiply-add each — ~30× less hash work than k
    independent hashes. Mod-prime keeps every intermediate < 2^37, so
    the arithmetic is overflow-free under ANSI SQL mode. Every stage is
    whole-stage codegen (the HOF variant is interpreted and ~100×
    slower); the agg combines map-side, so giant documents don't skew
    the shuffle."""
    mins = _minhash_mins(df, shingles_col, id_col, num_hashes, seed)
    return mins.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_j", "_h"))), lambda s: s["_h"]
        ).alias("_sig")
    )


def _minhash_mins(
    df: DataFrame,
    shingles_col: str,
    id_col: str,
    num_hashes: int,
    seed: int,
) -> DataFrame:
    """Narrow (id, _j, _h) per-slot minhash minima — the codegen'd core
    shared by the signature-array and band-bucket forms."""
    p = F.lit(_MERSENNE_31)
    exploded = df.select(
        F.col(id_col), F.explode(F.col(shingles_col)).alias("_s")
    )
    based = exploded.select(
        id_col,
        F.pmod(F.xxhash64("_s", F.lit(seed)), p).alias("_b1"),
        # +1 guards the degenerate h2=0 row (all combos would collapse)
        (F.pmod(F.xxhash64("_s", F.lit(seed + 0x9E3779B9)), p - 1) + F.lit(1)).alias("_b2"),
    )
    # transpose: explode j instead of materializing k wide columns — the
    # narrow (id, j, h) schema codegens small and the (id, j) hash-agg
    # combines map-side, so the shuffle carries only ids × k rows
    jexp = based.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("_j"),
        F.col("_b1"),
        F.col("_b2"),
    ).select(
        id_col,
        "_j",
        F.pmod(F.col("_b1") + F.col("_j") * F.col("_b2"), p).alias("_h"),
    )
    return jexp.groupBy(id_col, "_j").agg(F.min("_h").alias("_h"))


def minhash_band_buckets(
    df: DataFrame,
    shingles_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(id, band, band_hash) LSH buckets straight off the narrow
    (id, j, min-h) form — no signature-array assembly. The band hash is
    an order-independent XOR combine of xxhash64(j, h) over the band's
    r slots: equal band contents always collide (recall is identical to
    slicing the signature array), and a spurious XOR collision only
    adds a candidate pair that the exact-Jaccard verify stage drops."""
    rows = num_hashes // bands
    mins = _minhash_mins(df, shingles_col, id_col, num_hashes, seed)
    return (
        mins.groupBy(
            id_col, (F.col("_j") / F.lit(rows)).cast("int").alias("band")
        )
        .agg(
            F.expr("bit_xor(xxhash64(_j, _h))").alias("band_hash")
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Plan shape: shingle (tokens behind a projection boundary, docs
    repartitioned before the fan-out) → narrow (id, j, min-h) hash-agg →
    band buckets straight off the narrow form (no signature-array
    assembly) → shuffle on (band, band_hash) → within-bucket self-join →
    distinct candidate pairs → verify Jaccard on the persisted shingles.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    shingled = shingle_docs(df, content_col, id_col, shingle_n).persist()
    banded = minhash_band_buckets(
        shingled, "_sh", "_id", num_hashes, bands, seed
    )

    cands = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l._id") < F.col("r._id"),
            ],
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )

    sh = shingled.select("_id", "_sh")
    verified = (
        cands.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "_sa"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "_sb"), "id_b")
        .withColumn("jaccard", round_half_up(ngram_jaccard(F.col("_sa"), F.col("_sb")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def minhash_cross_pairs(
    corpus: DataFrame,
    eval_df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-duplicate pairs — fuzzy
    decontamination (the GPT-3 appendix-C recipe's fuzzy half: exact
    n-gram collision lives in text.ngram_decontaminate; this catches
    paraphrased/reformatted benchmark leakage).

    Returns ``(corpus_id, eval_id, jaccard)`` with jaccard >=
    ``threshold`` between a corpus doc and an eval doc.

    Scale shape: both sides run the same 2-hash affine band pipeline;
    the EVAL side (benchmark suites — tiny next to a 100 TB corpus)
    collapses to its band table and is broadcast, so the corpus is
    touched once with a map-side join, no shuffle of corpus bands.
    Verification shingles only candidate docs from each side.
    """
    sh_c = shingle_docs(corpus, content_col, id_col, shingle_n).persist()
    sh_e = shingle_docs(eval_df, content_col, id_col, shingle_n).persist()
    b_c = minhash_band_buckets(sh_c, "_sh", "_id", num_hashes, bands, seed)
    b_e = minhash_band_buckets(sh_e, "_sh", "_id", num_hashes, bands, seed)
    if broadcast_eval:
        b_e = F.broadcast(b_e)
    cands = (
        b_c.alias("c")
        .join(
            b_e.alias("e"),
            on=[
                F.col("c.band") == F.col("e.band"),
                F.col("c.band_hash") == F.col("e.band_hash"),
            ],
        )
        .select(
            F.col("c._id").alias("corpus_id"), F.col("e._id").alias("eval_id")
        )
        .distinct()
    )
    verified = (
        cands.join(
            sh_c.select(F.col("_id").alias("corpus_id"), F.col("_sh").alias("_sa")),
            "corpus_id",
        )
        .join(
            sh_e.select(F.col("_id").alias("eval_id"), F.col("_sh").alias("_sb")),
            "eval_id",
        )
        .withColumn(
            "jaccard", round_half_up(ngram_jaccard(F.col("_sa"), F.col("_sb")), 4)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_id", "eval_id", "jaccard")
        .persist()
    )
    verified.count()
    sh_c.unpersist()
    sh_e.unpersist()
    return verified


def fuzzy_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    content_col: str,
    id_col: str,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """Per-corpus-doc fuzzy contamination verdict: ``(id,
    n_eval_matches, max_jaccard, contaminated)`` — a doc is
    contaminated if any eval doc is a near-duplicate at ``threshold``.
    """
    pairs = minhash_cross_pairs(
        corpus, eval_df, content_col, id_col, threshold=threshold, **kwargs
    )
    # roll up to the (small) per-contaminated-doc table, release the
    # pair cache: the caller's verdict frame then pins only `hits`
    hits = pairs.groupBy("corpus_id").agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("jaccard").alias("max_jaccard"),
    ).persist()
    hits.count()
    pairs.unpersist()
    return (
        corpus.select(F.col(id_col).alias("corpus_id"))
        .join(hits, "corpus_id", "left")
        .select(
            F.col("corpus_id").alias(id_col),
            F.coalesce("n_eval_matches", F.lit(0)).alias("n_eval_matches"),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("n_eval_matches", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# -------------------------------------------------- dedup cluster assignment

def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Exact union-find over a both-direction ``(_src, _dst)`` edge
    list in ONE executor task (mapInPandas on a single partition) —
    the small-graph fast path of :func:`connected_components`. Not a
    driver collect: the work ships to an executor like any other task,
    and the caller guards the edge count so the partition stays a few
    MB. Path-halving find + union keeps it near-linear."""
    id_type = edges.schema["_src"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type, False),
            T.StructField("cluster_id", id_type, False),
        ]
    )

    def uf(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["_src"].tolist(), pdf["_dst"].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
        if not parent:
            return
        # canonical representative = min member id per root
        mins: dict = {}
        for v in parent:
            r = find(v)
            m = mins.get(r)
            if m is None or v < m:
                mins[r] = v
        ids = list(parent)
        yield pd.DataFrame(
            {"id": ids, "cluster_id": [mins[find(v)] for v in ids]}
        )

    return edges.repartition(1).mapInPandas(uf, out_schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs → cluster ids:
    ``(id, cluster_id)`` where ``cluster_id`` is the component's minimum
    member id (the canonical representative — MinHashLSH dedup keeps
    one doc per cluster, so pair lists alone aren't actionable; the
    reference's dedup analog stops at per-key LWW, this is the
    transitive closure a corpus-level dedup needs).

    Two regimes, switched on the materialized edge count:

    * ``<= small_graph_edges`` pairs: single-task union-find on an
      executor (:func:`_cc_single_task`). The pair graph is the OUTPUT
      of dedup — edges ∝ duplicates found, typically orders of
      magnitude smaller than the corpus — so even 100 TB runs usually
      land here, and one task beats 3-5 rounds of tiny shuffles whose
      cost is pure scheduling overhead (measured ~4.6 s for a 256-edge
      graph on local[32], ~0.3 s via the fast path). 200k edges ≈ 3 MB
      in one task: far below any sane partition budget.
    * larger: min-label propagation WITH pointer jumping: every node
      starts labeled with itself; each round takes the minimum over (a)
      its own label, (b) neighbors' labels across edges in both
      directions, and (c) its label's label (path halving). (c) makes
      convergence O(log diameter) instead of O(diameter) — a 10^6-node
      chain settles in ~20 rounds, and the shallow star/clique
      components real dedup produces settle in 2-3. Each round is two
      shuffle joins + one hash-agg; nothing driver-sided but the
      convergence counter. Labels are eagerly localCheckpoint'ed EVERY
      round: without lineage truncation the plan tree doubles per round
      and Catalyst planning time (not data) becomes the bottleneck
      after ~4 rounds. (On a real cluster prefer a reliable checkpoint
      dir if executor loss matters — localCheckpoint is non-resilient.)
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = (
        pairs.select(F.col(id_a).alias("_src"), F.col(id_b).alias("_dst"))
        .unionByName(
            pairs.select(
                F.col(id_b).alias("_src"), F.col(id_a).alias("_dst")
            )
        )
        .distinct()
        .persist()
    )
    # one count on the persisted edges picks the regime; the distributed
    # path re-uses the materialized cache (labels.count() below is free)
    n_edges = edges.count()
    if n_edges <= 2 * small_graph_edges:  # edges carries both directions
        out = _cc_single_task(edges)
        # mapInPandas is lazy — the caller may unpersist-after-use, so
        # materialize through a localCheckpoint before dropping the pin
        out = out.localCheckpoint(eager=True)
        edges.unpersist()
        return out
    # seed labels with min(self, min neighbor): the first propagation
    # hop comes out of the same aggregation that enumerates the nodes,
    # saving one full round on the shallow star/clique components real
    # dedup produces
    labels = (
        edges.groupBy(F.col("_src").alias("_id"))
        .agg(F.min("_dst").alias("_nbr"))
        .select("_id", F.least("_id", "_nbr").alias("_lab"))
        .persist()
    )
    labels.count()
    lab_t = labels.schema["_lab"].dataType
    for it in range(max_iter):
        # the self rows carry their label twice: _old rides through the
        # min-agg (exactly one self row per node → max(_old) = previous
        # label), so convergence is a cheap filter on the checkpointed
        # aggregate instead of an extra per-round join
        self_side = labels.select(
            "_id", "_lab", F.col("_lab").alias("_old")
        )
        via = edges.join(labels, edges["_src"] == labels["_id"]).select(
            F.col("_dst").alias("_id"),
            F.col("_lab"),
            F.lit(None).cast(lab_t).alias("_old"),
        )
        jump = (
            labels.alias("a")
            .join(labels.alias("b"), F.col("a._lab") == F.col("b._id"))
            .select(
                F.col("a._id").alias("_id"),
                F.col("b._lab").alias("_lab"),
                F.lit(None).cast(lab_t).alias("_old"),
            )
        )
        agged = (
            self_side.unionByName(via)
            .unionByName(jump)
            .groupBy("_id")
            .agg(F.min("_lab").alias("_lab"), F.max("_old").alias("_old"))
            .localCheckpoint(eager=True)
        )
        changed = agged.filter(F.col("_lab") < F.col("_old")).count()
        labels.unpersist()
        labels = agged.drop("_old")
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter "
            "(pointer jumping needs ~log2(diameter) rounds)"
        )
    edges.unpersist()
    return labels.select(F.col("_id").alias("id"), F.col("_lab").alias("cluster_id"))


def minhash_dedup_clusters(
    df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    verify: bool = True,
) -> DataFrame:
    """End-to-end corpus dedup grouping: MinHash+LSH →
    connected components → ``(id, cluster_id, is_representative)``.
    Docs with no near-duplicate are their own singleton cluster (not
    listed — callers keep every doc absent from this frame).

    ``verify=True`` (default, the gate-oracled path) builds the graph
    from exact-Jaccard-verified pairs. Its pair materialization is
    Θ(c²) per duplicate cluster of size c — correct and fine up to
    ~10⁴-doc clusters, but a boilerplate-heavy 100 TB corpus can hold
    10⁶-doc clusters (5·10¹¹ pairs: game over).

    ``verify=False`` is the scale path (the BigCode/SlimPajama-style
    NearDedup recipe): connect every doc to the MINIMUM doc id of each
    LSH bucket it lands in — O(docs × bands) star edges, never
    quadratic, identical components to the all-pairs bucket graph
    (within a bucket everything is connected through the min).
    Tradeoff: no Jaccard verification, so an LSH false positive can
    merge two true clusters (supersets, never splits — asserted by
    tests)."""
    if verify:
        pairs = minhash_dedup_pairs(
            df, content_col, id_col, shingle_n, num_hashes, bands, threshold, seed
        )
        cc = connected_components(pairs)
    else:
        shingled = shingle_docs(df, content_col, id_col, shingle_n)
        # banded feeds both the per-bucket min and the join back onto
        # itself — persist, or the dominant shingle+minhash pipeline
        # runs twice; connected_components materializes eagerly
        # (per-round localCheckpoint), so unpersisting after it is safe
        banded = minhash_band_buckets(
            shingled, "_sh", "_id", num_hashes, bands, seed
        ).persist()
        try:
            w = banded.groupBy("band", "band_hash").agg(
                F.min("_id").alias("id_a"), F.count(F.lit(1)).alias("_n")
            )
            pairs = (
                banded.join(w, ["band", "band_hash"])
                .filter((F.col("_n") > 1) & (F.col("_id") != F.col("id_a")))
                .select("id_a", F.col("_id").alias("id_b"))
                .distinct()
            )
            cc = connected_components(pairs)
        finally:
            banded.unpersist()
    return cc.withColumn(
        "is_representative", (F.col("id") == F.col("cluster_id"))
    )


# --------------------------------------------------------------- simhash

SIMHASH_BITS = 60  # 15 hex chars of md5 — engine-portable (fits BIGINT)


def simhash(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """60-bit simhash (Charikar): per-token md5-derived hash, per-bit
    weighted vote — ALL JVM-side built-ins, no Python.

    Token hashes are the first 15 hex chars of md5(token), so an
    independent engine (the DuckDB oracle) reproduces the signature
    bit-for-bit — unlike a pandas/xxhash-based simhash. Plan shape:
    explode tokens → md5 → explode bit index (narrow codegen rows) →
    partial-agg vote sum per (id, bit) → one small agg to assemble the
    signature. Map-side combine keeps the shuffle at ids × 60 rows."""
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(content_col)), "\\s+", " ")), " "),
        lambda t: t != "",
    )
    # tokens × 60 bit-votes per doc from a possibly single-file scan:
    # spread docs before the fan-out (same trap as winnowing/minhash)
    par = df.sparkSession.sparkContext.defaultParallelism
    exploded = df.repartition(par, F.col(id_col)).select(
        F.col(id_col), F.explode(toks).alias("_t")
    )
    hashed = exploded.select(
        id_col,
        F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("long").alias("_hv"),
    )
    jexp = hashed.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("_b"),
        F.col("_hv"),
    ).select(
        id_col,
        "_b",
        # integer shift (column shift amount via SQL form) — a double
        # division would corrupt low bits of values above 2^53
        F.expr("CAST(shiftrightunsigned(_hv, _b) % 2 AS BIGINT)").alias("_bit"),
    )
    votes = jexp.groupBy(id_col, "_b").agg(
        F.sum(F.col("_bit") * 2 - 1).alias("_v")
    )
    sig = votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("_v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), _b)")
            ).otherwise(F.lit(0))
        ).alias("simhash")
    )
    # empty/blank docs produce no tokens: signature 0
    return (
        df.select(id_col)
        .join(sig, on=id_col, how="left")
        .select(id_col, F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def simhash_near_pairs(
    df: DataFrame, content_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, bucketed by the 4
    15-bit chunks (pigeonhole: distance ≤3 ⇒ some chunk equal; larger
    radii are best-effort within colliding chunks)."""
    sig = simhash(df, content_col, id_col)
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), 15 * j)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("val"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk", "c.val")
    l, r = chunks.alias("l"), chunks.alias("r")
    idl, idr = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.val") == F.col("r.val"),
                idl < idr,
            ],
        )
        .select(
            idl.alias("id_a"),
            idr.alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# ---------------------------------------------------------------- cosine

def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays — zip_with + aggregate,
    all inside codegen (no UDF)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k by cosine to a literal query vector: one scan,
    per-partition top-k via TakeOrderedAndProject (no full sort)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    sim = cosine_sim(F.col(vec_col).cast("array<double>"), q)
    return (
        df.select(F.col(id_col), round_half_up(sim, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    iters: int = 8,
) -> np.ndarray:
    """k-means centroids from a driver-side sample (numpy Lloyd's, a
    few iterations — the index build step; at 10^9 vectors you'd sample
    ~1e5 rows, still driver-sized)."""
    sample = np.array(
        [r[0] for r in df.select(vec_col).limit(sample_size).collect()],
        dtype=np.float64,
    )
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(iters):
        d = sample @ cent.T  # cosine-ish assignment on normalized data
        norm_s = np.linalg.norm(sample, axis=1, keepdims=True) + 1e-12
        norm_c = np.linalg.norm(cent, axis=1, keepdims=True).T + 1e-12
        sim = d / (norm_s * norm_c)
        assign = sim.argmax(axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def ivf_centroids_distributed(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    iters: int = 8,
) -> np.ndarray:
    """Spark-side Lloyd's: only the k seed vectors and the k×dim
    per-iteration centroid stats ever reach the driver — the index
    build scales to 10^9 vectors (the driver-sample variant collects a
    whole sample).

    Per iteration: broadcast centroids into a vectorized assign UDF →
    posexplode the vectors → partial-agg (sum, count) per (cell, dim) —
    map-side combine reduces the shuffle to n_centroids × dim rows per
    partition. Seeding is value-keyed (smallest xxhash64(id, seed)), so
    the build is reproducible; component means are quantized to 1e-6 to
    absorb float reduce-order jitter across partitionings."""
    seed_rows = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .withColumn("_h", F.xxhash64(F.col("_id"), F.lit(seed)))
        .orderBy("_h", "_id")
        .limit(n_centroids)
        .collect()
    )
    cent = np.array([r["_v"] for r in seed_rows], dtype=np.float64)
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    for _ in range(iters):
        cent_n = cent / (np.linalg.norm(cent, axis=1, keepdims=True) + 1e-12)

        @F.pandas_udf(T.IntegerType())
        def assign(batch: pd.Series) -> pd.Series:
            m = np.array(batch.tolist(), dtype=np.float64)
            m = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)
            return pd.Series((m @ cent_n.T).argmax(axis=1).astype(np.int32))

        stats = (
            vecs.select(assign(F.col("_v")).alias("_c"), F.posexplode("_v"))
            .groupBy("_c", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )  # n_centroids × dim rows — driver-tiny at any data scale
        new = cent.copy()
        counts = np.zeros(len(cent))
        for r in stats:
            new[r["_c"], r["pos"]] = r["s"] / r["n"]
            counts[r["_c"]] = r["n"]
        new[counts == 0] = cent[counts == 0]  # empty cells keep position
        cent = np.round(new, 6)
    return cent


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    distributed_build: bool = True,
) -> DataFrame:
    """IVF approximate top-k: vectors are assigned to their nearest
    centroid (one vectorized matmul per Arrow batch); the query probes
    only the ``n_probe`` nearest cells, so the scan covers
    ~n_probe/n_centroids of the data — the ANN scale path next to the
    brute-force baseline (cosine_topk). The index build is distributed
    by default (ivf_centroids_distributed); pass
    ``distributed_build=False`` for the quick driver-sample build."""
    if centroids is not None:
        cent = centroids
    elif distributed_build:
        cent = ivf_centroids_distributed(df, vec_col, id_col, n_centroids, seed)
    else:
        cent = ivf_centroids(df, vec_col, n_centroids, seed)
    cent_norm = cent / (np.linalg.norm(cent, axis=1, keepdims=True) + 1e-12)

    @F.pandas_udf(T.IntegerType())
    def assign_cell(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        m = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)
        return pd.Series((m @ cent_norm.T).argmax(axis=1).astype(np.int32))

    q = np.asarray(query, dtype=np.float64)
    qn = q / (np.linalg.norm(q) + 1e-12)
    probe = np.argsort(-(cent_norm @ qn))[:n_probe].tolist()

    tagged = df.select(F.col(id_col), F.col(vec_col), assign_cell(F.col(vec_col)).alias("_cell"))
    pruned = tagged.filter(F.col("_cell").isin(probe))
    return cosine_topk(pruned, vec_col, id_col, list(map(float, query)), k)


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    iters: int = 6,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011): the vector
    space is split into ``m`` subspaces and each learns its own
    ``ksub``-centroid codebook — (m, ksub, dsub) ndarray.

    All m subspace k-means run JOINTLY: one job per Lloyd's iteration
    regardless of m (sub-vectors tagged by subspace index, one
    vectorized assign per Arrow batch, one (j, cell, dim) partial-agg
    whose output is m·ksub·dsub rows — driver-tiny at any corpus
    size). Seeding is value-keyed per subspace (smallest
    xxhash64(id, seed·(j+1))), so the build is reproducible."""
    from pyspark.sql.window import Window

    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    sub = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice("_v", j * F.lit(dsub) + 1, dsub),
            )
        ).alias("_j", "_sv"),
    )

    w = Window.partitionBy("_j").orderBy("_h", "_id")
    seeds = (
        sub.withColumn(
            "_h", F.xxhash64(F.col("_id"), (F.col("_j") + 1) * F.lit(seed))
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= ksub)
        .select("_j", "_rn", "_sv")
        .collect()
    )
    cb = np.zeros((m, ksub, dsub))
    for r in seeds:
        cb[r["_j"], r["_rn"] - 1] = r["_sv"]

    svs = sub.select("_j", "_sv").persist()
    for _ in range(iters):
        bcb = cb.copy()

        @F.pandas_udf(T.IntegerType())
        def assign(j: pd.Series, sv: pd.Series) -> pd.Series:
            out = np.empty(len(j), dtype=np.int32)
            mat = np.array(sv.tolist(), dtype=np.float64)
            jv = j.to_numpy()
            for jj in np.unique(jv):
                rows = jv == jj
                d = ((mat[rows, None, :] - bcb[jj][None, :, :]) ** 2).sum(-1)
                out[rows] = d.argmin(axis=1)
            return pd.Series(out)

        stats = (
            svs.select("_j", assign("_j", "_sv").alias("_c"), F.posexplode("_sv"))
            .groupBy("_j", "_c", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )  # m × ksub × dsub rows
        new = cb.copy()
        for r in stats:
            new[r["_j"], r["_c"], r["pos"]] = r["s"] / r["n"]
        cb = np.round(new, 6)
    svs.unpersist()
    return cb


def _pq_codes_udf(codebooks: np.ndarray):
    m, ksub, dsub = codebooks.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            subm = mat[:, j * dsub : (j + 1) * dsub]
            d = ((subm[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_encode(
    df: DataFrame, vec_col: str, id_col: str, codebooks: np.ndarray
) -> DataFrame:
    """(id, codes) — each vector compressed to m uint8-sized codes
    (dim·8 bytes → m bytes at scale; one vectorized matmul per Arrow
    batch, ties to the first centroid like np.argmin)."""
    enc = _pq_codes_udf(codebooks)
    return df.select(
        F.col(id_col), enc(F.col(vec_col).cast("array<double>")).alias("codes")
    )


def pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    codebooks: np.ndarray | None = None,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    the query's per-subspace distance table (m×ksub floats) is embedded
    as a literal, each row's approximate squared-L2 is a JVM aggregate
    over its m codes — no Python in the scan, the shuffle carries only
    (id, score), and the plan ends in TakeOrderedAndProject. Returns
    (id, approx_l2sq) ascending (smaller = closer)."""
    if codebooks is None:
        codebooks = pq_train(df, vec_col, id_col, m, ksub, seed)
    m, ksub, dsub = codebooks.shape
    q = np.asarray(query, dtype=np.float64)
    dtab = (
        (q.reshape(m, dsub)[:, None, :] - codebooks) ** 2
    ).sum(-1)  # (m, ksub)

    dt_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in dtab[j]]) for j in range(m)]
    )
    coded = pq_encode(df, vec_col, id_col, codebooks).withColumn("_dt", dt_lit)
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at("_dt", j + 1), F.element_at("codes", j + 1) + 1),
    )
    return (
        coded.select(F.col(id_col), round_half_up(score, 4).alias("approx_l2sq"))
        .orderBy(F.col("approx_l2sq"), F.col(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates via hyperplane-LSH bucketing: sign
    pattern over `n_planes` seeded random hyperplanes = bucket key;
    verify cosine within buckets. The scale path for near-dup at 10^9
    vectors (brute force only within buckets)."""
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    sig_terms = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig_terms.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    bucket = sum(sig_terms[1:], sig_terms[0])

    tagged = df.select(F.col(id_col), F.col(vec_col), bucket.alias("_bucket"))
    l, r = tagged.alias("l"), tagged.alias("r")
    idl, idr = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    return (
        l.join(r, on=[F.col("l._bucket") == F.col("r._bucket"), idl < idr])
        .select(
            idl.alias("id_a"),
            idr.alias("id_b"),
            round_half_up(
                cosine_sim(
                    F.col(f"l.{vec_col}").cast("array<double>"),
                    F.col(f"r.{vec_col}").cast("array<double>"),
                ),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def dedup_keep_best(
    df: DataFrame,
    content_col: str,
    id_col: str,
    score_col=None,
    **cluster_kwargs,
) -> DataFrame:
    """Canonical-copy selection — the decision half of near-dup dedup:
    cluster the corpus (``minhash_dedup_clusters``), then keep exactly
    ONE document per cluster. Default policy keeps the LONGEST copy
    (ties → lowest id), the common pretraining-pipeline choice (the
    longest near-duplicate usually subsumes the fragments); pass
    ``score_col`` (a Column over ``df``, bigger = better, integer) to
    plug a quality score instead.

    Returns one row per CLUSTERED doc: ``(doc_id, cluster_id, score,
    keep)`` — unclustered docs are implicitly kept and not emitted.

    Scale shape: clustering is the dominant cost (bucketed LSH +
    pointer-jumping components, never all-pairs); the keep decision
    adds one hash-agg over the cluster assignment (map-side combine)
    and one broadcast join of the |clusters|-row winner table. The
    winner rank is the integer composite ``score·10^10 − id`` so the
    argmax is exact and engine-replayable (no float ordering).
    """
    score = (
        score_col if score_col is not None else F.length(F.col(content_col))
    )
    clusters = minhash_dedup_clusters(
        df, content_col, id_col, **cluster_kwargs
    ).select(F.col("id").alias("_kid"), "cluster_id")
    scored = clusters.join(
        df.select(
            F.col(id_col).cast("long").alias("_kid"),
            score.cast("long").alias("score"),
        ),
        "_kid",
    )
    winners = scored.groupBy("cluster_id").agg(
        F.max_by(
            F.col("_kid"),
            F.col("score") * F.lit(10_000_000_000) - F.col("_kid"),
        ).alias("_keep_id")
    )
    return (
        scored.join(F.broadcast(winners), "cluster_id")
        .select(
            F.col("_kid").alias("doc_id"),
            "cluster_id",
            "score",
            (F.col("_kid") == F.col("_keep_id")).alias("keep"),
        )
    )
