"""Deduplication operators for training-data pipelines.

The reference's ``array.unique`` (lib/types/array.js:468-558) is
per-value equality; at corpus scale dedup needs *near*-duplicate
detection too.  Five tiers, cheapest first:

1. exact       — hash-groupBy on the raw columns (one shuffle);
2. fingerprint — prefix-hash groupBy (catches head-identical docs);
3. n-gram Jaccard — exact set overlap via an inverted-index self-join
   (shuffle on shingle, never a cross join);
4. MinHash+LSH — signature bands bucket-join candidates, then exact
   verification; sub-quadratic at any scale;
5. SimHash     — 64-bit signature, banded chunks + Hamming verify.

Scale notes (the design constraints at 100 TB):
- NO cross joins anywhere: candidate generation always goes through an
  equi-join key (shingle, band hash, signature chunk) so Spark shuffles
  on a fine-grained key and AQE can split skewed buckets.
- Hot shingles (stop-phrases shared by millions of docs) explode the
  inverted index quadratically → ``max_shingle_freq`` drops shingles
  above a document-frequency cap before the self-join (standard
  inverted-index pruning; a shingle shared by everyone carries no
  dedup signal).
- MinHash signatures are 64 independent min-aggregates — partial
  aggregation (map-side combine) keeps the shuffle tiny: one row per
  (doc, 64 longs) regardless of document length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from joi_spark.operators.text import fingerprint, tokens


# --- tier 1: exact ---------------------------------------------------------

def exact_duplicates(df: DataFrame, cols: list[str],
                     id_col: str = "doc_id") -> DataFrame:
    """Every row whose ``cols`` tuple already occurred (keep-first by
    ``id_col`` order) — ``(id, dup_of)``.  One shuffle on the value
    columns; min() is partial-aggregating so skewed duplicate groups
    combine map-side."""
    w = Window.partitionBy(*cols)
    keep = F.min(id_col).over(w)
    return (df.withColumn("_keep", keep)
              .filter(F.col(id_col) != F.col("_keep"))
              .select(F.col(id_col), F.col("_keep").alias("dup_of")))


# --- tier 2: fingerprint ---------------------------------------------------

def fingerprint_duplicates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Docs sharing the first-``k``-token md5 fingerprint —
    ``(id, dup_of, fingerprint)``, keep-first by id."""
    fp = fingerprint(F.col(text_col), k)
    w = Window.partitionBy("fingerprint")
    return (df.select(F.col(id_col), fp.alias("fingerprint"))
              .withColumn("_keep", F.min(id_col).over(w))
              .filter(F.col(id_col) != F.col("_keep"))
              .select(F.col(id_col), F.col("_keep").alias("dup_of"),
                      "fingerprint"))


def dedup_corpus(df: DataFrame, pairs: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Materialize the DEDUPED corpus from a pair list: drop every row
    whose id appears as the RIGHT side of a (keep, drop) pair — the
    final step after any pair-producing tier above.  For pair outputs
    shaped (id, dup_of) the drop side is ``id``; for (id_a, id_b)
    near-dup pairs keep-first means dropping ``id_b``.

    Broadcast anti-join when the drop list is small (the common case —
    dup fraction ≪ 1); plain anti-join otherwise (AQE converts at
    runtime on size)."""
    drop_col = id_col if id_col in pairs.columns else "id_b"
    drops = pairs.select(F.col(drop_col).alias(id_col)).distinct()
    return df.join(drops, [id_col], "left_anti")


# --- shared shingling ------------------------------------------------------

def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document as an array column.
    Higher-order transform over the token array — no UDF.

    Documents shorter than ``n`` tokens (or NULL) yield an empty array
    — without the guard, ``sequence(0, negative)`` DESCENDS and the
    slice start hits 0, a runtime error that would surface on the
    first short/empty document in a real corpus."""
    toks = tokens(F.lower(col))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _shingle_index(df: DataFrame, id_col: str, text_col: str, n: int,
                   max_shingle_freq: int | None) -> DataFrame:
    """Inverted index (id, shingle) with optional document-frequency
    pruning of hot shingles.

    The explode amplifies rows ~50×, so the index is explicitly
    repartitioned on the shingle: input partitioning (often one small
    file) says nothing about post-explode compute, and hashing on the
    join key here pre-aligns the self-join's shuffle."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # repartition the (small) doc table BEFORE the explode so shingle
    # construction itself parallelizes — post-explode repartition would
    # leave the 50× amplification on the input's (possibly single)
    # partition
    idx = (df.repartition(par, id_col)
             .select(F.col(id_col).alias("_id"),
                     F.explode(shingles(F.col(text_col), n)).alias("_sh")))
    if max_shingle_freq is not None:
        idx = _prune_hot_shingles(idx, max_shingle_freq)
    return idx


def _prune_hot_shingles(idx: DataFrame, max_shingle_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap — via a
    partial-aggregated ``groupBy`` + semi-join, NOT a window.

    A ``count().over(Window.partitionBy("_sh"))`` would land EVERY copy
    of a hot shingle (the one stop-phrase shared by millions of docs —
    the exact key this cap exists to defuse) in a single task while
    computing the frequency that is supposed to prune it.  The groupBy
    map-side combines the hot key to one row per input partition, and
    the semi-join back is an equi-join AQE can skew-split."""
    keep = (idx.groupBy("_sh")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") <= max_shingle_freq)
               .select("_sh"))
    return idx.join(keep, "_sh", "left_semi")


# --- tier 3: exact n-gram Jaccard ------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_freq: int | None = 1000,
                        persist_index: bool = True) -> DataFrame:
    """Exact Jaccard similarity over word-``n``-gram shingle sets for
    every pair sharing ≥1 shingle — ``(id_a, id_b, jaccard)``,
    ``id_a < id_b``, jaccard ≥ threshold.

    Inverted-index self-join: shuffle keyed on the shingle string, pair
    counts partial-aggregate.  Cost is Σ df(shingle)² — bounded by
    ``max_shingle_freq`` pruning, NOT O(N²) in documents.  The cap
    DEFAULTS to a finite 1000 (matching the ``_sub_block`` valves of
    the MinHash/SimHash tiers): one boilerplate stop-phrase shared by
    millions of docs would otherwise make the default plan quadratic.
    Recall trade: a pair whose ONLY shared shingles are hotter than
    the cap is missed — such shingles carry no dedup signal (they
    occur in >cap docs), so near-dup pairs at ``threshold`` ≥ 0.5
    are unaffected in practice.  ``max_shingle_freq=None`` restores
    the exhaustive enumeration for small corpora.

    The exploded index feeds three consumers (both self-join sides +
    the per-doc set sizes); ``persist_index`` caches it so shingling
    — the dominant cost — runs once (same tradeoff as
    :func:`minhash_lsh_pairs`).
    """
    from pyspark import StorageLevel
    idx = _shingle_index(df, id_col, text_col, n, None)
    if persist_index:
        idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
    # set sizes from the UNPRUNED index (pruning drops hot shingles
    # from candidate generation only; Jaccard is over full sets)
    sizes = idx.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    if max_shingle_freq is not None:
        idx = _prune_hot_shingles(idx, max_shingle_freq)
    a = idx.select(F.col("_id").alias("_ida"), "_sh")
    b = idx.select(F.col("_id").alias("_idb"), "_sh")
    common = (a.join(b, "_sh")
                .filter(F.col("_ida") < F.col("_idb"))
                .groupBy("_ida", "_idb")
                .agg(F.count(F.lit(1)).alias("_common")))
    out = (common
           .join(sizes.withColumnRenamed("_id", "_ida")
                      .withColumnRenamed("_n", "_na"), "_ida")
           .join(sizes.withColumnRenamed("_id", "_idb")
                      .withColumnRenamed("_n", "_nb"), "_idb")
           .withColumn("jaccard",
                       F.col("_common") /
                       (F.col("_na") + F.col("_nb") - F.col("_common")))
           .filter(F.col("jaccard") >= threshold)
           .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"),
                   "jaccard"))
    return out


# --- benchmark decontamination ---------------------------------------------

def contamination(df: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_id_col: str = "doc_id",
                  bench_text_col: str = "text", *,
                  n: int = 3, min_overlap_frac: float = 0.0,
                  min_shared: int = 1) -> DataFrame:
    """Train/eval contamination detection: for every training document
    sharing ≥ ``min_shared`` word-``n``-gram shingles with a benchmark
    document, report ``(doc_id, bench_id, n_shared, overlap_frac)``
    where ``overlap_frac`` is *containment of the benchmark doc* —
    shared shingles / benchmark-doc shingles — the decontamination
    direction (how much of the eval item appears in the training doc;
    1.0 = the whole benchmark doc's shingle set is present).

    Scale plan: the benchmark corpus is small by definition (eval sets,
    not training sets), so its shingle index and per-doc sizes are
    ``F.broadcast`` — the 100 TB training side is never shuffled; only
    matched (doc, bench) rows enter the partial-aggregated groupBy.
    Contrast with :func:`ngram_jaccard_pairs`' self-join, which must
    shuffle on the shingle.
    """
    corpus_idx = _shingle_index(df, id_col, text_col, n, None)
    bench_idx = benchmark.select(
        F.col(bench_id_col).alias("_bid"),
        F.explode(shingles(F.col(bench_text_col), n)).alias("_sh"))
    bench_sizes = bench_idx.groupBy("_bid").agg(
        F.count(F.lit(1)).alias("_bn"))
    shared = (corpus_idx.join(F.broadcast(bench_idx), "_sh")
              .groupBy("_id", "_bid")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .filter(F.col("n_shared") >= min_shared))
    out = (shared.join(F.broadcast(bench_sizes), "_bid")
           .withColumn("overlap_frac",
                       F.col("n_shared") / F.col("_bn"))
           .filter(F.col("overlap_frac") >= min_overlap_frac)
           .select(F.col("_id").alias(id_col),
                   F.col("_bid").alias("bench_id"),
                   "n_shared", "overlap_frac"))
    return out


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text", *,
                  n: int = 3, min_overlap_frac: float = 0.8,
                  **kwargs) -> DataFrame:
    """Materialize the decontaminated corpus: drop every training doc
    whose benchmark containment reaches ``min_overlap_frac`` for ANY
    benchmark doc.  Broadcast anti-join on the (small) contaminated-id
    list — same shape as :func:`dedup_corpus`."""
    hits = contamination(df, benchmark, id_col, text_col, n=n,
                         min_overlap_frac=min_overlap_frac, **kwargs)
    drops = hits.select(id_col).distinct()
    return df.join(drops, [id_col], "left_anti")


# --- tier 4: MinHash + LSH -------------------------------------------------

def _sub_block(df: DataFrame, id_col: str, keys: list[str],
               cap: int) -> tuple[DataFrame, list[str]]:
    """Quadratic-blowup valve for bucket-keyed candidate joins (the
    :func:`semantic_dedup` ``max_cluster_size`` pattern, generalized).

    A boilerplate signature shared by m documents puts all m in one
    band/chunk bucket and the self-join emits m² candidate pairs no
    matter how the shuffle is split.  Buckets above ``cap`` are
    deterministically sub-blocked (salt = ``xxhash64(id) mod
    ceil(size/cap)``) and pairs generate only WITHIN a sub-block —
    pair count bounded by ``size·cap`` instead of ``size²``, at a
    documented recall cost (a true pair split across sub-blocks is
    missed in that bucket; with OR-amplified tables/bands it can still
    collide elsewhere).

    Only the OVER-cap buckets join back (at most n/cap of them, and
    in any real corpus far fewer); everything else takes ``_sub = 0``
    via the left join.  No broadcast HINT: the hot side's size is only
    known at runtime, so the choice is left to AQE — broadcast when the
    tail really is small, shuffle (never OOM) on an adversarial corpus
    where every bucket is just over cap.
    """
    hot = (df.groupBy(*keys)
             .agg(F.count(F.lit(1)).alias("_bsz"))
             .filter(F.col("_bsz") > cap))
    nsub = F.ceil(F.col("_bsz") / F.lit(cap))
    out = (df.join(hot, keys, "left")
             .withColumn("_sub",
                         F.when(F.col("_bsz").isNull(), F.lit(0))
                          .otherwise(F.pmod(F.xxhash64(F.col(id_col)),
                                            nsub)))
             .drop("_bsz"))
    return out, [*keys, "_sub"]


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_perm: int = 64, bands: int = 16,
                      threshold: float = 0.8,
                      verify: bool = True,
                      persist_index: bool = True,
                      max_bucket_size: int | None = None) -> DataFrame:
    """MinHash banding: split the signature into ``bands`` rows of
    ``num_perm/bands`` values, bucket-join docs sharing any band hash,
    then (optionally) verify candidates with exact Jaccard.

    Candidate generation is an equi-join on (band_id, band_hash) — the
    sub-quadratic scale path.  With r = num_perm/bands = 4, a pair at
    similarity s collides with prob 1-(1-s^4)^16 (≈1 for s ≥ 0.8).
    Returns ``(id_a, id_b, jaccard)`` like :func:`ngram_jaccard_pairs`.

    The shingle inverted index is built ONCE and feeds all three
    consumers — signatures, set sizes (``groupBy(_id).count()``), and
    the candidate-verification join; shingling (tokenize + n-gram
    assembly + explode) is the dominant cost at corpus scale, so it
    must not be recomputed per stage.  ``persist_index=True`` caches
    the exploded index (MEMORY_AND_DISK) so it is materialized once;
    at extreme scale where the index exceeds cluster cache capacity,
    pass False to trade one extra scan for zero cache footprint.
    """
    from pyspark import StorageLevel
    r = num_perm // bands
    par = df.sparkSession.sparkContext.defaultParallelism
    idx = df.repartition(par, id_col) \
            .select(F.col(id_col).alias("_id"),
                    F.explode(shingles(F.col(text_col), n)).alias("_sh"))
    if persist_index:
        idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE aggregation produces both the signature mins and the shingle
    # set size (shingles() is already distinct per doc)
    mins = [F.min(F.xxhash64(F.lit(p), F.col("_sh"))).alias(f"_m{p}")
            for p in range(num_perm)]
    sigs = idx.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"), *mins)
    banded = sigs.select(
        "_id", "_n",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.col(f"_m{b * r + i}") for i in range(r)])
                      .alias("bh"))
            for b in range(bands)])).alias("_b"))
    banded = banded.select("_id", F.col("_b.band").alias("_band"),
                           F.col("_b.bh").alias("_bh"))
    band_keys = ["_band", "_bh"]
    if max_bucket_size is not None:
        if persist_index:
            # the valve consumes banded THREE ways (hot-bucket agg +
            # both join sides); without a persist the full signature
            # aggregation re-runs for each — exactly on the degenerate
            # corpora the valve exists for
            banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        banded, band_keys = _sub_block(banded, "_id", band_keys,
                                       max_bucket_size)
    a = banded.select(F.col("_id").alias("_ida"), *band_keys)
    b = banded.select(F.col("_id").alias("_idb"), *band_keys)
    cands = (a.join(b, band_keys)
               .filter(F.col("_ida") < F.col("_idb"))
               .select("_ida", "_idb").distinct())
    if not verify:
        return cands.select(F.col("_ida").alias("id_a"),
                            F.col("_idb").alias("id_b"))
    sizes = sigs.select("_id", "_n")
    ca = cands.join(idx.withColumnRenamed("_id", "_ida"), "_ida") \
              .select("_ida", "_idb", "_sh")
    cb = idx.select(F.col("_id").alias("_idb"), F.col("_sh"))
    common = (ca.join(cb, ["_idb", "_sh"])
                .groupBy("_ida", "_idb")
                .agg(F.count(F.lit(1)).alias("_common")))
    out = (common
           .join(sizes.withColumnRenamed("_id", "_ida")
                      .withColumnRenamed("_n", "_na"), "_ida")
           .join(sizes.withColumnRenamed("_id", "_idb")
                      .withColumnRenamed("_n", "_nb"), "_idb")
           .withColumn("jaccard",
                       F.col("_common") /
                       (F.col("_na") + F.col("_nb") - F.col("_common")))
           .filter(F.col("jaccard") >= threshold)
           .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"),
                   "jaccard"))
    return out


# --- tier 5: SimHash -------------------------------------------------------

def simhash_chunks(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   n_chunks: int = 4) -> DataFrame:
    """64-bit SimHash as ``n_chunks`` 16-bit integer chunks
    ``(id, c0..c3)``: bit b of the signature is the sign of
    Σ_tokens ±1 at position b of a 64-bit token hash.

    The token hash is the first 16 hex chars of md5, split into two
    32-bit halves — md5 (not xxhash64) so an external oracle
    reproduces the exact signature bit-for-bit (DuckDB:
    ``('0x' || substr(md5(t), 1, 8))::BIGINT``).

    One explode + one groupBy with 64 partial-aggregating sums —
    signature width is constant regardless of document size.
    """
    bits_per = 64 // n_chunks
    par = df.sparkSession.sparkContext.defaultParallelism
    md5 = F.md5(F.col("_t"))
    # materialize the two hash halves as CONCRETE projection columns:
    # aggregate functions evaluate their child expressions per
    # function, so 64 sums referencing the md5 subtree directly would
    # hash every token 64 times; against plain columns the hash runs
    # once per token
    idx = (df.repartition(par, id_col)
             .select(F.col(id_col).alias("_id"),
                     F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("_t"))
             .select("_id",
                     F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
                      .alias("_hlo"),               # bits 0-31
                     F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
                      .alias("_hhi")))              # bits 32-63

    def bit(b: int):
        h = F.col("_hlo") if b < 32 else F.col("_hhi")
        return F.shiftright(h, b % 32).bitwiseAND(F.lit(1))

    sums = [F.sum(F.when(bit(b) == 1, F.lit(1)).otherwise(F.lit(-1)))
             .alias(f"_s{b}")
            for b in range(64)]
    agg = idx.groupBy("_id").agg(*sums)
    chunk_cols = []
    for c in range(n_chunks):
        expr = F.lit(0)
        for i in range(bits_per):
            b = c * bits_per + i
            expr = expr + F.when(F.col(f"_s{b}") > 0,
                                 F.lit(1 << i)).otherwise(F.lit(0))
        chunk_cols.append(expr.cast("int").alias(f"c{c}"))
    return agg.select(F.col("_id").alias(id_col), *chunk_cols)


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_hamming: int = 8,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share ≥1 of 4
    16-bit chunks (pigeonhole: any pair within Hamming distance 3 MUST
    share a chunk; ``max_hamming`` up to ~8 still has high recall),
    verified by exact Hamming distance over the full signature.
    Equi-join on (chunk_id, chunk_value) — sub-quadratic.

    ``max_bucket_size`` sub-blocks over-cap chunk buckets (see
    :func:`_sub_block`) — the valve for boilerplate corpora where one
    chunk value is shared by a quadratic-blowup-sized population."""
    sigs = simhash_chunks(df, id_col, text_col)
    chunks = sigs.select(
        F.col(id_col).alias("_id"), "c0", "c1", "c2", "c3",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("ci"), F.col(f"c{c}").alias("cv"))
            for c in range(4)])).alias("_c"))
    chunks = chunks.select("_id", "c0", "c1", "c2", "c3",
                           F.col("_c.ci").alias("_ci"),
                           F.col("_c.cv").alias("_cv"))
    chunk_keys = ["_ci", "_cv"]
    if max_bucket_size is not None:
        from pyspark import StorageLevel
        chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
        chunks, chunk_keys = _sub_block(chunks, "_id", chunk_keys,
                                        max_bucket_size)
    a = chunks.select(F.col("_id").alias("_ida"),
                      *[F.col(f"c{c}").alias(f"a{c}") for c in range(4)],
                      *chunk_keys)
    b = chunks.select(F.col("_id").alias("_idb"),
                      *[F.col(f"c{c}").alias(f"b{c}") for c in range(4)],
                      *chunk_keys)
    ham = sum(F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}")))
              for c in range(4))
    return (a.join(b, chunk_keys)
             .filter(F.col("_ida") < F.col("_idb"))
             .select("_ida", "_idb", *[F.col(f"a{c}") for c in range(4)],
                     *[F.col(f"b{c}") for c in range(4)])
             .distinct()
             .withColumn("hamming", ham.cast("int"))
             .filter(F.col("hamming") <= max_hamming)
             .select(F.col("_ida").alias("id_a"),
                     F.col("_idb").alias("id_b"), "hamming"))


# --- embedding near-duplicates --------------------------------------------

def embedding_near_pairs(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.9,
                         n_bits: int = 4, n_tables: int = 8,
                         exact: bool = False,
                         dim: int | None = None,
                         persist_index: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold —
    ``(id_a, id_b, cosine)``.

    The DEFAULT path is sub-quadratic: candidates are pairs sharing a
    random-hyperplane sign-bucket in ≥1 of ``n_tables`` independent
    ``n_bits``-bit tables (OR-amplification; see
    joi_spark.operators.similarity.rp_bucket_table), generated by an
    equi-join on (table, bucket) — the 100-TB-safe plan.  Collision
    probability for a pair at angle θ is 1-(1-(1-θ/π)^n_bits)^n_tables
    — ≈0.9998 at cosine 0.95 with the defaults; raise ``n_tables``
    for higher recall at lower thresholds.

    ``exact=True`` is the all-pairs O(n²) crossJoin baseline — ONLY
    for verification / recall measurement at small scale, never the
    production path.
    """
    from pyspark import StorageLevel
    from joi_spark.operators.similarity import (dot_pandas_udf, norm_expr,
                                                rp_bucket_table, vector_dim)
    dim = vector_dim(df, vec_col, dim)
    # Norms are computed ONCE per vector here (map-side), never per pair.
    a = df.select(F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"),
                  norm_expr(vec_col, dim).alias("_na"))
    b = df.select(F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"),
                  norm_expr(vec_col, dim).alias("_nb"))
    if exact:
        # spread the left side: a broadcast-NL join's output parallelism
        # is the LEFT side's partition count, and a small table often
        # arrives in 1-2 partitions — repartition so the O(n²) cosine
        # work fans out (bucketed path: no repartition; a forced
        # exchange would only block AQE's broadcast-join conversion)
        par = df.sparkSession.sparkContext.defaultParallelism
        pairs = a.repartition(par).crossJoin(b) \
                 .filter(F.col("_ida") < F.col("_idb"))
    else:
        # bucket table persisted: both join sides read the SAME
        # materialization (n·n_tables skinny rows) instead of
        # recomputing every hyperplane projection twice;
        # persist_index=False for callers that manage cache pressure
        # themselves (repeated invocations accumulate cache entries)
        bt = rp_bucket_table(df, id_col, vec_col, n_bits=n_bits,
                             n_tables=n_tables, dim=dim)
        if persist_index:
            bt = bt.persist(StorageLevel.MEMORY_AND_DISK)
        ba = bt.withColumnRenamed(id_col, "_ida")
        bb = bt.withColumnRenamed(id_col, "_idb")
        pairs = (ba.join(bb, ["table", "bucket"])
                   .filter(F.col("_ida") < F.col("_idb"))
                   .select("_ida", "_idb").distinct()
                   .join(a, "_ida").join(b, "_idb"))
    # Arrow-batched dot (see similarity.dot_pandas_udf for why not the
    # SQL form: the threshold filter would be pushed into the join
    # condition and evaluated outside codegen)
    cs = dot_pandas_udf()(F.col("_va"), F.col("_vb")) \
        / (F.col("_na") * F.col("_nb"))
    return (pairs.withColumn("cosine", cs)
                 .filter(F.col("cosine") >= threshold)
                 .select(F.col("_ida").alias("id_a"),
                         F.col("_idb").alias("id_b"), "cosine"))


# --- cluster resolution ----------------------------------------------------

def dedup_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                   id_b: str = "id_b", max_iters: int = 25) -> DataFrame:
    """Connected components over a near-dup pair list — ``(id,
    cluster_id)`` with ``cluster_id`` the smallest id in the
    component.  Pairwise keep-first (dedup_corpus) silently merges
    chains a-b, b-c without ever asserting a-c; cluster ids make the
    transitive closure explicit so canonical selection, cluster-size
    stats, and audit sampling are possible.

    Min-label propagation with pointer jumping: labels start as the
    node id; each round every node takes the min of its own label,
    its neighbors' labels, AND its current label's label (path
    halving), until a round changes nothing.  The jump step makes
    convergence O(log diameter) instead of O(diameter) — a
    million-node duplicate chain resolves in ~20 rounds, not a
    million.  Each round is two equi-joins + one partial-aggregating
    groupBy, the standard Spark CC shape.  ``localCheckpoint``
    truncates lineage every round so the plan does not grow
    superlinearly with iterations — at 10^12-row scale an uncut
    25-round lineage would overwhelm the optimizer long before the
    data hurts.

    The per-round convergence probe is a driver-side count — inherent
    to any fixpoint loop and proportional to rounds, not rows.  The
    probe costs NO extra join: each round carries the pre-step label
    alongside the new one, so change detection is a map-side filter
    over the already-checkpointed round output (round-5: this removed
    one shuffle join per round)."""
    edges = (pairs.select(F.col(id_a).alias("src"),
                          F.col(id_b).alias("dst"))
                  .union(pairs.select(F.col(id_b).alias("src"),
                                      F.col(id_a).alias("dst")))
                  .distinct()
                  .localCheckpoint(eager=False))
    labels = (edges.select(F.col("src").alias("id")).distinct()
                   .withColumn("cluster_id", F.col("id")))
    for _ in range(max_iters):
        prop = (edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                     .groupBy(F.col("src").alias("id"))
                     .agg(F.min("cluster_id").alias("_nbr")))
        stepped = (labels.join(prop, "id", "left")
                         .select("id",
                                 F.col("cluster_id").alias("_old"),
                                 F.least("cluster_id",
                                         F.coalesce("_nbr", "cluster_id"))
                                  .alias("cluster_id")))
        # pointer jump: follow the label one hop (label's own label) —
        # halves remaining path length every round
        parents = stepped.select(F.col("id").alias("cluster_id"),
                                 F.col("cluster_id").alias("_pp"))
        nxt = (stepped.join(parents, "cluster_id", "left")
                      .select("id", "_old",
                              F.least("cluster_id",
                                      F.coalesce("_pp", "cluster_id"))
                               .alias("cluster_id"))
                      .localCheckpoint(eager=False))
        changed = (nxt.filter(F.col("cluster_id") != F.col("_old"))
                      .limit(1).count())
        labels = nxt.select("id", "cluster_id")
        if changed == 0:
            break
    return labels.select("id", "cluster_id")


def cluster_canonical(df: DataFrame, clusters: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """Materialize the deduped corpus from cluster assignments: keep
    exactly the canonical (minimum-id) member of every cluster plus
    all unclustered rows.  Anti-join on the non-canonical id set —
    same broadcast/AQE shape as :func:`dedup_corpus`, but correct
    under transitivity by construction."""
    drops = (clusters.filter(F.col("id") != F.col("cluster_id"))
                     .select(F.col("id").alias(id_col)))
    return df.join(drops, [id_col], "left_anti")


# --- incremental MinHash index ---------------------------------------------
#
# The 100 TB dedup workflow is never one-shot: a corpus is deduped once,
# then every ingestion batch must be checked against it WITHOUT
# re-shingling 100 TB of history.  The index persists exactly the three
# artifacts candidate generation and verification need:
#
#   bands/    (id, band, bh)  - LSH band hashes      (candidate equi-join)
#   sizes/    (id, n)         - shingle-set sizes    (Jaccard denominator)
#   shingles/ (id, shash)     - xxhash64'd shingles  (exact-overlap verify)
#
# Shingles are stored hashed (8 bytes vs the raw n-gram string); a
# 64-bit collision altering a common-count requires two distinct
# shingles of the SAME candidate pair to collide - probability
# ~ |union|^2 / 2^64 per pair, negligible and deterministic.
#
# Each artifact is written as an EXTERNAL BUCKETED table on its join
# key (bands on (band, bh), sizes/shingles on id) so steady-state
# batch joins shuffle ONLY the batch side - the index scan comes back
# hash-partitioned from disk (plan-pinned in
# tests/test_plans.py::test_minhash_index_side_has_no_exchange).
# Bucketing metadata lives in the session catalog (Spark cannot carry
# it through a bare parquet path); on a catalog that lost the entry
# (e.g. a new in-memory-catalog session) the reader degrades to the
# plain parquet files at the same path - correct, just re-shuffled.
# At production scale the catalog is persistent (Hive/Glue/Iceberg),
# so the degradation never happens there.

def _minhash_artifacts(df: DataFrame, id_col: str, text_col: str,
                       n: int, num_perm: int, bands: int):
    """(bands_df, sizes_df, shingles_df) for one corpus or batch -
    single shingle pass, same aggregation shape as minhash_lsh_pairs."""
    r = num_perm // bands
    par = df.sparkSession.sparkContext.defaultParallelism
    idx = df.repartition(par, id_col) \
            .select(F.col(id_col).alias("id"),
                    F.explode(shingles(F.col(text_col), n)).alias("_sh"))
    idx = idx.select("id", F.xxhash64("_sh").alias("shash"),
                     F.col("_sh"))
    mins = [F.min(F.xxhash64(F.lit(p), F.col("_sh"))).alias(f"_m{p}")
            for p in range(num_perm)]
    sigs = idx.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *mins)
    banded = (sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.col(f"_m{b * r + i}") for i in range(r)])
                      .alias("bh"))
            for b in range(bands)])).alias("_b"))
        .select("id", F.col("_b.band").alias("band"),
                F.col("_b.bh").alias("bh")))
    return banded, sigs.select("id", "n"), idx.select("id", "shash")


# (artifact name, bucket columns, sort columns) for the bucketed writes
_INDEX_LAYOUT = {
    "bands": (["band", "bh"], ["band", "bh"]),
    "sizes": (["id"], ["id"]),
    "shingles": (["id"], ["id", "shash"]),
}


def _index_table(path: str, art: str) -> str:
    """Deterministic catalog name for an index artifact at ``path``.
    The path is normalized first (trailing slash / redundant separators)
    so spelled-differently-but-identical locations resolve to the SAME
    catalog entry — otherwise an append through the alternate spelling
    would miss the bucketed table and write non-bucket-named files into
    its external location, poisoning later catalog reads."""
    import hashlib
    import os as _os
    norm = _os.path.normpath(path)
    h = hashlib.md5(norm.encode()).hexdigest()[:10]
    return f"minhash_idx_{h}_{art}"


def _write_index_art(df: DataFrame, path: str, art: str, *,
                     buckets: int, mode: str) -> None:
    keys, sort = _INDEX_LAYOUT[art]
    name = _index_table(path, art)
    if mode == "overwrite":
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {name}")
    # repartition on the bucket keys FIRST: without it every map task
    # writes a file into every bucket (tasks × buckets small files —
    # the classic bucketed-write fragmentation); aligned, each task
    # owns whole buckets and writes `buckets` files total.  Measured
    # cost parity with a plain parquet write once the JVM is warm.
    (df.repartition(buckets, *keys).write.mode(mode)
       .bucketBy(buckets, *keys).sortBy(*sort)
       .option("path", f"{path}/{art}")
       .format("parquet").saveAsTable(name))


def _read_index_art(spark: SparkSession, path: str, art: str) -> DataFrame:
    """Catalog (bucketed) read when the table entry survives, plain
    parquet fallback otherwise - same rows either way.  The fallback
    WARNS: it silently re-introduces the index-side shuffle the
    bucketed layout exists to avoid, which at 100 TB is the
    difference between a batch probe and a full-index exchange."""
    name = _index_table(path, art)
    if spark.catalog.tableExists(name):
        return spark.table(name)
    import warnings
    warnings.warn(
        f"minhash index catalog entry '{name}' missing; reading "
        f"{path}/{art} as plain parquet — joins against this artifact "
        f"will shuffle the index side (rebuild via build_minhash_index "
        f"or recreate the bucketed table entry to restore the "
        f"shuffle-free plan)", stacklevel=2)
    return spark.read.parquet(f"{path}/{art}")


def build_minhash_index(df: DataFrame, path: str, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, num_perm: int = 64,
                        bands: int = 16, buckets: int = 32) -> None:
    """Materialize the persistent MinHash index of a corpus at
    ``path`` (see module comment for layout).  Afterwards batches
    join against the index and the corpus text is never read again.

    The three writes deliberately share NO cached intermediate:
    Catalyst prunes each write's pipeline to what that artifact needs
    (the sizes write aggregates only the count — the 64 min-hash
    expressions are pruned out; the shingles write skips the
    aggregation entirely), so each is a fused codegen scan.
    Persisting the exploded shingle table instead was measured 2×
    SLOWER end-to-end (cache materialization + a non-codegen cache
    scan replacing three cheap fused scans) — recompute beats
    materialize for map-side pipelines.

    Each artifact is an external BUCKETED table on its join key (see
    module comment) — ``buckets`` sizes the layout; at 100 TB scale
    set it so a bucket of the shingle table fits an executor core."""
    banded, sizes, shing = _minhash_artifacts(df, id_col, text_col,
                                              n, num_perm, bands)
    for art_df, art in ((banded, "bands"), (sizes, "sizes"),
                        (shing, "shingles")):
        _write_index_art(art_df, path, art, buckets=buckets,
                         mode="overwrite")


def _table_buckets(spark: SparkSession, name: str) -> int | None:
    """Bucket count of a catalog table (None when not bucketed)."""
    for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        if r["col_name"].strip() == "Num Buckets":
            try:
                return int(r["data_type"].strip())
            except ValueError:
                return None
    return None


def _dir_has_bucketed_files(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists and contains Spark bucketed-write
    output (file names carry the ``_NNNNN`` bucket-id suffix, e.g.
    ``part-00000-<uuid>_00003.c000.snappy.parquet``; plain parquet
    writes use ``-c000`` with no bucket id).  Hadoop FS listing so
    the probe works on any supported filesystem, not just local."""
    import re
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    return any(
        re.search(r"_\d{5}\.c\d+", st.getPath().getName())
        for st in fs.listStatus(hpath))


def append_minhash_index(df: DataFrame, path: str, *,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 3, num_perm: int = 64,
                         bands: int = 16) -> None:
    """Fold a new batch into an existing index (append-only bucketed
    writes - the incremental update after the batch passed dedup).
    The bucket count is READ from the existing table, never passed: a
    mismatched spec would fail Spark's bucketing-consistency check at
    write time.

    When the catalog entry is gone the fallback depends on what is on
    disk: a legacy PLAIN-parquet layout takes a plain append (rows
    are identical, reads were already unbucketed), but a directory
    holding BUCKETED files refuses loudly — appending non-bucket-named
    files there would poison any session that still (or later) holds
    the catalog entry: bucketed reads over mixed files throw
    'Invalid bucket file' or silently break the pinned shuffle-free
    plan.  Spark cannot recover the bucket COUNT from the files alone
    (empty tail buckets leave no file), so the safe recoveries are
    rebuilding via :func:`build_minhash_index` or recreating the
    catalog entry (``CREATE TABLE ... USING parquet CLUSTERED BY``)
    with the original bucket count."""
    banded, sizes, shing = _minhash_artifacts(df, id_col, text_col,
                                              n, num_perm, bands)
    spark = df.sparkSession
    for art_df, art in ((banded, "bands"), (sizes, "sizes"),
                        (shing, "shingles")):
        name = _index_table(path, art)
        nb = _table_buckets(spark, name) \
            if spark.catalog.tableExists(name) else None
        if nb:
            _write_index_art(art_df, path, art, buckets=nb,
                             mode="append")
        elif _dir_has_bucketed_files(spark, f"{path}/{art}"):
            raise RuntimeError(
                f"append_minhash_index: {path}/{art} holds bucketed "
                f"files but the catalog entry '{name}' is missing; "
                f"appending plain parquet here would poison bucketed "
                f"reads.  Rebuild the index with build_minhash_index, "
                f"or recreate the catalog entry (CREATE TABLE {name} "
                f"USING parquet CLUSTERED BY (...) INTO <original> "
                f"BUCKETS LOCATION '{path}/{art}') first.")
        else:
            art_df.write.mode("append").parquet(f"{path}/{art}")


def incremental_minhash_pairs(new_df: DataFrame, index_path: str, *,
                              id_col: str = "doc_id",
                              text_col: str = "text", n: int = 3,
                              num_perm: int = 64, bands: int = 16,
                              threshold: float = 0.8,
                              persist_index: bool = True) -> DataFrame:
    """Near-duplicate pairs a new batch introduces - against the
    persisted corpus index AND within the batch itself - without
    touching corpus text.  Returns ``(id_a, id_b, jaccard, scope)``
    with ``scope`` ∈ {'new_corpus', 'new_new'} and ``id_a < id_b``.

    Candidates: the batch's band hashes equi-join the union of the
    stored band table and the batch's own bands (the batch side is
    the small one - at steady state this is a broadcast against each
    index partition).  Verification: exact Jaccard from hashed-shingle
    overlap, sizes from the index - identical semantics to
    :func:`minhash_lsh_pairs` with ``verify=True``.
    """
    from pyspark import StorageLevel
    spark = new_df.sparkSession
    nb, ns, nsh = _minhash_artifacts(new_df, id_col, text_col,
                                     n, num_perm, bands)
    if persist_index:
        # the batch artifacts feed candidate generation AND exact
        # verification; persist_index=False for callers managing
        # cache pressure themselves (same hatch as the other tiers)
        nb = nb.persist(StorageLevel.MEMORY_AND_DISK)
        nsh = nsh.persist(StorageLevel.MEMORY_AND_DISK)
    new_ids = nb.select("id").distinct()
    ib = _read_index_art(spark, index_path, "bands")
    isz = _read_index_art(spark, index_path, "sizes")
    ish = _read_index_art(spark, index_path, "shingles")
    # candidate generation joins batch-vs-index and batch-vs-batch
    # SEPARATELY (results unioned) instead of nb ⋈ (ib ∪ nb): a union
    # child discards the index scan's bucket partitioning, forcing the
    # (100 TB-scale) index side through an Exchange on every batch.
    # Split, the bucketed bands scan feeds the join shuffle-free and
    # only the batch side moves (plan-pinned in tests/test_plans.py).
    na = nb.select(F.col("id").alias("_ida"), "band", "bh")
    corpus_cands = na.join(ib.select(F.col("id").alias("_idb"),
                                     "band", "bh"), ["band", "bh"])
    batch_cands = na.join(nb.select(F.col("id").alias("_idb"),
                                    "band", "bh"), ["band", "bh"])
    cands = (corpus_cands.select("_ida", "_idb")
               .unionByName(batch_cands.select("_ida", "_idb"))
               .filter(F.col("_ida") != F.col("_idb"))
               .select(F.least("_ida", "_idb").alias("_ida"),
                       F.greatest("_ida", "_idb").alias("_idb"))
               .distinct())
    all_sh = ish.unionByName(nsh)
    all_sz = isz.unionByName(ns)
    ca = cands.join(all_sh.withColumnRenamed("id", "_ida"), "_ida") \
              .select("_ida", "_idb", "shash")
    cb = all_sh.select(F.col("id").alias("_idb"), "shash")
    common = (ca.join(cb, ["_idb", "shash"])
                .groupBy("_ida", "_idb")
                .agg(F.count(F.lit(1)).alias("_common")))
    out = (common
           .join(all_sz.select(F.col("id").alias("_ida"),
                               F.col("n").alias("_na")), "_ida")
           .join(all_sz.select(F.col("id").alias("_idb"),
                               F.col("n").alias("_nb")), "_idb")
           .withColumn("jaccard",
                       F.col("_common") /
                       (F.col("_na") + F.col("_nb") - F.col("_common")))
           .filter(F.col("jaccard") >= threshold))
    is_new = new_ids.select(F.col("id").alias("_ida"),
                            F.lit(True).alias("_new_a"))
    is_new_b = new_ids.select(F.col("id").alias("_idb"),
                              F.lit(True).alias("_new_b"))
    out = (out.join(is_new, "_ida", "left").join(is_new_b, "_idb", "left")
              .withColumn("scope",
                          F.when(F.coalesce("_new_a", F.lit(False))
                                 & F.coalesce("_new_b", F.lit(False)),
                                 "new_new").otherwise("new_corpus")))
    return out.select(F.col("_ida").alias("id_a"),
                      F.col("_idb").alias("id_b"),
                      "jaccard", "scope")


# --- semantic dedup (SemDeDup-style) ---------------------------------------

def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", *,
                   threshold: float = 0.95, n_lists: int = 16,
                   dim: int | None = None, seed: int = 0,
                   persist_index: bool = True,
                   max_cluster_size: int | None = None) -> DataFrame:
    """Cluster-then-threshold semantic dedup (SemDeDup, Abbas et al.
    2023, arXiv:2303.09540): assign every embedding to its nearest
    coarse-quantizer centroid, then drop any item that has a
    same-cluster neighbor with cosine ≥ ``threshold`` and a smaller
    id (keep-first).  Returns ``(id, list_id, keep, dup_of)`` — one
    row per input, ``dup_of`` = the smallest qualifying neighbor for
    dropped rows, NULL for kept rows.

    Scale shape: centroid assignment is map-only (deterministic
    spherical centroids ride in the plan as literals —
    similarity.ivf_centroids, so an external oracle reproduces every
    assignment); pair generation is an EQUI-join on ``list_id``, never
    a cross join.  At 100 TB ``n_lists`` grows with the corpus so
    per-cluster populations stay bounded — the paper's regime (50k
    clusters over 5B images) — and AQE splits any skewed cluster.
    Unlike :func:`embedding_near_pairs` (OR-amplified RP tables,
    recall-oriented), one-cluster blocking trades recall at the
    cluster boundary for a single-join plan — the paper's trade.

    ``max_cluster_size`` is the quadratic-blowup valve (the analogue
    of ``max_shingle_freq``): a degenerate corpus can collapse into
    one cluster, making the within-cluster pair join O(n²) no matter
    how the shuffle is split.  With a cap set, clusters above it are
    deterministically sub-blocked (salt = ``xxhash64(id) mod
    ceil(size/cap)``) and pairs generate only WITHIN a sub-block —
    pair count bounded by ``size·cap`` instead of ``size²``, at a
    documented recall cost (a dup pair split across sub-blocks is
    missed; collision probability ``1/n_sub`` per pair).
    """
    from pyspark import StorageLevel
    from joi_spark.operators.similarity import (_ivf_probe_pandas_udf,
                                                dot_pandas_udf,
                                                ivf_centroids, norm_expr,
                                                vector_dim)
    dim = vector_dim(df, vec_col, dim)
    cents = ivf_centroids(n_lists, dim, seed)
    # assignment + norm in ONE map-only projection — no corpus-on-id
    # self-join anywhere (centroids ride as literals in the UDF)
    assigned = df.select(
        F.col(id_col), F.col(vec_col),
        norm_expr(vec_col, dim).alias("_nrm"),
        _ivf_probe_pandas_udf(cents, 1)(F.col(vec_col))[0]
        .alias("list_id"))
    if persist_index:
        # both pair sides + the final keep join read the same
        # materialization; persist_index=False for callers managing
        # cache pressure themselves
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    join_keys = ["list_id"]
    if max_cluster_size is not None:
        # same valve as the LSH tiers — ONE implementation
        # (:func:`_sub_block`): under-cap clusters take _sub = 0,
        # over-cap ones salt by ceil(size/cap)
        assigned, join_keys = _sub_block(assigned, id_col, join_keys,
                                         max_cluster_size)
    a = assigned.select(F.col(id_col).alias("_ida"), *join_keys,
                        F.col(vec_col).alias("_va"),
                        F.col("_nrm").alias("_na"))
    b = assigned.select(F.col(id_col).alias("_idb"), *join_keys,
                        F.col(vec_col).alias("_vb"),
                        F.col("_nrm").alias("_nb"))
    # Arrow-batched dot kept OUT of the join condition (see
    # embedding_near_pairs for the measured reason)
    cs = dot_pandas_udf()(F.col("_va"), F.col("_vb")) \
        / (F.col("_na") * F.col("_nb"))
    dup = (a.join(b, join_keys)
            .filter(F.col("_ida") < F.col("_idb"))
            .withColumn("_cs", cs)
            .filter(F.col("_cs") >= threshold)
            .groupBy(F.col("_idb").alias(id_col))
            .agg(F.min("_ida").alias("dup_of")))
    return (assigned.select(id_col, "list_id").join(dup, id_col, "left")
                    .select(id_col, "list_id",
                            F.col("dup_of").isNull().alias("keep"),
                            "dup_of"))


# --- duplicated-token-window screening (Lee et al. 2021-style) -------------

def _window_index(df: DataFrame, id_col: str, text_col: str, n: int,
                  persist: bool) -> DataFrame:
    """Exploded ``n``-token-window index ``(id, _i, _w)`` — 1-based
    window start position and md5 window key; one ``(id, null, null)``
    row per doc shorter than ``n`` tokens (so consumers can count
    zero-window docs).  Shared by :func:`window_dup_stats` /
    :func:`duplicated_spans`, each of which feeds the index to TWO
    consumers (the shared-window aggregate and the per-doc re-join);
    ``persist`` materializes it once so the tokenize+md5+explode pass
    — the dominant cost — runs once per call, not per consumer (the
    same tradeoff as ``persist_index`` in the pair tiers)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    wins = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")))
    ).otherwise(F.array().cast("array<string>"))
    # fan out before the window-hash explode — a single-file input
    # otherwise computes every md5 on one core (same rationale as
    # _minhash_artifacts; at production scale the input arrives
    # pre-split and this is a cheap doc-once shuffle)
    par = df.sparkSession.sparkContext.defaultParallelism
    pos = (df.repartition(par, id_col)
             .select(F.col(id_col).alias("id"),
                     F.posexplode_outer(wins).alias("_p", "_w"))
             .select("id", (F.col("_p") + 1).alias("_i"), "_w"))
    if persist:
        from pyspark import StorageLevel
        pos = pos.persist(StorageLevel.MEMORY_AND_DISK)
    return pos


def window_dup_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", *, n: int = 8,
                     persist_index: bool = True) -> DataFrame:
    """Per-document duplicated-substring exposure, the screening
    metric behind exact-substring dedup (Lee et al. 2021,
    arXiv:2107.06499): the fraction of a doc's ``n``-token windows
    whose window text also occurs in at least one OTHER document.
    Returns ``(id, n_windows, dup_windows, dup_fraction)``; docs
    shorter than ``n`` tokens report ``(0, 0, 0.0)``.

    Windows are keyed by ``md5`` of the space-joined token slice (a
    16-byte shuffle key independent of window length; md5 so an
    external SQL oracle reproduces every key).  Shuffle shape: the
    shared-window set comes from a partial-aggregated groupBy on the
    window key; per-doc counting re-joins positions to that set on the
    same key — no document text ever shuffles, only (id, 16-byte key)
    rows, ~L rows per L-token doc.  A stop-phrase window shared by
    millions of docs costs one aggregate row here, not a quadratic
    pair expansion — this is the screening complement to the
    pair-level tiers above.

    The exploded window index feeds both the shared-window aggregate
    and the per-doc re-join; ``persist_index`` caches it so the
    tokenize+md5+explode pass runs once (see :func:`_window_index`).
    """
    pos = _window_index(df, id_col, text_col, n, persist_index) \
        .select("id", "_w")
    docwins = pos.filter(F.col("_w").isNotNull()).distinct()
    shared = (docwins.groupBy("_w")
                     .agg(F.count(F.lit(1)).alias("_nd"))
                     .filter(F.col("_nd") >= 2)
                     .select("_w", F.lit(1).alias("_dup")))
    per_doc = (pos.join(shared, "_w", "left")
                  .groupBy("id")
                  .agg(F.count("_w").alias("n_windows"),
                       F.count("_dup").alias("dup_windows")))
    frac = F.when(F.col("n_windows") > 0,
                  F.col("dup_windows") / F.col("n_windows")) \
            .otherwise(F.lit(0.0))
    return per_doc.select(F.col("id").alias(id_col),
                          "n_windows", "dup_windows",
                          frac.alias("dup_fraction"))


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", *, n: int = 8,
                     persist_index: bool = True) -> DataFrame:
    """WHERE the duplicated text lives: per document, the merged
    1-based token intervals covered by cross-document-duplicated
    ``n``-token windows — the spans Lee et al. 2021 actually cut,
    where :func:`window_dup_stats` only scores exposure.  Returns
    ``(id, span_start, span_end, n_dup_windows)``; documents with no
    duplicated window emit no rows.

    Same inverted-index shuffle shape as the stats (only (id, pos,
    16-byte key) rows move); interval merging is a classic
    gaps-and-islands pass — lag + running sum over a PER-DOCUMENT
    window, so the sort is bounded by document length, never
    corpus-wide.  Two windows merge when their token ranges overlap
    or touch (next start ≤ previous start + n).

    Same shared-index materialization as :func:`window_dup_stats`
    (``persist_index`` → one tokenize+md5+explode pass for the two
    consumers, see :func:`_window_index`).
    """
    from pyspark.sql import Window
    pos = _window_index(df, id_col, text_col, n, persist_index) \
        .filter(F.col("_w").isNotNull())
    shared = (pos.select("id", "_w").distinct()
                 .groupBy("_w").agg(F.count(F.lit(1)).alias("_nd"))
                 .filter(F.col("_nd") >= 2).select("_w"))
    dup = pos.join(shared, "_w").select("id", "_i")
    w = Window.partitionBy("id").orderBy("_i")
    brk = F.when(
        F.col("_i") > F.coalesce(F.lag("_i").over(w) + n,
                                 F.lit(-1)), 1).otherwise(0)
    isl = (dup.withColumn("_brk", brk)
              .withColumn("_isl", F.sum("_brk").over(
                  w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("id", "_isl")
               .agg(F.min("_i").alias("span_start"),
                    (F.max("_i") + (n - 1)).alias("span_end"),
                    F.count(F.lit(1)).alias("n_dup_windows"))
               .select(F.col("id").alias(id_col), "span_start",
                       "span_end", "n_dup_windows"))


def cut_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", *,
                         n: int = 8) -> DataFrame:
    """Materialize the surgically-deduped corpus: remove every token
    inside a cross-document-duplicated span (:func:`duplicated_spans`)
    and rebuild the text — the cut step of Lee et al. 2021, after the
    screen (:func:`window_dup_stats`) and locate steps.  Returns
    ``(id, clean_text, n_tokens, n_tokens_removed)``.

    The rebuilt text is the CANONICAL token form (lowercased,
    single-space-joined — the same normalization the window keys use;
    cutting byte ranges from raw text would desynchronize from the
    token indices).  Docs without duplicated spans round-trip to
    their canonical form; null texts stay null.

    Plan: spans collect per doc into an array (tiny — merged
    intervals), broadcast/AQE left join back onto the corpus, then a
    single higher-order ``filter((tok, i) -> no span covers i+1)``
    projection — the cut itself is map-only, no UDF.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    spans = (duplicated_spans(df, id_col, text_col, n=n)
             .groupBy(id_col)
             .agg(F.collect_list(
                 F.struct(F.col("span_start").alias("s"),
                          F.col("span_end").alias("e"))).alias("_spans")))
    joined = df.select(F.col(id_col), F.col(text_col)) \
               .join(spans, id_col, "left")
    sp = F.coalesce(F.col("_spans"),
                    F.array().cast("array<struct<s:long,e:long>>"))
    keep = F.filter(
        toks,
        lambda t, i: ~F.exists(
            sp, lambda r: (F.lit(i) + 1 >= r["s"])
            & (F.lit(i) + 1 <= r["e"])))
    clean = F.when(F.col(text_col).isNull(),
                   F.lit(None).cast("string")) \
             .otherwise(F.array_join(keep, " "))
    n_tok = F.when(F.col(text_col).isNull(), F.lit(0)) \
             .otherwise(F.size(toks))
    n_keep = F.when(F.col(text_col).isNull(), F.lit(0)) \
              .otherwise(F.size(keep))
    return joined.select(
        F.col(id_col), clean.alias("clean_text"),
        n_tok.alias("n_tokens"),
        (n_tok - n_keep).alias("n_tokens_removed"))


def window_dedup_filter(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", *, n: int = 8,
                        max_dup_fraction: float = 0.5) -> DataFrame:
    """Keep documents whose duplicated-window exposure stays below
    ``max_dup_fraction`` — the corpus-screening materialization of
    :func:`window_dup_stats` (broadcast/AQE anti-join shape, as
    :func:`dedup_corpus`)."""
    drops = (window_dup_stats(df, id_col, text_col, n=n)
             .filter(F.col("dup_fraction") > max_dup_fraction)
             .select(id_col))
    return df.join(drops, [id_col], "left_anti")
