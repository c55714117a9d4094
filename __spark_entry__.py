"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family of the joi_spark
validation engine (SURVEY.md §2) against the driver's testdata tables;
``oracle_sql()`` gives the DuckDB-checkable ANSI-SQL equivalent —
including the byte-exact rendered violation messages, which is the
reference's own output contract (reference: test/helper.js:35-39 — every
failing case asserts the exact message string).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import joi_spark as joi
from joi_spark.operators import corpus as CP
from joi_spark.operators import dataset as DS
from joi_spark.operators import dedup as DD
from joi_spark.operators import drift as DR
from joi_spark.operators import multimodal as MM
from joi_spark.operators import sampling as SP
from joi_spark.operators import similarity as SIM
from joi_spark.operators import sketches as SKT
from joi_spark.operators import stats as ST
from joi_spark.operators import text as TX


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# one source of truth for the mix_sample query AND its oracle
_MIX_TARGETS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


_VCOLS = ["code", "message", "severity"]


# ---------------------------------------------------------------------------
# hash-stable float outputs (round-3 verdict item 1)
#
# The driver's value hash is exact: a double column only matches if both
# engines produce the identical printed value, and Spark's round()
# (BigDecimal HALF_UP) disagrees with DuckDB's (double arithmetic) on
# boundary values.  Every float output column is therefore emitted as a
# floor-scaled BIGINT instead:
#
#  - per-row ratios of exact integers (punct_frac, jaccard, ...):
#    floor(x * 1e6) — x is a single IEEE division of two exact ints, so
#    both engines hold the identical double and floor is deterministic;
#  - group-aggregate ratios (avg_tokens, dup_frac): exact integer
#    div/mod arithmetic over the BIGINT counters — no double appears at
#    any scale (overflow-safe split form, valid past 2^53 tokens);
#  - transcendental values (cosine, psi, ln/exp): floor(x * 1e6) on the
#    raw double — identical when both engines evaluate the same IEEE
#    ops in the same order; residual risk is an aggregation-order ulp
#    landing within 1 ulp of a 1e-6 boundary (probability ~1e-9/row,
#    vs round()'s dialect mismatch which hits any boundary value).
# ---------------------------------------------------------------------------

def _e6(col, name: str | None = None):
    """``floor(x * 1e6)`` as BIGINT — hash-stable micro-units."""
    c = F.col(col) if isinstance(col, str) else col
    n = name or (col + "_e6" if isinstance(col, str) else None)
    out = F.floor(c * F.lit(1000000)).cast("long")
    return out.alias(n) if n else out


def _ratio_e6(num: str, den: str, name: str):
    """Spark Column: exact BIGINT micro-ratio
    ``(num div den)*1e6 + ((num mod den)*1e6) div den`` — pure integer
    arithmetic, overflow-safe where ``1e6*num`` is not."""
    return F.expr(
        f"CASE WHEN {den} = 0 THEN NULL ELSE "
        f"({num} div {den}) * 1000000 "
        f"+ (({num} % {den}) * 1000000) div {den} END"
    ).cast("long").alias(name)


def _ratio_e6_sql(num: str, den: str) -> str:
    """The DuckDB twin of :func:`_ratio_e6` (``//`` is DuckDB's
    integer division; ``div`` is Spark's)."""
    return (f"CASE WHEN {den} = 0 THEN NULL ELSE "
            f"({num} // {den}) * 1000000 "
            f"+ (({num} % {den}) * 1000000) // {den} END")


# ---------------------------------------------------------------------------
# schema-compiler queries (vectorized predicates from the DSL)
# ---------------------------------------------------------------------------

def q_enum_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    """valid()/required() — any.only + any.required (reference:
    lib/base.js:314-317, lib/validator.js:170-214)."""
    orders = _t(spark, sf_dir, "orders")
    schema = joi.object({
        "o_orderstatus": joi.string().valid("O", "F").required(),
    })
    res = joi.validate(orders, schema, prefs={"abort_early": False},
                       order_by=["o_orderkey"])
    return res.violations().select("o_orderkey", *_VCOLS)


def q_string_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string case + enum in strict mode (reference:
    lib/types/string/index.js:191-209, lib/base.js:314-317)."""
    customer = _t(spark, sf_dir, "customer")
    schema = joi.object({
        "c_name": joi.string().max(18).uppercase(),
        "c_mktsegment": joi.string().valid(
            "AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"),
    })
    res = joi.validate(customer, schema,
                       prefs={"convert": False, "abort_early": False},
                       order_by=["c_custkey"])
    return res.violations().select("c_custkey", *_VCOLS)


def q_pattern_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string.pattern with the row value spliced into the message
    (reference: lib/types/string/index.js:576-604 + message table 764)."""
    part = _t(spark, sf_dir, "part")
    schema = joi.object({
        "p_type": joi.string().pattern("^(STANDARD|SMALL|MEDIUM|LARGE)$"),
    })
    res = joi.validate(part, schema, prefs={"abort_early": False},
                       order_by=["p_partkey"])
    return res.violations().select("p_partkey", *_VCOLS)


def q_number_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """number max/positive (reference: lib/types/number.js:122-163,214-258)."""
    li = _t(spark, sf_dir, "lineitem")
    schema = joi.object({
        "l_quantity": joi.number().max(45),
        "l_discount": joi.number().max(0.08),
        "l_tax": joi.number().positive(),
    })
    res = joi.validate(li, schema, prefs={"abort_early": False},
                       order_by=["l_orderkey", "l_linenumber"])
    return res.violations().select("l_orderkey", "l_linenumber", *_VCOLS)


def q_date_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date.max (reference: lib/types/date.js:56-79)."""
    orders = _t(spark, sf_dir, "orders")
    schema = joi.object({"o_orderdate": joi.date().max("1999-12-31")})
    res = joi.validate(orders, schema, prefs={"abort_early": False},
                       order_by=["o_orderkey"])
    return res.violations().select("o_orderkey", *_VCOLS)


def q_when_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when(ref, is, then) conditional schema (reference:
    lib/base.js:319-365 → lib/types/alternatives.js:165-246)."""
    events = _t(spark, sf_dir, "events")
    schema = joi.object({
        "value": joi.number().when("event_type", is_="purchase",
                                   then=joi.number().min(0.5)),
    })
    res = joi.validate(events, schema, prefs={"abort_early": False},
                       order_by=["event_id"])
    return res.violations().select("event_id", *_VCOLS)


def q_converted_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert-mode coercion projection — result.value analogue
    (reference: lib/types/string/index.js:68-135 coerce; lib/validator.js:390)."""
    events = _t(spark, sf_dir, "events")
    schema = joi.object({
        "event_type": joi.string().uppercase(),
        "props": joi.string().trim(),
    })
    res = joi.validate(events, schema)
    return res.value.select("event_id", "event_type", "props")


def q_abort_early_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abort_early=True reports only the FIRST failing rule per row in
    schema order (reference: lib/validator.js:308-311; SURVEY.md §4)."""
    li = _t(spark, sf_dir, "lineitem")
    schema = joi.object({
        "l_discount": joi.number().max(0.08),
        "l_tax": joi.number().positive(),
    })
    res = joi.validate(li, schema, prefs={"abort_early": True},
                       order_by=["l_orderkey", "l_linenumber"])
    return res.violations().select("l_orderkey", "l_linenumber", *_VCOLS)


# ---------------------------------------------------------------------------
# dataset-level operators (conversation-as-array semantics, SURVEY.md §2.6)
# ---------------------------------------------------------------------------

def q_ds_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniqueness of a compound key ≙ array.unique (reference:
    lib/types/array.js:468-558): every occurrence after the first."""
    li = _t(spark, sf_dir, "lineitem")
    v = DS.unique_rows(li, ["l_orderkey", "l_linenumber"])
    return v.select("l_orderkey", "l_linenumber", *_VCOLS)


def q_ds_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index-gap detection ≙ array.sparse(false) (reference:
    lib/types/array.js:154-164); 1-based line numbers."""
    li = _t(spark, sf_dir, "lineitem")
    v = DS.sparse_gaps(li, conv_col="l_orderkey", idx_col="l_linenumber",
                       base=1)
    return v.select("l_orderkey", "l_linenumber", *_VCOLS).distinct()


def q_ds_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group-head check ≙ root-ref resolution (reference:
    lib/ref.js:111-131): every order's line numbering starts at 1."""
    li = _t(spark, sf_dir, "lineitem")
    v = DS.conversation_heads(li, conv_col="l_orderkey",
                              idx_col="l_linenumber", head=1)
    return v.select("l_orderkey", "l_linenumber", *_VCOLS)


def q_ds_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK resolution via broadcast anti-join ≙ link() (reference:
    lib/types/link.js:35-59); dimension truncated so orphans exist."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 1900)
    v = DS.referential(li, "l_partkey", dim, "p_partkey",
                       order_by=["l_orderkey", "l_linenumber"])
    return v.select("l_orderkey", "l_linenumber", *_VCOLS)


def q_ds_monotone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-group ordering ≙ array.sort by path (reference:
    lib/types/array.js:740-813) over a non-contiguous ordering column."""
    ev = _t(spark, sf_dir, "events")
    v = DS.monotone_by_order(ev, "value", part_col="user_id",
                             order_col="event_id")
    return v.select("user_id", "event_id", *_VCOLS)


def q_ds_group_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """salted two-phase group-size bounds ≙ array.min/max over the
    group-as-array (reference: lib/types/array.js:354-388); the salted
    aggregation is the skew-proof path (joi_spark.operators.skew)."""
    from joi_spark.operators import skew as SK
    li = _t(spark, sf_dir, "lineitem")
    v = SK.salted_conversation_sizes(li, conv_col="l_orderkey",
                                    idx_col="l_linenumber", min_turns=3)
    return v.select("l_orderkey", "n_turns", "code", "message")


# ---------------------------------------------------------------------------
# statistics / drift (north_rule profiling half)
# ---------------------------------------------------------------------------

def q_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return ST.column_stats_exact(
        li, ["l_quantity", "l_extendedprice", "l_discount"])


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return ST.value_histogram(orders, "o_totalprice", n_buckets=20)


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the priority mix year-over-year (north_rule drift check)."""
    orders = _t(spark, sf_dir, "orders") \
        .withColumn("epoch", F.year("o_orderdate"))
    out = DR.psi(orders, "o_orderpriority", epoch_col="epoch")
    return out.select("column", "epoch", "baseline_epoch", _e6("psi"))


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucketed-CDF Kolmogorov–Smirnov drift per epoch vs baseline."""
    orders = _t(spark, sf_dir, "orders") \
        .withColumn("epoch", F.year("o_orderdate"))
    out = DR.ks_statistic(orders, "o_totalprice", epoch_col="epoch",
                          n_buckets=200)
    return out.select("column", "epoch", "baseline_epoch", _e6("ks"))


def q_ref_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK resolution through a broadcast Bloom filter ≙ link()
    (reference: lib/types/link.js:35-59) for dimensions too large to
    broadcast whole — zero shuffle of the fact table
    (operators/sketches.py).  The filter is sized so the one-sided
    miss probability is ≪ 1e-9 at this key count, so the exact
    anti-join SQL is a valid value oracle."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 1900)
    v = SKT.referential_bloom(li, "l_partkey", dim, "p_partkey",
                              order_by=["l_orderkey", "l_linenumber"])
    return v.select("l_orderkey", "l_linenumber", *_VCOLS)


def q_hll_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-epoch HLL cardinality manifest (north_rule:
    "distinct/HLL cardinality"): the ALL row re-merges the per-epoch
    sketches WITHOUT rescanning the data.  ``n_exact`` is the exact
    distinct count (oracle-checkable); ``within_tol`` asserts the
    sketch estimate lands within 5% of it — if an estimate drifted,
    the boolean would flip and the value hash would mismatch."""
    orders = _t(spark, sf_dir, "orders") \
        .withColumn("epoch", F.year("o_orderdate"))
    man = SKT.cardinality_manifest(orders, ["o_custkey"],
                                   partition_col="epoch")
    per_est = man.select(F.col("partition").cast("string").alias("epoch"),
                         "column", "estimate")
    glob_est = SKT.cardinality_merge(man) \
        .select(F.lit("ALL").alias("epoch"), "column", "estimate")
    est = per_est.unionByName(glob_est)
    per_exact = (orders.groupBy(F.col("epoch").cast("string").alias("epoch"))
                       .agg(F.countDistinct("o_custkey").alias("n_exact")))
    glob_exact = (orders.agg(F.countDistinct("o_custkey").alias("n_exact"))
                        .select(F.lit("ALL").alias("epoch"), "n_exact"))
    exact = per_exact.unionByName(glob_exact)
    return (est.join(F.broadcast(exact), "epoch")
               .select("column", "epoch",
                       F.col("n_exact").cast("long").alias("n_exact"),
                       (F.abs(F.col("estimate").cast("double")
                              - F.col("n_exact"))
                        <= 0.05 * F.col("n_exact")).alias("within_tol"))
               .orderBy("epoch"))


def q_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 drift of the price distribution per shipping year
    vs baseline — quantile-function integral over a 20-point midpoint
    grid (operators/sketches.py).  exact=True (sort-based percentile)
    keeps it DuckDB quantile_cont-reproducible; the production path is
    the KLL approx_percentile sketch."""
    li = _t(spark, sf_dir, "lineitem") \
        .withColumn("epoch", F.year("l_shipdate"))
    qd = SKT.quantile_drift(li, "l_extendedprice", exact=True)
    return qd.select("column", "epoch", "baseline_epoch", _e6("w1"))


def q_stats_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-epoch anomaly screen over the stats manifest: z-scores of
    per-epoch mean/null-fraction against the across-epoch distribution
    (operators/stats.py).  Cost after the single aggregation pass is
    independent of row count."""
    orders = _t(spark, sf_dir, "orders") \
        .withColumn("epoch", F.year("o_orderdate"))
    out = ST.epoch_anomalies(orders, ["o_totalprice"], epoch_col="epoch",
                             z_threshold=1.5)
    return out.select("column", "epoch", "metric",
                      _e6("value"), _e6("z"), "flagged")


def q_bool_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boolean() string coercion with case-insensitive true/false
    (reference: lib/types/boolean.js:34-51)."""
    ev = _t(spark, sf_dir, "events")
    flagged = ev.withColumn(
        "flag", F.when(F.col("value") > 400, "maybe")
                 .when(F.col("value") > 50, "TRUE").otherwise("false"))
    schema = joi.object({"flag": joi.boolean()})
    res = joi.validate(flagged, schema, prefs={"abort_early": False},
                       order_by=["event_id"])
    return res.violations().select("event_id", *_VCOLS)


def q_date_unix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date().timestamp('unix') epoch-seconds coercion + min bound
    (reference: lib/types/date.js:125-132,172-215)."""
    ev = _t(spark, sf_dir, "events")
    schema = joi.object({
        "event_id": joi.date().timestamp("unix").min("1970-01-01 01:00:00"),
    })
    res = joi.validate(ev, schema, prefs={"abort_early": False},
                       order_by=["event_id"])
    return res.violations().select("event_id", *_VCOLS)


def q_array_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array().length().items() over an ArrayType column via
    higher-order forall (reference: lib/types/array.js:119-352)."""
    emb = _t(spark, sf_dir, "embeddings")
    schema = joi.object({
        "embedding": joi.array().length(64).items(
            joi.number().min(-0.25).max(0.25)),
    })
    res = joi.validate(emb, schema, prefs={"abort_early": False},
                       order_by=["vec_id"])
    return res.violations().select("vec_id", *_VCOLS)


def q_object_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """object() JSON-string coercion + per-row key-count rule
    (reference: lib/types/object.js:49-64,278-313)."""
    ev = _t(spark, sf_dir, "events")
    schema = joi.object({"props": joi.object().min(2)})
    res = joi.validate(ev, schema, prefs={"abort_early": False},
                       order_by=["event_id"])
    return res.violations().select("event_id", *_VCOLS)


def q_alternatives_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alternatives().try_() — first-match-wins OR composition
    (reference: lib/types/alternatives.js:33-114)."""
    ev = _t(spark, sf_dir, "events")
    schema = joi.object({
        "event_type": joi.alternatives(
            joi.string().valid("view", "click"),
            joi.string().pattern("^sign")),
    })
    res = joi.validate(ev, schema, prefs={"abort_early": False},
                       order_by=["event_id"])
    return res.violations().select("event_id", *_VCOLS)


def q_alternatives_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alternatives over bare base types — the reference's no-match
    classifier collapses all-base failures to 'alternatives.types'
    with the wrapped type list (lib/types/alternatives.js:63-90,
    309-312)."""
    ev = _t(spark, sf_dir, "events")
    schema = joi.object({
        "event_type": joi.alternatives(joi.number(), joi.boolean()),
    })
    res = joi.validate(ev, schema, prefs={"abort_early": False},
                       order_by=["event_id"])
    return res.violations().select("event_id", *_VCOLS)


def q_custom_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extend()/custom() plugin rule compiled to a Column predicate
    (reference: lib/extend.js:58-104)."""
    li = _t(spark, sf_dir, "lineitem")
    schema = joi.object({
        "l_quantity": joi.number().custom(
            lambda col, ctx: col % 5 == 0,
            message='"l_quantity" must be a multiple of five'),
    })
    res = joi.validate(li, schema, prefs={"abort_early": False},
                       order_by=["l_orderkey", "l_linenumber"])
    return res.violations().select("l_orderkey", "l_linenumber", *_VCOLS)


def q_deps_without(spark: SparkSession, sf_dir: str) -> DataFrame:
    """object().without() presence dependency (reference:
    lib/types/object.js:448-453,834-849)."""
    ev = _t(spark, sf_dir, "events")
    schema = joi.object({
        "props": joi.string(),
        "value": joi.number(),
    }).without("props", ["value"])
    res = joi.validate(ev, schema, prefs={"abort_early": False},
                       order_by=["event_id"])
    return (res.violations().filter(F.col("code") == "object.without")
               .select("event_id", *_VCOLS))


def q_rename_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """object().rename() before validation + conversion output
    (reference: lib/types/object.js:886-967)."""
    ev = _t(spark, sf_dir, "events")
    schema = joi.object({
        "kind": joi.string().uppercase(),
    }).rename("event_type", "kind")
    res = joi.validate(ev, schema)
    return res.value.select("event_id", "kind")


# ---------------------------------------------------------------------------
# training-data pipeline operators (text / dedup / similarity / multimodal)
# ---------------------------------------------------------------------------

def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document quality metrics (map-only projection)."""
    docs = _t(spark, sf_dir, "documents")
    m = TX.text_metrics(docs)
    return m.select("doc_id", "n_chars", "n_tokens",
                    _e6("avg_token_len"), _e6("punct_frac"),
                    _e6("uniq_token_frac"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stopword-scoring language identification."""
    docs = _t(spark, sf_dir, "documents")
    return TX.language_id(docs).select(
        "doc_id", "lang_pred", _e6("lang_score"))


def q_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prefix-fingerprint dedup (md5 of first 8 tokens)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.fingerprint_duplicates(docs)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact 3-gram Jaccard near-dup pairs via inverted-index join."""
    docs = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, threshold=0.8).select(
        "id_a", "id_b", _e6("jaccard"))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified — output
    must equal the exact n-gram computation (recall check)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, threshold=0.8).select(
        "id_a", "id_b", _e6("jaccard"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-index near-dup detection (operators/dedup.py
    incremental MinHash index): the corpus (doc_id % 3 != 0) is
    indexed ONCE to parquet; the batch (doc_id % 3 == 0) finds its
    pairs against the stored bands/sizes/shingles without re-reading
    corpus text.  Output equals the exact n-gram pair enumeration
    restricted to pairs touching the batch."""
    import hashlib
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/joi_mh_index_{tag}"
    DD.build_minhash_index(corpus, path)
    return DD.incremental_minhash_pairs(batch, path, threshold=0.8) \
             .select("id_a", "id_b", _e6("jaccard"), "scope")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — md5-based bit hash, so the DuckDB
    oracle reproduces the exact 64-bit signatures."""
    docs = _t(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(docs, max_hamming=8)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-5 neighbors for query vectors 0-9."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, list(range(10)), k=5).select(
        "query_id", "neighbor_id", _e6("cosine"), "rank")


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximate top-5 via random-hyperplane LSH candidates (the ANN
    scale path); oracle reproduces the deterministic hyperplane
    buckets, so this checks the bucketed plan itself, not just recall."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(emb, list(range(10)), k=5, n_bits=4,
                        n_tables=4).select(
        "query_id", "neighbor_id", _e6("cosine"), "rank")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximate top-5 via inverted-file (IVF) lists — the second ANN
    scale path next to LSH (joi_spark.operators.similarity.ivf_topk).
    The coarse quantizer is the deterministic spherical one, so the
    oracle reproduces the exact list assignments (home lists AND probe
    ranking), checking the inverted-list plan itself, not just recall."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, list(range(10)), k=5, n_lists=8,
                        nprobe=3).select(
        "query_id", "neighbor_id", _e6("cosine"), "rank")


def q_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against a PERSISTED index (operators/similarity.py
    build_ivf_index / ivf_topk_from_index): the corpus is written to
    list_id-partitioned parquet once; queries probe only their nprobe
    list directories (partition pruning).  Under the same deterministic
    quantizer the output is bit-identical to q_ivf_topk, so the same
    exact oracle applies — it verifies the PERSISTED path end-to-end
    (float roundtrip, pruning, stored-vector rescoring)."""
    import hashlib
    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/joi_ivf_index_{tag}"
    SIM.build_ivf_index(emb, path, n_lists=8)
    return SIM.ivf_topk_from_index(emb.filter(F.col("vec_id") < 10),
                                   path, k=5, nprobe=3).select(
        "query_id", "neighbor_id", _e6("cosine"), "rank")


def q_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-cosine near-dup pairs ≥ 0.45 via the DEFAULT
    RP-bucketed candidate path (4 bits × 8 tables); the oracle
    reproduces the same deterministic buckets."""
    emb = _t(spark, sf_dir, "embeddings")
    return DD.embedding_near_pairs(emb, threshold=0.45).select(
        "id_a", "id_b", _e6("cosine"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-threshold dedup: deterministic
    spherical-centroid home assignment, within-cluster cosine ≥ 0.45,
    keep-first (joi_spark.operators.dedup.semantic_dedup).  The oracle
    reproduces the centroid literals, so it checks the clustered plan
    itself."""
    emb = _t(spark, sf_dir, "embeddings")
    return DD.semantic_dedup(emb, threshold=0.45, n_lists=8)


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document duplicated 8-token-window exposure (the exact-
    substring-dedup screening metric, Lee et al. 2021) —
    joi_spark.operators.dedup.window_dup_stats."""
    docs = _t(spark, sf_dir, "documents")
    return DD.window_dup_stats(docs, n=8).select(
        "doc_id", "n_windows", "dup_windows", _e6("dup_fraction"))


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merged token intervals of cross-document-duplicated 8-token
    windows (the spans exact-substring dedup would cut) —
    joi_spark.operators.dedup.duplicated_spans."""
    docs = _t(spark, sf_dir, "documents")
    return DD.duplicated_spans(docs, n=8)


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus-trained add-k bigram LM fluency scores (CCNet-style
    quality signal) — joi_spark.operators.text.bigram_lm_scores."""
    docs = _t(spark, sf_dir, "documents")
    return TX.bigram_lm_scores(docs).select(
        "doc_id", "n_bigrams", _e6("avg_logp"), _e6("ppl"))


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document top-3 TF-IDF keywords —
    joi_spark.operators.text.tfidf_topk_terms."""
    docs = _t(spark, sf_dir, "documents")
    return TX.tfidf_topk_terms(docs, k=3).select(
        "doc_id", "token", _e6("tf"), _e6("idf"), _e6("tfidf"),
        "rank")


def q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the cut step: rebuild each document with its duplicated spans
    removed (canonical token form) —
    joi_spark.operators.dedup.cut_duplicated_spans."""
    docs = _t(spark, sf_dir, "documents")
    return DD.cut_duplicated_spans(docs, n=8)


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """domain-mixture resampling to target proportions
    (joi_spark.operators.sampling.mix_to_target): declarative rate
    table (no driver count round-trip), md5-hex threshold selection
    reproducible in any SQL engine."""
    docs = _t(spark, sf_dir, "documents")
    out = SP.mix_to_target(docs, "source", _MIX_TARGETS, seed="mix")
    return out.select("doc_id", "source", "n_chars")


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-source corpus data card (docs, tokens, exact-dup exposure,
    language mix) — joi_spark.operators.corpus.corpus_report."""
    docs = _t(spark, sf_dir, "documents")
    rep = CP.corpus_report(docs)
    # hash-stable micro-ratios from the EXACT integer counters — the
    # raw avg_tokens/dup_frac doubles never reach the driver compare
    return rep.select(
        "source", "n_docs", "n_tokens",
        _ratio_e6("n_tokens", "n_docs", "avg_tokens_e6"),
        "min_tokens", "max_tokens", "dup_docs",
        _ratio_e6("dup_docs", "n_docs", "dup_frac_e6"),
        "n_langs", "top_lang")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary media
    payloads; DuckDB reproduces the sha256-of-ASCII-payload digests."""
    media = MM.synthetic_media(spark, 200)
    return MM.extract_features(media, dim=8).select(
        "media_id", "kind", "n_bytes", "digest")


def q_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """video frame-sampling plan: explode-before-decode so frame tasks
    parallelize across the cluster (joi_spark.operators.multimodal)."""
    media = MM.synthetic_media(spark, 200)
    return MM.frame_sample_plan(media, every_ms=1000)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whitespace + BPE-ish regex token counting over documents."""
    docs = _t(spark, sf_dir, "documents")
    return TX.token_stats(docs).select(
        "doc_id", "ws_tokens", "bpe_ish_tokens",
        _e6("chars_per_token"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-size token-window chunking with overlap (64-token chunks,
    16-token overlap → stride 48) — map-only transform + posexplode
    (joi_spark.operators.corpus.chunk_documents)."""
    docs = _t(spark, sf_dir, "documents")
    return CP.chunk_documents(docs, chunk_tokens=64, overlap=16)


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gap-based sessionization (8h gap) + per-session aggregates over
    the events stream (joi_spark.operators.dataset.sessionize /
    session_stats; epoch-microsecond gap math so DuckDB's epoch_us
    reproduces the integers bit-for-bit)."""
    ev = _t(spark, sf_dir, "events")
    st = DS.session_stats(ev, gap_seconds=28800)
    return st.select(st.columns[0], "session_idx", "n_events",
                     "sess_start", "sess_end", _e6("duration_sec"))


def _pii_seed(spark_dialect: bool) -> str:
    """Deterministic PII injection into the documents text — the SAME
    expression in both dialects so inputs are byte-identical."""
    t = "STRING" if spark_dialect else "VARCHAR"
    s = f"CAST(doc_id AS {t})"
    return (
        f"text"
        f" || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || {s}"
        f" || '@example.com' ELSE '' END"
        f" || CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.'"
        f" || CAST(doc_id % 256 AS {t}) || '.7' ELSE '' END"
        f" || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END"
        f" || CASE WHEN doc_id % 6 = 0 THEN ' card 4111111111111'"
        f" || CAST(doc_id % 10 AS {t}) ELSE '' END")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-category counts over documents salted
    with deterministic synthetic PII (joi_spark.operators.corpus;
    patterns are RE2-safe so the oracle runs the IDENTICAL strings)."""
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", _pii_seed(True) + " AS text")
    return CP.pii_scrub(docs)


def _pii_scrub_oracle() -> str:
    from joi_spark.operators.corpus import PII_PATTERNS
    sql = (f"WITH s0 AS (SELECT doc_id, {_pii_seed(False)} AS t"
           f" FROM documents)")
    prev = "s0"
    cols = []
    for i, (cat, pat, repl) in enumerate(PII_PATTERNS, 1):
        carried = ", ".join(f"n_{c}" for c, _, _ in PII_PATTERNS[:i - 1])
        carried = carried + ", " if carried else ""
        sql += (f", s{i} AS (SELECT doc_id, {carried}"
                f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT)"
                f" AS n_{cat}, "
                f"regexp_replace(t, '{pat}', '{repl}', 'g') AS t"
                f" FROM {prev})")
        prev = f"s{i}"
        cols.append(f"n_{cat}")
    total = " + ".join(cols)
    return (sql + f" SELECT doc_id, t AS text, {', '.join(cols)}, "
            f"CAST({total} AS BIGINT) AS n_pii FROM {prev}")


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic train/val/test assignment keyed only on
    md5(seed:id) — stable under resharding, unlike df.sample()
    (joi_spark.operators.corpus.hash_split)."""
    docs = _t(spark, sf_dir, "documents")
    out = CP.hash_split(docs, weights={"train": 0.9, "val": 0.05,
                                       "test": 0.05}, seed="r3")
    return out.select("doc_id", "split")


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train/eval decontamination: benchmark-shingle broadcast join —
    every (training doc, benchmark doc) pair where ≥50% of the
    benchmark doc's 3-gram shingles appear in the training doc
    (joi_spark.operators.dedup.contamination; the benchmark here is
    the deterministic doc_id % 25 == 0 slice, so self-pairs and the
    corpus's planted duplicates are the expected hits)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter((F.col("doc_id") % 25) == 0)
    c = DD.contamination(docs, bench, n=3, min_overlap_frac=0.5)
    return c.select("doc_id", "bench_id", "n_shared",
                    _e6("overlap_frac"))


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals: duplicate-line
    fractions and most-frequent-2-gram character coverage, computed
    map-only with per-row array_sort + single-pass aggregate folds
    (joi_spark.operators.text.repetition_signals — no explode/groupBy
    shuffle; the oracle recomputes via unnest + GROUP BY)."""
    docs = _t(spark, sf_dir, "documents")
    r = TX.repetition_signals(docs, ngram_n=2)
    return r.select("doc_id", "n_lines", _e6("dup_line_frac"),
                    _e6("dup_line_char_frac"), "top_ngram",
                    _e6("top_ngram_frac"), _e6("dup_ngram_frac"))


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """composite keep/drop quality gate with per-document reasons.

    The operator returns ``reasons array<string>``; the driver's
    canonicalizer pandas-sorts rows and list cells are unhashable, so
    the query flattens to a '|'-joined sorted scalar (semantics
    unchanged — the oracle does the same)."""
    docs = _t(spark, sf_dir, "documents")
    out = TX.quality_filter(docs, langs=["en", "de"])
    return out.select(
        "doc_id", "keep",
        F.array_join(F.array_sort("reasons"), "|").alias("reasons"))


# ---------------------------------------------------------------------------
# consolidated operator-family queries (string formats / generic flags /
# object tail) — every predicate here is regex/arithmetic, so the DuckDB
# oracle can re-run it; where DuckDB's RE2 dialect cannot express the
# rule's Java regex (lookaheads/backrefs: guid, isoDate, isoDuration,
# uri, dataUri), the oracle instead keys on the deterministic corruption
# class used to synthesize the input (golden-cases-at-scale), and the
# Luhn check is recomputed independently in SQL.
# ---------------------------------------------------------------------------

def _fmt_synth(spark_dialect: bool) -> dict[str, str]:
    """Mixed-format string columns synthesized from o_orderkey — the
    SAME expressions in both SQL dialects so the inputs are
    byte-identical across engines."""
    t = "STRING" if spark_dialect else "VARCHAR"
    s = f"CAST(o_orderkey AS {t})"
    b64 = (f"base64(CAST({s} AS BINARY))" if spark_dialect
           else f"to_base64(encode({s}))")
    h = f"md5({s})"
    return {
        "hexs": (f"CASE WHEN o_orderkey % 5 = 0 "
                 f"THEN substr({h}, 1, 12) || 'z' "
                 f"ELSE substr({h}, 1, 12) END"),
        "b64": f"CASE WHEN o_orderkey % 7 = 0 THEN '@@@@' ELSE {b64} END",
        "host": (f"CASE WHEN o_orderkey % 6 = 0 THEN '-bad-.example.com' "
                 f"ELSE 'node-' || {s} || '.example.com' END"),
        "ipaddr": f"CAST((o_orderkey * 7) % 300 AS {t}) || '.10.0.1'",
        "guid_c": (f"CASE WHEN o_orderkey % 9 = 0 THEN substr({h}, 1, 31) "
                   f"ELSE substr({h},1,8) || '-' || substr({h},9,4) || '-' "
                   f"|| substr({h},13,4) || '-' || substr({h},17,4) || '-' "
                   f"|| substr({h},21,12) END"),
        "card": f"lpad(CAST((o_orderkey * 7919) % 1000000000 AS {t}), 12, '0')",
        "uri_c": (f"CASE WHEN o_orderkey % 10 = 0 THEN 'http://exa mple.com/' "
                  f"ELSE 'https://example.com/p/' || {s} END"),
        "duration": (f"CASE WHEN o_orderkey % 8 = 0 THEN 'P' "
                     f"ELSE 'P' || CAST(o_orderkey % 30 AS {t}) || 'DT' "
                     f"|| CAST(o_orderkey % 24 + 1 AS {t}) || 'H' END"),
        "iso_d": (f"CASE WHEN o_orderkey % 11 = 0 THEN '2024-13-15T10:30:00Z' "
                  f"ELSE '2024-' || lpad(CAST(o_orderkey % 12 + 1 AS {t}), 2, '0') "
                  f"|| '-15T10:30:00Z' END"),
        "datauri": (f"CASE WHEN o_orderkey % 12 = 0 THEN 'data:;base64,YWJj' "
                    f"ELSE 'data:image/png;base64,' || {b64} END"),
    }


def q_string_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the string format-rule family in one pass — hex / base64 /
    hostname / ip / guid / creditCard / uri / isoDuration / isoDate /
    dataUri (reference: lib/types/string/index.js:211-366,320-508)."""
    orders = _t(spark, sf_dir, "orders")
    # the source is ONE small parquet file -> one scan task; the 10
    # regex families are the per-row cost here, so fan out before the
    # validate (at 100 TB the input arrives pre-split and this is a
    # no-op concern)
    par = spark.sparkContext.defaultParallelism
    synth = orders.repartition(par, "o_orderkey").selectExpr(
        "o_orderkey", *(f"{e} AS {c}" for c, e in _fmt_synth(True).items()))
    schema = joi.object({
        "hexs": joi.string().hex(),
        "b64": joi.string().base64(),
        "host": joi.string().hostname(),
        "ipaddr": joi.string().ip(),
        "guid_c": joi.string().guid(),
        "card": joi.string().creditCard(),
        "uri_c": joi.string().uri(),
        "duration": joi.string().isoDuration(),
        "iso_d": joi.string().isoDate(),
        "datauri": joi.string().dataUri(),
    })
    res = joi.validate(synth, schema,
                       prefs={"convert": False, "abort_early": False},
                       order_by=["o_orderkey"])
    return res.violations().select("o_orderkey", *_VCOLS)


def _string_formats_oracle() -> str:
    from joi_spark.functions import regexes as RX
    synth = ",\n                   ".join(
        f"{e} AS {c}" for c, e in _fmt_synth(False).items())
    # RE2-expressible rules re-run their REAL regex (single source:
    # joi_spark.functions.regexes); SQL needs quotes doubled
    def rx(pat: str) -> str:
        return pat.replace("'", "''")
    luhn = """
        (list_sum(list_transform(range(length(card)), i ->
            CASE WHEN i % 2 = 1 THEN
                CASE WHEN 2 * CAST(substr(card, length(card) - i, 1) AS INT) > 9
                     THEN 2 * CAST(substr(card, length(card) - i, 1) AS INT) - 9
                     ELSE 2 * CAST(substr(card, length(card) - i, 1) AS INT) END
            ELSE CAST(substr(card, length(card) - i, 1) AS INT) END)) % 10) = 0
    """
    rules = [
        ("hexs", "string.hex",
         '"hexs" must only contain hexadecimal characters',
         f"NOT regexp_matches(hexs, '{rx(RX.HEX)}')"),
        ("b64", "string.base64",
         '"b64" must be a valid base64 string',
         f"NOT regexp_matches(b64, '{rx(RX.BASE64[(True, False)])}')"),
        ("host", "string.hostname",
         '"host" must be a valid hostname',
         f"NOT regexp_matches(host, '{rx(RX.HOSTNAME)}')"),
        ("ipaddr", "string.ip",
         '"ipaddr" must be a valid ip address with a optional CIDR',
         f"NOT regexp_matches(ipaddr, '{rx(RX.ip_regex())}')"),
        ("guid_c", "string.guid",
         '"guid_c" must be a valid GUID',
         "o_orderkey % 9 = 0"),
        ("card", "string.creditCard",
         '"card" must be a credit card',
         f"NOT ({luhn})"),
        ("uri_c", "string.uri",
         '"uri_c" must be a valid uri',
         "o_orderkey % 10 = 0"),
        ("duration", "string.isoDuration",
         '"duration" must be a valid ISO 8601 duration',
         "o_orderkey % 8 = 0"),
        ("iso_d", "string.isoDate",
         '"iso_d" must be a valid ISO 8601 date',
         "o_orderkey % 11 = 0"),
        ("datauri", "string.dataUri",
         '"datauri" must be a valid dataUri string',
         "o_orderkey % 12 = 0"),
    ]
    unions = "\n            UNION ALL\n            ".join(
        f"""SELECT o_orderkey, '{code}' AS code,
                   '{msg.replace("'", "''")}' AS message,
                   'error' AS severity
            FROM t WHERE {cond}"""
        for _, code, msg, cond in rules)
    return f"""
        WITH t AS (SELECT o_orderkey,
                   {synth}
                   FROM orders)
        {unions}
    """


def q_generic_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the generic output-shaping flags in one pass — empty() +
    default(), default() on synthesized nulls, failover(), cast(),
    strip() (reference: lib/base.js:130-180,259-276; the stripped
    column's ABSENCE from the output is part of the check)."""
    ev = _t(spark, sf_dir, "events") \
        .withColumn("maybe", F.expr("nullif(event_type, 'error')"))
    schema = joi.object({
        "event_id": joi.number().cast("string"),
        "event_type": joi.string().empty("view").default("NONE"),
        "maybe": joi.string().default("filled"),
        "user_id": joi.number().max(100).failover(-9),
        "props": joi.string().strip(),
    })
    res = joi.validate(ev, schema)
    assert "props" not in res.value.columns, "strip() must drop the column"
    return res.value.select(
        "event_id", "event_type", "maybe",
        F.col("user_id").cast("double").alias("user_id"))


_GENERIC_FLAGS_ORACLE = """
    SELECT CAST(event_id AS VARCHAR) AS event_id,
           CASE WHEN event_type = 'view' OR event_type IS NULL
                THEN 'NONE' ELSE event_type END AS event_type,
           coalesce(nullif(event_type, 'error'), 'filled') AS maybe,
           CAST(CASE WHEN user_id > 100 THEN -9 ELSE user_id END
                AS DOUBLE) AS user_id
    FROM events
"""


def q_object_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """object cast('map') + rename(alias=True) end-to-end — the JSON
    props coerce to object, cast to map<string,string>, flattened to a
    sorted scalar for the hash compare (reference:
    lib/types/object.js:886-967 rename; cast map round-2 item)."""
    ev = _t(spark, sf_dir, "events")
    schema = joi.object({
        "props": joi.object().cast("map"),
        "kind": joi.string(),
    }).rename("event_type", "kind", alias=True)
    res = joi.validate(ev, schema)
    flat = F.array_join(F.array_sort(F.transform(
        F.map_entries(F.col("props")),
        lambda e: F.concat(e["key"], F.lit(":"), e["value"]))), "|")
    return res.value.select("event_id", "kind", "event_type",
                            flat.alias("props_flat"))


_OBJECT_TAIL_ORACLE = """
    SELECT event_id, event_type AS kind, event_type,
           array_to_string(list_sort(list_transform(json_keys(props),
               k -> k || ':' || json_extract_string(props, '$.' || k))),
               '|') AS props_flat
    FROM events
"""


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """materialize the deduped corpus (keep-first) from the
    prefix-fingerprint pair list — the pipeline's final dedup step."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.fingerprint_duplicates(docs)
    return DD.dedup_corpus(docs, pairs).select("doc_id", "text")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contiguous concat-then-split packing of documents into
    64-token context windows across 4 shards — window prefix sum,
    one shuffle on the shard key
    (joi_spark.operators.corpus.pack_sequences)."""
    docs = _t(spark, sf_dir, "documents")
    return CP.pack_sequences(docs, capacity=64, n_shards=4)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language-balanced deterministic downsampling: per-stratum
    md5-threshold rates, one map-only CASE filter
    (joi_spark.operators.sampling.stratified_sample)."""
    docs = _t(spark, sf_dir, "documents")
    out = SP.stratified_sample(docs, "lang",
                               {"en": 0.5, "de": 0.25}, seed="r3",
                               default_rate=0.1)
    return out.select("doc_id", "lang")


def q_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted sampling without replacement (Efraimidis–Spirakis
    A-Res): priority u^(1/w) from the md5 uniform, top-k via
    TakeOrderedAndProject — no global sort
    (joi_spark.operators.sampling.weighted_sample_topk)."""
    orders = _t(spark, sf_dir, "orders")
    return SP.weighted_sample_topk(orders, "o_totalprice", 100,
                                   id_col="o_orderkey", seed="r3") \
             .select("o_orderkey", "weight", _e6("priority"), "rank")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected components over the 3-gram Jaccard near-dup pairs —
    min-label propagation with pointer jumping, O(log diameter)
    rounds (joi_spark.operators.dedup.dedup_clusters)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.8)
    return DD.dedup_clusters(pairs).orderBy("id")


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus vocabulary top-k: explode → partial-agg count →
    TakeOrderedAndProject heap (joi_spark.operators.text.vocab_topk)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.vocab_topk(docs, k=200, min_count=2)


def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of the priority mix year-over-year —
    the bounded symmetric companion to PSI
    (joi_spark.operators.drift.js_divergence)."""
    orders = _t(spark, sf_dir, "orders") \
        .withColumn("epoch", F.year("o_orderdate"))
    out = DR.js_divergence(orders, "o_orderpriority", epoch_col="epoch")
    return out.select("column", "epoch", "baseline_epoch", _e6("jsd"))


# ---------------------------------------------------------------------------
# oracle-SQL generators for the LSH-family queries: the hyperplanes and
# bit hashes are deterministic (md5-derived), so the DuckDB oracle can
# reproduce the exact bucketed plan — embedded here as SQL literals
# ---------------------------------------------------------------------------

_EMB_DIM = 64   # embeddings.parquet vector width (TESTDATA.md)


def _rp_bucket_sql(alias: str, n_bits: int, seed: int,
                   dim: int = _EMB_DIM) -> str:
    """One RP bucket id as a DuckDB expression — mirrors
    joi_spark.operators.similarity.rp_bucket_table bit-for-bit (the
    hyperplane components are embedded as full-precision literals)."""
    from joi_spark.operators.similarity import _hyperplanes
    planes = _hyperplanes(n_bits, dim, seed)
    parts = []
    for p in range(n_bits):
        lit = "[" + ", ".join(repr(v) for v in planes[p]) + "]"
        proj = (f"list_sum(list_transform(range({dim}), i -> "
                f"CAST({alias}.embedding[i+1] AS DOUBLE) * ({lit})[i+1]))")
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


_COSINE_SQL = """
    list_sum(list_transform(range(64),
        i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(64),
           i -> CAST({a}[i+1] AS DOUBLE) * CAST({a}[i+1] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(64),
           i -> CAST({b}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))))
"""


def _embedding_near_oracle(threshold: float = 0.45, n_bits: int = 4,
                           n_tables: int = 8) -> str:
    buckets = ", ".join(f"{_rp_bucket_sql('e', n_bits, t)} AS b{t}"
                        for t in range(n_tables))
    share = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    cs = _COSINE_SQL.format(a="ea", b="eb")
    return f"""
        WITH b AS (SELECT vec_id, embedding, {buckets} FROM embeddings e),
        cand AS (SELECT a.vec_id AS ida, c.vec_id AS idb,
                        a.embedding AS ea, c.embedding AS eb
                 FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({share})),
        s AS (SELECT ida, idb, {cs} AS cs FROM cand)
        SELECT ida AS id_a, idb AS id_b,
               CAST(FLOOR((cs) * 1000000) AS BIGINT) AS cosine_e6
        FROM s WHERE cs >= {threshold}
    """


def _lsh_topk_oracle(k: int = 5, n_bits: int = 4, n_tables: int = 4) -> str:
    buckets = ", ".join(f"{_rp_bucket_sql('e', n_bits, t)} AS b{t}"
                        for t in range(n_tables))
    share = " OR ".join(f"q.b{t} = c.b{t}" for t in range(n_tables))
    cs = _COSINE_SQL.format(a="qe", b="ce")
    return f"""
        WITH b AS (SELECT vec_id, embedding, {buckets} FROM embeddings e),
        cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        q.embedding AS qe, c.embedding AS ce
                 FROM b q JOIN b c
                   ON c.vec_id <> q.vec_id AND ({share})
                 WHERE q.vec_id BETWEEN 0 AND 9),
        s AS (SELECT query_id, neighbor_id, {cs} AS cs FROM cand),
        r AS (SELECT query_id, neighbor_id, cs,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cs DESC, neighbor_id) AS rk
              FROM s)
        SELECT query_id, neighbor_id, CAST(FLOOR(cs * 1000000) AS BIGINT) AS cosine_e6,
               CAST(rk AS INT) AS rank
        FROM r WHERE rk <= {k}
    """


def _ivf_topk_oracle(k: int = 5, n_lists: int = 8, nprobe: int = 3) -> str:
    """Mirrors joi_spark.operators.similarity.ivf_topk bit-for-bit:
    the deterministic spherical centroids are embedded as literals;
    both engines rank centroid dot products with a strictly sequential
    left-fold and break ties to the smaller list id, so home lists and
    probe sets match exactly — the rescoring cosine then reuses the
    shared sequential-fold contract."""
    from joi_spark.operators.similarity import ivf_centroids
    cents = ivf_centroids(n_lists, _EMB_DIM)
    vals = ", ".join(
        "(" + str(c) + ", [" + ", ".join(repr(v) for v in cents[c]) + "])"
        for c in range(n_lists))
    cs = _COSINE_SQL.format(a="qe", b="ce")
    return f"""
        WITH cents(cid, cv) AS (SELECT * FROM (VALUES {vals})),
        d AS (SELECT e.vec_id, e.embedding, c.cid,
                     list_sum(list_transform(range({_EMB_DIM}),
                         i -> CAST(e.embedding[i+1] AS DOUBLE)
                              * c.cv[i+1])) AS s
              FROM embeddings e CROSS JOIN cents c),
        a AS (SELECT vec_id, embedding, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY s DESC, cid) AS rk
              FROM d),
        home AS (SELECT vec_id, embedding, cid FROM a WHERE rk = 1),
        probe AS (SELECT vec_id, embedding, cid FROM a
                  WHERE rk <= {nprobe} AND vec_id BETWEEN 0 AND 9),
        cand AS (SELECT p.vec_id AS query_id, h.vec_id AS neighbor_id,
                        p.embedding AS qe, h.embedding AS ce
                 FROM probe p JOIN home h
                   ON p.cid = h.cid AND h.vec_id <> p.vec_id),
        s2 AS (SELECT query_id, neighbor_id, {cs} AS cs FROM cand),
        r2 AS (SELECT query_id, neighbor_id, cs,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cs DESC, neighbor_id)
                          AS rk
               FROM s2)
        SELECT query_id, neighbor_id, CAST(FLOOR(cs * 1000000) AS BIGINT) AS cosine_e6,
               CAST(rk AS INT) AS rank
        FROM r2 WHERE rk <= {k}
    """


def _semantic_dedup_oracle(threshold: float = 0.45,
                           n_lists: int = 8) -> str:
    """Mirrors joi_spark.operators.dedup.semantic_dedup bit-for-bit:
    centroid literals + sequential-fold scores give identical home
    clusters; within-cluster pairs + keep-first min-neighbor."""
    from joi_spark.operators.similarity import ivf_centroids
    cents = ivf_centroids(n_lists, _EMB_DIM)
    vals = ", ".join(
        "(" + str(c) + ", [" + ", ".join(repr(v) for v in cents[c]) + "])"
        for c in range(n_lists))
    cs = _COSINE_SQL.format(a="ea", b="eb")
    return f"""
        WITH cents(cid, cv) AS (SELECT * FROM (VALUES {vals})),
        d AS (SELECT e.vec_id, e.embedding, c.cid,
                     list_sum(list_transform(range({_EMB_DIM}),
                         i -> CAST(e.embedding[i+1] AS DOUBLE)
                              * c.cv[i+1])) AS s
              FROM embeddings e CROSS JOIN cents c),
        a AS (SELECT vec_id, embedding, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY s DESC, cid) AS rk
              FROM d),
        home AS (SELECT vec_id, embedding, cid FROM a WHERE rk = 1),
        p AS (SELECT x.vec_id AS ia, y.vec_id AS ib,
                     x.embedding AS ea, y.embedding AS eb
              FROM home x JOIN home y
                ON x.cid = y.cid AND x.vec_id < y.vec_id),
        close AS (SELECT ia, ib FROM
                  (SELECT ia, ib, {cs} AS c2 FROM p)
                  WHERE c2 >= {threshold}),
        dup AS (SELECT ib AS vec_id, min(ia) AS dup_of
                FROM close GROUP BY ib)
        SELECT h.vec_id, CAST(h.cid AS INT) AS list_id,
               (u.dup_of IS NULL) AS keep, u.dup_of
        FROM home h LEFT JOIN dup u USING (vec_id)
    """


def _window_dedup_oracle(n: int = 8) -> str:
    """Mirrors joi_spark.operators.dedup.window_dup_stats: identical
    tokenization (trim+lower+\\s+ split), identical md5 window keys,
    cross-document-only duplication."""
    return f"""
        WITH t AS (SELECT doc_id,
                          string_split_regex(trim(lower(text)),
                                             '\\s+') AS tok
                   FROM documents WHERE text IS NOT NULL),
        pos AS (SELECT doc_id,
                       md5(array_to_string(tok[i:i+{n - 1}], ' ')) AS w
                FROM t, unnest(generate_series(1, len(tok) - {n - 1}))
                     AS u(i)),
        shared AS (SELECT w FROM (SELECT DISTINCT doc_id, w FROM pos)
                   GROUP BY w HAVING count(*) >= 2),
        per AS (SELECT p.doc_id, count(*) AS n_windows,
                       count(s.w) AS dup_windows
                FROM pos p LEFT JOIN shared s USING (w)
                GROUP BY p.doc_id)
        SELECT d.doc_id,
               COALESCE(per.n_windows, 0) AS n_windows,
               COALESCE(per.dup_windows, 0) AS dup_windows,
               CASE WHEN per.n_windows > 0
                    THEN CAST(FLOOR((per.dup_windows / per.n_windows)
                                    * 1000000) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS dup_fraction_e6
        FROM documents d LEFT JOIN per USING (doc_id)
    """


def _cut_spans_oracle(n: int = 8) -> str:
    """Mirrors joi_spark.operators.dedup.cut_duplicated_spans:
    span CTEs as _dup_spans_oracle, then rebuild each doc from the
    tokens OUTSIDE any span (ordered string_agg = the canonical
    lowercased single-space form both engines share)."""
    spans_body = _dup_spans_oracle(n).strip()
    assert spans_body.startswith("WITH ")
    return f"""
        {spans_body[:spans_body.rindex("SELECT doc_id, min(i)")]},
        spans AS (SELECT doc_id, min(i) AS s, max(i) + {n - 1} AS e
                  FROM isl GROUP BY doc_id, g),
        tokpos AS (SELECT t.doc_id, t.tok[i] AS tk, i
                   FROM t, unnest(generate_series(1, len(t.tok)))
                        AS u(i)),
        kept AS (SELECT tp.doc_id, tp.tk, tp.i FROM tokpos tp
                 WHERE NOT EXISTS (SELECT 1 FROM spans s
                       WHERE s.doc_id = tp.doc_id
                         AND tp.i BETWEEN s.s AND s.e)),
        agg AS (SELECT doc_id,
                       string_agg(tk, ' ' ORDER BY i) AS ct,
                       count(*) AS n_keep
                FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(a.ct, '') END AS clean_text,
               CASE WHEN d.text IS NULL THEN 0
                    ELSE len(string_split_regex(trim(lower(d.text)),
                                                '\\s+')) END
                   AS n_tokens,
               CASE WHEN d.text IS NULL THEN 0
                    ELSE len(string_split_regex(trim(lower(d.text)),
                                                '\\s+'))
                         - COALESCE(a.n_keep, 0) END
                   AS n_tokens_removed
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def _dup_spans_oracle(n: int = 8) -> str:
    """Mirrors joi_spark.operators.dedup.duplicated_spans: identical
    window keys, gaps-and-islands merge (break when the next start
    exceeds previous start + n)."""
    return f"""
        WITH t AS (SELECT doc_id,
                          string_split_regex(trim(lower(text)),
                                             '\\s+') AS tok
                   FROM documents WHERE text IS NOT NULL),
        pos AS (SELECT doc_id, i,
                       md5(array_to_string(tok[i:i+{n - 1}], ' ')) AS w
                FROM t, unnest(generate_series(1, len(tok) - {n - 1}))
                     AS u(i)),
        shared AS (SELECT w FROM (SELECT DISTINCT doc_id, w FROM pos)
                   GROUP BY w HAVING count(*) >= 2),
        dup AS (SELECT p.doc_id, p.i FROM pos p JOIN shared s
                USING (w)),
        brk AS (SELECT doc_id, i,
                       CASE WHEN i > COALESCE(lag(i) OVER (
                                PARTITION BY doc_id ORDER BY i) + {n},
                                -1) THEN 1 ELSE 0 END AS b
                FROM dup),
        isl AS (SELECT doc_id, i,
                       sum(b) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS UNBOUNDED PRECEDING) AS g
                FROM brk)
        SELECT doc_id, min(i) AS span_start,
               max(i) + {n - 1} AS span_end,
               count(*) AS n_dup_windows
        FROM isl GROUP BY doc_id, g
    """


def _mix_sample_oracle(targets: dict[str, float],
                       seed: str = "mix") -> str:
    """Mirrors joi_spark.operators.sampling.mix_to_target: same
    N* = min(count/target) scale, same multiply-then-divide rate
    order, same floor-to-32-bit hex threshold quantization, same
    lexicographic md5 selection."""
    vals = ", ".join(f"('{k}', {v!r})" for k, v in targets.items())
    return f"""
        WITH tgt(source, tf) AS (SELECT * FROM (VALUES {vals})),
        c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
              FROM documents GROUP BY source),
        j AS (SELECT c.source, c.n, tgt.tf FROM c JOIN tgt USING (source)),
        m AS (SELECT min(n / tf) AS nstar FROM j),
        r AS (SELECT j.source,
                     printf('%08x', CAST(least(
                         floor(least(j.tf * m.nstar / j.n, 1.0)
                               * 4294967296.0),
                         4294967295.0) AS BIGINT)) AS thr
              FROM j, m)
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN r ON d.source = r.source
        WHERE substring(md5('{seed}' || ':'
                            || CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr
    """


def _lang_id_oracle() -> str:
    """Generated from joi_spark.operators.text.STOPWORDS so the Spark
    implementation and the DuckDB oracle share ONE word-list source."""
    from joi_spark.operators.text import LANG_ORDER, STOPWORDS
    score_cols = []
    for lang in LANG_ORDER:
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(tok, x -> x IN ({words})))"
            f" / len(tok) AS s_{lang}")
    whens = []
    for lang in LANG_ORDER[:-1]:
        conds = " AND ".join(f"s_{lang}>=s_{o}"
                             for o in LANG_ORDER if o != lang)
        whens.append(f"WHEN {conds} THEN '{lang}'")
    best = ", ".join(f"s_{lang}" for lang in LANG_ORDER)
    return f"""
        WITH t AS (SELECT doc_id,
                          string_split_regex(trim(lower(text)),
                                             '\\s+') AS tok
                   FROM documents),
        s AS (SELECT doc_id, {", ".join(score_cols)} FROM t)
        SELECT doc_id,
               CASE {" ".join(whens)} ELSE '{LANG_ORDER[-1]}' END
                   AS lang_pred,
               CAST(FLOOR(greatest({best}) * 1000000) AS BIGINT)
                   AS lang_score_e6
        FROM s
    """


def _quality_filter_oracle(min_chars: int = 20,
                           max_punct_frac: float = 0.3,
                           min_uniq: float = 0.3,
                           langs: tuple = ("en", "de")) -> str:
    """Generated from the same STOPWORDS/threshold constants as
    joi_spark.operators.text.quality_filter.  ``(x) IS NOT TRUE``
    mirrors the engine's null-is-a-failure coalesce semantics."""
    from joi_spark.operators.text import LANG_ORDER, STOPWORDS

    def score(lang):
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        return (f"len(list_filter(ltok, x -> x IN ({words})))"
                f" / len(ltok)")

    allowed = ", ".join(score(lg) for lg in langs)
    anylang = ", ".join(score(lg) for lg in LANG_ORDER)
    lang_tag = "lang:" + ",".join(langs)
    return rf"""
        WITH t AS (SELECT doc_id, text,
                          string_split_regex(trim(text), '\s+') AS tok,
                          string_split_regex(trim(lower(text)),
                                             '\s+') AS ltok
                   FROM documents),
        m AS (SELECT doc_id,
                     length(text) AS nc,
                     (length(text) - length(regexp_replace(text,
                          '[^a-zA-Z0-9 ]', '', 'g'))) / length(text) AS pf,
                     len(list_distinct(tok)) / len(tok) AS uf,
                     greatest({allowed}) AS s_allowed,
                     greatest({anylang}) AS s_any
              FROM t),
        r AS (SELECT doc_id, list_filter([
                 CASE WHEN (nc >= {min_chars}) IS NOT TRUE
                      THEN 'too_short:<{min_chars}' END,
                 CASE WHEN (pf <= {max_punct_frac}) IS NOT TRUE
                      THEN 'punct:>{max_punct_frac}' END,
                 CASE WHEN (uf >= {min_uniq}) IS NOT TRUE
                      THEN 'repetitive:<{min_uniq}' END,
                 CASE WHEN (s_allowed >= s_any) IS NOT TRUE
                      THEN '{lang_tag}' END
              ], x -> x IS NOT NULL) AS reasons FROM m)
        SELECT doc_id, len(reasons) = 0 AS keep,
               coalesce(array_to_string(list_sort(reasons), '|'), '')
                   AS reasons
        FROM r
    """


def _simhash_oracle(max_hamming: int = 8) -> str:
    """DuckDB twin of dedup.simhash_near_pairs: identical md5-derived
    64-bit signatures, chunk-pigeonhole candidates, exact Hamming."""
    sum_exprs = []
    for b in range(64):
        half = "hlo" if b < 32 else "hhi"
        sum_exprs.append(
            f"SUM(CASE WHEN (({half} >> {b % 32}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s{b}")
    chunk_exprs = []
    for c in range(4):
        terms = [f"(CASE WHEN s{c * 16 + i} > 0 THEN {1 << i} ELSE 0 END)"
                 for i in range(16)]
        chunk_exprs.append("(" + " + ".join(terms) + f") AS c{c}")
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4))
    pigeon = " OR ".join(f"a.c{c} = b.c{c}" for c in range(4))
    return f"""
        WITH toks AS (SELECT doc_id,
                             unnest(string_split_regex(trim(lower(text)),
                                                       '\\s+')) AS t
                      FROM documents),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 8))::BIGINT AS hlo,
                     ('0x' || substr(md5(t), 9, 8))::BIGINT AS hhi
              FROM toks),
        s AS (SELECT doc_id, {", ".join(sum_exprs)} FROM h GROUP BY doc_id),
        c AS (SELECT doc_id, {", ".join(chunk_exprs)} FROM s),
        p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                     CAST({ham} AS INT) AS hamming
              FROM c a JOIN c b
                ON a.doc_id < b.doc_id AND ({pigeon}))
        SELECT ida AS id_a, idb AS id_b, hamming
        FROM p WHERE hamming <= {max_hamming}
    """


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: composite schema over orders at sf0.001 — enum + date
    bound + price cap + priority pattern, all violations reported."""
    sf_dir = "/root/testdata/sf0.001"
    orders = _t(spark, sf_dir, "orders")
    schema = joi.object({
        "o_orderstatus": joi.string().valid("O", "F", "P").required(),
        "o_orderdate": joi.date().max("1999-12-31"),
        "o_totalprice": joi.number().positive().max(400000),
        "o_orderpriority": joi.string().pattern("^[1-5]-[A-Z ]+$"),
    })
    res = joi.validate(orders, schema, prefs={"abort_early": False},
                       order_by=["o_orderkey"])
    return res.violations().select("o_orderkey", *_VCOLS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order matters: the driver's correctness gate checks the FIRST 50
    # entries.  Gate coverage ROTATES each round (round-4 advice: don't
    # cite pre-change verdicts as current verification): round 6
    # front-loads the 21 entries that sat past the round-5 gate window
    # (lang_id ... rename_convert), which include the value-context
    # schemas (array_items, alternatives_or, alternatives_types) whose
    # compile path changed.  The 21 entries past position 50 (the
    # round-5 window's last 21, object_tail ... text_metrics) are
    # re-verified every round by
    # tests/test_coverage_tail.py::test_rotation_tail_oracle_smoke.
    return {
        # past the round-5 gate window — gate these first
        "lang_id": q_lang_id,
        "fingerprint_dups": q_fingerprint_dups,
        "ds_unique": q_ds_unique,
        "ds_sparse": q_ds_sparse,
        "ds_heads": q_ds_heads,
        "ds_referential": q_ds_referential,
        "ds_monotone": q_ds_monotone,
        "ds_group_sizes": q_ds_group_sizes,
        "stats_exact": q_stats_exact,
        "histogram": q_histogram,
        "psi_drift": q_psi_drift,
        "ks_drift": q_ks_drift,
        "bool_coercion": q_bool_coercion,
        "date_unix": q_date_unix,
        "array_items": q_array_items,
        "object_json": q_object_json,
        "alternatives_or": q_alternatives_or,
        "alternatives_types": q_alternatives_types,
        "custom_rule": q_custom_rule,
        "deps_without": q_deps_without,
        "rename_convert": q_rename_convert,
        # round-5 gate window
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "cosine_topk": q_cosine_topk,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_near": q_embedding_near,
        "semantic_dedup": q_semantic_dedup,
        "window_dedup": q_window_dedup,
        "dup_spans": q_dup_spans,
        "cut_spans": q_cut_spans,
        "lm_scores": q_lm_scores,
        "tfidf_terms": q_tfidf_terms,
        "mix_sample": q_mix_sample,
        "multimodal_features": q_multimodal_features,
        "frame_plan": q_frame_plan,
        "token_stats": q_token_stats,
        "pii_scrub": q_pii_scrub,
        "hash_split": q_hash_split,
        "session_stats": q_session_stats,
        "dedup_clusters": q_dedup_clusters,
        "corpus_report": q_corpus_report,
        "chunk_documents": q_chunk_documents,
        "contamination": q_contamination,
        "repetition_signals": q_repetition_signals,
        "quality_filter": q_quality_filter,
        "dedup_corpus": q_dedup_corpus,
        "string_formats": q_string_formats,
        "generic_flags": q_generic_flags,
        # ---- gate boundary: entries below are position 51+ ----
        "object_tail": q_object_tail,
        "pack_sequences": q_pack_sequences,
        "stratified_sample": q_stratified_sample,
        "weighted_topk": q_weighted_topk,
        "js_drift": q_js_drift,
        "vocab_topk": q_vocab_topk,
        "ref_bloom": q_ref_bloom,
        "hll_manifest": q_hll_manifest,
        "quantile_drift": q_quantile_drift,
        "stats_anomaly": q_stats_anomaly,
        "incremental_dedup": q_incremental_dedup,
        "ivf_index": q_ivf_index,
        "enum_required": q_enum_required,
        "string_rules": q_string_rules,
        "pattern_message": q_pattern_message,
        "number_rules": q_number_rules,
        "date_rules": q_date_rules,
        "when_conditional": q_when_conditional,
        "converted_output": q_converted_output,
        "abort_early_first": q_abort_early_first,
        "text_metrics": q_text_metrics,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "enum_required": """
            SELECT o_orderkey,
                   'any.only' AS code,
                   '"o_orderstatus" must be one of [O, F]' AS message,
                   'error' AS severity
            FROM orders
            WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F')
            UNION ALL
            SELECT o_orderkey, 'any.required',
                   '"o_orderstatus" is required', 'error'
            FROM orders WHERE o_orderstatus IS NULL
        """,
        "string_rules": """
            SELECT c_custkey,
                   'string.uppercase' AS code,
                   '"c_name" must only contain uppercase characters' AS message,
                   'error' AS severity
            FROM customer WHERE c_name <> upper(c_name)
            UNION ALL
            SELECT c_custkey, 'any.only',
                   '"c_mktsegment" must be one of [AUTOMOBILE, BUILDING, FURNITURE, MACHINERY]',
                   'error'
            FROM customer
            WHERE c_mktsegment IS NOT NULL
              AND c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY')
        """,
        "pattern_message": """
            SELECT p_partkey,
                   'string.pattern.base' AS code,
                   '"p_type" with value "' || p_type ||
                   '" fails to match the required pattern: /^(STANDARD|SMALL|MEDIUM|LARGE)$/' AS message,
                   'error' AS severity
            FROM part
            WHERE p_type IS NOT NULL
              AND NOT regexp_matches(p_type, '^(STANDARD|SMALL|MEDIUM|LARGE)$')
        """,
        "number_rules": """
            SELECT l_orderkey, l_linenumber,
                   'number.max' AS code,
                   '"l_quantity" must be less than or equal to 45' AS message,
                   'error' AS severity
            FROM lineitem WHERE l_quantity > 45
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'number.max',
                   '"l_discount" must be less than or equal to 0.08', 'error'
            FROM lineitem WHERE l_discount > 0.08
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'number.positive',
                   '"l_tax" must be a positive number', 'error'
            FROM lineitem WHERE l_tax <= 0
        """,
        "date_rules": """
            SELECT o_orderkey,
                   'date.max' AS code,
                   '"o_orderdate" must be less than or equal to "1999-12-31"' AS message,
                   'error' AS severity
            FROM orders WHERE o_orderdate > TIMESTAMP '1999-12-31 00:00:00'
        """,
        "when_conditional": """
            SELECT event_id,
                   'number.min' AS code,
                   '"value" must be larger than or equal to 0.5' AS message,
                   'error' AS severity
            FROM events WHERE event_type = 'purchase' AND value < 0.5
        """,
        "converted_output": """
            SELECT event_id, upper(event_type) AS event_type,
                   trim(props) AS props
            FROM events
        """,
        "abort_early_first": """
            SELECT l_orderkey, l_linenumber,
                   'number.max' AS code,
                   '"l_discount" must be less than or equal to 0.08' AS message,
                   'error' AS severity
            FROM lineitem WHERE l_discount > 0.08
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'number.positive',
                   '"l_tax" must be a positive number', 'error'
            FROM lineitem WHERE l_tax <= 0 AND l_discount <= 0.08
        """,
        "ds_unique": """
            SELECT l_orderkey, l_linenumber,
                   'dataset.unique' AS code,
                   '"l_orderkey, l_linenumber" contains a duplicate value' AS message,
                   'error' AS severity
            FROM (SELECT l_orderkey, l_linenumber,
                         row_number() OVER (PARTITION BY l_orderkey, l_linenumber) AS rn
                  FROM lineitem)
            WHERE rn > 1
        """,
        "ds_sparse": """
            SELECT DISTINCT l.l_orderkey, l.l_linenumber,
                   'dataset.sparse' AS code,
                   '"l_linenumber" must not be a sparse array item' AS message,
                   'error' AS severity
            FROM lineitem l
            WHERE l.l_linenumber > 1
              AND NOT EXISTS (SELECT 1 FROM lineitem p
                              WHERE p.l_orderkey = l.l_orderkey
                                AND p.l_linenumber = l.l_linenumber - 1)
        """,
        "ds_heads": """
            SELECT l_orderkey, CAST(m AS INT) AS l_linenumber,
                   'dataset.head' AS code,
                   '"l_orderkey" contains an invalid value' AS message,
                   'error' AS severity
            FROM (SELECT l_orderkey, min(l_linenumber) AS m
                  FROM lineitem GROUP BY l_orderkey)
            WHERE m <> 1
        """,
        "ds_referential": """
            SELECT l_orderkey, l_linenumber,
                   'dataset.link' AS code,
                   '"l_partkey" contains an invalid value' AS message,
                   'error' AS severity
            FROM lineitem
            WHERE l_partkey IS NOT NULL AND l_partkey >= 1900
        """,
        "ds_monotone": """
            SELECT user_id, event_id,
                   'dataset.sort' AS code,
                   '"value" must be sorted in ascending order by event_id' AS message,
                   'error' AS severity
            FROM (SELECT user_id, event_id, value,
                         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv
                  FROM events)
            WHERE pv IS NOT NULL AND value < pv
        """,
        "ds_group_sizes": """
            SELECT l_orderkey,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   'array.min' AS code,
                   '"l_orderkey" must contain at least 3 items' AS message
            FROM lineitem
            GROUP BY l_orderkey
            HAVING count(*) < 3
        """,
        "stats_exact": """
            SELECT 'l_quantity' AS "column",
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
                   CAST(min(l_quantity) AS DOUBLE) AS min_d,
                   CAST(max(l_quantity) AS DOUBLE) AS max_d
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_extendedprice) AS BIGINT),
                   CAST(min(l_extendedprice) AS DOUBLE),
                   CAST(max(l_extendedprice) AS DOUBLE)
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_discount) AS BIGINT),
                   CAST(min(l_discount) AS DOUBLE),
                   CAST(max(l_discount) AS DOUBLE)
            FROM lineitem
        """,
        "histogram": """
            WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
                       FROM orders)
            SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)),
                              19) AS INT) AS bucket,
                   CAST(count(*) AS BIGINT) AS count
            FROM orders, b
            WHERE o_totalprice IS NOT NULL
            GROUP BY 1 ORDER BY 1
        """,
        "psi_drift": """
            WITH d AS (SELECT CAST(year(o_orderdate) AS INT) AS epoch,
                              o_orderpriority AS bucket
                       FROM orders WHERE o_orderpriority IS NOT NULL),
            counts AS (SELECT epoch, bucket, CAST(count(*) AS DOUBLE) AS cnt
                       FROM d GROUP BY 1, 2),
            totals AS (SELECT epoch, sum(cnt) AS total FROM counts GROUP BY 1),
            frac AS (SELECT c.epoch, c.bucket, c.cnt / t.total AS frac
                     FROM counts c JOIN totals t ON c.epoch = t.epoch),
            base AS (SELECT bucket, frac AS q FROM frac
                     WHERE epoch = (SELECT min(epoch) FROM frac)),
            grid AS (SELECT e.epoch, b.bucket
                     FROM (SELECT DISTINCT epoch FROM frac
                           WHERE epoch <> (SELECT min(epoch) FROM frac)) e
                     CROSS JOIN (SELECT DISTINCT bucket FROM frac) b),
            j AS (SELECT g.epoch,
                         coalesce(f.frac, 0) + 1e-6 AS p,
                         coalesce(bs.q, 0) + 1e-6 AS q
                  FROM grid g
                  LEFT JOIN frac f ON g.epoch = f.epoch AND g.bucket = f.bucket
                  LEFT JOIN base bs ON g.bucket = bs.bucket)
            SELECT 'o_orderpriority' AS "column", epoch,
                   CAST((SELECT min(epoch) FROM frac) AS VARCHAR) AS baseline_epoch,
                   CAST(FLOOR(sum((p - q) * ln(p / q)) * 1000000) AS BIGINT) AS psi_e6
            FROM j GROUP BY epoch ORDER BY epoch
        """,
        "ks_drift": """
            WITH d AS (SELECT CAST(year(o_orderdate) AS INT) AS epoch,
                              o_totalprice AS x
                       FROM orders WHERE o_totalprice IS NOT NULL),
            b AS (SELECT min(x) AS lo, max(x) AS hi FROM d),
            c AS (SELECT epoch,
                         CAST(least(floor((x - lo) / ((hi - lo) / 200)), 199) AS INT) AS bucket,
                         CAST(count(*) AS DOUBLE) AS cnt
                  FROM d, b GROUP BY 1, 2),
            t AS (SELECT epoch, sum(cnt) AS total FROM c GROUP BY 1),
            f AS (SELECT c.epoch, c.bucket, c.cnt / t.total AS frac
                  FROM c JOIN t ON c.epoch = t.epoch),
            grid AS (SELECT e.epoch, bk.bucket
                     FROM (SELECT DISTINCT epoch FROM f) e
                     CROSS JOIN (SELECT DISTINCT bucket FROM f) bk),
            dense AS (SELECT g.epoch, g.bucket, coalesce(f.frac, 0) AS frac
                      FROM grid g LEFT JOIN f
                        ON g.epoch = f.epoch AND g.bucket = f.bucket),
            cdf AS (SELECT epoch, bucket,
                           sum(frac) OVER (PARTITION BY epoch ORDER BY bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
                    FROM dense),
            base AS (SELECT bucket, cdf AS cdf_q FROM cdf
                     WHERE epoch = (SELECT min(epoch) FROM f)),
            cur AS (SELECT * FROM cdf
                    WHERE epoch <> (SELECT min(epoch) FROM f))
            SELECT 'o_totalprice' AS "column", cur.epoch,
                   CAST((SELECT min(epoch) FROM f) AS VARCHAR) AS baseline_epoch,
                   CAST(FLOOR(max(abs(cur.cdf - base.cdf_q)) * 1000000) AS BIGINT) AS ks_e6
            FROM cur JOIN base ON cur.bucket = base.bucket
            GROUP BY cur.epoch ORDER BY cur.epoch
        """,
        "bool_coercion": """
            SELECT event_id,
                   'boolean.base' AS code,
                   '"flag" must be a boolean' AS message,
                   'error' AS severity
            FROM events WHERE value > 400
        """,
        "date_unix": """
            SELECT event_id,
                   'date.min' AS code,
                   '"event_id" must be larger than or equal to "1970-01-01 01:00:00"' AS message,
                   'error' AS severity
            FROM events WHERE event_id < 3600
        """,
        "array_items": """
            SELECT vec_id,
                   'array.includes' AS code,
                   '"embedding" does not match any of the allowed types' AS message,
                   'error' AS severity
            FROM embeddings
            WHERE len(list_filter(embedding,
                      x -> CAST(x AS DOUBLE) < -0.25
                        OR CAST(x AS DOUBLE) > 0.25)) > 0
        """,
        "object_json": """
            SELECT event_id,
                   'object.min' AS code,
                   '"props" must have at least 2 keys' AS message,
                   'error' AS severity
            FROM events
            WHERE props IS NOT NULL
              AND len(json_keys(props)) < 2
        """,
        "alternatives_or": """
            SELECT event_id,
                   'alternatives.match' AS code,
                   '"event_type" does not match any of the allowed types' AS message,
                   'error' AS severity
            FROM events
            WHERE event_type IS NOT NULL
              AND event_type NOT IN ('view', 'click')
              AND NOT regexp_matches(event_type, '^sign')
        """,
        "alternatives_types": """
            SELECT event_id,
                   'alternatives.types' AS code,
                   '"event_type" must be one of [number, boolean]'
                       AS message,
                   'error' AS severity
            FROM events
            WHERE event_type IS NOT NULL
              AND try_cast(event_type AS DOUBLE) IS NULL
              AND lower(event_type) NOT IN ('true', 'false')
        """,
        "custom_rule": """
            SELECT l_orderkey, l_linenumber,
                   'any.custom' AS code,
                   '"l_quantity" must be a multiple of five' AS message,
                   'error' AS severity
            FROM lineitem WHERE l_quantity % 5 <> 0
        """,
        "deps_without": """
            SELECT event_id,
                   'object.without' AS code,
                   '"props" conflict with forbidden peer "value"' AS message,
                   'error' AS severity
            FROM events
            WHERE props IS NOT NULL AND value IS NOT NULL
        """,
        "rename_convert": """
            SELECT event_id, upper(event_type) AS kind FROM events
        """,
        "text_metrics": r"""
            WITH t AS (SELECT doc_id, text,
                              string_split_regex(trim(text), '\s+') AS tok
                       FROM documents)
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(tok) AS BIGINT) AS n_tokens,
                   CAST(FLOOR(((length(text) - (len(tok) - 1)) / len(tok)) * 1000000) AS BIGINT)
                       AS avg_token_len_e6,
                   CAST(FLOOR(((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / length(text)) * 1000000) AS BIGINT)
                       AS punct_frac_e6,
                   CAST(FLOOR((len(list_distinct(tok)) / len(tok)) * 1000000) AS BIGINT)
                       AS uniq_token_frac_e6
            FROM t
        """,
        "lang_id": _lang_id_oracle(),
        "fingerprint_dups": r"""
            WITH fp AS (SELECT doc_id,
                               md5(array_to_string(list_slice(
                                   string_split_regex(trim(lower(text)), '\s+'),
                                   1, 8), ' ')) AS fingerprint
                        FROM documents),
            k AS (SELECT doc_id, fingerprint,
                         min(doc_id) OVER (PARTITION BY fingerprint) AS keep
                  FROM fp)
            SELECT doc_id, keep AS dup_of, fingerprint
            FROM k WHERE doc_id <> keep
        """,
        "ngram_jaccard": r"""
            WITH toks AS (SELECT doc_id,
                                 string_split_regex(trim(lower(text)), '\s+') AS tok
                          FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(len(tok) - 2),
                              i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])) AS s
                FROM toks)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            -- candidate generation drops shingles hotter than the
            -- max_shingle_freq=1000 default valve (sizes stay unpruned)
            shp AS (SELECT sh.doc_id, sh.s FROM sh
                    JOIN (SELECT s FROM sh GROUP BY s
                          HAVING count(*) <= 1000) hot USING (s)),
            common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
                       FROM shp a JOIN shp b ON a.s = b.s AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
            j AS (SELECT ida, idb, c / (sa.n + sb.n - c) AS jac
                  FROM common
                  JOIN sizes sa ON ida = sa.doc_id
                  JOIN sizes sb ON idb = sb.doc_id)
            SELECT ida AS id_a, idb AS id_b,
                   CAST(FLOOR((jac) * 1000000) AS BIGINT) AS jaccard_e6
            FROM j WHERE jac >= 0.8
        """,
        "minhash_lsh": r"""
            WITH toks AS (SELECT doc_id,
                                 string_split_regex(trim(lower(text)), '\s+') AS tok
                          FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(len(tok) - 2),
                              i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])) AS s
                FROM toks)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
                       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
            j AS (SELECT ida, idb, c / (sa.n + sb.n - c) AS jac
                  FROM common
                  JOIN sizes sa ON ida = sa.doc_id
                  JOIN sizes sb ON idb = sb.doc_id)
            SELECT ida AS id_a, idb AS id_b,
                   CAST(FLOOR((jac) * 1000000) AS BIGINT) AS jaccard_e6
            FROM j WHERE jac >= 0.8
        """,
        "cosine_topk": """
            WITH s AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       list_sum(list_transform(range(len(a.embedding)),
                           i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(len(a.embedding)),
                              i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(len(b.embedding)),
                              i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))))
                       AS cs
                FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
                WHERE a.vec_id BETWEEN 0 AND 9),
            r AS (SELECT query_id, neighbor_id, cs,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cs DESC, neighbor_id) AS rk
                  FROM s)
            SELECT query_id, neighbor_id, CAST(FLOOR(cs * 1000000) AS BIGINT) AS cosine_e6,
                   CAST(rk AS INT) AS rank
            FROM r WHERE rk <= 5
        """,
        "embedding_near": _embedding_near_oracle(threshold=0.45),
        "semantic_dedup": _semantic_dedup_oracle(threshold=0.45,
                                                 n_lists=8),
        "window_dedup": _window_dedup_oracle(n=8),
        "dup_spans": _dup_spans_oracle(n=8),
        "cut_spans": _cut_spans_oracle(n=8),
        "tfidf_terms": r"""
            WITH t AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)),
                                                 '\s+') AS tok
                       FROM documents WHERE text IS NOT NULL),
            pos AS (SELECT doc_id, len(tok) AS l, unnest(tok) AS token
                    FROM t),
            tf AS (SELECT doc_id, token, count(*) AS c,
                          any_value(l) AS l
                   FROM pos GROUP BY doc_id, token),
            dfq AS (SELECT token, count(*) AS dfr FROM tf
                    GROUP BY token),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
            s AS (SELECT tf.doc_id, tf.token,
                         tf.c / tf.l AS tfv,
                         ln(n.n / dfq.dfr) AS idfv
                  FROM tf JOIN dfq USING (token) CROSS JOIN n),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY tfv * idfv DESC, token) AS rk
                  FROM s)
            SELECT doc_id, token,
                   CAST(FLOOR((tfv) * 1000000) AS BIGINT) AS tf_e6,
                   CAST(FLOOR((idfv) * 1000000) AS BIGINT) AS idf_e6,
                   CAST(FLOOR((tfv * idfv) * 1000000) AS BIGINT) AS tfidf_e6,
                   CAST(rk AS INT) AS rank
            FROM r WHERE rk <= 3
        """,
        "lm_scores": r"""
            WITH t AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)),
                                                 '\s+') AS tok
                       FROM documents WHERE text IS NOT NULL),
            pairs AS (SELECT doc_id, tok[i] AS prev, tok[i+1] AS cur
                      FROM t, unnest(generate_series(1, len(tok) - 1))
                           AS u(i)),
            uni AS (SELECT w, count(*) AS cu FROM
                    (SELECT unnest(tok) AS w FROM t) GROUP BY w),
            bi AS (SELECT prev, cur, count(*) AS cb FROM pairs
                   GROUP BY prev, cur),
            v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
            s AS (SELECT p.doc_id, count(*) AS n_bigrams,
                         avg(ln((bi.cb + 0.5) / (uni.cu + 0.5 * v.v)))
                             AS alp
                  FROM pairs p
                  JOIN bi ON p.prev = bi.prev AND p.cur = bi.cur
                  JOIN uni ON p.prev = uni.w
                  CROSS JOIN v
                  GROUP BY p.doc_id)
            SELECT d.doc_id,
                   COALESCE(s.n_bigrams, 0) AS n_bigrams,
                   CAST(FLOOR((s.alp) * 1000000) AS BIGINT) AS avg_logp_e6,
                   CAST(FLOOR((exp(-s.alp)) * 1000000) AS BIGINT) AS ppl_e6
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "mix_sample": _mix_sample_oracle(_MIX_TARGETS, seed="mix"),
        "corpus_report": rf"""
            WITH base AS (
                SELECT doc_id, source AS grp, lang,
                       COALESCE(len(string_split_regex(trim(text),
                                                       '\s+')), 0)
                           AS ntok,
                       md5(text) AS h
                FROM documents),
            dups AS (SELECT h, 1 AS dup FROM base WHERE h IS NOT NULL
                     GROUP BY h HAVING count(*) >= 2),
            marked AS (SELECT b.grp, b.ntok, b.lang, d.dup
                       FROM base b LEFT JOIN dups d USING (h)),
            stats AS (SELECT grp, count(*) AS n_docs,
                             -- ::BIGINT: DuckDB sum(int) is HUGEINT,
                             -- which pandas renders float64 and the
                             -- driver hash sees as '1136.0' vs Spark's
                             -- int64 '1136' (round-3 red row)
                             sum(ntok)::BIGINT AS n_tokens,
                             min(ntok) AS min_tokens,
                             max(ntok) AS max_tokens,
                             count(dup) AS dup_docs,
                             count(DISTINCT lang) AS n_langs
                      FROM marked GROUP BY grp),
            lc AS (SELECT grp, lang, count(*) AS c FROM base
                   WHERE lang IS NOT NULL GROUP BY grp, lang),
            top AS (SELECT grp, lang AS top_lang FROM (
                      SELECT grp, lang,
                             row_number() OVER (PARTITION BY grp
                                 ORDER BY c DESC, lang) AS rk
                      FROM lc) WHERE rk = 1)
            SELECT s.grp AS source, s.n_docs, s.n_tokens,
                   {_ratio_e6_sql('s.n_tokens', 's.n_docs')}
                       AS avg_tokens_e6,
                   s.min_tokens, s.max_tokens, s.dup_docs,
                   {_ratio_e6_sql('s.dup_docs', 's.n_docs')}
                       AS dup_frac_e6,
                   s.n_langs, t.top_lang
            FROM stats s LEFT JOIN top t USING (grp)
        """,
        "lsh_topk": _lsh_topk_oracle(k=5, n_bits=4, n_tables=4),
        "ivf_topk": _ivf_topk_oracle(k=5, n_lists=8, nprobe=3),
        "simhash_pairs": _simhash_oracle(max_hamming=8),
        "multimodal_features": """
            SELECT id AS media_id,
                   CASE WHEN id % 3 = 0 THEN 'image'
                        WHEN id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   CAST(64 AS INT) AS n_bytes,
                   sha256(sha256(CAST(id AS VARCHAR))) AS digest
            FROM range(0, 200) t(id)
        """,
        "frame_plan": """
            WITH m AS (SELECT id AS media_id,
                              ((id % 300) + 1) * 100 AS dur
                       FROM range(0, 200) t(id) WHERE id % 3 = 2),
            f AS (SELECT media_id,
                         greatest(CAST(floor(dur / 1000) AS INT), 1) AS n
                  FROM m)
            SELECT media_id,
                   CAST(unnest(range(0, CAST((n - 1) * 1000 + 1 AS BIGINT),
                                     1000)) AS INT) AS frame_ts_ms
            FROM f
        """,
        "token_stats": r"""
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+'))
                        AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                        AS BIGINT) AS bpe_ish_tokens,
                   CAST(FLOOR((length(text) / nullif(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 0)) * 1000000) AS BIGINT)
                       AS chars_per_token_e6
            FROM documents
        """,
        "pii_scrub": _pii_scrub_oracle(),
        "chunk_documents": r"""
            WITH t AS (SELECT doc_id,
                              list_filter(
                                  string_split_regex(trim(text), '\s+'),
                                  x -> x <> '') AS tok
                       FROM documents),
            w AS (SELECT doc_id, tok,
                         CASE WHEN len(tok) = 0 THEN 0
                              ELSE CAST(1 + ceil(greatest(len(tok) - 64, 0)
                                                 / 48.0) AS INT)
                         END AS n_win
                  FROM t),
            c AS (SELECT doc_id,
                         unnest([{'ci': i - 1,
                                  'ch': array_to_string(
                                      tok[(i-1)*48 + 1 : (i-1)*48 + 64],
                                      ' '),
                                  'n': len(tok[(i-1)*48 + 1
                                               : (i-1)*48 + 64])}
                                 for i in generate_series(1, n_win)]) AS s
                  FROM w)
            SELECT doc_id, s.ci AS chunk_idx,
                   CAST(s.n AS BIGINT) AS n_chunk_tokens,
                   s.ch AS chunk
            FROM c
        """,
        "session_stats": r"""
            WITH o AS (SELECT event_id, user_id, ts,
                              epoch_us(ts) AS us,
                              lag(epoch_us(ts)) OVER (
                                  PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pus
                       FROM events),
            s AS (SELECT user_id, ts, us,
                         sum(CASE WHEN pus IS NULL
                                       OR us - pus > 28800000000
                                  THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING)
                             AS session_idx
                  FROM o)
            SELECT user_id,
                   CAST(session_idx AS BIGINT) AS session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(ts) AS sess_start, max(ts) AS sess_end,
                   CAST(FLOOR((max(us) - min(us)) / 1000000.0
                              * 1000000) AS BIGINT)
                       AS duration_sec_e6
            FROM s GROUP BY user_id, session_idx
        """,
        "hash_split": (
            "SELECT doc_id, "
            + CP.split_thresholds({"train": 0.9, "val": 0.05,
                                   "test": 0.05},
                                  seed="r3").format(id="doc_id")
            + " AS split FROM documents"),
        "contamination": r"""
            WITH toks AS (SELECT doc_id,
                                 string_split_regex(trim(lower(text)),
                                                    '\s+') AS tok
                          FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(len(tok) - 2),
                              i -> tok[i+1] || ' ' || tok[i+2] || ' '
                                   || tok[i+3])) AS s
                FROM toks)),
            bench AS (SELECT doc_id AS bid, s FROM sh
                      WHERE doc_id % 25 = 0),
            bn AS (SELECT bid, count(*) AS nb FROM bench GROUP BY 1),
            j AS (SELECT sh.doc_id, b.bid, count(*) AS c
                  FROM sh JOIN bench b USING (s) GROUP BY 1, 2)
            SELECT j.doc_id, bid AS bench_id, c AS n_shared,
                   CAST(FLOOR((c / nb) * 1000000) AS BIGINT)
                       AS overlap_frac_e6
            FROM j JOIN bn USING (bid)
            WHERE c / nb >= 0.5
        """,
        "repetition_signals": r"""
            WITH d AS (SELECT doc_id, text FROM documents),
            ln AS (SELECT doc_id,
                          unnest(list_filter(string_split(text, chr(10)),
                                             x -> x <> '')) AS line
                   FROM d),
            lc AS (SELECT doc_id, line, count(*) AS c
                   FROM ln GROUP BY doc_id, line),
            lm AS (SELECT doc_id, sum(c) AS n_lines,
                          sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
                          sum(CASE WHEN c > 1 THEN c * length(line)
                              ELSE 0 END) AS dup_chars,
                          sum(c * length(line)) AS tot_chars
                   FROM lc GROUP BY doc_id),
            tk AS (SELECT doc_id, text,
                          string_split_regex(trim(text), '\s+') AS tok
                   FROM d),
            gr AS (SELECT doc_id,
                          unnest([tok[i] || ' ' || tok[i + 1]
                                  for i in generate_series(1, len(tok) - 1)])
                              AS gram
                   FROM tk WHERE len(tok) >= 2),
            gc AS (SELECT doc_id, gram, count(*) AS c
                   FROM gr GROUP BY doc_id, gram),
            gm AS (SELECT doc_id, sum(c) AS n_grams,
                          sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
                   FROM gc GROUP BY doc_id),
            gt AS (SELECT doc_id, gram, c,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY c DESC, gram ASC) AS rn
                   FROM gc)
            SELECT d.doc_id,
                   -- ::BIGINT: sum() is HUGEINT → float64 in pandas
                   coalesce(lm.n_lines, 0)::BIGINT AS n_lines,
                   CAST(FLOOR((lm.dup_occ / nullif(lm.n_lines, 0)) * 1000000) AS BIGINT)
                       AS dup_line_frac_e6,
                   CAST(FLOOR((lm.dup_chars / nullif(lm.tot_chars, 0)) * 1000000) AS BIGINT)
                       AS dup_line_char_frac_e6,
                   gt.gram AS top_ngram,
                   CAST(FLOOR((gt.c * length(gt.gram) / nullif(length(d.text), 0)) * 1000000) AS BIGINT)
                       AS top_ngram_frac_e6,
                   CAST(FLOOR((gm.dup_occ / nullif(gm.n_grams, 0)) * 1000000) AS BIGINT)
                       AS dup_ngram_frac_e6
            FROM d LEFT JOIN lm USING (doc_id)
                   LEFT JOIN gm USING (doc_id)
                   LEFT JOIN gt ON gt.doc_id = d.doc_id AND gt.rn = 1
        """,
        "quality_filter": _quality_filter_oracle(),
        "string_formats": _string_formats_oracle(),
        "generic_flags": _GENERIC_FLAGS_ORACLE,
        "object_tail": _OBJECT_TAIL_ORACLE,
        "dedup_corpus": r"""
            WITH fp AS (SELECT doc_id,
                               md5(array_to_string(list_slice(
                                   string_split_regex(trim(lower(text)),
                                                      '\s+'), 1, 8),
                                   ' ')) AS fingerprint
                        FROM documents),
            k AS (SELECT doc_id,
                         min(doc_id) OVER (PARTITION BY fingerprint)
                             AS keep
                  FROM fp)
            SELECT d.doc_id, d.text
            FROM documents d
            WHERE d.doc_id NOT IN
                  (SELECT doc_id FROM k WHERE doc_id <> keep)
        """,
        "pack_sequences": r"""
            WITH t AS (SELECT doc_id, doc_id % 4 AS shard,
                              CAST(coalesce(len(list_filter(
                                  string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')), 0) AS BIGINT) AS n_tokens
                       FROM documents),
            o AS (SELECT *,
                         CAST(coalesce(sum(n_tokens) OVER (
                              PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS BIGINT)
                             AS start_offset
                  FROM t)
            SELECT doc_id, shard, n_tokens, start_offset,
                   CAST(floor(start_offset / 64.0) AS BIGINT) AS pack_id,
                   (start_offset % 64) + n_tokens > 64 AS straddles
            FROM o
        """,
        "stratified_sample": (
            "SELECT doc_id, lang FROM documents"
            " WHERE substr(md5('r3' || ':' ||"
            " CAST(doc_id AS VARCHAR)), 1, 8) <"
            " CASE lang"
            f" WHEN 'en' THEN '{SP.rate_threshold(0.5)}'"
            f" WHEN 'de' THEN '{SP.rate_threshold(0.25)}'"
            f" ELSE '{SP.rate_threshold(0.1)}' END"),
        "weighted_topk": (
            "WITH s AS (SELECT o_orderkey,"
            " CAST(o_totalprice AS DOUBLE) AS weight,"
            " pow(" + SP.hex_uniform_sql(
                "md5('r3' || ':' || CAST(o_orderkey AS VARCHAR))")
            + ", 1.0 / CAST(o_totalprice AS DOUBLE)) AS pri"
            " FROM orders"
            " WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),"
            " r AS (SELECT *, row_number() OVER"
            " (ORDER BY pri DESC, o_orderkey ASC) AS rank FROM s)"
            " SELECT o_orderkey, weight,"
            " CAST(FLOOR(pri * 1000000) AS BIGINT) AS priority_e6,"
            " CAST(rank AS INT) AS rank FROM r WHERE rank <= 100"),
        "dedup_clusters": r"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS tok
                FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(len(tok) - 2),
                              i -> tok[i+1] || ' ' || tok[i+2] || ' '
                                   || tok[i+3])) AS s
                FROM toks)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            -- same max_shingle_freq=1000 candidate valve as the
            -- ngram_jaccard oracle (sizes stay unpruned)
            shp AS (SELECT sh.doc_id, sh.s FROM sh
                    JOIN (SELECT s FROM sh GROUP BY s
                          HAVING count(*) <= 1000) hot USING (s)),
            common AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                              count(*) AS c
                       FROM shp a JOIN shp b
                         ON a.s = b.s AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
            p AS (SELECT ida, idb
                  FROM common
                  JOIN sizes sa ON ida = sa.doc_id
                  JOIN sizes sb ON idb = sb.doc_id
                  WHERE c / (sa.n + sb.n - c) >= 0.8),
            e AS (SELECT ida AS a, idb AS b FROM p
                  UNION SELECT idb, ida FROM p),
            reach(v, u) AS (
                SELECT a, a FROM e
                UNION
                SELECT e.a, r.u FROM e JOIN reach r ON e.b = r.v)
            SELECT v AS id, min(u) AS cluster_id
            FROM reach GROUP BY v
        """,
        "vocab_topk": r"""
            WITH toks AS (SELECT unnest(list_filter(
                              string_split_regex(trim(lower(text)),
                                                 '\s+'),
                              x -> x <> '')) AS token
                          FROM documents),
            c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
                  FROM toks GROUP BY 1 HAVING count(*) >= 2),
            r AS (SELECT token, n,
                         CAST(row_number() OVER
                              (ORDER BY n DESC, token ASC) AS INT)
                             AS rank
                  FROM c)
            SELECT token, n, rank FROM r WHERE rank <= 200
        """,
        "js_drift": """
            WITH d AS (SELECT CAST(year(o_orderdate) AS INT) AS epoch,
                              o_orderpriority AS bucket
                       FROM orders WHERE o_orderpriority IS NOT NULL),
            counts AS (SELECT epoch, bucket,
                              CAST(count(*) AS DOUBLE) AS cnt
                       FROM d GROUP BY 1, 2),
            totals AS (SELECT epoch, sum(cnt) AS total
                       FROM counts GROUP BY 1),
            frac AS (SELECT c.epoch, c.bucket, c.cnt / t.total AS frac
                     FROM counts c JOIN totals t ON c.epoch = t.epoch),
            base AS (SELECT bucket, frac AS q FROM frac
                     WHERE epoch = (SELECT min(epoch) FROM frac)),
            grid AS (SELECT e.epoch, b.bucket
                     FROM (SELECT DISTINCT epoch FROM frac
                           WHERE epoch <> (SELECT min(epoch) FROM frac)) e
                     CROSS JOIN (SELECT DISTINCT bucket FROM frac) b),
            j AS (SELECT g.epoch,
                         coalesce(f.frac, 0) + 1e-6 AS p,
                         coalesce(bs.q, 0) + 1e-6 AS q
                  FROM grid g
                  LEFT JOIN frac f
                    ON g.epoch = f.epoch AND g.bucket = f.bucket
                  LEFT JOIN base bs ON g.bucket = bs.bucket)
            SELECT 'o_orderpriority' AS "column", epoch,
                   CAST((SELECT min(epoch) FROM frac) AS VARCHAR)
                       AS baseline_epoch,
                   CAST(FLOOR(sum((p * ln(p / ((p + q) / 2))
                              + q * ln(q / ((p + q) / 2))) / 2)
                              * 1000000) AS BIGINT) AS jsd_e6
            FROM j GROUP BY epoch ORDER BY epoch
        """,
        # same exact anti-join as ds_referential: the Bloom path's
        # one-sided error is sized below 1e-9 here, so exact SQL is a
        # valid value oracle for it
        "ref_bloom": """
            SELECT l_orderkey, l_linenumber,
                   'dataset.link' AS code,
                   '"l_partkey" contains an invalid value' AS message,
                   'error' AS severity
            FROM lineitem
            WHERE l_partkey IS NOT NULL AND l_partkey >= 1900
        """,
        # n_exact is the real cross-engine check; within_tol=TRUE
        # asserts the Spark-side HLL estimate landed within 5% of it
        # (a drifted sketch would flip the boolean -> hash mismatch)
        "hll_manifest": """
            WITH per AS (SELECT 'o_custkey' AS "column",
                                CAST(CAST(year(o_orderdate) AS INT)
                                     AS VARCHAR) AS epoch,
                                CAST(count(DISTINCT o_custkey) AS BIGINT)
                                    AS n_exact
                         FROM orders GROUP BY 2),
            tot AS (SELECT 'o_custkey' AS "column", 'ALL' AS epoch,
                           CAST(count(DISTINCT o_custkey) AS BIGINT)
                               AS n_exact
                    FROM orders)
            SELECT "column", epoch, n_exact, TRUE AS within_tol
            FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
            ORDER BY epoch
        """,
        "quantile_drift": """
            WITH d AS (SELECT CAST(year(l_shipdate) AS INT) AS epoch,
                              CAST(l_extendedprice AS DOUBLE) AS v
                       FROM lineitem WHERE l_extendedprice IS NOT NULL),
            per AS (SELECT epoch,
                           quantile_cont(v, [0.025,0.075,0.125,0.175,0.225,
                                             0.275,0.325,0.375,0.425,0.475,
                                             0.525,0.575,0.625,0.675,0.725,
                                             0.775,0.825,0.875,0.925,0.975])
                               AS qs
                    FROM d GROUP BY epoch),
            long AS (SELECT epoch, generate_subscripts(qs, 1) AS qi,
                            unnest(qs) AS q
                     FROM per),
            base AS (SELECT qi, q AS qb FROM long
                     WHERE epoch = (SELECT min(epoch) FROM long))
            SELECT 'l_extendedprice' AS "column", l.epoch,
                   CAST((SELECT min(epoch) FROM long) AS VARCHAR)
                       AS baseline_epoch,
                   CAST(FLOOR(avg(abs(l.q - b.qb)) * 1000000)
                        AS BIGINT) AS w1_e6
            FROM long l JOIN base b USING (qi)
            WHERE l.epoch <> (SELECT min(epoch) FROM long)
            GROUP BY l.epoch ORDER BY l.epoch
        """,
        "stats_anomaly": """
            WITH wide AS (SELECT CAST(year(o_orderdate) AS INT) AS epoch,
                                 avg(CAST(o_totalprice AS DOUBLE)) AS m,
                                 avg(CASE WHEN o_totalprice IS NULL
                                          THEN 1.0 ELSE 0.0 END) AS nf
                          FROM orders GROUP BY 1),
            long AS (SELECT epoch, 'mean' AS metric, m AS value FROM wide
                     UNION ALL
                     SELECT epoch, 'null_frac', nf FROM wide),
            zz AS (SELECT epoch, metric, value,
                          CASE WHEN stddev_samp(value)
                                        OVER (PARTITION BY metric) > 0
                               THEN (value - avg(value)
                                         OVER (PARTITION BY metric))
                                    / stddev_samp(value)
                                         OVER (PARTITION BY metric)
                               ELSE 0.0 END AS z
                   FROM long)
            SELECT 'o_totalprice' AS "column", epoch, metric,
                   CAST(FLOOR(value * 1000000) AS BIGINT) AS value_e6,
                   CAST(FLOOR(z * 1000000) AS BIGINT) AS z_e6,
                   abs(z) > 1.5 AS flagged
            FROM zz ORDER BY metric, epoch
        """,
        # exact pair enumeration restricted to pairs touching the batch
        # (doc_id % 3 = 0) — checks both the banding recall of the
        # incremental path and its scope classification
        "incremental_dedup": r"""
            WITH toks AS (SELECT doc_id,
                                 string_split_regex(trim(lower(text)), '\s+') AS tok
                          FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(len(tok) - 2),
                              i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])) AS s
                FROM toks)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
                       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
            j AS (SELECT ida, idb, c / (sa.n + sb.n - c) AS jac
                  FROM common
                  JOIN sizes sa ON ida = sa.doc_id
                  JOIN sizes sb ON idb = sb.doc_id)
            SELECT ida AS id_a, idb AS id_b,
                   CAST(FLOOR(jac * 1000000) AS BIGINT) AS jaccard_e6,
                   CASE WHEN ida % 3 = 0 AND idb % 3 = 0 THEN 'new_new'
                        ELSE 'new_corpus' END AS scope
            FROM j
            WHERE jac >= 0.8 AND (ida % 3 = 0 OR idb % 3 = 0)
        """,
        # same oracle as ivf_topk: under the deterministic quantizer the
        # persisted-index path is bit-identical to the in-memory path
        "ivf_index": _ivf_topk_oracle(k=5, n_lists=8, nprobe=3),
    }
