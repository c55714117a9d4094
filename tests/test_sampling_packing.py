"""Deterministic sampling, sequence packing, duplicate-cluster
resolution, and JS drift (joi_spark.operators.{sampling,corpus,dedup,
drift})."""

from __future__ import annotations

import hashlib
import math
import random
import time

import pytest
from pyspark.sql import functions as F

from joi_spark.operators import corpus as CP
from joi_spark.operators import dedup as DD
from joi_spark.operators import drift as DR
from joi_spark.operators import sampling as SP


def _h8(seed: str, ident) -> str:
    return hashlib.md5(f"{seed}:{ident}".encode()).hexdigest()[:8]


@pytest.fixture(scope="module")
def ids(spark):
    return spark.createDataFrame([(i,) for i in range(2000)],
                                 "doc_id bigint")


# --- hash / stratified sampling -------------------------------------------

def test_hash_sample_matches_python_oracle(ids):
    got = {r[0] for r in SP.hash_sample(ids, 0.25, seed="s1").collect()}
    thr = SP.rate_threshold(0.25)
    want = {i for i in range(2000) if _h8("s1", i) < thr}
    assert got == want
    assert 0.2 < len(got) / 2000 < 0.3


def test_hash_sample_rate_one_keeps_all(ids):
    assert SP.hash_sample(ids, 1.0).count() == 2000


def test_hash_sample_stable_under_repartition(ids):
    a = {r[0] for r in SP.hash_sample(ids, 0.1, seed="x").collect()}
    b = {r[0] for r in
         SP.hash_sample(ids.repartition(13), 0.1, seed="x").collect()}
    assert a == b


def test_stratified_sample_per_stratum_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = SP.stratified_sample(df, "lang", {"en": 0.5, "de": 0.05},
                               seed="s")
    by = {r["lang"]: r["n"] for r in
          out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 800 < by["en"] < 1200          # ~1000 of 2000
    assert 50 < by.get("de", 0) < 200     # ~100 of 2000
    # python parity on the en stratum
    thr = SP.rate_threshold(0.5)
    want = {i for i in range(0, 4000, 2) if _h8("s", i) < thr}
    got = {r["doc_id"] for r in out.filter("lang = 'en'").collect()}
    assert got == want


def test_stratified_default_rate_drops_unlisted(spark):
    df = spark.createDataFrame([(i, "fr") for i in range(100)],
                               "doc_id bigint, lang string")
    assert SP.stratified_sample(df, "lang", {"en": 1.0}).count() == 0


def test_weighted_topk_matches_python_oracle(spark):
    rows = [(i, 1.0 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id bigint, weight double")
    got = SP.weighted_sample_topk(df, "weight", 20, seed="w").collect()
    assert len(got) == 20
    assert [r["rank"] for r in got] == list(range(1, 21))

    def pri(i, w):
        u = int(_h8("w", i), 16) / 16 ** 8
        return u ** (1.0 / w)

    want = sorted(((pri(i, w), -i) for i, w in rows), reverse=True)[:20]
    want_ids = [-x[1] for x in want]
    assert [r["doc_id"] for r in got] == want_ids


def test_weighted_topk_skips_nonpositive_weights(spark):
    df = spark.createDataFrame([(0, 0.0), (1, -2.0), (2, None), (3, 5.0)],
                               "doc_id bigint, weight double")
    got = SP.weighted_sample_topk(df, "weight", 10).collect()
    assert [r["doc_id"] for r in got] == [3]


def test_weighted_topk_favors_heavy_weights(spark):
    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, weight double")
    got = SP.weighted_sample_topk(df, "weight", 50, seed="z").collect()
    heavy = sum(1 for r in got if r["doc_id"] < 50)
    assert heavy > 30  # 50 heavy docs at 100× weight dominate the draw


def test_hex_uniform_sql_duckdb_parity():
    duckdb = pytest.importorskip("duckdb")
    expr = SP.hex_uniform_sql("md5('k:' || CAST(i AS VARCHAR))")
    rows = duckdb.sql(
        f"SELECT i, {expr} AS u FROM range(50) t(i)").fetchall()
    for i, u in rows:
        want = int(hashlib.md5(f"k:{i}".encode()).hexdigest()[:8], 16) \
            / 16 ** 8
        assert abs(u - want) < 1e-15


# --- sequence packing ------------------------------------------------------

def test_pack_sequences_offsets_and_straddles(spark):
    rows = [(0, "a b c"), (1, "d e f g"), (2, "h i"),
            (3, "j k l m n o")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           CP.pack_sequences(df, capacity=5, n_shards=1).collect()}
    # stream: 3 + 4 + 2 + 6 tokens, capacity 5
    assert out[0]["start_offset"] == 0 and out[0]["pack_id"] == 0
    assert out[1]["start_offset"] == 3 and out[1]["pack_id"] == 0
    assert out[1]["straddles"]            # 3..7 crosses the 5 boundary
    assert out[2]["start_offset"] == 7 and out[2]["pack_id"] == 1
    assert not out[2]["straddles"]
    assert out[3]["start_offset"] == 9 and out[3]["pack_id"] == 1
    assert out[3]["straddles"]


def test_pack_sequences_sharding_isolates_streams(spark):
    rows = [(i, "one two three four") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = CP.pack_sequences(df, capacity=8, n_shards=2).collect()
    for r in out:
        assert r["shard"] == r["doc_id"] % 2
    # within each shard offsets restart at 0 and step by 4
    for shard in (0, 1):
        offs = sorted(r["start_offset"] for r in out
                      if r["shard"] == shard)
        assert offs == [0, 4, 8, 12, 16]


def test_pack_sequences_empty_and_null_docs(spark):
    df = spark.createDataFrame([(0, "a b"), (1, ""), (2, None), (3, "c")],
                               "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           CP.pack_sequences(df, capacity=4, n_shards=1).collect()}
    assert out[1]["n_tokens"] == 0 and out[2]["n_tokens"] == 0
    assert out[3]["start_offset"] == 2  # empties contribute no tokens


def test_pack_sequences_stable_under_repartition(spark):
    rows = [(i, " ".join(["w"] * (i % 9 + 1))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(map(tuple, CP.pack_sequences(df, capacity=32).collect()))
    b = sorted(map(tuple,
                   CP.pack_sequences(df.repartition(17), capacity=32)
                     .collect()))
    assert a == b


def test_pack_sequences_rejects_bad_capacity(spark):
    df = spark.createDataFrame([(0, "a")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        CP.pack_sequences(df, capacity=0)


# --- duplicate clusters ----------------------------------------------------

def test_dedup_clusters_chain_closes_transitively(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "id_a bigint, id_b bigint")
    got = {r["id"]: r["cluster_id"]
           for r in DD.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_long_path_worst_case(spark):
    # a 30-node path needs many propagation rounds — exercises the
    # fixpoint loop + lineage checkpointing, diameter ≫ 1
    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "id_a bigint, id_b bigint")
    got = DD.dedup_clusters(pairs).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert len(got) == 31


def _shuffled_path(spark, n):
    ids = random.Random(0).sample(range(n), n)
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    return edges, spark.createDataFrame(edges, "id_a bigint, id_b bigint")


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dedup_clusters_shuffled_path_matches_union_find(spark):
    """A 64-node path with shuffled ids needs 29 rounds (pointer
    jumping barely helps when ids do not increase along the path).
    Each round starts from a fresh relation, so the planner's size
    estimate does not compound: before, it doubled in digits per
    round and past ~20 rounds the driver hung in statistics
    arithmetic."""
    edges, pairs = _shuffled_path(spark, 64)
    t0 = time.time()
    got = {r["id"]: r["cluster_id"]
           for r in DD.dedup_clusters(pairs, max_iters=40).collect()}
    assert time.time() - t0 < 180
    assert got == _union_find(edges)


def test_dedup_clusters_raises_when_not_converged(spark):
    """The default 25 rounds are not enough for the shuffled 64-node
    path: the loop raises instead of returning unconverged labels."""
    _, pairs = _shuffled_path(spark, 64)
    with pytest.raises(RuntimeError, match="max_iters=25"):
        DD.dedup_clusters(pairs)


def test_cluster_canonical_keeps_min_and_unclustered(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)],
                                 "doc_id bigint, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)],
                                  "id_a bigint, id_b bigint")
    clusters = DD.dedup_clusters(pairs)
    kept = sorted(r["doc_id"] for r in
                  DD.cluster_canonical(docs, clusters).collect())
    assert kept == [0, 3, 4]  # 0 canon of {0,1,2}; 3 untouched; 4 of {4,5}


# --- JS divergence ---------------------------------------------------------

def test_js_divergence_zero_on_identical(spark):
    rows = [(e, v) for e in (0, 1) for v in ("a", "a", "b", "c")]
    df = spark.createDataFrame(rows, "epoch int, cat string")
    r = DR.js_divergence(df, "cat").collect()
    assert len(r) == 1
    assert abs(r[0]["jsd"]) < 1e-4


def test_js_divergence_matches_hand_computation(spark):
    # epoch 0: a×3 b×1  (p = .75/.25); epoch 1: a×1 b×3 (q = .25/.75)
    rows = ([(0, "a")] * 3 + [(0, "b")] +
            [(1, "a")] + [(1, "b")] * 3)
    df = spark.createDataFrame(rows, "epoch int, cat string")
    got = DR.js_divergence(df, "cat").collect()[0]["jsd"]
    eps = DR.EPS
    want = 0.0
    for p, q in ((0.75 + eps, 0.25 + eps), (0.25 + eps, 0.75 + eps)):
        m = (p + q) / 2
        want += (p * math.log(p / m) + q * math.log(q / m)) / 2
    assert abs(got - want) < 1e-9
    assert 0.0 < got < math.log(2) + 1e-9


def test_js_divergence_bounded_on_disjoint(spark):
    rows = [(0, "a")] * 5 + [(1, "b")] * 5
    df = spark.createDataFrame(rows, "epoch int, cat string")
    got = DR.js_divergence(df, "cat").collect()[0]["jsd"]
    # disjoint supports approach ln 2 (smoothing keeps it finite)
    assert math.log(2) - 0.01 < got <= math.log(2) + 1e-9


# --- vocabulary ------------------------------------------------------------

def test_vocab_topk_counts_and_ranks(spark):
    from joi_spark.operators import text as TX
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "THE cat runs"), (2, None),
         (3, "")],
        "doc_id bigint, text string")
    got = {r["token"]: (r["n"], r["rank"])
           for r in TX.vocab_topk(df, k=10).collect()}
    assert got["the"] == (3, 1)       # lowercased merge of THE/the
    assert got["cat"] == (2, 2)
    # ties broken token-asc deterministically
    singles = [t for t, (n, _) in got.items() if n == 1]
    ranks = [got[t][1] for t in sorted(singles)]
    assert ranks == sorted(ranks)
    assert "" not in got              # null/empty docs contribute nothing


def test_vocab_topk_min_count_prunes_hapax(spark):
    from joi_spark.operators import text as TX
    df = spark.createDataFrame([(0, "a a b")], "doc_id bigint, text string")
    got = TX.vocab_topk(df, k=10, min_count=2).collect()
    assert [(r["token"], r["n"]) for r in got] == [("a", 2)]


# --- mixture resampling (mix_to_target) ------------------------------------

def test_mix_to_target_rates_and_selection(spark):
    # counts 100/100; targets 0.5/0.25 -> N*=200, rates A=1.0, B=0.5
    rows = [(i, "A") for i in range(100)] + \
           [(100 + i, "B") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    got = SP.mix_to_target(df, "src", {"A": 0.5, "B": 0.25}, seed="m")
    by = {r["src"]: set() for r in got.collect()}
    for r in got.collect():
        by[r["src"]].add(r["doc_id"])
    assert by["A"] == set(range(100))          # rate 1.0 keeps all
    thr = SP.rate_threshold(0.5)
    want_b = {100 + i for i in range(100)
              if _h8("m", 100 + i) < thr}
    assert by["B"] == want_b                   # md5 selection, exact


def test_mix_to_target_drops_unlisted_strata(spark):
    rows = [(0, "A"), (1, "B"), (2, "C")]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    got = SP.mix_to_target(df, "src", {"A": 1.0})
    assert {r["src"] for r in got.collect()} == {"A"}


def test_mix_to_target_rejects_nonpositive_target(spark):
    df = spark.createDataFrame([(0, "A")], "doc_id bigint, src string")
    with pytest.raises(ValueError):
        SP.mix_to_target(df, "src", {"A": 0.0})


def test_mix_to_target_stable_under_repartition(spark):
    rows = [(i, f"s{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    tg = {"s0": 0.5, "s1": 0.3, "s2": 0.2}
    a = {r["doc_id"] for r in SP.mix_to_target(df, "src", tg).collect()}
    b = {r["doc_id"] for r in
         SP.mix_to_target(df.repartition(17), "src", tg).collect()}
    assert a == b


def test_mix_to_target_composition_tracks_targets(spark):
    rows = [(i, f"s{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    tg = {"s0": 0.4, "s1": 0.3, "s2": 0.2, "s3": 0.1}
    got = SP.mix_to_target(df, "src", tg).groupBy("src").count().collect()
    total = sum(r["count"] for r in got)
    frac = {r["src"]: r["count"] / total for r in got}
    for s, f in tg.items():
        assert abs(frac[s] - f) < 0.05


# --- bigram LM quality scores ----------------------------------------------

def test_bigram_lm_scores_rank_fluency(spark):
    from joi_spark.operators import text as TX
    rows = [(0, "the cat sat on the mat"),
            (1, "the cat sat on the mat"),   # identical -> same score
            (2, "mat the on sat cat the"),   # shuffled -> less probable
            (3, "x"),                        # <2 tokens -> no score
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    r = {x["doc_id"]: x for x in TX.bigram_lm_scores(df).collect()}
    assert r[0]["avg_logp"] == r[1]["avg_logp"]
    assert r[2]["avg_logp"] < r[0]["avg_logp"]
    assert r[0]["ppl"] < r[2]["ppl"]
    assert r[3]["n_bigrams"] == 0 and r[3]["avg_logp"] is None
    assert r[4]["n_bigrams"] == 0 and r[4]["ppl"] is None


def test_bigram_lm_scores_match_python_oracle(spark):
    """Exact parity with an independent pure-python add-k bigram LM
    on a small corpus (same tokenization, same smoothing)."""
    import math
    from collections import Counter
    from joi_spark.operators import text as TX
    texts = ["a b a b c", "b a b", "c c a"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id bigint, text string")
    uni, bi = Counter(), Counter()
    for t in texts:
        toks = t.split()
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    V = len(uni)
    want = {}
    for i, t in enumerate(texts):
        toks = t.split()
        lps = [math.log((bi[(p, c)] + 0.5) / (uni[p] + 0.5 * V))
               for p, c in zip(toks, toks[1:])]
        want[i] = pytest.approx(sum(lps) / len(lps), rel=1e-12)
    got = {r["doc_id"]: r["avg_logp"]
           for r in TX.bigram_lm_scores(df).collect()}
    assert got == want


def test_tfidf_topk_terms_ranks_distinctive_tokens(spark):
    import math
    from joi_spark.operators import text as TX
    rows = [(0, "spark spark spark common"),
            (1, "duck duck common"),
            (2, "common only here"),
            (3, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["doc_id"], r["rank"]): (r["token"], r["tfidf"])
           for r in TX.tfidf_topk_terms(df, k=2).collect()}
    assert got[(0, 1)][0] == "spark"
    # JVM Math.log vs C libm may differ in the last ulp
    assert got[(0, 1)][1] == pytest.approx(0.75 * math.log(3),
                                           rel=1e-12)
    assert got[(1, 1)][0] == "duck"
    # 'common' in every doc -> idf 0 -> ranks last
    assert got[(0, 2)] == ("common", 0.0)
    # ties break token-asc deterministically
    assert got[(2, 1)][0] == "here" and got[(2, 2)][0] == "only"
    assert (3, 1) not in got     # null docs emit nothing


def test_mix_to_target_infeasible_stratum_empty_not_silent(spark):
    """With strict=False (opt-in best-effort), a target stratum with
    zero corpus rows makes the request infeasible: N* = 0 → EMPTY
    result (round-3 advice), never a mixture that quietly misses the
    target."""
    rows = [(i, "A") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    got = SP.mix_to_target(df, "src", {"A": 0.5, "GHOST": 0.5},
                           strict=False)
    assert got.count() == 0


def test_mix_to_target_strict_default_raises_on_missing_stratum(spark):
    """strict=True is the DEFAULT (round-4 advice: silent-empty batch
    output is easy to miss downstream)."""
    df = spark.createDataFrame([(0, "A")], "doc_id bigint, src string")
    with pytest.raises(ValueError, match="GHOST"):
        SP.mix_to_target(df, "src", {"A": 0.5, "GHOST": 0.5})
