"""Plan and semantics pins for the corpus-quality and graph modules
(the oracle sweep pins cross-engine values; these tests pin the plan
shapes and the hand-computable per-document semantics)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.queries import registry


def plan_of(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = registry()[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_quality_linear_score_is_pure_map(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "quality_linear_score")
    assert "Exchange" not in plan  # no shuffle: scan -> project only


def test_common_word_scrub_broadcasts_vocabulary(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "common_word_scrub")
    # the boilerplate vocabulary must reach the corpus as a broadcast
    # anti-join, never a shuffled or nested-loop join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_common_word_scrub_preserves_token_order(spark, sf_dir):
    out = registry()["common_word_scrub"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = (
        docs.join(out, "doc_id").select("doc_id", "text", "scrubbed_text").first()
    )
    kept = row["scrubbed_text"].split(" ") if row["scrubbed_text"] else []
    original = row["text"].split(" ")
    # kept tokens appear in original order: they are a subsequence
    it = iter(original)
    assert all(tok in it for tok in kept)


def test_repetition_signals_match_python_reference(spark, sf_dir):
    out = registry()["repetition_signals"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r for r in out.limit(50).collect()}
    sample = docs.where(F.col("doc_id").isin(list(got))).collect()
    assert sample
    for d in sample:
        toks = d["text"].split(" ")
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        r = got[d["doc_id"]]
        assert r["n_words"] == len(toks)
        assert r["n_distinct_words"] == len(set(toks))
        assert r["dup_word_frac"] == (len(toks) - len(set(toks))) / len(toks)
        top = max(toks.count(t) for t in set(toks))
        assert r["top_word_frac"] == top / len(toks)
        if grams:
            assert r["dup_2gram_frac"] == (
                len(grams) - len(set(grams))
            ) / len(grams)
        else:
            # single-token doc: no bigrams on either engine -> NULL fraction
            assert r["dup_2gram_frac"] is None


def test_pointer_jumping_converges_in_log_rounds_on_64_hop_chain(spark):
    from uk_procurement_data_pipeline_spark.functions.graph import (
        connected_components,
    )

    # 64-hop path 0-1-...-64: plain propagation needs 64 rounds (the min
    # label advances one hop per round); pointer jumping must finish in
    # <= 7 (offset after round k is 2^k - 1, plus one convergence-detect
    # round) — the VERDICT r03 log-diameter requirement.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    labels = connected_components(edges, max_rounds=7, method="jump")
    rows = labels.collect()
    assert len(rows) == 65
    assert all(r["label"] == 0 for r in rows)


def test_pointer_jumping_matches_label_propagation(spark):
    import random

    from uk_procurement_data_pipeline_spark.functions.graph import (
        connected_components,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    jump = {
        (r["node"], r["label"])
        for r in connected_components(df, method="jump").collect()
    }
    label = {
        (r["node"], r["label"])
        for r in connected_components(df, method="label").collect()
    }
    assert jump == label


def test_supplier_pagerank_covers_all_suppliers_and_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "supplier_pagerank")
    assert "CartesianProduct" not in plan
    out = registry()["supplier_pagerank"].fn(spark, sf_dir).collect()
    n_supp = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_suppkey")
        .distinct()
        .count()
    )
    assert len(out) == n_supp
    # damping floor: every node keeps at least the teleport mass
    assert all(r["mass"] > 0.15 for r in out)


def test_kmeans_assignment_is_map_side(spark, sf_dir):
    # the fold-argmin assignment must not plan a per-vector window sort;
    # the only shuffles belong to the centroid-mean aggregations. The
    # plurality vote (top_k_per_group's k = 1 reduction) must not either;
    # modularity_communities checkpoints its vote, so its plan cannot show it.
    for name in ("kmeans_lloyd_cells", "label_propagation_communities"):
        assert "Window" not in plan_of(spark, sf_dir, name), name


def test_kmeans_moves_centroids_and_converges_assignment(spark, sf_dir):
    out = registry()["kmeans_lloyd_cells"].fn(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert len(out) == emb.count()
    # every cluster id is one of the K seeds and every distance is finite
    assert all(0 <= r["cluster"] < 8 for r in out)
    assert all(r["dist2"] >= 0.0 for r in out)


def test_hits_matches_bruteforce_two_steps(spark):
    # The unrolled integer HITS recurrence must equal a plain python
    # dict replay over the distinct posting pairs at sf0.001.
    from collections import defaultdict

    from uk_procurement_data_pipeline_spark.queries import registry

    sf_dir = "/root/testdata/sf0.001"
    rows = registry()["hits_hubs_authorities"].fn(spark, sf_dir).collect()
    got = [(r["l_partkey"], r["authority_score"]) for r in rows]

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_suppkey", "l_partkey")
        .distinct()
        .collect()
    )
    edges = {(r["l_suppkey"], r["l_partkey"]) for r in li}
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    a1 = defaultdict(int)
    for s, p in edges:
        a1[p] += deg[s]
    h2 = defaultdict(int)
    for s, p in edges:
        h2[s] += a1[p]
    a2 = defaultdict(int)
    for s, p in edges:
        a2[p] += h2[s]
    expect = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == expect
