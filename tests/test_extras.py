"""Tests for training-data operators: dedup, similarity, text stats."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),  # exact dup
        ("d3", "the quick brown fox jumps over the lazy cat"),  # near dup
        ("d4", "completely different content about spark engines"),
        ("d5", "der hund ist nicht und der die das"),
        ("d6", "le chat est sur la table et les chaises"),
        ("d7", ""),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string").cache()


def test_exact_dedup(spark, docs):
    from syslog_spark.operators.dedup import dedupe_exact, exact_duplicate_groups

    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 2
    assert groups[0]["keep_doc_id"] == "d1"
    kept = dedupe_exact(docs)
    assert kept.count() == 6
    assert kept.filter("doc_id = 'd2'").count() == 0


def test_minhash_near_dup(spark, docs):
    from syslog_spark.operators.dedup import near_duplicates_minhash

    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in near_duplicates_minhash(
            docs.filter("text != ''"), threshold=0.5
        ).collect()
    }
    assert ("d1", "d2") in pairs and pairs[("d1", "d2")] == 1.0
    assert ("d1", "d3") in pairs and 0.6 < pairs[("d1", "d3")] < 1.0
    assert not any("d4" in p for p in pairs)


def test_minhash_accuracy(spark):
    """Minhash signature similarity approximates true Jaccard."""
    from syslog_spark.operators.dedup import (
        _signature_batch_udf, shingle_hashes, shingles,
    )

    rows = [("a", "abcdefghijklmnopqrstuvwxyz" * 4),
            ("b", "abcdefghijklmnopqrstuvwxyz" * 3 + "0123456789abcdefghijklmnop")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = df.select(
        "doc_id",
        _signature_batch_udf(128)(shingle_hashes("text"))["sig"].alias("sig"),
        shingles("text").alias("sh"),
    ).collect()
    sig = {r["doc_id"]: r["sig"] for r in out}
    sh = {r["doc_id"]: set(r["sh"]) for r in out}
    true_j = len(sh["a"] & sh["b"]) / len(sh["a"] | sh["b"])
    est_j = sum(x == y for x, y in zip(sig["a"], sig["b"])) / 128
    assert abs(true_j - est_j) < 0.2


def test_simhash_near_dup(spark, docs):
    from syslog_spark.operators.dedup import simhash, simhash_near_dups

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh["d1"] == sh["d2"]
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_near_dups(docs, max_hamming=16).collect()}
    assert pairs[("d1", "d2")] == 0
    assert ("d1", "d3") in pairs


def test_brute_force_topk(spark):
    from syslog_spark.operators.similarity import brute_force_topk

    rng = np.random.RandomState(0)
    vecs = rng.normal(size=(50, 16)).astype(float)
    rows = [(i, vecs[i].tolist()) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, q, k=5).collect()
    assert len(top) == 5
    assert top[0]["vec_id"] == 0 and abs(top[0]["cosine"] - 1.0) < 1e-9
    # cross-check against numpy
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    want = np.argsort(-sims)[:5].tolist()
    got = [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert got == want


def test_lsh_topk_recall(spark):
    from syslog_spark.operators.similarity import brute_force_topk, lsh_topk

    rng = np.random.RandomState(1)
    base = rng.normal(size=(40, 16))
    # plant clear near-neighbours of vec 0
    for i in range(1, 6):
        base[i] = base[0] + rng.normal(scale=0.05, size=16)
    rows = [(i, base[i].tolist()) for i in range(40)]
    # exact copies agree with their query on EVERY signature block
    rows += [(100 + i, base[i].tolist()) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=5).collect()}
    got = [r["vec_id"] for r in lsh_topk(emb, q, dim=16, k=5).collect()]
    # each (query, vector) candidate is emitted once, not once per
    # agreeing block
    assert len(got) == len(set(got))
    approx = set(got)
    assert {0, 100} <= approx
    # strongly-planted neighbours must be recalled
    assert len(exact & approx) >= 4


def test_lsh_bucket_stats_flags_hot_buckets(spark):
    """The cap-monitoring side output: identical texts share every band
    bucket, so a group of n identical docs shows up as bands buckets of
    size n."""
    from syslog_spark.operators.dedup import lsh_bucket_stats

    import hashlib

    rows = [(f"c{i}", "same exact text for every doc here") for i in range(5)]
    rows += [
        (f"u{i}", hashlib.sha256(str(i).encode()).hexdigest())
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    stats = lsh_bucket_stats(df, bands=8, n_hashes=64, min_size=2).collect()
    hot = [r for r in stats if r["bucket_size"] == 5]
    assert len(hot) == 8  # the identical-doc group fills one bucket per band
    assert all(r["bucket_size"] <= 5 for r in stats)


def test_embedding_near_dups_planted(spark):
    """Blocked-LSH near-dup finds every planted high-cosine pair once,
    and the exact-cosine verify rejects random pairs — no cross join
    involved."""
    from syslog_spark.operators.similarity import embedding_near_dups

    rng = np.random.RandomState(2)
    base = rng.normal(size=(60, 32))
    rows = [(i, base[i].tolist()) for i in range(60)]
    # plant near-dups: 100+i is a tiny perturbation of i (cos ~ 0.9999)
    for i in range(10):
        v = base[i].copy()
        v[0] *= 1.001
        rows.append((100 + i, v.tolist()))
    # exact copies (200+i) agree with i on every signature block; with
    # the near-dups they form triangles {i, 100+i, 200+i}
    rows += [(200 + i, base[i].tolist()) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["a"], r["b"]) for r in
           embedding_near_dups(emb, threshold=0.9, dim=32).collect()]
    assert len(got) == len(set(got))  # each pair once
    want = {(i, 100 + i) for i in range(10)}
    want |= {(i, 200 + i) for i in range(5)}
    want |= {(100 + i, 200 + i) for i in range(5)}
    assert set(got) == want


def test_textstats(spark, docs):
    from syslog_spark.operators import textstats as TS

    def quality_score(col):
        """Composite [0,1] quality heuristic, the ``quality`` column of
        ``TS.document_stats``, as a single inline expression."""
        return TS._quality_score_w(col, TS._words(col), TS._words_lower(col))

    out = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        TS.whitespace_token_count("text").alias("n"),
        TS.stopword_count("text").alias("sw"),
        TS.lang_id("text").alias("lang"),
        TS.fingerprint_md5("text").alias("fp"),
        quality_score(F.col("text")).alias("q"),
    ).collect()}
    assert out["d1"]["n"] == 9 and out["d7"]["n"] == 0
    assert out["d1"]["sw"] == 2  # 'the' twice
    assert out["d1"]["lang"] == "en"
    assert out["d5"]["lang"] == "de"
    assert out["d6"]["lang"] == "fr"
    assert out["d7"]["lang"] == "und"
    assert out["d1"]["fp"] == out["d2"]["fp"] != out["d3"]["fp"]
    assert 0 <= out["d7"]["q"] <= out["d1"]["q"] <= 1


def test_ivf_topk_recall(spark):
    from pyspark.sql import functions as F

    from syslog_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(3)
    base = rng.normal(size=(120, 16))
    for i in range(1, 6):
        base[i] = base[0] + rng.normal(scale=0.03, size=16)
    rows = [(i, base[i].tolist()) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3).collect()
    }
    # planted near-neighbours land in the query's own probe lists
    assert len(exact & approx) >= 4


def test_ivf_topk_explicit_centroids(spark):
    """Pretrained-quantizer mode: pure-Catalyst argmin assignment (no
    KMeans job), deterministic, and exact when each query's true top-k
    lives inside its probed cells."""
    from pyspark.sql import functions as F

    from syslog_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(7)
    dim, per = 16, 20
    centers = [[50.0 if i == j else 0.0 for i in range(dim)] for j in range(4)]
    rows = []
    for v in range(4 * per):
        c = centers[v % 4]
        rows.append((v, [c[i] + 0.01 * rng.normal() for i in range(dim)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    )
    pruned = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ivf_topk(emb, q, k=5, n_probe=1, centroids=centers).collect()
    )
    assert pruned == exact
    # n_probe=1 of 4: every result stays in the query's own cluster
    assert all(v % 4 == qid % 4 for qid, _, v in pruned)


def test_connected_components_chains(spark):
    """Transitive merging: chains a-b-c collapse to one component even
    though a and c share no edge; singleton-pair clusters keep min id."""
    from syslog_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "a long, b long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def _shingle_set(text, k=5):
    """Python-set reference of ``dedup.shingles``: substrings at
    positions 1..max(len - k + 1, 1); a NULL text is the set {None}."""
    if text is None:
        return {None}
    return {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}


def test_jaccard_similarity_matches_python_sets(spark):
    """jaccard_similarity (one array_intersect per pair, |A u B| from
    the per-doc set sizes) gives exactly the doubles of a Python-set
    Jaccard: NULL and empty texts, a repeated-shingle text, identical
    and disjoint docs, and a non-ASCII text."""
    import itertools

    from syslog_spark.operators.dedup import jaccard_similarity

    texts = {
        1: None,
        2: None,
        3: "",
        4: "aaaaaaaa",
        5: "aaaaaaaaaaaaaaaa",
        6: "the quick brown fox jumps over the lazy dog",
        7: "the quick brown fox jumps over the lazy dog",
        8: "the quick brown fox jumps over the lazy cat",
        9: "zzzz 0123456789 qwerty",
        10: "abc",
        11: "h\u00e9llo w\u00f6rld, na\u00efve caf\u00e9",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    pairs = list(itertools.combinations(sorted(texts), 2))
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_similarity(
            spark.createDataFrame(pairs, "a long, b long"), docs
        ).collect()
    }
    want = {}
    for a, b in pairs:
        sa, sb = _shingle_set(texts[a]), _shingle_set(texts[b])
        want[(a, b)] = len(sa & sb) / len(sa | sb)
    assert got == want
    # the cases the test exists for really occur
    assert want[(1, 2)] == 1.0 and want[(6, 7)] == 1.0
    assert want[(4, 5)] == 1.0  # one repeated shingle each
    assert want[(6, 9)] == 0.0 and 0.0 < want[(6, 8)] < 1.0


def test_connected_components_local_contraction_is_one_pass(
    spark, monkeypatch
):
    """A small edge set is coalesced into one partition, where the local
    union-find already is the answer: two cuts (the pinned local stars,
    the star test) and no alternation. The pinned frame is the rebalance
    + mapInArrow over the pairs; the star test is one keyed aggregate."""
    from syslog_spark.operators import dedup as D

    cuts = []
    orig = D._IterCheckpointer.cut

    def record(self, df, pin=False):
        cuts.append((pin, df._jdf.queryExecution().optimizedPlan().toString()))
        return orig(self, df, pin=pin)

    monkeypatch.setattr(D._IterCheckpointer, "cut", record)
    pairs = spark.createDataFrame(
        [(2, 3), (3, 1), (10, 11), (12, 11), (4, 3)], "a long, b long"
    )
    got = {
        (r["node"], r["component"])
        for r in D.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (12, 10)}
    assert [pin for pin, _ in cuts] == [True, False]
    assert "MapInArrow" in cuts[0][1] and "RebalancePartitions" in cuts[0][1]
    assert "Join" not in cuts[1][1] and "Aggregate" in cuts[1][1]


def test_connected_components_self_loops_and_duplicates(spark, split_edges):
    """The node-set contract: a node that occurs only in self-loops is its
    own component, duplicate and reversed edges change nothing, and a
    node with a self-loop in one partition and an edge in another keeps
    the right label, in one partition and scattered over eight."""
    from syslog_spark.operators.dedup import connected_components

    edges = [(1, 1), (2, 3), (3, 2), (2, 3), (5, 5), (5, 5), (7, 8), (8, 8),
             (9, 8), (20, 21), (21, 20)]
    want = {1: 1, 2: 2, 3: 2, 5: 5, 7: 7, 8: 7, 9: 7, 20: 20, 21: 20}
    pairs = spark.createDataFrame(edges, "a long, b long")
    scattered = {r["node"]: r["component"]
                 for r in connected_components(pairs).collect()}
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    one = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert scattered == want and one == want


def test_dedupe_by_components_minhash_end_to_end(spark):
    """Pairs from the real minhash detector -> components -> keep one per
    cluster: a 3-doc near-identical cluster keeps only its min id, unique
    docs survive untouched."""
    from pyspark.sql import functions as F

    from syslog_spark.operators.dedup import (
        dedupe_by_components, near_duplicates_minhash,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long tune about shingled text and stable hashing in the park"
    )
    rows = [
        (0, base), (1, base + " extra"), (2, "tail " + base),
        (10, "completely different words about spark catalyst plans and "
             "arrow batches flowing through vectorized parse kernels ok"),
        (11, "yet another unrelated document mentioning parquet footers "
             "bloom filters and dictionary encoded column chunks today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = near_duplicates_minhash(docs, threshold=0.5, n_hashes=64)
    kept = sorted(
        r["doc_id"] for r in dedupe_by_components(docs, pairs).collect()
    )
    assert kept == [0, 10, 11]


def test_embedding_near_dups_dim768_no_plan_bloat(spark):
    """Real embedding width (768): the signature must route to the pandas
    matmul — plan analysis stays fast (no 50k literal nodes, no codegen
    64KB fallback) and planted pairs are still found."""
    import time

    from syslog_spark.operators.similarity import embedding_near_dups

    rng = np.random.RandomState(3)
    base = rng.normal(size=(40, 768))
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(5):
        v = base[i].copy()
        v[0] *= 1.001
        rows.append((100 + i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    t0 = time.monotonic()
    df = embedding_near_dups(emb, threshold=0.9, dim=768)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    analyze_s = time.monotonic() - t0
    # catalyst form at dim=768 bakes ~100k literals and takes minutes to
    # analyze; the pandas route analyzes in well under 10s even cold
    assert analyze_s < 10, f"plan analysis took {analyze_s:.1f}s"
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan
    assert plan.count("-0.") + plan.count("0.") < 5000  # no plane literals

    got = {(r["a"], r["b"]) for r in df.collect()}
    assert got == {(i, 100 + i) for i in range(5)}


def test_star_contraction_matches_local_contraction(spark, split_edges,
                                                   star_rounds):
    """The alternation over edges scattered across eight partitions gives
    the components the one-partition local union-find gives, on a mixed
    graph (a chain, a cycle, a pair, random blobs)."""
    from syslog_spark.operators.dedup import connected_components

    rng = np.random.RandomState(11)
    edges = [(i, i + 1) for i in range(10)]            # chain 0..10
    edges += [(20, 21), (21, 22), (22, 20)]            # cycle
    edges += [(30, 31)]                                # pair
    edges += [(int(rng.randint(40, 60)), int(rng.randint(40, 60)))
              for _ in range(30)]                      # random blob(s)
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {(r["node"], r["component"])
           for r in connected_components(pairs).collect()}
    assert star_rounds
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    n = len(star_rounds)
    want = {(r["node"], r["component"])
            for r in connected_components(pairs).collect()}
    assert len(star_rounds) == n  # one partition: no alternation
    assert got == want


def test_star_contraction_deep_path_graph(spark, split_edges, star_rounds):
    """A 10k-node path graph (diameter 10k), scattered over eight
    partitions: the alternation takes a number of rounds logarithmic in
    the path length, not linear, and finds the one component."""
    from pyspark.sql import functions as F
    from syslog_spark.operators.dedup import connected_components

    n = 10_000
    pairs = (
        spark.range(n - 1)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    comps = connected_components(pairs)
    agg = comps.agg(
        F.countDistinct("component").alias("ncomp"),
        F.count(F.lit(1)).alias("n"),
        F.min("component").alias("mn"),
        F.max("component").alias("mx"),
    ).first()
    assert agg["n"] == n
    assert agg["ncomp"] == 1
    assert agg["mn"] == 0 and agg["mx"] == 0
    assert 2 <= len(star_rounds) <= 30


def test_connected_components_round_bound_raises(spark, split_edges,
                                                 monkeypatch):
    """A graph that is not a star forest within the round bound raises
    instead of returning labels that are not components."""
    from syslog_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "a long, b long"
    )
    monkeypatch.setattr(D, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="no star forest"):
        D.connected_components(pairs)
    monkeypatch.undo()
    comps = D.connected_components(pairs).collect()
    assert {r["component"] for r in comps} == {0}
    assert len(comps) == 61


def test_star_test_accepts_exactly_star_forests(spark):
    """The star test that ends connected_components is exact: over every
    graph on 4 nodes with self-loops allowed (1,024 graphs, one Spark
    aggregate), all nodes pass iff every edge of each component touches
    the component's min (self-loops only on the min), and then each
    node's ``m`` is its component's min."""
    from syslog_spark.operators.dedup import _star_test

    slots = [(i, j) for i in range(4) for j in range(i, 4)]  # 10 slots
    rows, want = [], {}
    for g in range(1 << len(slots)):
        es = [slots[k] for k in range(len(slots)) if g >> k & 1]
        if not es:
            continue
        rows += [(10 * g + i, 10 * g + j) for i, j in es]
        parent = list(range(4))

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for i, j in es:
            parent[max(find(i), find(j))] = min(find(i), find(j))
        star = all(min(i, j) == find(i) and (i == j) <= (i == find(i))
                   for i, j in es)
        want[g] = star, {10 * g + x: 10 * g + find(x)
                         for e in es for x in e}
    assert len(want) == 1023
    test = _star_test(spark.createDataFrame(rows, "a long, b long"))
    got = {}
    for r in test.collect():
        ok, m = got.setdefault(r["u"] // 10, (True, {}))
        got[r["u"] // 10] = ok and r["ok"], {**m, r["u"]: r["m"]}
    assert {g: ok for g, (ok, _) in got.items()} == {
        g: ok for g, (ok, _) in want.items()
    }
    assert sum(ok for ok, _ in want.values()) > 50  # both sides occur
    for g, (ok, m) in want.items():
        if ok:
            assert got[g][1] == m


def test_connected_components_parquet_spill_checkpoint(
    spark, tmp_path, split_edges, star_rounds
):
    """checkpoint_dir spills every k-th cut to parquet (a durable lineage
    cut — localCheckpoint blocks die with an executor on a real
    cluster). A 200-node chain scattered over eight partitions drives
    the alternation through the spill path at checkpoint_every=2; the
    result matches and old spill dirs are garbage-collected down to the
    last three."""
    import os

    from syslog_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "a long, b long"
    )
    ck = str(tmp_path / "cc_ckpt")
    got = {
        (r["node"], r["component"])
        for r in connected_components(
            pairs, checkpoint_dir=ck, checkpoint_every=2
        ).collect()
    }
    assert got == {(i, 0) for i in range(200)}
    assert star_rounds
    spills = sorted(d for d in os.listdir(ck) if d.startswith("iter_"))
    assert 1 <= len(spills) <= 3  # older spills deleted best-effort
    # at every=2 the highest surviving spill index proves >= 3 spill cuts
    assert int(spills[-1].rsplit("_", 1)[1]) >= 6


def test_connected_components_spill_every_round(spark, tmp_path,
                                                split_edges, star_rounds):
    """checkpoint_every=1 (every cut spills): the rolling GC must NOT
    delete the pinned local-star spill that the first rounds re-read —
    doing so crashed round every+1 with FAILED_READ_FILE (executed
    repro, round-5 review)."""
    import os

    from syslog_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "a long, b long"
    )
    ck = str(tmp_path / "cc1")
    got = {
        (r["node"], r["component"])
        for r in connected_components(
            pairs, checkpoint_dir=ck, checkpoint_every=1
        ).collect()
    }
    assert got == {(i, 0) for i in range(100)}
    assert len(star_rounds) >= 2
    names = os.listdir(ck)
    assert any(n.startswith("pin_") for n in names)  # input pinned
    assert sum(n.startswith("iter_") for n in names) == 3  # rolling GC


def test_star_contraction_parquet_spill_checkpoint(
    spark, tmp_path, split_edges, star_rounds
):
    """dedupe_by_components passes checkpoint_dir / checkpoint_every to
    connected_components: with the alternation running, cuts spill to
    parquet and the kept ids are the min of each component plus the
    unpaired docs. Any other keyword (the removed ``max_iters``) raises
    TypeError."""
    import os

    from syslog_spark.operators.dedup import dedupe_by_components

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(130)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)] + [(110, 120), (121, 120)],
        "a long, b long",
    )
    ck = str(tmp_path / "star_ckpt")
    kept = sorted(r["doc_id"] for r in dedupe_by_components(
        docs, pairs, checkpoint_dir=ck, checkpoint_every=3
    ).collect())
    assert kept == [0] + [i for i in range(100, 130) if i not in (120, 121)]
    assert star_rounds
    assert any(d.startswith("iter_") for d in os.listdir(ck))
    with pytest.raises(TypeError):
        dedupe_by_components(docs, pairs, max_iters=3)


def _simhash_fold_reference(hashes):
    """The pre-vectorization per-row fold, kept as the semantic spec."""
    out = np.zeros(len(hashes), dtype=np.int64)
    for i, hs in enumerate(hashes):
        if hs is None or len(hs) == 0:
            continue
        h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
            np.int64
        )
        votes = (2 * bits - 1).sum(axis=0)
        val = int(
            ((votes > 0).astype(np.uint64)
             * (np.uint64(1) << np.arange(64, dtype=np.uint64))).sum(
                dtype=np.uint64
            )
        )
        out[i] = val - (1 << 64) if val >= (1 << 63) else val
    return out


def test_simhash_fold_batch_matches_reference():
    """The whole-batch reduceat fold is bitwise-identical to the per-row
    reference, across empty/None/singleton/tie-heavy/large rows and
    chunk boundaries."""
    import pandas as pd

    from syslog_spark.operators.dedup import _simhash_fold_batch

    rng = np.random.RandomState(5)
    rows = []
    for i in range(500):
        k = int(rng.randint(0, 40))
        rows.append(rng.randint(-2**63, 2**63, size=k, dtype=np.int64))
    rows[3] = None
    rows[7] = np.array([], dtype=np.int64)
    rows[11] = np.array([7], dtype=np.int64)
    # tie-heavy: equal votes must give bit 0 (votes > 0 strict)
    rows[13] = np.array([0, -1], dtype=np.int64)
    # one giant row to cross the 2^19-token chunk boundary mid-batch
    rows[200] = rng.randint(-2**63, 2**63, size=600_000, dtype=np.int64)
    got = _simhash_fold_batch(pd.Series(rows)).to_numpy()
    want = _simhash_fold_reference(rows)
    assert (got == want).all()


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_star_contraction_random_graphs_vs_union_find(
    spark, seed, split_edges, star_rounds
):
    """connected_components agrees with a driver-side union-find on
    random multigraphs (self-loops, duplicate edges, many components,
    varying density) plus a chain of 100-400 edges, all under randomly
    permuted ids and scattered over eight partitions, so the
    large-star/small-star alternation has to run two rounds or more."""
    from syslog_spark.operators.dedup import connected_components

    rng = np.random.RandomState(100 + seed)
    n_nodes = int(rng.randint(10, 60))
    edges = [
        (int(rng.randint(n_nodes)), int(rng.randint(n_nodes)))
        for _ in range(int(rng.randint(5, 80)))
    ]
    edges += [(i, i + 1) for i in range(100, 100 + int(rng.randint(100, 400)))]
    ids = rng.permutation(1000)
    edges = [(int(ids[a]), int(ids[b])) for a, b in edges]

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in list(parent)}

    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == want
    assert len(star_rounds) >= 2


def test_rh_signature_pandas_null_and_bad_width_rows(spark):
    """Signatures equal the numpy reference (bit i set iff
    ``v @ planes[i] > 0``, as a signed bigint); null or wrong-width
    embeddings yield NULL signatures instead of np.stack killing the
    task."""
    from syslog_spark.operators.similarity import _planes, rh_signature

    def reference(v):
        bits = (np.asarray(v) @ _planes(64, 42).T) > 0
        u = sum(1 << i for i, b in enumerate(bits) if b)
        return u - (1 << 64) if u >= 1 << 63 else u

    rng = np.random.RandomState(4)
    rows = [(0, rng.normal(size=64).tolist()),
            (1, None),
            (2, rng.normal(size=16).tolist()),   # wrong width
            (3, rng.normal(size=64).tolist())]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["sig"] for r in emb.select(
        "vec_id", rh_signature("embedding", dim=64).alias("sig"),
    ).collect()}
    assert got[1] is None
    assert got[2] is None
    assert got[0] == reference(rows[0][1])
    assert got[3] == reference(rows[3][1])
