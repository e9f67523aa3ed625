"""Physical-plan assertions: the Catalyst behaviors the engine relies on
at 100 TB must actually appear in the plans (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def job_ids(spark) -> set:
    """Ids of the jobs started so far outside any job group. The
    tracker learns of a job through the listener bus, so drain it first:
    a job started from an AQE stage thread can register after a read."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


@pytest.fixture(scope="module")
def routed_dir(spark, tmp_path_factory):
    from syslog_spark.plans.pipeline import run_pipeline
    from syslog_spark.sources.datagen import write_token_table

    tok = str(tmp_path_factory.mktemp("pt") / "tokens")
    out = str(tmp_path_factory.mktemp("pt") / "out")
    write_token_table(spark, tok, 2000, partitions=4)
    run_pipeline(spark, tok, out)
    return out


def test_run_pipeline_starts_at_most_three_jobs(spark, tmp_path):
    """One run_pipeline call is one Spark query: the parse + routing
    shuffle, the writer stage, and the manifest aggregate's collect. The
    written table is never listed or scanned."""
    from syslog_spark.plans.pipeline import run_pipeline
    from syslog_spark.sources.datagen import write_token_table

    tok = str(tmp_path / "tokens")
    write_token_table(spark, tok, 2000, partitions=4)
    before = job_ids(spark)
    res = run_pipeline(spark, tok, str(tmp_path / "out"))
    assert res["routed_rows"] + res["error_rows"] == 2000
    assert len(job_ids(spark) - before) <= 3


def test_run_pipeline_jobs_do_not_grow_with_sinks(spark, tmp_path):
    """At 300+ sinks run_pipeline still starts at most 3 jobs: no listing
    job and no job per directory level appears at width."""
    from syslog_spark.plans.pipeline import run_pipeline
    from syslog_spark.sources.datagen import generate_tokens_df

    tok = str(tmp_path / "tokens")
    (
        generate_tokens_df(spark, 6000, partitions=4)
        .withColumn(
            "source",
            F.concat_ws(
                "/", "source", F.pmod(F.xxhash64("doc_id"), F.lit(8))
            ),
        )
        .write.partitionBy("source").parquet(tok)
    )
    before = job_ids(spark)
    res = run_pipeline(spark, tok, str(tmp_path / "out"))
    assert res["routed_rows"] + res["error_rows"] == 6000
    assert res["sinks"] >= 300
    assert len(job_ids(spark) - before) <= 3


def test_enrich_join_is_broadcast(spark, sf_dir):
    from syslog_spark.operators.enrich import enrich_with_joins
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.sources.datagen import generate_tokens_df

    df = enrich_with_joins(
        parse_tokens(generate_tokens_df(spark, 100, partitions=2)), spark
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_routed_partition_pruning(spark, routed_dir):
    from syslog_spark.operators.route import read_routed

    pruned = read_routed(spark, routed_dir).filter(
        (F.col("sink_severity") == 3) & (F.col("source") == "rfc5424/h00")
    )
    plan = plan_of(pruned)
    # partition filters reach the scan: no data files outside the matching
    # sink directory are read
    assert "PartitionFilters" in plan
    assert "sink_severity" in plan.split("PartitionFilters")[1][:200]


def test_parquet_predicate_pushdown(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id") == 7
    )
    plan = plan_of(ev)
    assert "PushedFilters" in plan
    assert "user_id" in plan.split("PushedFilters")[1][:120]


def test_column_pruning(spark, routed_dir):
    from syslog_spark.operators.route import read_routed

    slim = read_routed(spark, routed_dir).select("doc_id", "severity")
    plan = plan_of(slim)
    read_schema = plan.split("ReadSchema:")[1][:300]
    # the wide nested column must NOT be read for a 2-column projection
    assert "data" not in read_schema and "message" not in read_schema


def test_route_query_hashes_once_and_scans_nothing(spark, tmp_path):
    """The routed write and its manifest are one plan: the rebalance, one
    writer MapInArrow and the manifest aggregate over the writer's flat
    output. row_cs is hashed once, before the shuffle; no parquet scan of
    the routed table and no second hash of the nested data column."""
    from syslog_spark.operators import route as R
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.sources.datagen import generate_tokens_df
    from syslog_spark.sources.direct import _resolve_fs

    df = R.with_sink_key(
        parse_tokens(generate_tokens_df(spark, 100, partitions=2))
    ).withColumn("row_cs", R.row_checksum())
    fs, table = _resolve_fs(str(tmp_path / "routed"))
    plan = plan_of(R._route_query(df, fs, f"{table}/_temporary/j"))
    assert plan.count("xxhash64(") == 1
    assert plan.count("Exchange") == 2
    # above the routing shuffle: the writer, the aggregate, nothing else
    above = plan.split("REBALANCE_PARTITIONS_BY_COL")[0]
    assert above.count("MapInArrow") == 1
    assert above.count("HashAggregate") == 2  # partial + final
    assert "Scan" not in above and "xxhash64" not in above
    assert not (tmp_path / "routed").exists()  # planning wrote nothing


def test_minhash_candidates_no_bucket_materialization(spark):
    """The LSH candidate path must not materialize buckets: no
    collect_list / sort_array aggregation buffers (a degenerate one-bucket
    corpus would OOM a reducer), and no CartesianProduct."""
    from syslog_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(
        [(f"d{i}", f"text number {i} padded padding") for i in range(20)],
        "doc_id string, text string",
    )
    plan = plan_of(minhash_lsh_candidates(df))
    assert "collect_list" not in plan
    assert "sort_array" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_neardup_no_cross_join(spark):
    """embedding_near_dups is the blocked-LSH shape: candidates meet via
    the (blk, key) equi-join, never an all-pairs cross join."""
    import numpy as np

    from syslog_spark.operators.similarity import embedding_near_dups

    rng = np.random.RandomState(5)
    vecs = rng.normal(size=(30, 16))
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    df = embedding_near_dups(emb, threshold=0.9, dim=16)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_single_shuffle_in_route_plan(spark):
    """parse -> enrich -> sink-key assignment stays shuffle-free; the only
    exchange is route_write's rebalance on the sink key, unsalted."""
    from syslog_spark.operators.enrich import enrich
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import rebalance_by_sink, with_sink_key
    from syslog_spark.sources.datagen import generate_tokens_df

    df = with_sink_key(
        enrich(parse_tokens(generate_tokens_df(spark, 100, partitions=2)))
    )
    assert "Exchange" not in plan_of(df)
    plan = plan_of(rebalance_by_sink(df))
    assert plan.count("Exchange") == 1
    assert "REBALANCE_PARTITIONS_BY_COL" in plan
    assert "xxhash64" not in plan


def test_connected_components_no_cross_join(spark, monkeypatch):
    """On the default path (the edges fit the local contraction, so no
    large-star/small-star alternation runs) every frame
    connected_components cuts is built from a rebalance, the local
    union-find and keyed aggregates: no CartesianProduct/BNLJ in the
    executed plan of any cut. (The returned frame is a projection of a
    checkpoint, whose plan cannot show the joins.)"""
    from syslog_spark.operators import dedup as D

    plans = []
    orig = D._IterCheckpointer.cut

    def record(self, df, pin=False):
        plans.append(plan_of(df))
        return orig(self, df, pin=pin)

    monkeypatch.setattr(D._IterCheckpointer, "cut", record)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "a long, b long"
    )
    comps = dict(D.connected_components(pairs).collect())
    assert comps == {n: n - n % 2 for n in range(40)}
    assert len(plans) == 2  # the contracted edges, then the star test
    assert "MapInArrow" in plans[0]
    assert not any("CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
                   for p in plans)


def _neardup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long tune about shingled text and stable hashing in the park"
    )
    rows = [(0, base), (1, base + " extra"), (2, "tail " + base),
            (3, "unrelated words about parquet footers and bloom filters")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_components_run_the_verify_once(spark, monkeypatch):
    """connected_components references the pair list once: the executed
    plan of the frame its local contraction consumes (the pinned cut:
    rebalance + mapInArrow over a near_duplicates_minhash output) holds
    ONE array_intersect, and no array_union (|A u B| comes from the
    per-doc set sizes)."""
    from syslog_spark.operators import dedup as D

    pinned = []
    orig = D._IterCheckpointer.cut

    def record(self, df, pin=False):
        if pin:
            pinned.append(plan_of(df))
        return orig(self, df, pin=pin)

    monkeypatch.setattr(D._IterCheckpointer, "cut", record)
    pairs = D.near_duplicates_minhash(_neardup_docs(spark), threshold=0.5)
    comps = {r["node"]: r["component"]
             for r in D.connected_components(pairs).collect()}
    assert comps == {0: 0, 1: 0, 2: 0}
    assert len(pinned) == 1
    assert "MapInArrow" in pinned[0]
    assert pinned[0].count("array_intersect") == 1
    assert "array_union" not in pinned[0]


def test_minhash_verify_plan_starts_no_job(spark, monkeypatch):
    """Once the candidate pairs are checkpointed, building the rest of
    near_duplicates_minhash (candidate ids, semi-joined docs, the spread
    pair stream, the exact verify) starts no Spark job: nothing counts
    the partitions of a plan with an exchange."""
    from syslog_spark.operators.dedup import near_duplicates_minhash

    docs = _neardup_docs(spark)
    seen = []
    cls = type(docs)
    orig = cls.localCheckpoint

    def record(self, *a, **kw):
        out = orig(self, *a, **kw)
        seen.append(job_ids(spark))
        return out

    monkeypatch.setattr(cls, "localCheckpoint", record)
    pairs = near_duplicates_minhash(docs, threshold=0.5)
    after_build = job_ids(spark)
    monkeypatch.undo()
    assert len(seen) == 2  # signature sketch, then candidate pairs
    assert after_build == seen[-1]
    assert pairs.count() == 3
    # the tracker does see this thread's jobs (the check is not vacuous)
    assert job_ids(spark) - after_build


def test_components_of_checkpointed_pairs_start_few_jobs(spark):
    """Components over a checkpointed neardup-shaped pair frame (3-doc
    clusters plus a 60-doc clique, on 4 partitions) start at most 6
    jobs, collect included: the rebalance coalesces the edges into one
    partition, whose local union-find passes the star test at once (label
    propagation started 20 jobs on the neardup graph)."""
    from syslog_spark.operators.dedup import connected_components

    edges = [(3 * i, 3 * i + k) for i in range(1, 300) for k in (1, 2)]
    edges += [(a, b) for a in range(2000, 2060) for b in range(a + 1, 2060)]
    pairs = spark.createDataFrame(edges, "a long, b long").repartition(4)
    pairs = pairs.localCheckpoint(eager=True)
    before = job_ids(spark)
    comps = dict(connected_components(pairs).collect())
    n_jobs = len(job_ids(spark) - before)
    assert len(comps) == 2 * 299 + 299 + 60
    assert comps[2059] == 2000 and comps[3 * 7 + 2] == 21
    assert n_jobs <= 6


def test_pair_gate_queries_spread_without_jobs(spark, sf_dir, monkeypatch):
    """Building the minhash_pairs and simhash_pairs gate queries starts
    no job inside _spread_if_narrow: their corpus is a union of
    repartitioned scans, and a plan with an exchange passes through
    instead of having its partitions counted (which made AQE run the
    shuffle in a throwaway query execution)."""
    import __spark_entry__ as E
    from syslog_spark.operators import dedup as D

    spread_jobs, calls = set(), []
    orig = D._spread_if_narrow

    def record(df):
        before = job_ids(spark)
        out = orig(df)
        spread_jobs.update(job_ids(spark) - before)
        calls.append(out is df)
        return out

    monkeypatch.setattr(D, "_spread_if_narrow", record)
    monkeypatch.setattr(E, "_spread_if_narrow", record)
    qs = [E.q_minhash_pairs(spark, sf_dir), E.q_simhash_pairs(spark, sf_dir)]
    monkeypatch.undo()
    assert spread_jobs == set()
    # the narrow scans were spread, the unions passed through
    assert False in calls and True in calls
    assert all(q.count() > 0 for q in qs)


def test_star_contraction_no_cross_join(spark, split_edges, star_rounds,
                                      monkeypatch):
    """The large-star/small-star rounds are equi-joins + keyed aggs with
    cut lineage — no CartesianProduct/BNLJ in the plan of any cut."""
    from syslog_spark.operators import dedup as D

    plans = []
    orig = D._IterCheckpointer.cut

    def record(self, df, pin=False):
        plans.append(plan_of(df))
        return orig(self, df, pin=pin)

    monkeypatch.setattr(D._IterCheckpointer, "cut", record)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40)], "a long, b long"
    )
    assert {r["component"] for r in D.connected_components(pairs).collect()} \
        == {0}
    assert star_rounds and len(plans) > 2
    assert not any("CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
                   for p in plans)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_minhash_shingle_hoist_survives_optimizer(spark):
    """The round-5 16x fix: shingle hashing must appear ONCE in the
    optimized banding plan — if CollapseProject ever starts re-inlining
    the hoisted hash array into the 64 min folds, array_distinct (the
    shingle subtree's marker) shows up 64x and this trips."""
    from syslog_spark.operators.dedup import _minhash_banded, _minhash_sigs

    docs = spark.createDataFrame(
        [(1, "hello world the end")], "doc_id long, text string"
    )
    sigs = _minhash_sigs(docs, "text", "doc_id", 64, 5, 42)
    plan = _optimized(_minhash_banded(sigs, 64, 16))
    assert plan.count("array_distinct") == 1


def test_minhash_banding_stage_fits_the_jit(spark):
    """The banding stage at (64 hashes, 32 bands) generates no method over
    HotSpot's 8,000-bytecode JIT limit: the band is exploded from a
    sequence, so the stage holds one xxhash64(slice(...)) instead of 32
    unrolled ones (9,846 bytes, left interpreted for every doc)."""
    import re

    from syslog_spark.operators.dedup import _minhash_banded, _minhash_sigs

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog {7 * i}")
         for i in range(40)],
        "doc_id long, text string",
    )
    banded = _minhash_banded(
        _minhash_sigs(docs, "text", "doc_id", 64, 5, 42), 64, 32
    )
    rows = banded.collect()
    assert len(rows) == 40 * 32
    assert {r["band"] for r in rows} == set(range(32))
    code = spark._jvm.org.apache.spark.sql.execution.debug.package \
        .codegenString(banded._jdf.queryExecution().executedPlan())
    stages = code.split("== Subtree ")[1:]
    banding = [s for s in stages if "Generate explode" in s]
    assert len(banding) == 1
    sizes = [int(n) for n in re.findall(r"maxMethodCodeSize:(\d+)", code)]
    assert len(sizes) == len(stages) and max(sizes) < 8000


def test_document_stats_split_hoist_survives_optimizer(spark):
    """The hoisted tokenizations: exactly 3 split() nodes survive
    optimization (cased words, lowered words, bpe-ish split) — the
    inline form carried ~8."""
    from syslog_spark.operators.textstats import document_stats

    docs = spark.createDataFrame(
        [(1, "hello world the end")], "doc_id long, text string"
    )
    plan = _optimized(document_stats(docs))
    assert plan.count("split(") == 3


def test_rh_signature_cast_hoist_survives_optimizer(spark):
    """embedding_near_dups: the to-double cast transform must not be
    re-inlined into the 64 dot folds (2 transform nodes total: the
    hoisted _vec per join side of the self-join's shared child)."""
    from syslog_spark.operators.similarity import embedding_near_dups

    emb = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id long, embedding array<float>"
    )
    plan = _optimized(embedding_near_dups(emb, dim=8))
    assert plan.count("transform(") <= 2
