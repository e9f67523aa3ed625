"""Round-6 optimization equivalence tests.

Each round-6 rewrite claims RESULT-IDENTITY with the shape it replaced;
these tests pin that claim directly (the oracle gates pin it end-to-end).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

# uses the session-scoped `spark` fixture from conftest.py: a local
# module fixture that build_session()s would getOrCreate() the SAME
# underlying session and then stop() it at module teardown, killing the
# shared context for every test file sorted after this one.


def _random_docs(n=40, seed=7):
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        words = [
            "".join(rng.choice(list("abcdefgh"), size=rng.randint(3, 9)))
            for _ in range(rng.randint(1, 12))
        ]
        rows.append((f"d{i}", " ".join(words)))
    return rows


def test_numpy_signature_bit_identical_to_catalyst(spark):
    """_signature_batch_udf must return the EXACT values of the Catalyst
    fold chain (same coefficients, same mod arithmetic), including the
    all-NULL signature for NULL text."""
    from minhash_reference import signature_from_hashes
    from syslog_spark.operators.dedup import (
        _signature_batch_udf, shingle_hashes,
    )

    rows = _random_docs(30) + [("dnull", None), ("dempty", "")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    hashes = df.select(
        "doc_id", shingle_hashes("text", 5).alias("_sh")
    )
    udf_sig = _signature_batch_udf(16, seed=42)
    got = {
        r["doc_id"]: r["s"]
        for r in hashes.select(
            "doc_id", udf_sig(F.col("_sh"))["sig"].alias("s")
        ).collect()
    }
    want = {
        r["doc_id"]: r["s"]
        for r in hashes.select(
            "doc_id",
            signature_from_hashes(F.col("_sh"), 16, seed=42).alias("s"),
        ).collect()
    }
    assert got == want
    # NULL text never yields a NULL hash array in Catalyst (substr(NULL)
    # -> [NULL] -> xxhash64(NULL) = seed), and the UDF matches that too
    assert "dnull" in got and "dempty" in got


def _unpack_planes(planes, n):
    """Low bytes of n sketch components from their bit-plane longs (the
    inverse of dedup._bit_planes, written independently of it)."""
    out = []
    for j in range(n):
        c, bit = divmod(j, 64)
        out.append(sum(
            ((planes[c * 8 + k] >> bit) & 1) << k for k in range(8)
        ))
    return out


def test_bit_planes_round_trip():
    """The bit-plane packing holds exactly the low bytes (Spark-free),
    including a component count that is not a multiple of 64."""
    from syslog_spark.operators.dedup import _bit_planes

    rng = np.random.RandomState(5)
    for n in (8, 64, 176, 256):
        low = rng.randint(0, 256, size=(7, n)).astype(np.uint8)
        planes = _bit_planes(low)
        assert planes.shape == (7, 8 * -(-n // 64))
        assert planes.dtype == np.int64
        for row in range(7):
            got = _unpack_planes([int(v) for v in planes[row]], n)
            assert got == [int(v) for v in low[row]]


def test_packed_sketch_prefix_matches_signature(spark):
    """The estimate sketch's first n_hashes components must be the low
    bytes of the exact signature (the keep-superset compression claim
    rests on byte equality being NECESSARY for component equality)."""
    from syslog_spark.operators.dedup import _minhash_sigs

    df = spark.createDataFrame(_random_docs(20), "doc_id string, text string")
    out = _minhash_sigs(df, "text", "doc_id", 8, 5, 42, n_extra=24)
    for r in out.collect():
        assert len(r["p"]) == 8
        assert _unpack_planes(r["p"], 8) == [v & 0xFF for v in r["sig"]]


@pytest.mark.parametrize("n", [176, 256])
def test_sketch_matches_counts(spark, n):
    """_sketch_matches counts equal low bytes exactly like numpy does —
    random sketches (few byte values, so many agree), all equal, all
    different, and NULL on one side."""
    from syslog_spark.operators.dedup import _bit_planes, _sketch_matches

    rng = np.random.RandomState(n)
    pairs = [
        (rng.randint(0, 4, size=n), rng.randint(0, 4, size=n))
        for _ in range(30)
    ]
    same = rng.randint(0, 256, size=n)
    pairs += [(same, same), (same, (same + 1) % 256)]
    rows = [
        ([int(v) for v in _bit_planes(a.astype(np.uint8)[None])[0]],
         [int(v) for v in _bit_planes(b.astype(np.uint8)[None])[0]],
         int((a == b).sum()))
        for a, b in pairs
    ]
    rows.append((None, rows[0][1], None))
    df = spark.createDataFrame(
        rows, "pa array<long>, pb array<long>, want long"
    )
    got = df.select(
        _sketch_matches("pa", "pb", n).alias("got"), "want"
    ).collect()
    assert [r["got"] for r in got] == [r["want"] for r in got]
    assert got[-3]["got"] == n and got[-2]["got"] == 0
    assert got[-1]["got"] is None


@pytest.mark.parametrize("max_hamming", [0, 1, 2, 3])
def test_simhash_multi_index_equals_all_pairs(spark, max_hamming):
    """The multi-index blocking (max_hamming < 4: m = max_hamming + 2
    blocks, every block pair probed) must return EXACTLY the pairs an
    all-pairs Hamming filter finds, each once — the pigeonhole recall
    argument, executed at every multi-index m (2-5)."""
    from syslog_spark.operators.dedup import simhash, simhash_near_dups

    rng = np.random.RandomState(3)
    rows = []
    for i in range(30):
        words = [
            "".join(rng.choice(list("xyzw"), size=4)) for _ in range(6)
        ]
        rows.append((f"d{i}", " ".join(words)))
        if i < 8:  # permuted twin => hamming 0
            rng.shuffle(words)
            rows.append((f"p{i}", " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id string, text string")

    got = [
        (r["a"], r["b"])
        for r in simhash_near_dups(df, max_hamming=max_hamming).collect()
    ]
    assert len(got) == len(set(got))
    sh = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    ids = sorted(sh)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= max_hamming
    }
    assert set(got) == want
    assert len(want) >= 8  # the planted twins are all found


def test_minhash_prefilter_keeps_planted_pair(spark):
    """End-to-end: a high-Jaccard planted pair must survive the packed
    prefilter + semi-joined verify (output identity with the old path is
    pinned corpus-wide by the minhash_neardup / dedup_pipeline gates)."""
    from syslog_spark.operators.dedup import near_duplicates_minhash

    rows = _random_docs(25, seed=11)
    rows.append(("twin", rows[0][1] + " zz"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r["a"], r["b"])
        for r in near_duplicates_minhash(
            df, threshold=0.6, bands=32, n_hashes=64
        ).collect()
    }
    assert ("d0", "twin") in pairs

def test_simhash_legacy_branch_minimal_probe(spark):
    """The single-block blocking (max_hamming >= 4: one 16-bit block of
    4 probed) with the minimal-probe dedup filter still returns exactly
    the pairs sharing
    >= 1 exact block with hamming <= h, each pair once — including pairs
    agreeing on MULTIPLE blocks (which the filter must emit exactly once
    via the lowest agreeing block)."""
    from syslog_spark.operators.dedup import simhash, simhash_near_dups

    rng = np.random.RandomState(5)
    rows = []
    for i in range(24):
        words = ["".join(rng.choice(list("qrst"), size=4)) for _ in range(5)]
        rows.append((f"d{i}", " ".join(words)))
        if i < 6:  # identical twin: ALL blocks agree (multi-agreement)
            rows.append((f"t{i}", " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id string, text string")

    out = simhash_near_dups(df, max_hamming=8).collect()
    got = [(r["a"], r["b"]) for r in out]
    assert len(got) == len(set(got))  # each pair exactly once
    sh = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    ids = sorted(sh)
    width = 16

    def share_block(x, y):
        return any(
            ((x >> (i * width)) & 0xFFFF) == ((y >> (i * width)) & 0xFFFF)
            for i in range(4)
        )

    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if share_block(sh[a], sh[b])
        and bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= 8
    }
    assert set(got) == want
    assert len(want) >= 6  # planted identical twins all found


def test_raw_bucket_pairs_carry_matches_join(spark):
    """Carrying a payload column through the blocking self-join must
    yield exactly the (a, b, payload_a, payload_b) rows the old
    join-onto-the-pair-stream shape produced."""
    from syslog_spark.operators.dedup import _raw_bucket_pairs

    rows = [
        ("id%02d" % i, i % 3, (i * 7) % 5, ("pay%02d" % i).encode())
        for i in range(30)
    ]
    banded = spark.createDataFrame(
        rows, "id string, band int, bucket int, p binary"
    )
    new = {
        (r["a"], r["b"], bytes(r["p_a"]), bytes(r["p_b"]))
        for r in _raw_bucket_pairs(banded, 200).collect()
    }
    base = _raw_bucket_pairs(banded.select("id", "band", "bucket"), 200)
    payload = banded.select("id", "p")
    old = {
        (r["a"], r["b"], bytes(r["p_a"]), bytes(r["p_b"]))
        for r in base.join(
            payload.select(F.col("id").alias("a"), F.col("p").alias("p_a")), "a"
        ).join(
            payload.select(F.col("id").alias("b"), F.col("p").alias("p_b")), "b"
        ).collect()
    }
    assert new == old and len(new) > 0


def test_signature_udf_empty_array_matches_catalyst_null(spark):
    """An EMPTY hash array must produce all-NULL signature components
    (Catalyst: array_min(transform([], ...)) is NULL) — and must not
    corrupt neighbouring rows via reduceat's empty-segment semantics."""
    from pyspark.sql import types as T
    from syslog_spark.operators.dedup import _signature_batch_udf

    rows = [("a", [3, 7, 11]), ("b", []), ("c", None), ("d", [5])]
    df = spark.createDataFrame(
        rows, T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("h", T.ArrayType(T.LongType())),
        ])
    )
    sig = _signature_batch_udf(8, 42)
    got = {
        r["id"]: r["s"]
        for r in df.select("id", sig("h")["sig"].alias("s")).collect()
    }
    assert got["b"] == [None] * 8
    assert got["c"] == [None] * 8
    assert all(v is not None for v in got["a"])
    assert all(v is not None for v in got["d"])


def test_spread_if_narrow_streaming_and_narrow_batch(spark):
    """A streaming frame passes through unchanged (it has no RDD to
    count); a 1-partition batch frame fans out to defaultParallelism."""
    from syslog_spark.operators.dedup import _spread_if_narrow

    stream = spark.readStream.format("rate").load()
    assert _spread_if_narrow(stream) is stream
    narrow = spark.range(10, numPartitions=1)
    out = _spread_if_narrow(narrow)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(10))


def _planted_shingle_corpus():
    """3 clusters of a 24-word base text and 5 variants keeping its first
    22/18/15/12/9 words, plus 6 unrelated docs: pair Jaccards fall on
    both sides of 0.3, 0.4 and 0.7."""
    rng = np.random.RandomState(21)

    def words(n):
        return [
            "".join(rng.choice(list("abcdefghijklmnop"),
                               size=rng.randint(3, 8)))
            for _ in range(n)
        ]

    rows = []
    for c in range(3):
        base = words(24)
        rows.append((f"c{c}", " ".join(base)))
        for j, keep in enumerate((22, 18, 15, 12, 9)):
            text = " ".join(base[:keep] + words(24 - keep))
            rows.append((f"c{c}v{j}", text))
    rows += [(f"u{i}", " ".join(words(20))) for i in range(6)]
    return rows


def _python_jaccards(rows, k=5):
    def sh(t):
        return {t[i:i + k] for i in range(max(len(t) - (k - 1), 1))}

    sets = {d: sh(t) for d, t in rows}
    ids = sorted(sets)
    return {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for i, a in enumerate(ids) for b in ids[i + 1:]
    }


@pytest.mark.parametrize(
    "threshold,n_hashes", [(0.3, 64), (0.7, 64), (0.7, 32)]
)
def test_minhash_one_candidate_path_exact(spark, monkeypatch, threshold,
                                          n_hashes):
    """near_duplicates_minhash has one candidate path: bucket pairs, the
    bit-plane prefilter only from 44 hashes up (where its Hoeffding drop
    bound is <= 1e-6), then the exact verify. Thresholds at or below
    ESTIMATE_MARGIN take the prefilter too. The output is exactly the
    all-pairs 5-shingle Jaccard >= threshold set (one-row bands, so
    banding recall is ~1 - 0.7^n_hashes at J = 0.3)."""
    from syslog_spark.operators.dedup import near_duplicates_minhash

    rows = _planted_shingle_corpus()
    jac = _python_jaccards(rows)
    for lo, hi in ((0.0, 0.3), (0.3, 0.4), (0.4, 0.7), (0.7, 1.01)):
        assert any(lo <= v < hi for v in jac.values())
    df = spark.createDataFrame(rows, "doc_id string, text string")

    plans = []
    cls = type(df)
    orig = cls.localCheckpoint

    def record(self, *a, **kw):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", record)
    out = near_duplicates_minhash(
        df, threshold=threshold, n_hashes=n_hashes, bands=n_hashes
    )
    monkeypatch.undo()
    got = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}
    want = {p: v for p, v in jac.items() if v >= threshold}
    assert got == want
    assert len(plans) == 2  # signature sketch, then candidate pairs
    assert ("bit_count(" in plans[1]) == (n_hashes >= 44)
    # the prefilter runs in the join stage: the signature fold is the
    # call's only Python stage
    assert plans[0].count("ArrowEvalPython") == 1
    assert "ArrowEvalPython" not in plans[1]


def test_minhash_unknown_keyword_raises(spark):
    """Keywords are explicit: the removed prefilter margin and a typoed
    tuning knob both fail closed instead of being ignored."""
    from syslog_spark.operators.dedup import near_duplicates_minhash

    df = spark.createDataFrame(_random_docs(4), "doc_id string, text string")
    with pytest.raises(TypeError):
        near_duplicates_minhash(df, estimate_margin=0.4)
    with pytest.raises(TypeError):
        near_duplicates_minhash(df, max_buckets=10)
