"""Structured Streaming + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from syslog_spark.sources.datagen import write_token_table


@pytest.fixture(scope="module")
def token_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "tokens")
    write_token_table(spark, path, 2000, partitions=4)
    return path


def test_stream_parse_availablenow(spark, token_dir, tmp_path):
    from syslog_spark.streaming.stream_pipeline import run_stream_once

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = run_stream_once(spark, token_dir, out, ckpt)
    # streaming output equals the batch pipeline's valid-row count
    from syslog_spark.operators.parse import parse_tokens

    batch_valid = (
        parse_tokens(spark.read.parquet(token_dir))
        .filter(F.col("error_msg").isNull())
        .count()
    )
    assert n1 == batch_valid
    # restart: checkpoint makes re-run a no-op
    n2 = run_stream_once(spark, token_dir, out, ckpt)
    assert n2 == n1


def test_stream_once_fails_closed(spark, token_dir, tmp_path):
    """An empty input reads back as 0 rows (the sink holds only its
    metadata log), but an unreadable routed table raises instead of
    reporting 0 valid rows written."""
    from syslog_spark.streaming.stream_pipeline import run_stream_once

    empty = tmp_path / "empty"
    empty.mkdir()
    assert run_stream_once(
        spark, str(empty), str(tmp_path / "e_out"), str(tmp_path / "e_ck")
    ) == 0
    out, ckpt = tmp_path / "out", str(tmp_path / "ckpt")
    assert run_stream_once(spark, token_dir, str(out), ckpt) > 0
    part = next((out / "routed").rglob("*.parquet"))
    part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        run_stream_once(spark, token_dir, str(out), ckpt)


def test_stream_windowed_counts(spark, token_dir):
    from syslog_spark.streaming.stream_pipeline import (
        parse_stream,
        read_token_stream,
        windowed_severity_counts,
    )

    agg = windowed_severity_counts(
        parse_stream(read_token_stream(spark, token_dir))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sev_windows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only watermark-closed windows; with availableNow
    # the final watermark closes all but the max-event-time window(s).
    rows = spark.sql("select * from sev_windows").collect()
    assert len(rows) > 0
    assert all(0 <= r["severity"] <= 7 for r in rows)


def test_stream_stateful_running_totals(spark, token_dir, tmp_path):
    from syslog_spark.streaming.stream_pipeline import (
        host_running_totals,
        parse_stream,
        read_token_stream,
    )

    totals = host_running_totals(
        parse_stream(read_token_stream(spark, token_dir))
    )
    q = (
        totals.writeStream.format("memory")
        .queryName("host_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["hostname"]: r["running_total"]
        for r in spark.sql("select * from host_totals").collect()
    }
    from syslog_spark.operators.parse import parse_tokens

    want = {
        r["hostname"]: r["n"]
        for r in parse_tokens(spark.read.parquet(token_dir))
        .filter(F.col("error_msg").isNull())
        .groupBy("hostname")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_multimodal_features(spark):
    from syslog_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        synth_media_df,
    )

    media = synth_media_df(spark, 32)
    feats = extract_features(media).collect()
    assert len(feats) == 32
    for r in feats:
        assert r["decode_error"] is None
        assert len(r["feature"]) == FEATURE_DIM
        s = sum(x * x for x in r["feature"])
        assert abs(s - 1.0) < 1e-3  # unit-norm contract
    # determinism
    feats2 = extract_features(media).collect()
    assert {r["doc_id"]: r["feature"] for r in feats} == {
        r["doc_id"]: r["feature"] for r in feats2
    }


def test_multimodal_oversize_skip(spark):
    from syslog_spark.operators.multimodal import extract_features, synth_media_df

    media = synth_media_df(spark, 4)
    out = extract_features(media, max_payload_bytes=10).collect()
    assert all(
        r["feature"] is None and "too large" in r["decode_error"] for r in out
    )


def test_stream_error_sink_parity(spark, token_dir, tmp_path):
    """Streaming fan-out matches the batch router's sink layout, including
    the dead-letter partition and per-sink row counts."""
    from syslog_spark.operators.enrich import enrich
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import ERROR_SINK, route_write
    from syslog_spark.streaming.stream_pipeline import run_stream_once

    s_out = str(tmp_path / "stream_out")
    run_stream_once(spark, token_dir, s_out, str(tmp_path / "ck"))
    b_out = str(tmp_path / "batch_out")
    route_write(
        enrich(parse_tokens(spark.read.parquet(token_dir))), b_out, spark
    )
    s_counts = (
        spark.read.parquet(f"{s_out}/routed")
        .groupBy("sink_severity", "source").count()
    )
    b_counts = (
        spark.read.parquet(f"{b_out}/routed")
        .groupBy("sink_severity", "source").count()
    )
    assert s_counts.exceptAll(b_counts).count() == 0
    assert b_counts.exceptAll(s_counts).count() == 0
    errs = (
        spark.read.parquet(f"{s_out}/routed")
        .filter(F.col("sink_severity") == ERROR_SINK).count()
    )
    assert errs > 0


def test_multimodal_to_ann_composition(spark):
    """Decoded media features feed the similarity operators directly
    (array<float> contract)."""
    from syslog_spark.operators.multimodal import extract_features, synth_media_df
    from syslog_spark.operators.similarity import brute_force_topk

    feats = extract_features(synth_media_df(spark, 48)).select(
        F.monotonically_increasing_id().alias("vec_id"),
        F.col("doc_id").alias("media_id"),
        F.col("feature").alias("embedding"),
    ).cache()
    q = feats.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    top = brute_force_topk(feats, q, k=3).collect()
    assert len(top) == 6
    by_q = {}
    for r in top:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        best = min(rows, key=lambda r: r["rank"])
        assert best["vec_id"] == qid and abs(best["cosine"] - 1.0) < 1e-6
    feats.unpersist()


def test_numpy_decoders_roundtrip():
    """Encoder->decoder roundtrips for the dependency-free real formats:
    pixels and samples come back exactly (PCM) / as exact luma (images)."""
    import numpy as np

    from syslog_spark.operators import multimodal as M

    pix = M._synth_image_pixels(4, 17, 23)
    gray = M._decode_bmp(M.encode_bmp(pix))
    f32 = pix.astype(np.float32)
    want = 0.114 * f32[:, :, 2] + 0.587 * f32[:, :, 1] + 0.299 * f32[:, :, 0]
    assert gray.shape == (17, 23)
    assert np.abs(gray - want).max() < 1e-4

    gray2 = M._decode_ppm(M.encode_ppm(pix))
    assert gray2.shape == (17, 23)
    assert np.abs(gray2 - want).max() < 1e-4

    s = M._synth_audio_samples(3, 2111)
    sig, rate = M._decode_wav_pcm16(M.encode_wav_pcm16(s))
    assert rate == 16000 and (sig == s).all()

    # PPM header extras: comments + multi-whitespace
    hdr = b"P6\n# a comment\n 3\t2 # more\n255\n" + bytes(18)
    assert M._decode_ppm(hdr).shape == (2, 3)

    # stereo WAV averages channels
    stereo = np.repeat(s[:100], 2)
    raw = M.encode_wav_pcm16(s[:100])
    # rebuild as 2-channel by hand: patch n_channels + block align
    import struct
    fmt_pos = raw.index(b"fmt ") + 8
    patched = bytearray(M.encode_wav_pcm16(stereo))
    patched[fmt_pos + 2:fmt_pos + 4] = struct.pack("<H", 2)
    sig2, _ = M._decode_wav_pcm16(bytes(patched))
    assert (sig2 == s[:100].astype(np.float32)).all()

    for bad in (b"", b"BM123", b"P6\n1 1\n255\n", b"RIFF\x00\x00\x00\x00WAVE"):
        try:
            M._numpy_features(bad)
            assert False, f"should have raised for {bad!r}"
        except ValueError:
            pass


def test_numpy_decoder_end_to_end(spark):
    """decoder='numpy' over real encoded payloads: unit-norm 64-dim
    features for valid rows, error rows for the planted corrupt ones."""
    import numpy as np

    from syslog_spark.operators.multimodal import (
        extract_features, synth_real_media_df,
    )

    out = extract_features(
        synth_real_media_df(spark, 48), decoder="numpy"
    ).collect()
    assert len(out) == 48
    ok = [r for r in out if r["decode_error"] is None]
    bad = [r for r in out if r["decode_error"] is not None]
    assert len(bad) == 3  # every 16th row
    assert all("unrecognized payload" in r["decode_error"] for r in bad)
    for r in ok:
        v = np.array(r["feature"], dtype=np.float64)
        assert v.shape == (64,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-3
    # determinism across runs
    out2 = extract_features(
        synth_real_media_df(spark, 48), decoder="numpy"
    ).collect()
    assert {(r["doc_id"], tuple(r["feature"] or [])) for r in out} == \
           {(r["doc_id"], tuple(r["feature"] or [])) for r in out2}


def test_streaming_dedup_exact_state_across_batches(spark, tmp_path):
    """Duplicate digests planted in SEPARATE files (one file per
    micro-batch via maxFilesPerTrigger=1) must merge through the
    per-digest state: final n_docs counts across all batches and
    keep_doc_id is the global string-min id."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from syslog_spark.streaming.stream_pipeline import streaming_dedup_exact

    d = tmp_path / "docs"
    d.mkdir()
    # file i holds doc (f"{i}-a", "shared") + a unique doc; "shared"
    # appears once per file -> its state must fold across 4 batches
    for i in range(4):
        pq.write_table(
            pa.table({
                "doc_id": [f"{i}-a", f"{i}-b"],
                "text": ["shared text body", f"unique {i}"],
            }),
            str(d / f"f{i}.parquet"),
        )
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"sdx_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name)
    # >1 update rows for the shared digest proves multiple micro-batches
    shared_updates = rows.filter(F.col("keep_doc_id") == "0-a").count()
    assert shared_updates >= 2
    final = {
        r["keep_doc_id"]: r["n_docs"]
        for r in rows.groupBy("digest").agg(
            F.min("keep_doc_id").alias("keep_doc_id"),
            F.max("n_docs").alias("n_docs"),
        ).collect()
    }
    assert final["0-a"] == 4  # all four "shared text body" copies
    assert all(v == 1 for k, v in final.items() if k != "0-a")
    assert len(final) == 5


def test_streaming_dedup_state_survives_query_restart(spark, tmp_path):
    """The stateful dedup's state must persist across QUERY RESTARTS
    (not just micro-batches): a second run over the same checkpoint
    location folds NEW files into the state built by the first run."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from syslog_spark.streaming.stream_pipeline import streaming_dedup_exact

    d = tmp_path / "docs"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ])

    def write_file(i):
        pq.write_table(
            pa.table({"doc_id": [f"{i}-a"], "text": ["shared text body"]}),
            str(d / f"f{i}.parquet"),
        )

    out = str(tmp_path / "updates")

    def drain(run_tag):
        # memory sink cannot recover a checkpoint; foreachBatch + file
        # append is the restartable (and realistic) sink shape
        def sink(batch_df, batch_id):
            batch_df.withColumn("run", F.lit(run_tag)).write.mode(
                "append"
            ).parquet(out)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        q = (
            streaming_dedup_exact(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    write_file(0)
    write_file(1)
    rows1 = drain("r1")
    assert rows1.agg(F.max("n_docs")).first()[0] == 2

    # restart over the SAME checkpoint with two more copies on disk:
    # the fold must CONTINUE from n=2 (state restored), ending at 4 —
    # and the second run must process ONLY the new files (no replay of
    # already-committed batches)
    write_file(2)
    write_file(3)
    rows2 = drain("r2")
    assert rows2.agg(F.max("n_docs")).first()[0] == 4
    r2_updates = rows2.filter(F.col("run") == "r2").collect()
    assert {r["n_docs"] for r in r2_updates} == {3, 4}
    # the survivor is still the global min id from the FIRST run
    assert all(r["keep_doc_id"] == "0-a" for r in r2_updates)


def test_streaming_dedup_rocksdb_state_store(spark, tmp_path):
    """The documented scale path: the same stateful operator runs on the
    RocksDB state store provider (state off the executor heap). Skips
    if the provider is unavailable in this build."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from syslog_spark.streaming.stream_pipeline import streaming_dedup_exact

    d = tmp_path / "docs"
    d.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({
                "doc_id": [f"{i}-a", f"{i}-b"],
                "text": ["shared text body", f"unique {i}"],
            }),
            str(d / f"f{i}.parquet"),
        )
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"sdb_{uuid.uuid4().hex[:8]}"
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        q = (
            streaming_dedup_exact(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .option("spark.sql.streaming.stateStore.providerClass", provider)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except Exception as e:  # provider missing in this build
        import pytest as _pytest

        if "RocksDB" in str(e) or "ClassNotFound" in str(e):
            _pytest.skip(f"RocksDB state store unavailable: {e}")
        raise
    final = (
        spark.table(name).groupBy("digest")
        .agg(F.min("keep_doc_id").alias("keep"), F.max("n_docs").alias("n"))
        .collect()
    )
    got = {r["keep"]: r["n"] for r in final}
    assert got["0-a"] == 3
    assert len(got) == 4


def test_streaming_dedup_null_doc_id(spark, tmp_path):
    """Null ids must not crash the stateful fold (pandas .min() raises
    on str/None mixes): null-id rows still COUNT (count(*) semantics)
    but the survivor min skips them, matching the batch twin / oracle."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from syslog_spark.streaming.stream_pipeline import streaming_dedup_exact

    d = tmp_path / "docs"
    d.mkdir()
    pq.write_table(
        pa.table({"doc_id": [None, "z"], "text": ["shared", "shared"]}),
        str(d / "f0.parquet"),
    )
    pq.write_table(
        pa.table({"doc_id": ["a", None], "text": ["shared", "only-null"]}),
        str(d / "f1.parquet"),
    )
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"sdn_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {
        r["digest"]: (r["keep_doc_id"], r["n_docs"])
        for r in spark.table(name).groupBy("digest").agg(
            F.min("keep_doc_id").alias("keep_doc_id"),
            F.max("n_docs").alias("n_docs"),
        ).collect()
    }
    assert len(final) == 2
    vals = sorted(final.values(), key=lambda v: v[1])
    assert vals[0] == (None, 1)   # the only-null-id digest
    assert vals[1] == ("a", 3)    # null id counted, min skips it
