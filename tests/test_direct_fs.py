"""Round-5 direct-source tests: pyarrow.fs scheme support, the stricter
layout guard (nested parquet under source= dirs), LIKE-prefix pruning
semantics, and size-striped task assignment."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _mini_tokens(spark, src: str, n: int = 150, start: int = 0):
    return (
        spark.range(start, start + n)
        .select(
            F.concat(F.lit(src + "-"), F.col("id").cast("string"))
            .alias("doc_id"),
            F.expr(
                "transform(split(concat('<13>1 2024-01-01T00:00:00+00:00 "
                "h a p m - msg', id), ''), c -> cast(ascii(c) as int))"
            ).alias("tokens"),
            F.lit(0).alias("n_tok"),
            F.lit(src).alias("source"),
        )
        .withColumn("n_tok", F.size("tokens"))
    )


def test_direct_source_file_uri_scheme(spark, tmp_path):
    """file:// URIs resolve through pyarrow.fs (the non-local-FS code
    path: FileSystem.from_uri listing + worker-side open_input_file) and
    produce the same row set as the plain local path."""
    from syslog_spark.sources.direct import parse_tokens_direct

    path = str(tmp_path / "tok")
    _mini_tokens(spark, "rfc5424", 2_000).write.mode("overwrite").partitionBy(
        "source"
    ).parquet(path)
    uri = f"file://{path}"

    def snap(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("doc_id", "message", "source")).alias("cs"),
        ).first()

    a = snap(parse_tokens_direct(spark, path))
    b = snap(parse_tokens_direct(spark, uri))
    assert a["n"] == b["n"] == 2_000
    assert a["cs"] == b["cs"]


def test_direct_source_rejects_nested_under_source_dir(spark, tmp_path):
    """Parquet nested INSIDE a source= dir (source=x/date=y/part.parquet)
    must fail the layout guard — the flat glob would silently drop those
    rows (round-4 ADVICE finding)."""
    from syslog_spark.sources.direct import list_parquet_files

    path = str(tmp_path / "tok")
    _mini_tokens(spark, "rfc5424", 300).write.mode("overwrite").partitionBy(
        "source"
    ).parquet(path)
    assert len(list_parquet_files(path)) > 0
    nested = tmp_path / "tok" / "source=rfc5424" / "date=2024-01-01"
    nested.mkdir(parents=True)
    # a real (tiny) parquet file, nested one level too deep
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": ["z"]}), str(nested / "part-0.parquet")
    )
    with pytest.raises(FileNotFoundError):
        list_parquet_files(path)


def test_pipeline_falls_back_on_date_partitioned_layout(
    spark, tmp_path, monkeypatch
):
    """A `partitionBy("source", "date")` token table is a layout the
    direct source rejects, so run_pipeline reads it through the standard
    reader; a flat `source=` table of the same rows takes the direct
    path. Both routes give the same manifest."""
    from syslog_spark.plans.pipeline import run_pipeline
    from syslog_spark.sources import direct

    direct_inputs = []
    real = direct.parse_tokens_direct

    def spy(spark_, path, *a, **kw):
        direct_inputs.append(path)
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(direct, "parse_tokens_direct", spy)
    rows = (
        _mini_tokens(spark, "rfc5424", 300)
        .unionAll(_mini_tokens(spark, "rfc5424x", 120, start=1000))
        .withColumn("date", F.when(F.col("n_tok") % 2 == 0, "2024-01-01")
                    .otherwise("2024-01-02"))
    )
    dated = str(tmp_path / "dated")
    flat = str(tmp_path / "flat")
    rows.write.partitionBy("source", "date").parquet(dated)
    rows.drop("date").write.partitionBy("source").parquet(flat)

    def manifest(inp, out):
        run_pipeline(spark, inp, str(tmp_path / out))
        return sorted(
            (r["sink_severity"], r["source"], r["rows"],
             r["row_set_checksum"])
            for r in spark.read.parquet(f"{tmp_path}/{out}/manifest")
            .collect()
        )

    m_dated = manifest(dated, "out_dated")
    assert direct_inputs == []
    m_flat = manifest(flat, "out_flat")
    assert direct_inputs == [flat]
    assert m_dated == m_flat
    assert sum(r[2] for r in m_flat) == 420


def test_direct_source_prefix_is_like_prefix(spark, tmp_path):
    """source_prefixes uses plain string-prefix (LIKE 'p%') semantics: a
    partition 'rfc5424x' IS matched by prefix 'rfc5424' (round-4 ADVICE:
    the code silently required exact or path-segment matches while the
    docstring promised prefix semantics)."""
    from syslog_spark.sources.direct import parse_tokens_direct

    path = str(tmp_path / "tok")
    df = (
        _mini_tokens(spark, "rfc5424", 100)
        .unionAll(_mini_tokens(spark, "rfc5424x", 40, start=1000))
        .unionAll(_mini_tokens(spark, "rfc5424/sub", 30, start=2000))
        .unionAll(_mini_tokens(spark, "nginx/access", 50, start=3000))
    )
    df.write.mode("overwrite").partitionBy("source").parquet(path)
    got = (
        parse_tokens_direct(spark, path, source_prefixes=["rfc5424"])
        .groupBy("source").count().collect()
    )
    counts = {r["source"]: r["count"] for r in got}
    assert counts == {"rfc5424": 100, "rfc5424x": 40, "rfc5424/sub": 30}


def test_stripe_by_size_balances_contiguous_ranges():
    """Files named in size-correlated order (the straggler case from the
    round-4 ADVICE) are dealt so each contiguous task range holds a
    balanced mix of sizes; the result is a permutation of the input."""
    from syslog_spark.sources.direct import _stripe_by_size

    # part-000 smallest ... part-099 largest: contiguous name order
    # would give the last task ~4x the bytes of the first
    files = [(f"part-{i:03d}.parquet", (i + 1) * 10, None) for i in range(100)]
    n_parts = 4
    striped = _stripe_by_size(files, n_parts)
    assert sorted(striped) == sorted(files)
    per_range = [
        sum(sz for _, sz, _ in striped[b * 25:(b + 1) * 25])
        for b in range(n_parts)
    ]
    total = sum(per_range)
    for s in per_range:
        # every contiguous quarter within 5% of the ideal 25% share
        assert abs(s - total / n_parts) <= 0.05 * total / n_parts
    # determinism
    assert striped == _stripe_by_size(list(files), n_parts)


def test_direct_source_fan_out_one_wave_then_split_size(spark, tmp_path):
    """A small input runs in one task wave (defaultParallelism tasks);
    past one spark.sql.files.maxPartitionBytes split per task there is a
    task per split, capped at the file count. The output equals the
    standard reader's at every fan-out."""
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import row_checksum
    from syslog_spark.sources.direct import _scan, parse_tokens_direct

    path = str(tmp_path / "tok")
    _mini_tokens(spark, "rfc5424", 1_600).repartition(16).write.mode(
        "overwrite"
    ).parquet(path)
    _, files = _scan(path)
    assert len(files) == 16
    total = sum(sz for _f, sz, _src in files)

    def snap(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(row_checksum()).alias("cs"),
            F.bit_xor(F.xxhash64("source", "ts")).alias("cs_src_ts"),
        ).first()

    want = snap(parse_tokens(spark.read.parquet(path)))
    assert want["n"] == 1_600
    P = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    try:
        got = {}
        # 256 MB (the session default), total/8 per split, 1 byte
        for split in (before, str(-(-total // 8)), "1"):
            spark.conf.set(key, split)
            df = parse_tokens_direct(spark, path)
            got[split] = df.rdd.getNumPartitions()
            assert snap(df) == want
    finally:
        spark.conf.set(key, before)
    assert P < 8 < 16
    assert list(got.values()) == [P, 8, 16]


def test_resolve_fs_s3a_alias(monkeypatch):
    """s3a:// (the Hadoop connector scheme) aliases to pyarrow's s3://
    handler — path rewriting only; no network touched here."""
    from syslog_spark.sources import direct as D

    seen = {}

    class _FakeFS:
        pass

    def fake_from_uri(uri):
        seen["uri"] = uri
        return _FakeFS(), "bucket/prefix/tokens"

    monkeypatch.setattr(D, "_from_uri", fake_from_uri)
    fs, inner = D._resolve_fs("s3a://bucket/prefix/tokens")
    assert seen["uri"] == "s3://bucket/prefix/tokens"
    assert inner == "bucket/prefix/tokens"
    assert isinstance(fs, _FakeFS)


def test_direct_source_pipeline_auto_takes_file_uri(spark, tmp_path):
    """parsed_frame engages the fused source for a file:// URI (round-4
    gap: any :// path silently fell back to the taxed JVM reader)."""
    from syslog_spark.plans.pipeline import PipelineConfig, parsed_frame

    path = str(tmp_path / "tok")
    _mini_tokens(spark, "rfc5424", 500).write.mode("overwrite").partitionBy(
        "source"
    ).parquet(path)
    df = parsed_frame(spark, f"file://{path}", PipelineConfig())
    assert df.count() == 500


def test_pipeline_source_prefixes_both_paths(
    spark, tmp_path, standard_reader
):
    """PipelineConfig.source_prefixes prunes equivalently through both
    feed paths: file-list pruning on the direct source, a pushed
    startswith filter (partition pruning on hive layouts) on the
    standard reader."""
    from pyspark.sql import functions as F

    from syslog_spark.plans.pipeline import PipelineConfig, parsed_frame

    path = str(tmp_path / "tok")
    df = (
        _mini_tokens(spark, "rfc5424", 200)
        .unionAll(_mini_tokens(spark, "rfc5424x", 80, start=1000))
        .unionAll(_mini_tokens(spark, "nginx/access", 120, start=2000))
    )
    df.write.mode("overwrite").partitionBy("source").parquet(path)

    def snap(cfg):
        out = parsed_frame(spark, path, cfg)
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("doc_id", "source")).alias("cs"),
        ).first()

    a = snap(PipelineConfig(source_prefixes=["rfc5424"]))
    with standard_reader():
        b = snap(PipelineConfig(source_prefixes=["rfc5424"]))
    assert a["n"] == b["n"] == 280  # rfc5424 + rfc5424x, not nginx
    assert a["cs"] == b["cs"]


def test_empty_source_prefixes_rejected(spark, tmp_path, standard_reader):
    """source_prefixes=[] is ambiguous (selects nothing) and previously
    got three different behaviors depending on feed-path routing; both
    entry points now reject it uniformly."""
    from syslog_spark.plans.pipeline import PipelineConfig, parsed_frame
    from syslog_spark.sources.direct import parse_tokens_direct

    path = str(tmp_path / "tok")
    _mini_tokens(spark, "rfc5424", 50).write.mode("overwrite").partitionBy(
        "source"
    ).parquet(path)
    with pytest.raises(ValueError, match="selects nothing"):
        parse_tokens_direct(spark, path, source_prefixes=[])
    with pytest.raises(ValueError, match="selects nothing"):
        parsed_frame(spark, path, PipelineConfig(source_prefixes=[]))
    with standard_reader(), pytest.raises(ValueError, match="selects nothing"):
        parsed_frame(spark, path, PipelineConfig(source_prefixes=[]))
