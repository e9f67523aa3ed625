"""End-to-end Spark tests for the parse operator (mapInArrow)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from syslog_spark import oracle as O
from syslog_spark.operators.parse import parse_tokens
from syslog_spark.operators.schema import TOKENS_SPARK_SCHEMA

import reference_corpus as RC

Y, TZ = 2024, 0


@pytest.fixture(scope="module")
def corpus_df(spark):
    batch = RC.corpus_token_batch()
    pdf = pa.Table.from_batches([batch]).to_pandas()
    return spark.createDataFrame(pdf, schema=TOKENS_SPARK_SCHEMA)


def test_parse_corpus_end_to_end(spark, corpus_df):
    parsed = parse_tokens(corpus_df, Y, TZ, keep_raw=True)
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in parsed.collect()}
    assert len(rows) == len(RC.corpus())
    for name, fmt, line in RC.corpus():
        got = rows[name]
        exp = O.to_row(O.parse_message(line, fmt, Y, TZ))
        assert got["raw"] == line, name
        for k in (
            "priority", "facility", "severity", "version", "ts_micros",
            "ts_nanos", "tz_offset_seconds", "hostname", "appname",
            "proc_id", "msg_id", "message", "error_msg", "error_column",
        ):
            if k in ("facility", "severity"):
                exp_v = (
                    None if exp["priority"] is None
                    else (exp["priority"] // 8 if k == "facility" else exp["priority"] % 8)
                )
            else:
                exp_v = exp[k]
            assert got[k] == exp_v, (name, k, got[k], exp_v)
        assert got["data"] == exp["data"], (name, got["data"], exp["data"])


def test_ts_column_matches_micros(spark, corpus_df):
    from pyspark.sql import functions as F

    parsed = parse_tokens(corpus_df, Y, TZ)
    bad = parsed.filter(
        F.col("ts_micros").isNotNull()
        & (F.unix_micros(F.col("ts")) != F.col("ts_micros"))
    ).count()
    assert bad == 0


def test_parse_synth_generator(spark):
    from syslog_spark.sources.datagen import generate_tokens_df

    df = generate_tokens_df(spark, 2000, partitions=4)
    parsed = parse_tokens(df, Y, TZ).cache()
    n = parsed.count()
    assert n == 2000
    ok = parsed.filter("error_msg is null").count()
    # ~1.5% synthetic malformed rows
    assert 0 < n - ok < 100
    # deterministic: regeneration with different partitioning is identical
    df2 = generate_tokens_df(spark, 2000, partitions=7)
    assert (
        parsed.select("doc_id", "priority", "error_msg")
        .exceptAll(
            parse_tokens(df2, Y, TZ).select("doc_id", "priority", "error_msg")
        )
        .count()
        == 0
    )
    parsed.unpersist()


def new_parser(fmt: str, ref_year: int = Y, ref_tz: int = TZ):
    """Prepared-parser factory, the NewParser analogue (syslog.go:172-176):
    binds a format once, returns DataFrame(doc_id, line) -> parsed."""
    from pyspark.sql import functions as F

    from syslog_spark import constants as C
    from syslog_spark.operators.parse import parse_lines

    if fmt not in C.FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {C.FORMATS}")
    return lambda df: parse_lines(
        df.withColumn("source", F.lit(fmt)), ref_year, ref_tz
    )


def test_new_parser_fixed_format(spark):
    """NewParser analogue (syslog.go:172-176): format bound once."""
    parse = new_parser("rfc5424", Y, TZ)
    df = spark.createDataFrame(
        [("r1", RC.REGULAR_RFC5424)], "doc_id string, line string"
    )
    row = parse(df).collect()[0]
    assert row["priority"] == 191 and row["hostname"] == "hostname"
    with pytest.raises(ValueError):
        new_parser("rfc3164")


def test_direct_source_matches_standard(spark, tmp_path):
    """The fused pyarrow read+parse source (sources/direct.py) produces a
    row set identical to spark.read.parquet -> parse_tokens over the same
    partitioned token dir, including error rows and nested data."""
    from pyspark.sql import functions as F

    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.sources.datagen import write_token_table
    from syslog_spark.sources.direct import parse_tokens_direct

    path = str(tmp_path / "tok")
    write_token_table(spark, path, 30_000, partitions=6)

    def snap(df):
        return df.select(
            F.xxhash64(
                "doc_id", "priority", "version", "ts_micros", "ts_nanos",
                "tz_offset_seconds", "hostname", "appname", "proc_id",
                "msg_id", "message", "error_msg", "error_column",
                "failed_stage", F.col("data"), "source", "n_tok",
            ).alias("h")
        ).agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("cs")
        ).first()

    a = snap(parse_tokens(spark.read.parquet(path)))
    b = snap(parse_tokens_direct(spark, path))
    assert (a["n"], a["cs"]) == (b["n"], b["cs"])


def test_direct_source_flat_unpartitioned_dir(spark, tmp_path):
    """Direct source also reads a flat (non-hive) parquet dir where
    `source` is a physical column."""
    from pyspark.sql import functions as F

    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.sources.datagen import generate_tokens_df
    from syslog_spark.sources.direct import parse_tokens_direct

    path = str(tmp_path / "flat")
    generate_tokens_df(spark, 5_000, 4).write.mode("overwrite").parquet(path)
    std = parse_tokens(spark.read.parquet(path))
    direct = parse_tokens_direct(spark, path)
    assert std.count() == direct.count() == 5_000
    s = {r["doc_id"] for r in std.select("doc_id").collect()}
    d = {r["doc_id"] for r in direct.select("doc_id").collect()}
    assert s == d


def test_pipeline_direct_auto(spark, tmp_path, standard_reader):
    """run_pipeline on a local dir (fused direct read) routes the same
    rows as the standard reader, which it takes when the listing fails."""
    from syslog_spark.plans.pipeline import run_pipeline
    from syslog_spark.sources.datagen import write_token_table

    path = str(tmp_path / "tok")
    write_token_table(spark, path, 10_000, partitions=4)
    with standard_reader():
        r1 = run_pipeline(spark, path, str(tmp_path / "out1"))
    r2 = run_pipeline(spark, path, str(tmp_path / "out2"))
    assert r1["routed_rows"] == r2["routed_rows"] > 0
    assert r1["error_rows"] == r2["error_rows"]
    m1 = {(r["sink_severity"], r["source"], r["rows"], r["row_set_checksum"])
          for r in spark.read.parquet(f"{tmp_path}/out1/manifest").collect()}
    m2 = {(r["sink_severity"], r["source"], r["rows"], r["row_set_checksum"])
          for r in spark.read.parquet(f"{tmp_path}/out2/manifest").collect()}
    assert m1 == m2


def test_direct_source_partition_pruning(spark, tmp_path):
    """source_prefixes prunes at the FILE-LIST level (the direct path's
    analogue of Catalyst partition pruning) and matches the standard
    reader's filtered result."""
    from pyspark.sql import functions as F

    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.sources.datagen import write_token_table
    from syslog_spark.sources.direct import (
        list_parquet_files, parse_tokens_direct,
    )

    path = str(tmp_path / "tok")
    write_token_table(spark, path, 20_000, partitions=4)

    pruned_files = [
        src for _, src in list_parquet_files(path)
        if src is not None and src.startswith("rfc5424")
    ]
    assert pruned_files  # layout sanity

    # LIKE-prefix semantics (round-5: startswith, documented contract)
    std = (
        parse_tokens(spark.read.parquet(path))
        .filter(F.col("source").startswith("rfc5424"))
    )
    direct = parse_tokens_direct(spark, path, source_prefixes=["rfc5424"])
    n_std, n_direct = std.count(), direct.count()
    assert n_std == n_direct > 0
    with pytest.raises(FileNotFoundError):
        parse_tokens_direct(spark, path, source_prefixes=["nope"]).count()


def test_direct_source_single_large_file(spark, tmp_path):
    """A file larger than one Arrow batch splits into multiple kernel
    batches (to_batches slicing), preserving row-set equality."""
    from pyspark.sql import functions as F

    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.sources.datagen import generate_tokens_df
    from syslog_spark.sources.direct import parse_tokens_direct

    path = str(tmp_path / "big")
    generate_tokens_df(spark, 80_000, 8).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    std = parse_tokens(spark.read.parquet(path))
    # 8192-row batches make 80k rows exceed the 4x streaming threshold,
    # so this exercises the iter_batches (big-file) branch; the batch
    # size is read from the conf when the frame is built
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "8192")
    try:
        direct = parse_tokens_direct(spark, path)
    finally:
        spark.conf.set(conf, old)
    a = std.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "message", "error_msg")).alias("cs"),
    ).first()
    b = direct.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "message", "error_msg")).alias("cs"),
    ).first()
    assert (a["n"], a["cs"]) == (b["n"], b["cs"])
