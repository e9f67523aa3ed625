"""The routed write's own commit: partition paths, what the job commit
moves, and what readers get back."""
from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

# '/' needs escaping, ' ' and non-ASCII do not; '%', ':', '=', '?' and '#'
# do. The format prefix before the first '/' stays a known one.
_ODD = " a%2F:b=c?#é☃"


def test_partition_path_matches_spark_escaping(spark):
    """partition_path names a sink dir the way Spark's partitioned writer
    does (ExternalCatalogUtils), for every 8-bit character, non-ASCII
    text, the empty string and NULL."""
    from syslog_spark.operators.route import partition_path

    utils = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils
    values = [chr(c) for c in range(256)] + [_ODD, "rfc5424/h00", "", None]
    for v in values:
        want = "/".join([
            utils.getPartitionPathString("sink_severity", "-1"),
            utils.getPartitionPathString("source", v),
        ])
        assert partition_path(-1, v) == want, repr(v)


def _odd_parsed(spark, tmp_path, n=800):
    """Enriched parsed rows with escaping-hungry sources, from a parquet
    token table (a fixed input partitioning, so input_partition is the
    same on every evaluation). Includes malformed rows (the error sink)."""
    from syslog_spark.operators.enrich import enrich
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.sources.datagen import generate_tokens_df

    tok = str(tmp_path / "tokens")
    generate_tokens_df(spark, n, 3).withColumn(
        "source", F.concat("source", F.lit(_ODD))
    ).write.parquet(tok)
    return enrich(parse_tokens(spark.read.parquet(tok)))


def test_read_routed_equals_written_frame(spark, tmp_path):
    """Every column of every row reads back as written: ts, the enrich
    columns, row_cs, input_partition, the error sink and the escaped
    source partition values."""
    from syslog_spark.operators.route import (
        ERROR_SINK, read_routed, route_write, row_checksum, with_sink_key,
    )

    parsed = _odd_parsed(spark, tmp_path)
    out = str(tmp_path / "out")
    route_write(parsed, out, spark)
    want = with_sink_key(parsed).withColumn("row_cs", row_checksum())
    got = read_routed(spark, out).select(*want.columns)
    assert dict(got.dtypes) == dict(want.dtypes)
    assert want.filter(F.col("sink_severity") == ERROR_SINK).count() > 0
    assert want.select("source").distinct().count() > 1
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_unlisted_staged_file_is_never_committed(spark, tmp_path, monkeypatch):
    """An extra ``part-*.parquet`` in the job's staging dir — a copy of a
    listed file, as a failed attempt of the same task would leave it — is
    not committed: the commit moves only the files the query listed, and
    the staging dir is gone afterwards."""
    from syslog_spark.operators import route as R

    planted = []
    commit = R._commit

    def plant_then_commit(fs, table, staging, files, stats_rows):
        src = f"{staging}/{files[0]}"
        task, rest = files[0].split("/", 1)
        dst = f"{staging}/{task}0/{rest}"
        os.makedirs(os.path.dirname(dst))
        shutil.copy(src, dst)
        planted.append(os.path.basename(dst))
        return commit(fs, table, staging, files, stats_rows)

    monkeypatch.setattr(R, "_commit", plant_then_commit)
    parsed = _odd_parsed(spark, tmp_path, n=400)
    out = str(tmp_path / "out")
    info = R.route_write(parsed, out, spark)

    routed = f"{out}/{R.ROUTED}"
    assert planted
    assert not os.path.exists(f"{routed}/_temporary")
    files = glob.glob(f"{routed}/sink_severity=*/source=*/*")
    assert len(files) == len(info["sink_stats"])  # one file per sink
    n = R.read_routed(spark, out).count()
    assert n == parsed.count() == sum(r["rows"] for r in info["sink_stats"])
    assert os.path.exists(f"{routed}/_SUCCESS")


def test_commit_check_refuses_rows_the_manifest_does_not_hold(
    spark, tmp_path, monkeypatch
):
    """A commit that moved a file the query did not list (two copies of
    one attempt's output in a sink dir) fails its footer check: it
    raises, and neither ``_SUCCESS`` nor the manifest is written."""
    import pytest

    from syslog_spark.operators import route as R

    commit = R._commit

    def commit_an_extra_copy(fs, table, staging, files, stats_rows):
        task, rest = files[0].split("/", 1)
        extra = f"{task}0/{os.path.dirname(rest)}/part-extra.parquet"
        os.makedirs(os.path.dirname(f"{staging}/{extra}"))
        shutil.copy(f"{staging}/{files[0]}", f"{staging}/{extra}")
        return commit(fs, table, staging, files + [extra], stats_rows)

    monkeypatch.setattr(R, "_commit", commit_an_extra_copy)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="commit check failed"):
        R.route_write(_odd_parsed(spark, tmp_path, n=300), out, spark)
    assert not os.path.exists(f"{out}/{R.ROUTED}/_SUCCESS")
    assert not os.path.exists(f"{out}/{R.MANIFEST}")
