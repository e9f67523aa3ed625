"""Round-4 ADVICE regression tests: session master inheritance and
per-write (non-leaking) route_write hadoop configuration."""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def test_configured_master_standalone_is_none(monkeypatch):
    # standalone python (no py4j gateway env) must NOT probe/launch a JVM
    # and reports no external master -> build_session defaults to local[]
    from syslog_spark import session as S

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_SECRET", raising=False)
    monkeypatch.delenv("MASTER", raising=False)
    assert S._configured_master() is None
    monkeypatch.setenv("MASTER", "spark://cluster:7077")
    assert S._configured_master() == "spark://cluster:7077"


def test_build_session_applies_master_env_without_gateway(tmp_path):
    """MASTER env + no py4j gateway (plain `python script.py`): there is
    no JVM yet, so build_session must START one with the env-configured
    master (round-4 ADVICE: the value was read and discarded, and
    getOrCreate() failed with 'A master URL must be set')."""
    import subprocess
    import sys
    import textwrap

    probe = tmp_path / "probe_master_env.py"
    probe.write_text(textwrap.dedent(f"""
        import sys, json
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from syslog_spark.session import build_session
        spark = build_session(app_name="probe_env")
        print("PROBE " + json.dumps({{
            "effective": spark.sparkContext.master,
            "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
        }}))
        spark.stop()
    """))
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env["MASTER"] = "local[2]"
    env["SPARK_DRIVER_MEM"] = "2g"
    r = subprocess.run(
        [sys.executable, str(probe)], capture_output=True, text=True,
        timeout=280, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = next(
        ln for ln in r.stdout.splitlines() if ln.startswith("PROBE ")
    )
    got = json.loads(line[6:])
    assert got["effective"] == "local[2]"
    assert got["shuffle"] == "2"


def test_table_exists_local_and_remote_scheme(spark, tmp_path):
    from syslog_spark.operators.route import table_exists

    d = tmp_path / "routed"
    assert not table_exists(spark, str(d))
    d.mkdir()
    assert table_exists(spark, str(d))
    # file:// URI resolves through the Hadoop FileSystem of its scheme
    assert table_exists(spark, f"file://{d}")
    assert not table_exists(spark, f"file://{d}_missing")


def test_route_write_does_not_leak_committer_conf(spark, sf_dir, tmp_path):
    """The committer version, overwrite mode and raw local filesystem
    must be writer-scoped: after a fresh route_write (v1 + static + raw
    local FS), the session's shared hadoopConfiguration and SQL conf are
    unchanged, and ``file:`` paths still resolve to the session's own
    (checksummed) local filesystem."""
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import route_write

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    before_committer = hconf.get(
        "mapreduce.fileoutputcommitter.algorithm.version"
    )
    before_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        f"file://{tmp_path}"
    )
    before_fs = jpath.getFileSystem(hconf).getClass().getName()

    tok = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .limit(200)
        .select(
            F.col("event_id").cast("string").alias("doc_id"),
            F.expr(
                "transform(split(concat('<13>1 2024-01-01T00:00:00+00:00 "
                "h a p m - msg', event_id), ''), c -> cast(ascii(c) as int))"
            ).alias("tokens"),
            F.lit(0).alias("n_tok"),
            F.lit("rfc5424").alias("source"),
        )
        .withColumn("n_tok", F.size("tokens"))
    )
    res = route_write(parse_tokens(tok), str(tmp_path / "out"), spark)
    assert res["routed_rows"] > 0

    after_committer = hconf.get(
        "mapreduce.fileoutputcommitter.algorithm.version"
    )
    after_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    assert after_committer == before_committer
    assert after_mode == before_mode
    assert hconf.get("fs.file.impl") is None
    after_fs = jpath.getFileSystem(hconf).getClass().getName()
    assert after_fs == before_fs
    assert after_fs != "org.apache.hadoop.fs.RawLocalFileSystem"


def test_routed_table_has_no_checksum_sidecars(spark, tmp_path):
    """The routed write goes through the raw local filesystem: no
    ``.crc`` file anywhere in the table, the ``_SUCCESS`` marker is still
    written, and the table reads back row for row (its row_cs multiset
    equals that of the frame written)."""
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import read_routed, route_write, \
        row_checksum
    from syslog_spark.sources.datagen import generate_tokens_df

    parsed = parse_tokens(generate_tokens_df(spark, 600, 2))
    out = tmp_path / "out"
    route_write(parsed, str(out), spark)
    names = [f for _, _, fs in os.walk(out / "routed") for f in fs]
    assert "_SUCCESS" in names
    assert any(f.endswith(".parquet") for f in names)
    assert not [f for f in names if f.endswith(".crc")]

    def multiset(df):
        return sorted(r[0] for r in df.collect())

    assert multiset(read_routed(spark, str(out)).select("row_cs")) == \
        multiset(parsed.select(row_checksum()))


def _mini_tokens(spark, src: str, n: int = 120):
    return (
        spark.range(n)
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


def test_route_write_layering_preserves_other_sinks(spark, tmp_path):
    """Overwriting an EXISTING routed table without resume must use
    dynamic partition overwrite (passed as a WRITER option since round
    4): sinks absent from the new batch survive. If the per-write option
    were silently ignored, the static truncate would drop source 'a'
    here."""
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import route_write

    out = str(tmp_path / "out")
    route_write(parse_tokens(_mini_tokens(spark, "rfc5424/a")), out, spark)
    route_write(parse_tokens(_mini_tokens(spark, "rfc5424/b")), out, spark)
    sources = {
        r["source"]
        for r in spark.read.parquet(f"{out}/routed")
        .select("source").distinct().collect()
    }
    assert sources == {"rfc5424/a", "rfc5424/b"}


def test_build_session_respects_real_spark_submit_master(tmp_path):
    """End-to-end under the actual spark-submit binary: --master local[3]
    must survive build_session (review finding: SparkConf is an empty
    pure-python dict until the gateway attaches, so the probe must
    _ensure_initialized first — without that the builder silently
    overrode the submitted master with local[32])."""
    import shutil
    import subprocess
    import textwrap

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("no spark-submit binary")
    probe = tmp_path / "probe.py"
    probe.write_text(textwrap.dedent(f"""
        import sys, json
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from syslog_spark.session import build_session, _configured_master
        cm = _configured_master()
        spark = build_session(app_name="probe")
        print("PROBE " + json.dumps({{
            "configured": cm,
            "effective": spark.sparkContext.master,
        }}))
        spark.stop()
    """))
    r = subprocess.run(
        [spark_submit, "--master", "local[3]", str(probe)],
        capture_output=True, text=True, timeout=280,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = next(
        ln for ln in (r.stdout + r.stderr).splitlines()
        if ln.startswith("PROBE ")
    )
    got = json.loads(line[6:])
    assert got["configured"] == "local[3]"
    assert got["effective"] == "local[3]"


class _Stop(Exception):
    pass


def _record_builder(monkeypatch) -> dict:
    """Replace build_session's SparkSession with a builder that records
    its master and conf into the returned dict and raises _Stop instead
    of starting a JVM."""
    from syslog_spark import session as S

    recorded = {}

    class FakeBuilder:
        def appName(self, *_a):
            return self

        def config(self, k, v):
            recorded[k] = v
            return self

        def master(self, m):
            recorded["__master__"] = m
            return self

        def getOrCreate(self):
            raise _Stop()

    class FakeSparkSession:
        builder = FakeBuilder()

    monkeypatch.setattr(S, "SparkSession", FakeSparkSession)
    return recorded


def test_build_session_remote_master_env_leaves_sizing(monkeypatch):
    """MASTER env pointing at a REAL cluster (spark://...) with no
    gateway: build_session must start the JVM with that master but must
    NOT force local sizing conf onto it (round-5 ADVICE: the '[' parse
    fall-through used to apply shuffle.partitions=32 and a 48g
    driver.memory, overriding cluster-appropriate conf)."""
    from syslog_spark import session as S

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_SECRET", raising=False)
    monkeypatch.setenv("MASTER", "spark://cluster:7077")

    recorded = _record_builder(monkeypatch)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with pytest.raises(_Stop):
        S.build_session(app_name="probe_remote")
    assert recorded["__master__"] == "spark://cluster:7077"
    assert "spark.sql.shuffle.partitions" not in recorded
    assert "spark.driver.memory" not in recorded

    # an EXPLICIT SPARK_DRIVER_MEM is still honoured on remote masters:
    # this launch mode starts the driver JVM locally, and the cluster
    # conf cannot supply a client-side driver setting
    recorded.clear()
    monkeypatch.setenv("SPARK_DRIVER_MEM", "7g")
    with pytest.raises(_Stop):
        S.build_session(app_name="probe_remote2")
    assert recorded["spark.driver.memory"] == "7g"
    assert "spark.sql.shuffle.partitions" not in recorded


def test_build_session_default_cpus_follow_affinity(monkeypatch):
    """With no master and no SPARK_GRAFT_CPUS, the local master and its
    shuffle partitions take the CPUs of this process's affinity mask,
    not a fixed count; an explicit SPARK_GRAFT_CPUS still wins."""
    from syslog_spark import session as S

    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "MASTER",
                "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(var, raising=False)

    recorded = _record_builder(monkeypatch)
    n = len(os.sched_getaffinity(0))
    with pytest.raises(_Stop):
        S.build_session(app_name="probe_cpus")
    assert recorded["__master__"] == f"local[{n}]"
    assert recorded["spark.sql.shuffle.partitions"] == str(n)

    recorded.clear()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with pytest.raises(_Stop):
        S.build_session(app_name="probe_cpus_env")
    assert recorded["__master__"] == "local[3]"
