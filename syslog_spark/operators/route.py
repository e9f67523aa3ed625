"""Routing stage: per-severity x per-source fan-out sinks + error sink.

Replaces the reference's single (nil, err) return (syslog.go:148-157) with
the north rule's fan-out, designed as a SINGLE PASS over the parsed rows:

  * every row gets a sink key ``sink_severity`` = severity, or -1 for rows
    that failed to parse — the error sink (the distributed version of the
    reference's stdout print at syslog.go:155) is just another partition,
  * ONE shuffle (an AQE rebalance on the sink key: one file per sink
    while partitions are small, hot sinks split across writer tasks),
    ONE write partitioned by (sink_severity, source),
  * manifest / per-sink aggregates / per-partition lineage metrics are
    computed from the *written* table (cheap columnar re-reads), never by
    re-running the Python parse stage and never via caching — measured on
    1M rows, caching the nested rows cost 4x the parse itself.

Manifest checksums are pure JVM (xxhash64 over the canonical column tuple
with ``to_json`` for nested data) xor-folded with bit_xor — associative +
commutative, so equal row multisets give equal checksums under any
partitioning: the routed-row-set equality contract. Resume anti-joins the
manifest's completed sinks (checkpoint/resume contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUTED = "routed"
MANIFEST = "manifest"
METRICS = "metrics"
ERROR_SINK = -1  # sink_severity value of the dead-letter partition
SINK_KEYS = ("sink_severity", "source")  # the routed table's partition columns

# Hadoop options of the routed write, passed as writer options: Spark copies
# them into this job's Hadoop conf only, never the session's shared one.
#  * FileOutputCommitter v1: task output stays under ``_temporary`` until the
#    driver's job commit renames it into place, so readers never see a
#    running job's files and the resume anti-join is sound.
#  * The raw local FS for ``file:`` output (other schemes ignore the key):
#    no ``.crc`` sidecar per file. Without libhadoop the local FS spawns a
#    ``chmod`` per file and directory it creates (~3 ms each). The cache
#    flag keeps the cached checksummed LocalFileSystem from being reused.
_WRITE_OPTIONS = {
    "mapreduce.fileoutputcommitter.algorithm.version": "1",
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}

_CHECKSUM_COLS = (
    "doc_id", "priority", "version", "ts_micros", "ts_nanos",
    "tz_offset_seconds", "hostname", "appname", "proc_id", "msg_id",
    "message", "error_msg", "error_column",
)


def row_checksum() -> F.Column:
    """Per-row 64-bit hash over the canonical field tuple. xxhash64 hashes
    the nested data column directly (recursive over array/struct — well
    defined because the stored form is canonically sorted, SURVEY.md §1.3);
    hashing via to_json costs ~3x more."""
    return F.xxhash64(*[F.col(c) for c in _CHECKSUM_COLS], F.col("data"))


def with_sink_key(parsed: DataFrame) -> DataFrame:
    return parsed.withColumn(
        "sink_severity",
        F.coalesce(F.col("severity").cast("int"), F.lit(ERROR_SINK)),
    ).withColumn("input_partition", F.spark_partition_id())


def rebalance_by_sink(df: DataFrame) -> DataFrame:
    """The routing exchange: one REBALANCE_PARTITIONS_BY_COL shuffle on
    (sink_severity, source). AQE coalesces small partitions, so a small
    sink is written by one task as one file, and splits any partition
    larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    across several tasks, so a hot sink (one facility dominating) does
    not straggle. Only the keys that are actually hot get split; nothing
    is salted up front."""
    return df.hint("rebalance", *SINK_KEYS)


def partition_metrics(routed: DataFrame) -> DataFrame:
    """Per-INPUT-partition lineage rows (SURVEY.md §2.8). input_partition
    is stamped before the routing shuffle, so lineage survives it."""
    return routed.groupBy("input_partition").agg(
        F.count(F.lit(1)).alias("input_rows"),
        F.count(F.when(F.col("error_msg").isNull(), 1)).alias("ok_rows"),
        F.count(F.when(F.col("error_msg").isNotNull(), 1)).alias("error_rows"),
        F.sum("n_tok").alias("token_bytes"),
    )


def completed_sinks(spark, out_dir: str):
    """Manifest of already-routed sinks, or None when no manifest exists
    (a fresh run). Any other read error propagates: taking an unreadable
    manifest for "no manifest" would hide the real error behind the
    crashed-fresh-write refusal in :func:`route_write`."""
    path = f"{out_dir}/{MANIFEST}"
    if not table_exists(spark, path):
        return None
    return spark.read.parquet(path)


def read_routed(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/{ROUTED}")


def read_errors(spark, out_dir: str) -> DataFrame:
    """The dead-letter sink: rows the reference would have rejected."""
    return (
        read_routed(spark, out_dir)
        .filter(F.col("sink_severity") == ERROR_SINK)
        .select(
            "doc_id", "source", "n_tok", "error_column", "error_msg",
            "failed_stage",
        )
    )


def _manifest_metrics_schemas():
    from pyspark.sql import types as T

    manifest = T.StructType([  # == sink_stats output types
        T.StructField("sink_severity", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("rows", T.LongType()),
        T.StructField("row_set_checksum", T.LongType()),
        T.StructField("distinct_hostnames", T.LongType()),
        T.StructField("approx_docs", T.LongType()),
        T.StructField("min_n_tok", T.IntegerType()),
        T.StructField("max_n_tok", T.IntegerType()),
        T.StructField("sum_n_tok", T.LongType()),
        T.StructField("n_tok_pcts", T.ArrayType(T.DoubleType())),
    ])
    metrics = T.StructType([
        T.StructField("input_partition", T.IntegerType()),
        T.StructField("input_rows", T.LongType()),
        T.StructField("ok_rows", T.LongType()),
        T.StructField("error_rows", T.LongType()),
        T.StructField("token_bytes", T.LongType()),
    ])
    return manifest, metrics


MANIFEST_SCHEMA, METRICS_SCHEMA = _manifest_metrics_schemas()


def sink_stats(routed: DataFrame) -> DataFrame:
    """ONE pass over the routed table producing both the manifest columns
    (rows, row-set checksum from the precomputed ``row_cs``) and the
    per-sink aggregates — merging the two scans halves the post-route
    IO/CPU. Error-sink rows (sink_severity=-1) get null hostname/n_tok
    stats naturally.

    Distinct hostnames use the HLL sketch (approx_count_distinct):
    partial-aggregable and skew-immune, so the hot sink never funnels its
    whole hostname set through one reducer (measured: an exact distinct
    made this scan a flat ~4.4s at any core count; the sketch scan is
    ~0.6s and scales)."""
    return routed.groupBy(*SINK_KEYS).agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor("row_cs").alias("row_set_checksum"),
        F.approx_count_distinct("hostname").alias("distinct_hostnames"),
        F.approx_count_distinct("doc_id").alias("approx_docs"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
        F.sum("n_tok").alias("sum_n_tok"),
        # cast first (percentile_approx returns the INPUT element type);
        # accuracy 1000 — this is a monitoring stat, and the sketch insert
        # cost is on every routed row
        F.percentile_approx(
            F.col("n_tok").cast("double"), [0.5, 0.95, 0.99], 1000
        ).alias("n_tok_pcts"),
    )


def _pa_schema(spark_schema):
    import pyarrow as pa
    from pyspark.sql import types as T

    def conv(dt):
        if isinstance(dt, T.IntegerType):
            return pa.int32()
        if isinstance(dt, T.LongType):
            return pa.int64()
        if isinstance(dt, T.DoubleType):
            return pa.float64()
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, T.ArrayType):
            return pa.list_(conv(dt.elementType))
        raise TypeError(f"unsupported {dt}")

    return pa.schema([(f.name, conv(f.dataType)) for f in spark_schema])


def write_local_table(path: str, rows: list, spark_schema, append: bool = False):
    """Write a driver-local (tiny) table as a parquet directory WITHOUT a
    Spark job: a createDataFrame(local rows).write would be backed by a
    python RDD, and its single write task forks a python worker (~4-7s of
    pure latency per call on this box). The manifest/metrics/aggregates
    tables are at most a few hundred rows — pyarrow writes them in
    milliseconds and Spark reads the directory exactly the same."""
    import os
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not append:
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(
        [dict(r) for r in rows], schema=_pa_schema(spark_schema)
    )
    pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))


def read_local_table(path: str) -> list[dict]:
    """Driver-side read of a tiny parquet dir (manifest/metrics) — the
    pyarrow twin of write_local_table; no Spark job."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def table_exists(spark, path: str) -> bool:
    """Existence check that works for hdfs:///s3a:// out_dirs too: a
    driver-local os.path.isdir is always False for remote URIs, which
    would silently pick static overwrite and truncate a remote table the
    docstring promises to preserve. Resolved through the Hadoop
    FileSystem API of the path's own scheme."""
    try:
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))
    except Exception:
        if "://" in path:
            # remote URI and the FS probe failed (transient store error,
            # auth, missing connector jar): do NOT guess "absent" — a
            # wrong False picks static overwrite and truncates the very
            # table this function exists to protect
            raise
        import os as _os

        return _os.path.isdir(path)


def _clear_stale_temporary(spark, table_path: str) -> bool:
    """Delete a leftover ``_temporary`` dir under a table path.

    A crashed append/resume attempt leaves its committed task dirs under
    ``<table>/_temporary/0``; FileOutputCommitter v1's job commit merges
    EVERY task dir found there, so the next resume run would silently
    absorb the crashed attempt's rows on top of its own — double-writing
    those sinks (executed, not theorized: test_chaos_resume.py reproduces
    it). The resume protocol is single-writer per out_dir (the manifest
    anti-join already requires that), so any pre-existing _temporary is
    garbage by definition. Resolved through the Hadoop FS of the path's
    own scheme, like :func:`table_exists`.

    Fail-closed EVERYWHERE (round-6, advice fix): a failed delete of a
    directory we just confirmed exists precedes a v1-committer append
    that would silently absorb the crashed attempt's rows — the local
    branch used to swallow the error and proceed, reintroducing exactly
    the double-write this function prevents. Hadoop's ``delete`` also
    reports failure by RETURN VALUE, not exception; check it."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{table_path}/_temporary")
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        deleted = fs.delete(jpath, True)
        if not deleted and fs.exists(jpath):
            raise RuntimeError(
                f"could not delete stale {table_path}/_temporary; "
                "resuming over it would double-write the crashed "
                "attempt's task dirs (v1 job commit merges every task "
                "dir it finds) — clear it manually and re-run"
            )
        return True
    return False


def route_write(
    parsed: DataFrame,
    out_dir: str,
    spark=None,
    resume: bool = False,
) -> dict:
    """Single-pass fan-out write + manifest + per-partition lineage table.

    The write goes through :func:`rebalance_by_sink`: each sink is one
    file while its shuffle partition stays under
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, and a hot sink
    is split across several writer tasks/files past it — no per-call
    file or task count to tune.
    With resume=True, sinks already in the manifest are skipped via a
    broadcast left_anti join and the returned ``sink_stats`` /
    ``routed_rows`` are CUMULATIVE (full manifest: prior runs + this one).
    Overwrite semantics: a fresh out_dir (or resume) uses the cheap static
    commit; overwriting an EXISTING routed table without resume uses
    dynamic partition overwrite so sinks absent from the current batch are
    preserved (the static truncate-all would silently drop them)."""
    import time as _time

    spark = spark or parsed.sparkSession
    # static overwrite truncates the whole table in one step but is only
    # safe when nothing pre-exists; dynamic preserves untouched partitions
    # at the cost of a driver-side rename per partition dir (~10s/650 dirs
    # measured) — pay it only when layering onto an existing table.
    routed_exists = table_exists(spark, f"{out_dir}/{ROUTED}")
    overwrite_mode = "dynamic" if (resume or routed_exists) else "static"
    stage_t: dict[str, float] = {}
    _t0 = _time.monotonic()
    # row_cs is materialized BEFORE the shuffle (pipelined with the parse
    # stage) so the manifest scan afterwards reads 8 flat bytes per row
    # instead of re-decoding + re-hashing the nested data column
    df = with_sink_key(parsed).withColumn("row_cs", row_checksum())

    skipped = 0
    keys = None
    if resume:
        _clear_stale_temporary(spark, f"{out_dir}/{ROUTED}")
        done = completed_sinks(spark, out_dir)
        if done is None and routed_exists:
            # routed data with NO manifest = a FRESH write crashed in
            # or after its job commit: part of its output may be in the
            # final sink dirs, and nothing is recorded as complete.
            # resume would append the full dataset ON TOP of those files
            # and then compute a manifest over the duplicated table,
            # legitimizing the inflated counts. The correct recovery is
            # a fresh rerun (static overwrite clears the partials).
            raise RuntimeError(
                f"resume=True but {out_dir}/{MANIFEST} is missing while "
                f"{out_dir}/{ROUTED} exists — this looks like a crashed "
                "FRESH write (interrupted job commit, no manifest). "
                "Rerun with resume=False to overwrite from scratch."
            )
        if done is not None:
            keys = done.select(*SINK_KEYS)
            skipped = keys.count()
            df = df.join(
                F.broadcast(keys), list(SINK_KEYS), "left_anti"
            )

    mode = "overwrite" if not resume else "append"
    (
        rebalance_by_sink(df)
        .write.mode(mode)
        .option("partitionOverwriteMode", overwrite_mode)
        .options(**_WRITE_OPTIONS)
        .partitionBy(*SINK_KEYS)
        .parquet(f"{out_dir}/{ROUTED}")
    )
    stage_t["parse_route_write"] = _time.monotonic() - _t0
    _t0 = _time.monotonic()

    # ONE column-pruned scan computes manifest + per-sink aggregates over
    # the sinks written THIS run (on resume: the routed table minus the
    # sinks the manifest already lists); the tiny result is collected
    # once. Resume appends those rows and hands callers the CUMULATIVE
    # manifest, so summaries keep the prior runs' sinks. Metrics is its
    # own cheap flat-column scan. (A grouping-sets fold of the two was
    # tried and REVERTED: the expand duplicates every row through the
    # sketch updates and measured 5-33s where the two scans take ~1-2s
    # total.)
    # read with the written schema (a partitioned read puts the sink keys
    # last): no footer-inference job
    written = df.select(*(c for c in df.columns if c not in SINK_KEYS),
                        *SINK_KEYS)
    routed = spark.read.schema(written.schema).parquet(f"{out_dir}/{ROUTED}")
    new = routed if keys is None else routed.join(
        F.broadcast(keys), list(SINK_KEYS), "left_anti"
    )
    stats_rows = [r.asDict() for r in sink_stats(new).collect()]
    write_local_table(
        f"{out_dir}/{MANIFEST}", stats_rows, MANIFEST_SCHEMA, append=resume
    )
    if resume:
        stats_rows = read_local_table(f"{out_dir}/{MANIFEST}")
    metrics_rows = [r.asDict() for r in partition_metrics(routed).collect()]
    write_local_table(f"{out_dir}/{METRICS}", metrics_rows, METRICS_SCHEMA)
    stage_t["manifest_metrics"] = _time.monotonic() - _t0
    n_ok = sum(
        r["rows"] for r in stats_rows if r["sink_severity"] != ERROR_SINK
    )
    return {
        "routed_rows": int(n_ok),
        "skipped_sinks": skipped,
        "sink_stats": stats_rows,
        "stage_seconds": {k: round(v, 2) for k, v in stage_t.items()},
    }
