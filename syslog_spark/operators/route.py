"""Routing stage: per-severity x per-source fan-out sinks + error sink.

Replaces the reference's single (nil, err) return (syslog.go:148-157) with
the north rule's fan-out, designed as ONE Spark query over the parsed rows:

  * every row gets a sink key ``sink_severity`` = severity, or -1 for rows
    that failed to parse — the error sink (the distributed version of the
    reference's stdout print at syslog.go:155) is just another partition,
  * ONE shuffle (an AQE rebalance on the sink key: one writer task per
    sink while partitions are small, hot sinks split across tasks),
  * ONE Python stage (:func:`_sink_writer`, a ``mapInArrow``) that writes
    each sink of its partition as one parquet file with pyarrow, into a
    per-attempt staging dir, and yields the flat columns the manifest
    aggregates read plus one row per file it wrote,
  * ONE aggregate (:func:`sink_stats` + :func:`partition_metrics`) and
    ONE collect: the driver gets the manifest, the per-partition lineage
    metrics and the exact list of files to commit.

The written table is never re-read, and the writer's output is never
cached or consumed by a second action: each action would re-run the
side-effecting stage.

Manifest checksums are pure JVM (xxhash64 over the canonical column tuple)
xor-folded with bit_xor — associative + commutative, so equal row
multisets give equal checksums under any partitioning: the routed-row-set
equality contract. Resume anti-joins the manifest's completed sinks
(checkpoint/resume contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROUTED = "routed"
MANIFEST = "manifest"
METRICS = "metrics"
ERROR_SINK = -1  # sink_severity value of the dead-letter partition
SINK_KEYS = ("sink_severity", "source")  # the routed table's partition columns

_CHECKSUM_COLS = (
    "doc_id", "priority", "version", "ts_micros", "ts_nanos",
    "tz_offset_seconds", "hostname", "appname", "proc_id", "msg_id",
    "message", "error_msg", "error_column",
)

# The writer's output rows: kind 0 = one per routed row (the columns
# sink_stats reads), 1 = one per (task, input_partition) with partial
# lineage counts, 2 = one per file written (path under the job's staging
# dir). Columns a kind does not use are null.
_ROW, _PARTIAL, _FILE = 0, 1, 2
_ROW_COLS = ("sink_severity", "source", "row_cs", "hostname", "doc_id", "n_tok")
_PARTIAL_COLS = ("input_rows", "ok_rows", "error_rows", "token_bytes")

# Spark's partition-path escaping (ExternalCatalogUtils.escapePathName,
# non-Windows): ASCII controls 0x01-0x1F, DEL and "#%'*/:=?\{[]^ become
# %XX; a NULL or empty value is the default partition.
_ESCAPED = frozenset(map(chr, range(1, 0x20))) | frozenset("\"#%'*/:=?\\\x7f{[]^")
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


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


def partition_path(sink_severity, source) -> str:
    """``sink_severity=…/source=…``, escaped the way Spark's partitioned
    writer names the directory, so readers discover the same values."""

    def value(v) -> str:
        if v is None or v == "":
            return _DEFAULT_PARTITION
        return "".join(
            f"%{ord(c):02X}" if c in _ESCAPED else c for c in str(v)
        )

    return f"sink_severity={value(sink_severity)}/source={value(source)}"


def sink_stats() -> list:
    """The manifest aggregates, one row per (sink_severity, source): rows,
    the row-set checksum from the precomputed ``row_cs``, and the per-sink
    stats. Error-sink rows (sink_severity=-1) get null hostname/n_tok
    stats naturally.

    Distinct hostnames use the HLL sketch (approx_count_distinct):
    partial-aggregable and skew-immune, so the hot sink never funnels its
    whole hostname set through one reducer (measured: an exact distinct
    made this aggregate a flat ~4.4s at any core count; the sketch ~0.6s
    and scales)."""
    return [
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
    ]


def partition_metrics() -> list:
    """Per-INPUT-partition lineage aggregates (SURVEY.md §2.8): sums of the
    writer tasks' partial counts. input_partition is stamped before the
    routing shuffle, so lineage survives it."""
    return [F.sum(c).alias(c) for c in _PARTIAL_COLS]


def completed_sinks(out_dir: str) -> list[dict] | None:
    """Manifest rows of already-routed sinks, or None when no manifest
    exists (a fresh run). Any other read error propagates: taking an
    unreadable manifest for "no manifest" would hide the real error
    behind the crashed-fresh-write refusal in :func:`route_write`."""
    from ..sources.direct import _resolve_fs

    fs, path = _resolve_fs(f"{out_dir}/{MANIFEST}")
    if not _exists(fs, path):
        return None
    return read_local_table(f"{out_dir}/{MANIFEST}")


def read_routed(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/{ROUTED}")


def _manifest_metrics_schemas():
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


def _pa_schema(spark_schema):
    import pyarrow as pa

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


def _exists(fs, path: str) -> bool:
    from pyarrow import fs as pafs

    return fs.get_file_info(path).type != pafs.FileType.NotFound


def write_local_table(path: str, rows: list, spark_schema, append: bool = False):
    """Write a driver-local (tiny) table as a parquet directory WITHOUT a
    Spark job: a createDataFrame(local rows).write would be backed by a
    python RDD, and its single write task forks a python worker (~4-7s of
    pure latency per call on this box). The manifest/metrics/aggregates
    tables are at most a few thousand rows — pyarrow writes them in
    milliseconds and Spark reads the directory exactly the same."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.direct import _resolve_fs

    fs, inner = _resolve_fs(path)
    if not append and _exists(fs, inner):
        fs.delete_dir(inner)
    fs.create_dir(inner)
    table = pa.Table.from_pylist(
        [dict(r) for r in rows], schema=_pa_schema(spark_schema)
    )
    pq.write_table(
        table, f"{inner}/part-{uuid.uuid4().hex}.parquet", filesystem=fs
    )


def read_local_table(path: str) -> list[dict]:
    """Driver-side read of a tiny parquet dir (manifest/metrics) — the
    pyarrow twin of write_local_table; no Spark job."""
    import pyarrow.parquet as pq

    from ..sources.direct import _resolve_fs

    fs, inner = _resolve_fs(path)
    return pq.read_table(inner, filesystem=fs).to_pylist()


def table_exists(spark, path: str) -> bool:
    """Existence check that works for hdfs:///s3a:// out_dirs too: a
    driver-local os.path.isdir is always False for remote URIs, which
    would silently take a crashed fresh write for a fresh out_dir.
    Resolved through the Hadoop FileSystem API of the path's own
    scheme."""
    try:
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))
    except Exception:
        if "://" in path:
            # remote URI and the FS probe failed (transient store error,
            # auth, missing connector jar): do NOT guess "absent" — a
            # wrong False would let resume append onto a crashed fresh
            # write's partials
            raise
        import os as _os

        return _os.path.isdir(path)


def _clear_stale_temporary(fs, table: str) -> None:
    """Delete a leftover ``_temporary`` dir under the routed table.

    It holds the staging dirs of a crashed or failed run. The job commit
    only moves the files its own query listed, so stale staging cannot be
    committed; it is cleared so it neither piles up nor confuses a reader
    of the directory. The protocol is single-writer per out_dir (the
    manifest anti-join already requires that), so any pre-existing
    _temporary is garbage by definition. A failed delete raises."""
    if _exists(fs, f"{table}/_temporary"):
        fs.delete_dir(f"{table}/_temporary")


def _sink_writer(fs, staging: str, codec: str, data_cols: list, meta: dict,
                 schema):
    """The ``mapInArrow`` body of the routed write.

    One call per task attempt: it sorts the partition by the sink keys,
    writes each sink it holds as one parquet file under
    ``<staging>/task_<part>_<attempt>/sink_severity=…/source=…/`` and
    yields the rows :func:`route_write` aggregates (see ``_ROW``,
    ``_PARTIAL``, ``_FILE``; ``schema`` is their Arrow schema).
    ``<attempt>`` is Spark's task attempt id,
    unique in the application, so a retried or speculative attempt never
    writes over another's files; the aggregate reads one attempt's output
    per partition, so only that attempt's files are listed."""
    ext = "" if codec == "none" else f".{codec}"
    job = staging.rsplit("/", 1)[1]

    def write(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        n = t.num_rows
        if not n:
            return
        ctx = TaskContext.get()
        part = ctx.partitionId()
        task = f"task_{part}_{ctx.taskAttemptId()}"
        t = t.sort_by([(k, "ascending") for k in SINK_KEYS]).combine_chunks()
        sev = t.column("sink_severity").to_numpy()
        src = t.column("source")
        code = pc.fill_null(
            pc.dictionary_encode(src.chunk(0)).indices, -1
        ).to_numpy()
        cut = np.flatnonzero((sev[1:] != sev[:-1]) | (code[1:] != code[:-1])) + 1
        data = t.select(data_cols).replace_schema_metadata(meta)
        files = []
        for k, (s, e) in enumerate(zip(np.r_[0, cut], np.r_[cut, n])):
            sink = f"{task}/{partition_path(int(sev[s]), src[s].as_py())}"
            fs.create_dir(f"{staging}/{sink}")
            name = f"{sink}/part-{part:05d}-{job}.c{k:03d}{ext}.parquet"
            pq.write_table(
                data.slice(s, e - s), f"{staging}/{name}", filesystem=fs,
                compression=codec, store_schema=False,
            )
            files.append(name)

        def rows(kind, m, **cols):
            cols["kind"] = pa.array(np.full(m, kind, np.int8))
            return pa.table(
                [cols.get(f.name, pa.nulls(m, f.type)) for f in schema],
                schema=schema,
            )

        g = pa.table({
            "input_partition": t.column("input_partition"),
            "ok": pc.is_null(t.column("error_msg")).cast(pa.int64()),
            "n_tok": t.column("n_tok"),
        }).group_by("input_partition").aggregate(
            [("ok", "count"), ("ok", "sum"), ("n_tok", "sum")]
        )
        total = g.column("ok_count")
        out = pa.concat_tables([
            rows(_ROW, n, **{c: t.column(c) for c in _ROW_COLS}),
            rows(
                _PARTIAL, g.num_rows,
                input_partition=g.column("input_partition"),
                input_rows=total,
                ok_rows=g.column("ok_sum"),
                error_rows=pc.subtract(total, g.column("ok_sum")),
                token_bytes=g.column("n_tok_sum"),
            ),
            rows(_FILE, len(files), file=pa.array(files, pa.string())),
        ])
        yield from out.to_batches()

    return write


def _route_query(df: DataFrame, fs, staging: str) -> DataFrame:
    """The routed write as one query: rebalance -> :func:`_sink_writer`
    -> one aggregate whose rows are the manifest (kind 0), the lineage
    metrics (kind 1) and the staged files (kind 2). Collect it once."""
    spark = df.sparkSession
    codec = spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    codec = "none" if codec.lower() in ("none", "uncompressed") else codec.lower()
    data = df.select(*(c for c in df.columns if c not in SINK_KEYS))
    # the key/value metadata Spark's own parquet writer adds: readers get
    # the exact Spark schema and the calendar (no datetime rebase) back
    meta = {
        "org.apache.spark.version": spark.version,
        "org.apache.spark.sql.parquet.row.metadata": data.schema.json(),
    }
    types = {f.name: f.dataType for f in df.schema}
    out = T.StructType(
        [T.StructField("kind", T.ByteType())]
        + [T.StructField(c, types[c]) for c in _ROW_COLS]
        + [T.StructField("input_partition", T.IntegerType())]
        + [T.StructField(c, T.LongType()) for c in _PARTIAL_COLS]
        + [T.StructField("file", T.StringType())]
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    writer = _sink_writer(
        fs, staging, codec, data.columns, meta, to_arrow_schema(out)
    )
    return (
        rebalance_by_sink(df)
        .mapInArrow(writer, out)
        .groupBy("kind", *SINK_KEYS, "input_partition", "file")
        .agg(*sink_stats(), *partition_metrics())
    )


def _sink_of(row) -> tuple:
    return tuple(row[k] for k in SINK_KEYS)


def _commit(fs, table: str, staging: str, files: list[str], stats_rows) -> None:
    """Job commit: every sink directory that received a file this run is
    replaced by exactly the listed files; other sinks are left alone.
    Files a failed or speculative attempt left in staging are not listed
    and are deleted with the staging dir.

    Then each replaced directory is listed and the row counts in its
    files' footers are checked against the manifest rows: the manifest
    records what readers will find there, not what the writer meant to
    write (the check reads O(files) footers, never the data). A mismatch
    raises before ``_SUCCESS``, so no manifest is written either."""
    import posixpath
    from collections import Counter

    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    moves = {f: f"{table}/{f.split('/', 1)[1]}" for f in files}
    sinks = sorted({posixpath.dirname(p) for p in moves.values()})
    for info in fs.get_file_info(sinks):
        if info.type != pafs.FileType.NotFound:
            fs.delete_dir(info.path)
    for d in sinks:
        fs.create_dir(d)
    for f, dst in moves.items():
        fs.move(f"{staging}/{f}", dst)
    fs.create_dir(table)
    _clear_stale_temporary(fs, table)

    want = Counter()
    for r in stats_rows:
        want[f"{table}/{partition_path(r['sink_severity'], r['source'])}"] += r["rows"]
    got = Counter()
    for d in sinks:
        for info in fs.get_file_info(pafs.FileSelector(d)):
            got[d] += pq.read_metadata(info.path, filesystem=fs).num_rows
    if got != want:
        bad = sorted(d for d in want.keys() | got.keys() if got[d] != want[d])
        raise RuntimeError(
            f"routed commit check failed: rows on disk differ from the "
            f"manifest in {len(bad)} sink dir(s), e.g. {bad[0]} "
            f"({got[bad[0]]} on disk, {want[bad[0]]} written)"
        )
    fs.open_output_stream(f"{table}/_SUCCESS").close()


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

    Commit protocol (one rule for fresh, layering and resume runs):
    stale ``<routed>/_temporary`` is cleared; writer tasks stage their
    files under ``<routed>/_temporary/<job>/``, invisible to readers;
    after the query the driver replaces the directory of every sink
    written this run with exactly the listed files (other sinks are left
    alone), deletes the staging dir, checks the replaced directories'
    footer row counts against the manifest rows (:func:`_commit`), writes
    ``_SUCCESS``, then the metrics table and the manifest last. So routed data without a
    manifest means a crashed non-resume write, and resume refuses it.

    The manifest keeps earlier rows of the sinks this run did not write,
    so it always describes the whole table. With resume=True, sinks
    already in the manifest are skipped via a broadcast left_anti join,
    this run's rows are appended to the manifest, and the returned
    ``sink_stats`` / ``routed_rows`` are CUMULATIVE (full manifest: prior
    runs + this one). The metrics table holds the lineage of the rows
    this run wrote."""
    import time as _time
    import uuid

    from ..sources.direct import _resolve_fs

    spark = spark or parsed.sparkSession
    fs, table = _resolve_fs(f"{out_dir}/{ROUTED}")
    prior = completed_sinks(out_dir)
    if resume and prior is None and table_exists(spark, f"{out_dir}/{ROUTED}"):
        # routed data with NO manifest = a non-resume write crashed in or
        # after its job commit: part of its output may be in the final
        # sink dirs, and nothing is recorded as complete. Resume would
        # then skip nothing, and the manifest it writes would not list
        # the partial sinks this run holds no rows for. The recovery is
        # a rerun with resume=False.
        raise RuntimeError(
            f"resume=True but {out_dir}/{MANIFEST} is missing while "
            f"{out_dir}/{ROUTED} exists — this looks like a crashed "
            "FRESH write (interrupted job commit, no manifest). "
            "Rerun with resume=False to overwrite from scratch."
        )
    _clear_stale_temporary(fs, table)
    stage_t: dict[str, float] = {}
    _t0 = _time.monotonic()
    # row_cs is materialized BEFORE the shuffle (pipelined with the parse
    # stage): the writer stores it and the manifest aggregate folds it
    # without re-decoding the nested data column
    df = with_sink_key(parsed).withColumn("row_cs", row_checksum())

    skipped = 0
    if resume and prior is not None:
        skipped = len(prior)
        if prior:
            keys = spark.createDataFrame(
                [_sink_of(r) for r in prior],
                "sink_severity int, source string",
            )
            df = df.join(F.broadcast(keys), list(SINK_KEYS), "left_anti")

    staging = f"{table}/_temporary/{uuid.uuid4()}"
    stats_rows, metrics_rows, files = [], [], []
    for r in _route_query(df, fs, staging).collect():
        if r["kind"] == _ROW:
            stats_rows.append({k: r[k] for k in MANIFEST_SCHEMA.names})
        elif r["kind"] == _PARTIAL:
            metrics_rows.append({k: r[k] for k in METRICS_SCHEMA.names})
        else:
            files.append(r["file"])
    stage_t["parse_route_write"] = _time.monotonic() - _t0
    _t0 = _time.monotonic()

    _commit(fs, table, staging, files, stats_rows)
    write_local_table(f"{out_dir}/{METRICS}", metrics_rows, METRICS_SCHEMA)
    written = {_sink_of(r) for r in stats_rows}
    kept = [r for r in prior or [] if _sink_of(r) not in written]
    write_local_table(
        f"{out_dir}/{MANIFEST}", stats_rows if resume else kept + stats_rows,
        MANIFEST_SCHEMA, append=resume,
    )
    stats_rows = kept + stats_rows
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
