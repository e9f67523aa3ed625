"""Direct-parquet parse source: pyarrow reads the splits INSIDE the
parse workers.

The standard path (spark.read.parquet -> mapInArrow) pays a JVM feed
tax: the vectorized parquet reader's columnar batches are converted to
InternalRows, then re-serialized row-by-row into Arrow IPC for the
python worker — for a list<int32> tokens column that conversion is the
dominant JVM cost, and the round-4 kernel profile (BENCH/PARSE_PROFILE_r4.json)
shows it is exactly the part whose core-seconds double from 8 to 32
local cores. Here the JVM only distributes FILE PATHS (spark.range over
a broadcast file list); each task opens its parquet file through a
``pyarrow.fs`` FileSystem and streams record batches straight into the
parse kernel — parquet bytes decode directly to Arrow in the same
process that parses them, zero row conversion, zero IPC of token data.

Filesystems: plain local paths, ``file://``, ``s3://``/``s3a://`` and
``hdfs://`` URIs all resolve through ``pyarrow.fs.FileSystem.from_uri``
— the driver lists once (one recursive listing call, object-store
friendly) and the workers open files through the same (pickled)
FileSystem handle, so the fused path reaches the remote deployments the
JVM feed tax actually lives on. The pipeline (plans/pipeline.py) takes
this path for every input :func:`_scan` can list; an unreachable or
unauthenticated store, or a layout it rejects, falls back to the
standard (always-correct) reader.

Trade-offs:
  * plain parquet directories only — an Iceberg table with delete files
    / schema evolution must go through the catalog reader (sources/io);
  * no Catalyst pushdown into the scan — irrelevant for the
    parse-everything pipeline, wrong for selective queries;
  * split granularity is one file, dealt into task-aligned buckets
    round-robin by DESCENDING size (each contiguous task range gets a
    balanced large/medium/small mix — name-ordered assignment would let
    size-correlated naming straggle a few tasks); a single enormous
    file still bounds the critical path, and real ingest jobs
    size-bucket their output anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import constants as C
from ..operators.parse import parse_record_batch
from ..operators.schema import parsed_spark_schema


def _from_uri(uri: str):
    """pyarrow FileSystem.from_uri, module-level so tests can stub the
    network-touching schemes."""
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(uri)


def _resolve_fs(path: str):
    """(FileSystem, inner path) for a local path or pyarrow URI.

    ``s3a://`` (the Hadoop connector's scheme for the same stores) is
    aliased to ``s3://`` so a Spark-conf path works unchanged."""
    from pyarrow import fs as pafs

    if path.startswith("s3a://"):
        path = "s3://" + path[len("s3a://"):]
    if "://" in path:
        fs, inner = _from_uri(path)
    else:
        fs, inner = pafs.LocalFileSystem(), os.path.abspath(path)
    return fs, inner.rstrip("/")


def _scan(path: str):
    """One recursive listing -> (FileSystem, [(file, size, src)]).

    Understands exactly two shapes, mixed freely: top-level ``*.parquet``
    and one level of ``source=`` hive partitioning (the token table's
    layout); the escaped partition value is URL-decoded the way Spark
    encodes it (%2F -> '/'). Parquet ANYWHERE else — a ``date=`` dir, or
    nested dirs *inside* a source= dir — raises ValueError: silently
    reading only the recognized subset would drop rows (round-4 ADVICE:
    the old os.walk check missed nesting under source= dirs). Non-parquet
    files (_SUCCESS, .crc) are ignored wherever they sit. Raises
    FileNotFoundError when the path is not a directory or holds no
    non-empty parquet."""
    from urllib.parse import unquote

    from pyarrow import fs as pafs

    fs, base = _resolve_fs(path)
    info = fs.get_file_info(base)
    if info.type != pafs.FileType.Directory:
        raise FileNotFoundError(f"{path} is not a directory")
    out = []
    for fi in fs.get_file_info(pafs.FileSelector(base, recursive=True)):
        if fi.type != pafs.FileType.File or not fi.path.endswith(".parquet"):
            continue
        parts = fi.path[len(base):].lstrip("/").split("/")
        if len(parts) == 1:
            src = None
        elif len(parts) == 2 and parts[0].startswith("source="):
            src = unquote(parts[0].split("=", 1)[1])
        else:
            raise ValueError(
                f"{path} is not a flat or source=-partitioned parquet dir "
                f"(parquet found at {'/'.join(parts)!r}; use the standard "
                "reader for other layouts)"
            )
        if fi.size:
            out.append((fi.path, fi.size, src))
    if not out:
        raise FileNotFoundError(f"no parquet files under {path}")
    out.sort(key=lambda t: t[0])
    return fs, out


def list_parquet_files(path: str) -> list[tuple[str, str | None]]:
    """(file, hive-partition source value or None) pairs, sorted by path.
    Raises FileNotFoundError on layouts :func:`_scan` rejects."""
    try:
        _, files = _scan(path)
    except ValueError as e:
        raise FileNotFoundError(str(e)) from None
    return [(f, src) for f, _sz, src in files]


def _stripe_by_size(files: list[tuple], n_parts: int) -> list[tuple]:
    """Reorder (file, size, src) entries so the n_parts CONTIGUOUS index
    ranges spark.range hands to tasks each get a balanced size mix:
    rank files by descending size and deal them round-robin into
    n_parts buckets, then concatenate the buckets. Deterministic."""
    order = sorted(
        range(len(files)), key=lambda i: (-files[i][1], files[i][0])
    )
    return [files[i] for b in range(n_parts) for i in order[b::n_parts]]


def _fan_out(spark: SparkSession, files: list[tuple]) -> int:
    """Parse tasks for (file, size, src) entries: one wave of
    defaultParallelism tasks, more only when the input exceeds one
    ``spark.sql.files.maxPartitionBytes`` split per task, and never more
    tasks than files (a file is the split unit). A Python task costs
    ~30-40 ms of CPU even when it does nothing (a 4-task no-op job takes
    ~0.19 s on 4 CPUs), so a small input dealt over several waves pays
    that overhead per wave for no gain."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    total = sum(sz for _f, sz, _src in files)
    want = max(spark.sparkContext.defaultParallelism, -(-total // split))
    return min(len(files), want)


def parse_tokens_direct(
    spark: SparkSession,
    path: str,
    ref_year: int = C.DEFAULT_REFERENCE_YEAR,
    ref_tz: int = C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS,
    keep_raw: bool = False,
    source_prefixes: list[str] | None = None,
    _scanned=None,
) -> DataFrame:
    """Parquet token dir -> parsed DataFrame, one fused read+parse stage.

    Same output schema/semantics as operators.parse.parse_tokens over
    spark.read.parquet(path) (asserted equal in tests); only the feed
    path differs. `ts` is added JVM-side exactly like parse_tokens.

    ``source_prefixes`` is the direct path's partition pruning: on a
    hive `source=` layout, files whose partition value does not start
    with one of the prefixes are never opened (the file-list analogue of
    Catalyst pruning `WHERE source LIKE 'rfc5424%'` down to directory
    listings). Plain string-prefix match, like LIKE 'p%'. An EMPTY
    prefix list is rejected — it would mean "no sources", which is
    never what a caller wants (use None for all sources).

    Files are dealt into one task wave (``defaultParallelism`` tasks)
    unless the input is larger than that many
    ``spark.sql.files.maxPartitionBytes`` splits; then there is one task
    per split, capped at the file count (:func:`_fan_out`).
    :func:`_stripe_by_size` balances the files across those tasks.

    Kernel batches hold up to
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, the conf that
    also sizes the standard reader's ``mapInArrow`` batches
    (``build_session(arrow_batch_rows=)`` sets it).

    ``_scanned`` is the private single-listing handoff: plans/pipeline
    passes its own _scan result so the store is listed once, not
    twice."""
    from pyspark.sql import functions as F

    if source_prefixes is not None and not source_prefixes:
        raise ValueError(
            "source_prefixes=[] selects nothing; pass None for all sources"
        )
    batch_rows = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    if batch_rows <= 0:  # Spark reads a non-positive value as "no limit"
        batch_rows = 1 << 62
    fs, files = _scanned if _scanned is not None else _scan(path)
    if source_prefixes is not None:
        files = [
            (f, sz, src)
            for f, sz, src in files
            if src is None  # flat files: value unknown pre-read, keep
            or any(src.startswith(p) for p in source_prefixes)
        ]
        if not files:
            raise FileNotFoundError(
                f"no partitions under {path} match {source_prefixes}"
            )
    n_parts = _fan_out(spark, files)
    striped = [
        (f, src) for f, _sz, src in _stripe_by_size(files, n_parts)
    ]
    # pyarrow FileSystems pickle (LocalFileSystem trivially; S3/Hdfs
    # carry their connection config) — workers reuse the driver's handle
    bc = spark.sparkContext.broadcast((fs, striped))

    def fn(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        wfs, flist = bc.value
        cols = ["doc_id", "tokens", "n_tok", "source"]

        def file_tables(b):
            # small files load whole (they get buffered into full
            # batches below); big files STREAM in batch_rows chunks so a
            # 512MB split never materializes entirely in worker RAM
            for idx in b.column("id").to_pylist():
                fpath, src = flist[idx]
                file_cols = [
                    c for c in cols if c != "source" or src is None
                ]
                pf = pq.ParquetFile(wfs.open_input_file(fpath))
                try:
                    if pf.metadata.num_rows <= 4 * batch_rows:
                        chunks = [pf.read(columns=file_cols)]
                    else:
                        chunks = (
                            pa.Table.from_batches([rb])
                            for rb in pf.iter_batches(
                                batch_size=batch_rows, columns=file_cols
                            )
                        )
                    for t in chunks:
                        if t.num_rows == 0:
                            continue
                        if src is not None:
                            t = t.append_column(
                                "source",
                                pa.array([src] * t.num_rows, pa.string()),
                            )
                        elif source_prefixes is not None:
                            # flat file: the partition value was unknown
                            # at list time, so prune at ROW level here —
                            # otherwise "pruned" output would silently
                            # include excluded sources
                            import pyarrow.compute as pc

                            col = t.column("source")
                            mask = None
                            for p in source_prefixes:
                                m = pc.starts_with(col, p)
                                mask = m if mask is None else pc.or_(mask, m)
                            t = t.filter(pc.fill_null(mask, False))
                            if t.num_rows == 0:
                                continue
                        yield t.select(cols)
                finally:
                    pf.close()

        # token files are often much smaller than one Arrow batch (a
        # partitioned write leaves one file per writer task per source,
        # often ~10k rows): BUFFER across files
        # up to batch_rows so the parse kernel keeps its per-batch
        # amortization — a 10k-row batch pays the same regex machinery
        # as a 32k one
        def emit(table):
            for rb in table.combine_chunks().to_batches(batch_rows):
                if rb.num_rows:
                    yield parse_record_batch(rb, ref_year, ref_tz, keep_raw)

        for b in batches:
            buf, buffered = [], 0
            for t in file_tables(b):
                buf.append(t)
                buffered += t.num_rows
                if buffered >= batch_rows:
                    yield from emit(pa.concat_tables(buf))
                    buf, buffered = [], 0
            if buf:
                yield from emit(pa.concat_tables(buf))

    seed = spark.range(len(striped), numPartitions=n_parts).select(
        F.col("id").cast("long").alias("id")
    )
    out = seed.mapInArrow(fn, parsed_spark_schema(keep_raw))
    return out.withColumn("ts", F.timestamp_micros(F.col("ts_micros")))
