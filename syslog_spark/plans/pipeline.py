"""End-to-end pipeline plan: read -> parse -> enrich -> route -> aggregate.

The Spark lifecycle equivalent of the reference's ParseMessage driver loop
(syslog.go:143-161) lifted to table scale (SURVEY.md §3), as ONE Spark
query of at most 3 jobs:

  read tokens (Iceberg/Parquet, partition-pruned on source)
    -> parse (one mapInArrow stage: detokenize + parse, no shuffle)
    -> enrich (literal lookups / broadcast joins, no shuffle)
    -> route  (ONE shuffle on (severity, source); a pyarrow writer stage
       stages one file per sink and yields the manifest's flat columns)
    -> aggregate (one keyed aggregate over the writer's output, collected:
       manifest + per-sink stats + lineage; the driver then commits the
       listed files — the routed table is never re-scanned)

Checkpoint/resume: the routing manifest records completed sinks; a resumed
run anti-joins them out. Per-partition lineage rows land in <out>/metrics.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import constants as C
from ..operators.enrich import enrich
from ..operators.parse import parse_tokens
from ..operators.route import route_write
from ..sources import direct
from ..sources.io import read_tokens


@dataclass
class PipelineConfig:
    reference_year: int = C.DEFAULT_REFERENCE_YEAR
    reference_tz_offset: int = C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS
    resume: bool = False
    # LIKE-'p%' prefixes over the source partition value: the direct
    # path prunes at the FILE LIST (partitions never opened), the
    # standard path pushes a startswith filter into the scan (Catalyst
    # partition pruning on the hive layout). None = all sources.
    source_prefixes: list[str] | None = None


def parsed_frame(
    spark: SparkSession, input_path: str, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Read + parse + enrich. The input picks the feed path:

      * ``iceberg:`` tables go through the catalog reader;
      * a parquet dir the direct source can list — flat and/or one
        ``source=`` level, on a local path or a pyarrow.fs store
        (file://, s3://, s3a://, hdfs://) — takes the fused pyarrow
        read+parse (sources/direct.py), which skips the JVM
        row->Arrow feed conversion;
      * anything else (another layout, an unreachable store) takes the
        standard ``spark.read.parquet`` reader, which is always correct.

    ONE listing decides the path AND feeds the direct source, so an
    object store is listed once, not twice."""
    cfg = cfg or PipelineConfig()
    if cfg.source_prefixes is not None and not cfg.source_prefixes:
        raise ValueError(
            "source_prefixes=[] selects nothing; pass None for all sources"
        )
    scanned = None
    if not input_path.startswith("iceberg:"):
        try:
            scanned = direct._scan(input_path)
        except Exception:
            pass  # a layout _scan rejects, or an unlistable store
    if scanned is not None:
        parsed = direct.parse_tokens_direct(
            spark, input_path, cfg.reference_year, cfg.reference_tz_offset,
            source_prefixes=cfg.source_prefixes, _scanned=scanned,
        )
    else:
        from pyspark.sql import functions as F

        tokens = read_tokens(spark, input_path)
        if cfg.source_prefixes is not None:
            pred = None
            for p in cfg.source_prefixes:
                m = F.col("source").startswith(p)
                pred = m if pred is None else (pred | m)
            # on a hive source= layout Catalyst turns this into
            # partition pruning; on flat files it's a pushed filter
            tokens = tokens.filter(pred)
        parsed = parse_tokens(
            tokens, cfg.reference_year, cfg.reference_tz_offset
        )
    return enrich(parsed)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from ..operators.route import ERROR_SINK

    cfg = cfg or PipelineConfig()
    t0 = time.monotonic()
    df = parsed_frame(spark, input_path, cfg)
    route_info = route_write(df, out_dir, spark, resume=cfg.resume)
    # per-sink aggregates come with the manifest rows route_write collected
    # (tiny: one row per sink); materialize the aggregate view from those
    # rows — no data scan, no manifest re-read
    stats_rows = route_info["sink_stats"]
    if stats_rows:
        from pyspark.sql import types as T

        from ..operators.route import MANIFEST_SCHEMA, write_local_table

        agg_schema = T.StructType([
            T.StructField(
                "severity" if f.name == "sink_severity" else f.name,
                f.dataType,
            )
            for f in MANIFEST_SCHEMA.fields
            if f.name != "row_set_checksum"
        ])
        agg_rows = [
            {
                ("severity" if k == "sink_severity" else k): v
                for k, v in r.items()
                if k != "row_set_checksum"
            }
            for r in stats_rows
            if r["sink_severity"] != ERROR_SINK
        ]
        write_local_table(f"{out_dir}/aggregates", agg_rows, agg_schema)
    wall = time.monotonic() - t0

    total = errors = n_sinks = 0
    for row in stats_rows:
        if row["sink_severity"] == ERROR_SINK:
            errors += int(row["rows"])
        else:
            total += int(row["rows"])
            n_sinks += 1
    return {
        "routed_rows": total,
        "error_rows": errors,
        "sinks": n_sinks,
        "skipped_sinks": route_info["skipped_sinks"],
        "wall_seconds": wall,
        "rows_per_sec": (total + errors) / wall if wall > 0 else 0.0,
        "stage_seconds": route_info.get("stage_seconds", {}),
    }
