"""End-to-end pipeline plan: read -> parse -> enrich -> route -> aggregate.

The Spark lifecycle equivalent of the reference's ParseMessage driver loop
(syslog.go:143-161) lifted to table scale (SURVEY.md §3):

  read tokens (Iceberg/Parquet, partition-pruned on source)
    -> parse (one mapInArrow stage: detokenize + parse, no shuffle)
    -> enrich (literal lookups / broadcast joins, no shuffle)
    -> route  (ONE shuffle on (severity, source) for the fan-out write)
    -> aggregates (reuses the same key space; AQE/salting for skew)

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
from ..sources.io import read_tokens


@dataclass
class PipelineConfig:
    reference_year: int = C.DEFAULT_REFERENCE_YEAR
    reference_tz_offset: int = C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS
    resume: bool = False
    exact_percentiles: bool = True
    write_metrics: bool = True
    # fused pyarrow read+parse for plain parquet dirs (local paths and
    # pyarrow.fs schemes: file://, s3://, s3a://, hdfs://): skips the
    # JVM row->Arrow feed conversion (the non-scaling cost found by the
    # round-4 kernel profile, BENCH/PARSE_PROFILE_r4.json; measured 13%
    # faster at 8 cores / 24% at 32, bitwise identical output). "auto"
    # uses it only when the layout is listable and fully understood;
    # Iceberg tables and unreachable stores always take the catalog/scan
    # reader.
    direct_parquet: str = "auto"  # "auto" | "never" | "always"
    # LIKE-'p%' prefixes over the source partition value: the direct
    # path prunes at the FILE LIST (partitions never opened), the
    # standard path pushes a startswith filter into the scan (Catalyst
    # partition pruning on the hive layout). None = all sources.
    source_prefixes: list[str] | None = None


def _can_read_direct(input_path: str) -> bool:
    if input_path.startswith("iceberg:"):
        return False
    from ..sources.direct import layout_supported

    # only layouts the direct source FULLY understands (flat and/or one
    # source= level) — a date=-partitioned or nested dir silently taking
    # the fused path would drop files (round-4 review finding). Remote
    # schemes (file://, s3a://, hdfs://) resolve through pyarrow.fs since
    # round 5; an unreachable/unlistable store returns False here and the
    # standard reader takes over.
    return layout_supported(input_path)


def parsed_frame(
    spark: SparkSession, input_path: str, cfg: PipelineConfig | None = None
) -> DataFrame:
    cfg = cfg or PipelineConfig()
    if cfg.source_prefixes is not None and not cfg.source_prefixes:
        raise ValueError(
            "source_prefixes=[] selects nothing; pass None for all sources"
        )
    scanned = None
    use_direct = cfg.direct_parquet == "always"
    if cfg.direct_parquet == "auto" and not input_path.startswith("iceberg:"):
        # ONE listing decides feed-path support AND feeds the direct
        # source (a layout_supported + parse_tokens_direct pair would
        # recursively list an object store twice, review finding)
        from ..sources.direct import _scan

        try:
            scanned = _scan(input_path)
            use_direct = True
        except Exception:
            use_direct = False
    if use_direct:
        from ..sources.direct import parse_tokens_direct

        parsed = parse_tokens_direct(
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
    route_info = route_write(
        df, out_dir, spark, resume=cfg.resume, write_metrics=cfg.write_metrics
    )
    # per-sink aggregates were computed in the same scan as the manifest
    # (route_write -> sink_stats) and collected (tiny: one row per sink);
    # materialize the aggregate view from those rows — no data re-scan,
    # no manifest re-read
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
