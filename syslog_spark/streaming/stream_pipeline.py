"""Structured Streaming version of the parse -> enrich -> route path.

The batch operators compose unchanged: mapInArrow / pandas UDFs and the
enrichment expressions are streaming-safe. What streaming adds:

  * file-source ingestion of token parquet (maxFilesPerTrigger paces it),
  * watermarked event-time windowed aggregates (late rows beyond the
    watermark dropped deterministically),
  * checkpointed sinks (exactly-once file sink; restart = resume),
  * a custom stateful operator (per-hostname running counters) via
    applyInPandasWithState.

Tests drive it with trigger(availableNow=True) so a static directory runs
to completion synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.enrich import enrich
from ..operators.parse import parse_tokens
from ..operators.schema import TOKENS_SPARK_SCHEMA
from .. import constants as C


def read_token_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TOKENS_SPARK_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def parse_stream(
    tokens: DataFrame,
    ref_year: int = C.DEFAULT_REFERENCE_YEAR,
    ref_tz: int = C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS,
) -> DataFrame:
    return enrich(parse_tokens(tokens, ref_year, ref_tz))


def windowed_severity_counts(
    parsed: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked event-time rollup per severity (late data dropped)."""
    return (
        parsed.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "severity")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct("hostname").alias("approx_hosts"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "severity", "rows", "approx_hosts",
        )
    )


_HOST_STATE_SCHEMA = T.StructType([T.StructField("total", T.LongType())])
_HOST_OUT_SCHEMA = T.StructType(
    [
        T.StructField("hostname", T.StringType()),
        T.StructField("batch_rows", T.LongType()),
        T.StructField("running_total", T.LongType()),
    ]
)


def host_running_totals(parsed: DataFrame) -> DataFrame:
    """Custom stateful operator: per-hostname running row counts
    (applyInPandasWithState, GroupStateTimeout.NoTimeout)."""
    import pandas as pd

    def fn(key, pdf_iter, state):
        n = 0
        for pdf in pdf_iter:
            n += len(pdf)
        (total,) = state.get if state.exists else (0,)
        total += n
        state.update((total,))
        yield pd.DataFrame(
            {"hostname": [key[0]], "batch_rows": [n], "running_total": [total]}
        )

    return (
        parsed.filter(F.col("error_msg").isNull())
        .groupBy("hostname")
        .applyInPandasWithState(
            fn,
            outputStructType=_HOST_OUT_SCHEMA,
            stateStructType=_HOST_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


_DEDUP_STATE_SCHEMA = T.StructType([
    T.StructField("keep_id", T.StringType()),
    T.StructField("n_seen", T.LongType()),
])
_DEDUP_OUT_SCHEMA = T.StructType([
    T.StructField("digest", T.StringType()),
    T.StructField("keep_doc_id", T.StringType()),
    T.StructField("n_docs", T.LongType()),
])


def streaming_dedup_exact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stateful streaming exact-dedup — the streaming twin of
    operators/dedup.exact_duplicate_groups: per content digest, state
    carries (min doc id, copies seen) across micro-batches via
    applyInPandasWithState and each update emits the digest's current
    survivor + count. The fold is (min, sum) — order- and
    batching-insensitive — so the FINAL update row per digest is
    deterministic however the stream was chopped, which is what makes
    the operator oracle-checkable (GROUP BY md5(text)). Ids are compared
    as strings (matching the batch gate's VARCHAR min).

    At scale: state is one (string, long) pair per DISTINCT digest,
    hash-partitioned across executors; each micro-batch shuffles only
    its own rows. Point the session at the RocksDB state store provider
    when the digest set exceeds executor memory."""
    import pandas as pd

    keyed = docs.select(
        F.md5(F.col(text_col)).alias("digest"),
        F.col(id_col).cast("string").alias("id"),
    )

    def fn(key, pdf_iter, state):
        mn = None
        n = 0
        for pdf in pdf_iter:
            if len(pdf):
                n += len(pdf)  # count(*) semantics: null ids still count
                ids = pdf["id"].dropna()
                if len(ids):
                    # min over NON-NULL ids only — pandas .min() raises
                    # on str/None mixes, and the batch twin's F.min /
                    # the SQL oracle's min() both skip nulls
                    m = ids.min()
                    mn = m if mn is None else min(mn, m)
        if state.exists:
            k, seen = state.get
            if k is not None:
                mn = k if mn is None else min(mn, k)
            n += seen
        state.update((mn, n))
        yield pd.DataFrame(
            {"digest": [key[0]], "keep_doc_id": [mn], "n_docs": [n]}
        )

    return keyed.groupBy("digest").applyInPandasWithState(
        fn,
        outputStructType=_DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """Drain all available input into a checkpointed routed sink with the
    SAME fan-out layout as the batch router (operators/route.py): every
    row lands in its (sink_severity, source) partition, error rows in the
    sink_severity=-1 dead-letter partition. Returns valid rows written.
    Restart-safe: the checkpoint makes a second invocation a no-op for
    already-committed files (exactly-once file sink). A routed table that
    cannot be read raises instead of reading as 0 rows."""
    from ..operators.route import ERROR_SINK, with_sink_key

    parsed = with_sink_key(parse_stream(read_token_stream(spark, input_dir)))
    q = (
        parsed.writeStream.format("parquet")
        .option("path", f"{out_dir}/routed")
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("sink_severity", "source")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # read with the stream's own schema: after an empty input the sink
    # holds only _spark_metadata, which has no files to infer a schema
    # from, and that is 0 rows — any other read error propagates
    return (
        spark.read.schema(parsed.schema).parquet(f"{out_dir}/routed")
        .filter(F.col("sink_severity") != ERROR_SINK)
        .count()
    )
