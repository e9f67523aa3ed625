"""Round-5: prove the spark-submit cluster contract end-to-end.

``local-cluster[2,2,1024]`` starts REAL executor JVMs with a real
serialization boundary — the closest a sandbox gets to a cluster. This
catches closure/broadcast bugs local[32] structurally cannot: the
direct source's broadcast (FileSystem, file-list) must pickle across
processes, build_session's package zip must reach executor python
workers via addPyFile, and the in-worker BLAS pinning must run in a
process that inherited nothing from the driver."""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent("""
    import sys, json
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from syslog_spark.session import build_session
    from syslog_spark.sources.datagen import write_token_table
    from syslog_spark.operators.enrich import enrich
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import ERROR_SINK, route_write
    from syslog_spark.plans.pipeline import run_pipeline
    from syslog_spark.sources.io import read_tokens
    from syslog_spark.operators.dedup import (
        connected_components, near_duplicates_minhash,
    )

    spark = build_session(app_name="lc_probe")
    assert spark.sparkContext.master.startswith("local-cluster"), \\
        spark.sparkContext.master
    base = {base!r}

    # pipeline through BOTH feed paths: the standard JVM scan and the
    # fused direct source (broadcast FileSystem + file list crosses the
    # real executor boundary here)
    tok = f"{{base}}/tok"
    write_token_table(spark, tok, 40_000, partitions=8)
    std = route_write(enrich(parse_tokens(read_tokens(spark, tok))),
                      f"{{base}}/out_std", spark)
    r_std = {{
        "routed_rows": std["routed_rows"],
        "error_rows": sum(r["rows"] for r in std["sink_stats"]
                          if r["sink_severity"] == ERROR_SINK),
    }}
    r_dir = run_pipeline(spark, tok, f"{{base}}/out_dir")

    def manifest(d):
        return sorted(
            (r["sink_severity"], r["source"], r["rows"],
             r["row_set_checksum"])
            for r in spark.read.parquet(f"{{base}}/{{d}}/manifest").collect()
        )

    # one dedup op across executors (pandas UDF + iterative joins)
    bases = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "pack my box with five dozen liquor jugs before the long voyage",
        "sphinx of black quartz judge my vow in the ancient temple hall",
        "how vexingly quick daft zebras jump across the frozen meadow",
        "bright vixens watch as jocks nymph to quiz the waltzing judge",
        "crazy fredrick bought many very exquisite opal jewels yesterday",
        "we promptly judged antique ivory buckles for the next prize fund",
    ]
    docs = spark.createDataFrame(
        [(i, bases[i % 7] + " copy " + str(i // 7 % 3)) for i in range(300)],
        "doc_id long, text string",
    )
    pairs = near_duplicates_minhash(docs, threshold=0.8)
    comps = connected_components(pairs)

    # stateful streaming across REAL executors: HDFS-backed state store
    # + applyInPandasWithState on executor python workers
    import uuid
    from syslog_spark.streaming.stream_pipeline import streaming_dedup_exact
    sd = f"{{base}}/sdocs"
    docs.withColumn("doc_id", docs.doc_id.cast("string")).repartition(
        4
    ).write.mode("overwrite").parquet(sd)
    sschema = "doc_id string, text string"
    sname = f"lc_{{uuid.uuid4().hex[:8]}}"
    sq = (
        streaming_dedup_exact(
            spark.readStream.schema(sschema)
            .option("maxFilesPerTrigger", 2).parquet(sd)
        )
        .writeStream.format("memory").queryName(sname)
        .option("checkpointLocation", f"{{base}}/sckpt")
        .outputMode("update").trigger(availableNow=True).start()
    )
    sq.awaitTermination()
    sfinal = spark.table(sname).groupBy("digest").agg(
        F.max("n_docs").alias("n")
    )
    stream_total = sfinal.agg(F.sum("n")).first()[0]
    stream_digests = sfinal.count()

    print("PROBE " + json.dumps({{
        "routed_std": r_std["routed_rows"],
        "routed_dir": r_dir["routed_rows"],
        "errors_std": r_std["error_rows"],
        "errors_dir": r_dir["error_rows"],
        "manifests_equal": manifest("out_std") == manifest("out_dir"),
        "n_pairs": pairs.count(),
        "n_nodes": comps.count(),
        "n_comps": comps.select("component").distinct().count(),
        "stream_total": stream_total,
        "stream_digests": stream_digests,
    }}))
    spark.stop()
""")


@pytest.mark.slow
def test_local_cluster_pipeline_and_dedup(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if not spark_submit:
        import pyspark

        cand = os.path.join(pyspark.__path__[0], "bin", "spark-submit")
        spark_submit = cand if os.path.exists(cand) else None
    if not spark_submit:
        pytest.skip("no spark-submit binary")

    probe = tmp_path / "lc_probe.py"
    probe.write_text(_PROBE.format(repo=REPO, base=str(tmp_path)))
    r = subprocess.run(
        [spark_submit, "--master", "local-cluster[2,2,1024]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false", str(probe)],
        capture_output=True, text=True, timeout=540,
    )
    assert r.returncode == 0, (r.stdout + r.stderr)[-3000:]
    line = next(
        ln for ln in (r.stdout + r.stderr).splitlines()
        if ln.startswith("PROBE ")
    )
    got = json.loads(line[6:])
    assert got["routed_std"] == got["routed_dir"] > 35_000
    assert got["errors_std"] == got["errors_dir"] > 0
    assert got["manifests_equal"] is True
    # 300 docs in 7 near-identical groups -> dense pair lists collapsing
    # into exactly 7 components over all 300 nodes
    assert got["n_nodes"] == 300
    assert got["n_comps"] == 7
    assert got["n_pairs"] >= 300
    # stateful streaming dedup across real executors: every doc counted
    # once, 21 distinct texts (7 bases x 3 copy-suffixes)
    assert got["stream_total"] == 300
    assert got["stream_digests"] == 21
