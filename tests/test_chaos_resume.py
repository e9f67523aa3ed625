"""Chaos test: the commit-protocol/resume reasoning in route.py
(FileOutputCommitter v1 for every routed write) is executed, not argued.
A child process running route_write is SIGKILLed inside a commit (a
fresh write's job commit stalls itself after its first file move and
says so; a resume is killed when its first task output shows up on
disk), then the documented recovery action runs and the final table
must be row_cs-exact against an uncrashed run.

Recovery contract under test:
  * crashed FRESH write: v1 keeps task output under _temporary until the
    driver's job commit renames it into the final sink dirs, so the only
    window in which a fresh write's partials are visible is that job
    commit (or the manifest scan after it). The kill lands there. The
    manifest was never written, so no sink is falsely "complete"; resume
    is refused, and a rerun from scratch (the overwrite clears the
    partials) is the recovery.
  * crashed RESUME/append write: the kill lands after the first task
    commit, whose output lives only under _temporary (invisible to
    readers); re-running the same resume skips manifest-complete sinks
    and appends the missing ones exactly once — no double-write.
"""
from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import textwrap
import threading
import time

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch_tokens(spark, sf_dir, tag: str, out: str, n: int = 150_000):
    """A realistic mixed-severity token batch whose sources carry a
    per-batch suffix (distinct sink keys per batch, same formats)."""
    from syslog_spark.sources.datagen import generate_tokens_df

    df = generate_tokens_df(spark, n, 8).withColumn(
        "source", F.concat(F.col("source"), F.lit("/" + tag))
    )
    df.write.mode("overwrite").parquet(out)


def _manifest_set(spark, out_dir):
    rows = spark.read.parquet(f"{out_dir}/manifest").collect()
    return {
        (r["sink_severity"], r["source"], r["rows"], r["row_set_checksum"])
        for r in rows
    }


_CHILD = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from syslog_spark.session import build_session
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import route_write

    # 24 uncoalesced write tasks on 2 cores: the write runs in several
    # waves, so the kill lands after the first task commit, mid-job
    spark = build_session(
        app_name="chaos_child", master="local[2]", shuffle_partitions=24,
        extra_conf={{"spark.driver.memory": "4g",
                     "spark.sql.adaptive.coalescePartitions.enabled": "false",
                     "spark.ui.showConsoleProgress": "false"}},
    )
    {stall}
    tok = spark.read.parquet({tokens!r})
    print("READY", flush=True)
    route_write(parse_tokens(tok), {out!r}, spark, resume={resume})
    print("DONE", flush=True)
""")


# the fresh write's job commit gets a file system that, after its first
# move into a final sink dir, says so on stdout and blocks, so the parent
# kills the job commit mid-way
_STALL_COMMIT = textwrap.dedent("""
    import threading
    from syslog_spark.operators import route

    commit = route._commit


    class _StallAfterFirstMove:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def move(self, src, dst):
            self._fs.move(src, dst)
            print("MOVED", flush=True)
            threading.Event().wait()


    route._commit = lambda fs, *a, **kw: commit(
        _StallAfterFirstMove(fs), *a, **kw
    )
""")


def _run_child_and_kill(tmp_path, tokens, out, resume, evidence_glob=None,
                        timeout=180):
    """Start route_write in a child process group and SIGKILL the whole
    group at the first commit evidence: with ``evidence_glob``, the first
    matching path on disk; without it, the fresh write's ``MOVED`` line
    (its job commit has moved one file into place and is stalled there).
    Returns True if the kill landed mid-job (False = job finished too
    fast; caller should retry with more data)."""
    script = tmp_path / f"chaos_{'resume' if resume else 'fresh'}.py"
    script.write_text(
        _CHILD.format(
            repo=REPO, tokens=tokens, out=out, resume=resume,
            stall=_STALL_COMMIT if evidence_glob is None else "",
        )
    )
    p = subprocess.Popen(
        [sys.executable, str(script)], stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, start_new_session=True,
    )
    try:
        t0 = time.monotonic()
        killed = False
        if evidence_glob is None:
            timer = threading.Timer(timeout, os.killpg, (p.pid, signal.SIGKILL))
            timer.start()
            try:
                for line in p.stdout:
                    if line.strip() == "MOVED":
                        os.killpg(p.pid, signal.SIGKILL)
                        killed = True
                        break
            finally:
                timer.cancel()
            if not killed and time.monotonic() - t0 >= timeout:
                pytest.fail("chaos child neither moved a file nor exited")
        else:
            while time.monotonic() - t0 < timeout:
                if p.poll() is not None:
                    break  # finished before we saw evidence
                if glob.glob(evidence_glob):
                    os.killpg(p.pid, signal.SIGKILL)
                    killed = True
                    break
                time.sleep(0.02)
            else:
                pytest.fail("chaos child neither produced evidence nor exited")
        p.wait(timeout=30)
        return killed
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait(timeout=30)


@pytest.mark.slow
def test_chaos_kill_fresh_then_rerun_and_kill_resume_then_resume(
    spark, sf_dir, tmp_path
):
    from syslog_spark.operators.parse import parse_tokens
    from syslog_spark.operators.route import route_write

    b1 = str(tmp_path / "tok_b1")
    b2 = str(tmp_path / "tok_b2")
    _batch_tokens(spark, sf_dir, "b1", b1)
    _batch_tokens(spark, sf_dir, "b2", b2)

    # ---- uncrashed reference: fresh b1, then resume-append b2
    clean = str(tmp_path / "out_clean")
    route_write(parse_tokens(spark.read.parquet(b1)), clean, spark)
    clean_after_b1 = _manifest_set(spark, clean)
    route_write(parse_tokens(spark.read.parquet(b2)), clean, spark,
                resume=True)
    clean_final = _manifest_set(spark, clean)
    assert clean_final > clean_after_b1

    # ---- scenario 1: kill a FRESH write in its job commit
    out = str(tmp_path / "out_chaos")
    # the kill lands after the job commit's first move of a file into a
    # FINAL sink dir, where the child stalls its commit
    killed = _run_child_and_kill(tmp_path, b1, out, resume=False)
    assert killed, "fresh write finished before its job commit was seen"
    # no manifest, so nothing is falsely complete
    assert not os.path.exists(f"{out}/manifest")
    partials = glob.glob(f"{out}/routed/sink_severity=*/source=*/*.parquet")
    assert partials, "kill should have left job-commit partials in place"

    # the WRONG recovery — resume=True on a crashed fresh write — must
    # be refused: no manifest means nothing is recorded complete, and
    # appending would land the full dataset on top of the partials
    # and then legitimize the duplicates in a fresh manifest
    with pytest.raises(RuntimeError, match="crashed\\s+FRESH write"):
        route_write(parse_tokens(spark.read.parquet(b1)), out, spark,
                    resume=True)

    # documented recovery: rerun the fresh write from scratch
    route_write(parse_tokens(spark.read.parquet(b1)), out, spark)
    assert _manifest_set(spark, out) == clean_after_b1

    # ---- scenario 2: kill a RESUME/append write mid-job
    killed = _run_child_and_kill(
        tmp_path, b2, out, resume=True,
        # task commits are only visible under _temporary
        evidence_glob=f"{out}/routed/_temporary/*/task_*",
    )
    assert killed, "resume write finished before first task commit was seen"
    # readers see ONLY b1 data (task-committed output is invisible) and the
    # manifest still lists exactly the b1 sinks
    assert _manifest_set(spark, out) == clean_after_b1

    # documented recovery: run the SAME resume again
    route_write(parse_tokens(spark.read.parquet(b2)), out, spark,
                resume=True)
    assert _manifest_set(spark, out) == clean_final

    # the routed tables are row-multiset identical (not just manifest):
    from syslog_spark.operators.route import row_checksum

    def table_cs(d):
        return (
            spark.read.parquet(f"{d}/routed")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(row_checksum()).alias("cs"))
            .first()
        )

    a, b = table_cs(clean), table_cs(out)
    assert (a["n"], a["cs"]) == (b["n"], b["cs"])
