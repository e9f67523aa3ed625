"""One benchmark run inside its own process (one JVM per run).

Usage: python3 perfbench/child.py <config.json>

The config names the workload, its generated input and reference
answers, the run length, the core count and whether to trace. The child
builds the session, runs the workload's call once as the warm-up (charged
to set-up: the first call in a session pays Python-worker start-up, code
generation and JIT, and ran 25-60% slower than later ones), then
repeats the workload's public call in a closed loop (one job at a time)
until the run length has passed, checks every output against the
reference, and writes its result as JSON to the config's ``result`` path.
With tracing on it also enables Spark's event log, labels every call with
``setJobDescription`` and derives the per-layer metrics after the loop.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

DEDUP = {"threshold": 0.7, "bands": 32, "n_hashes": 64}
MAX_BUCKET = 200  # minhash_lsh_candidates' default bucket window
KERNEL_SAMPLE = 32768
PY_EVAL_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "FlatMapGroupsInPandas", "AggregateInPandas", "WindowInPandas",
)


class Tracer:
    """Spans around calls into the package, each labelled on Spark jobs."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []

    def call(self, name: str, fn, *args, **kw):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        start, t0 = time.time(), time.monotonic()
        try:
            return fn(*args, **kw)
        finally:
            dt = time.monotonic() - t0
            self.spans.append(
                {"name": name, "start": start, "end": start + dt, "seconds": dt}
            )
            sc.setJobDescription(None)

    def seconds(self, name: str) -> float:
        return [s["seconds"] for s in self.spans if s["name"] == name][-1]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, parquet files) under a directory."""
    total = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
            files += f.endswith(".parquet")
    return total, files


def _read_tokens(path: str):
    """The whole token table in-process (pyarrow), with its source column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from syslog_spark.sources.direct import list_parquet_files

    tables = []
    for f, src in list_parquet_files(path):
        t = pq.read_table(f)
        tables.append(t.append_column("source", pa.array([src] * t.num_rows)))
    return pa.concat_tables(tables)


def _parse_stage(tr: Tracer, spark, path: str, cores: int) -> dict:
    """sources.* and parse.* figures of a token table."""
    import numpy as np
    import pyarrow as pa

    from syslog_spark import constants as C
    from syslog_spark.operators.parse import parse_record_batch
    from syslog_spark.sources.direct import list_parquet_files, parse_tokens_direct

    m = {}
    listed = []
    for _ in range(3):
        tr.call("sources.list", list_parquet_files, path)
        listed.append(tr.seconds("sources.list"))
    m["sources.list_s"] = statistics.median(listed)
    tr.call(
        "parse.stage",
        lambda: parse_tokens_direct(spark, path)
        .write.format("noop").mode("overwrite").save(),
    )
    m["parse.stage_s"] = tr.seconds("parse.stage")

    table = _read_tokens(path)
    n = table.num_rows
    sample = table.take(
        pa.array(np.linspace(0, n - 1, min(n, KERNEL_SAMPLE)).astype(np.int64))
    ).combine_chunks().to_batches()[0]
    year, tz = C.DEFAULT_REFERENCE_YEAR, C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS
    parse_record_batch(sample, year, tz, False)
    kernel = []
    for _ in range(3):
        t0 = time.monotonic()
        parse_record_batch(sample, year, tz, False)
        kernel.append(time.monotonic() - t0)
    m["parse.kernel_rows_per_s"] = sample.num_rows / statistics.median(kernel)
    # stage time beyond a perfectly parallel kernel: scan, ship and stalls
    m["sources.feed_s"] = m["parse.stage_s"] - n / (
        m["parse.kernel_rows_per_s"] * cores
    )
    return m


def _oracle_share(path: str) -> tuple[float, float]:
    """(share of rows the parse kernel hands to the per-row oracle, seconds
    the oracle takes over them in-process): rows the public fast parsers
    decline plus every non-ASCII row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from syslog_spark import constants as C
    from syslog_spark import oracle
    from syslog_spark.operators import fastpath
    from syslog_spark.operators.parse import detokenize_array

    year, tz = C.DEFAULT_REFERENCE_YEAR, C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS
    table = _read_tokens(path)
    lines = detokenize_array(table.column("tokens").combine_chunks())
    fmts = np.array([s.split("/", 1)[0] for s in table.column("source").to_pylist()])
    ascii_ok = ~pc.fill_null(
        pc.match_substring_regex(lines, r"[^\x01-\x7f]"), True
    ).to_numpy(zero_copy_only=False)
    declined = np.flatnonzero(~ascii_ok).tolist()
    for fmt, parser in fastpath.FAST_PARSERS.items():
        idx = np.flatnonzero((fmts == fmt) & ascii_ok)
        if idx.size:
            res = parser(lines.take(pa.array(idx)), year, tz)
            declined.extend(idx[res["slow"]].tolist())
    rows = [(lines[i].as_py() or "", fmts[i]) for i in declined]
    t0 = time.monotonic()
    for line, fmt in rows:
        oracle.parse_message(line, fmt, year, tz)
    return len(rows) / table.num_rows, time.monotonic() - t0


# --- workloads -------------------------------------------------------------------


class Pipeline:
    """run_pipeline over a fresh output dir."""

    def __init__(self, spark, cfg):
        self.spark, self.cfg = spark, cfg
        self.ref = cfg["ref"]
        self.path = os.path.join(cfg["input"], "tokens")
        self.out_root = os.path.join(cfg["scratch"], "out")
        self.rows = self.ref["rows"]
        self.k = 0
        self.manifest = None
        self.out_bytes = []

    def before(self):
        self.out = os.path.join(self.out_root, f"run{self.k}")
        self.k += 1
        shutil.rmtree(self.out, ignore_errors=True)

    def iteration(self):
        from syslog_spark import run_pipeline

        return run_pipeline(self.spark, self.path, self.out)

    def _manifest(self, out):
        from syslog_spark.operators.route import read_local_table

        return sorted(
            [r["sink_severity"], r["source"], r["rows"], r["row_set_checksum"]]
            for r in read_local_table(os.path.join(out, "manifest"))
        )

    def check(self, r) -> list[str]:
        probs = []
        if r["routed_rows"] + r["error_rows"] != self.rows:
            probs.append(
                f"routed {r['routed_rows']} + errors {r['error_rows']} != "
                f"{self.rows} input rows"
            )
        man = self._manifest(self.out)
        if [x[:3] for x in man] != self.ref["sinks"]:
            probs.append("per-sink counts differ from the oracle's")
        if self.manifest is None:
            self.manifest = man
            saved = os.path.join(self.cfg["input"], "manifest.json")
            if os.path.exists(saved):
                with open(saved) as f:
                    if json.load(f) != man:
                        probs.append("manifest differs from an earlier run of this seed")
            else:
                with open(saved, "w") as f:
                    json.dump(man, f)
        elif man != self.manifest:
            probs.append("manifest checksums differ between iterations")
        self.out_bytes.append(_dir_bytes(self.out))
        shutil.rmtree(self.out, ignore_errors=True)
        return probs

    def trace(self, tr: Tracer, ev_out: dict) -> tuple[dict, list[str]]:
        from syslog_spark import run_pipeline
        from syslog_spark.operators.route import route_write
        from syslog_spark.plans.pipeline import PipelineConfig, parsed_frame

        cores = self.cfg["cores"]
        m = _parse_stage(tr, self.spark, self.path, cores)
        m["parse.oracle_share"], m["parse.oracle_s"] = _oracle_share(self.path)
        tr.call(
            "enrich",
            lambda: parsed_frame(self.spark, self.path)
            .write.format("noop").mode("overwrite").save(),
        )
        m["enrich.s"] = tr.seconds("enrich") - m["parse.stage_s"]

        out = os.path.join(self.out_root, "route_call")
        shutil.rmtree(out, ignore_errors=True)
        info = tr.call(
            "route.call", route_write, parsed_frame(self.spark, self.path),
            out, self.spark,
        )
        m["route.call_s"] = tr.seconds("route.call")
        m["aggregate.manifest_s"] = info["stage_seconds"]["manifest_metrics"]
        ev_out["route.call"] = info["stage_seconds"]["parse_route_write"]
        m["route.files_written"] = _dir_bytes(os.path.join(out, "routed"))[1]
        m["route.out_bytes"] = statistics.median(b for b, _ in self.out_bytes)
        m["route.out_bytes_per_in_byte"] = (
            m["route.out_bytes"] / self.ref["token_bytes"]
        )
        shutil.rmtree(out, ignore_errors=True)

        # the resume path: a partial run over half the sources, then resume
        half = self.ref["sources"][: len(self.ref["sources"]) // 2]
        out = os.path.join(self.out_root, "resume")
        shutil.rmtree(out, ignore_errors=True)
        tr.call(
            "route.resume_prep", run_pipeline, self.spark, self.path, out,
            PipelineConfig(source_prefixes=half),
        )
        r = tr.call(
            "route.resume", run_pipeline, self.spark, self.path, out,
            PipelineConfig(resume=True),
        )
        m["route.resume_s"] = tr.seconds("route.resume")
        m["route.skipped_sinks"] = r["skipped_sinks"]
        probs = []
        want = sum(1 for _, src, _ in self.ref["sinks"] if src in half)
        if r["skipped_sinks"] != want:
            probs.append(f"resume skipped {r['skipped_sinks']} sinks, expected {want}")
        if self._manifest(out) != self.manifest:
            probs.append("cumulative resume manifest differs from the fresh run's")
        shutil.rmtree(out, ignore_errors=True)

        relay, relay_probs = Relay(self.spark, self.cfg["relay"]).layers(tr)
        m.update(relay)
        return m, probs + relay_probs


class Relay:
    """parse_tokens_direct(keep_raw) -> with_canonical -> roundtrip count,
    the reference's Message.Bytes relay, over the seed's UTF-8 table."""

    def __init__(self, spark, relay_cfg):
        self.spark = spark
        self.ref = relay_cfg["ref"]
        self.path = os.path.join(relay_cfg["input"], "tokens")

    def parsed(self):
        from syslog_spark.sources.direct import parse_tokens_direct

        return parse_tokens_direct(self.spark, self.path, keep_raw=True)

    def query(self):
        from pyspark.sql import functions as F

        from syslog_spark.operators.serialize import with_canonical

        return with_canonical(self.parsed()).select(
            F.count(F.lit(1)).alias("n"),
            F.count("canonical").alias("n_canonical"),
            F.count(F.when(F.col("canonical") == F.col("raw"), 1)).alias(
                "n_roundtrip"
            ),
        )

    def layers(self, tr: Tracer) -> tuple[dict, list[str]]:
        from pyspark.sql import functions as F

        from syslog_spark.operators.serialize import needs_unicode_quote

        want = {
            "n": self.ref["rows"],
            "n_canonical": self.ref["n_canonical"],
            "n_roundtrip": self.ref["n_roundtrip"],
        }
        probs = []
        tr.call("relay.warmup", lambda: self.query().collect())
        with_, without = [], []
        for _ in range(2):
            got = tr.call("relay.with", lambda: self.query().collect()[0].asDict())
            with_.append(tr.seconds("relay.with"))
            if got != want:
                probs.append(f"relay counts {got} != oracle {want}")
            tr.call(
                "relay.without",
                lambda: self.parsed()
                .select(F.count(F.lit(1)), F.count("raw")).collect(),
            )
            without.append(tr.seconds("relay.without"))
        m = {
            "relay.rows_per_s": self.ref["rows"] / statistics.median(with_),
            "relay.parse_s": statistics.median(without),
            "serialize.s": statistics.median(with_) - statistics.median(without),
        }
        m["serialize.pandas_rows"] = tr.call(
            "serialize.pandas_rows",
            lambda: self.parsed().filter(needs_unicode_quote()).count(),
        )
        plan = self.query()._jdf.queryExecution().executedPlan().toString()
        m["serialize.python_stages"] = sum(plan.count(k) for k in PY_EVAL_NODES)
        m["relay.oracle_share"], m["relay.oracle_s"] = _oracle_share(self.path)
        return m, probs


class Neardup:
    """near_duplicates_minhash -> dedupe_by_components -> kept doc ids."""

    def __init__(self, spark, cfg):
        self.spark, self.cfg = spark, cfg
        self.ref = cfg["ref"]
        self.path = os.path.join(cfg["input"], "documents.parquet")
        self.rows = self.ref["rows"]
        self.kept = None
        self.pairs = set()

    def before(self):
        pass

    def docs(self):
        return self.spark.read.parquet(self.path)

    def pair_frame(self, docs=None):
        from syslog_spark.operators.dedup import near_duplicates_minhash

        return near_duplicates_minhash(docs or self.docs(), **DEDUP)

    def iteration(self):
        from syslog_spark.operators.dedup import dedupe_by_components

        docs = self.docs()
        kept = dedupe_by_components(docs, self.pair_frame(docs))
        return sorted(r[0] for r in kept.select("doc_id").collect())

    def pairs_call(self):
        return [(int(r["a"]), int(r["b"])) for r in self.pair_frame().collect()]

    def check_pairs(self, pairs) -> list[str]:
        """Every emitted pair is a true pair. Also derives the kept ids the
        timed calls must return: all docs minus the non-minimal members
        of each component of the emitted pair graph."""
        with open(os.path.join(self.cfg["input"], "true_pairs.json")) as f:
            true = {tuple(p) for p in json.load(f)}
        got = {(min(a, b), max(a, b)) for a, b in pairs}
        self.pairs = got
        self.pair_recall = len(got & true) / len(true) if true else 1.0
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in got:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        drop = {x for p in got for x in p if find(x) != x}
        self.kept = sorted(set(range(self.rows)) - drop)
        false = got - true
        return [f"{len(false)} emitted pairs are not true pairs"] if false else []

    def check(self, kept) -> list[str]:
        if self.kept is None:
            return ["no verified pair set to check the kept ids against"]
        if kept != self.kept:
            return ["kept doc ids differ from the components of the emitted pairs"]
        return []

    def trace(self, tr: Tracer, ev_out: dict) -> tuple[dict, list[str]]:
        from syslog_spark.operators.dedup import (
            lsh_bucket_stats, minhash_lsh_candidates,
        )

        m = {}
        tr.call("dedup.pairs", self.pairs_call)
        m["dedup.pairs_s"] = tr.seconds("dedup.pairs")
        m["dedup.components_s"] = ev_out["iter_median_s"] - m["dedup.pairs_s"]
        m["dedup.pairs_out"] = len(self.pairs)
        cands = tr.call(
            "dedup.lsh_candidates",
            lambda: minhash_lsh_candidates(
                self.docs(), n_hashes=DEDUP["n_hashes"], bands=DEDUP["bands"]
            ).count(),
        )
        m["dedup.lsh_candidates"] = cands
        m["dedup.pair_yield"] = len(self.pairs) / cands if cands else 0.0
        sizes = [
            r["bucket_size"]
            for r in tr.call(
                "dedup.bucket_stats",
                lambda: lsh_bucket_stats(
                    self.docs(), n_hashes=DEDUP["n_hashes"], bands=DEDUP["bands"]
                ).select("bucket_size").collect(),
            )
        ]
        over = [s for s in sizes if s > MAX_BUCKET]
        m["dedup.bucket_max"] = max(sizes, default=0)
        m["dedup.truncated_buckets"] = len(over)
        cap_pairs = MAX_BUCKET * (MAX_BUCKET - 1) // 2
        m["dedup.pairs_over_cap"] = sum(s * (s - 1) // 2 - cap_pairs for s in over)
        m["dedup.pair_recall"] = self.pair_recall
        return m, []


WORKLOADS = {"pipeline": Pipeline, "neardup": Neardup}


# --- the run -----------------------------------------------------------------------


def run(cfg: dict) -> dict:
    sys.path.insert(0, cfg["root"])
    from syslog_spark import build_session

    name, trace = cfg["workload"], cfg["trace"]
    extra = None
    if trace:
        os.makedirs(cfg["events"], exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + cfg["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.monotonic()
    spark = build_session(master=f"local[{cfg['cores']}]", extra_conf=extra)
    build_s = time.monotonic() - t0
    tr = Tracer(spark)
    wl = WORKLOADS[name](spark, cfg)
    res = {"attempted": 0, "failed": 0, "problems": [], "iter_s": [],
           "rows": wl.rows, "build_s": build_s}

    def attempt(label, call=wl.iteration, check=wl.check):
        wl.before()
        res["attempted"] += 1
        t = time.monotonic()
        try:
            out = tr.call(label, call)
        except Exception as e:  # a failed call counts, the loop goes on
            res["failed"] += 1
            res["problems"].append(f"{label}: {type(e).__name__}: {e}"[:500])
            return None
        dt = time.monotonic() - t
        probs = check(out)
        if probs:
            res["failed"] += 1
            res["problems"].extend(f"{label}: {p}" for p in probs)
        return dt

    # the warm-up is the workload's own call; neardup warms up on the
    # pair call and verifies those pairs, so no extra call is needed
    if name == "neardup":
        warm = attempt(f"{name}.warmup", wl.pairs_call, wl.check_pairs)
    else:
        warm = attempt(f"{name}.warmup")
    res["warmup_s"] = warm if warm is not None else time.monotonic() - t0 - build_s
    res["setup_s"] = build_s + res["warmup_s"]
    loop0 = time.monotonic()
    k = 0
    while time.monotonic() - loop0 < cfg["seconds"] or not res["iter_s"]:
        dt = attempt(f"{name}.iter.{k}")
        k += 1
        if dt is not None:
            res["iter_s"].append(dt)
        elif res["failed"] >= 3 and not res["iter_s"]:
            break
    if hasattr(wl, "pair_recall"):
        res["pair_recall"] = wl.pair_recall
    if hasattr(wl, "out_bytes") and wl.out_bytes:
        res["out_bytes"] = statistics.median(b for b, _ in wl.out_bytes)

    if trace and res["iter_s"]:
        ev_out = {"iter_median_s": statistics.median(res["iter_s"])}
        try:
            per_layer, probs = wl.trace(tr, ev_out)
        except Exception as e:  # a failed traced call fails the run
            per_layer = {}
            probs = [f"traced calls: {type(e).__name__}: {e}"[:500]]
        if probs:
            res["failed"] += 1
            res["attempted"] += 1
            res["problems"].extend(probs)
        res["layers"] = per_layer
    res["spans"] = tr.spans
    spark.stop()
    if "layers" in res:
        res["layers"].update(event_metrics(cfg, res, ev_out))
    return res


def event_metrics(cfg: dict, res: dict, ev_out: dict) -> dict:
    """Per-layer figures from Spark's event log, joined to the spans."""
    import eventlog as E

    logs = [os.path.join(cfg["events"], f) for f in os.listdir(cfg["events"])]
    log = E.read(max(logs, key=os.path.getmtime))
    spans = {s["name"]: s for s in res["spans"]}
    iters = [s for s in res["spans"] if ".iter." in s["name"]]
    m = {}
    drv, njobs, it_tot = [], [], []
    for s in iters:
        jobs = [j for j in log.labelled(s["name"]) if j.description == s["name"]]
        drv.append(s["seconds"] - E.covered_s(jobs, s["start"] * 1e3, s["end"] * 1e3))
        njobs.append(len(jobs))
        it_tot.append(E.totals(jobs))
    n = len(iters)
    m["plans.driver_s"] = statistics.median(drv)
    m["plans.jobs"] = statistics.median(njobs)
    wall = sum(s["seconds"] for s in iters)
    m["spark.cpu_busy_share"] = sum(t["cpu_s"] for t in it_tot) / (wall * cfg["cores"])
    m["spark.gc_s"] = sum(t["gc_s"] for t in it_tot) / n
    m["spark.tasks"] = sum(t["tasks"] for t in it_tot) / n
    m["spark.task_failures"] = E.totals(list(log.jobs.values()))["task_failures"]
    if "parse.stage" in spans:
        m["parse.task_skew"] = E.skew(E.widest_stage(log.labelled("parse.stage")))
    if "route.call" in ev_out:
        jobs = log.labelled("route.call")
        cut = (spans["route.call"]["start"] + ev_out["route.call"]) * 1e3
        write = [j for j in jobs if j.start_ms <= cut]
        stages = E.stage_tasks(write)
        last = stages[max(stages)] if stages else []
        m["route.write_stage_s"] = E.stage_span_s(last)
        m["route.write_task_skew"] = E.skew(last)
        t = E.totals(write)
        m["route.shuffle_write_bytes"] = t["shuffle_write_bytes"]
        m["route.spill_bytes"] = t["spill_bytes"]
        m["aggregate.scan_bytes"] = E.totals(
            [j for j in jobs if j.start_ms > cut]
        )["bytes_read"]
    if cfg["workload"] == "neardup":
        m["dedup.shuffle_write_bytes"] = statistics.median(
            t["shuffle_write_bytes"] for t in it_tot
        )
        m["dedup.spill_bytes"] = statistics.median(t["spill_bytes"] for t in it_tot)
    return m


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    res = run(cfg)
    with open(cfg["result"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
