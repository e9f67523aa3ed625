"""Same-box benchmark for syslog_spark.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's seeded input
(cached by workload, seed and size under perfbench/.work), runs one child
process with a fresh JVM on ``local[<cores>]``, samples the peak resident
memory of the child's whole process tree from /proc, checks every output
against an independent reference, and prints one JSON result as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SIZES = {"pipeline": 60_000, "neardup": 1_500}
RELAY_ROWS = 40_000  # the UTF-8 table of the pipeline's traced run
RUN_LIMIT_S = 170  # the whole run, input generation included
PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def _proc_tree(root: int) -> dict[int, int]:
    """{pid: resident bytes} for ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1]) * PAGE
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = resident
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in rss:
            out[p] = rss[p]
        todo.extend(children.get(p, []))
    return out


def run_child(cfg: dict, timeout_s: float) -> tuple[dict | None, float, str]:
    """(result or None, peak tree RSS in MB, error) of one child run."""
    run_dir = cfg["scratch"]
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("MASTER", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                     "SYSLOG_SPARK_PARSE_TIMING", "PYSPARK_GATEWAY_PORT",
                     "PYSPARK_GATEWAY_SECRET")
    }
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join([HERE, ROOT]),
    })
    # become the subreaper of the child's processes, so the JVM and the
    # Python workers it leaves behind are re-parented here and reaped below
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    log = open(os.path.join(run_dir, "child.log"), "w")
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), cfg_path],
        stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir,
        start_new_session=True,
    )
    peak, err = 0, ""
    deadline = time.monotonic() + timeout_s
    while p.poll() is None:
        peak = max(peak, sum(_proc_tree(p.pid).values()))
        if time.monotonic() > deadline:
            err = f"timed out after {timeout_s:.0f} s"
            os.killpg(p.pid, signal.SIGKILL)
            break
        time.sleep(0.1)
    p.wait()
    log.close()
    # the JVM and the Python workers end when the child does: reap each,
    # and kill what is still running after 10 s
    kill_at = time.monotonic() + 10
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            if time.monotonic() > kill_at:
                for q in _proc_tree(os.getpid()):
                    if q != os.getpid():
                        try:
                            os.kill(q, signal.SIGKILL)
                        except ProcessLookupError:
                            pass
            time.sleep(0.1)
    # build_session zips the package to a fixed /tmp path named by pid
    for z in glob.glob(f"/tmp/syslog_spark_pkg_*_{p.pid}.zip"):
        os.remove(z)
    res = None
    if not err and p.returncode == 0 and os.path.exists(cfg["result"]):
        with open(cfg["result"]) as f:
            res = json.load(f)
    elif not err:
        err = f"child exited with code {p.returncode}"
    if res is None:
        with open(os.path.join(run_dir, "child.log")) as f:
            sys.stderr.write(f.read()[-4000:])
    return res, peak / 2**20, err


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "syslog_spark", "__init__.py")):
        print(f"syslog_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    import gen

    wl = args.workload
    n = SIZES[wl]
    os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)
    input_dir, ref = gen.prepare(os.path.join(WORK, "cache"), wl, args.seed, n)
    cores = len(os.sched_getaffinity(0))
    relay = None
    if args.trace and wl == "pipeline":
        relay_dir, relay_ref = gen.prepare(
            os.path.join(WORK, "cache"), "relay_utf8", args.seed, RELAY_ROWS
        )
        relay = {"input": relay_dir, "ref": relay_ref}

    def child(trace: bool):
        scratch = os.path.join(WORK, "run")
        shutil.rmtree(scratch, ignore_errors=True)
        cfg = {
            "root": ROOT, "workload": wl, "input": input_dir, "ref": ref,
            "seconds": args.seconds, "trace": trace, "cores": cores,
            "scratch": scratch, "events": os.path.join(scratch, "events"),
            "result": os.path.join(scratch, "result.json"), "relay": relay,
        }
        limit = RUN_LIMIT_S - (time.monotonic() - t_start)
        out = run_child(cfg, limit)
        return out

    last_path = os.path.join(WORK, f"last_{wl}.json")
    untraced = None
    if args.trace and os.path.exists(last_path):
        with open(last_path) as f:
            untraced = json.load(f)
    if not args.trace or untraced is None:
        res, peak_mb, err = child(False)
        if res is None:
            print(f"run failed: {err}", file=sys.stderr)
            return 1
        if res["iter_s"]:
            untraced = {"iter_median_s": statistics.median(res["iter_s"])}
            with open(last_path, "w") as f:
                json.dump(untraced, f)
    if args.trace and untraced is not None:
        res, peak_mb, err = child(True)
        if res is None:
            print(f"traced run failed: {err}", file=sys.stderr)
            return 1

    attempted, failed = res["attempted"], res["failed"]
    for p in res["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    if not res["iter_s"]:
        print("no timed call succeeded", file=sys.stderr)
        return 1
    iter_med = statistics.median(res["iter_s"])
    summary = {
        "setup_s": (res["setup_s"], "s"),
        "rows_per_s": (res["rows"] / iter_med, "rows/s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "failed_share": (failed / attempted, "ratio"),
    }
    if "out_bytes" in res:
        summary["out_bytes_per_in_byte"] = (
            res["out_bytes"] / ref["token_bytes"], "ratio"
        )
    if "pair_recall" in res:
        summary["pair_recall"] = (res["pair_recall"], "ratio")

    if args.trace:
        layers = dict(res["layers"])
        layers["session.build_s"] = res["build_s"]
        layers["session.warmup_s"] = res["warmup_s"]
        layers["memory.peak_rss_mb"] = peak_mb
        layers["trace.overhead_share"] = iter_med / untraced["iter_median_s"] - 1
        wanted = spec["per_layer"]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(
            WORK, "traces", f"{wl}-s{args.seed}-{int(time.time())}.json"
        ), "w") as f:
            json.dump({"workload": wl, "seed": args.seed, "rows": n,
                       "layers": layers, "spans": res["spans"],
                       "problems": res["problems"]}, f, indent=1)
        values = {m["name"]: float(layers.get(m["name"], 0.0)) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: float(summary[m["name"]][0]) for m in wanted}
    print(json.dumps({
        "workload": wl, "seed": args.seed, "input_rows": n,
        "iterations": len(res["iter_s"]), "iter_s": res["iter_s"],
        "run_wall_s": time.monotonic() - t_start,
        "summary": {k: {"value": v, "unit": u} for k, (v, u) in summary.items()},
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
