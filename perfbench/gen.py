"""Seeded input generators and independent reference answers.

Every input is a pure function of (workload, seed, size). Syslog lines
come from the package's public ``syslog_spark.sources.datagen`` functions
(``synth_lines``, ``lines_to_token_batch``, ``generate_string``); the
reference answers come from ``syslog_spark.oracle`` (the per-row spec) and
DuckDB, never from the Spark code paths under test. Both are cached under
the benchmark's work dir, keyed by (workload, seed, size).
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from multiprocessing import get_context
from urllib.parse import quote

import numpy as np
import pandas as pd

# rows per generated parquet file: several files per source, so the
# direct source deals a few balanced tasks to every core
FILE_ROWS = 8192
# index stride between seeds: seed s reads synth_lines rows
# [s * STRIDE, s * STRIDE + n), disjoint for every size used here
STRIDE = 10_000_019
# share of well-formed RFC 5424 rows rewritten to non-ASCII for relay_utf8
UTF8_SHARE = 0.20
# neardup corpus shape
HOT_MEMBERS = 500  # 2.5x the 200-id LSH bucket window
SMALL_CLUSTER = 3
GEN_PROCS = 4
CACHE_KEEP = 12


def _fmt(source: str) -> str:
    return source.split("/", 1)[0]


# --- token tables -------------------------------------------------------------


def _lines_chunk(args):
    start, n = args
    from syslog_spark.sources.datagen import synth_lines

    lines, source = synth_lines(np.arange(start, start + n, dtype=np.int64))
    return lines.tolist(), source.tolist()


def synth(seed: int, n: int) -> tuple[list[str], list[str]]:
    """The n synth_lines rows of this seed, generated in GEN_PROCS slices."""
    base = seed * STRIDE
    step = -(-n // GEN_PROCS)
    parts = [(base + i, min(step, n - i)) for i in range(0, n, step)]
    with get_context("fork").Pool(len(parts)) as pool:
        out = pool.map(_lines_chunk, parts)
    lines = [x for ls, _ in out for x in ls]
    sources = [x for _, ss in out for x in ss]
    return lines, sources


def utf8_rewrite(seed: int, lines: list[str], sources: list[str]) -> list[str]:
    """Rewrite ~UTF8_SHARE of the well-formed RFC 5424 rows: a non-ASCII
    SD param value and a BOM-prefixed MSG (the oracle-fallback and
    pandas-serializer paths)."""
    rng = np.random.default_rng(seed)
    values = ("grüße", "naïve", "日本語", "Ωmega", "café☕")
    out = list(lines)
    for i, (line, src) in enumerate(zip(lines, sources)):
        if not src.startswith("rfc5424/") or '[meta status="' not in line:
            continue
        if rng.random() >= UTF8_SHARE:
            continue
        v = values[int(rng.integers(len(values)))]
        head, tail = line.split('"] ', 1)
        head = head.replace('status="', f'status="{v}', 1)
        out[i] = f'{head}"] \ufeff{tail}'
    return out


def write_tokens(path: str, lines: list[str], sources: list[str], seed: int):
    """Hive ``source=``-partitioned token table, FILE_ROWS rows per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from syslog_spark.sources.datagen import lines_to_token_batch

    shutil.rmtree(path, ignore_errors=True)
    df = pd.DataFrame({"line": lines, "source": sources})
    df["doc_id"] = [f"doc-{seed:04d}-{i:08d}" for i in range(len(df))]
    for src, g in df.groupby("source", sort=True):
        d = os.path.join(path, "source=" + quote(src, safe=""))
        os.makedirs(d)
        for j in range(0, len(g), FILE_ROWS):
            part = g.iloc[j:j + FILE_ROWS]
            rb = lines_to_token_batch(
                part["doc_id"].reset_index(drop=True),
                part["line"].reset_index(drop=True),
                part["source"].reset_index(drop=True),
            )
            t = pa.Table.from_batches([rb]).drop_columns(["source"])
            pq.write_table(t, os.path.join(d, f"part-{j // FILE_ROWS:05d}.parquet"))


# --- references (syslog_spark.oracle, per row) -------------------------------


def _oracle_sinks(args):
    from syslog_spark import oracle

    lines, sources = args
    c = Counter()
    for line, src in zip(lines, sources):
        res = oracle.parse_message(line, _fmt(src))
        sev = -1 if res.msg is None else res.msg.severity
        c[(sev, src)] += 1
    return c


def _oracle_relay(args):
    from syslog_spark import oracle

    lines, sources = args
    n_canonical = n_roundtrip = 0
    for line, src in zip(lines, sources):
        res = oracle.parse_message(line, _fmt(src))
        if res.msg is None:
            continue
        n_canonical += 1
        n_roundtrip += oracle.serialize(res.msg) == line
    return n_canonical, n_roundtrip


def _parallel(fn, lines, sources):
    step = -(-len(lines) // GEN_PROCS)
    parts = [
        (lines[i:i + step], sources[i:i + step])
        for i in range(0, len(lines), step)
    ]
    with get_context("fork").Pool(len(parts)) as pool:
        return pool.map(fn, parts)


def pipeline_input(dirpath: str, seed: int, n: int) -> dict:
    lines, sources = synth(seed, n)
    write_tokens(os.path.join(dirpath, "tokens"), lines, sources, seed)
    sinks = Counter()
    for c in _parallel(_oracle_sinks, lines, sources):
        sinks.update(c)
    return {
        "rows": n,
        "token_bytes": sum(len(x.encode()) for x in lines),
        "sources": sorted(set(sources)),
        "sinks": sorted([s, src, k] for (s, src), k in sinks.items()),
    }


def relay_input(dirpath: str, seed: int, n: int) -> dict:
    lines, sources = synth(seed, n)
    lines = utf8_rewrite(seed, lines, sources)
    write_tokens(os.path.join(dirpath, "tokens"), lines, sources, seed)
    n_can = n_rt = 0
    for a, b in _parallel(_oracle_relay, lines, sources):
        n_can += a
        n_rt += b
    return {
        "rows": n,
        "token_bytes": sum(len(x.encode()) for x in lines),
        "non_ascii_rows": sum(not x.isascii() for x in lines),
        "n_canonical": n_can,
        "n_roundtrip": n_rt,
    }


# --- neardup corpus -------------------------------------------------------------


def documents(seed: int, n: int) -> pd.DataFrame:
    """(doc_id, text): mostly unique word salads, small near-dup clusters
    (one word changed per member) and one templated hot cluster of
    HOT_MEMBERS docs that differ only in a trailing counter."""
    from syslog_spark.sources.datagen import generate_string, synth_lines

    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, int(rng.integers(4, 9))))
        for _ in range(4000)
    ]

    def salad():
        return " ".join(
            vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(10, 18)))
        )

    texts = []
    n_small = (n - HOT_MEMBERS) // 10  # ~10% of docs sit in small clusters
    while len(texts) < n_small:
        words = salad().split()
        texts.append(" ".join(words))
        for _ in range(SMALL_CLUSTER - 1):
            w = list(words)
            w[int(rng.integers(len(w)))] = vocab[int(rng.integers(len(vocab)))]
            texts.append(" ".join(w))
    line, _ = synth_lines(np.array([seed * STRIDE], dtype=np.int64))
    template = line[0][:40] + " " + generate_string("tpl", 8)
    texts += [f"{template} {i:04d}" for i in range(HOT_MEMBERS)]
    while len(texts) < n:
        texts.append(salad())
    texts = texts[:n]
    order = rng.permutation(n)
    return pd.DataFrame(
        {"doc_id": np.arange(n, dtype=np.int64), "text": [texts[i] for i in order]}
    )


def true_pairs(doc_path: str) -> list[tuple[int, int]]:
    """Exact all-pairs 5-char-shingle Jaccard >= 0.7, in the formulation of
    ``oracle_sql()["minhash_neardup"]`` in __spark_entry__.py (inverted
    index self-join)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {GEN_PROCS}")
    con.execute(f"SET temp_directory = '{os.path.dirname(doc_path)}/duckdb_tmp'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{doc_path}')"
    )
    return con.sql("""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(text)-4, 1)),
                   i -> substring(text, i, 5))) AS s
          FROM documents
        ), sz AS (
          SELECT doc_id, len(s) AS n FROM sh
        ), ex AS (
          SELECT doc_id, unnest(s) AS g FROM sh
        ), common AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
          FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
          GROUP BY 1, 2
        )
        SELECT a, b FROM common
        JOIN sz sa ON sa.doc_id = a
        JOIN sz sb ON sb.doc_id = b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
        ORDER BY a, b""").fetchall()


def neardup_input(dirpath: str, seed: int, n: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = documents(seed, n)
    path = os.path.join(dirpath, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), path)
    pairs = true_pairs(path)
    with open(os.path.join(dirpath, "true_pairs.json"), "w") as f:
        json.dump(pairs, f)
    return {
        "rows": n,
        "hot_members": HOT_MEMBERS,
        "true_pairs": len(pairs),
    }


BUILDERS = {
    "pipeline": pipeline_input,
    "relay_utf8": relay_input,
    "neardup": neardup_input,
}


def prepare(cache_root: str, workload: str, seed: int, n: int) -> tuple[str, dict]:
    """(input dir, reference dict) for this (workload, seed, size), built
    once and reused from the cache afterwards."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-n{n}")
    ref_path = os.path.join(d, "ref.json")
    if os.path.exists(ref_path):
        os.utime(d)
        with open(ref_path) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ref = BUILDERS[workload](tmp, seed, n)
    with open(os.path.join(tmp, "ref.json"), "w") as f:
        json.dump(ref, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    _prune(cache_root)
    return d, ref


def _prune(cache_root: str):
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, e)), e)
        for e in os.listdir(cache_root)
    )
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)
