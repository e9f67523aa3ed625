"""Deterministic token-table generation (seed-free pure functions).

:func:`write_token_table` is a scalable *distributed* generator for
bench/scale runs: ``spark.range(n)`` -> mapInArrow, each row's content a
pure function of its index (no RNG state, so any partitioning of the
range yields the same table). Facility distribution is deliberately
skewed (hot facility = Local7) to exercise skew handling, per FIXTURES.md §2.
The reference's own test inputs live in ``tests/reference_corpus.py``.

Tokenization: token id i == byte value i (FIXTURES.md §1); encoding is the
exact inverse of operators/parse.detokenize_array.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from .. import constants as C

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def generate_string(prefix: str, length: int) -> str:
    """Mirror of the reference test helper (syslog_test.go:592-598)."""
    s = prefix
    while len(s) < length:
        s += ALPHA
    return s[:length]


# --- tokenization -------------------------------------------------------------


def lines_to_token_batch(
    doc_ids: pd.Series, lines: pd.Series, sources: pd.Series
) -> pa.RecordBatch:
    """Vectorized inverse of detokenize: strings -> list<int32> token arrays."""
    encoded = lines.str.encode("utf-8")
    data = b"".join(encoded)  # C-level join
    lengths = encoded.str.len().to_numpy(np.int64)
    offsets = np.zeros(len(lines) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), type=pa.int32()),
        pa.array(values, type=pa.int32()),
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, type=pa.string()),
            tokens,
            pa.array(lengths.astype(np.int32), type=pa.int32()),
            pa.array(sources, type=pa.string()),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )


# --- scalable synthetic generator ---------------------------------------------

_HOSTS = np.array([f"host{i:03d}" for i in range(64)])
_APPS = np.array(["nginx", "sshd", "kernel", "app", "cron", "systemd"])
_WORDS = np.array(
    "request failed accepted closed refused timeout retry open read "
    "write connect disconnect auth denied granted".split()
)


def synth_lines(idx: np.ndarray, ref_year: int = C.DEFAULT_REFERENCE_YEAR):
    """Pure-function line synthesis for a vector of global row indices.

    Deterministic (content = f(idx)); Zipf-skewed facility (~55% Local7) to
    make the severity/source aggregation keys hot, per FIXTURES.md §2.
    ~1.5%% of rows are malformed to exercise the error sink.
    """
    n = len(idx)
    h = (idx * np.int64(2654435761)) & 0x7FFFFFFF
    # skew: 55% facility 23, rest spread
    fac = np.where(h % 100 < 55, 23, (h // 100) % 24)
    sev = (h // 7) % 8
    pri = fac * 8 + sev
    host = _HOSTS[h % len(_HOSTS)]
    app = _APPS[(h // 11) % len(_APPS)]
    word = _WORDS[(h // 13) % len(_WORDS)]
    month = np.array(C.MONTH_NAMES)[(h // 17) % 12]
    day = (h // 19) % 28 + 1
    hour, minute, sec = (h // 23) % 24, (h // 29) % 60, (h // 31) % 60
    fmt_pick = h % 10  # 0-5 rfc5424, 6-8 access, 9 error
    status = 200 + (h // 37) % 300
    nbytes = (h // 41) % 5000

    pri_s = pd.Series(pri).astype(str)
    host_s = pd.Series(host)
    app_s = pd.Series(app)
    word_s = pd.Series(word)
    ts5424 = (
        f"{ref_year}-"
        + pd.Series((h // 43) % 12 + 1).astype(str).str.zfill(2)
        + "-"
        + pd.Series(day).astype(str).str.zfill(2)
        + "T"
        + pd.Series(hour).astype(str).str.zfill(2)
        + ":"
        + pd.Series(minute).astype(str).str.zfill(2)
        + ":"
        + pd.Series(sec).astype(str).str.zfill(2)
        + "+00:00"
    )
    tsng = (
        pd.Series(month)
        + " "
        + pd.Series(day).astype(str).str.rjust(2)
        + " "
        + pd.Series(hour).astype(str).str.zfill(2)
        + ":"
        + pd.Series(minute).astype(str).str.zfill(2)
        + ":"
        + pd.Series(sec).astype(str).str.zfill(2)
    )
    stat_s = pd.Series(status).astype(str)
    byt_s = pd.Series(nbytes).astype(str)

    rfc = (
        "<" + pri_s + ">1 " + ts5424 + " " + host_s + " " + app_s
        + " p" + pd.Series(h % 9973).astype(str) + " m" + pd.Series(h % 97).astype(str)
        + ' [meta status="' + stat_s + '" bytes="' + byt_s + '"] '
        + word_s + " event " + pd.Series(h % 100000).astype(str)
    )
    acc = (
        "<" + pri_s + ">" + tsng + " " + host_s + ' nginx: [request remote_addr="192.168.1.'
        + pd.Series(h % 255).astype(str) + '" status="' + stat_s
        + '" body_bytes_sent="' + byt_s + '" request_time="0.00'
        + pd.Series(h % 10).astype(str) + '"]'
    )
    err = (
        "<" + pri_s + ">" + tsng + " " + host_s + " nginx: "
        + f"{ref_year}/01/01 00:00:00 [error] " + word_s
        + " *" + pd.Series(h % 1000).astype(str)
        + ' failed, client: 192.168.1.' + pd.Series(h % 255).astype(str)
        + ', server: localhost, request: "GET /' + word_s
        + ' HTTP/1.1", host: "192.168.1.254"'
    )
    lines = rfc.where(fmt_pick <= 5, acc.where(fmt_pick <= 8, err))
    # size classes (FIXTURES.md §2): ~5% minimum, ~3% long, rest regular
    size_pick = (h // 53) % 100
    min_rfc = "<" + pri_s + "> - - - - - -"
    min_acc = "<" + pri_s + ">Jan  1 01:01:01 h a: [request]"
    minimum = min_rfc.where(pd.Series(fmt_pick <= 5), min_acc)
    is_min = pd.Series((size_pick < 5) & (fmt_pick <= 8))
    lines = lines.mask(is_min, minimum)
    long_tail = (
        ' [big blob="' + pd.Series(np.where(h % 2 == 0, ALPHA * 20, ALPHA * 40))
        + '"] long payload ' + word_s
    )
    is_long = pd.Series((size_pick >= 95) & (fmt_pick <= 5))
    lines = lines.mask(is_long, rfc + long_tail.where(is_long, ""))
    # malformed slice (~1.5%): bad priority / truncated
    bad = (h % 1000) < 15
    if bad.any():
        lines = lines.mask(
            pd.Series(bad), "<" + pd.Series(np.where(h % 2 == 0, "x>", "12")) + " truncated"
        )
    fmt = np.where(
        fmt_pick <= 5,
        C.FORMAT_RFC5424,
        np.where(fmt_pick <= 8, C.FORMAT_NGINX_ACCESS, C.FORMAT_NGINX_ERROR),
    )
    source = pd.Series(fmt) + "/h" + pd.Series((h // 3) % 4).astype(str).str.zfill(2)
    return lines, source


def make_synth_batch_fn(ref_year: int = C.DEFAULT_REFERENCE_YEAR):
    """mapInArrow fn: batches of `id` (from spark.range) -> token rows."""

    def fn(batches):
        for batch in batches:
            idx = batch.column("id").to_numpy()
            if len(idx) == 0:
                continue
            lines, source = synth_lines(idx, ref_year)
            doc_ids = "doc-" + pd.Series(idx).astype(str).str.zfill(10)
            yield lines_to_token_batch(doc_ids, lines, source)

    return fn


def generate_tokens_df(spark, n_rows: int, partitions: int = 32,
                       ref_year: int = C.DEFAULT_REFERENCE_YEAR):
    """Distributed deterministic token table (doc_id, tokens, n_tok, source)."""
    from .. operators.schema import TOKENS_SPARK_SCHEMA

    base = spark.range(0, n_rows, 1, partitions)
    return base.mapInArrow(make_synth_batch_fn(ref_year), TOKENS_SPARK_SCHEMA)


def write_token_table(spark, path: str, n_rows: int, partitions: int = 32):
    (
        generate_tokens_df(spark, n_rows, partitions)
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(path)
    )
    return path
