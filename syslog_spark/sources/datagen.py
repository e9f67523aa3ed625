"""Deterministic corpus + token-table generation (seed-free pure functions).

Two layers:

* :func:`corpus` — the reference's own test inputs, verbatim
  (syslog_test.go:31-45 and the per-operator error tables in
  parsers_test.go), used as pytest goldens. The long inputs are built with
  the reference's ``generateString`` (syslog_test.go:592-598).
* :func:`write_token_table` — a scalable *distributed* generator for
  bench/scale runs: ``spark.range(n)`` -> mapInArrow, each row's content a
  pure function of its index (no RNG state, so any partitioning of the
  range yields the same table). Facility distribution is deliberately
  skewed (hot facility = Local7) to exercise skew handling, per FIXTURES.md §2.

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


# --- reference corpus ---------------------------------------------------------

_H = generate_string("hostname", C.MAX_HOSTNAME_LEN)
_A = generate_string("appname", C.MAX_APPNAME_LEN)
_P = generate_string("procid", C.MAX_PROCID_LEN)
_M = generate_string("msgid", C.MAX_MSGID_LEN)
_D = generate_string("data", C.MAX_DATA_ID_LEN)
_D2 = generate_string("data2", C.MAX_DATA_ID_LEN)
_N = generate_string("name", C.MAX_PARAM_NAME_LEN)
_V = generate_string("value", 1024)
_N2 = generate_string("name2", C.MAX_PARAM_NAME_LEN)
_V2 = generate_string("value2", 1024)
_MSG = generate_string("message", 1024)
_CLIENT = generate_string("client", 1024)
_SERVER = generate_string("localhost", 1024)
_REQUEST = generate_string("GET / HTTP/1.1", 1024)
_HOST = generate_string("192.168.1.254", 1024)

MINIMUM_RFC5424 = "<0> - - - - - -"
REGULAR_RFC5424 = (
    '<191>10 2015-09-30T23:10:11+02:00 hostname appname procid msgid '
    '[data name="value"] message'
)
LONG_RFC5424 = (
    f'<191>99 3000-12-31T23:59:59.999999999+14:00 {_H} {_A} {_P} {_M} '
    f'[{_D} {_N}="{_V}"][{_D2} {_N}="{_V}" {_N2}="{_V2}"] {_MSG}'
)
MINIMUM_NGINX_ACCESS = "<190>Jan  1 01:01:01 h a: [request]"
REGULAR_NGINX_ACCESS = (
    '<190>Jan  1 01:01:01 hostname nginx: [request key="value" '
    'key2="value2" key3="value3" key4="value4" key4="value4" key5="value5"]'
)
LONG_NGINX_ACCESS = (
    f'<190>Dec 31 23:59:59 {_H} nginx: [request {_N}="{_V}" {_N2}="{_V2}"]'
)
MINIMUM_NGINX_ERROR = (
    "<184>Jan  1 01:01:01 h a: 0001/01/01 01:01:01 [Emergency] m, "
    "c: c, s: s, r: r, h: h"
)
REGULAR_NGINX_ERROR = (
    "<186>Jan  1 01:01:01 hostname nginx: 0001/01/01 01:01:01 [Error] "
    'message, client: 192.168.1.255, server: localhost, '
    'request: "GET / HTTP/1.1", host: "192.168.1.254"'
)
LONG_NGINX_ERROR = (
    f"<191>Dec 31 23:59:59 {_H} nginx: 2015/12/31 23:59:59 [Debug] {_MSG}, "
    f'client: {_CLIENT}, server: {_SERVER}, request: "{_REQUEST}", '
    f'host: "{_HOST}"'
)
REAL_NGINX_ACCESS_1 = (
    '<190>Oct  5 12:05:15 hostname nginx: [request body_bytes_sent="612" '
    'connection="4" connection_requests="1" http_referer="-" '
    'http_user_agent="Mozilla/5.0 (Macintosh; Intel Mac OS X 10_10_5) '
    'AppleWebKit/600.8.9 (KHTML, like Gecko) Version/8.0.8 Safari/600.8.9" '
    'http_x_forwarded_for="-" msec="1444039515.695" '
    'remote_addr="192.168.1.255" remote_user="-" request_length="451" '
    'request_time="0.000" status="200"]'
)
REAL_NGINX_ACCESS_2 = (
    '<190>Oct 13 10:06:04 hostname nginx: [request body_bytes_sent="168" '
    'bytes_sent="322" connection="32" connection_requests="1" '
    'content_length="-" content_type="-" http_accept="*/*" '
    'http_accept_encoding="-" http_accept_language="-" '
    'http_content_length="-" http_content_type="-" '
    'http_host="192.168.1.254" http_origin="-" http_referer="-" '
    'http_user_agent="curl/7.43.0" http_dnt="-" http_x_do_not_track="-" '
    'http_x_requested_with="-" http_x_forwarded_host="-" '
    'http_x_forwarded_for="-" remote_addr="192.168.1.255" '
    'remote_port="54703" request_length="81" request_method="GET" '
    'request_time="0.000" sent_http_content_encoding="-" '
    'sent_http_content_language="-" sent_http_content_length="168" '
    'sent_http_location="-" status="404"]'
)
REAL_NGINX_ACCESS_3 = (
    '<190>Oct 13 17:55:29 hostname nginx: [request body_bytes_sent="168" '
    'bytes_sent="322" connection="4" connection_requests="1" '
    'content_length="-" content_type="-" remote_addr="192.168.1.255" '
    'remote_port="51999" request_length="86" request_method="GET" '
    'request_time="0.000" request_uri="/not/found" status="404" '
    'http_accept="*/*" http_accept_encoding="-" http_accept_language="-" '
    'http_content_length="-" http_content_type="-" '
    'http_host="192.168.1.254" http_origin="-" http_referer="-" '
    'http_user_agent="curl/7.43.0" http_dnt="-" http_x_do_not_track="-" '
    'http_x_requested_with="-" http_x_forwarded_host="-" '
    'http_x_forwarded_for="-" sent_http_content_encoding="-" '
    'sent_http_content_language="-" sent_http_content_length="168" '
    'sent_http_location="-"]'
)
REAL_NGINX_ERROR_QUOTED_KEY = (
    '<187>Oct 13 12:31:40 hostname nginx: 2015/10/13 01:31:40 [error] '
    '1187#1187: *46 open() "/usr/share/nginx/html/test" failed '
    '(2: No such file or directory), client: 192.168.1.255, '
    '"server": "localhost", request: "GET /test HTTP/1.1", '
    'host: "192.168.1.254" '
)


def corpus() -> list[tuple[str, str, str]]:
    """(case_name, format, raw_line) — the golden corpus."""
    R, A, E = C.FORMAT_RFC5424, C.FORMAT_NGINX_ACCESS, C.FORMAT_NGINX_ERROR
    cases = [
        ("rfc5424/minimum", R, MINIMUM_RFC5424),
        ("rfc5424/regular", R, REGULAR_RFC5424),
        ("rfc5424/long", R, LONG_RFC5424),
        ("rfc5424/empty-data", R,
         "<191>10 2015-09-30T23:10:11+02:00 hostname appname procid msgid [data]"),
        ("rfc5424/short-fields", R,
         '<9>1 2000-01-01T01:01:01+00:00 h a p m [d n="v"] m'),
        ("rfc5424/nano-utc", R,
         '<34>1 2015-10-18T17:05:55.956934919+02:00 host app 123 ID47 - msg'),
        ("rfc5424/multi-sd-dup", R,
         '<5>2 2014-01-01T00:00:00+01:00 h a p m '
         '[b k="1"][a k="2" k="3" x="-"] tail'),
        ("rfc5424/nil-ts", R, "<99>1 - h a p m - trailing message"),
        ("rfc5424/bom-msg", R,
         "<7>1 2016-02-29T23:59:59+00:00 h a p m - \ufeff bom message "),
        ("nginx_access/minimum", A, MINIMUM_NGINX_ACCESS),
        ("nginx_access/regular", A, REGULAR_NGINX_ACCESS),
        ("nginx_access/long", A, LONG_NGINX_ACCESS),
        ("nginx_access/real-1", A, REAL_NGINX_ACCESS_1),
        ("nginx_access/real-2", A, REAL_NGINX_ACCESS_2),
        ("nginx_access/real-3", A, REAL_NGINX_ACCESS_3),
        ("nginx_error/minimum", E, MINIMUM_NGINX_ERROR),
        ("nginx_error/regular", E, REGULAR_NGINX_ERROR),
        ("nginx_error/long", E, LONG_NGINX_ERROR),
        ("nginx_error/quoted-key", E, REAL_NGINX_ERROR_QUOTED_KEY),
        ("nginx_error/escaped-value", E,
         '<188>Jan  1 01:01:01 h a: 0001/01/01 01:01:01 [Warning] m, '
         'a: a, d: "\\"d\\""'),
        ("nginx_error/no-comma-msg", E,
         "<184>Jan  1 01:01:01 h a: 0001/01/01 01:01:01 [Emergency] "
         "message without comma"),
        ("nginx_error/dangling-pair", E,
         "<184>Jan  1 01:01:01 h a: 0001/01/01 01:01:01 [Emergency] m, "
         "a: a, b"),
        # grammar corners exercising the oracle slow path
        ("rfc5424/empty-sd-then-msg", R,
         "<191>10 2015-09-30T23:10:11+02:00 h a p m [data] message"),
        ("rfc5424/feb29-valid", R,
         "<1>1 2016-02-29T00:00:00+00:00 h a p m - x"),
        # error cases (parsers_test.go tables, in-pipeline)
        ("err/pri-not-closed", R, "<1923 x"),
        ("err/pri-too-long", R, "<1923> x"),
        ("err/pri-empty", R, "<> x"),
        ("err/pri-nan", R, "<abc> x"),
        ("err/pri-missing-lt", R, "!<0> x"),
        ("err/version-nan", R, "<0>a - - - - - -"),
        ("err/bad-ts", R, "<0>1 201X-09-30T23:10:11+02:00 h a p m -"),
        ("err/feb30", R, "<0>1 2015-02-30T00:00:00+00:00 h a p m -"),
        ("err/hostname-too-long", R,
         f"<0>1 - {generate_string('hostname', 256)} a p m -"),
        ("err/appname-too-long", R,
         f"<0>1 - h {generate_string('appname', 49)} p m -"),
        ("err/truncated", R, "<0>1 - h a"),
        ("err/nginx-bad-month", A, "<190>Foo  1 01:01:01 h a: [request]"),
        ("err/nginx-error-truncated", E, "<184>Jan  1 01:01:01 h a: 0001/01/01"),
        ("err/empty", R, ""),
        ("err/nil-field-extra", R, "<0>1 - -x a p m -"),
    ]
    return cases


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


def corpus_token_batch() -> pa.RecordBatch:
    cases = corpus()
    doc_ids = pd.Series([name for name, _, _ in cases])
    lines = pd.Series([line for _, _, line in cases])
    sources = pd.Series([fmt for _, fmt, _ in cases])
    return lines_to_token_batch(doc_ids, lines, sources)


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
