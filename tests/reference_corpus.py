"""The reference's own test inputs, verbatim (syslog_test.go:31-45 and
the per-operator error tables in parsers_test.go), used as pytest goldens.
The long inputs are built with the reference's ``generateString``
(syslog_test.go:592-598, ``datagen.generate_string``)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from syslog_spark import constants as C
from syslog_spark.sources.datagen import generate_string, lines_to_token_batch

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


def corpus_token_batch() -> pa.RecordBatch:
    cases = corpus()
    doc_ids = pd.Series([name for name, _, _ in cases])
    lines = pd.Series([line for _, _, line in cases])
    sources = pd.Series([fmt for _, fmt, _ in cases])
    return lines_to_token_batch(doc_ids, lines, sources)
