"""Oracle unit tests — ports of the reference's Go test tables.

Mirrors: syslog_test.go (golden end-to-end parses, serialization),
parsers_test.go (per-operator tables incl. exact error strings and
leftover-buffer assertions), priority_test.go (decode/validity/names).
"""

from __future__ import annotations

import pytest

from syslog_spark import constants as C
from syslog_spark import oracle as O
from syslog_spark.sources import datagen as D

import reference_corpus as RC

Y, TZ = 2024, 0


def parse(line, fmt):
    return O.parse_message(line, fmt, Y, TZ)


# --- golden end-to-end parses (syslog_test.go:51-417) -------------------------


def test_rfc5424_minimum():
    m = parse(RC.MINIMUM_RFC5424, "rfc5424").msg
    assert m == O.Msg()


def test_rfc5424_regular():
    m = parse(RC.REGULAR_RFC5424, "rfc5424").msg
    assert (m.priority, m.facility, m.severity, m.version) == (191, 23, 7, 10)
    assert m.timestamp == O.TimeVal(2015, 9, 30, 23, 10, 11, 0, 7200)
    assert (m.hostname, m.appname, m.proc_id, m.msg_id) == (
        "hostname", "appname", "procid", "msgid")
    assert m.data == {"data": {"name": "value"}}
    assert m.message == "message"


def test_rfc5424_empty_data():
    m = parse(
        "<191>10 2015-09-30T23:10:11+02:00 hostname appname procid msgid [data]",
        "rfc5424",
    ).msg
    assert m.data == {"data": {}} and m.message == ""


def test_rfc5424_long():
    m = parse(RC.LONG_RFC5424, "rfc5424").msg
    assert m.version == 99
    assert m.timestamp == O.TimeVal(3000, 12, 31, 23, 59, 59, 999999999, 50400)
    assert m.hostname == RC._H and m.appname == RC._A
    assert m.proc_id == RC._P and m.msg_id == RC._M
    assert m.data == {
        RC._D: {RC._N: RC._V},
        RC._D2: {RC._N: RC._V, RC._N2: RC._V2},
    }
    assert m.message == RC._MSG


def test_nginx_access_golden():
    m = parse(RC.MINIMUM_NGINX_ACCESS, "nginx_access").msg
    assert (m.priority, m.facility, m.severity) == (190, 23, 6)
    assert m.timestamp == O.TimeVal(Y, 1, 1, 1, 1, 1, 0, TZ)
    assert (m.hostname, m.appname) == ("h", "a")
    assert m.data == {"request": {}}
    assert m.version == 0 and m.proc_id == "" and m.message == ""

    m = parse(RC.REGULAR_NGINX_ACCESS, "nginx_access").msg
    assert m.data == {
        "request": {
            "key": "value", "key2": "value2", "key3": "value3",
            "key4": "value4", "key5": "value5",
        }
    }

    m = parse(RC.REAL_NGINX_ACCESS_1, "nginx_access").msg
    req = m.data["request"]
    assert "http_referer" not in req  # '-' values dropped (parsers.go:220)
    assert req["msec"] == "1444039515.695" and len(req) == 9
    assert m.timestamp == O.TimeVal(Y, 10, 5, 12, 5, 15, 0, TZ)


def test_nginx_error_golden():
    m = parse(RC.MINIMUM_NGINX_ERROR, "nginx_error").msg
    assert m.message == "m"
    assert m.data == {"data": {"c": "c", "s": "s", "r": "r", "h": "h"}}

    m = parse(RC.REGULAR_NGINX_ERROR, "nginx_error").msg
    assert m.message == "message"
    assert m.data == {
        "data": {
            "client": "192.168.1.255", "server": "localhost",
            "request": "GET / HTTP/1.1", "host": "192.168.1.254",
        }
    }

    m = parse(RC.REAL_NGINX_ERROR_QUOTED_KEY, "nginx_error").msg
    assert m.message == (
        '1187#1187: *46 open() "/usr/share/nginx/html/test" failed '
        "(2: No such file or directory)"
    )
    assert m.data["data"]["server"] == "localhost"

    m = parse(RC.LONG_NGINX_ERROR, "nginx_error").msg
    assert m.message == RC._MSG
    assert m.data == {
        "data": {
            "client": RC._CLIENT, "server": RC._SERVER,
            "request": RC._REQUEST, "host": RC._HOST,
        }
    }


# --- per-operator error tables (parsers_test.go) ------------------------------

PRIORITY_ERRORS = [
    ("", "unexpected EOF"),
    ("!", "syslog: format incorrect: expected byte '<', but got '!', at column 1"),
    ("<1923", "syslog: format incorrect: priority not closed, at column 5"),
    ("<19", "syslog: format incorrect: priority not closed, at column 3"),
    ("<1923>", "syslog: format incorrect: priority too long, at column 5"),
    ("<>", "syslog: format incorrect: priority can't be empty, at column 2"),
    ("<abc>", "syslog: format incorrect: priority not a number: abc, at column 2"),
]


@pytest.mark.parametrize("line,err", PRIORITY_ERRORS)
def test_priority_errors(line, err):
    r = parse(line, "rfc5424")
    assert r.msg is None and r.error_msg == err


@pytest.mark.parametrize(
    "line,pri", [("<0>", 0), ("<1>", 1), ("<100>", 100), ("<191>", 191)]
)
def test_priority_ok(line, pri):
    cur = O.Cursor(line.encode())
    m = O.Msg()
    O.parse_priority(cur, m)
    assert m.priority == pri and cur.read_all() == b""


def test_version_errors():
    r = parse("<0>ab - - - - - -", "rfc5424")
    assert r.error_msg == (
        "syslog: format incorrect: version not a number: ab, at column 4"
    )


def test_timestamp_table():
    # parsers_test.go:62-78 (standalone stage)
    for inp, want in [
        ("-", None),
        ("2015-10-18T17:05:55+00:00", O.TimeVal(2015, 10, 18, 17, 5, 55, 0, 0)),
        ("2015-10-18T17:05:55+02:00", O.TimeVal(2015, 10, 18, 17, 5, 55, 0, 7200)),
        (
            "2015-10-18T17:05:55.956934919+02:00",
            O.TimeVal(2015, 10, 18, 17, 5, 55, 956934919, 7200),
        ),
    ]:
        cur = O.Cursor(inp.encode())
        m = O.Msg()
        ts = O.make_parse_timestamp((25, O.parse_rfc3339_fixed), (35, O.parse_rfc3339_fixed))
        ts(cur, m)
        assert m.timestamp == want
        assert cur.read_all() == b""
    for bad in ["a", "abc"]:
        cur = O.Cursor(bad.encode())
        m = O.Msg()
        ts = O.make_parse_timestamp((25, O.parse_rfc3339_fixed), (35, O.parse_rfc3339_fixed))
        with pytest.raises(O.FormatError) as e:
            ts(cur, m)
        assert str(e.value) == (
            "syslog: format incorrect: timestamp is not following an "
            "accepted format, at column 1"
        )


def test_single_value_leftover():
    # 'hostname ' leaves ' ' unconsumed (parsers_test.go:111)
    cur = O.Cursor(b"hostname ")
    m = O.Msg()
    O.parse_hostname(cur, m)
    assert m.hostname == "hostname" and cur.read_all() == b" "


def test_hostname_too_long_standalone():
    cur = O.Cursor(D.generate_string("hostname", 256).encode())
    with pytest.raises(O.FormatError) as e:
        O.parse_hostname(cur, O.Msg())
    assert str(e.value) == (
        "syslog: format incorrect: hostname too long, at column 1"
    )


def test_msg_bom():
    for inp, want in [
        ("", ""), ("m", "m"), ("msg", "msg"), (" message ", "message"),
        ("﻿ message ", "message"),
        (" \t\t message \t\t ", "message"),
        (" \t\t ﻿message \t\t ", "message"),
    ]:
        cur = O.Cursor(inp.encode())
        m = O.Msg()
        O.parse_msg(cur, m)
        assert m.message == want, inp


def test_nginx_msg_table():
    for inp, want_msg, want_eof in [
        ("msg,", "msg", False), (" message ,", "message", False),
        ("msg", "msg", True), ("", "", True),
    ]:
        cur = O.Cursor(inp.encode())
        m = O.Msg()
        if want_eof:
            with pytest.raises(O.Eof):
                O.parse_nginx_msg(cur, m)
        else:
            O.parse_nginx_msg(cur, m)
        assert m.message == want_msg


NGINX_DATA_TABLE = [
    ("a:", {"a": ""}),
    ("a: a", {"a": "a"}),
    ("a : a, b : b", {"a": "a", "b": "b"}),
    ('"a": a, abc: "a b c"', {"a": "a", "abc": "a b c"}),
    ('" a ": a , " abc ": " a b c "', {" a ": "a", " abc ": " a b c "}),
    ('"a b": "a b", abc: "a b c" ', {"a b": "a b", "abc": "a b c"}),
    ('"a:b": "c,b"', {"a:b": "c,b"}),
    ('a: a, d: "\\"d\\""', {"a": "a", "d": '"d"'}),
]


@pytest.mark.parametrize("inp,want", NGINX_DATA_TABLE)
def test_nginx_data_table(inp, want):
    cur = O.Cursor(inp.encode())
    m = O.Msg()
    O.parse_nginx_data(cur, m)
    assert m.data == {"data": want}


def test_nginx_data_eof():
    for inp in ["", "a: a, b"]:
        with pytest.raises(O.Eof):
            O.parse_nginx_data(O.Cursor(inp.encode()), O.Msg())


def test_eof_tolerance_stage16():
    # nginx-error tail-optional (syslog.go:150-153)
    base = "<184>Jan  1 01:01:01 h a: 0001/01/01 01:01:01 [Emergency] "
    r = parse(base + "message without comma", "nginx_error")
    assert r.msg is not None and r.msg.message == "message without comma"
    assert r.msg.data is None
    r = parse(base + "m, a: a, b", "nginx_error")  # dangling pair drops data
    assert r.msg is not None and r.msg.message == "m" and r.msg.data is None
    # EOF before stage 16 is an error
    r = parse("<0>1 - h a", "rfc5424")
    assert r.msg is None and r.error_msg == "unexpected EOF"


# --- priority decode suite (priority_test.go:9-154) ---------------------------

PRIORITY_DECODE = [
    (0, 0, 0), (9, 1, 1), (185, 23, 1), (15, 1, 7), (96, 12, 0),
    (103, 12, 7), (4, 0, 4), (188, 23, 4), (191, 23, 7),
]


@pytest.mark.parametrize("pri,fac,sev", PRIORITY_DECODE)
def test_priority_decode(pri, fac, sev):
    assert pri // 8 == fac and pri % 8 == sev
    assert fac * 8 + sev == pri  # CalculatePriority inverse


def test_priority_validity():
    assert all(p <= C.MAX_PRIORITY for p in (0, 191))
    assert 192 > C.MAX_PRIORITY and 199 > C.MAX_PRIORITY
    assert 24 > C.MAX_FACILITY and 8 > C.MAX_SEVERITY


def test_name_tables():
    assert len(C.FACILITY_NAMES) == 24 and len(C.SEVERITY_NAMES) == 8
    assert C.FACILITY_NAMES[0] == "Kernel"
    assert C.FACILITY_NAMES[4] == C.FACILITY_NAMES[10] == "Security/authorization"
    assert C.FACILITY_NAMES[9] == "Clock deamon"  # [sic]
    assert C.FACILITY_NAMES[15] == "Clock deamon2"
    assert C.FACILITY_NAMES[23] == "Local 7"
    assert C.SEVERITY_NAMES == (
        "Emergency", "Alert", "Critical", "Error", "Warning", "Notice",
        "Informational", "Debug",
    )


def test_priority_uint8_wrap():
    # Go Priority(uint8) wraps: <300> -> 44 (priority.go:23 + strconv.Atoi)
    r = parse("<300>1 - h a p m -", "rfc5424")
    assert r.msg.priority == 44 and r.msg.facility == 5


# --- serialization (syslog_test.go:462-545) -----------------------------------

SERIALIZE_GOLDEN = [
    (O.Msg(), "<0> - - - - - -"),
    (
        O.Msg(priority=191, facility=23, severity=7,
              timestamp=O.TimeVal(2015, 10, 16, 14, 38, 12, 0, 0),
              hostname="hostname", appname="appname", data={"data": {}}),
        "<191> 2015-10-16T14:38:12Z hostname appname - - [data]",
    ),
    (
        O.Msg(priority=191, facility=23, severity=7, version=1,
              timestamp=O.TimeVal(2015, 10, 16, 14, 38, 12, 0, 7200),
              hostname="hostname", appname="appname", proc_id="procid",
              msg_id="msgid", data={"data": {"name": "value"}},
              message="message"),
        '<191>1 2015-10-16T14:38:12+02:00 hostname appname procid msgid '
        '[data name="value"] message',
    ),
    (
        O.Msg(priority=191, facility=23, severity=7, version=1,
              timestamp=O.TimeVal(2015, 10, 16, 14, 38, 36, 0, 0),
              hostname="hostname", appname="appname", proc_id="procid",
              msg_id="msgid",
              data={"dataID": {"name": "value", "name2": "value2"},
                    "dataID2": {"name": "value", "name2": "value2"}},
              message="message"),
        '<191>1 2015-10-16T14:38:36Z hostname appname procid msgid '
        '[dataID name="value" name2="value2"]'
        '[dataID2 name="value" name2="value2"] message',
    ),
]


@pytest.mark.parametrize("msg,want", SERIALIZE_GOLDEN)
def test_serialize_golden(msg, want):
    assert O.serialize(msg) == want


def test_roundtrip_canonical():
    for line in [RC.MINIMUM_RFC5424, RC.REGULAR_RFC5424]:
        r = parse(line, "rfc5424")
        assert O.serialize(r.msg) == line
    # long input: serialize is the sorted canonical permutation; re-parse
    # must be a fixpoint
    r1 = parse(RC.LONG_RFC5424, "rfc5424")
    canon = O.serialize(r1.msg)
    r2 = parse(canon, "rfc5424")
    assert O.to_row(r2) == O.to_row(r1)
    assert O.serialize(r2.msg) == canon


def test_generate_string():
    # syslog_test.go:562-590
    assert D.generate_string("", 26) == "abcdefghijklmnopqrstuvwxyz"
    assert D.generate_string("myPrefix", 10) == "myPrefixab"
    assert D.generate_string("myPrefix", 34) == "myPrefixabcdefghijklmnopqrstuvwxyz"


# --- leftover-buffer tables (parsers_test.go discard family + singles) --------


def _run_stage(stage, inp):
    cur = O.Cursor(inp.encode())
    m = O.Msg()
    err = None
    try:
        stage(cur, m)
    except (O.Eof, O.FormatError) as e:
        err = e
    return m, err, cur.read_all().decode()


@pytest.mark.parametrize("inp,err_eof,leftover", [
    ("", True, ""), ("1234", True, ""), ("12345", False, ""),
    ("123456", False, "6"),
])
def test_discard_table(inp, err_eof, leftover):
    _, err, left = _run_stage(O.discard(5), inp)
    assert isinstance(err, O.Eof) == err_eof and left == leftover


@pytest.mark.parametrize("inp,errtxt,leftover", [
    ("", "EOF", ""), ("a", None, ""), ("abc", None, "bc"),
    ("bc", "syslog: format incorrect: expected byte 'a', but got 'b', at column 1", ""),
    ("cba", "syslog: format incorrect: expected byte 'a', but got 'c', at column 1", ""),
])
def test_discard_byte_table(inp, errtxt, leftover):
    _, err, left = _run_stage(O.discard_byte("a"), inp)
    if errtxt == "EOF":
        assert isinstance(err, O.Eof)
    elif errtxt:
        assert str(err) == errtxt
    else:
        assert err is None and left == leftover


@pytest.mark.parametrize("inp,err_eof,leftover", [
    ("", True, ""), ("bcdef", True, ""), ("a", False, ""),
    ("abc", False, "bc"), ("cba", False, ""),
])
def test_discard_until_table(inp, err_eof, leftover):
    _, err, left = _run_stage(O.discard_until("a"), inp)
    assert isinstance(err, O.Eof) == err_eof
    if not err_eof:
        assert left == leftover


@pytest.mark.parametrize("inp,errtxt,leftover", [
    (" ", None, ""), (" abc", None, "abc"),
    ("bc", "syslog: format incorrect: expected byte ' ', but got 'b', at column 1", ""),
    ("cb ", "syslog: format incorrect: expected byte ' ', but got 'c', at column 1", ""),
])
def test_discard_space_table(inp, errtxt, leftover):
    _, err, left = _run_stage(O.discard_space, inp)
    if errtxt:
        assert str(err) == errtxt
    else:
        assert err is None and left == leftover


@pytest.mark.parametrize("inp,val,leftover", [
    ("-", "", ""), ("h", "h", ""), ("host", "host", ""),
    ("hostname ", "hostname", " "),
])
def test_hostname_leftover_table(inp, val, leftover):
    m, err, left = _run_stage(O.parse_hostname, inp)
    assert err is None and m.hostname == val and left == leftover


def test_version_leftover():
    # version consumes only its digits; the following space stays
    m, err, left = _run_stage(O.parse_version, "10 x")
    assert err is None and m.version == 10 and left == " x"
    m, err, left = _run_stage(O.parse_version, "")
    assert err is None and m.version == 0
