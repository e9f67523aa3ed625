"""Pure-Python per-row reference oracle for the syslog parse semantics.

This module is the *semantic specification* of the reference library
(Arthurgyh/syslog, Go) re-expressed in Python. It is used in two places:

1. pytest golden-value generation (the tests compare the vectorized Spark
   parser against this oracle on the corpus), and
2. the slow-path fallback inside the parse UDF for rows the vectorized
   fast path declines (malformed rows needing exact error strings/columns,
   and rare grammar corners).

It is intentionally row-at-a-time and never runs over full tables on the
cluster — the hot path is the vectorized parser in
``syslog_spark.operators.parse``.

Reference citations use ``file:line`` of /root/reference (the Go library);
the implementation below is an independent re-expression of the observable
behavior, structured around a byte cursor + parse-stage pipeline.

Known intentional divergences (documented in SURVEY.md §1.4):
  * Nginx formats have no year/zone in their timestamps; the reference
    injects the machine's current year and local zone (helpers.go:46-49,
    parsers.go:139). We take ``reference_year`` / ``reference_tz_offset``
    as explicit config (defaults in constants.py) for determinism.
  * Inputs on which the Go reference *panics* (e.g. a quoted empty nginx
    value, parsers.go:476) raise :class:`RefPanic` here and become error
    rows instead of crashing.
"""

from __future__ import annotations

import unicodedata
from dataclasses import dataclass

from . import constants as C

# ---------------------------------------------------------------------------
# errors
# ---------------------------------------------------------------------------


class Eof(Exception):
    """Mirror of Go io.EOF as control flow."""


class FormatError(Exception):
    """Mirror of newFormatError (syslog.go:163-166)."""

    def __init__(self, column: int, msg: str):
        self.column = column
        self.msg = msg
        super().__init__(C.FORMAT_ERROR_TEMPLATE.format(msg=msg, col=column))


class RefPanic(Exception):
    """Raised where the Go reference would panic (slice out of range)."""


# ---------------------------------------------------------------------------
# cursor (behavioral mirror of buffer.go)
# ---------------------------------------------------------------------------


class Cursor:
    """Byte cursor with 1-based error columns (buffer.go:11-101)."""

    __slots__ = ("data", "length", "position")

    def __init__(self, data: bytes):
        self.data = data
        self.length = len(data)
        self.position = 0

    def pos(self) -> int:
        # buffer.go:18-23 — 1-based; pinned to length once fully consumed.
        if self.position == self.length and self.length != 0:
            return self.length
        return self.position + 1

    def remaining(self) -> int:
        return self.length - self.position

    def discard(self, n: int) -> int:
        n = min(n, self.remaining())
        self.position += n
        return n

    def peek(self, n: int) -> tuple[bytes, bool]:
        """Returns (bytes, eof_flag); eof_flag mirrors io.EOF when short."""
        eof = n > self.remaining()
        if eof:
            n = self.remaining()
        return self.data[self.position : self.position + n], eof

    def read_byte(self) -> int:
        if self.position == self.length:
            raise Eof()
        c = self.data[self.position]
        self.position += 1
        return c

    def unread_byte(self) -> None:
        if self.position == 0:
            raise RefPanic("syslog: can't unread byte")
        self.position -= 1

    def read_slice(self, delim: int) -> tuple[bytes, bool]:
        """Read through first *delim* inclusive; (rest, True) at EOF."""
        idx = self.data.find(delim, self.position)
        if idx >= 0:
            out = self.data[self.position : idx + 1]
            self.position = idx + 1
            return out, False
        out = self.data[self.position :]
        self.position = self.length
        return out, True

    def read_all(self) -> bytes:
        out = self.data[self.position :]
        self.position = self.length
        return out


# ---------------------------------------------------------------------------
# message model
# ---------------------------------------------------------------------------


@dataclass
class TimeVal:
    """Broken-down zoned time; supports year 0 and year 3000 (no datetime)."""

    year: int = 0
    month: int = 0
    day: int = 0
    hour: int = 0
    minute: int = 0
    second: int = 0
    nanos: int = 0
    offset_seconds: int = 0


@dataclass
class Msg:
    """Mirror of the reference Message struct (syslog.go:22-34)."""

    priority: int = 0
    facility: int = 0
    severity: int = 0
    version: int = 0
    timestamp: TimeVal | None = None
    hostname: str = ""
    appname: str = ""
    proc_id: str = ""
    msg_id: str = ""
    data: dict[str, dict[str, str]] | None = None
    message: str = ""


@dataclass
class ParseResult:
    msg: Msg | None
    error_msg: str | None = None
    error_column: int | None = None
    failed_stage: int | None = None


# ---------------------------------------------------------------------------
# civil-date arithmetic (vectorizable integer math; also used by fastpath)
# ---------------------------------------------------------------------------


def days_from_civil(y: int, m: int, d: int) -> int:
    """Days since 1970-01-01 in the proleptic Gregorian calendar."""
    y -= m <= 2
    era = (y if y >= 0 else y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def is_leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


_DIM = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def days_in_month(y: int, m: int) -> int:
    if m == 2 and is_leap(y):
        return 29
    return _DIM[m - 1]


def timeval_to_epoch_micros(t: TimeVal) -> tuple[int, int]:
    """(epoch_micros UTC, nanos_fraction). Day overflow normalized like
    Go time.Date (used by nginxFixTimestamp's AddDate, helpers.go:46-49)."""
    # normalize day overflow (e.g. Feb 29 in a non-leap target year)
    y, m, d = t.year, t.month, t.day
    dim = days_in_month(y, m)
    days = days_from_civil(y, m, min(d, dim))
    if d > dim:
        days += d - dim
    secs = days * 86400 + t.hour * 3600 + t.minute * 60 + t.second
    secs -= t.offset_seconds
    return secs * 1_000_000 + t.nanos // 1000, t.nanos


# ---------------------------------------------------------------------------
# timestamp parsing (parsers.go:109-148 + Go layout semantics)
# ---------------------------------------------------------------------------


def _all_digits(b: bytes) -> bool:
    return len(b) > 0 and all(48 <= c <= 57 for c in b)


def parse_rfc3339_fixed(s: bytes) -> TimeVal | None:
    """Fixed-width RFC3339 (25 bytes) / RFC3339Nano (35 bytes).

    The reference peeks exactly len(layout) bytes (parsers.go:133-148) and
    hands them to Go time.ParseInLocation, which tries the strict
    parseRFC3339 fast path and FALLS BACK to the general layout parser, so
    acceptance is the union of both. Full-consumption forms per width:

    25 bytes:  core ±HH:MM                 (both paths)
               core [.,] dddd Z            (implicit fractional second:
               the general parser accepts a fraction after seconds even
               when the layout has none, '.' or ',' separator; the strict
               path accepts the '.' form directly)
    35 bytes:  core [.,] 9-digits ±HH:MM   (canonical RFC3339Nano; ','
               via the general parser only)
               core [.,] 14-digits Z       (modern Go — >=1.17's
               parseNanoseconds clamps the fraction to value[:10] before
               atoi, so a >9-digit fraction parses as its FIRST 9 digits
               on both the strict and general paths; ',' via general)

    'Z' means UTC; numeric offsets are not range-checked (the general
    parser doesn't, and it is tried whenever the strict one rejects).
    """
    n = len(s)
    if n == 25:
        if s[19:20] in (b".", b","):
            frac = s[20:24]
            if not _all_digits(frac) or s[24:25] != b"Z":
                return None
            core, off = s[:19], b"Z"
        else:
            frac = b"0"
            core, off = s[:19], s[19:]
    elif n == 35:
        if (
            s[19:20] in (b".", b",")
            and _all_digits(s[20:34])
            and s[34:35] == b"Z"
        ):
            # >9-digit fraction: parseNanoseconds clamps to the first 9
            # digits (value[:10] before atoi) in Go >=1.17
            frac = s[20:29]
            core, off = s[:19], b"Z"
        elif s[19:20] in (b".", b","):
            frac = s[20:29]
            core, off = s[:19], s[29:]
            if not _all_digits(frac):
                return None
        else:
            return None
    else:
        return None
    if (
        core[4:5] != b"-"
        or core[7:8] != b"-"
        or core[10:11] != b"T"
        or core[13:14] != b":"
        or core[16:17] != b":"
    ):
        return None
    y, mo, d = core[0:4], core[5:7], core[8:10]
    h, mi, sec = core[11:13], core[14:16], core[17:19]
    if not all(_all_digits(x) for x in (y, mo, d, h, mi, sec)):
        return None
    if off == b"Z":
        offset = 0
    else:
        if off[0:1] not in (b"+", b"-") or off[3:4] != b":":
            return None
        oh, om = off[1:3], off[4:6]
        if not (_all_digits(oh) and _all_digits(om)):
            return None
        sign = 1 if off[0:1] == b"+" else -1
        offset = sign * (int(oh) * 3600 + int(om) * 60)
    yv, mov, dv = int(y), int(mo), int(d)
    hv, miv, sv = int(h), int(mi), int(sec)
    if not (1 <= mov <= 12 and 1 <= dv <= days_in_month(yv, mov)):
        return None
    if hv > 23 or miv > 59 or sv > 59:
        return None
    nanos = int(frac.ljust(9, b"0"))
    return TimeVal(yv, mov, dv, hv, miv, sv, nanos, offset)


def parse_jan2_fixed(s: bytes, tz_offset: int) -> TimeVal | None:
    """Strict 15-byte 'Jan _2 15:04:05' (formats.go:74,90); year = 0.

    Go matches month names case-insensitively and '_2' is a space-padded
    day; the fixed 15-byte peek plus full-consumption makes the padded
    form the only one that can succeed mid-line.
    """
    if len(s) != 15:
        return None
    mon = s[0:3].decode("latin-1").capitalize()
    if mon not in C.MONTH_NAMES:
        return None
    mov = C.MONTH_NAMES.index(mon) + 1
    if s[3:4] != b" ":
        return None
    dpart = s[4:6]
    if dpart[0:1] == b" " and _all_digits(dpart[1:2]):
        dv = int(dpart[1:2])
    elif _all_digits(dpart):
        dv = int(dpart)
    else:
        return None
    if s[6:7] != b" " or s[9:10] != b":" or s[12:13] != b":":
        return None
    h, mi, sec = s[7:9], s[10:12], s[13:15]
    if not all(_all_digits(x) for x in (h, mi, sec)):
        return None
    hv, miv, sv = int(h), int(mi), int(sec)
    # year 0 is a leap year in the proleptic Gregorian calendar
    if not (1 <= dv <= days_in_month(0, mov)):
        return None
    if hv > 23 or miv > 59 or sv > 59:
        return None
    return TimeVal(0, mov, dv, hv, miv, sv, 0, tz_offset)


# ---------------------------------------------------------------------------
# parse stages (parsers.go / helpers.go)
# ---------------------------------------------------------------------------


def _decode(b: bytes) -> str:
    return b.decode("utf-8", "surrogateescape")


def check_byte(cur: Cursor, expected: str) -> None:
    """parsers.go:355-365."""
    start = cur.pos()
    c = cur.read_byte()
    if c != ord(expected):
        raise FormatError(
            start, f"expected byte '{expected}', but got '{chr(c)}'"
        )


def next_is_nil_value(cur: Cursor) -> bool:
    """parsers.go:372-382."""
    try:
        b = cur.read_byte()
    except Eof:
        return False
    if b == ord("-"):
        return True
    cur.unread_byte()
    return False


def parse_priority(cur: Cursor, msg: Msg) -> None:
    """parsers.go:46-78. Note uint8 wrap: Priority(300) == 44."""
    check_byte(cur, "<")
    start = cur.pos()
    raw, eof = cur.read_slice(ord(">"))
    if eof:
        pos = min(start + C.MAX_PRIORITY_DIGITS, cur.pos())
        raise FormatError(pos, "priority not closed")
    if len(raw) > C.MAX_PRIORITY_DIGITS + 1:  # closing '>' included
        raise FormatError(start + C.MAX_PRIORITY_DIGITS, "priority too long")
    raw = raw[:-1]
    if len(raw) == 0:
        raise FormatError(start, "priority can't be empty")
    txt = _decode(raw)
    # Go strconv.Atoi: optional sign + digits
    body = txt[1:] if txt[:1] in "+-" else txt
    if not (body.isascii() and body.isdigit()):
        raise FormatError(start, "priority not a number: " + txt)
    msg.priority = int(txt) & 0xFF  # uint8 conversion wrap (priority.go:23)


def calculate_facility(cur: Cursor, msg: Msg) -> None:
    """priority.go:28-31 via helpers.go:33-36."""
    msg.facility = msg.priority // C.FACILITY_MULTIPLIER


def calculate_severity(cur: Cursor, msg: Msg) -> None:
    """priority.go:36-39 via helpers.go:39-42."""
    msg.severity = msg.priority % C.FACILITY_MULTIPLIER


def parse_version(cur: Cursor, msg: Msg) -> None:
    """parsers.go:80-107."""
    raw, _eof = cur.peek(C.MAX_VERSION_DIGITS)
    n = len(raw)
    if n == 0 or (n >= 1 and raw[0:1] == b" "):
        return
    if n == 2 and raw[1:2] == b" ":
        raw = raw[:1]
        n = 1
    txt = _decode(raw)
    if not (txt.isascii() and txt.isdigit()):  # ParseUint: digits only
        raise FormatError(cur.pos(), "version not a number: " + txt)
    cur.discard(n)
    msg.version = int(txt)


def make_parse_timestamp(*widths_and_parsers):
    """parsers.go:109-131 — first-match-wins over fixed-width attempts."""

    def parse_timestamp(cur: Cursor, msg: Msg) -> None:
        if next_is_nil_value(cur):
            return
        for width, parser in widths_and_parsers:
            raw, eof = cur.peek(width)
            if eof:
                continue
            tv = parser(raw)
            if tv is None:
                continue
            cur.discard(width)
            msg.timestamp = tv
            return
        raise FormatError(
            cur.pos(), "timestamp is not following an accepted format"
        )

    return parse_timestamp


def parse_single_value(
    cur: Cursor, name: str, allow_nil: bool, max_len: int
) -> str:
    """parsers.go:324-353 incl. the trailing-']' unread workaround."""
    if allow_nil and next_is_nil_value(cur):
        return ""
    value, eof = cur.read_slice(ord(" "))
    n = len(value)
    if eof and n == 0:
        raise Eof()
    if not eof:
        max_len += 1  # delimiter space included in the slice
    if n > max_len:
        raise FormatError(cur.pos() - n + 1, name + " too long")
    if value[-1:] in (b" ", b"]"):
        value = value[:-1]
        cur.unread_byte()
    return _decode(value)


def parse_hostname(cur: Cursor, msg: Msg) -> None:
    msg.hostname = parse_single_value(cur, "hostname", True, C.MAX_HOSTNAME_LEN)


def parse_appname(cur: Cursor, msg: Msg) -> None:
    msg.appname = parse_single_value(cur, "appname", True, C.MAX_APPNAME_LEN)


def parse_process_id(cur: Cursor, msg: Msg) -> None:
    msg.proc_id = parse_single_value(cur, "processID", True, C.MAX_PROCID_LEN)


def parse_message_id(cur: Cursor, msg: Msg) -> None:
    msg.msg_id = parse_single_value(cur, "messageID", True, C.MAX_MSGID_LEN)


def parse_param_name(cur: Cursor) -> str:
    """parsers.go:251-264."""
    raw, eof = cur.read_slice(ord("="))
    if eof:
        raise Eof()
    raw = raw[:-1]
    if len(raw) > C.MAX_PARAM_NAME_LEN:
        raise FormatError(cur.pos() - len(raw), "data param name too long")
    return _decode(raw)


def parse_param_value(cur: Cursor) -> str:
    """parsers.go:266-278 (no escape handling, by design)."""
    check_byte(cur, '"')
    raw, _eof = cur.read_slice(ord('"'))
    if len(raw) == 0:
        # Go would slice-panic on paramValue[:-1] of an empty slice
        raise RefPanic("slice bounds out of range in parseParamValue")
    return _decode(raw[:-1])


def parse_data(cur: Cursor, msg: Msg) -> None:
    """parsers.go:190-249: '-' or '[id k="v" ...]'+ blocks; duplicate param
    keys last-win; '-' param values dropped."""
    if next_is_nil_value(cur):
        return
    check_byte(cur, "[")
    data: dict[str, dict[str, str]] = {}
    while True:
        data_id = parse_single_value(cur, "data-ID", False, C.MAX_DATA_ID_LEN)
        try:
            cur.read_byte()  # the separating space (or ']' for empty data)
        except Eof:
            pass
        # duplicate sd-id resets the param map (plain assignment,
        # parsers.go:205)
        params: dict[str, str] = {}
        data[data_id] = params
        while True:
            try:
                name = parse_param_name(cur)
            except Eof:
                break
            value = parse_param_value(cur)
            if value != C.NIL_VALUE:
                params[name] = value
            c = cur.read_byte()  # Eof propagates (stage fails)
            if c == ord("]"):
                break
            if c != ord(" "):
                raise FormatError(
                    cur.pos(), f"expected byte ']' or ' ', but got '{chr(c)}'"
                )
        try:
            c = cur.read_byte()
        except Eof:
            break
        if c == ord(" "):
            cur.unread_byte()
            break
        if c != ord("["):
            raise FormatError(
                cur.pos(), f"expected byte ' ' or ']', but got '{chr(c)}'"
            )
    msg.data = data


def parse_msg(cur: Cursor, msg: Msg) -> None:
    """parsers.go:281-288: trim, strip BOM, trim.

    Trims with Go's unicode.IsSpace set (C.GO_WHITE_SPACE), NOT Python's
    default str.strip() set \u2014 Python additionally treats \\x1c-\\x1f as
    whitespace, Go does not."""
    raw = cur.read_all()
    text = _decode(raw).strip(C.GO_WHITE_SPACE)
    text = text.removeprefix("\ufeff").strip(C.GO_WHITE_SPACE)
    msg.message = text


def discard(n: int):
    """parsers.go:291-298."""

    def stage(cur: Cursor, msg: Msg) -> None:
        if cur.discard(n) != n:
            raise Eof()

    return stage


def discard_byte(ch: str):
    """parsers.go:302-306."""

    def stage(cur: Cursor, msg: Msg) -> None:
        check_byte(cur, ch)

    return stage


def discard_until(ch: str):
    """parsers.go:312-317."""

    def stage(cur: Cursor, msg: Msg) -> None:
        _, eof = cur.read_slice(ord(ch))
        if eof:
            raise Eof()

    return stage


def discard_space(cur: Cursor, msg: Msg) -> None:
    check_byte(cur, " ")


def optional(peek_len: int, *stages):
    """helpers.go:17-30: skipped entirely when < peek_len bytes remain."""

    def stage(cur: Cursor, msg: Msg) -> None:
        _, eof = cur.peek(peek_len)
        if eof:
            return
        for fn in stages:
            fn(cur, msg)

    return stage


def _go_is_space(c: int) -> bool:
    """parsers.go:498-504."""
    return c in (9, 10, 13, 32)


def get_value(cur: Cursor, end: str, allow_eof: bool) -> tuple[bytes, bool]:
    """Quote-aware scanner to a terminator (parsers.go:433-496).

    Returns (value, hit_eof). Raises Eof when not allow_eof, ValueError for
    garbage after a closed quote, RefPanic where Go would slice-panic
    (empty quoted value)."""
    started = quoted = quote_closed = False
    value = bytearray()
    hit_eof = False
    endb = ord(end)
    while True:
        try:
            c = cur.read_byte()
        except Eof:
            if allow_eof:
                hit_eof = True
                break
            raise
        if not started:
            if _go_is_space(c):
                continue
            if c == ord('"'):
                quoted = True
            else:
                value.append(c)
            started = True
            continue
        if quote_closed:
            if _go_is_space(c):
                continue
            if c != endb:
                raise ValueError(f"unexpected {chr(c)} after closed qoute")
        if c == ord('"'):
            if len(value) == 0:
                raise RefPanic("slice bounds out of range in getValue")
            if quoted and value[-1] != ord("\\"):
                quote_closed = True
                continue
            if value[-1] == ord("\\"):
                value[-1] = ord('"')
                continue
        if c == endb and (not quoted or quote_closed):
            break
        value.append(c)
    if not quoted:
        # TrimRightFunc(value, unicode.IsSpace), parsers.go:491 — Go's
        # space set, not Python's (which would also strip \x1c-\x1f)
        value = bytearray(
            _decode(bytes(value))
            .rstrip(C.GO_WHITE_SPACE)
            .encode("utf-8", "surrogateescape")
        )
    return bytes(value), hit_eof


def parse_nginx_msg(cur: Cursor, msg: Msg) -> None:
    """parsers.go:384-397: read to first ',', trim; at EOF the remainder is
    still assigned before the Eof propagates (tail-optional stage)."""
    raw, eof = cur.read_slice(ord(","))
    if not eof:
        raw = raw[:-1]
    msg.message = _decode(raw).strip(C.GO_WHITE_SPACE)
    if eof:
        raise Eof()


def parse_nginx_data(cur: Cursor, msg: Msg) -> None:
    """parsers.go:399-429: 'key: value, ...' pairs under fixed sd-id 'data'."""
    data: dict[str, str] = {}
    while True:
        start = cur.pos()
        try:
            key, _ = get_value(cur, ":", False)
        except Eof:
            raise
        except ValueError as e:
            raise FormatError(start, str(e)) from None
        try:
            value, hit_eof = get_value(cur, ",", True)
        except ValueError as e:
            raise FormatError(start, str(e)) from None
        data[_decode(key)] = _decode(value)
        if hit_eof:
            break
    msg.data = {"data": data}


def nginx_fix_appname(cur: Cursor, msg: Msg) -> None:
    """helpers.go:54-57: strip one trailing ':'."""
    msg.appname = msg.appname.removesuffix(":")


def make_nginx_fix_timestamp(reference_year: int):
    """helpers.go:46-49: AddDate(now.Year(), 0, 0) onto the year-0 parse."""

    def stage(cur: Cursor, msg: Msg) -> None:
        if msg.timestamp is None:
            # Go applies AddDate even to the zero time (Jan 1, year 1 UTC),
            # so a '-' timestamp in an nginx format yields year 1+ref_year.
            msg.timestamp = TimeVal(1, 1, 1, 0, 0, 0, 0, 0)
        msg.timestamp.year += reference_year

    return stage


# ---------------------------------------------------------------------------
# format pipelines (formats.go:49-106)
# ---------------------------------------------------------------------------


def build_formats(reference_year: int, reference_tz_offset: int):
    rfc_ts = make_parse_timestamp(
        (25, parse_rfc3339_fixed), (35, parse_rfc3339_fixed)
    )
    nginx_ts = make_parse_timestamp(
        (15, lambda s: parse_jan2_fixed(s, reference_tz_offset))
    )
    fix_year = make_nginx_fix_timestamp(reference_year)
    rfc5424 = [
        parse_priority,
        calculate_facility,
        calculate_severity,
        parse_version,
        discard_space,
        rfc_ts,
        discard_space,
        parse_hostname,
        discard_space,
        parse_appname,
        discard_space,
        parse_process_id,
        discard_space,
        parse_message_id,
        discard_space,
        parse_data,
        optional(2, discard_space, parse_msg),
    ]
    nginx_access = [
        parse_priority,
        calculate_facility,
        calculate_severity,
        nginx_ts,
        fix_year,
        discard_space,
        parse_hostname,
        discard_space,
        parse_appname,
        nginx_fix_appname,
        discard_space,
        parse_data,
    ]
    nginx_error = [
        parse_priority,
        calculate_facility,
        calculate_severity,
        nginx_ts,
        fix_year,
        discard_space,
        parse_hostname,
        discard_space,
        parse_appname,
        nginx_fix_appname,
        discard_space,
        discard(19),
        discard_space,
        discard_byte("["),
        discard_until("]"),
        discard_space,
        parse_nginx_msg,
        discard_space,
        parse_nginx_data,
    ]
    return {
        C.FORMAT_RFC5424: rfc5424,
        C.FORMAT_NGINX_ACCESS: nginx_access,
        C.FORMAT_NGINX_ERROR: nginx_error,
    }


_FORMAT_CACHE: dict[tuple[int, int], dict] = {}


def parse_message(
    line: bytes | str,
    fmt: str,
    reference_year: int = C.DEFAULT_REFERENCE_YEAR,
    reference_tz_offset: int = C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS,
) -> ParseResult:
    """Mirror of ParseMessage (syslog.go:143-161) incl. the stage>=16 EOF
    tolerance. Returns a ParseResult instead of printing to stdout."""
    if isinstance(line, str):
        line = line.encode("utf-8", "surrogateescape")
    key = (reference_year, reference_tz_offset)
    formats = _FORMAT_CACHE.get(key)
    if formats is None:
        formats = build_formats(reference_year, reference_tz_offset)
        _FORMAT_CACHE[key] = formats
    stages = formats[fmt]
    cur = Cursor(line)
    msg = Msg()
    for i, stage in enumerate(stages):
        try:
            stage(cur, msg)
        except Eof:
            if i >= C.EOF_TOLERANT_STAGE:
                break
            return ParseResult(None, C.ERR_UNEXPECTED_EOF, None, i)
        except FormatError as e:
            return ParseResult(None, str(e), e.column, i)
        except RefPanic as e:
            return ParseResult(None, f"panic: {e}", None, i)
    return ParseResult(msg)


# ---------------------------------------------------------------------------
# serialization (syslog.go:37-140)
# ---------------------------------------------------------------------------


_GO_CTRL_ESCAPES = {
    "\a": "\\a",
    "\b": "\\b",
    "\f": "\\f",
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "\v": "\\v",
}


def _go_is_print(ch: str) -> bool:
    """Go unicode.IsPrint: letters, marks, numbers, punctuation, symbols,
    and the ASCII space (strconv quotes everything else)."""
    if ch == " ":
        return True
    return unicodedata.category(ch)[0] in "LMNPS"


def _go_quote(s: str) -> str:
    """Go strconv.AppendQuote (strconv/quote.go appendQuotedWith):
    backslash-escape quote/backslash, named escapes \\a\\b\\f\\n\\r\\t\\v,
    \\xNN for other bytes < 0x20 / 0x7f / invalid-UTF-8 source bytes
    (surrogateescape range here), \\uNNNN / \\UNNNNNNNN for non-printable
    runes, printable runes verbatim (syslog.go:115 uses this for SD param
    values)."""
    out = ['"']
    for ch in s:
        o = ord(ch)
        if 0xDC80 <= o <= 0xDCFF:
            # surrogateescape stand-in for an invalid UTF-8 source byte:
            # Go sees utf8.RuneError with width 1 -> \xNN of the raw byte
            out.append(f"\\x{o - 0xDC00:02x}")
        elif ch == '"' or ch == "\\":
            out.append("\\" + ch)
        elif o < 0x80:
            if 0x20 <= o < 0x7F:
                out.append(ch)
            elif ch in _GO_CTRL_ESCAPES:
                out.append(_GO_CTRL_ESCAPES[ch])
            else:
                out.append(f"\\x{o:02x}")
        elif _go_is_print(ch):
            out.append(ch)
        elif ch in _GO_CTRL_ESCAPES:  # pragma: no cover — all < 0x80
            out.append(_GO_CTRL_ESCAPES[ch])
        elif o < 0x10000:
            out.append(f"\\u{o:04x}")
        else:
            out.append(f"\\U{o:08x}")
    out.append('"')
    return "".join(out)


def format_timestamp_rfc3339nano(t: TimeVal) -> str:
    """Go time.RFC3339Nano: trailing-zero-trimmed fraction, 'Z' for UTC."""
    base = (
        f"{t.year:04d}-{t.month:02d}-{t.day:02d}"
        f"T{t.hour:02d}:{t.minute:02d}:{t.second:02d}"
    )
    if t.nanos:
        frac = f"{t.nanos:09d}".rstrip("0")
        base += "." + frac
    if t.offset_seconds == 0:
        return base + "Z"
    off = t.offset_seconds
    sign = "+" if off >= 0 else "-"
    off = abs(off)
    return base + f"{sign}{off // 3600:02d}:{(off % 3600) // 60:02d}"


def serialize(msg: Msg) -> str:
    """Mirror of Message.Bytes (syslog.go:42-71): canonical RFC 5424 line
    with sorted structured data."""
    out = [f"<{msg.priority}>"]
    if msg.version != 0:
        out.append(str(msg.version))
    out.append(" ")
    if msg.timestamp is None:
        out.append("-")
    else:
        out.append(format_timestamp_rfc3339nano(msg.timestamp))
    out.append(" ")
    for value in (msg.hostname, msg.appname, msg.proc_id, msg.msg_id):
        # emptiness checked BEFORE the trim (syslog.go:85-93): a
        # whitespace-only value serializes as an empty token, not '-'
        out.append(value.strip(C.GO_WHITE_SPACE) if value else "-")
        out.append(" ")
    if not msg.data:
        out.append("-")
    else:
        for data_id in sorted(msg.data):
            out.append("[" + data_id)
            for name in sorted(msg.data[data_id]):
                out.append(f" {name}={_go_quote(msg.data[data_id][name])}")
            out.append("]")
    if msg.message != "":
        out.append(" " + msg.message)
    return "".join(out)


# ---------------------------------------------------------------------------
# canonical row form (SURVEY.md §1.3) — what the Spark parser emits
# ---------------------------------------------------------------------------


def canonical_data(
    data: dict[str, dict[str, str]] | None,
) -> list[dict] | None:
    """Sorted association-list form of the map-of-maps."""
    if data is None:
        return None
    return [
        {
            "sd_id": sd_id,
            "params": [
                {"key": k, "value": data[sd_id][k]}
                for k in sorted(data[sd_id])
            ],
        }
        for sd_id in sorted(data)
    ]


def to_row(res: ParseResult) -> dict:
    """Flatten a ParseResult into the canonical parsed-row dict matching the
    Spark schema in operators/schema.py."""
    if res.msg is None:
        return {
            "priority": None,
            "facility": None,
            "severity": None,
            "version": None,
            "ts_micros": None,
            "ts_nanos": None,
            "tz_offset_seconds": None,
            "hostname": None,
            "appname": None,
            "proc_id": None,
            "msg_id": None,
            "data": None,
            "message": None,
            "error_msg": res.error_msg,
            "error_column": res.error_column,
            "failed_stage": res.failed_stage,
        }
    m = res.msg
    if m.timestamp is None:
        ts_micros = ts_nanos = tz_off = None
    else:
        ts_micros, ts_nanos = timeval_to_epoch_micros(m.timestamp)
        tz_off = m.timestamp.offset_seconds
    return {
        "priority": m.priority,
        "facility": m.facility,
        "severity": m.severity,
        "version": m.version,
        "ts_micros": ts_micros,
        "ts_nanos": ts_nanos,
        "tz_offset_seconds": tz_off,
        "hostname": m.hostname,
        "appname": m.appname,
        "proc_id": m.proc_id,
        "msg_id": m.msg_id,
        "data": canonical_data(m.data),
        "message": m.message,
        "error_msg": None,
        "error_column": None,
        "failed_stage": None,
    }
