"""Serialization: parsed rows -> canonical RFC 5424 lines (reverse operator).

Mirror of Message.Bytes/String (syslog.go:37-122): '<pri>' always, version
omitted when 0, '-' for absent timestamp / empty strings, values
space-trimmed, structured data with both key levels sorted (already sorted
in our canonical storage form), ' message' only when non-empty, RFC3339Nano
timestamps with trailing-zero-trimmed fractions and 'Z' for UTC.

One path, byte-exact for ALL inputs: rows whose param values are ASCII
take the pure-Catalyst expression (canonical_line_expr: zero Python,
whole-stage codegen, every ASCII control escape); rows with non-ASCII
param values route per row to the vectorized pandas serializer
(serialize_batch), the only one that reproduces go_quote's \\uNNNN
escapes. Inputs of the pandas branch are null-masked for clean rows, so
an ASCII corpus pays only an Arrow validity-bitmap roundtrip.
Used for the token round-trip invariant (SURVEY.md §1.2) and as the
user-facing re-emit operator. Row-set checksums for routing parity do
NOT use this (operators/route.py hashes the canonical tuple directly).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .. import constants as C



def _civil_from_days_np(z):
    z = z + 719468
    era = np.floor_divide(z, 146097)
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + np.where(mp < 10, 3, -9)
    return y + (m <= 2), m, d


def _z2(a):
    return pd.Series(a).astype(str).str.zfill(2)


def _format_ts(ts_micros, ts_nanos, tz_off) -> pd.Series:
    """Vectorized Go time.RFC3339Nano (see oracle.format_timestamp_rfc3339nano)."""
    micros = ts_micros.to_numpy(np.int64)
    nanos = ts_nanos.fillna(0).to_numpy(np.int64)
    off = tz_off.fillna(0).to_numpy(np.int64)
    secs = (micros - nanos // 1000) // 1_000_000
    wall = secs + off
    days = np.floor_divide(wall, 86400)
    tod = wall - days * 86400
    y, mo, d = _civil_from_days_np(days)
    base = (
        pd.Series(y).astype(str).str.zfill(4)
        + "-" + _z2(mo) + "-" + _z2(d)
        + "T" + _z2(tod // 3600) + ":" + _z2((tod % 3600) // 60)
        + ":" + _z2(tod % 60)
    )
    has_frac = nanos > 0
    if has_frac.any():
        frac = "." + pd.Series(nanos).astype(str).str.zfill(9).str.rstrip("0")
        base = base + frac.where(pd.Series(has_frac), "")
    sign = np.where(off >= 0, "+", "-")
    aoff = np.abs(off)
    offstr = pd.Series(sign) + _z2(aoff // 3600) + ":" + _z2((aoff % 3600) // 60)
    offstr = offstr.mask(pd.Series(off == 0), "Z")
    return (base + offstr).set_axis(ts_micros.index)


def _go_quote_simple(s: str) -> str:
    # subset of strconv.AppendQuote for log-safe strings (oracle._go_quote)
    from ..oracle import _go_quote

    return _go_quote(s)


def _data_str(data_objs: pd.Series) -> pd.Series:
    """Canonical sorted '[id k="v" ...]...' or '-' (syslog.go:97-122).

    Stored form is already sorted at both levels (schema.py), so this is a
    pure join; re-sorting defensively costs little and keeps the operator
    total for hand-built rows."""
    out = []
    for d in data_objs:
        if d is None or (hasattr(d, "__len__") and len(d) == 0):
            out.append("-")
            continue
        parts = []
        for block in sorted(d, key=lambda b: b["sd_id"]):
            seg = ["[", block["sd_id"]]
            params = block["params"]
            if params is None:
                params = []
            for p in sorted(params, key=lambda p: p["key"]):
                seg.append(f' {p["key"]}={_go_quote_simple(p["value"])}')
            seg.append("]")
            parts.append("".join(seg))
        out.append("".join(parts))
    return pd.Series(out, index=data_objs.index)


# stands in for NULL in the ts_micros column on its way into the pandas
# UDF: a NULLABLE int64 Arrow column converts to float64 pandas (NaN for
# nulls), and float64 only holds integers exactly to 2^53 — year-0 /
# year-3000 epoch micros (~6.2e16) would come back off by a few micros
# and shift the serialized second (caught by the serialize fuzz).
# Never a real value: the grammar's year range 0000-9999 keeps
# |ts_micros| < 2.6e17 << 2^63.
TS_NULL_SENTINEL = -(2**63)


def serialize_batch(
    priority, version, ts_micros, ts_nanos, tz_offset_seconds,
    hostname, appname, proc_id, msg_id, data, message,
) -> pd.Series:
    """Vectorized Message.Bytes over pandas columns. Null priority (error
    rows) -> null output; ts_micros == TS_NULL_SENTINEL (or null) -> '-'
    timestamp."""
    n = len(priority)
    if bool(priority.isna().all()):
        # all-null batch: nothing to serialize (error rows, or
        # with_canonical masked every clean row out) — skip the column work
        return pd.Series([None] * n, index=priority.index, dtype=object)
    pri = priority.astype("float").fillna(0).astype(np.int64)
    head = "<" + pri.astype(str) + ">"
    ver = version.astype("float").fillna(0).astype(np.int64)
    head = head + pd.Series(np.where(ver != 0, ver.astype(str), ""), index=head.index)

    ts_str = pd.Series(np.full(n, "-", object), index=head.index)
    has_ts = ts_micros.notna() & (ts_micros != TS_NULL_SENTINEL)
    if has_ts.any():
        ts_str[has_ts] = _format_ts(
            ts_micros[has_ts], ts_nanos[has_ts], tz_offset_seconds[has_ts]
        )

    def val(col):
        # Go addValue (syslog.go:85-93) checks value == "" BEFORE
        # TrimSpace: whitespace-only values serialize as an EMPTY token
        # (double space), not '-'. Trim set is Go unicode.IsSpace, which
        # excludes \x1c-\x1f (Python's default strip would take those).
        s = col.fillna("")
        return s.str.strip(C.GO_WHITE_SPACE).mask(s == "", "-")

    body = (
        head + " " + ts_str + " " + val(hostname) + " " + val(appname)
        + " " + val(proc_id) + " " + val(msg_id) + " " + _data_str(data)
    )
    msg = message.fillna("")
    body = body + (" " + msg).where(msg != "", "")
    return body.mask(priority.isna(), None)


def canonical_line_expr():
    """Pure-Catalyst Message.Bytes (syslog.go:42-71) — zero Python.

    Matches oracle.serialize exactly for rows whose param values are
    ASCII (incl. every control character, via go_quote's named + \\xNN
    escapes); non-printable NON-ASCII runes in param values need
    :func:`serialize_batch` for Go's \\uNNNN escapes (with_canonical
    routes those rows there) — printable non-ASCII passes through
    verbatim in both, like Go. Timestamps re-emitted as
    RFC3339Nano with trailing-zero-trimmed fractions and 'Z' for UTC;
    wall time reconstructed from ts_micros + tz_offset_seconds (session
    timezone must be UTC — session.py pins it)."""
    from pyspark.sql import functions as F

    head = F.concat(
        F.lit("<"), F.col("priority").cast("string"), F.lit(">"),
        F.when(F.col("version") != 0, F.col("version").cast("string"))
        .otherwise(""),
    )

    # strip the sub-second part exactly: micros carry nanos//1000
    wall = F.timestamp_micros(
        (F.col("ts_micros") - F.floor(F.col("ts_nanos") / 1000)).cast("long")
        + F.col("tz_offset_seconds").cast("long") * 1_000_000
    )
    frac = F.when(
        F.col("ts_nanos") > 0,
        F.concat(
            F.lit("."),
            F.regexp_replace(
                F.format_string("%09d", F.col("ts_nanos")), "0+$", ""
            ),
        ),
    ).otherwise("")
    off = F.col("tz_offset_seconds")
    offstr = F.when(off == 0, F.lit("Z")).otherwise(
        F.concat(
            F.when(off >= 0, F.lit("+")).otherwise(F.lit("-")),
            F.format_string(
                "%02d:%02d",
                F.floor(F.abs(off) / 3600).cast("int"),
                F.floor((F.abs(off) % 3600) / 60).cast("int"),
            ),
        )
    )
    ts_str = F.when(F.col("ts_micros").isNull(), F.lit("-")).otherwise(
        F.concat(F.date_format(wall, "yyyy-MM-dd'T'HH:mm:ss"), frac, offstr)
    )

    def val(c):
        # btrim with Go's unicode.IsSpace set — F.trim only strips ' ',
        # Go TrimSpace strips the full White_Space set; emptiness checked
        # pre-trim (syslog.go:85-93)
        t = F.btrim(F.col(c), F.lit(C.GO_WHITE_SPACE))
        return F.when(F.col(c) == "", "-").otherwise(t)

    # go-quote (oracle._go_quote / strconv.AppendQuote): backslash, quote,
    # the seven named control escapes, then \xNN for the remaining ASCII
    # control bytes — a chain of literal replaces, fully codegen'd. Exact
    # for all-ASCII param values; non-printable NON-ASCII runes (Go \u
    # escapes) are the one case needing serialize_batch.
    _CTRL = {
        "\x07": "\\a", "\x08": "\\b", "\x0c": "\\f", "\n": "\\n",
        "\r": "\\r", "\t": "\\t", "\x0b": "\\v",
    }

    def quote(v):
        out = F.replace(v, F.lit("\\"), F.lit("\\\\"))
        out = F.replace(out, F.lit('"'), F.lit('\\"'))
        for ch, esc in _CTRL.items():
            out = F.replace(out, F.lit(ch), F.lit(esc))
        for o in [*range(0x00, 0x20), 0x7F]:
            ch = chr(o)
            if ch in _CTRL:
                continue
            out = F.replace(out, F.lit(ch), F.lit(f"\\x{o:02x}"))
        return F.concat(F.lit('"'), out, F.lit('"'))

    params_str = lambda b: F.aggregate(  # noqa: E731
        b["params"],
        F.lit(""),
        lambda acc, p: F.concat(
            acc, F.lit(" "), p["key"], F.lit("="), quote(p["value"])
        ),
    )
    data_str = F.when(
        F.col("data").isNull() | (F.size("data") == 0), F.lit("-")
    ).otherwise(
        F.aggregate(
            F.transform(
                F.col("data"),
                lambda b: F.concat(
                    F.lit("["), b["sd_id"], params_str(b), F.lit("]")
                ),
            ),
            F.lit(""),
            lambda acc, s: F.concat(acc, s),
        )
    )
    body = F.concat_ws(
        " ", head, ts_str, val("hostname"), val("appname"), val("proc_id"),
        val("msg_id"), data_str,
    )
    line = F.when(F.col("message") != "", F.concat(body, F.lit(" "), F.col("message"))).otherwise(body)
    return F.when(F.col("priority").isNull(), F.lit(None)).otherwise(line)


def needs_unicode_quote():
    """True for rows whose param VALUES contain any non-ASCII character —
    a cheap JVM over-approximation of go_quote's \\uNNNN cases (printable
    non-ASCII serializes verbatim in both serializers, so routing it to
    serialize_batch is correct, merely unnecessary). Only values are
    quoted by Go (syslog.go:113-115); sd_ids/keys/message pass verbatim
    in both serializers regardless of content."""
    from pyspark.sql import functions as F

    return F.coalesce(
        F.exists(
            F.col("data"),
            lambda b: F.coalesce(
                F.exists(
                    b["params"],
                    lambda p: p["value"].rlike("[^\\x00-\\x7F]"),
                ),
                F.lit(False),
            ),
        ),
        F.lit(False),
    )


def with_canonical(df, out_col: str = "canonical"):
    """Append the canonical serialized line (null for error rows).

    Byte-exact for ALL inputs in one pass — rows whose param values are
    pure ASCII take the pure-JVM expression; rows with non-ASCII param
    values (the only case where canonical_line_expr can't reproduce
    go_quote's Unicode-table-driven \\uNNNN escapes) route to the pandas
    serializer. The pandas branch's inputs are null-masked for clean rows,
    so an all-ASCII corpus ships only validity bitmaps through Arrow and
    serialize_batch short-circuits — no double scan of the upstream
    lineage, which is what a union-of-filters split would cost."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _ser(
        priority, version, ts_micros, ts_nanos, tz_offset_seconds,
        hostname, appname, proc_id, msg_id, data, message,
    ):
        return serialize_batch(
            priority, version, ts_micros, ts_nanos, tz_offset_seconds,
            hostname, appname, proc_id, msg_id, data, message,
        )

    # materialize the routing predicate ONCE: it appears in the branch
    # condition and in every one of the 11 masked UDF inputs, and
    # Catalyst does not CSE a nested-array exists() across a pandas-UDF
    # boundary — inlining it re-scanned data.params 12x per row
    # (measured ~2x on the serialize gate query)
    tmp = "__needs_uquote"
    needs = F.col(tmp)

    def mask(c):
        return F.when(needs, F.col(c)).otherwise(F.lit(None))

    def nn(c, sentinel):
        # ship the three int ts columns NULL-FREE (sentinel/zero instead
        # of null) so Arrow->pandas keeps them int64: a nullable int64
        # batch converts to float64 and loses exactness past 2^53 (see
        # TS_NULL_SENTINEL)
        col = F.coalesce(F.col(c), F.lit(sentinel))
        return F.when(needs, col).otherwise(F.lit(sentinel)).cast("long")

    args = [
        mask("priority"), mask("version"),
        nn("ts_micros", TS_NULL_SENTINEL), nn("ts_nanos", 0),
        nn("tz_offset_seconds", 0),
        mask("hostname"), mask("appname"), mask("proc_id"),
        mask("msg_id"), mask("data"), mask("message"),
    ]
    out = df.withColumn(tmp, needs_unicode_quote()).withColumn(
        out_col,
        F.when(needs, _ser(*args)).otherwise(canonical_line_expr()),
    )
    return out.drop(tmp)
