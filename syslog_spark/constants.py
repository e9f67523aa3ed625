"""Shared constants of the syslog semantics.

Semantics derived from the reference library (Arthurgyh/syslog):
field length limits at parsers.go:16-24, special bytes at
parsers.go:26-38, facility/severity name tables at priority.go:13-19.
Everything here is re-expressed as plain Python data; the reference's
packed-string + index-table trick (priority.go:13-19) is decoded into
ordinary tuples because Spark consumes these as broadcast dimension
tables / array literals, not as byte-offset lookups.
"""

from __future__ import annotations

# --- field length limits (parsers.go:16-24) ---------------------------------
MAX_PRIORITY_DIGITS = 3
MAX_VERSION_DIGITS = 2
MAX_HOSTNAME_LEN = 255
MAX_APPNAME_LEN = 48
MAX_PROCID_LEN = 128
MAX_MSGID_LEN = 32
MAX_DATA_ID_LEN = 32
MAX_PARAM_NAME_LEN = 32

# --- priority arithmetic (priority.go:8-11) ----------------------------------
FACILITY_MULTIPLIER = 8
MAX_FACILITY = 23
MAX_SEVERITY = 7
MAX_PRIORITY = MAX_FACILITY * FACILITY_MULTIPLIER + MAX_SEVERITY  # 191

# --- name tables (priority.go:13-19; spellings are [sic], incl. "deamon") ---
FACILITY_NAMES: tuple[str, ...] = (
    "Kernel",
    "User-Level",
    "Mail",
    "System",
    "Security/authorization",
    "Internal",
    "Line printer",
    "Network news",
    "UUCP",
    "Clock deamon",
    "Security/authorization",
    "FTP deamon",
    "NTP",
    "Log audit",
    "Log alert",
    "Clock deamon2",
    "Local 0",
    "Local 1",
    "Local 2",
    "Local 3",
    "Local 4",
    "Local 5",
    "Local 6",
    "Local 7",
)
SEVERITY_NAMES: tuple[str, ...] = (
    "Emergency",
    "Alert",
    "Critical",
    "Error",
    "Warning",
    "Notice",
    "Informational",
    "Debug",
)
INVALID_NAME = "Invalid"  # out-of-range lookup result (priority.go:62-65,105-108)

# --- special bytes (parsers.go:26-38) ----------------------------------------
NIL_VALUE = "-"
BOM = b"\xef\xbb\xbf"  # stripped from MSG (parsers.go:42, 284)

# Go's bytes.TrimSpace uses unicode.IsSpace; the reference's own isSpace
# (parsers.go:498-504) is the 4-char ASCII set. For MSG trimming the reference
# uses bytes.TrimSpace (parsers.go:283-285) => full unicode space set; for the
# nginx getValue right-trim it uses unicode.IsSpace too (parsers.go:491).
# Full unicode.IsSpace / White_Space set (what bytes.TrimSpace trims after
# its ASCII fast loop). NOTE: Python's default str.strip() additionally
# treats \x1c-\x1f (FS/GS/RS/US, bidi class B/S) as whitespace — Go does
# NOT, so Go-faithful trims must use this explicit set.
GO_WHITE_SPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
# ASCII-only projection of GO_WHITE_SPACE (the fast path is ASCII-gated,
# so this is the exact trim set there).
GO_WHITE_SPACE_ASCII = "\t\n\x0b\x0c\r "

# --- format names -------------------------------------------------------------
FORMAT_RFC5424 = "rfc5424"
FORMAT_NGINX_ACCESS = "nginx_access"
FORMAT_NGINX_ERROR = "nginx_error"
FORMATS = (FORMAT_RFC5424, FORMAT_NGINX_ACCESS, FORMAT_NGINX_ERROR)

# Stage index from which io.EOF is tolerated by the reference driver loop
# (syslog.go:150-153): RFC 5424's optional MSG and NginxError's trailing
# msg/data are stages >= 16.
EOF_TOLERANT_STAGE = 16

# Pinned wall-clock config for the year-less / zone-less Nginx timestamps
# (helpers.go:46-49 injects time.Now().Year(); parsers.go:139 the local zone).
# We make both explicit pipeline config so results are deterministic.
DEFAULT_REFERENCE_YEAR = 2024
DEFAULT_REFERENCE_TZ_OFFSET_SECONDS = 0  # UTC

# Error text templates (syslog.go:163-166)
FORMAT_ERROR_TEMPLATE = "syslog: format incorrect: {msg}, at column {col}"
ERR_UNEXPECTED_EOF = "unexpected EOF"

MONTH_NAMES = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)
