"""The parse operator: token sequences -> parsed syslog rows.

One ``mapInArrow`` stage does detokenize + parse in a single JVM<->Python
Arrow crossing per batch:

  1. detokenize: list<int32> token arrays -> UTF-8 strings via Arrow buffer
     arithmetic (token id i == byte value i; no per-row Python),
  2. per-format vectorized fast path (operators/fastpath.py),
  3. per-row oracle fallback (syslog_spark/oracle.py) for rows the fast
     path declines — guaranteeing reference-exact error strings/columns
     (syslog.go:163-166) and full grammar-corner coverage.

Scale notes: the operator is embarrassingly parallel (no shuffle); at
cluster scale the cost is one Arrow round trip per batch. Batch size is
controlled by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in
session.py). Column pruning through a Python map stage is manual: callers
should select only the four input columns before calling (``parse_tokens``
does this).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from .. import constants as C
from .. import oracle
from . import fastpath
from .schema import parsed_arrow_schema, parsed_spark_schema

_NULL_INT = fastpath._NULL_INT


# ---------------------------------------------------------------------------
# detokenize
# ---------------------------------------------------------------------------


def detokenize_array(tokens: pa.Array) -> pa.Array:
    """list<int32> -> string, via offset/value buffer arithmetic.

    Token vocabulary: id i == byte value i (0..255), per FIXTURES.md §1.
    Zero Python-per-row: one uint8 cast of the flattened values plus an
    offsets rebuild.
    """
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    n = len(tokens)
    try:
        flat = tokens.flatten()
        u8 = flat.cast(pa.uint8())  # safe cast: raises if a token > 255
        data = u8.to_numpy(zero_copy_only=False)  # contiguous uint8
        lengths = tokens.value_lengths().to_numpy(zero_copy_only=False)
        lengths = np.nan_to_num(lengths).astype(np.int64, copy=False)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        assert offsets[-1] == len(data) and offsets[-1] < 2**31
        binary = pa.Array.from_buffers(
            pa.binary(),
            n,
            [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
        )
        out = binary.cast(pa.string())
        if tokens.null_count:
            # preserve null token rows as null lines (they become error
            # rows downstream), not empty strings
            import pyarrow.compute as pc

            out = pc.if_else(
                pc.is_valid(tokens), out, pa.scalar(None, pa.string())
            )
        return out
    except (pa.ArrowInvalid, AssertionError):
        # slow fallback for pathological inputs (invalid UTF-8 / huge batch)
        return pa.array(
            [
                None
                if row is None
                else bytes(bytearray(b & 0xFF for b in row)).decode(
                    "utf-8", "surrogateescape"
                )
                for row in tokens.to_pylist()
            ],
            type=pa.string(),
        )


# ---------------------------------------------------------------------------
# batch parse
# ---------------------------------------------------------------------------

_STR_COLS = ("hostname", "appname", "proc_id", "msg_id", "message")
_ROW_INT_COLS = (
    "priority",
    "version",
    "ts_micros",
    "ts_nanos",
    "tz_offset_seconds",
)
_ARROW_COLS = (*_STR_COLS, "data_pa")


def _format_masks(source: pa.Array) -> dict[str, np.ndarray]:
    """source -> boolean mask per format (prefix before '/', FIXTURES.md §1)."""
    import pyarrow.compute as pc

    out = {}
    for fmt in C.FORMATS:
        m = pc.or_(
            pc.equal(source, fmt), pc.starts_with(source, fmt + "/")
        )
        out[fmt] = pc.fill_null(m, False).to_numpy(zero_copy_only=False)
    return out


def _oracle_into(
    full: dict, i: int, line, fmt: str, ref_year: int, ref_tz: int,
    oracle_rows: dict,
):
    """Parse one row with the byte-exact oracle; ints scatter into `full`,
    strings/data collect into per-column lists (Arrow merge later)."""
    pr = oracle.parse_message(line, fmt, ref_year, ref_tz)
    row = oracle.to_row(pr)
    for k in _ROW_INT_COLS:
        full[k][i] = _NULL_INT if row[k] is None else row[k]
    oracle_rows["pos"].append(i)
    for k in _STR_COLS:
        oracle_rows[k].append(row[k])
    oracle_rows["data_pa"].append(row["data"])
    full["error_msg"][i] = row["error_msg"]
    full["error_column"][i] = (
        _NULL_INT if row["error_column"] is None else row["error_column"]
    )
    full["failed_stage"][i] = (
        _NULL_INT if row["failed_stage"] is None else row["failed_stage"]
    )
    full["slow"][i] = False


def _merge_arrow(n, chunks, oracle_vals, otype):
    """Merge dense per-format Arrow chunks + oracle python values into one
    full-length column: one concat + one take (oracle entries win over
    their fast-path slots; uncovered rows -> null)."""
    perm = np.full(n, -1, np.int64)
    arrays = []
    base = 0
    for idx, arr in chunks:
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        perm[idx] = base + np.arange(len(idx))
        arrays.append(arr)
        base += len(idx)
    opos, vals = oracle_vals
    if len(opos):
        arrays.append(pa.array(vals, type=otype))
        perm[opos] = base + np.arange(len(opos))
    if not arrays:
        return pa.nulls(n, otype)
    return pa.concat_arrays(arrays).take(
        pa.array(perm, pa.int64(), mask=perm < 0)
    )


def _parse_lines_batch(lines_arr: pa.Array, source_arr: pa.Array,
                       ref_year: int, ref_tz: int):
    """Arrow string arrays (lines, source) -> (dict of int/error arrays,
    dict of full-length Arrow columns for strings + data)."""
    import pyarrow.compute as pc

    from .schema import DATA_T_PA

    if isinstance(lines_arr, pa.ChunkedArray):
        lines_arr = lines_arr.combine_chunks()
    n = len(lines_arr)
    full = {
        k: np.full(n, _NULL_INT, np.int64) for k in _ROW_INT_COLS
    }
    full["slow"] = np.ones(n, bool)
    full["error_msg"] = np.full(n, None, object)
    full["error_column"] = np.full(n, _NULL_INT, np.int64)
    full["failed_stage"] = np.full(n, _NULL_INT, np.int64)

    fmt_masks = _format_masks(source_arr)
    # The reference operates on BYTES (buffer.go): length limits, discard
    # widths and error columns are byte counts. The fast path works on
    # codepoints, so only pure-ASCII lines (byte==char) are eligible;
    # others take the byte-exact oracle path (this includes BOM-carrying
    # messages). NUL is additionally excluded because the fast path joins
    # rows on \x00 for its single-scan regex extraction.
    ineligible = pc.fill_null(
        pc.match_substring_regex(lines_arr, r"[^\x01-\x7f]"), True
    ).to_numpy(zero_copy_only=False)

    # null lines -> error rows directly (the oracle, like the reference's
    # []byte API, has no null concept; without this a null row would
    # TypeError inside the worker and kill the whole batch)
    nullmask = pc.is_null(lines_arr).to_numpy(zero_copy_only=False)
    if nullmask.any():
        full["slow"][nullmask] = False
        full["error_msg"][nullmask] = "null line"

    chunks: dict[str, list] = {k: [] for k in _ARROW_COLS}
    oracle_rows: dict[str, list] = {k: [] for k in (*_STR_COLS, "data_pa", "pos")}

    for fmt, parser in fastpath.FAST_PARSERS.items():
        fmask = fmt_masks[fmt] & ~nullmask
        oidx = np.flatnonzero(fmask & ineligible)
        if oidx.size:
            for i, line in zip(
                oidx, lines_arr.take(pa.array(oidx)).to_pylist()
            ):
                _oracle_into(full, i, line, fmt, ref_year, ref_tz, oracle_rows)
        idx = np.flatnonzero(fmask & ~ineligible)
        if idx.size == 0:
            continue
        sub = lines_arr.take(pa.array(idx))
        res = parser(sub, ref_year, ref_tz)
        for k in _ROW_INT_COLS:
            full[k][idx] = res[k]
        full["slow"][idx] = res["slow"]
        for k in _ARROW_COLS:
            chunks[k].append((idx, res[k] if k != "data_pa" else res["data_pa"]))

        # oracle fallback for declined rows (rare on well-formed corpora)
        slow_idx = idx[res["slow"]]
        if slow_idx.size:
            for i, line in zip(
                slow_idx, sub.take(pa.array(np.flatnonzero(res["slow"]))).to_pylist()
            ):
                _oracle_into(full, i, line, fmt, ref_year, ref_tz, oracle_rows)

    # unknown formats -> error rows
    left = np.flatnonzero(full["slow"])
    if left.size:
        src_left = source_arr.take(pa.array(left)).to_pylist()
        for i, s in zip(left, src_left):
            full["error_msg"][i] = f"unknown format: {s}"
            for k in _ROW_INT_COLS:
                full[k][i] = _NULL_INT

    opos = np.array(oracle_rows["pos"], np.int64)
    arrow_cols = {}
    for k in _STR_COLS:
        arrow_cols[k] = _merge_arrow(
            n, chunks[k], (opos, oracle_rows[k]), pa.string()
        )
    arrow_cols["data"] = _merge_arrow(
        n, chunks["data_pa"], (opos, oracle_rows["data_pa"]), DATA_T_PA
    )
    return full, arrow_cols


def _int_array(vals: np.ndarray, patype) -> pa.Array:
    mask = vals == _NULL_INT
    safe = np.where(mask, 0, vals)
    return pa.array(safe, type=pa.int64(), mask=mask).cast(patype)


def parse_record_batch(
    batch: pa.RecordBatch, ref_year: int, ref_tz: int, keep_raw: bool
) -> pa.RecordBatch:
    if "tokens" in batch.schema.names:
        lines_arr = detokenize_array(batch.column("tokens"))
        n_tok = batch.column("n_tok")
    else:  # raw-line input (parse_lines)
        lines_arr = batch.column("line")
        n_tok = pa.compute.binary_length(
            pa.compute.cast(lines_arr, pa.binary())
        ).cast(pa.int32())
    full, arrow_cols = _parse_lines_batch(
        lines_arr, batch.column("source"), ref_year, ref_tz
    )

    pri = full["priority"]
    pri_null = pri == _NULL_INT
    fac = np.where(pri_null, _NULL_INT, np.where(pri_null, 0, pri) // 8)
    sev = np.where(pri_null, _NULL_INT, np.where(pri_null, 0, pri) % 8)

    cols: dict[str, pa.Array] = {
        "doc_id": batch.column("doc_id"),
        "source": batch.column("source"),
        "n_tok": n_tok,
        "priority": _int_array(pri, pa.int16()),
        "facility": _int_array(fac, pa.int16()),
        "severity": _int_array(sev, pa.int16()),
        "version": _int_array(full["version"], pa.int32()),
        "ts_micros": _int_array(full["ts_micros"], pa.int64()),
        "ts_nanos": _int_array(full["ts_nanos"], pa.int32()),
        "tz_offset_seconds": _int_array(full["tz_offset_seconds"], pa.int32()),
        "hostname": arrow_cols["hostname"],
        "appname": arrow_cols["appname"],
        "proc_id": arrow_cols["proc_id"],
        "msg_id": arrow_cols["msg_id"],
        "data": arrow_cols["data"],
        "message": arrow_cols["message"],
        "error_msg": pa.array(full["error_msg"], type=pa.string()),
        "error_column": _int_array(full["error_column"], pa.int32()),
        "failed_stage": _int_array(full["failed_stage"], pa.int32()),
    }
    if keep_raw:
        cols["raw"] = lines_arr
    schema = parsed_arrow_schema(keep_raw)
    return pa.RecordBatch.from_arrays(
        [cols[f.name] for f in schema], schema=schema
    )


def make_parse_fn(ref_year: int, ref_tz: int, keep_raw: bool):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield parse_record_batch(batch, ref_year, ref_tz, keep_raw)

    return fn


def _parse_frame(df, cols, ref_year: int, ref_tz: int, keep_raw: bool):
    """The one parse stage behind every DataFrame entry point: select the
    input columns, one mapInArrow over :func:`make_parse_fn`, then the
    JVM-side analytic timestamp column (UTC instant)."""
    from pyspark.sql import functions as F

    out = df.select(*cols).mapInArrow(
        make_parse_fn(ref_year, ref_tz, keep_raw),
        parsed_spark_schema(keep_raw),
    )
    return out.withColumn("ts", F.timestamp_micros(F.col("ts_micros")))


def parse_tokens(
    df,
    ref_year: int = C.DEFAULT_REFERENCE_YEAR,
    ref_tz: int = C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS,
    keep_raw: bool = False,
):
    """DataFrame(doc_id, tokens, n_tok, source) -> parsed DataFrame.

    Equivalent of ParseMessage over every row (syslog.go:143-161), with the
    error sink columns replacing the reference's (nil, err) return."""
    return _parse_frame(
        df, ("doc_id", "tokens", "n_tok", "source"), ref_year, ref_tz, keep_raw
    )


def parse_lines(
    df,
    ref_year: int = C.DEFAULT_REFERENCE_YEAR,
    ref_tz: int = C.DEFAULT_REFERENCE_TZ_OFFSET_SECONDS,
    keep_raw: bool = False,
):
    """DataFrame(doc_id, line, source) -> parsed DataFrame.

    Raw-string variant of :func:`parse_tokens` for callers that already
    hold text lines (e.g. the DuckDB cross-check queries); `source` selects
    the format as usual."""
    return _parse_frame(
        df, ("doc_id", "line", "source"), ref_year, ref_tz, keep_raw
    )
