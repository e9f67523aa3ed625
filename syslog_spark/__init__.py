"""syslog_spark — a PySpark-native syslog parse→enrich→route→aggregate engine.

A from-scratch Spark-first re-expression of the capabilities of the
reference Go parsing library (Arthurgyh/syslog): vectorized RFC 5424 /
Nginx access / Nginx error parsing over Iceberg/Parquet tables of
pre-tokenized byte sequences, broadcast enrichment, partitioned fan-out
routing, and per-sink aggregation — plus the training-data operations a
100 TB pipeline needs (dedup, similarity search, text analysis).
"""

from pyspark import TaskContext

from . import constants
from .session import build_session

if TaskContext.get() is not None:  # imported by a task in a Python worker
    from ._zipcache import install

    install()


def parse_tokens(df, **kw):
    """Parse a (doc_id, tokens, n_tok, source) DataFrame. See
    operators.parse.parse_tokens."""
    from .operators.parse import parse_tokens as _pt

    return _pt(df, **kw)


def parse_lines(df, **kw):
    """Parse a (doc_id, line, source) DataFrame. See
    operators.parse.parse_lines."""
    from .operators.parse import parse_lines as _pl

    return _pl(df, **kw)


def run_pipeline(spark, input_path, out_dir, cfg=None):
    """End-to-end parse -> enrich -> route -> aggregate. See
    plans.pipeline.run_pipeline."""
    from .plans.pipeline import run_pipeline as _rp

    return _rp(spark, input_path, out_dir, cfg)


__all__ = [
    "constants", "build_session", "parse_tokens", "parse_lines",
    "run_pipeline",
]
__version__ = "0.1.0"
