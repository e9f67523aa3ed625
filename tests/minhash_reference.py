"""Pure-Catalyst MinHash fold: the bit-identity reference for the numpy
signature UDF (``dedup._signature_batch_udf``).

n_hashes interpreted ``array_min(transform(...))`` folds over an
already-materialized shingle-hash array — far too slow for a corpus scan
(HOFs are CodegenFallback), exact enough to pin the UDF's values.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

from syslog_spark.operators.dedup import MERSENNE_31, _coeffs


def signature_from_hashes(hashes: Column, n_hashes: int = 64,
                          seed: int = 42) -> Column:
    """array<bigint>: sig_i = min over h in hashes of (a_i*h + b_i) mod M31."""
    a, b = _coeffs(n_hashes, seed)

    def perm(ai: int, bi: int):
        # single-arg lambda (pyspark derives HOF arity from the signature)
        return lambda h: F.pmod(ai * h + bi, F.lit(MERSENNE_31))

    return F.array(*[
        F.array_min(F.transform(hashes, perm(int(a[i]), int(b[i]))))
        for i in range(n_hashes)
    ])
