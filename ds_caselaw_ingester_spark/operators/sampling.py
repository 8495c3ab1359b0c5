"""Deterministic sampling operators for training-data curation.

Pipelines need REPRODUCIBLE samples (a rerun must pick the same rows —
`df.sample()` is seed-stable only for identical partitioning, which no
100 TB pipeline can promise across reruns). The operators key the
decision off a content-derived hash, so the sample is a pure function
of the data:

- hash_sample: Bernoulli-style p-sampling via md5(key) — keep a row iff
  the first 13 hex digits of its key hash, as an integer, fall under
  p * 2^52. Map-side only, no shuffle, and trivially pushed into any
  scan-side filter chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16^13 = 2^52: the hash-fraction denominator. 13 hex digits fit a
# signed 64-bit integer exactly in every engine (no sign/overflow edge).
_HASH_SPACE = float(16**13)


def hash_fraction(key: Column) -> Column:
    """Uniform [0, 1) value derived from md5(key) — the reproducible
    stand-in for rand(). DuckDB equivalent:
    ('0x' || substr(md5(key), 1, 13))::BIGINT / 16.0^13."""
    return hash52_long(key.cast("string")).cast("double") / F.lit(_HASH_SPACE)


def hash_fraction_open(key: Column) -> Column:
    """Uniform value in the OPEN interval (0, 1): (h + 0.5) / 2^52.
    Use where a downstream log/log-log must stay finite (e.g. Gumbel
    noise, −ln(−ln u)) — hash_fraction can return exactly 0.
    DuckDB: (('0x' || substr(md5(key), 1, 13))::BIGINT + 0.5) / 16.0^13."""
    h = hash52_long(key.cast("string")).cast("double")
    return (h + F.lit(0.5)) / F.lit(_HASH_SPACE)


def hash52_long(key: Column) -> Column:
    """THE shared 13-hex-md5 → 52-bit long primitive (exact in a double
    AND a BIGINT) behind every hash-derived decision in this repo
    (sampling gates, feature hashers, cardinality sketches). One
    definition so a change to the hash width cannot silently fork the
    replay formulas. Callers choose their own key canonicalization
    (e.g. cast to string) BEFORE passing the column in.
    DuckDB: ('0x' || substr(md5(key), 1, 13))::BIGINT;
    Python: int(hashlib.md5(key.encode()).hexdigest()[:13], 16)."""
    return F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("bigint")


def hash_bucket(key: Column, num_buckets: int) -> Column:
    """Deterministic bucket id in [0, num_buckets) from hash52_long.
    DuckDB: ('0x' || substr(md5(key), 1, 13))::BIGINT % B;
    Python: py_hash_bucket below."""
    return hash52_long(key) % F.lit(num_buckets)


def py_hash_bucket(key: str, num_buckets: int) -> int:
    """Pure-Python replay of hash_bucket."""
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:13], 16) % num_buckets


def hash_sample(df: DataFrame, key_col: str, p: float) -> DataFrame:
    """Keep each row with probability p, decided by the row's key hash —
    deterministic across reruns, partitionings, and engines."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"sampling fraction must be in [0, 1], got {p}")
    return df.where(hash_fraction(F.col(key_col)) < p)
