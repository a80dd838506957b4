"""Reporting helpers of the benchmark: percentiles, face digests and the
per-layer metric set.

Both are pure functions with unit tests in tests/test_benchlib.py.
"""
import glob
import hashlib
import math
import os
import statistics

# Percentile levels a tail may be reported at, highest first.
TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75, 0.5)
# A tail level needs at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share
    p of all samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p * len(s) - 1e-9))
    return s[min(rank, len(s)) - 1]


def tail_level(n):
    """The highest level in TAIL_LEVELS with at least MIN_BEYOND of n
    samples beyond it, or None when n is too small for any."""
    for p in TAIL_LEVELS:
        if n * (1.0 - p) >= MIN_BEYOND - 1e-9:
            return p
    return None


def summarize(values):
    """Median and tail of a latency sample, with the sample count.

    The tail is the highest percentile with at least ten samples beyond
    it; below 20 samples no percentile qualifies and the tail is the
    maximum (reported at level 1.0)."""
    if not values:
        raise ValueError("summary of no samples")
    level = tail_level(len(values))
    tail = max(values) if level is None else percentile(values, level)
    return {"n": len(values), "p50": statistics.median(values),
            "tail_level": 1.0 if level is None else level, "tail": tail}


def level_name(level):
    """'p99', 'p75', 'max' ..."""
    if level >= 1.0:
        return "max"
    return "p" + ("%g" % (level * 100))


def canon(df):
    """The oracle compare's canonical form of a result table: lowercase
    column names sorted by name, each row as repr() of its tuple of
    Python scalars, rows sorted."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for t in df.itertuples(index=False, name=None):
        vals = []
        for v in t:
            if hasattr(v, "item"):
                v = v.item()
            vals.append(v)
        rows.append(repr(tuple(vals)))
    rows.sort()
    return cols, rows


def digest(df):
    """(columns, row count, md5 of the canonical rows joined by newlines)."""
    cols, rows = canon(df)
    return cols, len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def read_parquet_dir(path):
    """A directory of parquet part files as one pandas table."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pd.concat([pd.read_parquet(f) for f in files])


def iqr_share(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles with n=4)."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def layer_metrics(units, produced, expected):
    """The per-layer metrics of a traced run, one per name in `units`
    (name -> unit, from BENCHMARK.json). A metric the workload does not
    exercise (not in `expected`) reads 0; an expected one that was not
    produced raises KeyError with the missing names."""
    missing = sorted(k for k in units if k in expected and k not in produced)
    if missing:
        raise KeyError(", ".join(missing))
    return {k: produced[k] if k in expected else {"value": 0.0, "unit": u}
            for k, u in units.items()}
