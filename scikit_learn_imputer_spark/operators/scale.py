"""Min-max scaling as a pure-SQL plan (SURVEY.md §2 E4).

Reference parity: sklearn ``MinMaxScaler`` fit on the whole feature frame
(scikit_learn_imputer.py:201-205) — x' = (x - min) / (max - min), and a
constant column scales to 0.0 (sklearn maps zero-range to 0).

Scale notes: ONE aggregate pass computes min/max of every column (map-side
partial agg), the one-row result is broadcast-cross-joined back, and the
scaling itself is a projection — two narrow stages, no wide shuffle of the
data. A caller that already knows the exact ranges passes ``ranges`` and
skips the aggregate. This keeps the feature matrix oracle-checkable in plain SQL, unlike
MLlib's vector-typed MinMaxScaler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def minmax_scale(
    df: DataFrame,
    cols: list[str] | None = None,
    ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """Scale ``cols`` to [0, 1]; other columns pass through unchanged.

    ``ranges`` maps every column in ``cols`` to its exact ``(min, max)``
    when the caller already knows them (the imputer takes them from its
    profile pass). They replace only the stats aggregate and its
    cross-join: the scaling expression is the same, so the result is
    identical and the frame is scaled in one pass with no stats job."""
    cols = list(cols) if cols else list(df.columns)
    if ranges is None:
        aggs = []
        for c in cols:
            aggs.append(F.min(F.col(c)).alias(f"__min_{c}"))
            aggs.append(F.max(F.col(c)).alias(f"__max_{c}"))
        stats = df.agg(*aggs)
        joined = df.crossJoin(F.broadcast(stats))
        lo = {c: F.col(f"__min_{c}") for c in cols}
        hi = {c: F.col(f"__max_{c}") for c in cols}
    else:
        types = dict(df.dtypes)
        joined = df
        lo = {c: F.lit(ranges[c][0]).cast(types[c]) for c in cols}
        hi = {c: F.lit(ranges[c][1]).cast(types[c]) for c in cols}
    out = []
    for c in df.columns:
        if c in cols:
            rng = hi[c] - lo[c]
            scaled = F.when(rng == 0, F.lit(0.0)).otherwise(
                (F.col(c) - lo[c]) / rng
            )
            out.append(scaled.cast("double").alias(c))
        else:
            out.append(F.col(c))
    return joined.select(*out)


def zscore_scale(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Standard (z-score) scaling: x' = (x - mean) / stddev_samp; a
    constant column (zero variance) scales to 0.0, mirroring sklearn
    StandardScaler's zero-variance handling. Same two-narrow-stage plan as
    :func:`minmax_scale` — one aggregate pass, a one-row broadcast, then a
    pure projection."""
    cols = list(cols) if cols else list(df.columns)
    aggs = []
    for c in cols:
        aggs.append(F.avg(F.col(c)).alias(f"__mu_{c}"))
        aggs.append(F.stddev_samp(F.col(c)).alias(f"__sd_{c}"))
    stats = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))
    out = []
    for c in df.columns:
        if c in cols:
            sd = F.col(f"__sd_{c}")
            scaled = F.when(
                sd.isNull() | (sd == 0), F.lit(0.0)
            ).otherwise((F.col(c) - F.col(f"__mu_{c}")) / sd)
            out.append(scaled.cast("double").alias(c))
        else:
            out.append(F.col(c))
    return joined.select(*out)
