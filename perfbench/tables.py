"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

``mixed_table`` builds the mixed-type imputation input. The same seed
always gives a byte-identical parquet file.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def mixed_table(
    path: str,
    rows: int,
    n_cat: int,
    n_cont: int,
    n_full: int = 0,
    levels: int = 5,
    missing_rate: float = 0.1,
    seed: int = 0,
) -> dict:
    """Write an ``id`` + ``cat<i>`` (string) + ``num<i>`` (double) +
    ``full<i>`` (double, never missing) table.

    Every value derives from one latent factor per row, so the columns
    predict each other and the fitted models have signal. In each
    ``cat``/``num`` column exactly ``round(missing_rate * rows)`` cells,
    drawn completely at random, are missing, so every seed imputes the
    same number of cells. The first ``levels`` rows stay observed and cover
    every level, so each categorical column's observed label domain is
    always complete.
    Returns the column lists, the label domain and the missing-cell count.
    """
    rng = np.random.default_rng(seed)
    ids = np.cumsum(rng.integers(1, 4, rows)).astype(np.int64) + 100
    latent = rng.normal(size=rows)
    cols = {"id": pa.array(ids)}
    cats = [f"cat{i}" for i in range(n_cat)]
    nums = [f"num{i}" for i in range(n_cont)]
    full = [f"full{i}" for i in range(n_full)]
    domain = [f"L{k}" for k in range(levels)]
    n_missing = round(missing_rate * rows)

    def missing_mask():
        mask = np.zeros(rows, dtype=bool)
        mask[levels + rng.permutation(rows - levels)[:n_missing]] = True
        return mask

    for c in cats:
        score = latent + rng.normal(scale=0.7, size=rows)
        edges = np.quantile(score, np.linspace(0, 1, levels + 1)[1:-1])
        code = np.searchsorted(edges, score)
        code[:levels] = np.arange(levels)
        mask = missing_mask()
        values = np.array(domain, dtype=object)[code]
        cols[c] = pa.array(values.tolist(), type=pa.string(), mask=mask)
    for c in nums:
        values = rng.normal(loc=1.0, scale=0.5) * latent + rng.normal(
            scale=0.5, size=rows
        )
        mask = missing_mask()
        cols[c] = pa.array(values, type=pa.float64(), mask=mask)
    for c in full:
        cols[c] = pa.array(latent + rng.normal(scale=0.5, size=rows))
    # No timestamps or writer ids that vary between runs: the file bytes
    # depend on the data only.
    pq.write_table(pa.table(cols), path, compression="snappy")
    return {
        "path": path,
        "rows": rows,
        "categorical": cats,
        "continuous": nums,
        "complete": full,
        "domain": domain,
        "missing_cells": n_missing * (n_cat + n_cont),
    }
