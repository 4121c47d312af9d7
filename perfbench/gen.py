"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, shape)``: the same seed gives
byte-identical inputs, and the program under test only ever sees the
generated files or records. Shapes are fixed per workload (the seed varies
values, not sizes), so runs with different seeds do the same amount of
work and their timings are comparable.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---- a lineitem-shaped table (the schema of the repo's sf test tables) ----

_DAY0 = np.datetime64("1995-01-01", "us")


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return _DAY0 + rng.integers(0, span, n).astype("timedelta64[D]")


def lineitem(seed: int, rows: int, n_orders: int, n_parts: int, n_supp: int) -> pd.DataFrame:
    """lineitem in file order = shuffled (not key order), like the sf tables."""
    rng = np.random.default_rng([seed, 1])
    qty = rng.integers(1, 51, rows).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, rows), 2)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, rows).astype("int64"),
            "l_partkey": rng.integers(0, n_parts, rows).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, rows).astype("int64"),
            "l_linenumber": rng.integers(1, 8, rows).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], rows),
            "l_linestatus": rng.choice(["F", "O"], rows),
            "l_shipdate": _days(rng, rows, 2500),
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One file, one row group, no pandas index: file order is row order."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, len(df)))


# ---- spreadsheet-shaped tables (the reference's own ≤1000-row world) ----

# header families whose names cluster by shared substring, as in the
# reference corpus (ie19 exp*/imp*, hungergames rating*, population)
_FAMILIES = [
    lambda k: f"Temp_{k}",
    lambda k: f"Sales {2015 + k}",
    lambda k: f"rating_{k}",
    lambda k: f"exp{k}",
    lambda k: f"imp{k}",
    lambda k: f"Price_{k} (usd)",
]
_NOMINALS = {
    "Region": ["North", "South", "East", "West", "Central", "Coast", "Hills",
               "Valley", "Delta", "Plain", "Ridge", "Bay"],
    "Category": ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
                 "theta", "iota", "kappa", "lambda", "mu"],
    "Segment": ["S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8", "S9", "S10",
                "S11", "S12"],
}

NOMINAL_NAMES = frozenset(_NOMINALS)

# (rows, numeric family sizes, nominal levels, has a date-string column):
# 200-1000 rows and 6-20 columns in all (year + nominals + numerics + date).
# The structure of each shape is fixed, so every seed makes the same number
# of candidates and charts; the seed picks names, values and the order of
# the nominal columns. The order of the shapes keeps every prefix of the
# list at about the same median cost.
SHEET_SHAPES = [
    (400, (4, 4), (5, 8), True),
    (360, (3, 3), (6,), False),
    (960, (5, 3, 2), (4, 9, 12), False),
    (240, (2, 3), (3,), False),
    (600, (6, 4, 2), (7, 10), False),
    (840, (5, 5, 5), (3, 6, 11), True),
]
# per family position: the latent distribution, value scale and whether
# values are integers. The profiler clusters columns by the distance
# between their min-max normalised quantiles; a normal, an exponential and
# a two-mode latent stay apart from each other and from the (uniform)
# year, so each family is one cluster whatever the seed.
_FAMILY_KIND = [
    (lambda rng, n: rng.normal(size=n), 1.0, False),
    (lambda rng, n: rng.exponential(size=n), 100.0, True),
    (lambda rng, n: rng.normal(size=n) + 8.0 * (rng.random(n) < 0.3), 10_000.0, False),
]


def spreadsheet(seed: int, index: int) -> tuple[list[str], list[list]]:
    """One table as the ``/vis/csv`` body: ``(headers, rows)``.

    Rows form a (nominal level × year) panel, so the year column is an
    ordinal with repeats and the first nominal column has 3-12 levels.
    Numeric columns come in name families of 2-6 members that share a
    latent value per row (so scatter charts find real structure)."""
    rows, fam_sizes, levels, has_date = SHEET_SHAPES[index % len(SHEET_SHAPES)]
    rng = np.random.default_rng([seed, 5, index])
    nom_names = [str(c) for c in rng.permutation(list(_NOMINALS))[: len(levels)]]
    i = np.arange(rows)
    cols: dict[str, list] = {"Year": (1900 + i // levels[0] + int(rng.integers(0, 20))).tolist()}
    for c, n_levels in zip(nom_names, levels):
        pool = _NOMINALS[c][:n_levels]
        codes = i % n_levels if c == nom_names[0] else rng.integers(0, n_levels, rows)
        cols[c] = [pool[j] for j in codes]
    if has_date:
        d = np.datetime64("2010-01-01") + np.sort(rng.integers(0, 4000, rows)).astype("timedelta64[D]")
        cols["Date"] = [str(x) for x in d]
    names = rng.permutation(len(_FAMILIES))
    for f, size in enumerate(fam_sizes):
        name = _FAMILIES[names[f]]
        draw, scale, integral = _FAMILY_KIND[f]
        latent = draw(rng, rows)
        for k in range(size):
            v = scale * (latent * rng.uniform(0.9, 1.1) + rng.normal(scale=0.05, size=rows))
            cols[name(k)] = np.round(v).astype("int64").tolist() if integral else np.round(v, 3).tolist()
    headers = list(cols)
    body = [list(r) for r in zip(*(cols[h] for h in headers))]
    return headers, body
