"""Driver-side (pandas) evaluator for sample-bounded Step chains.

The engine's channel frames run rank/select/arithmetic chains over a
bounded (≤ ``sample_cap``-row) sample — the values are trivial, but on
Spark every chain pays Catalyst analysis + codegen + a job round-trip
per candidate (measured: the sample-side Spark joins alone were ~2.4 s
of a 9.8 s warm ``recommend()`` at sf0.1, pure planning/scheduling on
500 rows). This module evaluates the SAME Step algebra directly on the
collected pandas sample; the engine builds every step-only channel
frame with it wherever it can prove the result, and there is no switch
to turn it off.

Strict equivalence contract (the reason this is safe to use in query
paths whose goldens are byte-stable):

* ``eval_steps_local`` returns exactly what ``apply_tpath(...).toPandas()``
  over the same rows would return — values, pandas dtypes (via the same
  Arrow type mapping), column order — or ``None`` whenever it cannot
  PROVE that equivalence from the tracked Spark schema. Callers must
  treat ``None`` as "use the Spark path", never as a failure.
* Rows come back in the input frame's order (every op is row-wise or
  ranks by (value, RID) value). No row-order proof is needed: the
  engine feeds the RID-sorted sample and sorts its Spark fallback by
  RID, so every channel frame is RID-ordered either way.
* Fall-back triggers are structural, not data-sampled: unsupported op
  (``astype``), unsupported/ambiguous type combinations (decimal inputs,
  float32 mixed with integers — Spark folds through float32 where numpy
  would widen to float64), nulls/NaN in arithmetic-or-rank inputs (Spark
  null propagation and null-first ordering diverge from pandas NaN
  semantics), integer overflow (Spark ANSI raises; numpy wraps), and
  duplicate column names (pandas frames key columns by name).
* tests/test_steps_local.py pins the contract against the live Spark
  path over synthetic frames and the full enumerated candidate pools of
  the fixture CSVs + lineitem.

Semantics reproduced (same sources as operators/steps.py):
  * ``rank``  = pandas rank(method="first") = row_number over
    (value, __rid) — tie-break by the RID VALUE (not frame position),
    so the evaluator is order-faithful even on unsorted frames;
  * ``nominalize`` = np.unique-sorted dense codes (dense_rank − 1);
  * ``sum``/``mul`` over all-integral inputs fold in DECIMAL(38,0) →
    collected as ``decimal.Decimal`` objects, with the per-stage
    38-digit bound enforced by falling back (the Spark path raises);
  * ``div`` = when(b != 0, a/b).otherwise(0.0) in double;
  * selectors like/==/all/num resolve from the tracked Spark types.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Any

import numpy as np
import pandas as pd

from .steps import (
    RID,
    Step,
    _CAST_ALIASES,  # noqa: F401  (documented non-support: astype falls back)
    _DTYPE_ALIASES,
    _NUMERIC_SPARK_TYPES,
)

# Spark simple type → pandas dtype produced by toPandas (Arrow path,
# null-free column). Null-bearing columns are rejected before this map
# is consulted (their collected dtype is value-dependent).
_PD_BY_SPARK = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "boolean": "bool",
    "string": "object",
}

_INT_WIDTH = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
_INT_BY_WIDTH = {8: "tinyint", 16: "smallint", 32: "int", 64: "bigint"}
_INT_BOUNDS = {
    "tinyint": (-(2**7), 2**7 - 1),
    "smallint": (-(2**15), 2**15 - 1),
    "int": (-(2**31), 2**31 - 1),
    "bigint": (-(2**63), 2**63 - 1),
}
_DEC38 = 10**38  # DECIMAL(38,0) magnitude bound


def _base(t: str) -> str:
    return t.split("(")[0]


def _select_input(types: list[tuple[str, str]], step: Step) -> list[str] | None:
    """Mirror of steps.select_input over tracked (name, sparkType)."""
    if step.i_type == "==":
        return list(step.i)
    if step.i_type in ("like", "num"):
        if step.i_type == "num":
            wanted = _NUMERIC_SPARK_TYPES
        else:
            wanted = set()
            for dt in step.i:
                wanted |= _DTYPE_ALIASES.get(dt, {dt})
        return [c for c, t in types if _base(t) in wanted and c != RID]
    if step.i_type == "all":
        return [c for c, _ in types if c != RID]
    return None


def _out_names(step: Step, default: list[str]) -> list[str] | None:
    if step.index:
        if len(step.index) != len(default):
            return None  # Spark path raises; caller falls back
        return list(step.index)
    return default


def _rank_series(frame: pd.DataFrame, c: str) -> pd.Series:
    """row_number over (value, __rid) — Spark's rank compiled for pandas.
    Tie-break by RID VALUE: sort by (value, rid) with a stable sort and
    assign 1..n back by original index."""
    order = frame[[c, RID]].sort_values([c, RID], kind="mergesort").index
    out = pd.Series(np.empty(len(frame), dtype=np.int64), index=frame.index)
    out.loc[order] = np.arange(1, len(frame) + 1, dtype=np.int64)
    return out


def _nominal_series(frame: pd.DataFrame, c: str) -> pd.Series:
    """dense_rank − 1 over the value order = np.unique-sorted codes."""
    vals = frame[c]
    uniq = sorted(set(vals.tolist()))
    codes = {v: i for i, v in enumerate(uniq)}
    return pd.Series([codes[v] for v in vals], index=frame.index, dtype="int64")


def _fold_integral(
    arrays: list[np.ndarray], mul: bool
) -> list[Any] | None:
    """Left-to-right fold in exact Python ints with the DECIMAL(38,0)
    per-stage bound; None on overflow (the Spark path raises)."""
    acc = [int(v) for v in arrays[0]]
    if any(abs(v) >= _DEC38 for v in acc):
        return None
    for arr in arrays[1:]:
        nxt = [int(v) for v in arr]
        acc = [a * b for a, b in zip(acc, nxt)] if mul else [
            a + b for a, b in zip(acc, nxt)
        ]
        if any(abs(v) >= _DEC38 for v in acc):
            return None
    return acc


def _arith_result_type(in_types: list[str]) -> str | None:
    """Spark binary-arithmetic result type for a left-to-right fold of
    the given (non-decimal numeric) input base types; None when the
    combination is one the evaluator refuses (float32 mixed with
    integers — Spark folds int+float in FLOAT, numpy widens to float64)."""
    ints = [t for t in in_types if t in _INT_WIDTH]
    if len(ints) == len(in_types):
        return _INT_BY_WIDTH[max(_INT_WIDTH[t] for t in ints)]
    if "float" in in_types:
        if ints:
            return None
        return "double" if "double" in in_types else "float"
    return "double"


def eval_steps_local(
    pdf: pd.DataFrame,
    dtypes: list[tuple[str, str]],
    steps: list[Step],
) -> tuple[pd.DataFrame, list[tuple[str, str]]] | None:
    """Evaluate a Step chain on a collected frame; return
    ``(frame, dtypes)`` exactly matching the Spark path's collect, or
    ``None`` when equivalence cannot be proven (caller uses Spark)."""
    names = [c for c, _ in dtypes]
    if list(pdf.columns) != names or len(set(names)) != len(names):
        return None
    frame = pdf
    types = list(dtypes)
    for step in steps:
        res = _eval_one(frame, types, step)
        if res is None:
            return None
        frame, types = res
        tnames = [c for c, _ in types]
        if len(set(tnames)) != len(tnames):
            return None  # duplicate output names: pandas can't track them
    return frame, types


def _eval_one(
    frame: pd.DataFrame, types: list[tuple[str, str]], step: Step
) -> tuple[pd.DataFrame, list[tuple[str, str]]] | None:
    tmap = dict(types)
    cols = _select_input(types, step)
    if cols is None or any(c not in tmap for c in cols):
        return None
    t = step.t

    # --- compile the op to (list[Series], default names, result types) ---
    if t == "select":
        if not cols:
            return None
        out_series = [frame[c] for c in cols]
        defaults = list(cols)
        out_types = [tmap[c] for c in cols]
    elif t in ("rank", "nominalize"):
        if RID not in frame.columns and t == "rank":
            return None  # steps.apply_step ranks without tie-break then
        for c in cols:
            base = _base(tmap[c])
            if base not in (
                "tinyint", "smallint", "int", "bigint",
                "float", "double", "string",
            ):
                return None  # timestamps/decimals/booleans: Spark ordering
                # subtleties not re-verified here
            if frame[c].isna().any():
                return None  # Spark sorts nulls first / NaN last; pandas
                # rank yields NaN ranks — divergent, fall back
        if t == "rank":
            out_series = [_rank_series(frame, c) for c in cols]
            defaults = [f"rank {c}" for c in cols]
        else:
            out_series = [_nominal_series(frame, c) for c in cols]
            defaults = [f"nominal({c})" for c in cols]
        out_types = ["bigint"] * len(cols)
    elif t in ("sum", "mul", "sub", "div"):
        if t in ("sub", "div") and len(cols) != 2:
            return None  # Spark path raises ValueError
        if not cols:
            return None
        bases = [_base(tmap[c]) for c in cols]
        if any(b not in _NUMERIC_SPARK_TYPES or b == "decimal" for b in bases):
            return None
        if any(frame[c].isna().any() for c in cols):
            return None  # null/NaN propagation differences: fall back
        arrays = [frame[c].to_numpy() for c in cols]
        all_integral = all(b in _INT_WIDTH for b in bases)
        if t in ("sum", "mul"):
            if all_integral:
                folded = _fold_integral(arrays, mul=(t == "mul"))
                if folded is None:
                    return None
                ser = pd.Series(
                    [Decimal(v) for v in folded], index=frame.index, dtype=object
                )
                rtype = "decimal(38,0)"
            else:
                rbase = _arith_result_type(bases)
                if rbase is None:
                    return None
                acc = arrays[0]
                # IEEE overflow → ±inf, exactly like Spark's float/double
                # arithmetic; numpy's warning is noise, not a divergence
                with np.errstate(over="ignore"):
                    for arr in arrays[1:]:
                        acc = (acc * arr) if t == "mul" else (acc + arr)
                ser = pd.Series(acc, index=frame.index).astype(
                    _PD_BY_SPARK[rbase]
                )
                rtype = rbase
            out_series = [ser]
            defaults = [f"{t}({', '.join(cols)})"]
            out_types = [rtype]
        elif t == "sub":
            rbase = _arith_result_type(bases)
            if rbase is None:
                return None
            if rbase in _INT_WIDTH:
                exact = [int(a) - int(b) for a, b in zip(arrays[0], arrays[1])]
                lo, hi = _INT_BOUNDS[rbase]
                if any(v < lo or v > hi for v in exact):
                    return None  # ANSI overflow: Spark raises
                ser = pd.Series(exact, index=frame.index).astype(
                    _PD_BY_SPARK[rbase]
                )
            else:
                ser = pd.Series(
                    arrays[0] - arrays[1], index=frame.index
                ).astype(_PD_BY_SPARK[rbase])
            out_series = [ser]
            defaults = [f"sub({cols[0]}, {cols[1]})"]
            out_types = [rbase]
        else:  # div — double result, when(b != 0, a/b).otherwise(0.0)
            a64 = arrays[0].astype(np.float64)
            b64 = arrays[1].astype(np.float64)
            nz = arrays[1] != 0
            with np.errstate(divide="ignore", invalid="ignore"):
                q = a64 / b64
            ser = pd.Series(
                np.where(nz, q, 0.0), index=frame.index, dtype="float64"
            )
            out_series = [ser]
            defaults = [f"div({cols[0]}, {cols[1]})"]
            out_types = ["double"]
    else:
        return None  # astype (cast semantics not mirrored) / unknown op

    names = _out_names(step, defaults)
    if names is None:
        return None
    named = [s.rename(n) for s, n in zip(out_series, names)]

    # --- output mode (mirror of steps.apply_step) ---
    if step.o_type == "new_table":
        keep = [frame[RID]] if RID in frame.columns else []
        out = pd.concat(keep + named, axis=1)
        out_t = ([(RID, "bigint")] if keep else []) + list(zip(names, out_types))
    elif step.o_type == "append":
        out = pd.concat([frame] + named, axis=1)
        out_t = list(types) + list(zip(names, out_types))
    elif step.o_type == "replace":
        remaining = [c for c in frame.columns if c not in cols]
        out = pd.concat([frame[remaining]] + named, axis=1)
        out_t = [(c, tmap[c]) for c in remaining] + list(zip(names, out_types))
    else:
        return None
    return out, out_t
