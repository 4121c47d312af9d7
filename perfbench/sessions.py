"""The session workloads: what an analyst sends, in order, and how each
response is checked.

A session is one analyst's flow against one table through the four
endpoints of ``api.EngineSession`` (``/vis/csv``, ``/vis/search``,
``/vis/addT``, ``/vis/addV``). Each response is encoded exactly as the
HTTP server encodes it, digested, and checked against invariants computed
from the generated input (never from the program's own output).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import gen

SAMPLE_CAP = 1000  # EngineSession's default sample (the HTTP server's)
PREVIEW_ROWS = 20  # rows in an addT preview
LINEITEM_ROWS = 60_000
SEMANTIC_TYPES = {"date", "str", "nominal", "int", "real", "other"}
V_GROUPS = {
    "scatter": {"num_scatter", "cat_scatter"},
    "line": {"ord_line", "ord_cat_line", "rel_line", "rel_cat_line"},
    "bar": {"sum_bar", "count_bar"},
}


@dataclass
class Op:
    key: str  # digest key: the same request on the same input has the same key
    kind: str  # ingest | search | add_t | add_v
    metric: str  # ingest | search_cold | search_warm | refine
    call: Callable[[Any], dict]  # EngineSession -> response
    check: Callable[[dict], list[str]]  # response -> problems found


def select_id(col: str) -> str:
    from data_transformation_2022_spark.api import path_id

    return path_id([{"t": "select", "i_type": "==", "i": [col], "o_type": "new_table", "index": [], "args": []}])


# ---- checks (each returns a list of problems; empty = correct) ----


def check_ingest(resp: dict, headers: list[str]) -> list[str]:
    body = resp["columns"]["body"]
    out = []
    if [row[0] for row in body] != headers:
        out.append(f"ingest columns {[row[0] for row in body]} != {headers}")
    bad = [row[1] for row in body if row[1] not in SEMANTIC_TYPES]
    if bad:
        out.append(f"ingest semantic types {bad}")
    return out


def check_search(resp: dict, vlist: list[str]) -> list[str]:
    charts = resp["charts"]
    allowed = set().union(*(V_GROUPS[v] for v in vlist))
    out = []
    if not charts:
        out.append("search returned no charts")
    types = {c["chart_type"] for c in charts}
    if not types <= allowed:
        out.append(f"search chart types {sorted(types - allowed)} not requested")
    scores = [c["score"] for c in charts]
    if not all(isinstance(s, (int, float)) and math.isfinite(s) for s in scores):
        out.append("search score not finite")
    elif scores != sorted(scores, reverse=True):
        out.append("search charts not ranked by score")
    if "provenance" not in resp:
        out.append("search without provenance")
    return out


def check_add_t(resp: dict, columns: list[str], col: str, n_sample: int) -> list[str]:
    prev = resp["result"]["preview"]
    new = f"rank {col}"
    out = []
    if list(prev) != columns + [new]:
        out.append(f"addT preview columns {list(prev)}")
        return out
    n = min(PREVIEW_ROWS, n_sample)
    if any(len(v) != n for v in prev.values()):
        out.append("addT preview length")
    if not all(isinstance(r, int) and 1 <= r <= n_sample for r in prev[new]):
        out.append("addT rank out of range")
    return out


def check_add_v(resp: dict, col: str, sample: pd.Series) -> list[str]:
    """count_bar over the sample = value counts of the first SAMPLE_CAP
    input rows (the sample is the lowest row ids, i.e. input order)."""
    want = sample.value_counts().sort_index()
    expect = {col: [v.item() if hasattr(v, "item") else v for v in want.index], "COUNT": want.tolist()}
    got = resp["result"]["data"]
    return [] if got == expect else [f"addV counts {got} != {expect}"]


# ---- workloads ----


def refine_ops(tag: str, columns: list[str], sample: pd.DataFrame, ranks: list[str], bars: list[str]) -> list[Op]:
    """The analyst's refinements: an addT rank from the root per column in
    ``ranks``, then an addV count_bar per column in ``bars``."""
    n = len(sample)
    ops = [
        Op(f"{tag}add_t.{c}", "add_t", "refine",
           lambda s, c=c: s.add_t("root", "rank", {"i_type": "==", "i": [c], "o_type": "append"}),
           lambda r, c=c: check_add_t(r, columns, c, n))
        for c in ranks
    ]
    ops += [
        Op(f"{tag}add_v.{c}", "add_v", "refine", lambda s, c=c: s.add_v("count_bar", {"x": select_id(c)}),
           lambda r, c=c: check_add_v(r, c, sample[c]))
        for c in bars
    ]
    return ops


class LineitemSession:
    """One lineitem-shaped parquet table; the flow the repo's bench and
    golden tests use: ingest, four searches (the last repeats the first),
    then one addT and six addV refinements."""

    name = "lineitem-session"
    min_sessions = 2  # two samples of the once-a-session requests

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        rng = np.random.default_rng([seed, 9])
        # one addT and six addV: refine_p50_s is then the median of a
        # run's addV latencies, not a value that sits in the gap between
        # the two kinds (the addT preview fails to encode, see README)
        self.ranks = [str(rng.choice(["l_quantity", "l_extendedprice", "l_discount", "l_tax"], 2, replace=False)[0])]
        # the analyst flips between the two bar charts three times: six
        # samples of a ~0.1 s request a session
        self.bars = [str(c) for c in rng.permutation(["l_returnflag", "l_linestatus"])] * 3

    def prepare(self) -> None:
        df = gen.lineitem(self.seed, LINEITEM_ROWS, LINEITEM_ROWS // 4, 20_000, 1_000)
        self.path = os.path.join(self.workdir, "lineitem.parquet")
        gen.write_parquet(df, self.path)
        self.columns = list(df.columns)
        self.sample = df.head(SAMPLE_CAP)

    def warmup_ops(self) -> list[Op]:
        # on the table itself: ingest, the first search, the refinements
        ops = self.session_ops(0)
        return ops[:2] + ops[5:]

    def session_ops(self, k: int) -> list[Op]:
        return self._ops(self.path, self.columns, self.sample)

    def _ops(self, path: str, columns: list[str], sample: pd.DataFrame) -> list[Op]:
        searches = [
            ("search_all", {}, ["scatter", "line", "bar"]),
            ("search_bar", {"vlist": ["bar"]}, ["bar"]),
            ("search_scatter", {"vlist": ["scatter"], "dm_ts": ["pca", "kmeans"]}, ["scatter"]),
            ("search_all", {}, ["scatter", "line", "bar"]),  # the repeat: same digest
        ]
        ops = [Op("ingest", "ingest", "ingest", lambda s: s.ingest_path(path), lambda r: check_ingest(r, columns))]
        for i, (key, payload, vl) in enumerate(searches):
            ops.append(
                Op(key, "search", "search_cold" if i == 0 else "search_warm",
                   lambda s, p=payload: s.search(dict(p)), lambda r, vl=vl: check_search(r, vl))
            )
        return ops + refine_ops("", columns, sample, self.ranks, self.bars)


class SpreadsheetSessions:
    """Small spreadsheet-shaped tables sent as ``/vis/csv`` bodies; each
    session is one table: ingest, search, two addT and two addV
    refinements, and a re-search after the analyst edits the dimension
    clusters. Session k uses table k mod len(SHEET_SHAPES), so every run
    covers the same shapes in the same order."""

    name = "spreadsheet-sessions"
    min_sessions = 2  # two shapes

    def __init__(self, seed: int, workdir: str):
        self.seed = seed

    @staticmethod
    def _table(seed: int, index: int, rng: np.random.Generator) -> tuple:
        headers, body = gen.spreadsheet(seed, index)
        df = pd.DataFrame(body, columns=headers)
        nums = [h for h in headers if h not in ("Year", "Date") and pd.api.types.is_numeric_dtype(df[h])]
        noms = [h for h in headers if h in gen.NOMINAL_NAMES]
        ranks = [str(c) for c in rng.choice(nums, 2, replace=False)]
        return headers, body, df.head(SAMPLE_CAP), ranks, [str(rng.choice(noms)), "Year"], int(rng.integers(0, 1 << 30))

    def prepare(self) -> None:
        self.tables = [
            self._table(self.seed, i, np.random.default_rng([self.seed, 10, i])) for i in range(len(gen.SHEET_SHAPES))
        ]

    def warmup_ops(self) -> list[Op]:
        # the smallest shape: ingest and the first search
        small = min(range(len(gen.SHEET_SHAPES)), key=lambda i: gen.SHEET_SHAPES[i][0])
        return self._ops("warm.", self._table(self.seed + 7919, small, np.random.default_rng([self.seed, 11])))[:2]

    def session_ops(self, k: int) -> list[Op]:
        i = k % len(self.tables)
        return self._ops(f"t{i}.", self.tables[i])

    def _ops(self, tag: str, table) -> list[Op]:
        headers, body, sample, ranks, bars, edit_seed = table
        state: dict[str, Any] = {}

        def ingest(s):
            state["ingest"] = resp = s.ingest_records(headers, body)
            return resp

        def research(s):
            # the analyst drops one suggested dimension cluster (or, with a
            # single cluster, its last member) and searches again
            clusters = [list(c) for c in state["ingest"]["dim_clusters"]]
            if len(clusters) > 1:
                clusters.pop(edit_seed % len(clusters))
            elif clusters and len(clusters[0]) > 2:
                clusters[0].pop()
            return s.search({"dim_clusters": clusters})

        all_v = ["scatter", "line", "bar"]
        return [
            Op(f"{tag}ingest", "ingest", "ingest", ingest, lambda r: check_ingest(r, headers)),
            Op(f"{tag}search", "search", "search_cold", lambda s: s.search({}), lambda r: check_search(r, all_v)),
            *refine_ops(tag, headers, sample, ranks, bars),
            Op(f"{tag}research", "search", "search_warm", research, lambda r: check_search(r, all_v)),
        ]


WORKLOADS = {w.name: w for w in (LineitemSession, SpreadsheetSessions)}


def encode(resp: dict) -> str:
    """The response body exactly as the HTTP server writes it."""
    from data_transformation_2022_spark.api import _json_default

    return json.dumps(resp, default=_json_default)
