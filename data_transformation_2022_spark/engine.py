"""End-to-end recommendation engine: profile → enumerate → execute →
assemble charts → score → rank/dedup → provenance DAG.

The Spark re-architecture of the reference's ``searchobj`` lifecycle
(search.py EP2, SURVEY §3):

  * the *search* runs on metadata (plans.search, no data touched);
  * each unique transformation path executes ONCE per ingested table and
    is memoized (reference resdatabuffer, search.py:293-298): an
    ``Executor`` lives as long as its table (``api.EngineSession`` owns
    one per ingest), so every later search of the session reuses the
    cached sample and the channel/bar frames earlier searches computed;
    memo keys are content-addressed, and the memoized frames are
    read-only because they outlive a request;
  * scatter/line channel frames come from a bounded sample (the
    reference caps all data at 400 rows; we cap only what feeds
    ML/scoring), collected once and evaluated in driver pandas/numpy by
    operators/steps_local and ml/coret_local; a frame those evaluators
    cannot prove equivalent to the Spark path takes one per-frame Spark
    job over the cached sample instead;
  * bar aggregations run on the FULL table, distributed (groupBy over a
    nominal key is output-bounded by the domain, so it scales);
  * chart assembly joins channel frames positionally on ``__rid``
    (reference pd.concat(axis=1));
  * scoring runs per chart on the small assembled frames (parallel
    across charts at scale via a thread pool — each chart's job is a
    collected pandas frame).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ml import coret_local
from .ml.coret import CORE_T_RUNNERS
from .operators.steps import (  # noqa: F401  (apply_step: traced by perfbench)
    RID,
    Step,
    apply_step,
    apply_tpath,
    small_input_mode,
)
from .operators.steps_local import eval_steps_local
from .plans.catalog import CORE_T, VLIST
from .plans.search import Candidate, enumerate_tpaths
from .profiler import TableProfile, profile_table
from .scoring.insight import (
    SLIST_DEFAULT,
    cdm_score,
    scagnostics,
    sig_correlation,
    sig_linearness,
    sig_outstanding1,
)
from .sources.readers import with_rid

# Recommendation caps per chart type (reference config.py:27-31).
MAX_PER_TYPE = {
    "num_scatter": 10,
    "cat_scatter": 10,
    "rel_line": 3,
    "ord_line": 3,
    "rel_cat_line": 2,
    "ord_cat_line": 2,
    "count_bar": 1,
    "sum_bar": 3,
}
MAX_SERIES = 3  # lines/bars per chart (reference config.py:33-34)
NOT_CALCU_DMT = True  # skip DM core-Ts on arithmetic paths (config.py:19)

# toPandas dtype for each Spark type — grouping-set Expand unions
# promote ints to float64 whenever nulls appear in a column, and pandas
# infer_objects cannot demote non-object dtypes back; the bar pool
# restores the declared type when the slice is null-free
_PD_BY_SPARK = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "boolean": "bool",
}


def _merge_rid(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Inner merge on RID, fast-pathed for chart assembly's dominant
    case: both frames carry the IDENTICAL RID sequence (every channel
    frame is a RID-sorted projection of the same bounded sample) and
    disjoint payload columns — then the merge IS a positional column
    concat, and pandas' hash-join machinery (~2.5 ms per call, ~670
    calls per recommend at the bench shape ≈ 1.7 s of driver time,
    cProfile) is skipped. Any mismatch — differing RID sets (a core-T
    path that dropped rows) or a payload-name collision (merge would
    suffix _x/_y) — falls back to the real merge, so the output is
    bit-identical either way (byte-stable recommend goldens +
    tests/test_engine.py pin this)."""
    lv = left[RID].to_numpy()
    rv = right[RID].to_numpy()
    if lv.shape == rv.shape and (lv == rv).all():
        rcols = [c for c in right.columns if c != RID]
        if not any(c in left.columns for c in rcols):
            # positional column concat without pd.concat's block
            # manager (measured ~5x cheaper per call): dict-of-arrays
            # construction preserves dtypes, column order and the
            # RangeIndex the concat+reset_index form produced. The
            # arrays may VIEW the inputs (copy=False) — safe because
            # memoized frames are built over read-only arrays
            # (_read_only), so a write through the view raises.
            data = {c: left[c].to_numpy() for c in left.columns}
            for c in rcols:
                data[c] = right[c].to_numpy()
            return pd.DataFrame(data, copy=False)
    return left.merge(right, on=RID)


def _read_only(frame: pd.DataFrame | None) -> pd.DataFrame | None:
    """A copy of ``frame`` over read-only arrays (same columns, dtypes and
    index). Memoized frames outlive a request and are handed out as views
    (_merge_rid, bar chart data), so a write through any of them raises
    instead of corrupting a later search's result. A column with a pandas
    extension dtype keeps its (writable) array: converting it would
    change its dtype."""
    if frame is None:
        return None
    data: dict[int, Any] = {}
    for j in range(frame.shape[1]):
        s = frame.iloc[:, j]
        if isinstance(s.dtype, np.dtype):
            data[j] = a = s.to_numpy(copy=True)
            a.flags.writeable = False
        else:
            data[j] = s.array
    out = pd.DataFrame(data, index=frame.index, copy=False)
    out.columns = frame.columns
    return out


@dataclass
class ChartCandidate:
    chart_type: str
    channels: dict[str, dict[str, Any]]  # channel → {t, steps, cols}
    scores: dict[str, float] = field(default_factory=dict)
    score: float = 0.0
    data: pd.DataFrame | None = None

    def signature(self) -> tuple:
        """Dedup identity: chart type + per-channel op-name sequence
        (reference duplicationremoval, search.py:1280-1299)."""
        return (
            self.chart_type,
            tuple(
                (ch, info["t"], tuple(s["t"] for s in info["steps"]))
                for ch, info in sorted(self.channels.items())
            ),
        )


@dataclass
class RecommendResult:
    charts: list[ChartCandidate]
    profile: TableProfile
    provenance: dict[str, Any]

    def to_json(self) -> str:
        payload = []
        for c in self.charts:
            payload.append(
                {
                    "chart_type": c.chart_type,
                    "score": c.score,
                    "scores": c.scores,
                    "channels": {
                        ch: {"t": info["t"], "cols": info["cols"], "steps": info["steps"]}
                        for ch, info in c.channels.items()
                    },
                }
            )
        return json.dumps({"charts": payload, "provenance": self.provenance}, default=str)


# release() threads still draining their unpersists. Spark's CacheManager
# uncaches by ANALYZED-PLAN equality, so a delayed async unpersist from a
# previous search or executor over the same df can evict a freshly persisted
# (plan-identical) sample or derived base mid-prefetch — perf-only (blocks
# recompute), but exactly the back-to-back-search case the async release was
# meant to speed up (ADVICE r12). Executor construction (which caches the
# sample) and every prefetch (which persists derived bases) join these first.
_PENDING_RELEASES: list = []


def _join_pending_releases() -> None:
    while _PENDING_RELEASES:
        try:
            _PENDING_RELEASES.pop().join(timeout=60)
        except IndexError:
            pass  # emptied by a concurrent joiner


class Executor:
    """Memoized pipeline executor (reference resdatabuffer) for ONE table.

    It lives as long as the table does: ``api.EngineSession`` builds one
    per ingest and passes it to every search, so the cached sample and
    the channel/bar frame memos carry over from search to search. The
    memo keys are content-addressed — ``(Candidate.signature(), coret)``
    and ``(x, y-signature, agg)`` — and for a fixed table and
    ``sample_cap`` each entry is a pure function of the data; cluster
    edits, ``dm_ts`` and ``slist`` only change which entries a search
    asks for and how it scores them. Memoized frames are read-only.
    ``recommend()`` without an executor builds and fully releases its
    own, as a one-shot call."""

    def __init__(self, df: DataFrame, sample_cap: int):
        _join_pending_releases()
        if RID not in df.columns:
            df = with_rid(df)
        self.df = df
        # deterministic sample: limit over the stable row order
        self.sample = df.orderBy(RID).limit(sample_cap).cache()
        self._frames: dict[tuple, pd.DataFrame | None] = {}
        self._bar_frames: dict[tuple, pd.DataFrame | None] = {}
        # shared derived-table prefixes on the FULL table, persisted —
        # the reference's resdatabuffer (search.py:293-298): candidates
        # sharing a derivation (e.g. the global rank step) materialize
        # it once instead of re-running its jobs per chart
        self._derived_bases: dict[tuple, DataFrame] = {}
        self._persisted_base_keys: set[tuple] = set()
        # chains whose memoized frame carries FEWER columns/ranked
        # outputs than the unpruned derivation would (keep_fn pruning,
        # inherited transitively by children built over them) — the
        # dynamic-selector guard in _derived_base keys off this
        self._pruned_base_keys: set[tuple] = set()
        # collected-once copy of the bounded sample: every channel frame
        # is built from it on the driver (operators/steps_local for the
        # step chain, ml/coret_local for the core-T on top). Spark on
        # ≤sample_cap rows is almost all planning and scheduling cost, so
        # Spark only builds what those evaluators cannot prove (see
        # channel_frame).
        self._sample_pdf: pd.DataFrame | None = None
        self._sample_types: list[tuple[str, str]] | None = None

    def _sample_local(self) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
        """The sample collected once (RID order) + its Spark types.

        Unlocked: prefetch builds its first frame, which calls this,
        before starting its pool threads, so a race needs concurrent
        first calls from outside, and those would only collect the same
        rows twice."""
        if self._sample_pdf is None:
            pdf = self.sample.toPandas()
            # defensive: the engine's row-order contract is RID ascending
            pdf = pdf.sort_values(RID, kind="mergesort").reset_index(drop=True)
            self._sample_types = self.sample.dtypes
            self._sample_pdf = pdf
        return self._sample_pdf, self._sample_types

    def channel_frame(self, cand: Candidate, coret: str | None) -> pd.DataFrame | None:
        """Execute (tpath, core-T) once on the bounded sample; return the
        collected channel frame keyed by __rid, in RID order.

        The driver evaluators build every frame whose equivalence with
        the Spark path they can prove from the tracked schema; whatever
        they refuse (nulls/NaN, decimals, float32 mixed with ints,
        ``astype``, ANSI overflow, lda, lida) runs once on Spark over the
        cached sample."""
        key = (cand.signature(), coret)
        if key in self._frames:
            return self._frames[key]
        out: Any = None
        # no DM core-T on arithmetic paths (reference Tengine.py:58-64)
        skip = coret is not None and NOT_CALCU_DMT and any(
            s.t in ("sum", "sub", "mul", "div") for s in cand.steps
        )
        if not skip:
            try:
                pdf, types = self._sample_local()
                res = eval_steps_local(pdf, types, cand.steps)
                if res is not None:
                    dpdf, dtypes = res
                    if coret is not None:
                        out = coret_local.eval_coret_local(dpdf, dtypes, coret)
                    elif all(c in dpdf.columns for c in cand.out_cols):
                        out = dpdf[[RID, *cand.out_cols]].reset_index(drop=True)
            except Exception:
                out = None  # unproven: Spark decides below
            if out is coret_local.PROVEN_NONE:
                out = None
            elif out is None:
                try:
                    with small_input_mode():  # channel frames are sample-bounded
                        derived = apply_tpath(self.sample, cand.steps)
                        sdf = (
                            derived.select(RID, *cand.out_cols)
                            if coret is None
                            else CORE_T_RUNNERS[coret](derived)
                        )
                        if sdf is not None:
                            out = sdf.orderBy(RID).toPandas()
                except Exception:
                    out = None
        self._frames[key] = out = _read_only(out)
        return out

    def bar_aggregate(
        self, x_col: str, y_cand: Candidate | None, agg: str
    ) -> pd.DataFrame | None:
        """sum_bar / count_bar on the FULL table (distributed groupBy —
        output bounded by the nominal domain). Memoized per
        (x, y-path, agg); derived bases shared and persisted."""
        key = (x_col, y_cand.signature() if y_cand is not None else None, agg)
        if key in self._bar_frames:
            return self._bar_frames[key]
        try:
            if agg == "count":
                out = (
                    self.df.groupBy(x_col)
                    .agg(F.count(F.lit(1)).alias("COUNT"))
                    .toPandas()
                )
            else:
                derive = [s for s in (y_cand.steps if y_cand else []) if s.o_type == "append"]
                base = self._derived_base(derive)
                ys = _prefer_derived(y_cand)[:MAX_SERIES] if y_cand else []
                if not ({x_col, *ys} <= set(base.columns)):
                    # memo hit on a base pruned by prefetch's keep_cols
                    # registration for a DIFFERENT bar-job set (possible
                    # only via the public API, not recommend()): rebuild
                    # the chain unpruned instead of letting the blanket
                    # except below silently hand back None
                    base = self._rebuild_base_unpruned(derive)
                aggs = [F.sum(F.col(c)).alias(f"SUM({c})") for c in ys]
                out = base.groupBy(x_col).agg(*aggs).toPandas()
        except Exception:
            out = None
        self._bar_frames[key] = out = _read_only(out)
        return out

    def prefetch(
        self,
        frame_jobs: list[tuple[Candidate, str | None]],
        bar_jobs: list[tuple[str, Candidate | None, str]],
        workers: int = 8,
    ) -> None:
        """Concurrent job submission (replaces the reference's optional
        MULTIPROCESS search parallelism, config.py:15 / search.py:55-63):
        fill the memo tables with thread pools.

        Channel frames are sample-side: the sample is collected once and
        each frame is driver pandas/numpy from the evaluators
        (``channel_frame``); only a frame they refuse becomes a Spark job,
        one per frame. Bar aggregates are table-side Spark jobs, which
        Spark schedules concurrently on idle executor slots.

        Bar aggregates are BATCHED per derived base: every bar job
        sharing the same base — ALL its x columns and every
        y-candidate's sum columns (+ the count_bar COUNT) — folds into
        ONE aggregation job, a GROUPING SETS pass with one set per x
        column (single scan + Expand, one shuffle), then the combined
        frame is sliced back per (x, candidate) into the memo entries.
        40 one-agg jobs become ~#bases jobs with identical memo
        contents (r12; r8-r11 batched per (base, x) — still ~#bases×#x
        scheduler round-trips, the dominant term of the bar pool's
        4.5 s at sf0.1)."""
        from concurrent.futures import ThreadPoolExecutor

        # a previous search's async release must not evict the bases this
        # one is about to persist (plan-identical ones included)
        _join_pending_releases()
        # jobs an earlier search of this table already memoized are
        # dropped BEFORE grouping: they must not materialize bases or
        # overwrite their memo entries
        uniq_frames: dict[tuple, tuple[Candidate, str | None]] = {}
        for cand, coret in frame_jobs:
            key = (cand.signature(), coret)
            if key not in self._frames:
                uniq_frames[key] = (cand, coret)
        uniq_bars: dict[tuple, tuple[str, Candidate | None, str]] = {}
        for x_col, y_cand, agg in bar_jobs:
            key = (x_col, y_cand.signature() if y_cand is not None else None, agg)
            if key not in self._bar_frames:
                uniq_bars[key] = (x_col, y_cand, agg)

        # group bar jobs by derived base; within a base, by x column —
        # one GROUPING SETS job per base covers every x
        grouped: dict[tuple, dict[str, list]] = {}
        for key, (x_col, y_cand, agg) in uniq_bars.items():
            derive_key = _chain_key(
                s
                for s in (y_cand.steps if (agg == "sum" and y_cand) else [])
                if s.o_type == "append"
            )
            grouped.setdefault(derive_key, {}).setdefault(x_col, []).append(
                (key, x_col, y_cand, agg)
            )

        def _batched_bars(by_x: dict[str, list]) -> None:
            # r13 fix (r12 verdict "What's wrong" #1): a merged group can
            # mix chains whose DERIVED output names collide —
            # common_suffix_name (plans/search.py:64-70) is not
            # content-addressed, so {temp_min,temp_max} and
            # {temp_avg,temp_std} both emit "sub: (temp)". The graft in
            # _batched_bars_one tests output-NAME presence, so the second
            # chain's step was skipped and its SUM silently aggregated
            # the FIRST chain's expression (wrong values, no exception).
            # Partition the group into content-consistent parts first:
            # within a part every touched name maps to exactly one
            # producing chain prefix, so name-presence IS content
            # identity and the graft is sound.
            for part in _split_name_conflicts(by_x):
                _batched_bars_one(part)

        def _batched_bars_one(by_x: dict[str, list]) -> None:
            try:
                aggs: dict[str, F.Column] = {}
                per_entry: list[tuple[tuple, str, list[str]]] = []
                chains: dict[tuple, list] = {}
                for x_col, entries in by_x.items():
                    for key, _x, y_cand, agg in entries:
                        if agg == "count":
                            aggs.setdefault(
                                "COUNT", F.count(F.lit(1)).alias("COUNT")
                            )
                            per_entry.append((key, x_col, ["COUNT"]))
                        else:
                            chain = [
                                s for s in y_cand.steps if s.o_type == "append"
                            ]
                            if chain:
                                chains[_chain_key(chain)] = chain
                            ys = _prefer_derived(y_cand)[:MAX_SERIES]
                            names = []
                            for c in ys:
                                alias = f"SUM({c})"
                                aggs.setdefault(
                                    alias, F.sum(F.col(c)).alias(alias)
                                )
                                names.append(alias)
                            per_entry.append((key, x_col, names))
                # one base serves the whole merged group: sibling chains
                # share their persisted prefix (scheduler invariant), and
                # arithmetic tails are content-addressed per-row
                # projections, so any chain's missing derived columns
                # graft onto the first chain's base as lazy projections —
                # the merged job scans the shared prefix ONCE for every
                # chain instead of once per chain
                chain_list = list(chains.values())
                if not chain_list:
                    base = self.df
                else:
                    base = self._derived_base(chain_list[0])
                    for ch in chain_list[1:]:
                        for s in ch:
                            if any(
                                c not in base.columns for c in (s.index or [])
                            ):
                                base = apply_tpath(base, [s])
                xs = sorted(by_x)
                if len(xs) == 1:
                    combined = base.groupBy(xs[0]).agg(*aggs.values()).toPandas()
                    frames = {xs[0]: combined}
                else:
                    # one scan + Expand + one shuffle for ALL x columns
                    # of this base; grouping_id bit j (from the LEFT of
                    # the cols list) is set when xs[j] is aggregated
                    # away, so the set {xs[i]} has id = all-ones ^ the
                    # bit for i
                    k = len(xs)
                    combined = (
                        base.groupingSets(
                            [[F.col(x)] for x in xs], *[F.col(x) for x in xs]
                        )
                        .agg(F.grouping_id().alias("__gid"), *aggs.values())
                        .toPandas()
                    )
                    frames = {}
                    for i, x in enumerate(xs):
                        gid = ((1 << k) - 1) ^ (1 << (k - 1 - i))
                        fr = (
                            combined.loc[combined["__gid"] == gid]
                            .drop(columns="__gid")
                            .reset_index(drop=True)
                        )
                        # the Expand union nulls every other set's x
                        # column, which promotes pandas ints to float64
                        # for the WHOLE column — restore this slice's x
                        # dtype (genuine null groups keep the promoted
                        # dtype)
                        want = _PD_BY_SPARK.get(
                            base.schema[x].dataType.simpleString()
                        )
                        if (
                            want is not None
                            and str(fr[x].dtype) != want
                            and not fr[x].isna().any()
                        ):
                            try:
                                fr[x] = fr[x].astype(want)
                            except (ValueError, TypeError):
                                pass
                        frames[x] = fr
                for key, x_col, names in per_entry:
                    self._bar_frames[key] = _read_only(frames[x_col][[x_col] + names])
            except Exception:
                # isolate failures: replay each entry through the
                # original one-agg path so a single bad candidate can't
                # null its whole batch
                for entries in by_x.values():
                    for key, _x, y_cand, agg in entries:
                        self._bar_frames.pop(key, None)
                        self.bar_aggregate(_x, y_cand, agg)

        # Two independent sides run CONCURRENTLY (r8: the table side's
        # first base materialization — a full-table rank chain, the
        # single most expensive block of recommend — previously
        # serialized BEHIND the sample side it shares nothing with):
        #
        # * sample side: the per-frame pool over the collected sample
        #   (driver pandas, with one Spark job per frame the evaluators
        #   refuse);
        # * table side: serial derived-base registration (plan-only,
        #   bottom-up through the recursive prefix memo so ('rank','sub')
        #   reuses the cached ('rank',) table and racing threads never
        #   duplicate work), per-level concurrent materialization (within
        #   a level the bases share no lineage; across levels a child
        #   reads its parent's persisted blocks), then the batched bar
        #   pool against the materialized bases.
        #
        # Both sides fill disjoint memo tables (_frames vs _bar_frames /
        # _derived_bases) and share no state.
        def _sample_side() -> None:
            jobs = list(uniq_frames.values())
            if jobs:
                # the first frame collects the sample, before the pool
                # threads need it
                self.channel_frame(*jobs[0])
            with ThreadPoolExecutor(workers) as fpool:
                list(fpool.map(lambda cv: self.channel_frame(*cv), jobs[1:]))

        def _table_side() -> None:
            # Column hint for the persisted bases: the bar aggregates
            # are the ONLY consumers of these tables (channel frames run
            # on the sample side), and they touch just the groupBy x
            # columns, the derived outputs, and the arithmetic inputs —
            # persisting all ~17 lineitem columns made the base
            # materialization mostly serialization cost (measured: the
            # 2-column rank itself runs 1.3 s warm at sf0.1 while the
            # full-width persist+count took 4.6 s). The hint is PER
            # LEVEL (keep_fn): a prefix keeps the global consumer needs
            # plus the inputs of steps beyond it across every chain
            # extending it — so the engine's shared all-columns rank
            # step computes and persists only the ranked columns some
            # consumer actually touches (sub-linear in table width),
            # while sibling chains sharing the prefix still find every
            # column they need.
            needs: set[str] = set()
            chains: dict[tuple, list[Step]] = {}
            for x_col, y_cand, agg in uniq_bars.values():
                needs.add(x_col)
                if y_cand is not None:
                    # what the aggregate ACTUALLY sums: the series-capped
                    # slice (_batched_bars / bar_aggregate both take
                    # [:MAX_SERIES]) — an all-numeric-columns candidate
                    # lists every column in out_cols, and taking the
                    # full list here made `needs` table-wide, defeating
                    # the per-consumer reduction entirely
                    needs.update(_prefer_derived(y_cand)[:MAX_SERIES])
                if agg == "sum" and y_cand is not None:
                    chain = [s for s in y_cand.steps if s.o_type == "append"]
                    if chain:
                        chains[_chain_key(chain)] = chain
            suffix: dict[tuple, set[str]] = {}
            for chain in chains.values():
                for lvl in range(1, len(chain) + 1):
                    ns = suffix.setdefault(_chain_key(chain[:lvl]), set())
                    for s in chain[lvl:]:
                        ns.update(s.i or [])
                        ns.update(s.index or [])

            def keep_fn(k: tuple) -> set[str]:
                return needs | suffix.get(k, set())

            for chain in chains.values():
                self._derived_base(chain, keep_fn=keep_fn)
            by_level: dict[int, list[DataFrame]] = {}
            for key, base in self._derived_bases.items():
                if key not in self._persisted_base_keys:
                    continue  # lazy projection: nothing to materialize
                by_level.setdefault(len(key), []).append(base)
            # groups with no derivation aggregate self.df directly (the
            # count bars and underived sums) — they don't wait for base
            # materialization; derived-base groups queue once their base
            # is materialized. The pool is wider than the frame pool:
            # each bar group is one small groupBy job whose cost is
            # mostly scheduler latency, so concurrency, not executor
            # pressure, bounds the wall time.
            def _ready_level(dk: tuple) -> int:
                # level after which this group's longest PERSISTED chain
                # prefix is materialized; arithmetic tails past it are
                # lazy projections the group's own job computes
                lvl = 0
                for L in range(1, len(dk) + 1):
                    if dk[:L] in self._persisted_base_keys:
                        lvl = L
                return lvl

            # merge chain groups by (ready level, persisted prefix):
            # chains sharing a materialized prefix differ only in their
            # lazy arithmetic tails, so one grouping-sets job covers
            # them all; level-0 groups (no persisted base) merge with
            # the underived/count group over self.df
            merged: dict[tuple, dict[str, list]] = {}
            for dk, bx in grouped.items():
                lvl = _ready_level(dk) if dk else 0
                tgt = merged.setdefault((lvl, dk[:lvl]), {})
                for x, es in bx.items():
                    tgt.setdefault(x, []).extend(es)
            sched: dict[int, list] = {}
            for (lvl, _pk), bx in merged.items():
                sched.setdefault(lvl, []).append(bx)
            with ThreadPoolExecutor(max(workers, 16)) as bpool:
                # level-0 groups have no persisted base to wait for;
                # each later group queues as soon as ITS base's level
                # finishes materializing, not after all levels
                futs = [bpool.submit(_batched_bars, e) for e in sched.pop(0, [])]
                for level in sorted(by_level):
                    group = by_level[level]
                    with ThreadPoolExecutor(min(8, len(group))) as mpool:
                        list(mpool.map(lambda b: b.count(), group))
                    futs += [
                        bpool.submit(_batched_bars, e)
                        for e in sched.pop(level, [])
                    ]
                for lvl in sorted(sched):  # defensive flush
                    futs += [bpool.submit(_batched_bars, e) for e in sched[lvl]]
                for f in futs:
                    f.result()

        with ThreadPoolExecutor(2) as sides:
            for f in [sides.submit(_sample_side), sides.submit(_table_side)]:
                f.result()

    def release(self, sample: bool = True) -> None:
        """Unpersist this executor's Spark-side storage: the derived
        bases, and with ``sample`` (the default) the cached sample too.
        The memo tables hold collected pandas frames and stay valid.

        Two uses: after each search of a session, ``sample=False`` drops
        only the derived bases (a later search needs them only for bar
        aggregates it has not memoized yet, and rebuilds those); on
        re-ingest, close, or the end of a one-shot ``recommend()``, the
        default drops everything.

        The Spark-side calls run on a daemon thread: every result the
        caller sees is already driver-side pandas by this point, and
        the ~40 py4j round-trips (each ``.rdd`` conversion + unpersist
        is a blocking socket exchange) measured ~1.1 s of pure
        response-latency tail at sf0.1. The base memo is detached
        SYNCHRONOUSLY (captured into the closure, then cleared), so a
        later search on this executor can never race the cleanup — it
        derives and persists fresh bases. The SPARK-side cache is a
        different story: CacheManager uncaches by analyzed-plan
        equality, so the drop thread is registered in _PENDING_RELEASES,
        and Executor construction and prefetch join it before persisting
        anything plan-identical (ADVICE r12)."""
        import threading

        dropped = [self.sample] if sample else []
        dropped += self._derived_bases.values()
        self._derived_bases.clear()
        self._persisted_base_keys.clear()
        self._pruned_base_keys.clear()

        def _drop() -> None:
            for base in dropped:
                try:
                    base.unpersist()
                except Exception:
                    pass

        th = threading.Thread(target=_drop, daemon=True, name="executor-release")
        th.start()
        _PENDING_RELEASES.append(th)

    def _derived_base(
        self,
        derive: list[Step],
        keep_fn=None,
    ) -> DataFrame:
        """Derived table for an append-step chain, memoized on the FULL
        chain key but built from the longest shared prefix — sibling
        paths like (rank, sub) / (rank, div) / (rank, mul) share one
        cached rank table instead of re-running the expensive rank.

        Only chains whose LAST step is expensive (rank/nominalize — a
        full-table shuffle) are persisted; arithmetic append steps
        (sum/sub/mul/div) are narrow per-row expressions, so their
        "table" stays a lazy projection over the persisted parent —
        persisting those too re-materialized the whole table once per
        arithmetic variant (~3 extra full 6M-row writes per recommend
        at sf1) to cache what codegen computes for free in the
        consuming aggregate's scan.

        ``keep_fn`` (prefetch's registration pass): ``chain_key ->
        set[str]`` giving, PER LEVEL, the columns any consumer of that
        prefix can still touch — the union over every bar job of its
        groupBy x / output columns plus the inputs of steps BEYOND the
        prefix, across all registered chains extending it (so sibling
        chains sharing the prefix can't find it over-pruned). Two
        effects on a rank/nominalize level:

        * the COMPUTATION itself is reduced to the consumed outputs —
          the engine's shared rank step ranks every real column of the
          table (plans/search._ranked_profile), but a wide table's bar
          consumers touch a handful, and ranked columns are mutually
          independent, so the melt/exchange shrinks from O(table
          width) to O(consumed width) with identical values
          (r9 verdict item 5: the 102-column stress spent 13.3 s
          materializing a full-width rank chain);
        * the PERSISTED projection drops everything a consumer can't
          touch — including the rank inputs themselves once no later
          step or bar job reads them.

        Only applied when the chain is first registered; memo hits
        ignore the hint. Public-API callers that later need a pruned
        column are caught by bar_aggregate's missing-column check →
        _rebuild_base_unpruned."""
        if not derive:
            return self.df
        key = _chain_key(derive)
        if key not in self._derived_bases:
            parent = self._derived_base(derive[:-1], keep_fn=keep_fn)
            step = derive[-1]
            parent_key = _chain_key(derive[:-1])
            parent_pruned = bool(derive[:-1]) and parent_key in self._pruned_base_keys
            if (
                step.i_type == "=="
                and any(c not in parent.columns for c in (step.i or []))
                and derive[:-1]
            ):
                # public-API chain extension over a parent pruned for a
                # different consumer set: rebuild the prefix unpruned
                # (the in-prefetch keep_fn always includes later-step
                # inputs, so registration never lands here)
                parent = self._rebuild_base_unpruned(derive[:-1])
                parent_pruned = False
            elif step.i_type != "==" and parent_pruned:
                # dynamic selectors (num/all/like) resolve their input
                # set FROM the parent's columns, so a pruned parent
                # silently changes what the step computes over (a value
                # change with no missing-column error to catch it) —
                # rebuild the prefix unpruned before resolving (ADVICE
                # r10). recommend() only emits '==' steps; this is the
                # direct-API path.
                parent = self._rebuild_base_unpruned(derive[:-1])
                parent_pruned = False
            keep = keep_fn(key) if keep_fn is not None else None
            reduced = False
            if (
                keep is not None
                and step.t in ("rank", "nominalize")
                and step.i_type == "=="
                and step.index
                and len(step.i) == len(step.index)
            ):
                used = [j for j, o in enumerate(step.index) if o in keep]
                if used and len(used) < len(step.index):
                    reduced = True
                    step = Step(
                        t=step.t,
                        i_type=step.i_type,
                        i=[step.i[j] for j in used],
                        index=[step.index[j] for j in used],
                        o_type=step.o_type,
                    )
            child = apply_tpath(parent, [step])
            if step.t in ("rank", "nominalize"):
                if keep is not None:
                    # RID always survives: a downstream rank step uses it
                    # as the pandas-faithful tie-break, and apply_step
                    # silently drops the tie-break when RID is absent —
                    # a value change, not an error
                    pruned = [
                        c for c in child.columns if c in keep or c == RID
                    ]
                    if pruned:
                        if len(pruned) < len(child.columns):
                            reduced = True
                        child = child.select(*pruned)
                child = child.persist()
                self._persisted_base_keys.add(key)
            if parent_pruned or reduced:
                self._pruned_base_keys.add(key)
            self._derived_bases[key] = child
        return self._derived_bases[key]

    def _rebuild_base_unpruned(self, derive: list[Step]) -> DataFrame:
        """Evict every memoized prefix of ``derive``'s chain — AND every
        memoized longer chain extending one of those prefixes, whose
        cached frames reference the about-to-be-unpersisted parents —
        then re-derive with no column pruning. Recovery path for a
        public-API ``bar_aggregate`` whose columns were pruned away by a
        prior prefetch registration (ADVICE r8); never taken by
        recommend(), whose registration pass supplies the union of all
        consumers."""
        evicted = {
            _chain_key(derive[:k_len]) for k_len in range(1, len(derive) + 1)
        }
        stale = [
            k
            for k in self._derived_bases
            if k in evicted or any(k[: len(e)] == e for e in evicted)
        ]
        for key in stale:
            cached = self._derived_bases.pop(key, None)
            self._pruned_base_keys.discard(key)
            if cached is not None and key in self._persisted_base_keys:
                self._persisted_base_keys.discard(key)
                try:
                    cached.unpersist()
                except Exception:
                    pass
        return self._derived_base(derive)


def _chain_key(steps) -> tuple:
    """Canonical memo key of an append-step chain — the ONE place the
    per-step tuple shape lives (_derived_base, prefetch's bar grouping,
    and the rebuild eviction all key with it)."""
    return tuple(
        (s.t, s.i_type, tuple(s.i), s.o_type, tuple(s.index)) for s in steps
    )


def _prefer_derived(cand: Candidate) -> list[str]:
    """Series-limiting order: derived (non-source) columns first
    (reference search.py:940-947,1049-1055)."""
    derived = [c for c in cand.out_cols if c in cand.derived]
    source = [c for c in cand.out_cols if c not in cand.derived]
    return derived + source


# non-str dict key: real column names are always str, so this can never
# collide with one in an _entry_name_contents map
_CHAIN_CLASS = ("__chain_class__",)


def _entry_name_contents(
    x_col: str, y_cand: Candidate | None, agg: str
) -> dict[Any, tuple]:
    """Every column name a bar entry touches on the shared merged base,
    mapped to the CONTENT that must produce it: ``()`` for a column read
    from the original table, else the ``_chain_key`` of the producing
    chain PREFIX (lineage-inclusive: step tuples that are themselves
    equal but sit over different upstream derivations map differently,
    because the prefix key embeds the upstream steps).

    Chains containing a dynamic selector (``i_type`` != "==", e.g.
    num/all/like) resolve their input set FROM the base's columns at
    apply time, so ANY foreign derived column on a shared base changes
    what they compute over — such a chain is classed by its full chain
    key under the reserved ``_CHAIN_CLASS`` slot and therefore merges
    only with entries of the identical chain."""
    named: dict[Any, tuple] = {x_col: (), _CHAIN_CLASS: ()}
    if agg == "count" or y_cand is None:
        return named
    chain = [s for s in y_cand.steps if s.o_type == "append"]
    if any(s.i_type != "==" for s in chain):
        named[_CHAIN_CLASS] = _chain_key(chain)
    for i, s in enumerate(chain):
        for n in s.i or []:
            named.setdefault(n, ())  # read from the table unless derived above
        pk = _chain_key(chain[: i + 1])
        for n in s.index or []:
            named[n] = pk
    for n in _prefer_derived(y_cand)[:MAX_SERIES]:
        named.setdefault(n, ())  # summed source column: original content
    return named


def _split_name_conflicts(by_x: dict[str, list]) -> list[dict[str, list]]:
    """Partition a merged bar group (x column → prefetch entries) into
    parts whose touched column names are content-consistent, i.e. within
    a part each name maps to exactly one producing content per
    ``_entry_name_contents``. Greedy first-fit keeps the common case —
    no collisions — as ONE part, so the r12 single-job batching is
    unchanged except when a collision would have produced wrong values
    (r12 verdict live repro: two clusters both deriving "sub: (temp)")."""
    groups: list[tuple[dict[Any, tuple], dict[str, list]]] = []
    for x_col in sorted(by_x):
        for entry in by_x[x_col]:
            _key, _x, y_cand, agg = entry
            named = _entry_name_contents(x_col, y_cand, agg)
            for gmap, gbx in groups:
                if all(gmap.get(n, v) == v for n, v in named.items()):
                    gmap.update(named)
                    gbx.setdefault(x_col, []).append(entry)
                    break
            else:
                groups.append((dict(named), {x_col: [entry]}))
    return [g for _, g in groups]


def recommend(
    df: DataFrame,
    profile: TableProfile | None = None,
    chart_types: list[str] | None = None,
    dm_ts: list[str] | None = None,
    sample_cap: int = 1000,
    slist: dict[str, bool] | None = None,
    max_channel_candidates: int = 12,
    max_depth: int = 2,
    executor: Executor | None = None,
) -> RecommendResult:
    """Run the full recommendation pipeline and return ranked charts +
    provenance. ``max_depth`` defaults lower than the reference's 5:
    Pareto-surviving depth>2 chains add cost quadratically and the
    reference itself prunes most of them.

    ``executor``: the table's long-lived Executor (built over ``df``
    with ``sample_cap``, e.g. by ``api.EngineSession``). Frames it
    memoized in earlier calls are reused, and only its derived bases are
    released at the end; without one, a fresh Executor is built and
    fully released (``sample_cap`` then sizes its sample)."""
    chart_types = chart_types or list(VLIST)
    dm_ts = dm_ts or ["pca", "kmeans", "mds", "dbscan"]
    slist = {**SLIST_DEFAULT, **(slist or {})}

    if profile is None:
        profile = profile_table(df)
    pools = enumerate_tpaths(profile, max_depth=max_depth)
    ex = executor if executor is not None else Executor(df, sample_cap)

    # channel candidate lists: (t-name, Candidate, coret-or-None)
    def num2() -> list[tuple[str, Candidate, str | None]]:
        out = []
        for t in dm_ts:
            if CORE_T[t].out_type != "num":
                continue
            for cand in pools["dm"]:
                out.append((t, cand, t))
        return out[:max_channel_candidates]

    def cat1() -> list[tuple[str, Candidate, str | None]]:
        out = []
        for t in dm_ts:
            if CORE_T[t].out_type != "cat":
                continue
            for cand in pools["dm"]:
                out.append((t, cand, t))
        for cand in pools["null_nom1"]:
            out.append(("null_nom1", cand, None))
        return out[:max_channel_candidates]

    def num1() -> list[tuple[str, Candidate, str | None]]:
        return [("null_num1", c, None) for c in pools["null_num1"]][:max_channel_candidates]

    def numN() -> list[tuple[str, Candidate, str | None]]:
        return [("null_num", c, None) for c in pools["null_num"]][:max_channel_candidates]

    def nom1() -> list[tuple[str, Candidate, str | None]]:
        return [("null_nom1", c, None) for c in pools["null_nom1"]][:max_channel_candidates]

    charts: list[ChartCandidate] = []

    def ch_info(t: str, cand: Candidate, cols: list[str]) -> dict[str, Any]:
        return {"t": t, "steps": [s.to_dict() for s in cand.steps], "cols": cols}

    # materialize candidate lists once, then fill the executor's memo
    # tables with concurrent Spark jobs before the (serial) assembly
    n2, c1, n1, nN, m1 = num2(), cat1(), num1(), numN(), nom1()
    frame_jobs: list[tuple[Candidate, str | None]] = []
    if {"num_scatter", "cat_scatter"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in n2]
        if "num_scatter" in chart_types:
            frame_jobs += [(cand, coret) for _, cand, coret in n1]
        if "cat_scatter" in chart_types:
            frame_jobs += [(cand, coret) for _, cand, coret in c1]
    if {"rel_line", "rel_cat_line", "ord_cat_line"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in n1]
    if {"rel_line", "ord_line"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in nN]
    if {"rel_cat_line", "ord_cat_line"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in m1]
    bar_jobs: list[tuple[str, Candidate | None, str]] = []
    if "sum_bar" in chart_types:
        for _, xc, _c in m1:
            for _, yc, _c2 in nN:
                bar_jobs.append((xc.out_cols[0], yc, "sum"))
    if "count_bar" in chart_types:
        for _, xc, _c in m1:
            bar_jobs.append((xc.out_cols[0], None, "count"))
    ex.prefetch(frame_jobs, bar_jobs)

    # ---- scatters: xy (dim2 num) × color (num or cat) ----
    if "num_scatter" in chart_types or "cat_scatter" in chart_types:
        for t, cand, coret in n2:
            xy = ex.channel_frame(cand, coret)
            if xy is None or len(xy.columns) != 3:
                continue
            cx, cy = [c for c in xy.columns if c != RID]
            # scagnostics depend only on the xy point cloud — compute the
            # MST metrics ONCE per xy candidate, not per color pairing
            # (the reference recomputes per chart; same values, ~#colors×
            # less MST work)
            sg_xy = scagnostics(
                xy[cx].to_numpy(dtype=float), xy[cy].to_numpy(dtype=float)
            )
            if "num_scatter" in chart_types:
                for ct, ccand, ccoret in n1:
                    col_f = ex.channel_frame(ccand, ccoret)
                    if col_f is None:
                        continue
                    merged = _merge_rid(xy, col_f)
                    ccol = [c for c in col_f.columns if c != RID][0]
                    charts.append(
                        _score_scatter(
                            "num_scatter", merged, cx, cy, ccol, False, slist,
                            {"xy": ch_info(t, cand, [cx, cy]), "color": ch_info(ct, ccand, [ccol])},
                            sg=sg_xy,
                        )
                    )
            if "cat_scatter" in chart_types:
                for ct, ccand, ccoret in c1:
                    col_f = ex.channel_frame(ccand, ccoret)
                    if col_f is None:
                        continue
                    merged = _merge_rid(xy, col_f)
                    ccol = [c for c in col_f.columns if c != RID][0]
                    charts.append(
                        _score_scatter(
                            "cat_scatter", merged, cx, cy, ccol, True, slist,
                            {"xy": ch_info(t, cand, [cx, cy]), "color": ch_info(ct, ccand, [ccol])},
                            sg=sg_xy,
                        )
                    )

    # ---- lines ----
    if "rel_line" in chart_types:
        for xt, xc, _ in n1:
            xf = ex.channel_frame(xc, None)
            if xf is None:
                continue
            xcol = [c for c in xf.columns if c != RID][0]
            for yt, yc, _ in nN:
                yf = ex.channel_frame(yc, None)
                if yf is None:
                    continue
                ycols = [c for c in _prefer_derived(yc) if c in yf.columns and c != xcol][:MAX_SERIES]
                if not ycols:
                    continue
                merged = _merge_rid(xf, yf[[RID] + ycols]).sort_values(xcol)
                sc = {}
                if slist.get("linearness"):
                    sc["linearness"] = float(
                        np.mean([sig_linearness(merged[c].to_numpy(), merged[xcol].to_numpy()) for c in ycols])
                    )
                if slist.get("correlation") and len(ycols) >= 2:
                    sc["correlation"] = sig_correlation(merged[ycols].to_numpy())
                charts.append(
                    ChartCandidate(
                        "rel_line",
                        {"x": ch_info(xt, xc, [xcol]), "y": ch_info(yt, yc, ycols)},
                        sc,
                        float(np.mean(list(sc.values()))) if sc else 0.0,
                        merged[[xcol] + ycols],
                    )
                )

    if "ord_line" in chart_types:
        for yt, yc, _ in nN:
            yf = ex.channel_frame(yc, None)
            if yf is None:
                continue
            ycols = [c for c in _prefer_derived(yc) if c in yf.columns][:MAX_SERIES]
            merged = yf.sort_values(RID)
            sc = {}
            if slist.get("linearness"):
                sc["linearness"] = float(np.mean([sig_linearness(merged[c].to_numpy()) for c in ycols]))
            if slist.get("correlation") and len(ycols) >= 2:
                sc["correlation"] = sig_correlation(merged[ycols].to_numpy())
            charts.append(
                ChartCandidate(
                    "ord_line",
                    {"y": ch_info(yt, yc, ycols)},
                    sc,
                    float(np.mean(list(sc.values()))) if sc else 0.0,
                    merged[ycols],
                )
            )

    # ---- category-split lines (reference rel_cat_line/ord_cat_line,
    # search.py:1588-1719): one numeric y per nominal category series ----
    if "rel_cat_line" in chart_types or "ord_cat_line" in chart_types:
        # the inner (x, y) merge repeats VERBATIM for every grouping
        # candidate g — memoize it per frame-identity pair (_merge_rid is
        # pure; channel frames are memoized objects, so ids are stable
        # for the life of this call). Loop and chart-append order are
        # untouched (dedup keep-first + provenance ids depend on them).
        _xy_memo: dict[tuple[int, int], pd.DataFrame] = {}
        for gt, gc, _ in m1:
            gf = ex.channel_frame(gc, None)
            if gf is None:
                continue
            gcol = [c for c in gf.columns if c != RID][0]
            cats = pd.unique(gf[gcol])
            if not (2 <= len(cats) <= MAX_SERIES):
                continue  # series cap (reference MAXLINENUMINCHART)
            for yt, yc, _ in n1:
                yf = ex.channel_frame(yc, None)
                if yf is None:
                    continue
                ycol = [c for c in yf.columns if c != RID][0]
                if "rel_cat_line" in chart_types:
                    for xt, xc, _ in n1:
                        if xc is yc:
                            continue
                        xf = ex.channel_frame(xc, None)
                        if xf is None:
                            continue
                        xcol = [c for c in xf.columns if c != RID][0]
                        if xcol == ycol:
                            continue
                        _mk = (id(xf), id(yf))
                        _xy = _xy_memo.get(_mk)
                        if _xy is None:
                            _xy = _xy_memo[_mk] = _merge_rid(xf, yf)
                        merged = _merge_rid(_xy, gf).sort_values(xcol)
                        # pandas == for the mask (None/NA semantics),
                        # numpy for the slice — same rows in the same
                        # order as merged.loc[mask, ycol].to_numpy()
                        _gs = merged[gcol]
                        _yv = merged[ycol].to_numpy()
                        series = [
                            _yv[(_gs == cat).to_numpy()] for cat in cats
                        ]
                        sc = {}
                        if slist.get("linearness"):
                            sc["linearness"] = float(
                                np.mean([sig_linearness(s) for s in series if len(s) >= 3] or [0.0])
                            )
                        charts.append(
                            ChartCandidate(
                                "rel_cat_line",
                                {
                                    "x": ch_info(xt, xc, [xcol]),
                                    "y": ch_info(yt, yc, [ycol]),
                                    "color": ch_info(gt, gc, [gcol]),
                                },
                                sc,
                                float(np.mean(list(sc.values()))) if sc else 0.0,
                                merged[[xcol, ycol, gcol]],
                            )
                        )
                if "ord_cat_line" in chart_types:
                    merged = _merge_rid(yf, gf).sort_values(RID)
                    _gs = merged[gcol]
                    _yv = merged[ycol].to_numpy()
                    series = [_yv[(_gs == cat).to_numpy()] for cat in cats]
                    sc = {}
                    if slist.get("linearness"):
                        sc["linearness"] = float(
                            np.mean([sig_linearness(s) for s in series if len(s) >= 3] or [0.0])
                        )
                    charts.append(
                        ChartCandidate(
                            "ord_cat_line",
                            {"y": ch_info(yt, yc, [ycol]), "color": ch_info(gt, gc, [gcol])},
                            sc,
                            float(np.mean(list(sc.values()))) if sc else 0.0,
                            merged[[ycol, gcol]],
                        )
                    )

    # ---- bars (full-table distributed aggregation) ----
    if "sum_bar" in chart_types:
        for xt, xc, _ in m1:
            xcol = xc.out_cols[0]
            for yt, yc, _ in nN:
                agg = ex.bar_aggregate(xcol, yc, "sum")
                if agg is None or agg.empty:
                    continue
                ys = [c for c in agg.columns if c != xcol]
                sc = {}
                if slist.get("outstanding1"):
                    sc["outstanding1"] = float(
                        np.mean([sig_outstanding1(agg[c].to_numpy()) for c in ys])
                    )
                charts.append(
                    ChartCandidate(
                        "sum_bar",
                        {"x": ch_info(xt, xc, [xcol]), "y": ch_info(yt, yc, ys)},
                        sc,
                        float(np.mean(list(sc.values()))) if sc else 0.0,
                        agg.copy(deep=False),
                    )
                )

    if "count_bar" in chart_types:
        for xt, xc, _ in m1:
            xcol = xc.out_cols[0]
            agg = ex.bar_aggregate(xcol, None, "count")
            if agg is None or agg.empty:
                continue
            sc = {}
            if slist.get("outstanding1"):
                sc["outstanding1"] = sig_outstanding1(agg["COUNT"].to_numpy())
            charts.append(
                ChartCandidate(
                    "count_bar",
                    {"x": ch_info(xt, xc, [xcol])},
                    sc,
                    float(np.mean(list(sc.values()))) if sc else 0.0,
                    agg.copy(deep=False),
                )
            )

    ranked = _rank_dedup(charts)
    # every downstream artifact is driver-side pandas by now: release the
    # derived bases (and a one-shot executor's sample) so repeated
    # recommend() calls (a serving process, the bench suite) don't
    # accumulate persisted RDDs and GC pressure
    ex.release(sample=executor is None)
    return RecommendResult(ranked, profile, _provenance(ranked))


def _score_scatter(
    ctype: str,
    merged: pd.DataFrame,
    cx: str,
    cy: str,
    ccol: str,
    cat_color: bool,
    slist: dict[str, bool],
    channels: dict[str, dict[str, Any]],
    sg: dict[str, float] | None = None,
) -> ChartCandidate:
    x = merged[cx].to_numpy(dtype=float)
    y = merged[cy].to_numpy(dtype=float)
    sc: dict[str, float] = {}
    if sg is None:
        sg = scagnostics(x, y)
    for k, v in sg.items():
        if slist.get(k):
            sc[k] = v * 100.0
    if cat_color and slist.get("cdm"):
        sc["cdm"] = cdm_score(x, y, merged[ccol].to_numpy())
    if slist.get("dispersion") or slist.get("mom_skew") or slist.get("heavytail"):
        from .scoring.insight import moments

        m = moments(y)
        if slist.get("dispersion"):
            sc["dispersion"] = m["variance"]
        if slist.get("mom_skew"):
            sc["mom_skew"] = abs(m["skewness"])
        if slist.get("heavytail"):
            sc["heavytail"] = m["kurtosis"]
    score = float(np.mean(list(sc.values()))) if sc else 0.0
    return ChartCandidate(ctype, channels, sc, score, merged[[cx, cy, ccol]])


def _rank_dedup(charts: list[ChartCandidate]) -> list[ChartCandidate]:
    """Per-type rank + top-k caps + duplicate removal (reference
    search.py:1261-1299)."""
    out: list[ChartCandidate] = []
    for ctype in MAX_PER_TYPE:
        group = [c for c in charts if c.chart_type == ctype]
        group.sort(key=lambda c: -c.score)
        seen: set[tuple] = set()
        kept = []
        for c in group:
            sig = c.signature()
            if sig in seen:
                continue
            seen.add(sig)
            kept.append(c)
            if len(kept) >= MAX_PER_TYPE[ctype]:
                break
        out.extend(kept)
    out.sort(key=lambda c: -c.score)
    return out


def decorate(ret: dict[str, Any]) -> dict[str, Any]:
    """Presentation reorder of the recommendation payload's ``vis_list``
    (reference ``utils.decorate``, utils.py:215-222, applied behind
    BEAUTIFYCASEFLAG, config.py:23 / main.py:106-107): a fixed priority
    order of indices chosen for the reference's demo cases, then every
    remaining chart in original order. Pure presentation — scores and
    provenance are untouched."""
    vis_list = ret.get("vis_list", [])
    order = [0, 2, 3, 6, 12] if len(vis_list) >= 13 else [3, 2, 0, 4, 8, 7]
    for i in range(len(vis_list)):
        if i not in order:
            order.append(i)
    ret = dict(ret)
    ret["vis_list"] = [vis_list[i] for i in order if i < len(vis_list)]
    return ret


def _provenance(charts: list[ChartCandidate]) -> dict[str, Any]:
    """Provenance DAG (reference assembleTtree, search.py:1301-1443):
    D-nodes are data states keyed by canonical step-path JSON (replacing
    the reference's eval-able str(dict) ids — SURVEY watch-list 5),
    V-nodes are charts; edges carry step/T labels."""
    nodes: dict[str, dict[str, Any]] = {"root": {"id": "root", "node_type": "D", "label": "source"}}
    edges: list[dict[str, str]] = []
    vis_list = []
    for i, c in enumerate(charts):
        vid = f"V{i}:{c.chart_type}"
        nodes[vid] = {"id": vid, "node_type": "V", "label": c.chart_type, "score": c.score}
        for ch, info in c.channels.items():
            prev = "root"
            path: list[str] = []
            for s in info["steps"]:
                path.append(f"{s['t']}({','.join(s['i'])})")
                nid = "D:" + ">".join(path)
                if nid not in nodes:
                    nodes[nid] = {"id": nid, "node_type": "D", "label": path[-1]}
                    edges.append({"source": prev, "target": nid, "label": s["t"]})
                prev = nid
            edges.append({"source": prev, "target": vid, "label": f"{ch}:{info['t']}"})
        vis_list.append({"id": vid, "chart_type": c.chart_type, "score": c.score})
    return {"nodes": list(nodes.values()), "edges": edges, "vis_list": vis_list}
