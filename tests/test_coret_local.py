"""Equivalence harness for the driver-side core-T evaluator
(ml/coret_local.py) against the live Spark runners.

Contract under test (mirror of test_steps_local): whenever
``eval_coret_local`` returns a frame it must equal
``CORE_T_RUNNERS[t](derived)`` collected in RID order, byte-for-byte —
values, dtypes, column order, row order — rank chains included.
``None`` means "use Spark"; the tests also pin WHICH shapes must fall
back (nulls/NaN/decimal for pca+kmeans, lda always) and that the
sample-bound transforms (mds/dbscan/tsne/umap) keep serving for
null-bearing frames. The decimal(38,30) cast replication is tripwired
against the LIVE Spark cast so a JVM whose Double.toString diverges
from Python repr fails here instead of drifting silently. The
recommend()-level A/Bs compare the search payload with the evaluators
on against the evaluators forced to refuse (every frame from Spark).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_transformation_2022_spark.ml.coret import CORE_T_RUNNERS
from data_transformation_2022_spark.ml.coret_local import (
    _dec_cast,
    eval_coret_local,
)
from data_transformation_2022_spark.operators.steps import (
    RID,
    Step,
    apply_tpath,
    small_input_mode,
)
from data_transformation_2022_spark.operators.steps_local import eval_steps_local

LOCAL_CORETS = ("pca", "kmeans", "mds", "dbscan", "tsne", "umap")


def _base_pdf(n: int = 40) -> pd.DataFrame:
    rs = np.random.RandomState(7)
    return pd.DataFrame(
        {
            RID: np.arange(n, dtype=np.int64),
            "a": rs.randint(0, 1_000_000, n).astype(np.int64),
            "b": rs.rand(n) * 100.0,
            "c": rs.randint(-50, 50, n).astype(np.int32),
            "d": rs.rand(n) - 0.5,
        }
    )


def _assert_serves(spark, pdf, coret, steps=None):
    sdf = spark.createDataFrame(pdf)
    dtypes = sdf.dtypes
    dpdf = pdf
    if steps:
        res = eval_steps_local(pdf, dtypes, steps)
        assert res is not None, f"step evaluator refused {steps}"
        dpdf, dtypes = res
        with small_input_mode():
            sdf = apply_tpath(sdf, steps)
    loc = eval_coret_local(dpdf, dtypes, coret)
    assert loc is not None, f"expected local serve for {coret}"
    with small_input_mode():
        sp = CORE_T_RUNNERS[coret](sdf)
        assert sp is not None
        # the local frame is RID-ordered by contract; pca/kmeans emit the
        # derived frame's own order, which a rank step changes
        spdf = sp.orderBy(RID).toPandas()
    pd.testing.assert_frame_equal(
        loc,
        spdf,
        check_exact=True,
        check_dtype=True,
    )


def _assert_fallback(pdf, dtypes, coret):
    assert (
        eval_coret_local(pdf, dtypes, coret) is None
    ), f"expected fallback for {coret}"


_RANK_SELECT = [
    Step(t="rank", i_type="==", i=["a", "b", "d"], o_type="append",
         index=["rank a", "rank b", "rank d"]),
    Step(t="select", i_type="==", i=["rank a", "rank b", "rank d"],
         o_type="new_table", index=[]),
]


@pytest.mark.parametrize("coret", LOCAL_CORETS)
def test_select_only_byte_equal(spark, coret):
    _assert_serves(spark, _base_pdf(), coret)


@pytest.mark.parametrize("coret", ("mds", "dbscan"))
def test_order_free_serve_rank_chain(spark, coret):
    """Rank chains reorder the Spark derived frame, but the sample-bound
    transforms re-sort by RID — they must keep serving (values ranked by
    the pinned steps_local contract) and match byte-for-byte."""
    _assert_serves(spark, _base_pdf(), coret, steps=_RANK_SELECT)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_order_bound_fallback_on_rank(spark, coret):
    """pca/kmeans emit rows in the derived frame's own order, which a
    rank step changes on Spark; the local twin serves the rank → select
    chain anyway, in RID order, byte-equal to
    ``CORE_T_RUNNERS[t](apply_tpath(sample, rank → select))`` sorted by
    RID (their fits read RID-ordered rows or order-free aggregates)."""
    _assert_serves(spark, _base_pdf(), coret, steps=_RANK_SELECT)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_fallback_on_nulls_and_nan(spark, coret):
    pdf = _base_pdf()
    pdf.loc[3, "b"] = np.nan
    sdf = spark.createDataFrame(pdf)
    _assert_fallback(pdf, sdf.dtypes, coret)


@pytest.mark.parametrize("coret", ("mds", "dbscan"))
def test_order_free_serves_with_nan(spark, coret):
    """NaN flows through the SAME numpy on both paths — still exact."""
    pdf = _base_pdf()
    pdf.loc[3, "b"] = np.nan
    _assert_serves(spark, pdf, coret)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_fallback_on_decimal(spark, coret):
    from decimal import Decimal

    from pyspark.sql import functions as F

    pdf = _base_pdf()
    sdf = spark.createDataFrame(pdf).withColumn(
        "e", F.col("a").cast("decimal(20,2)")
    )
    dpdf = sdf.toPandas()
    _assert_fallback(dpdf, sdf.dtypes, coret)
    assert isinstance(dpdf["e"].iloc[0], Decimal)


def test_fallback_lda_and_proven_none_guard(spark):
    from data_transformation_2022_spark.ml.coret_local import PROVEN_NONE

    pdf = _base_pdf()
    sdf = spark.createDataFrame(pdf)
    _assert_fallback(pdf, sdf.dtypes, "lda")
    # < MIN_NUMERIC_COLS: the None result is PROVEN from the schema —
    # and it must agree with the live Spark runner's guard
    narrow = pdf[[RID, "a", "b"]]
    ntypes = [(RID, "bigint"), ("a", "bigint"), ("b", "double")]
    for t in ("pca", "kmeans", "mds", "dbscan", "tsne", "umap", "lda"):
        assert eval_coret_local(narrow, ntypes, t) is PROVEN_NONE
    nsdf = spark.createDataFrame(narrow)
    with small_input_mode():
        assert CORE_T_RUNNERS["pca"](nsdf) is None
        assert CORE_T_RUNNERS["mds"](nsdf) is None


def test_pca_wide_path_byte_equal(spark):
    """>PCA_EXACT_MAX_COLS columns → the sample-fit branch, replicated."""
    rs = np.random.RandomState(11)
    n, p = 60, 35
    data = {RID: np.arange(n, dtype=np.int64)}
    for i in range(p):
        data[f"w{i:02d}"] = rs.rand(n) * (i + 1)
    _assert_serves(spark, pd.DataFrame(data), "pca")


def test_decimal_cast_matches_live_spark(spark):
    """JVM tripwire: Decimal(repr(x)).quantize(1e-30, HALF_UP) must equal
    the live CAST(double AS DECIMAL(38,30)) — shortest-round-trip string
    semantics. 16M-value sweep done offline (0 mismatches); this keeps a
    fast randomized guard in CI."""
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        F.rand(seed=5).alias("u"),
        (F.rand(seed=6) * F.rand(seed=7)).alias("prod"),
        (F.rand(seed=8) * F.pow(F.lit(10.0), -(F.col("id") % 30).cast("double"))).alias("tiny"),
    )
    pdf = df.select(
        "u", "prod", "tiny",
        F.col("u").cast("decimal(38,30)").alias("ud"),
        F.col("prod").cast("decimal(38,30)").alias("prodd"),
        F.col("tiny").cast("decimal(38,30)").alias("tinyd"),
    ).toPandas()
    for c, dc in (("u", "ud"), ("prod", "prodd"), ("tiny", "tinyd")):
        for v, d in zip(pdf[c].to_numpy(), pdf[dc]):
            assert _dec_cast(float(v)) == d, f"cast drift at {v!r}"

    # adversarial classes a uniform sweep rarely hits: every power of two
    # the cast can hold (JDK < 19 prints these by a different rule than
    # repr) and its x3 multiple, both signs; subnormals; and the doubles
    # nearest to (and one ulp either side of) halfway points — of the
    # 1e-30 quantum (magnitudes 1e-30..1e-15) and of a 17-digit decimal
    # (magnitudes 1e-15..1)
    import math
    from decimal import Decimal

    rs = np.random.RandomState(13)
    vals = [math.ldexp(1.0, e) for e in range(-1074, 27)]
    vals += [3.0 * v for v in vals if 3.0 * v < 1e8]
    vals += [-v for v in vals]
    vals += [math.ldexp(float(m), -1074) for m in (1, 2, 3, 5, 2**20 + 1, 2**52 - 1)]
    vals += list(rs.rand(200) * 2.2250738585072014e-308)
    for _ in range(300):
        n = int(rs.randint(1, 10**15))
        m = int(rs.randint(10**8, 10**9)) * 10**8 + int(rs.randint(0, 10**8))
        for h in (
            float(Decimal(10 * n + 5).scaleb(-31)),
            float(Decimal(10 * m + 5).scaleb(-18 - int(rs.randint(0, 15)))),
        ):
            vals += [math.nextafter(h, 0.0), h, math.nextafter(h, 1.0)]
    adv = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = adv.select("v", F.col("v").cast("decimal(38,30)").alias("d")).collect()
    assert len(got) == len(vals) > 6000
    bad = [(r.v, r.d) for r in got if _dec_cast(r.v) != r.d]
    assert not bad, f"cast drift at {len(bad)} adversarial values, e.g. {bad[:3]}"


def test_bench_pool_serve_rate(spark, sf_dir):
    """Rot-guard: the core-T-eligible dm candidates of the bench table —
    rank/nominalize chains included — must SERVE locally and byte-match
    the Spark runner over ``apply_tpath(sample, steps)`` sorted by RID,
    so the optimization can't silently decay into always-fallback. A
    proven None must agree with the runner's own None."""
    from data_transformation_2022_spark.engine import NOT_CALCU_DMT, Executor
    from data_transformation_2022_spark.ml.coret_local import PROVEN_NONE
    from data_transformation_2022_spark.plans.search import enumerate_tpaths
    from data_transformation_2022_spark.profiler import profile_table
    from data_transformation_2022_spark.queries import _t

    li = _t(spark, sf_dir, "lineitem", rid=True)
    pools = enumerate_tpaths(profile_table(li), max_depth=2)
    ex = Executor(li, 120)
    try:
        assert NOT_CALCU_DMT  # arithmetic chains never reach a core-T
        eligible = [
            c for c in pools["dm"]
            if not any(s.t in ("sum", "sub", "mul", "div") for s in c.steps)
        ]
        assert any(
            s.t in ("rank", "nominalize") for c in eligible for s in c.steps
        ), "bench dm pool lost its rank chains"
        pdf, types = ex._sample_local()
        served = compared = 0
        for cand in eligible:
            res = eval_steps_local(pdf, types, cand.steps)
            assert res is not None, f"step evaluator refused {cand.steps}"
            for t in ("pca", "kmeans"):
                loc = eval_coret_local(*res, t)
                if loc is None:
                    continue
                served += 1
                with small_input_mode():
                    sp = CORE_T_RUNNERS[t](apply_tpath(ex.sample, cand.steps))
                    if loc is PROVEN_NONE:
                        assert sp is None
                        continue
                    spdf = sp.orderBy(RID).toPandas()
                compared += 1
                pd.testing.assert_frame_equal(
                    loc, spdf, check_exact=True, check_dtype=True
                )
        assert served == 2 * len(eligible), (
            f"core-T local serve rate fell ({served}/{2 * len(eligible)})"
        )
        assert compared >= 1
    finally:
        ex.release()


# ---------------------------------------------------------------------------
# engine-level A/B: search payload identical with the evaluators refusing
# ---------------------------------------------------------------------------


def _spreadsheet(rows: int = 240) -> tuple[list[str], list[list]]:
    """A small spreadsheet-shaped table (ordinal year, one nominal, two
    numeric name families) whose dm pool holds a (rank, select) chain."""
    rng = np.random.default_rng(3)
    i = np.arange(rows)
    cols: dict[str, list] = {
        "Year": (1990 + i // 3).tolist(),
        "Region": [("North", "South", "East")[j] for j in i % 3],
    }
    lat = rng.normal(size=rows)
    for k in range(3):
        v = lat * rng.uniform(0.9, 1.1) + rng.normal(scale=0.05, size=rows)
        cols[f"Temp_{k}"] = np.round(v, 3).tolist()
    lat = rng.exponential(size=rows)
    for k in range(3):
        v = 100 * (lat * rng.uniform(0.9, 1.1) + rng.normal(scale=0.05, size=rows))
        cols[f"Sales {2015 + k}"] = np.round(v).astype("int64").tolist()
    headers = list(cols)
    return headers, [list(r) for r in zip(*(cols[h] for h in headers))]


@pytest.mark.parametrize("table", ["lineitem", "spreadsheet"])
def test_recommend_identical_with_evaluators_refusing(spark, sf_dir, monkeypatch, table):
    """The search payload (and every chart's data frame) with the driver
    evaluators on equals the one built entirely by the Spark fallback."""
    import json

    from data_transformation_2022_spark import engine
    from data_transformation_2022_spark.api import EngineSession, _json_default
    from data_transformation_2022_spark.ml import coret_local
    from data_transformation_2022_spark.plans.search import enumerate_tpaths

    headers, body = _spreadsheet()

    def search():
        s = EngineSession(spark, sample_cap=400)
        if table == "lineitem":
            s.ingest_path(f"{sf_dir}/lineitem.parquet")
            payload = {"dm_ts": ["pca", "kmeans"]}
        else:
            s.ingest_records(headers, body)
            dm = enumerate_tpaths(s.profile, max_depth=2)["dm"]
            assert any(
                [st.t for st in c.steps] == ["rank", "select"] for c in dm
            ), "spreadsheet dm pool lost its (rank, select) chain"
            payload = {}
        out = json.dumps(s.search(payload), sort_keys=True, default=_json_default)
        data = [c.data for c in s.result.charts]
        s.close()
        return out, data

    on, on_data = search()
    monkeypatch.setattr(engine, "eval_steps_local", lambda *a: None)
    monkeypatch.setattr(coret_local, "eval_coret_local", lambda *a: None)
    off, off_data = search()
    assert on == off
    assert len(on_data) == len(off_data) > 0
    for a, b in zip(on_data, off_data):
        pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=True)
