"""Session API tests: the four endpoint behaviors (ingest/profile,
search, addT, addV) driven as plain dict-in/dict-out calls."""

from __future__ import annotations

import json

import pytest

from data_transformation_2022_spark.api import EngineSession, decode_path, path_id


@pytest.fixture(scope="module")
def session(spark, sf_dir):
    s = EngineSession(spark, sample_cap=500)
    s.ingest_path(f"{sf_dir}/nation.parquet")
    return s


def test_ingest_profile_shape(session, sf_dir):
    s = EngineSession(session.spark, sample_cap=500)
    ret = s.ingest_path(f"{sf_dir}/region.parquet")
    assert ret["columns"]["headers"][0] == "attribute"
    names = [row[0] for row in ret["columns"]["body"]]
    assert "r_regionkey" in names and "r_name" in names
    key_rows = [row for row in ret["columns"]["body"] if row[5] == "T"]
    assert key_rows, "region must have a detected key column"


def test_search_returns_ranked_charts(spark, sf_dir):
    # customer: c_mktsegment is nominal (5 distinct / 1500 rows) → bars exist
    s = EngineSession(spark, sample_cap=500)
    s.ingest_path(f"{sf_dir}/customer.parquet")
    ret = s.search({"vlist": ["bar"]})
    assert "charts" in ret and "provenance" in ret
    assert len(ret["charts"]) >= 1
    scores = [c["score"] for c in ret["charts"]]
    assert scores == sorted(scores, reverse=True)
    assert all(c["chart_type"] in ("sum_bar", "count_bar") for c in ret["charts"])


def test_add_t_replays_and_extends(session):
    ret = session.add_t(
        "root",
        "sum",
        {"i_type": "==", "i": ["n_nationkey", "n_regionkey"], "o_type": "append", "index": ["keysum"]},
    )
    nid = ret["highlight"]
    steps = decode_path(nid)
    assert steps[-1]["t"] == "sum" and path_id(steps) == nid
    assert "keysum" in ret["result"]["nodes"][0]["columns"]
    ret2 = session.add_t(nid, "rank", {"i_type": "==", "i": ["keysum"], "o_type": "append"})
    assert len(decode_path(ret2["highlight"])) == 2
    prev = ret2["result"]["preview"]
    assert "rank keysum" in prev and len(prev["rank keysum"]) > 0


def test_add_v_count_bar(session):
    x_id = path_id(
        [{"t": "select", "i_type": "==", "i": ["n_regionkey"], "o_type": "new_table", "index": [], "args": []}]
    )
    ret = session.add_v("count_bar", {"x": x_id})
    data = ret["result"]["data"]
    assert set(data) == {"n_regionkey", "COUNT"}
    assert sum(data["COUNT"]) == 25  # nation has 25 rows at every SF


def test_node_ids_are_json_not_eval(session):
    nid = session.add_t("root", "rank", {"i_type": "==", "i": ["n_nationkey"], "o_type": "append"})[
        "highlight"
    ]
    parsed = json.loads(nid)  # must be plain JSON — no eval anywhere
    assert isinstance(parsed, list) and parsed[0]["t"] == "rank"


def test_search_cat_lines_present(session):
    ret = session.search({"vlist": ["line"]})
    types = {c["chart_type"] for c in ret["charts"]}
    assert types <= {"rel_line", "ord_line", "rel_cat_line", "ord_cat_line"}
    assert len(ret["charts"]) >= 1


def test_add_t_preview_with_dates_encodes(spark):
    """An add_t preview of a table with a date and a timestamp column is
    encodable as the server encodes it: dates and timestamps as ISO
    strings, a null timestamp (NaT after collect) as null."""
    import datetime

    from pyspark.sql import types as T

    from data_transformation_2022_spark.api import _json_default

    schema = T.StructType(
        [
            T.StructField("v", T.LongType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        (i, datetime.date(2020, 1, 1 + i),
         None if i == 2 else datetime.datetime(2021, 3, 4, 5, 6, i))
        for i in range(5)
    ]
    s = EngineSession(spark, sample_cap=100)
    s._ingest(spark.createDataFrame(rows, schema))
    ret = s.add_t("root", "rank", {"i_type": "==", "i": ["v"], "o_type": "append"})
    back = json.loads(json.dumps(ret, default=_json_default))
    prev = back["result"]["preview"]
    assert prev["d"] == [f"2020-01-0{1 + i}" for i in range(5)]
    assert prev["ts"] == [
        None if i == 2 else f"2021-03-04T05:06:0{i}" for i in range(5)
    ]
    assert prev["rank v"] == [1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# live HTTP integration: the four routes served end-to-end (stdlib shim —
# the container has no Flask; create_http_server is the same session
# surface behind real sockets)
# ---------------------------------------------------------------------------


def _post(port: int, route: str, payload: dict) -> dict:
    import urllib.request

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{route}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.headers["Access-Control-Allow-Origin"] == "*"
        return json.loads(resp.read().decode())


def test_http_server_all_four_routes(spark):
    import threading

    from data_transformation_2022_spark.api import create_http_server

    server = create_http_server(EngineSession(spark, sample_cap=500))
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        # EP1: ingest via records (reference /vis/csv shape)
        ingest = _post(
            port,
            "/vis/csv",
            {
                "headers": ["name", "grp", "v1", "v2"],
                "body": [[f"row{i}", "ab"[i % 2], i, i * 2] for i in range(40)],
            },
        )
        assert ingest["columns"]["headers"][0] == "attribute"
        assert {r[0] for r in ingest["columns"]["body"]} >= {"name", "grp", "v1"}

        # EP2: search
        found = _post(port, "/vis/search", {"vlist": ["bar"]})
        assert "charts" in found and "provenance" in found

        # EP3a: addT
        added = _post(
            port,
            "/vis/addT",
            {"pid": "root", "t": "sum",
             "para": {"i_type": "==", "i": ["v1", "v2"], "o_type": "append",
                      "index": ["vsum"]}},
        )
        assert "vsum" in added["result"]["nodes"][0]["columns"]

        # EP3b: addV
        x_id = path_id(
            [{"t": "select", "i_type": "==", "i": ["grp"], "o_type": "new_table",
              "index": [], "args": []}]
        )
        chart = _post(port, "/vis/addV", {"vtype": "count_bar", "channels": {"x": x_id}})
        assert set(chart["result"]["data"]) == {"grp", "COUNT"}
        assert sum(chart["result"]["data"]["COUNT"]) == 40

        # unknown route → 404, bad payload → 500 JSON error (no crash)
        import urllib.error

        try:
            _post(port, "/vis/nope", {})
            assert False, "404 expected"
        except urllib.error.HTTPError as e:
            assert e.code == 404
        try:
            _post(port, "/vis/addV", {"vtype": "mystery", "channels": {}})
            assert False, "500 expected"
        except urllib.error.HTTPError as e:
            assert e.code == 500 and "error" in json.loads(e.read().decode())
    finally:
        server.shutdown()
        server.server_close()


# ---------------------------------------------------------------------------
# one Executor per ingested table: the session's sample and frame/bar memo
# carry over from search to search
# ---------------------------------------------------------------------------


def _sheet(rows: int = 300) -> tuple[list[str], list[list]]:
    """A spreadsheet-shaped table: ordinal year, two nominals, and three
    numeric name families, so the profile finds several dimension
    clusters for an analyst to edit."""
    import numpy as np

    rng = np.random.default_rng(7)
    i = np.arange(rows)
    cols: dict[str, list] = {
        "Year": (1980 + i // 4).tolist(),
        "Region": [("North", "South", "East", "West")[j] for j in i % 4],
        "Tier": [("A", "B")[j] for j in (i // 5) % 2],
    }
    for fam, scale in (("Temp", 1.0), ("Sales", 100.0), ("Rain", 10.0)):
        lat = rng.normal(size=rows)
        for k in range(3):
            v = scale * (lat * rng.uniform(0.9, 1.1) + rng.normal(scale=0.1, size=rows))
            cols[f"{fam}_{k}"] = np.round(v, 3).tolist()
    headers = list(cols)
    return headers, [list(r) for r in zip(*(cols[h] for h in headers))]


def _payload(ret: dict) -> str:
    from data_transformation_2022_spark.api import _json_default

    return json.dumps(ret, sort_keys=True, default=_json_default)


def _assert_same_charts(got: list, want: list) -> None:
    import pandas as pd

    assert len(got) == len(want) > 0
    for a, b in zip(got, want):
        pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=True)


def _fresh(spark, ingest, payload: dict) -> tuple[str, list]:
    """What a fresh session returns for one request."""
    s = EngineSession(spark)
    ingest(s)
    try:
        ret = _payload(s.search(dict(payload)))
        return ret, [c.data for c in s.result.charts]
    finally:
        s.close()


def _spark_jobs(spark, fn):
    """(fn(), ids of the Spark jobs it submitted). The job group marks
    this thread's jobs; the prefetch pools' threads do not inherit it, so
    new jobs without a group are counted too."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = "test-api-session-jobs"
    before = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, "session search")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, set(st.getJobIdsForGroup(group)) | (set(st.getJobIdsForGroup(None)) - before)


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_session_sample_stays_cached(spark):
    """A search must not evict the session's cached sample: the sample
    stays cached (one object, never recomputed from the source) through
    search -> add_t -> add_v -> re-search."""
    headers, body = _sheet()
    s = EngineSession(spark, sample_cap=200)
    s.ingest_records(headers, body)
    sample = s.executor.sample
    assert _is_cached(sample)
    try:
        s.search({})
        assert s.executor.sample is sample and _is_cached(sample)
        s.add_t("root", "rank", {"i_type": "==", "i": ["Temp_0"], "o_type": "append"})
        assert _is_cached(sample)
        x_id = path_id(
            [{"t": "select", "i_type": "==", "i": ["Region"], "o_type": "new_table",
              "index": [], "args": []}]
        )
        s.add_v("count_bar", {"x": x_id})
        assert _is_cached(sample)
        s.search({"vlist": ["bar"]})
        assert s.executor.sample is sample and _is_cached(sample)
    finally:
        s.close()


def test_session_equivalence_lineitem(spark, sf_dir):
    """The analyst flow on sf0.001 lineitem: every search of one session
    returns the payload and chart data a fresh session returns for the
    same request, and a repeated search submits no Spark job."""
    path = f"{sf_dir}/lineitem.parquet"
    flow = [
        {},
        {"vlist": ["bar"]},
        {"vlist": ["scatter"], "dm_ts": ["pca", "kmeans"]},
        {},
    ]
    s = EngineSession(spark)
    s.ingest_path(path)
    try:
        got = []
        for i, payload in enumerate(flow):
            ret, jobs = _spark_jobs(spark, lambda p=payload: s.search(dict(p)))
            got.append((_payload(ret), [c.data for c in s.result.charts]))
            if i == 0:
                assert jobs, "the first search must run Spark jobs (counter check)"
            if i == len(flow) - 1:
                assert jobs == set(), f"repeated search submitted Spark jobs {sorted(jobs)}"
    finally:
        s.close()
    assert got[0][0] == got[-1][0]
    for (payload, data), request in zip(got, flow):
        want, want_data = _fresh(spark, lambda f: f.ingest_path(path), request)
        assert payload == want, f"search {request} differs from a fresh session's"
        _assert_same_charts(data, want_data)


def test_session_equivalence_cluster_edit(spark):
    """A spreadsheet-shaped table: search, then a re-search after the
    analyst drops one dimension cluster; both equal a fresh session's
    answers, and a repeated search submits no Spark job."""
    headers, body = _sheet()
    s = EngineSession(spark)
    clusters = s.ingest_records(headers, body)["dim_clusters"]
    assert len(clusters) > 1, "the table must offer a cluster edit"
    edit = {"dim_clusters": [list(c) for c in clusters[1:]]}
    try:
        first = (_payload(s.search({})), [c.data for c in s.result.charts])
        edited = (_payload(s.search(dict(edit))), [c.data for c in s.result.charts])
        ret, jobs = _spark_jobs(spark, lambda: s.search(dict(edit)))
        assert _payload(ret) == edited[0]
        assert jobs == set(), f"repeated search submitted Spark jobs {sorted(jobs)}"
    finally:
        s.close()
    assert first[0] != edited[0], "the cluster edit must change the search"
    for (payload, data), request in ((first, {}), (edited, edit)):
        want, want_data = _fresh(spark, lambda f: f.ingest_records(headers, body), request)
        assert payload == want, f"search {request} differs from a fresh session's"
        _assert_same_charts(data, want_data)


def test_memo_frames_read_only(spark):
    """Memoized frames outlive a search and chart data views them:
    writing into a chart's data raises (bar data is the memo itself, only
    re-wrapped), and whatever a caller writes into one search's charts,
    the next search's payload and data are unchanged."""
    headers, body = _sheet()
    s = EngineSession(spark, sample_cap=200)
    s.ingest_records(headers, body)
    try:
        first = _payload(s.search({}))
        charts = s.result.charts
        kept = [c.data.copy() for c in charts]
        bars = [c for c in charts if c.chart_type in ("sum_bar", "count_bar")]
        assert bars, "the table must yield bar charts"
        for c in bars:
            with pytest.raises(ValueError, match="read-only"):
                c.data.iloc[0, 1] = 0
            c.data["extra"] = 1  # a new column stays on this chart's frame
        for c in charts:  # any other chart: a write raises or hits a copy
            try:
                c.data.iloc[0, 0] = c.data.iloc[1, 0]
            except ValueError:
                pass
        assert _payload(s.search({})) == first
        _assert_same_charts([c.data for c in s.result.charts], kept)
    finally:
        s.close()


def _cached_rdds(spark) -> int:
    return sum(
        1
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    )


def _storage_back_to(spark, base: int) -> bool:
    """Join pending releases, then GC until Spark storage is back to
    ``base`` cached RDDs (60 s at most)."""
    import gc
    import time

    import data_transformation_2022_spark.engine as eng

    deadline = time.time() + 60
    while time.time() < deadline:
        gc.collect()
        while eng._PENDING_RELEASES:
            eng._PENDING_RELEASES.pop().join(timeout=60)
        spark.sparkContext._jvm.System.gc()
        if _cached_rdds(spark) <= base:
            return True
        time.sleep(1.0)
    return False


@pytest.mark.parametrize("end", ["close", "drop", "reingest"])
def test_session_storage_released(spark, end):
    """Spark storage returns to its baseline when a session is closed,
    when it is dropped without close() (weakref finalizer), and when it
    re-ingests (the previous table's executor is released)."""
    headers, body = _sheet()
    base = _cached_rdds(spark)
    s = EngineSession(spark, sample_cap=200)
    s.ingest_records(headers, body)
    s.search({"vlist": ["bar", "scatter"], "dm_ts": ["pca"]})
    assert _cached_rdds(spark) > base
    if end == "close":
        s.close()
        assert s.executor is None
    elif end == "drop":
        del s
    else:  # only the new table's sample stays cached, until close()
        s.ingest_records(headers[:5], [r[:5] for r in body])
        assert _storage_back_to(spark, base + 1), "re-ingest kept the old table's storage"
        s.close()
    assert _storage_back_to(spark, base), (
        f"session kept cached RDDs: {_cached_rdds(spark)} > baseline {base}"
    )


def test_concurrent_searches_on_one_session(spark, monkeypatch):
    """Two threads searching one session (as the HTTP server's threads
    do) both get the payload a sequential search returns, and the
    session runs them one at a time (each search is held open long
    enough for an unlocked pair to overlap)."""
    import threading
    import time

    from data_transformation_2022_spark import api

    headers, body = _sheet()
    s = EngineSession(spark)
    s.ingest_records(headers, body)
    try:
        want = {
            "all": _fresh(spark, lambda f: f.ingest_records(headers, body), {})[0],
            "bar": _fresh(spark, lambda f: f.ingest_records(headers, body), {"vlist": ["bar"]})[0],
        }
        running, peak, count = [0], [0], threading.Lock()
        recommend = api.recommend

        def held(*args, **kwargs):
            with count:
                running[0] += 1
                peak[0] = max(peak[0], running[0])
            try:
                time.sleep(0.3)
                return recommend(*args, **kwargs)
            finally:
                with count:
                    running[0] -= 1

        monkeypatch.setattr(api, "recommend", held)
        got: dict[str, str] = {}
        errors: list[BaseException] = []

        def run(name: str, payload: dict) -> None:
            try:
                got[name] = _payload(s.search(payload))
            except BaseException as e:  # surfaced by the assert below
                errors.append(e)

        threads = [
            threading.Thread(target=run, args=("all", {})),
            threading.Thread(target=run, args=("bar", {"vlist": ["bar"]})),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads), "a search did not finish"
        assert not errors, errors
        assert got == want
        assert peak[0] == 1, "two searches ran on one executor at once"
    finally:
        s.close()
