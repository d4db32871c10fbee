"""HTTP query server (FrontendApi parity): status, submit with statement
selection / mid-pipeline preview, query-info history, error surface."""

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture()
def server(spark):
    from tests.conftest import SF_DIR
    from wvlet_spark import WvletSession
    from wvlet_spark.server import WvletServer

    ws = WvletSession(spark, table_dir=SF_DIR, test_mode=True)
    srv = WvletServer(ws, port=0).start()
    yield srv
    srv.stop()


def _get(server, path):
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}{path}", timeout=30) as r:
        return json.loads(r.read())


def _post(server, path, obj):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(obj).encode(), method="POST",
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_status(server):
    s = _get(server, "/v1/status")
    assert s["version"] and s["upTimeSec"] >= 0


def test_submit_query(server):
    code, info = _post(server, "/v1/query", {
        "query": "from region order by r_regionkey", "maxRows": 3})
    assert code == 200 and info["status"] == "finished"
    assert info["columns"] == ["r_regionkey", "r_name"]
    assert info["rowCount"] == 3 and info["clipped"] is True
    assert info["sql"].startswith("SELECT")
    # recorded result retrievable by id (getQueryInfo)
    again = _get(server, f"/v1/query/{info['queryId']}")
    assert again["rows"] == info["rows"]


def test_submit_mid_pipeline_preview(server):
    q = ("from nation\n"
         "where n_regionkey = 0\n"
         "select n_name\n"
         "order by n_name\n"
         "limit 1\n")
    code, info = _post(server, "/v1/query", {
        "query": q, "querySelection": "subquery", "line": 2, "maxRows": 50})
    assert code == 200
    # preview at the filter: unprojected, all region-0 nations
    assert set(info["columns"]) == {"n_nationkey", "n_name", "n_regionkey"}
    assert info["rowCount"] == 5
    code, info2 = _post(server, "/v1/query", {
        "query": q, "querySelection": "describe", "line": 3})
    assert code == 200
    assert info2["columns"] == ["column_name", "column_type"]
    assert [r[0] for r in info2["rows"]] == ["n_name"]


def test_submit_error_surface(server):
    code, info = _post(server, "/v1/query", {"query": "from nope_table count"})
    assert code == 400 and info["status"] == "failed"
    assert info["error"]["message"]


def test_submit_reports_executed_sql(server):
    """`sql` is the SQL the run executed: in_subquery's aggregate
    subquery is a staged view there, not inline SQL."""
    from wvlet_spark.suite import SUITE

    code, info = _post(server, "/v1/query", {
        "query": SUITE["in_subquery"][0], "querySelection": "all"})
    assert code == 200, info
    assert "__wv_insub_" in info["sql"]


def test_concurrent_requests_get_distinct_ids(server):
    """Concurrent requests each take their own queryId and history entry."""
    import sys
    import threading

    results = []

    def client():
        for _ in range(5):
            results.append(server.execute_request(
                {"query": "from region count"}))

    threads = [threading.Thread(target=client) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    ids = [info["queryId"] for info in results]
    assert len(ids) == 40 and len(set(ids)) == 40
    assert all(info["error"] is None for info in results)
    assert all(server._history[info["queryId"]] is info for info in results)


def test_submit_runs_embedded_tests(server):
    code, info = _post(server, "/v1/query", {
        "query": "from region count\ntest _.rows should be [[5]]"})
    assert code == 200
    assert info["testResults"] and all(ok for ok, _ in info["testResults"])


def test_unknown_query_id(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/v1/query/q_999999")
    assert ei.value.code == 404


def test_playground_page(server):
    """GET / serves the playground (reference wvlet-ui editor parity:
    editor posting to /v1/query with cursor line + selection mode)."""
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/", timeout=30) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/html")
        html = r.read().decode("utf-8")
    # the page drives the public endpoints, nothing else
    assert "wvlet-spark playground" in html
    assert "/v1/query" in html and "/v1/status" in html
    assert "querySelection" in html  # cursor-selection modes exposed
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/ui", timeout=30) as r:
        assert r.status == 200


def test_playground_script_parses():
    """The embedded playground JS must at least be syntactically valid
    (no browser in the test environment; node --check when available)."""
    import re
    import shutil
    import subprocess
    import tempfile

    from wvlet_spark.ui import PLAYGROUND_HTML

    node = shutil.which("node")
    if node is None:
        pytest.skip("node not available")
    script = re.search(r"<script>(.*)</script>", PLAYGROUND_HTML,
                       re.S).group(1)
    with tempfile.NamedTemporaryFile("w", suffix=".js") as f:
        f.write(script)
        f.flush()
        proc = subprocess.run([node, "--check", f.name],
                              capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr


def test_flows_endpoint(server):
    """GET /v1/flows lists declared flows and recorded runs (reference
    FlowRunsPage data over the run store)."""
    empty = _get(server, "/v1/flows")
    assert empty == {"flows": [], "runs": []}
    flow = ("flow nightly = {\n"
            "  stage s1 = { from region select r_regionkey limit 1 }\n"
            "}\n")
    code, info = _post(server, "/v1/query",
                       {"query": flow, "querySelection": "all"})
    assert code == 200, info
    code, info = _post(server, "/v1/query",
                       {"query": "run flow nightly", "querySelection": "all"})
    assert code == 200, info
    got = _get(server, "/v1/flows")
    assert [f["name"] for f in got["flows"]] == ["nightly"]
    assert got["runs"] and got["runs"][0]["flow"] == "nightly"
    states = {s["stage"]: s["state"] for s in got["runs"][0]["stages"]}
    assert states.get("s1") in ("succeeded", "success", "done", "finished")
