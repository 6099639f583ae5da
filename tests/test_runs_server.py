"""jobs/runs_server.py — the HTTP transport over the run lifecycle surface
(reference ``api/routers/runs.py``, prefix ``/runs``). Re-asserts the
response-model field parity pinned in tests/test_runs_cli.py, but over a
real socket, plus the artifact routes and the POST /runs launch path."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest

from jobs import runs_server
from tests.test_runs_cli import (
    REF_CANDIDATE_KEY,
    REF_CANDIDATE_KEYS_RESPONSE,
    REF_DUPLICATE_DETECTION_RESPONSE,
    REF_DUPLICATE_GROUP,
    REF_RUN_STATUS,
    workspace,  # fixture: two hand-built run dirs + one junk dir
)

__all__ = ["workspace"]  # re-exported fixture (silence linters)


@pytest.fixture()
def server(workspace, spark):
    srv = runs_server.serve(str(workspace), port=0, spark_factory=lambda: spark)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()


def _get(srv, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.server_port}{path}") as r:
        return r.status, r.headers.get("Content-Type"), r.read()


def _get_json(srv, path: str):
    status, _, body = _get(srv, path)
    return status, json.loads(body)


def _post_json(srv, path: str, payload: dict):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.server_port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_list_runs_field_parity(server):
    """GET /runs → List[RunStatus]: bare array, newest first, every
    reference field present (list_runs :98)."""
    status, runs = _get_json(server, "/runs")
    assert status == 200
    assert [r["run_id"] for r in runs] == ["r-new", "r-old"]
    for r in runs:
        assert REF_RUN_STATUS <= set(r), REF_RUN_STATUS - set(r)
    assert runs[0]["progress_pct"] == 33.0 and runs[0]["row_count"] == 7
    _, limited = _get_json(server, "/runs?limit=1")
    assert len(limited) == 1


def test_status_and_errors(server):
    """GET /runs/{id}/status → RunStatus (:964); unknown id → 404 with the
    reference {"detail": ...} error shape; traversal-shaped ids rejected."""
    status, out = _get_json(server, "/runs/r-old/status")
    assert status == 200
    assert REF_RUN_STATUS <= set(out)
    assert out["state"] == "completed"
    assert out["completed_at"] == "2026-01-01T00:00:00Z"

    for bad in ("/runs/nope/status", "/runs/..%2F..%2Fetc/status"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server, bad)
        assert e.value.code == 404
        assert "detail" in json.loads(e.value.read())


def test_artifact_routes(server, workspace):
    """GET profile / metrics.csv / report.html serve the run-dir artifacts
    with the right content types (:1039/:1200/:1346); absent → 404."""
    d = workspace / "r-old"
    (d / "profile.json").write_text(json.dumps({"columns": [{"name": "c"}]}))
    (d / "metrics.csv").write_text("column,metric,value\nc,nulls,0\n")
    (d / "report.html").write_text("<html><body>ok</body></html>")

    status, out = _get_json(server, "/runs/r-old/profile")
    assert status == 200 and out["columns"][0]["name"] == "c"
    status, ctype, body = _get(server, "/runs/r-old/metrics.csv")
    assert status == 200 and ctype.startswith("text/csv") and b"nulls" in body
    status, ctype, body = _get(server, "/runs/r-old/report.html")
    assert status == 200 and ctype.startswith("text/html") and b"ok" in body
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/runs/r-new/profile")  # r-new has no artifacts
    assert e.value.code == 404


def test_keys_over_http(server, workspace, spark):
    """candidate-keys (GET, :1534) and confirm-keys (POST, :1628) over the
    run's data dir: same semantics + parity sets as the CLI twins."""
    p = str(workspace / "r-old" / "data")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)], "id long, grp string"
    ).write.parquet(p)

    status, out = _get_json(server, "/runs/r-old/candidate-keys?cols=id,grp")
    assert status == 200
    assert REF_CANDIDATE_KEYS_RESPONSE <= set(out)
    assert out["run_id"] == "r-old" and out["total_rows"] == 4
    assert out["candidate_keys"][0]["columns"] == ["id"]
    for cand in out["candidate_keys"]:
        assert REF_CANDIDATE_KEY <= set(cand)

    status, out = _post_json(
        server, "/runs/r-old/confirm-keys", {"keys": ["grp"], "id_col": "id"}
    )
    assert status == 200
    assert REF_DUPLICATE_DETECTION_RESPONSE <= set(out)
    assert out["null_key_rows_skipped"] == 1
    [g] = out["duplicate_groups"]
    assert REF_DUPLICATE_GROUP <= set(g)
    assert (g["key_value"], g["count"], g["row_numbers"]) == ("a", 2, [1, 2])

    with pytest.raises(urllib.error.HTTPError) as e:
        _post_json(server, "/runs/r-old/confirm-keys", {})
    assert e.value.code == 400


def test_create_run_end_to_end(server, workspace, spark, tmp_path):
    """POST /runs launches the quality-filter pipeline on an input parquet;
    the poller sees queued→…→completed through GET /runs/{id}/status with
    RunResponse fields on the 201 (create_run :262, collapsed create+upload
    per the module docstring)."""
    from data_profiler_spark.synth import pages_df

    inp = str(tmp_path / "pages.parquet")
    pages_df(spark, 60, seed=7, partitions=4).write.parquet(inp)

    status, out = _post_json(server, "/runs", {"input": inp, "run_id": "r-http"})
    assert status == 201
    assert {"run_id", "state", "created_at"} <= set(out)
    assert out["run_id"] == "r-http"

    deadline = time.time() + 120
    state = None
    while time.time() < deadline:
        try:
            _, st = _get_json(server, "/runs/r-http/status")
            state = st["state"]
            if state == "completed":
                break
        except urllib.error.HTTPError:
            pass  # manifest not written yet
        time.sleep(0.5)
    assert state == "completed", f"pipeline did not finish (last state={state!r})"
    err = workspace / "r-http" / "server_error.json"
    assert not err.exists(), err.read_text() if err.exists() else ""
    _, st = _get_json(server, "/runs/r-http/status")
    assert REF_RUN_STATUS <= set(st)
    assert st["progress_pct"] == 100.0
    # duplicate run_id → 409
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_json(server, "/runs", {"input": inp, "run_id": "r-http"})
    assert e.value.code == 409


def test_concurrent_create_same_run_id_conflicts(tmp_path):
    """Two concurrent POST /runs with one run_id both pass the existence
    check while the (cold, slow) session builds; exactly one may create
    the run (201) and the other must get a 409, not a 500 from makedirs.
    No Spark: the factory returns None, so the winner's launched job fails
    fast into its server_error.json."""
    both_arrived = threading.Barrier(2, timeout=30)
    srv = runs_server.serve(str(tmp_path), port=0, spark_factory=lambda: None)
    build = srv.spark

    def held_build():
        both_arrived.wait()  # both requests are past the isdir check
        return build()

    srv.spark = held_build
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    codes = []

    def post():
        try:
            codes.append(_post_json(srv, "/runs", {"input": "missing", "run_id": "r-race"})[0])
        except urllib.error.HTTPError as e:
            codes.append(e.code)

    posts = [threading.Thread(target=post) for _ in range(2)]
    try:
        for p in posts:
            p.start()
        for p in posts:
            p.join(60)
    finally:
        srv.shutdown()
        srv.server_close()
    assert sorted(codes) == [201, 409]


def test_concurrent_create_distinct_run_ids_both_complete(server, workspace, spark, tmp_path):
    """Two concurrent POST /runs with different run ids share one session
    and both complete, each with its own manifest and audit log."""
    from data_profiler_spark.synth import pages_df

    inp = str(tmp_path / "pages.parquet")
    pages_df(spark, 60, seed=11, partitions=4).write.parquet(inp)
    ids = ("r-one", "r-two")
    codes = []

    def post(run_id):
        codes.append(_post_json(server, "/runs", {"input": inp, "run_id": run_id})[0])

    posts = [threading.Thread(target=post, args=(rid,)) for rid in ids]
    for p in posts:
        p.start()
    for p in posts:
        p.join(60)
    assert codes == [201, 201]

    deadline = time.time() + 180
    states = {}
    while time.time() < deadline:
        for rid in ids:
            try:
                states[rid] = _get_json(server, f"/runs/{rid}/status")[1]["state"]
            except urllib.error.HTTPError:
                pass  # manifest not written yet
        if set(states.values()) <= {"completed", "failed"} and len(states) == 2:
            break
        time.sleep(0.5)
    for rid in ids:
        d = workspace / rid
        err = d / "server_error.json"
        assert not err.exists(), err.read_text()
        assert states.get(rid) == "completed", states
        manifest = json.loads((d / "manifest.json").read_text())
        assert manifest["run_id"] == rid and manifest["state"] == "completed"
        events = [json.loads(line) for line in (d / "audit.jsonl").read_text().splitlines()]
        assert events and {e["run_id"] for e in events} == {rid}
        assert "run_created" in {e["event"] for e in events}


def test_traversal_and_limit_validation(server, workspace):
    """Plain ``.``/``..`` run ids match the char-class but resolve to the
    workspace root / its parent — they must 404, not serve files outside
    the workspace; non-numeric ?limit is a 400, not a 500."""
    (workspace.parent / "report.html").write_text("<html>outside</html>")
    for bad in ("/runs/../report.html", "/runs/./status", "/runs/../status"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server, bad)
        assert e.value.code == 404, bad
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/runs?limit=abc")
    assert e.value.code == 400


def test_status_observability_before_and_after_failure(server, workspace):
    """A run dir with no manifest yet is a *queued* run (RunStatus shape,
    200) — and once the POST /runs daemon leaves a server_error.json
    corpse, status flips to *failed* (the reference RunState,
    ``api/models/run.py:15-20``) with the error in ``errors``: a poller
    can always distinguish not-started / running / failed. A manifest the
    pipeline itself marked failed is authoritative — the corpse must not
    double-append its error."""
    d = workspace / "r-pending"
    d.mkdir()
    status, out = _get_json(server, "/runs/r-pending/status")
    assert status == 200
    assert out["state"] == "queued" and out["run_id"] == "r-pending"
    assert REF_RUN_STATUS <= set(out)

    (d / "server_error.json").write_text(
        json.dumps({"error": "AnalysisException: path does not exist"})
    )
    status, out = _get_json(server, "/runs/r-pending/status")
    assert status == 200
    assert out["state"] == "failed"
    assert any("AnalysisException" in e for e in out["errors"])
    assert REF_RUN_STATUS <= set(out)

    # pipeline-marked failure wins: its own errors list passes through
    (d / "manifest.json").write_text(
        json.dumps(
            {"run_id": "r-pending", "state": "failed", "errors": ["ValueError: E_INPUT_SCHEMA"]}
        )
    )
    status, out = _get_json(server, "/runs/r-pending/status")
    assert status == 200
    assert out["state"] == "failed"
    assert out["errors"] == ["ValueError: E_INPUT_SCHEMA"]
