"""Run lifecycle HTTP shim — the transport layer over ``jobs/runs_cli.py``,
closing the last delta vs the reference's REST surface
(``api/routers/runs.py``, prefix ``/runs``). Routes twinned:

  GET  /runs                          list_runs :98        List[RunStatus]
  POST /runs                          create_run :262      RunResponse (201)
  GET  /runs/{id}/status              get_run_status :964  RunStatus
  GET  /runs/{id}/metrics.csv         :1039                text/csv artifact
  GET  /runs/{id}/report.html         :1200                text/html artifact
  GET  /runs/{id}/profile             :1346                profile.json
  GET  /runs/{id}/candidate-keys      :1534                CandidateKeysResponse
  POST /runs/{id}/confirm-keys        :1628                DuplicateDetectionResponse

stdlib-only (``http.server``; no FastAPI in the sandbox): a run is a
directory under the workspace root, exactly the files the pipeline and
``jobs/profile_job.py`` already write — the server adds NO new engine
state, it serves manifest.json / audit.jsonl / profile.json / metrics.csv
/ report.html and calls the same response builders as the CLI. Responses
are field-name SUPERSETS of the reference response models; the parity
sets pinned in tests/test_runs_cli.py are re-asserted over HTTP in
tests/test_runs_server.py.

Divergences from the reference, by design (documented, not accidental):

* POST /runs takes ``{"input": <parquet path>, "run_id": ...}`` and runs
  the quality-filter pipeline on it in a daemon thread — the distributed
  engine profiles a table, not a multipart CSV upload, so the
  create→upload two-step collapses into one call. State transitions
  (queued → processing → completed/failed) are observable through the manifest
  exactly as the reference's poller expects.
* ``list``/``status``/artifact GETs are pure file reads — polling a long
  run never touches Spark (same property the CLI has).

The Spark session is built lazily on first key-analysis / create request
by ``session.get_spark`` (``local[$SPARK_GRAFT_CPUS]`` from plain python,
the cluster's topology under spark-submit). ``ThreadingHTTPServer`` + one
shared session: Spark is thread-safe for job submission; concurrent
requests become concurrent Spark jobs under the local scheduler.

Usage: python jobs/runs_server.py <workspace_root> [--port 8008]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jobs import runs_cli

_ARTIFACTS = {
    "metrics.csv": "text/csv; charset=utf-8",
    "report.html": "text/html; charset=utf-8",
}
# run ids are pipeline-generated slugs; reject anything that could
# traverse out of the workspace root
_RUN_ID_RE = re.compile(r"^[A-Za-z0-9._-]+$")


class RunsServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, addr, workspace_root: str, spark_factory=None):
        super().__init__(addr, _Handler)
        self.workspace_root = workspace_root
        self._spark = None
        self._spark_lock = threading.Lock()
        self._spark_factory = spark_factory

    def spark(self):
        with self._spark_lock:
            if self._spark is None:
                if self._spark_factory is not None:
                    self._spark = self._spark_factory()
                else:
                    from data_profiler_spark.session import get_spark

                    self._spark = get_spark("runs-server")
            return self._spark

    def run_dir(self, run_id: str) -> str | None:
        # the char-class alone admits "." / "..", which resolve to the
        # workspace root / its parent — exactly the escape this confines
        if not _RUN_ID_RE.match(run_id) or set(run_id) == {"."}:
            return None
        return os.path.join(self.workspace_root, run_id)


class _Handler(BaseHTTPRequestHandler):
    server_version = "dps-runs/1.0"
    protocol_version = "HTTP/1.1"

    # ---- plumbing ----------------------------------------------------
    def log_message(self, fmt, *args):  # quiet by default; tests capture stderr
        if os.environ.get("DPS_RUNS_SERVER_LOG"):
            super().log_message(fmt, *args)

    def _send(self, code: int, body: bytes, ctype: str) -> None:
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _json(self, code: int, payload) -> None:
        self._send(code, json.dumps(payload, default=str).encode(), "application/json")

    def _error(self, code: int, detail: str) -> None:
        # reference error shape: FastAPI HTTPException -> {"detail": ...}
        # Error paths may not have drained a POST body; under HTTP/1.1
        # keep-alive the unread bytes would desync the next request on the
        # connection, so close it after an error response.
        self.close_connection = True
        self._json(code, {"detail": detail})

    def _body_json(self) -> dict | None:
        try:
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n) or b"{}")
        except (ValueError, json.JSONDecodeError):
            return None

    # ---- routing -----------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        q = parse_qs(url.query)
        try:
            if parts == ["runs"]:
                return self._list_runs(q)
            if len(parts) == 3 and parts[0] == "runs":
                run_id, leaf = parts[1], parts[2]
                d = self.server.run_dir(run_id)
                if d is None or not os.path.isdir(d):
                    return self._error(404, f"Run {run_id} not found")
                if leaf == "status":
                    return self._status(d, run_id)
                if leaf == "profile":
                    return self._profile(d, run_id)
                if leaf in _ARTIFACTS:
                    return self._artifact(d, run_id, leaf)
                if leaf == "candidate-keys":
                    return self._candidate_keys(d, run_id, q)
            return self._error(404, "Not found")
        except Exception as e:  # any handler bug -> reference-shaped 500
            self._error(500, f"{type(e).__name__}: {e}")

    def do_POST(self) -> None:  # noqa: N802
        parts = [p for p in urlparse(self.path).path.split("/") if p]
        try:
            if parts == ["runs"]:
                return self._create_run()
            if len(parts) == 3 and parts[0] == "runs" and parts[2] == "confirm-keys":
                d = self.server.run_dir(parts[1])
                if d is None or not os.path.isdir(d):
                    return self._error(404, f"Run {parts[1]} not found")
                return self._confirm_keys(d, parts[1])
            return self._error(404, "Not found")
        except Exception as e:
            self._error(500, f"{type(e).__name__}: {e}")

    # ---- GET handlers (pure file reads) -------------------------------
    def _list_runs(self, q) -> None:
        try:
            limit = int(q.get("limit", ["20"])[0])
        except ValueError:
            return self._error(400, "limit must be an integer")
        # reference list_runs returns a bare List[RunStatus]; the walk/sort
        # is the CLI's list_runs so the two surfaces can't drift
        self._json(200, runs_cli.list_runs(self.server.workspace_root, limit))

    def _status(self, run_dir: str, run_id: str) -> None:
        m = runs_cli._read_json(os.path.join(run_dir, "manifest.json"))
        err = runs_cli._read_json(os.path.join(run_dir, "server_error.json"))
        if m is None:
            # POST /runs creates the dir before the pipeline's first
            # manifest write: a dir with no manifest is a queued run —
            # unless the daemon thread left an error corpse, which must be
            # observable (a poller can't otherwise tell failed from
            # not-yet-started). Same RunStatus shape either way.
            m = {"run_id": run_id, "state": "queued"}
        view = runs_cli._run_status_view(m)
        # The corpse covers crashes BEFORE the pipeline could mark its own
        # manifest (bad input path, session loss): reference RunState
        # "failed". A manifest already marked failed/completed by the
        # pipeline is authoritative — it carries the error in its own
        # errors list.
        if err is not None and view.get("state") not in ("completed", "failed"):
            view["state"] = "failed"
            view["errors"] = list(view.get("errors") or []) + [err.get("error")]
        self._json(200, view)

    def _profile(self, run_dir: str, run_id: str) -> None:
        p = runs_cli._read_json(os.path.join(run_dir, "profile.json"))
        if p is None:
            return self._error(404, f"No profile for run {run_id}")
        self._json(200, p)

    def _artifact(self, run_dir: str, run_id: str, leaf: str) -> None:
        path = os.path.join(run_dir, leaf)
        if not os.path.exists(path):
            return self._error(404, f"No {leaf} for run {run_id}")
        with open(path, "rb") as f:
            self._send(200, f.read(), _ARTIFACTS[leaf])

    def _candidate_keys(self, run_dir: str, run_id: str, q) -> None:
        parquet = q.get("parquet", [os.path.join(run_dir, "data")])[0]
        cols = q["cols"][0].split(",") if "cols" in q else None
        resp = runs_cli.candidate_keys_response(
            self.server.spark(),
            parquet,
            cols=cols,
            max_width=int(q.get("max_width", ["2"])[0]),
            min_score=float(q.get("min_score", ["0.5"])[0]),
            top=int(q.get("top", ["5"])[0]),
            run_id=run_id,
        )
        self._json(200, resp)

    # ---- POST handlers -------------------------------------------------
    def _create_run(self) -> None:
        body = self._body_json()
        if body is None or not body.get("input"):
            return self._error(400, 'Body must be JSON with an "input" parquet path')
        run_id = body.get("run_id") or datetime.now(timezone.utc).strftime(
            "run-%Y%m%dT%H%M%S.%f"
        )
        d = self.server.run_dir(run_id)
        if d is None:
            return self._error(400, f"Invalid run_id {run_id!r}")
        if os.path.isdir(d):
            return self._error(409, f"Run {run_id} already exists")
        # build the session BEFORE creating the run dir: a session-build
        # failure must not leave an orphan dir that permanently 409s the id
        spark = self.server.spark()
        try:
            os.makedirs(d)
        except FileExistsError:  # a concurrent POST took the id meanwhile
            return self._error(409, f"Run {run_id} already exists")
        created_at = datetime.now(timezone.utc).isoformat()

        def _job():
            from data_profiler_spark.pipeline import QualityFilterPipeline

            try:
                pages = spark.read.parquet(body["input"])
                QualityFilterPipeline(spark, d).run(pages, run_id=run_id)
            except Exception as e:  # leave a corpse the poller can see
                with open(os.path.join(d, "server_error.json"), "w") as f:
                    json.dump({"error": f"{type(e).__name__}: {e}"}, f)

        threading.Thread(target=_job, name=f"run-{run_id}", daemon=True).start()
        # reference RunResponse fields (api/models/run.py): run_id/state/created_at
        self._json(201, {"run_id": run_id, "state": "queued", "created_at": created_at})

    def _confirm_keys(self, run_dir: str, run_id: str) -> None:
        body = self._body_json()
        keys = (body or {}).get("keys") or (body or {}).get("key_columns")
        if not keys:
            return self._error(400, 'Body must be JSON with "keys": [..]')
        resp = runs_cli.confirm_keys_response(
            self.server.spark(),
            (body or {}).get("parquet") or os.path.join(run_dir, "data"),
            [str(k) for k in keys],
            id_col=(body or {}).get("id_col"),
            top=int((body or {}).get("top", 10)),
            run_id=run_id,
        )
        self._json(200, resp)


def serve(
    workspace_root: str,
    port: int = 8008,
    host: str = "127.0.0.1",
    spark_factory=None,
) -> RunsServer:
    """Bind and return the server (caller drives serve_forever — tests run
    it on a thread, ``main`` runs it in the foreground)."""
    return RunsServer((host, port), workspace_root, spark_factory=spark_factory)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="run lifecycle HTTP shim")
    ap.add_argument("workspace_root")
    ap.add_argument("--port", type=int, default=8008)
    ap.add_argument("--host", default="127.0.0.1")
    args = ap.parse_args(argv)
    srv = serve(args.workspace_root, args.port, args.host)
    print(f"serving {args.workspace_root} on http://{args.host}:{srv.server_port}/runs")
    srv.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
