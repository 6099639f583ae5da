"""jobs/runs_cli.py — the file-backed twin of the reference's run-polling
REST surface (``api/routers/runs.py``: list_runs :98, get_run_status :964,
get_candidate_keys :1534, confirm_keys :1628)."""

from __future__ import annotations

import json
import os

import pytest

from jobs import runs_cli


@pytest.fixture()
def workspace(tmp_path):
    """Two hand-built run dirs shaped exactly like the pipeline's
    manifest.json + audit.jsonl, plus one junk dir the lister must skip."""
    for rid, state, prog, when in (
        ("r-old", "completed", 1.0, "2026-01-01T00:00:00Z"),
        ("r-new", "processing", 0.33, "2026-02-02T00:00:00Z"),
    ):
        d = tmp_path / rid
        d.mkdir()
        (d / "manifest.json").write_text(
            json.dumps(
                {
                    "run_id": rid,
                    "state": state,
                    "progress": prog,
                    # one month pipeline-shaped (counters under "metrics"),
                    # one flat — the lister must read both
                    "completed_batches": {
                        "2024-01": {"metrics": {"rows": 4}},
                        "2024-02": {"rows": 3},
                    },
                    "stages": [
                        {
                            "stage": "validate",
                            "state": "completed",
                            "started_at": when,
                            "finished_at": when,
                        }
                    ],
                }
            )
        )
        (d / "audit.jsonl").write_text(
            "\n".join(json.dumps({"event": f"e{i}"}) for i in range(20)) + "\n"
        )
    (tmp_path / "not_a_run").mkdir()
    return tmp_path


def test_list_runs(workspace, capsys):
    runs_cli.main(["list", str(workspace)])
    out = json.loads(capsys.readouterr().out)
    assert [r["run_id"] for r in out["runs"]] == ["r-new", "r-old"]  # newest first
    assert out["runs"][0]["state"] == "processing"
    assert out["runs"][0]["rows"] == 7
    assert out["runs"][0]["months_committed"] == 2


def test_status_with_audit_tail(workspace, capsys):
    runs_cli.main(["status", str(workspace / "r-new"), "--audit-tail", "3"])
    out = json.loads(capsys.readouterr().out)
    assert out["manifest"]["run_id"] == "r-new"
    assert [e["event"] for e in out["audit_tail"]] == ["e17", "e18", "e19"]


def test_candidate_and_confirm_keys(spark, tmp_path, capsys):
    """candidate-keys must rank the unique id first; confirm-keys on a
    non-key column must surface its duplicate groups and skip-and-count
    null key rows — same semantics as the underlying A19/A20 operators.
    Both run on the active session (the test fixture's)."""
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)], "id long, grp string"
    ).write.parquet(p)

    runs_cli.main(["candidate-keys", p, "--cols", "id,grp"])
    out = json.loads(capsys.readouterr().out)
    assert out["candidates"][0]["columns"] == ["id"]
    assert out["candidates"][0]["score"] == 1.0

    runs_cli.main(["confirm-keys", p, "--keys", "grp", "--id-col", "id"])
    out = json.loads(capsys.readouterr().out)
    assert out["null_key_rows_skipped"] == 1
    [g] = out["duplicate_groups"]
    assert (g["grp"], g["dup_count"], g["example_ids"]) == ("a", 2, [1, 2])
    # reference-named twins inside the same group dict
    assert (g["key_value"], g["count"], g["row_numbers"]) == ("a", 2, [1, 2])
    # reference response-level counters (runs.py:1729-1750 semantics:
    # first occurrence is not a duplicate; percentage over ALL rows
    # including the null-key-skipped one)
    assert out["has_duplicates"] is True
    assert out["duplicate_count"] == 1
    assert out["total_duplicate_rows"] == 1
    assert out["duplicate_percentage"] == 25.0


def test_key_commands_keep_the_active_session_conf(spark, tmp_path, capsys):
    """The key commands reuse the caller's active session unchanged:
    get_spark must not re-apply its local builder options to it. The
    marker value is odd, so no local shuffle-partition default equals it."""
    key = "spark.sql.shuffle.partitions"
    fixture_value = spark.conf.get(key)
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, grp string").write.parquet(p)
    spark.conf.set(key, "13")
    try:
        runs_cli.main(["candidate-keys", p, "--cols", "id,grp"])
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, fixture_value)
    capsys.readouterr()


# Reference response-model field names, pinned from api/models/run.py —
# RunStatus :84-100, CandidateKey :228-235, CandidateKeysResponse :248-254,
# DuplicateGroup :269-274, DuplicateDetectionResponse :277-287. The CLI's
# JSON must be a field-name SUPERSET of the endpoint it twins (transport
# aside, a REST client's field mapping carries over 1:1); this locks the
# lifecycle surface against drift.
REF_RUN_STATUS = {
    "run_id", "state", "progress_pct", "created_at", "started_at",
    "completed_at", "warnings", "errors", "column_profiles",
    "source_filename", "row_count", "column_count",
}
REF_CANDIDATE_KEY = {"columns", "distinct_ratio", "null_ratio_sum", "score"}
REF_CANDIDATE_KEYS_RESPONSE = {"run_id", "candidate_keys", "total_rows"}
REF_DUPLICATE_GROUP = {"key_value", "count", "row_numbers"}
REF_DUPLICATE_DETECTION_RESPONSE = {
    "run_id", "confirmed_keys", "has_duplicates", "duplicate_count",
    "total_duplicate_rows", "duplicate_percentage", "duplicate_groups",
}


def test_list_and_status_field_parity(workspace, capsys):
    """list (GET /runs → List[RunStatus]) and status (GET /runs/{id}/status
    → RunStatus): every reference field name present."""
    runs_cli.main(["list", str(workspace)])
    out = json.loads(capsys.readouterr().out)
    for run in out["runs"]:
        assert REF_RUN_STATUS <= set(run), REF_RUN_STATUS - set(run)
    # values mapped, not just present
    assert out["runs"][0]["progress_pct"] == 33.0
    assert out["runs"][0]["row_count"] == 7

    runs_cli.main(["status", str(workspace / "r-old")])
    out = json.loads(capsys.readouterr().out)
    assert REF_RUN_STATUS <= set(out), REF_RUN_STATUS - set(out)
    assert out["state"] == "completed"
    assert out["completed_at"] == "2026-01-01T00:00:00Z"


def test_keys_field_parity(spark, tmp_path, capsys):
    """candidate-keys (CandidateKeysResponse) and confirm-keys
    (DuplicateDetectionResponse): every reference field name present at
    the response level and inside each nested object."""
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)], "id long, grp string"
    ).write.parquet(p)

    runs_cli.main(["candidate-keys", p, "--cols", "id,grp", "--run-id", "rX"])
    out = json.loads(capsys.readouterr().out)
    assert REF_CANDIDATE_KEYS_RESPONSE <= set(out)
    assert out["run_id"] == "rX"
    assert out["total_rows"] == 4
    assert out["candidate_keys"], "unique id column must surface"
    for cand in out["candidate_keys"]:
        assert REF_CANDIDATE_KEY <= set(cand)

    runs_cli.main(["confirm-keys", p, "--keys", "grp", "--id-col", "id"])
    out = json.loads(capsys.readouterr().out)
    assert REF_DUPLICATE_DETECTION_RESPONSE <= set(out)
    for g in out["duplicate_groups"]:
        assert REF_DUPLICATE_GROUP <= set(g)
