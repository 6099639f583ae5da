"""Append-only audit-event log — reference ``api/services/audit.py:67-135``
re-expressed for a distributed run.

The reference appends PII-free JSONL events (run created, validation
verdicts, commits) plus a SHA-256 + byte count of the uploaded input
(``audit.py:125-135``) so "what exact bytes did this run read" is
answerable from the artifacts alone. Here:

* :class:`AuditLog` — one JSONL file per run workspace, one event per
  line, counts/hashes/ids only (the PII discipline is structural: callers
  pass aggregates, never row values — enforced by a denylist check on
  field names in tests).
* :func:`input_fingerprint_exprs` — the distributed analog of hashing the
  uploaded file: per-row ``xxhash64`` over the content columns, combined
  with ORDER-INDEPENDENT aggregates (row count, wrapped sum, bit-XOR,
  total bytes). The driver then folds those four numbers through SHA-256
  (:func:`fingerprint_digest`) — a stable content hash computable in one
  pass with no sort, which rides the scoring scan via ``observe()`` at
  zero extra I/O (a sorted-row-hash sha2 would need a global sort just to
  reproduce what this tuple already pins down).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import Column
from pyspark.sql import functions as F


def input_fingerprint_exprs(content_cols: list[str]) -> list[Column]:
    """Order-independent content-fingerprint aggregates over the given
    columns: (row count, sum + bit-XOR of per-row xxhash64, byte count).
    Deterministic for a given multiset of rows; safe inside ``observe()``
    (all deterministic aggregates). Sum is carried as decimal(38,0) —
    Spark 4 runs ANSI mode, a bigint sum of 2^63-range hashes would
    overflow-error."""
    rh = F.xxhash64(*[F.col(c).cast("string") for c in content_cols])
    nbytes = sum(
        (F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0)) for c in content_cols),
        F.lit(0),
    )
    return [
        F.count(F.lit(1)).alias("fp_rows"),
        F.sum(rh.cast("decimal(38,0)")).alias("fp_hash_sum"),
        F.bit_xor(rh).alias("fp_hash_xor"),
        F.sum(nbytes).cast("long").alias("fp_bytes"),
    ]


def fingerprint_digest(row: dict) -> dict:
    """Fold the fingerprint aggregates into a single SHA-256 content hash
    (reference ``audit.py:125-135`` analog: hash + byte count)."""
    parts = f"{row.get('fp_rows')}|{row.get('fp_hash_sum')}|{row.get('fp_hash_xor')}"
    return {
        "rows": row.get("fp_rows") or 0,
        "bytes": row.get("fp_bytes") or 0,
        "content_sha256": hashlib.sha256(parts.encode()).hexdigest(),
    }


def utc_now() -> str:
    """The current UTC time as ``YYYY-MM-DDTHH:MM:SSZ``: the one timestamp
    format of audit events and run manifests."""
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


class AuditLog:
    """Append-only JSONL event stream for one run workspace.

    Events carry counts/hashes/timestamps only — never document text,
    URLs, or any row value (reference PII-free discipline,
    ``audit.py:67-103``). Appends are atomic at the line level (single
    ``write`` of one line, O_APPEND)."""

    def __init__(self, output_path: str):
        # jobs/runs_cli.py reads the status audit tail from this name
        self.path = os.path.join(output_path, "audit.jsonl")

    def event(self, event_type: str, run_id: str, **fields) -> dict:
        rec = {
            "ts": utc_now(),
            "event": event_type,
            "run_id": run_id,
            **fields,
        }
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps(rec, default=str) + "\n")
        return rec

    def events(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]
