"""QualityFilterPipeline — the driver-side orchestrator (SURVEY.md §3.2 analog).

The reference's 8-stage single-file pipeline (``api/services/pipeline.py:141-208``)
becomes one declarative DataFrame DAG per batch:

    pages → one Arrow UDF pass (language ID, perplexity and the 11 quality
            signals over each batch's UTF-8 buffer, plus the PII scrub and
            its per-category counts, functions/langid.py) → keep/drop decision
          → output contract (raw text/html dropped) → partitioned zstd write
          → per-batch metrics + manifest commit

Scoring is a single narrow map stage — zero shuffles. Each text crosses to
Python once (one ArrowEvalPython node); the ``signals`` and ``pii_counts``
structs and the drop reasons after it hold no higher-order lambda and no
regex, so Catalyst fuses them into one whole-stage-codegen span. The write
repartitions by a url-hash salt (north rule: defuse host-level skew — a
Zipf host distribution otherwise concentrates a host's documents in few
tasks downstream).

Run lifecycle (reference ``api/storage/workspace.py:206-237`` state machine
reborn): ONE scoring+write job per run covers every incomplete ``warc_ts``
month (single input scan, ``partitionBy("month")`` with dynamic partition
overwrite), then each written month is recorded in ``manifest.json`` with
its exact metrics. Re-running filters completed months out with one
``NOT IN`` predicate and re-overwrites only incomplete ones — idempotent
resume from the last committed "snapshot" (SURVEY.md §7.3.7). With an
Iceberg catalog on the cluster the same write is one transactional
``overwritePartitions`` snapshot; parquet + manifest is the sandbox
fallback (io/catalog.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Observation
from pyspark.sql.types import StructType

from . import rules
from .functions.langid import score_udf
from .functions.pii import counts_struct
from .functions.textstats import heuristic_drop_reasons_expr, signals_struct
from .io import catalog
from .io.audit import AuditLog, fingerprint_digest, input_fingerprint_exprs, utc_now

SALT_BUCKETS = 256

# The input contract (BASELINE input_hint: pages(url, warc_ts, html, text,
# lang)). run() checks these up front and fails fast with E_INPUT_SCHEMA —
# without the check a missing column surfaces as a deep AnalysisException
# out of whichever stage first references it, AFTER stages have started
# (and, pre-round-5, with the manifest stuck at "processing" forever).
# `html` is only required when validate_first=True (the UTF-8 gate reads
# it); scoring itself needs text, the salted write url, the month
# partition warc_ts, and the metrics read-back lang.
REQUIRED_INPUT_COLUMNS = ("url", "warc_ts", "text", "lang")

# month partition value for rows with a null warc_ts — a plain NULL would
# make the resume predicate `~month.isin(completed)` evaluate to NULL
# (row silently dropped on every resume) and land in Hive's default
# partition; an explicit sentinel keeps such rows first-class.
NULL_MONTH = "unknown"

# The output contract: a run writes keep/drop decisions plus scrubbed text,
# i.e. score_pages output minus the raw payload columns. The unscrubbed
# text and html are the PII the scrubber exists to remove, and most of the
# bytes a run would otherwise write (BASELINE.md "Output contract").
RAW_PAYLOAD_COLUMNS = ("text", "html")


def url_salt(n_buckets: int = SALT_BUCKETS):
    """Salted partition key: pmod(xxhash64(url), n) — spreads hot hosts
    across the cluster (north rule; SURVEY.md §4.2)."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets))


def score_pages(df: DataFrame, keep_langs: tuple[str, ...] = rules.KEEP_LANGS) -> DataFrame:
    """Pure transform: pages → pages + signals/lang_pred/log_ppl/pii/keep.

    Column contract (stable output schema):
    signals struct, lang_pred, lang_margin, log_ppl, pii_counts struct,
    scrubbed_text, drop_reasons array<string>, keep boolean. A null text
    scores as ``""``; its ``scrubbed_text`` stays null.
    """
    score = F.col("_score")
    out = (
        df.withColumn("_score", score_udf(F.col("text")))
        .withColumn("signals", signals_struct(score))
        .withColumn("lang_pred", score["lang_pred"])
        .withColumn("lang_margin", score["margin"])
        .withColumn("log_ppl", score["log_ppl"])
        .withColumn("scrubbed_text", score["scrubbed_text"])
        .withColumn("pii_counts", counts_struct(score["pii_counts"]))
        .drop("_score")
    )
    lang_fail = F.when(
        ~F.col("lang_pred").isin(*keep_langs), F.array(F.lit("lang"))
    ).otherwise(F.array().cast("array<string>"))
    ppl_fail = F.when(
        F.col("log_ppl") > rules.MAX_LOG_PERPLEXITY, F.array(F.lit("perplexity"))
    ).otherwise(F.array().cast("array<string>"))
    reasons = F.concat(lang_fail, heuristic_drop_reasons_expr(F.col("signals")), ppl_fail)
    return out.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )


def output_contract(scored: DataFrame) -> DataFrame:
    """The columns a run writes: ``scored`` minus :data:`RAW_PAYLOAD_COLUMNS`
    (absent ones are ignored). The batch writer and the streaming
    foreachBatch writer both apply it; ``score_pages`` itself still
    returns ``text``."""
    return scored.drop(*RAW_PAYLOAD_COLUMNS)


def _metric_exprs() -> list:
    """Profiler-style exact metric expressions — row counts, keep counts,
    null rates, score histogram and one drop count per ``rules.RULE_ORDER``
    code (north rule 'per-partition lineage + profiler-style exact
    metrics'). Aggregated by ``groupBy(month)`` over the written output, so
    they read only :func:`output_contract` columns (per-month manifest
    entries)."""
    ppl = F.col("log_ppl")
    bins = [
        F.sum(
            ((ppl >= lo) & (ppl < hi)).cast("long")
        ).alias(f"ppl_{str(lo).replace('.', '_')}_{str(hi).replace('.', '_')}")
        for lo, hi in [(0, 6), (6, 7), (7, 8), (8, 9.2), (9.2, 11), (11, 1e9)]
    ]
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        # the scrub preserves nulls, so this is the raw text's null count
        F.sum(F.col("scrubbed_text").isNull().cast("long")).alias("null_text"),
        F.sum((F.col("lang_pred") != F.col("lang")).cast("long")).alias("langid_disagree"),
        *bins,
        *[
            F.sum(F.array_contains("drop_reasons", code).cast("long")).alias(f"drop_{code}")
            for code in rules.RULE_ORDER
        ],
    ]


@dataclass
class RunResult:
    run_id: str
    output_path: str
    batches: list[dict] = field(default_factory=list)
    resumed_batches: list[str] = field(default_factory=list)

    @property
    def total_rows(self) -> int:
        return sum(b["metrics"].get("rows", 0) for b in self.batches)


class QualityFilterPipeline:
    """Resumable scoring run over a pages table."""

    def __init__(
        self,
        spark: SparkSession,
        output_path: str,
        keep_langs: tuple[str, ...] = rules.KEEP_LANGS,
        salt_buckets: int = SALT_BUCKETS,
        table: str | None = None,
    ):
        """``output_path`` holds the run manifest (+ parquet data in the
        filesystem fallback). Pass ``table`` (e.g. ``lake.db.pages_filtered``)
        to commit batches to an Iceberg catalog table instead — each batch
        then lands as one ``overwritePartitions`` snapshot (io/catalog.py).

        ``salt_buckets`` is the bucket count of the url-hash salt that the
        write repartitions on (:func:`url_salt`)."""
        self.spark = spark
        self.output_path = output_path
        self.keep_langs = keep_langs
        self.salt_buckets = salt_buckets
        self.table = table

    # -- manifest (run workspace, reference workspace.py:71-357 analog) --
    def _manifest_path(self) -> str:
        return os.path.join(self.output_path, "manifest.json")

    def _load_manifest(self) -> dict:
        p = self._manifest_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"run_id": None, "state": "queued", "completed_batches": {}}

    def _save_manifest(self, m: dict) -> None:
        os.makedirs(self.output_path, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2, default=str)
        os.replace(tmp, self._manifest_path())

    # -- per-stage progress (reference workspace.py:206-237 / runs.py:604-727:
    # queued → processing → completed WITH stage transitions + a progress
    # percentage; a long run is observable from the manifest alone) --
    _STAGES = ("validate", "score_write", "metrics")

    def _stage_start(self, manifest: dict, stage: str) -> None:
        now = utc_now()
        manifest.setdefault("stages", []).append(
            {"stage": stage, "state": "running", "started_at": now, "finished_at": None}
        )
        manifest["state"] = "processing"
        manifest["progress"] = round(self._STAGES.index(stage) / len(self._STAGES), 3)
        self._save_manifest(manifest)

    def _stage_finish(self, manifest: dict, stage: str) -> None:
        now = utc_now()
        for entry in reversed(manifest.get("stages", [])):
            if entry["stage"] == stage and entry["state"] == "running":
                entry["state"] = "completed"
                entry["finished_at"] = now
                break
        manifest["progress"] = round((self._STAGES.index(stage) + 1) / len(self._STAGES), 3)
        self._save_manifest(manifest)

    def validate(self, pages: DataFrame, max_invalid_utf8: int = 0) -> dict:
        """Cheap validate-first gate (SURVEY.md §7.3.6): aggregate UTF-8
        verdicts over the html payloads BEFORE the expensive scoring stage.
        The reference stops at the first catastrophic byte
        (``ingest.py:155-179``); the lazy-engine equivalent is one cheap
        full-pass count that gates the pipeline — same observable outcome.
        Returns the report dict; raises when the threshold is exceeded."""
        from .io.intake import utf8_report

        r = utf8_report(pages, "html").collect()[0].asDict()
        if (r["invalid_count"] or 0) > max_invalid_utf8:
            raise ValueError(
                f"E_UTF8_INVALID: {r['invalid_count']} invalid payloads "
                f"(first bad byte offset {r['min_error_offset']}) — "
                f"catastrophic gate (threshold {max_invalid_utf8})"
            )
        return r

    def _read_output(self, schema: StructType) -> DataFrame:
        """The written output. The parquet fallback is read with the
        writing frame's ``schema``, so no schema-inference job runs."""
        target = self.table or os.path.join(self.output_path, "data")
        if catalog.is_table_target(target):
            return self.spark.read.table(target)
        return self.spark.read.schema(schema).parquet(target)

    def run(
        self,
        pages: DataFrame,
        run_id: str = "run-0",
        validate_first: bool = False,
        max_invalid_utf8: int = 0,
    ) -> RunResult:
        """Score + write in ONE pass over the input; commit per warc_ts
        month in the manifest.

        The input is scanned exactly once per run: already-committed months
        (same run_id) are excluded with a single ``month NOT IN (...)``
        filter, everything else is scored and written in one
        ``partitionBy("month")`` job with dynamic partition overwrite
        (Iceberg ``overwritePartitions`` on a cluster — one transactional
        snapshot replacing exactly the incomplete months, so a re-run never
        duplicates). At 100 TB this is the difference between 1 scan and
        #months+1 scans — a derived-month filter is NOT a partition-pruning
        predicate, so the old score-per-month loop re-read the full table
        per batch.

        Per-month manifest metrics come from a column-pruned read-back of
        EXACTLY the months this run wrote (known from an ``observe()`` on
        the write pass — zero extra input scans; stale partitions left by
        earlier runs are never swept into this run's commits), not a rescan
        of the input; run totals are the sum of the per-month entries.
        ``validate_first`` runs the catastrophic UTF-8 gate before any
        scoring work.

        Crash safety: the months are committed to the manifest (state
        ``written``) IMMEDIATELY after the write job succeeds — a crash
        during the (cheap) metrics read-back resumes by backfilling metrics
        for those months instead of re-scoring them. Every stage transition
        (validate → score_write → metrics) is persisted with timestamps and
        a progress fraction, and mirrored to the append-only
        ``audit.jsonl`` (PII-free events + input content fingerprint —
        reference ``audit.py:67-135``).

        Failure observability (reference RunState ``queued → processing →
        completed → failed``, ``api/models/run.py:15-20`` + error
        accumulation ``workspace.py:239-262``): the input schema is checked
        BEFORE any stage starts (missing columns → ``E_INPUT_SCHEMA``
        ValueError, not a deep AnalysisException out of the write job), and
        ANY exception marks the manifest ``failed`` — running stages stamped
        ``failed`` with a finish timestamp, the error message appended to
        ``manifest["errors"]``, a ``run_failed`` audit event — before
        re-raising, so a poller (runs_cli / runs_server) can always
        distinguish a dead run from a slow one. Re-running the same run_id
        after a failure resumes normally from the committed months.
        """
        audit = AuditLog(self.output_path)
        manifest = self._load_manifest()
        if manifest.get("run_id") != run_id:
            manifest = {"run_id": run_id, "state": "queued", "completed_batches": {}}
            audit.event("run_created", run_id)
        else:
            audit.event("run_resumed", run_id, completed=sorted(manifest["completed_batches"]))
        try:
            self._check_input_schema(pages, validate_first)
            return self._run_stages(
                pages, run_id, validate_first, max_invalid_utf8, audit, manifest
            )
        except Exception as e:
            self._mark_failed(manifest, audit, run_id, e)
            raise

    def _check_input_schema(self, pages: DataFrame, validate_first: bool) -> None:
        """Fail-fast input contract check — see :data:`REQUIRED_INPUT_COLUMNS`."""
        need = list(REQUIRED_INPUT_COLUMNS) + (["html"] if validate_first else [])
        missing = [c for c in need if c not in pages.columns]
        if missing:
            raise ValueError(
                f"E_INPUT_SCHEMA: input is missing required column(s) {missing}; "
                f"the pipeline scores pages(url, warc_ts, html, text, lang) — got "
                f"{list(pages.columns)}"
            )

    def _mark_failed(
        self, manifest: dict, audit: AuditLog, run_id: str, exc: BaseException
    ) -> None:
        """Reference ``failed`` state + error accumulation. The message is
        truncated to 300 chars and is exception text only (error codes,
        column names, plan fragments) — never row data, keeping the
        manifest/audit PII-free."""
        now = utc_now()
        for entry in manifest.get("stages", []):
            if entry["state"] == "running":
                entry["state"] = "failed"
                entry["finished_at"] = now
        manifest["state"] = "failed"
        msg = f"{type(exc).__name__}: {exc}"[:300]
        manifest.setdefault("errors", []).append(msg)
        self._save_manifest(manifest)
        audit.event("run_failed", run_id, error=msg)

    def _run_stages(
        self,
        pages: DataFrame,
        run_id: str,
        validate_first: bool,
        max_invalid_utf8: int,
        audit: AuditLog,
        manifest: dict,
    ) -> RunResult:
        """The stage body of :meth:`run` (which owns failure marking)."""
        if validate_first:
            self._stage_start(manifest, "validate")
            report = self.validate(pages, max_invalid_utf8)
            audit.event(
                "validate",
                run_id,
                total=report["total"],
                invalid_count=report["invalid_count"],
                verdict="pass",
            )
            self._stage_finish(manifest, "validate")
        result = RunResult(run_id=run_id, output_path=self.output_path)
        entries = manifest["completed_batches"]
        done = sorted(m for m in entries if entries[m].get("state", "completed") == "completed")
        written_only = sorted(m for m in entries if entries[m].get("state") == "written")
        skip = done + written_only
        result.resumed_batches = list(done)
        month = F.coalesce(F.date_format("warc_ts", "yyyy-MM"), F.lit(NULL_MONTH))
        batch = pages.filter(~month.isin(skip)) if skip else pages
        t0 = time.time()
        self._stage_start(manifest, "score_write")
        # the observation rides the write scan: months actually written this
        # run + the input content fingerprint, at zero extra passes. It sees
        # the raw text; output_contract drops text/html above it, before the
        # salted shuffle, so neither is shuffled or written.
        obs = Observation()  # auto-named: unique per run() invocation
        scored = output_contract(
            score_pages(batch, self.keep_langs)
            .withColumn("month", month)
            .withColumn("salt", url_salt(self.salt_buckets))
            .observe(
                obs,
                F.collect_set("month").alias("months"),
                *input_fingerprint_exprs(["url", "warc_ts", "text"]),
            )
        )
        # repartition on (month, salt): skew defusal AND at most one file
        # per (month, salt-bucket) — without month in the key every task
        # could hold rows of every month and fan out #tasks × #months files.
        written = scored.repartition(F.col("month"), F.col("salt")).drop("salt")
        catalog.write_partitioned(
            written,
            self.table or os.path.join(self.output_path, "data"),
            ["month"],
            mode="overwrite-partitions",
        )
        elapsed = round(time.time() - t0, 3)
        committed_at = utc_now()
        try:
            obs_row = obs.get
        except Exception:
            # Zero-row batch: AQE's empty-relation propagation replaces the
            # shuffle subtree (the repartition below the write) with an
            # empty LocalRelation, so CollectMetrics never runs and the
            # observation row comes back schemaless (toPyRow asserts).
            # Don't TRUST that diagnosis — VERIFY it: score_pages is a pure
            # row-preserving transform, so written-rows == batch-rows, and
            # an empty batch is checkable with one pushed-filter limit-1
            # scan (no model UDFs run — the probe is on the pre-scoring
            # batch). If the batch has rows, the observation failed for a
            # different reason and marking the run completed would silently
            # drop the months from the manifest while parquet data sits on
            # disk — fail loudly instead.
            if batch.limit(1).count() > 0:
                raise
            obs_row = {}
        months_written = sorted(obs_row.get("months") or [])
        fingerprint = fingerprint_digest(obs_row)
        audit.event("input_fingerprint", run_id, **fingerprint)
        # commit the written months BEFORE the metrics pass: a crash from
        # here on resumes by backfilling metrics, never re-scoring
        for m in months_written:
            entries[m] = {"month": m, "state": "written", "committed_at": committed_at}
        audit.event("write_committed", run_id, months=months_written, elapsed_sec=elapsed)
        self._stage_finish(manifest, "score_write")
        self._stage_start(manifest, "metrics")
        pending = sorted(set(months_written) | set(written_only))
        if pending:
            # at most #months rows: sorted here, not by a range-sampled sort
            per_month = sorted(
                self._read_output(written.schema)
                .filter(F.col("month").isin(pending))
                .groupBy("month")
                .agg(*_metric_exprs())
                .collect(),
                key=lambda r: r["month"],
            )
        else:
            per_month = []
        for r in per_month:
            m = r["month"]
            entry = {
                "month": m,
                "state": "completed",
                "metrics": {k: v for k, v in r.asDict().items() if k != "month"},
                "elapsed_sec": elapsed,  # one job writes all months
                "committed_at": committed_at,
            }
            entries[m] = entry
            result.batches.append(entry)
            audit.event(
                "month_committed", run_id, month=m, rows=entry["metrics"].get("rows", 0)
            )
        self._stage_finish(manifest, "metrics")
        manifest["state"] = "completed"
        self._save_manifest(manifest)
        audit.event("run_completed", run_id, months=len(result.batches))
        return result
