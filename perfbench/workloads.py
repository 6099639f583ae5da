"""The benchmark workloads.

Each workload builds its inputs from the seed during set-up (written to
parquet, so every iteration goes through the production scan), runs one
iteration per :meth:`iterate` call into a fresh output directory, and checks
each iteration's output against an oracle computed once at set-up.
``layers()`` lists the calls the traced run times, one per layer, and
``counts()`` the work counts it records, which must repeat exactly between
runs. README.md in this directory says why each workload was chosen.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_profiler_spark import rules, synth

# Input sizes, chosen so that on a 4-core host one iteration takes three
# to five seconds: a run then holds several iterations, and set-up plus
# measurement fit in about a minute. Every input stays far below the page
# cache.
FILTER_DOCS = 4000
DEDUP_DOCS = 2000
# Share of dedup_skew's docs in its one duplicate family. At 2000 docs the
# family (400 +- 18) is always above max_band_df, so every seed takes the
# hot-band path. With synth's default 10 %, inputs near 2560 docs fell on
# both sides of the cap, and iteration time varied twofold between seeds.
DUP_FAMILY_FRAC = 0.2

# the production dedup configuration (xxhash64 signatures, hot-band cap)
DEDUP_ARGS = dict(hash_fn="xxhash64", threshold=0.8, max_band_df=256)


def noop(df) -> None:
    """Run a plan to completion without storing its rows."""
    df.write.format("noop").mode("overwrite").save()


def file_bytes(path: Path, pattern: str = "*.parquet") -> tuple[int, int]:
    """(files, bytes) of the files under ``path`` that match ``pattern``."""
    files = [p for p in path.rglob(pattern) if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _write_input(spark, pdf: pd.DataFrame, path: Path) -> None:
    spark.createDataFrame(pdf, synth.PAGES_SCHEMA).write.parquet(str(path))


class Workload:
    name = ""
    default_docs = 0

    def __init__(self, spark, work: Path, seed: int, docs: int | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.docs = docs or self.default_docs
        self.input = work / f"{self.name}-{seed}-input"
        self._iter = 0

    def fresh_dir(self) -> Path:
        self._iter += 1
        return self.work / f"{self.name}-{self.seed}-out-{self._iter}"

    def prepare(self) -> None:
        """Write the input and compute the oracle (not part of setup_s)."""
        raise NotImplementedError

    def iterate(self, out: Path):
        """One timed iteration writing under ``out``; returns its output."""
        raise NotImplementedError

    def check(self, result, out: Path) -> list[str]:
        """Problems found in one iteration's output; empty when correct."""
        raise NotImplementedError

    def out_bytes(self, out: Path) -> int:
        """Bytes of the output files one iteration wrote under ``out``."""
        raise NotImplementedError

    def layers(self) -> list[tuple[str, object]]:
        raise NotImplementedError

    def counts(self) -> dict[str, float]:
        """Work counts of the traced run's layer calls."""
        return {}

    def trace_problems(self) -> list[str]:
        """Problems found in the traced run's final outputs."""
        return []

    def release(self) -> None:
        """Drop what the traced run cached."""


# ---------------------------------------------------------------------------
# filter_run: the whole quality-filter run, scoring through manifest
# ---------------------------------------------------------------------------

class FilterRun(Workload):
    name = "filter_run"
    default_docs = FILTER_DOCS

    def prepare(self) -> None:
        from tests.reference_labeler import label_batch

        pdf = synth.pages_pandas(self.docs, self.seed)
        _write_input(self.spark, pdf, self.input)
        labels = label_batch(pdf["text"].tolist())
        self.oracle = {
            int(i): (lab["keep"], lab["scrubbed_text"])
            for i, lab in zip(pdf["doc_id"], labels)
        }

    def _pages(self):
        return self.spark.read.parquet(str(self.input))

    def iterate(self, out: Path):
        from data_profiler_spark.pipeline import QualityFilterPipeline

        return QualityFilterPipeline(self.spark, str(out)).run(self._pages(), run_id="bench")

    def check(self, result, out: Path) -> list[str]:
        problems = []
        if result.total_rows != self.docs:
            problems.append(f"manifest rows {result.total_rows} != {self.docs}")
        t = pq.read_table(out / "data", columns=["doc_id", "keep", "scrubbed_text"])
        got = dict(
            zip(
                t.column("doc_id").to_pylist(),
                zip(t.column("keep").to_pylist(), t.column("scrubbed_text").to_pylist()),
            )
        )
        if len(got) != self.docs or t.num_rows != self.docs:
            problems.append(f"output rows {t.num_rows} != {self.docs}")
        wrong = sum(1 for i, want in self.oracle.items() if got.get(i) != want)
        if wrong:
            problems.append(f"{wrong} docs differ from the reference labeler")
        return problems

    def out_bytes(self, out: Path) -> int:
        return file_bytes(out / "data")[1]

    # -- traced run --
    def layers(self):
        from data_profiler_spark.functions.langid import langid_udf, log_perplexity_udf
        from data_profiler_spark.functions.pii import pii_counts_expr, scrub_expr
        from data_profiler_spark.functions.textstats import with_signals
        from data_profiler_spark.io import catalog
        from data_profiler_spark.pipeline import NULL_MONTH, _metric_exprs, score_pages, url_salt

        text = F.col("text")
        # catalog.write times the write of already-scored rows, as the
        # pipeline's month and salt columns, cached before any layer runs
        month = F.coalesce(F.date_format("warc_ts", "yyyy-MM"), F.lit(NULL_MONTH))
        self._scored = (
            score_pages(self._pages()).withColumn("month", month).withColumn("salt", url_salt())
        ).cache()
        self._scored.count()

        def write():
            out = self.fresh_dir()
            catalog.write_partitioned(
                self._scored.repartition(F.col("month"), F.col("salt")).drop("salt"),
                str(out / "data"),
                ["month"],
            )
            self._written = out

        def readback():
            df = self.spark.read.parquet(str(self._written / "data"))
            return df.groupBy("month").agg(*_metric_exprs()).collect()

        def run():
            out = self.fresh_dir()
            self._last = (self.iterate(out), out)

        return [
            ("scan", lambda: noop(self._pages())),
            ("textstats", lambda: noop(with_signals(self._pages(), "text", "signals"))),
            (
                "langid",
                lambda: noop(
                    self._pages()
                    .withColumn("lid", langid_udf(text))
                    .withColumn("log_ppl", log_perplexity_udf(text))
                ),
            ),
            (
                "pii",
                lambda: noop(
                    self._pages()
                    .withColumn("scrubbed_text", scrub_expr(text))
                    .withColumn("pii_counts", pii_counts_expr(text))
                ),
            ),
            ("score_pages", lambda: noop(score_pages(self._pages()))),
            ("catalog.write", write),
            ("pipeline.readback", readback),
            ("pipeline.run", run),
        ]

    def release(self) -> None:
        self._scored.unpersist()

    def trace_problems(self) -> list[str]:
        return self.check(*self._last)

    def last_output(self) -> Path:
        """The data directory of the traced run's last pipeline.run call."""
        return self._last[1] / "data"

    def counts(self) -> dict[str, float]:
        data = self._last[1] / "data"
        t = pq.read_table(data, columns=["keep", "drop_reasons"])
        out = {"pipeline.kept": float(sum(t.column("keep").to_pylist()))}
        reasons = t.column("drop_reasons").to_pylist()
        for code in rules.RULE_ORDER:
            out[f"pipeline.drop.{code}"] = float(sum(code in r for r in reasons))
        out["catalog.files"] = float(file_bytes(data)[0])
        return out


# ---------------------------------------------------------------------------
# dedup_skew: MinHash-LSH near-dup pairs -> components -> keep list
# ---------------------------------------------------------------------------

class DedupSkew(Workload):
    name = "dedup_skew"
    default_docs = DEDUP_DOCS

    def prepare(self) -> None:
        pdf = pd.DataFrame(
            [synth.skew_doc(i, self.seed, dup_family_frac=DUP_FAMILY_FRAC) for i in range(self.docs)]
        )
        _write_input(self.spark, pdf, self.input)
        self.family = set(pdf.loc[pdf["quality_class"] == "dup_family", "doc_id"].tolist())
        self.ids = set(pdf["doc_id"].tolist())
        self.reference: tuple[int, int] | None = None

    def _docs(self):
        return self.spark.read.parquet(str(self.input))

    def _pairs(self):
        from data_profiler_spark.operators.checkpoints import materialize
        from data_profiler_spark.operators.dedup import minhash_lsh_pairs

        return materialize(minhash_lsh_pairs(self._docs(), **DEDUP_ARGS), eager=True)

    def _components(self, pairs, keep_path: Path):
        """Collect the components and write the keep list as parquet."""
        from data_profiler_spark.operators.dedup import dedup_keep_ids, near_dup_components

        comps = near_dup_components(pairs, method="star")
        comp_rows = comps.collect()
        dedup_keep_ids(self._docs(), comps).write.parquet(str(keep_path))
        return comp_rows

    def iterate(self, out: Path):
        pairs = self._pairs()
        pair_rows = pairs.collect()
        return pair_rows, self._components(pairs, out / "keep")

    def check(self, result, out: Path) -> list[str]:
        pairs, comps = result
        problems = []
        bad = sum(1 for r in pairs if not (r["id1"] < r["id2"] and r["jaccard"] >= 0.8))
        if bad:
            problems.append(f"{bad} pairs break id1 < id2 and jaccard >= 0.8")
        group = {r["doc_id"]: r["group_id"] for r in comps}
        family_groups = {group.get(i) for i in self.family}
        if len(self.family) > 1 and (len(family_groups) != 1 or None in family_groups):
            problems.append(f"dup_family spans groups {sorted(map(str, family_groups))[:5]}")
        kept_ids = pq.read_table(out / "keep", columns=["doc_id"]).column("doc_id").to_pylist()
        kept = set(kept_ids)
        dropped = {d for d, g in group.items() if d != g}
        if len(kept_ids) != len(kept) or kept != self.ids - dropped:
            problems.append("keep list != all ids minus non-representative members")
        sizes = (len(pairs), len(kept_ids))
        if self.reference is None:
            self.reference = sizes
        elif sizes != self.reference:
            problems.append(f"(pairs, kept) {sizes} != first iteration's {self.reference}")
        return problems

    def out_bytes(self, out: Path) -> int:
        return file_bytes(out / "keep")[1]

    # -- traced run --
    def layers(self):
        from data_profiler_spark.operators.dedup import band_df_report

        def bands():
            self._report = band_df_report(
                self._docs(), hash_fn=DEDUP_ARGS["hash_fn"], max_band_df=DEDUP_ARGS["max_band_df"]
            ).collect()[0]

        def pairs():
            self._pair_df = self._pairs()
            self._n_pairs = len(self._pair_df.collect())

        def components():
            out = self.fresh_dir()
            self._components(self._pair_df, out / "keep")
            self._n_kept = pq.read_table(out / "keep", columns=["doc_id"]).num_rows

        return [("dedup.bands", bands), ("dedup.pairs", pairs), ("dedup.components", components)]

    def counts(self) -> dict[str, float]:
        capped = float(self._report["capped_candidates"])
        return {
            "dedup.hot_buckets": float(self._report["hot_buckets"]),
            "dedup.capped_candidates": capped,
            "dedup.pairs": float(self._n_pairs),
            "dedup.verify_yield": self._n_pairs / capped if capped else 0.0,
            "dedup.kept": float(self._n_kept),
        }


# ---------------------------------------------------------------------------
# profile_output: the profile job over the quality-filter run's output
# ---------------------------------------------------------------------------

FREE_TEXT = ("text", "scrubbed_text", "html")


class ProfileOutput(Workload):
    """Profiles ``data``, the output a quality-filter run wrote; ``docs``
    is that run's input size. Traced only, so it has no ``iterate``."""

    name = "profile_output"

    def __init__(self, spark, work: Path, seed: int, docs: int, data: Path):
        super().__init__(spark, work, seed, docs)
        self.data = data

    def prepare(self) -> None:
        self.oracle = self._duckdb_oracle()

    def _duckdb_oracle(self) -> dict[str, tuple[int, int]]:
        """Per-column (distinct, null) counts by DuckDB over the same files,
        with distinct_report's rules: values trimmed, null or empty-after-
        trim counted as null and excluded from distincts."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads = 2")
            src = f"read_parquet('{self.data}/**/*.parquet', hive_partitioning = true)"
            cols = [
                name
                for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
                if name not in FREE_TEXT
                and (typ == "VARCHAR" or typ in ("BIGINT", "INTEGER", "DOUBLE", "FLOAT"))
            ]
            exprs = ["count(*)"]
            for c in cols:
                v = f'trim(CAST("{c}" AS VARCHAR))'
                exprs.append(f"count(DISTINCT CASE WHEN {v} <> '' THEN {v} END)")
                exprs.append(f"count(*) FILTER (WHERE \"{c}\" IS NULL OR {v} = '')")
            row = con.execute(f"SELECT {', '.join(exprs)} FROM {src}").fetchone()
        finally:
            con.close()
        self.rows = row[0]
        return {c: (row[1 + 2 * i], row[2 + 2 * i]) for i, c in enumerate(cols)}

    # -- traced run --
    def layers(self):
        from data_profiler_spark.io import artifacts
        from data_profiler_spark.operators import profiler
        from jobs.profile_job import NUMERIC_TYPES

        df = self.spark.read.parquet(str(self.data))
        num = [c for c, t in df.dtypes if t.startswith(NUMERIC_TYPES)]
        txt = [c for c, t in df.dtypes if t == "string" and c not in FREE_TEXT]

        def wide():
            exprs = [e for c in num for e in profiler.numeric_stats_exprs(c)]
            exprs += [e for c in txt for e in profiler.string_stats_exprs(c)]
            return df.agg(*exprs).collect()

        def write_artifacts():
            if self._prof is None:
                self._prof = profiler.profile_table(df, num, txt)
                hist = profiler.histogram(df, "log_ppl").collect()
                self._hist = {"log_ppl": [(r["bin_lo"], r["bin_hi"], r["cnt"]) for r in hist]}
            out = self.fresh_dir()
            artifacts.write_profile_artifacts(self._prof, str(out))
            artifacts.write_html_report(self._prof, str(out), run_id="bench", histograms=self._hist)

        self._prof = None
        return [
            ("profiler.wide", wide),
            ("profiler.distinct", lambda: profiler.distinct_report(df, num + txt).collect()),
            ("profiler.topn", lambda: profiler.top_n_values(df, txt, 10).collect()),
            ("profiler.histogram", lambda: profiler.histogram(df, "log_ppl").collect()),
            ("artifacts", write_artifacts),
        ]

    def trace_problems(self) -> list[str]:
        """Problems in the profile the ``artifacts`` layer computed."""
        prof = self._prof
        problems = []
        if prof["row_count"] != self.rows:
            problems.append(f"row_count {prof['row_count']} != {self.rows}")
        distincts = prof["distincts"]
        if set(distincts) != set(self.oracle):
            problems.append(f"profiled columns {sorted(distincts)} != {sorted(self.oracle)}")
        for c, (want_distinct, want_null) in self.oracle.items():
            got = distincts.get(c, {})
            if (got.get("distinct_count"), got.get("null_count")) != (want_distinct, want_null):
                problems.append(f"{c}: distinct/null {got.get('distinct_count')}/"
                                f"{got.get('null_count')} != DuckDB {want_distinct}/{want_null}")
        return problems


# the workloads timed end to end; profile_output is traced only, over
# filter_run's traced output (README.md says why)
WORKLOADS = {cls.name: cls for cls in (FilterRun, DedupSkew)}


def remove(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
