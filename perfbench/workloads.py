"""The benchmark's workloads.  Each one materializes its input table from
the seed, runs one timed job per call of :meth:`Workload.job` and checks
the engine's output against an oracle outside the timed region."""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graby_spark.extract import ExtractOptions
from graby_spark.job import run_extraction
from graby_spark.manifest import filter_resumable, write_with_manifest
from graby_spark.pages import build_pages_df, oracle_pages_cte, pages_ruleset
from graby_spark.siteconfig import RuleSet, load_ruleset

from . import inputs

#: golden-fixture parity mode, as in __spark_entry__'s extraction queries
OPTS = ExtractOptions(xss_filter=False)
#: the projection of bench.py's headline consumer
HEADLINE_COLUMNS = ["url", "title", "language", "is_success", "bytes_in", "extract_ms"]
#: columns run_extraction ships into the Python stage
SHIPPED_COLUMNS = ["url", "warc_ts", "html", "lang", "content_type", "http_status"]
_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "content_type string, http_status int, doc_id bigint"
)


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.pages: DataFrame | None = None
        self.rows = 0
        self.docs_dir: str | None = None
        self.ruleset = pages_ruleset()
        #: write_and_resume results of the jobs since the last materialize
        self.manifest_runs: list[dict] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, self.name, name)

    def _write_input(self, df: DataFrame, k: int) -> None:
        self.input_path = self.path(f"input-{k}")
        df.write.mode("overwrite").parquet(self.input_path)
        self.use_input(self.spark.read.parquet(self.input_path))

    def use_input(self, pages: DataFrame) -> None:
        self.pages = pages
        self.rows = pages.count()

    def extraction_count(self, pages: DataFrame | None = None) -> int:
        """The extraction stage alone over ``pages`` (default: the input),
        as bench.py's headline consumer runs it: no repartition, projected
        output, success count."""
        return (
            run_extraction(
                self.spark, self.pages if pages is None else pages, self.ruleset, options=OPTS,
                repartition=False, columns=HEADLINE_COLUMNS,
            )
            .where("is_success")
            .count()
        )

    def _documents(self, k: int, n_docs: int = inputs.SF01_DOCS) -> str:
        self.docs_dir = self.path(f"sf-{k}")
        inputs.write_documents(self.docs_dir, self.seed, n_docs)
        return self.docs_dir

    def materialize(self, k: int) -> None:
        raise NotImplementedError

    def out_paths(self, tag) -> tuple[str, str]:
        return self.path(f"out-{tag}"), self.path(f"manifest-{tag}")

    def write_and_resume(self, tag) -> dict:
        """Write the extraction output with a manifest into fresh
        directories, then take the resume decision and run the no-op
        resume pass over the same input.  Returns both manifest summaries,
        the output and manifest paths and the seconds of each pass."""
        out, manifest = self.out_paths(tag)
        t0 = time.perf_counter()
        written = write_with_manifest(self.spark, self.extracted(), out, manifest)
        t1 = time.perf_counter()
        remainder = filter_resumable(self.spark, self.pages, manifest).drop("bucket")
        resumed = write_with_manifest(
            self.spark, run_extraction(self.spark, remainder, self.ruleset, options=OPTS), out, manifest
        )
        return {
            "written": written,
            "resumed": resumed,
            "out": out,
            "manifest": manifest,
            "write_s": t1 - t0,
            "resume_s": time.perf_counter() - t1,
        }

    def extracted(self, columns: list[str] | None = None) -> DataFrame:
        raise NotImplementedError

    def job(self) -> None:
        """One timed job over all :attr:`rows` input rows."""
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        """(checks attempted, failure messages)."""
        raise NotImplementedError

    def sample(self, every: int) -> DataFrame:
        """About one input row in ``every``, picked by url hash (the rows of
        the in-process ledger and of the extraction-path shares)."""
        return self.pages.where(F.pmod(F.xxhash64("url"), F.lit(every)) == 0)

    def failed_rows(self) -> int:
        """Rows the last timed job marked unsuccessful."""
        raise NotImplementedError

    def drop_old_outputs(self) -> None:
        """Remove what earlier jobs wrote (called outside the timer)."""


class PagesSmall(Workload):
    """bench.py's headline shape: synthetic ~1 KB pages, no repartition,
    projected output, success count."""

    name = "pages_small"
    REPEAT = 2

    def materialize(self, k: int) -> None:
        self._write_input(build_pages_df(self.spark, self._documents(k), repeat=self.REPEAT), k)
        self.counts: list[int] = []

    def extracted(self, columns=HEADLINE_COLUMNS):
        return run_extraction(
            self.spark, self.pages, self.ruleset, options=OPTS, repartition=False, columns=columns
        )

    def job(self) -> None:
        self.counts.append(self.extraction_count())

    def failed_rows(self) -> int:
        return self.rows - self.counts[-1]

    def check(self):
        errors = [f"timed success count {n} != {self.rows}" for n in self.counts if n != self.rows]
        got = self.extracted(["url", "text", "is_success"]).toPandas()
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW base AS SELECT * FROM read_parquet('{self.docs_dir}/documents.parquet')"
            )
            n = con.execute("SELECT max(doc_id) + 1 FROM base").fetchone()[0]
            # build_pages_df(repeat=R): copy c of doc d is doc_id d + c * n
            con.execute(
                "CREATE VIEW documents AS SELECT doc_id + c * "
                f"{n} AS doc_id, text, lang, source, n_chars FROM base, range({self.REPEAT}) t(c)"
            )
            expected = con.execute(
                f"WITH {oracle_pages_cte()} SELECT url, expected_text FROM expected"
            ).df()
        finally:
            con.close()
        want = dict(zip(expected["url"], expected["expected_text"]))
        bad = [
            u
            for u, text, ok in zip(got["url"], got["text"], got["is_success"])
            if not ok or want.get(u) != text
        ]
        if len(got) != len(want):
            errors.append(f"{len(got)} output rows for {len(want)} pages")
        errors += [f"text mismatch: {u}" for u in bad[:5]]
        if len(bad) > 5:
            errors.append(f"... {len(bad)} text mismatches in all")
        return len(got) + len(self.counts), errors


class CrawlWrite(Workload):
    """Production default path over a planted stress mix: the synthetic
    sf0.1 pages, a mega-host slice, hostile rows and two copies of every
    recorded page; salted repartition, all columns, parquet write with
    manifest, then a no-op resume pass.

    The shares are chosen, not measured from a crawl; each forces one
    thing.  The default repartition has 2 x 4 = 8 partitions, so one
    partition's even share is 12.5% of the rows."""

    name = "crawl_write"
    DOCS = inputs.SF01_DOCS
    #: 2% of the table, 21 of each hostile kind: every kind reaches several
    #: of the 8 shuffle partitions, and the 42 empty and NULL rows are the
    #: planted failures the manifest check counts
    HOSTILE_ROWS = 126
    #: copy 0 is the canonical copy the byte goldens pin; copy 1 has its own
    #: url and bytes, so a cache keyed on either cannot serve it from copy 0
    RECORDED_COPIES = 2

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.ruleset = RuleSet(
            {**load_ruleset(inputs.SITE_CONFIG_DIR).configs, **pages_ruleset().configs}
        )

    def materialize(self, k: int) -> None:
        docs = self._documents(k, self.DOCS)
        # copy 1 of the configured.example.com docs is the mega-host slice:
        # that host then holds 40% of the synthetic pages, 3.2 partitions'
        # worth, so the job stalls on one task unless the salt spreads it
        base = build_pages_df(self.spark, docs, repeat=2).where(
            f"doc_id < {self.DOCS} OR doc_id % 4 = 0"
        )
        recorded = inputs.real_pages_frame(self.seed, self.RECORDED_COPIES)
        self.recorded = recorded[["url", "page_key", "copy"]]
        extra = pd.concat(
            [
                inputs.hostile_frame(self.seed, self.HOSTILE_ROWS),
                recorded.drop(columns=["page_key", "copy"]).assign(
                    text=None, doc_id=-(10**6) - recorded.index
                ),
            ],
            ignore_index=True,
        )
        df = base.unionByName(self.spark.createDataFrame(extra[list(base.columns)], _PAGES_SCHEMA))
        self._write_input(df, k)
        self.manifest_runs = []

    def extracted(self, columns=None):
        return run_extraction(self.spark, self.pages, self.ruleset, options=OPTS, columns=columns)

    def job(self) -> None:
        # fresh directories per job; the previous job's output is removed
        # before the timer of the next one starts (harness.timed_loop)
        self.manifest_runs.append(self.write_and_resume(len(self.manifest_runs)))

    def drop_old_outputs(self) -> None:
        for i in range(len(self.manifest_runs) - 1):
            for path in self.out_paths(i):
                shutil.rmtree(path, ignore_errors=True)

    def failed_rows(self) -> int:
        return self.manifest_runs[-1]["written"]["fail"]

    def planted_failures(self) -> int:
        kinds = list(inputs.HOSTILE_KINDS)
        return sum(
            1 for i in range(self.HOSTILE_ROWS) if not inputs.HOSTILE_KINDS[kinds[i % len(kinds)]]
        )

    def check(self):
        errors = []
        planted_fail = self.planted_failures()
        planted_ok = self.rows - planted_fail
        for run in self.manifest_runs:
            first, second = run["written"], run["resumed"]
            if (first["ok"], first["fail"]) != (planted_ok, planted_fail):
                errors.append(
                    f"manifest ok/fail {first['ok']}/{first['fail']} != planted {planted_ok}/{planted_fail}"
                )
            if second["urls"] != 0:
                errors.append(f"resume pass wrote {second['urls']} rows")
        out, manifest = self.out_paths(len(self.manifest_runs) - 1)
        written = self.spark.read.parquet(out)
        n_written = written.count()
        if n_written != self.rows:
            errors.append(f"{n_written} output rows for {self.rows} input rows")
        remainder = filter_resumable(self.spark, self.pages, manifest).count()
        if remainder != 0:
            errors.append(f"resume remainder {remainder} != 0")
        recorded_errors, checked = self._check_recorded(written)
        return 2 * len(self.manifest_runs) + 2 + checked, errors + recorded_errors

    def _check_recorded(self, written: DataFrame) -> tuple[list[str], int]:
        """The canonical copy of every page with a byte golden matches it;
        every recorded row extracts successfully, as at the seed commit."""
        got = (
            written.where(F.col("url").isin(list(self.recorded["url"])))
            .select("url", "html", "is_success")
            .toPandas()
            .set_index("url")
        )
        goldens = {p["key"]: p["golden"] for p in inputs.recorded_pages()}
        errors, checked = [], 0
        for url, key, copy in self.recorded.itertuples(index=False):
            if url not in got.index:
                errors.append(f"recorded page missing from the output: {key} copy {copy}")
                continue
            row = got.loc[url]
            checked += 1
            if not row["is_success"]:
                errors.append(f"is_success flipped: {key} copy {copy}")
            if copy == 0 and goldens[key] is not None:
                checked += 1
                if row["html"] != goldens[key]:
                    errors.append(f"golden html differs: {key}")
        return errors, checked


WORKLOADS = {cls.name: cls for cls in (PagesSmall, CrawlWrite)}
