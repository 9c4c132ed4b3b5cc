"""The traced run: the per-layer cost ledger of one workload.

Each per-layer metric is measured on the workload's own rows; the map of
which layer metric should move which end-to-end metric on which workload
is in perfbench/README.md.
"""

from __future__ import annotations

import importlib
import os
import time

from pyspark.sql import functions as F

from graby_spark import dom, readability, siteconfig, textutils
from graby_spark import extract as extract_mod
from graby_spark.extract import ExtractOptions, extract_one
from graby_spark.job import run_extraction, trace_stats
from graby_spark.manifest import filter_resumable

from . import env, harness, inputs, stats
from .env import log
from .tracing import RssSampler, StageMetrics, Tracer, one_core
from .workloads import OPTS, SHIPPED_COLUMNS, WORKLOADS

#: the registry queries whose cost the ledger splits out
REGISTRY = ("multipage_stitch", "dedup_minhash_lsh", "graph_pagerank", "dedup_exact", "text_quality")
#: corpus of the registry pass, the sf0.01 size; the queries' cost is
#: mostly per-job, not per-row, at this size
REGISTRY_DOCS = 500
#: the all-pairs Jaccard oracle of dedup_minhash_lsh takes ~25 s in DuckDB
#: even at 500 docs (4 vCPUs), more than a traced run can spend; the other
#: oracles take under a second
UNCHECKED = {"dedup_minhash_lsh"}
#: the in-process ledger and the path shares run on one input row in n
LEDGER_EVERY = 5
#: timed runs of the one-core leg of job.scaling_eff, after one warm-up
NARROW_RUNS = 2

_PHASES = [
    ("charset.convert", extract_mod, "convert_to_utf8"),
    ("textutils.pre_clean", textutils, "pre_clean"),
    ("dom.parse", readability, "parse_html"),
    ("dom.parse", dom, "parse_html"),
    ("siteconfig.lookup", siteconfig.RuleSet, "for_page"),
    ("siteconfig.lookup", siteconfig.RuleSet, "for_host"),
    ("extract.process", extract_mod, "process"),
    ("extract.cleanup", extract_mod, "cleanup_html"),
    ("textutils.excerpt", textutils, "excerpt"),
]


def _extraction_s(wl, tracer: Tracer, metrics: StageMetrics, group: str | None) -> float:
    """Seconds of one extraction stage.  With a job ``group`` it runs as a
    traced job does: in a span and that job group, followed by the REST
    reads of its stage metrics, all inside the timer."""
    os.sync()  # as before each timed job of the untraced run
    t0 = time.perf_counter()
    if group is None:
        wl.extraction_count()
    else:
        _stage_summary(metrics, tracer, group, wl.extraction_count)
    return time.perf_counter() - t0


def _stage_summary(metrics: StageMetrics, tracer: Tracer, name: str, fn) -> dict:
    """Run ``fn`` in span and job group ``name``; its stage summary plus
    ``wall_s``, the span's seconds (the REST reads come after it)."""
    with metrics.group(name), tracer.span(name) as span:
        fn()
    return {
        **StageMetrics.summarize(metrics.stages_of(name)),
        "wall_s": span["end"] - span["start"],
    }


def _jvm_scan(wl):
    """The JVM-only scan of the columns the job ships into Python."""
    cols = [c for c in SHIPPED_COLUMNS if c in wl.pages.columns]
    return wl.pages.select(*cols)


def _arrow_identity(wl):
    """The scan plus the Arrow round trip into a Python worker and back."""
    scan = _jvm_scan(wl)

    def identity(batches):
        yield from batches

    return scan.mapInPandas(identity, scan.schema)


def _run_sample(rows: list[dict], ruleset, tracer: Tracer | None) -> None:
    for row in rows:
        html = row["html"] if isinstance(row["html"], (bytes, bytearray)) else b""
        call = lambda: extract_one(  # noqa: E731
            bytes(html),
            row["url"],
            ruleset,
            content_type=row.get("content_type") or "text/html; charset=utf-8",
            http_status=int(row.get("http_status") or 200),
            lang_hint=row.get("lang"),
            options=OPTS,
        )
        try:
            if tracer is None:
                call()
            else:
                with tracer.span("extract.extract_one"):
                    call()
        except Exception:  # the job isolates row failures the same way
            pass


def one_core_leg(wl, tracer: Tracer) -> tuple[int, int, list[float]]:
    """The one-core leg of ``job.scaling_eff``: about a quarter of the input
    rows, written to parquet files of their own in a quarter of the wide
    leg's splits, so that both legs scan only the rows they extract and run
    the same number of tasks per core.  One warm-up run on all cores, then
    :data:`NARROW_RUNS` extraction stages with the benchmark, the driver JVM
    and its Python workers pinned to one core.  Returns (rows, splits, wall
    seconds of each pinned run)."""
    path = wl.path("quarter")
    splits = max(1, round(wl.pages.rdd.getNumPartitions() / 4))
    wl.sample(4).coalesce(splits).write.mode("overwrite").parquet(path)
    quarter = wl.spark.read.parquet(path)
    rows = quarter.count()
    wl.extraction_count(quarter)
    walls = []
    with one_core():
        for _ in range(NARROW_RUNS):
            os.sync()
            with tracer.span("job.extraction_1_core") as span:
                wl.extraction_count(quarter)
            walls.append(span["end"] - span["start"])
    return rows, quarter.rdd.getNumPartitions(), walls


def in_process(wl, tracer: Tracer) -> dict[str, float]:
    """µs per document of ``extract_one`` and its phases, in this process,
    on the workload's sample rows (after one untraced pass)."""
    cols = [c for c in SHIPPED_COLUMNS if c in wl.pages.columns]
    rows = wl.sample(LEDGER_EVERY).select(*cols).toPandas().to_dict("records")
    _run_sample(rows, wl.ruleset, None)
    first = len(tracer.spans)
    with tracer.span("in_process"), tracer.wrapped(_PHASES):
        _run_sample(rows, wl.ruleset, tracer)
    totals = tracer.totals(tracer.spans[first:])
    us = lambda name, key="total": 1e6 * totals.get(name, {}).get(key, 0.0) / len(rows)  # noqa: E731
    return {
        "extract.extract_one_us": us("extract.extract_one"),
        "charset.convert_us": us("charset.convert"),
        "textutils.pre_clean_us": us("textutils.pre_clean"),
        "dom.parse_us": us("dom.parse"),
        "siteconfig.lookup_us": us("siteconfig.lookup"),
        "extract.process_self_us": us("extract.process", "self"),
        "extract.cleanup_us": us("extract.cleanup"),
        "textutils.excerpt_us": us("textutils.excerpt"),
    }


def path_shares(wl, tracer: Tracer) -> dict[str, float]:
    """Share of the sample rows whose body came from a site-config rule and
    from readability, from the engine's own extraction trace."""
    sample = wl.sample(LEDGER_EVERY)
    n_rows = sample.count()
    traced = run_extraction(
        wl.spark, sample, wl.ruleset, options=ExtractOptions(xss_filter=False, trace=True),
        repartition=False, columns=["url", "trace"],
    )
    with tracer.span("job.trace_stats"):
        body = (
            trace_stats(traced)
            .where("step = 'body'")
            .groupBy(F.substring_index("detail", " ", 1).alias("path"))
            .agg(F.sum("n").alias("n"))
            .collect()
        )
    by_path = {r["path"]: r["n"] for r in body}
    return {
        "extract.path_siteconfig_share": by_path.get("siteconfig", 0) / n_rows,
        "extract.path_readability_share": by_path.get("readability", 0) / n_rows,
    }


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def manifest_pass(wl, tracer: Tracer) -> tuple[dict[str, float], list[str]]:
    """The manifest layer: the traced job's write and resume when the job
    writes (crawl_write), else one write-and-resume pass over the
    workload's extraction output.  ``filter_resumable`` only builds a plan;
    its anti-join runs in the resume pass, so it is timed here on its own
    through a count of the remainder."""
    run = wl.manifest_runs[-1] if wl.manifest_runs else wl.write_and_resume("ledger")
    files, size = _dir_files(run["out"])
    errors = []
    if run["written"]["urls"] != wl.rows:
        errors.append(f"manifest pass wrote {run['written']['urls']} of {wl.rows} rows")
    if run["resumed"]["urls"]:
        errors.append(f"resume after a complete write wrote {run['resumed']['urls']} rows")
    with tracer.span("manifest.filter_resumable") as span:
        remainder = filter_resumable(wl.spark, wl.pages, run["manifest"]).count()
    if remainder:
        errors.append(f"resume remainder {remainder} != 0")
    return {
        "manifest.write_s": run["write_s"],
        "manifest.files_written": files,
        "manifest.output_mb": size / 2**20,
        "manifest.filter_resumable_s": span["end"] - span["start"],
        "manifest.resume_s": run["resume_s"],
    }, errors


def registry_pass(spark, metrics: StageMetrics, tracer: Tracer, work: str, seed: int):
    """Each registry query once over a seeded documents table, collected
    and compared value-exact with its DuckDB oracle."""
    import duckdb

    from tools.check_oracles import normalize

    entry = importlib.import_module("__spark_entry__")
    queries, oracles = entry.queries(), entry.oracle_sql()
    sf = os.path.join(work, "registry-sf")
    inputs.write_documents(sf, seed, n_docs=REGISTRY_DOCS)
    out: dict[str, float] = {}
    tasks = 0.0
    errors = []
    before = metrics.executor_totals()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
        for name in REGISTRY:
            got = []
            summary = _stage_summary(
                metrics, tracer, f"registry.{name}",
                lambda: got.append(queries[name](spark, sf).toPandas()),
            )
            out[f"registry.{name}_s"] = summary["wall_s"]
            tasks += summary["tasks"]
            if name in UNCHECKED:
                continue
            expected = con.execute(oracles[name]).df()
            if len(got[0]) != len(expected) or normalize(got[0]) != normalize(expected):
                errors.append(f"registry {name} differs from its oracle")
    finally:
        con.close()
    out["registry.tasks"] = tasks
    shuffled = stats.counter_diff(before, metrics.executor_totals())["swrite"]
    out["registry.shuffle_write_mb"] = shuffled / 2**20
    return out, errors


def ledger(args, spark, spark_start_s: float, work: str):
    """One set-up, one traced job, untraced and traced extraction stages in
    turn, the one-core leg, then the job, in-process, manifest and registry
    ledgers.  Returns (attempted, errors, metrics, tracer)."""
    tracer = Tracer()
    metrics = StageMetrics(spark)
    wl = WORKLOADS[args.workload](spark, args.seed, work)
    # one set-up: the untraced run reports the set-up time
    with tracer.span("setup"):
        _, materialize = harness.set_up(wl, spark_start_s, count=1)
    log("set up")
    with RssSampler() as rss:
        # one traced job of the workload: its stage metrics
        wl.drop_old_outputs()
        os.sync()  # as before each timed job of the untraced run
        job = _stage_summary(metrics, tracer, "job", wl.job)
        # untraced and traced extraction stages in ABBA order, so that host
        # drift and the order within a pair fall on both sides of
        # trace.overhead_share alike; the untraced ones are also the 4-core
        # leg of the scaling measurement.  The extraction stage rather than
        # the whole job, and a quarter of --seconds, so that the ledger fits
        # in the 180 s a run may take.
        wl.extraction_count()  # its plan differs from the job's: warm it
        walls_off, walls_on = [], []
        started = time.perf_counter()
        while not walls_on or time.perf_counter() - started < args.seconds / 4:
            for traced in (False, True, True, False):
                group = f"job.extraction.{len(walls_on)}" if traced else None
                (walls_on if traced else walls_off).append(_extraction_s(wl, tracer, metrics, group))
    log(f"extraction untraced {[round(w, 2) for w in walls_off]} traced {[round(w, 2) for w in walls_on]}")
    # outside the RSS sampler, whose thread would share the one core
    quarter_rows, quarter_splits, walls_narrow = one_core_leg(wl, tracer)
    log(
        f"one-core leg {quarter_rows} rows in {quarter_splits} splits "
        f"(wide leg {wl.pages.rdd.getNumPartitions()}): {[round(w, 2) for w in walls_narrow]} s"
    )
    attempted, errors = wl.check()
    rows = wl.rows

    p50 = stats.percentile(job["task_ms"], 50)
    p_max = max(job["task_ms"])
    html_bytes = wl.pages.select(F.sum(F.octet_length("html"))).collect()[0][0]
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    scan = _stage_summary(metrics, tracer, "job.scan", lambda: noop(_jvm_scan(wl)))
    arrow = _stage_summary(metrics, tracer, "job.arrow", lambda: noop(_arrow_identity(wl)))
    layer = in_process(wl, tracer)
    stage_us = 1000 * job["run_ms"] / rows
    scan_us = 1000 * scan["run_ms"] / rows
    arrow_us = 1000 * (arrow["run_ms"] - scan["run_ms"]) / rows
    out: dict[str, float] = {
        "session.start_s": spark_start_s,
        "pages.materialize_s": stats.median(materialize),
        "job.scan_core_us_per_doc": scan_us,
        "job.scan_tasks": scan["tasks"],
        "job.arrow_core_us_per_doc": arrow_us,
        "job.stage_core_us_per_doc": stage_us,
        "job.unattributed_core_us_per_doc": stage_us - scan_us - arrow_us - layer["extract.extract_one_us"],
        "job.task_ms_p50": p50,
        "job.task_ms_max": p_max,
        "job.task_skew": p_max / p50,
        "job.shuffle_write_mb": job["shuffle_write_bytes"] / 2**20,
        "job.shuffle_ratio": job["shuffle_write_bytes"] / html_bytes,
        "job.jvm_gc_ms": job["gc_ms"],
        "job.scaling_eff": stats.weak_scaling_efficiency(
            rows, stats.median(walls_off), quarter_rows, stats.median(walls_narrow), 4
        ),
        "job.fail_share": wl.failed_rows() / rows,
        "job.peak_rss_mb": rss.peak_bytes / 2**20,
        **layer,
        **path_shares(wl, tracer),
    }
    log("job and in-process ledgers")
    with tracer.span("manifest"):
        manifest, manifest_errors = manifest_pass(wl, tracer)
    out.update(manifest)
    registry, registry_errors = registry_pass(spark, metrics, tracer, work, args.seed)
    out.update(registry)
    log("manifest and registry passes")
    out["trace.overhead_share"] = stats.median(walls_on) / stats.median(walls_off) - 1
    errors = errors + manifest_errors + registry_errors
    attempted += 3 + len(REGISTRY) - len(UNCHECKED)
    units = env.spec_units("per_layer")
    return attempted, errors, {k: (v, units[k]) for k, v in out.items()}, tracer
