"""Traced-run wiring: which engine functions get spans, and how spans,
status-store jobs and mock counters become the per-layer metrics.

Layer times are self times, except ``operators.*build_s`` (the whole build
call; ``io.read_s`` and ``lifecycle.s`` are the io and lifecycle calls
inside it). Times and counts are per workload operation (a corpus key, a
``run_jobs`` call) unless the name says share, ratio, peak or per request;
per-key corpus metrics are per build of that key.
"""

from __future__ import annotations

import os

CORPUS_KEYS = ("p26_llm_corpus_pipeline", "d14_canonical_pick", "t22_dsir_importance",
               "t26_unigram_lm_encode")

UNITS = {
    "session.get_spark_s": "s", "registry.load_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    **{f"operators.{k}.{m}": u for k in CORPUS_KEYS
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"))},
    "exec.plan_s": "s", "exec.run_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_busy_share": "share",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.result_bytes": "bytes",
    "io.read_s": "s", "io.scan_tasks": "count", "io.input_bytes": "bytes",
    "io.read_amplification": "ratio",
    "lifecycle.s": "s", "lifecycle.persisted_rdds": "count", "lifecycle.persisted_bytes_peak": "bytes",
    "pipeline.build_source_s": "s", "pipeline.apply_transforms_s": "s",
    "pipeline.write_sink_s": "s", "pipeline.count_s": "s", "pipeline.source_reads": "count",
    "es_http.bulk_index_s": "s", "es_http.send_tasks": "count",
    "es_http.bulk_requests": "count", "es_http.docs_per_request": "count",
    "es_http.bytes_per_doc": "bytes", "es_http.retries": "count",
    "es_http.retried_docs": "count", "es_http.rejections_429": "count",
    "es_mock.busy_s": "s", "es_mock.busy_share": "share",
    "trace.delta.setup_s": "s", "trace.delta.pass_cpu_s": "s", "trace.delta.op_cpu_s": "s",
    "trace.delta.items_per_cpu_s": "1/s", "trace.overhead_share": "share",
    "wall.pass_s": "s", "wall.op_p50_s": "s", "wall.items_per_s": "1/s",
    "host.cpu_steal_share": "share",
    "jvm.peak_rss_mb": "MB", "failed_share": "share",
}


def tables_of(df) -> list[str]:
    """Source tables a DataFrame's final plan scans (``<table>.parquet``
    part-file directories)."""
    return sorted({os.path.basename(os.path.dirname(p)).removesuffix(".parquet")
                   for p in df.inputFiles()})


def install(tracer) -> None:
    from hive_to_es_spark import es_http, io, pipeline
    from hive_to_es_spark.functions import lifecycle

    def note_tables(sp, args, df):
        sp.attrs["tables"] = tables_of(df)

    # Every table an operation reads through the lazy table accessor,
    # eager side-jobs included, counts as touched; register_views (the
    # custom-SQL source) touches all of them, so its plan's scans count
    # instead (note_tables above).
    get, register = io.Tables.__getattr__, io.Tables.register_views
    quiet = []

    def noted_get(self, name):
        df = get(self, name)
        if not quiet:
            tracer.note("tables", name)
        return df

    def quiet_register(self):
        quiet.append(1)
        try:
            return register(self)
        finally:
            quiet.pop()

    tracer.patch(io.Tables, "__getattr__", noted_get)
    tracer.patch(io.Tables, "register_views", quiet_register)

    tracer.wrap(pipeline, "build_source", "pipeline", on_return=note_tables)
    for name in ("apply_transforms", "write_sink", "run_job", "run_jobs"):
        tracer.wrap(pipeline, name, "pipeline")
    tracer.wrap(es_http, "bulk_index", "es_http")
    for name in ("read_table", "load_tables"):
        tracer.wrap(io, name, "io")
    for name in ("materialize", "release_checkpoint", "release_all_persistent"):
        tracer.wrap(lifecycle, name, "lifecycle")


def metrics(ctx, res: dict, wall: float, nproc: int, first_job: int, mock_base: dict | None,
            mock_end: dict | None, e2e: dict, untraced: dict | None) -> dict:
    tr = ctx.tracer
    spans = tr.spans
    selft = tr.self_time()
    prefix = tr.run_id + ":"
    jobs = [j for j in ctx.stats.jobs(first_job) if j.group and j.group.startswith(prefix)]
    stages = ctx.stats.stages()
    by_span: dict[int, list] = {}
    for j in jobs:
        by_span.setdefault(int(j.group[len(prefix):]), []).append(j)

    def live(job):
        return [stages[s] for s in job.stage_ids if s in stages and stages[s]["status"] != "SKIPPED"]

    def jobs_under(sid):
        return [j for s in tr.subtree(sid) for j in by_span.get(s, [])]

    def named(layer, name=None):
        return [sp for sp in spans if sp.layer == layer and (name is None or sp.name == name)]

    def self_sum(layer, name=None):
        return sum(selft[sp.span_id] for sp in named(layer, name))

    ops = max(res["ops"], 1)
    out = dict(ctx.record["setup"])
    builds = named("operators", "build")
    out["operators.build_s"] = sum(sp.dur for sp in builds) / max(len(builds), 1)
    out["operators.build_jobs"] = sum(len(jobs_under(sp.span_id)) for sp in builds) / max(len(builds), 1)
    kids = tr.children()
    for key in CORPUS_KEYS:
        kb = [sp for sp in builds if sp.attrs.get("key") == key]
        n = max(len(kb), 1)
        out[f"operators.{key}.build_s"] = sum(sp.dur for sp in kb) / n
        out[f"operators.{key}.build_jobs"] = sum(len(jobs_under(sp.span_id)) for sp in kb) / n
        out[f"operators.{key}.exec_s"] = sum(
            c.dur for sp in kb for c in kids.get(sp.parent, []) if c.layer == "exec") / n

    all_stages = {s: stages[s] for j in jobs for s in j.stage_ids
                  if s in stages and stages[s]["status"] != "SKIPPED"}
    st = list(all_stages.values())

    def total(f):
        return sum(s[f] for s in st)

    out["exec.plan_s"] = sum(sp.dur for sp in named("exec", "plan")) / ops
    out["exec.run_s"] = sum(j.wall_s for j in jobs) / ops
    out["exec.jobs"] = len(jobs) / ops
    out["exec.stages"] = len(st) / ops
    out["exec.tasks"] = total("numTasks") / ops
    out["exec.executor_run_s"] = total("executorRunTime") / 1e3 / ops
    out["exec.executor_cpu_s"] = total("executorCpuTime") / 1e9 / ops
    out["exec.gc_s"] = total("jvmGcTime") / 1e3 / ops
    out["exec.core_busy_share"] = total("executorRunTime") / 1e3 / (wall * nproc)
    out["exec.shuffle_read_bytes"] = total("shuffleReadBytes") / ops
    out["exec.shuffle_write_bytes"] = total("shuffleWriteBytes") / ops
    out["exec.spill_bytes"] = total("memoryBytesSpilled") / ops
    out["exec.result_bytes"] = total("resultSize") / ops

    # io: scans are the stages that read input bytes; amplification
    # divides what they read by the on-disk size of the tables each
    # operation touched.
    layout = ctx.record.get("layout", {})
    scans = [s for s in st if s["inputBytes"] > 0]
    touched = 0
    for op in named("op"):
        tabs = set(op.attrs.get("tables", []))
        for s in tr.subtree(op.span_id):
            tabs.update(spans[s].attrs.get("tables", []))
        touched += sum(layout.get(t, {}).get("bytes", 0) for t in tabs)
    out["io.read_s"] = self_sum("io") / ops
    out["io.scan_tasks"] = sum(s["numTasks"] for s in scans) / ops
    out["io.input_bytes"] = total("inputBytes") / ops
    out["io.read_amplification"] = total("inputBytes") / touched if touched else 0.0

    persisted = res.get("persisted") or [(0, 0)]
    out["lifecycle.s"] = self_sum("lifecycle") / ops
    out["lifecycle.persisted_rdds"] = max(n for n, _ in persisted)
    out["lifecycle.persisted_bytes_peak"] = max(b for _, b in persisted)

    for name in ("build_source", "apply_transforms", "write_sink"):
        out[f"pipeline.{name}_s"] = self_sum("pipeline", name) / ops
    out["pipeline.count_s"] = self_sum("pipeline", "run_jobs") / ops
    run_job_calls = max(len(named("pipeline", "run_job")), 1)
    out["pipeline.source_reads"] = sum(
        1 for sp in named("pipeline", "run_jobs") for j in jobs_under(sp.span_id)
        for s in live(j) if s["inputBytes"] > 0) / run_job_calls

    bulk = named("es_http", "bulk_index")
    bulk_s = sum(sp.dur for sp in bulk)
    out["es_http.bulk_index_s"] = self_sum("es_http") / ops
    out["es_http.send_tasks"] = sum(
        max(live(j), key=lambda s: s["numTasks"], default={"numTasks": 0})["numTasks"]
        for sp in bulk for j in jobs_under(sp.span_id)) / max(len(bulk), 1)
    counters = ("requests", "docs_sent", "bytes", "rejected_requests", "rejected_items", "busy_s")
    m = {k: (mock_end[k] - mock_base[k]) if mock_end else 0 for k in counters}
    out["es_http.bulk_requests"] = m["requests"] / ops
    out["es_http.docs_per_request"] = m["docs_sent"] / m["requests"] if m["requests"] else 0.0
    out["es_http.bytes_per_doc"] = m["bytes"] / m["docs_sent"] if m["docs_sent"] else 0.0
    # Every per-item 429 answer makes the client re-send exactly the
    # rejected items once; the doc-count check proves they arrived.
    out["es_http.retries"] = m["rejected_requests"] / ops
    out["es_http.retried_docs"] = m["rejected_items"] / ops
    out["es_http.rejections_429"] = m["rejected_requests"] / ops
    out["es_mock.busy_s"] = m["busy_s"] / ops
    out["es_mock.busy_share"] = m["busy_s"] / bulk_s if bulk_s else 0.0

    # Tracing overhead: traced end-to-end numbers minus the untraced run's
    # (0 without an untraced run of the same seed).
    for name, value in e2e.items():
        out[f"trace.delta.{name}"] = value - untraced["metrics"][name]["value"] if untraced else 0.0
    base = untraced["metrics"]["pass_cpu_s"]["value"] if untraced else 0.0
    out["trace.overhead_share"] = out["trace.delta.pass_cpu_s"] / base if base else 0.0
    # Wall-time figures of this (traced) run, and how much of the host's
    # CPU time went to other guests meanwhile.
    for name, value in ctx.record["wall"].items():
        out[f"wall.{name}"] = value
    out["host.cpu_steal_share"] = ctx.record["provenance"]["cpu_steal_share"]
    out["jvm.peak_rss_mb"] = ctx.record["jvm_peak_rss_mb"]
    out["failed_share"] = ctx.n_failed / max(ctx.attempted, 1)
    ctx.record["untraced"] = untraced
    ctx.record["per_layer_ops"] = res["ops"]
    return out
