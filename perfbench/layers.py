"""Per-layer metrics of a traced run.

Times come from spans (``spans.Tracer``); job, stage, shuffle and
record counts come from the Spark status store, charged to the span
that was open when each job started. Counts are taken from the first
measured pass, which is always traced, so two traced runs of one seed
report the same counts. A metric of a layer the workload does not
reach reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import job_records, self_times, union_length
from workloads import CATALOG_ENTRIES, HYBRID_K, WORKLOADS

INGEST_SPANS = ("ingest.plan", "ingest.materialize", "ingest.save")
INDEX_SPANS = ("index.ann_build", "index.token_build")
RAG_SPANS = ("rag.ner", "rag.link", "rag.llm", "rag.guard", "rag.ann_probe", "rag.expand")


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``, in output order."""
    out = [(f"{s}_s", "s") for s in INGEST_SPANS + INDEX_SPANS]
    out += [("ingest.python_stage_s", "s"), ("ingest.batch_growth", "ratio")]
    out += [(f"{s}_s", "s") for s in RAG_SPANS]
    out += [("rag.prompt_s", "s"), ("rag.sql_exec_s", "s"), ("rag.hybrid_s", "s")]
    out += [("rag.link_hit_ratio", "ratio"), ("rag.rows_read_per_hit", "count")]
    for e in CATALOG_ENTRIES:
        out += [
            (f"catalog.{e}.s", "s"),
            (f"catalog.{e}.jobs", "count"),
            (f"catalog.{e}.shuffle_mb", "MB"),
            (f"catalog.{e}.driver_gap_s", "s"),
        ]
    for w in WORKLOADS:
        out += [
            (f"{w}.jobs", "count"),
            (f"{w}.stages", "count"),
            (f"{w}.driver_gap_frac", "ratio"),
            (f"{w}.gc_s", "s"),
        ]
    out += [("session.start_s", "s"), ("trace.overhead_frac", "ratio")]
    return out


def _gap(span, jobs) -> float:
    """Span wall time not covered by any of its jobs (driver-side time)."""
    cover = union_length(
        (max(j.start, span.start), min(j.end, span.end)) for j in jobs if j.end > span.start
    )
    return (span.end - span.start) - cover


def per_layer(spark, tracer, wl, workload, setup_spans, pass_walls, gc, session_start_s) -> dict:
    spans = tracer.spans
    selfs = self_times(spans)
    jobs = job_records(spark)
    jobs_of = defaultdict(list)  # span id -> jobs started under it
    for j in jobs:
        jobs_of[j.span].append(j)
    v = {name: 0.0 for name, _ in names()}

    # set-up: the graph build (rag only)
    build = spans[:setup_spans]
    for s in build:
        if s.name in INGEST_SPANS + INDEX_SPANS:
            v[f"{s.name}_s"] += s.end - s.start
        if s.name.startswith("ingest."):
            v["ingest.python_stage_s"] += sum(j.python_run_s for j in jobs_of[s.id])
    mats = [s.end - s.start for s in build if s.name == "ingest.materialize"]
    if mats:
        v["ingest.batch_growth"] = mats[-1] / mats[0]

    measured = [s for s in spans[setup_spans:] if s.op is not None]
    first = [s for s in measured if s.op[0] == 0]
    first_jobs = [j for s in first for j in jobs_of[s.id]]
    v[f"{workload}.jobs"] = float(len(first_jobs))
    v[f"{workload}.stages"] = float(sum(j.stages for j in first_jobs))
    wall0 = pass_walls[True][0]
    v[f"{workload}.driver_gap_frac"] = (
        wall0 - union_length((j.start, j.end) for j in first_jobs)
    ) / wall0
    v[f"{workload}.gc_s"] = statistics.median(gc)

    if workload == "rag":
        turns = {s.op for s in measured}
        n = max(len(turns), 1)
        for s in measured:
            if s.name in RAG_SPANS:
                v[f"{s.name}_s"] += (s.end - s.start) / n
            elif s.name == "rag.generate_sql":
                v["rag.prompt_s"] += selfs[s.id] / n
            elif s.name in ("rag.sql_exec", "rag.answer"):
                v["rag.sql_exec_s"] += selfs[s.id] / n
            elif s.name == "rag.hybrid":
                v["rag.hybrid_s"] += selfs[s.id] / n
            if s.name in ("rag.hybrid", "rag.ann_probe"):
                v["rag.rows_read_per_hit"] += sum(
                    j.input_records for j in jobs_of[s.id]
                ) / (n * HYBRID_K)
        v["rag.link_hit_ratio"] = wl.link_hit_ratio()

    if workload == "catalog":
        by_entry = defaultdict(list)
        for s in measured:
            by_entry[s.name[len("catalog.") :]].append(s)
        for e, ss in by_entry.items():
            v[f"catalog.{e}.s"] = statistics.median(s.end - s.start for s in ss)
            v[f"catalog.{e}.driver_gap_s"] = statistics.median(_gap(s, jobs_of[s.id]) for s in ss)
            s0 = [s for s in ss if s.op[0] == 0]
            v[f"catalog.{e}.jobs"] = float(sum(len(jobs_of[s.id]) for s in s0))
            v[f"catalog.{e}.shuffle_mb"] = sum(
                j.shuffle_bytes for s in s0 for j in jobs_of[s.id]
            ) / 1e6

    v["session.start_s"] = session_start_s
    if pass_walls[True] and pass_walls[False]:
        v["trace.overhead_frac"] = (
            statistics.median(pass_walls[True]) / statistics.median(pass_walls[False]) - 1.0
        )
    units = dict(names())
    return {k: {"value": x, "unit": units[k]} for k, x in v.items()}
