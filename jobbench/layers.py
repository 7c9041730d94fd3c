"""Per-layer metrics of a traced run, from the spans of its timed units and
the Spark event log joined to them by job group.

Every metric is printed on both workloads. A layer that does no work in a
workload's timed unit (the incremental refresh in ``build``, the boundary
fit in ``refresh``) reads 0 there.
"""

from __future__ import annotations

import statistics

from spans import Job, Span, Tracer, idle_between_jobs, phase_costs

# spans whose jobs belong to a cost phase of the same name; the innermost wins
PHASE_SPANS = {
    "operators.splitter.fit", "operators.normalizer.fit", "rollup.tiers.tier0",
    "rollup.tiers.coarse", "plans.refresh_job.guard", "operators.continuation",
    "rollup.incremental.merge", "rollup.incremental.refresh",
    "rollup.compression.reencode",
}
# rollup_job runs these phases inline; its job descriptions name them
DESC_PHASES = {
    "prepare": "operators.prepare",
    "bounds": "rollup.tiers.bounds",
    "compress": "rollup.compression.encode",
}
REPORTED_PHASES = (
    "operators.prepare", "rollup.tiers.tier0", "rollup.tiers.coarse",
    "rollup.compression.encode", "plans.refresh_job.guard",
    "operators.continuation", "rollup.incremental.merge",
    "rollup.compression.reencode",
)
COST_CLASSES = ("cpu_s", "gc_s", "shuffle_bytes", "fetch_wait_s", "sched_gap_s", "tasks")


def _chain(spans: list[Span], sid: int):
    while sid is not None:
        s = spans[sid]
        yield s
        sid = s.parent


def phase_of(spans: list[Span], sid: int) -> str | None:
    """The innermost phase span around ``sid``, else the phase named by the
    job description of the innermost action."""
    desc = None
    for s in _chain(spans, sid):
        if s.name in PHASE_SPANS:
            return s.name
        if s.name == "action" and desc is None:
            desc = s.desc
    return DESC_PHASES.get(desc)


def _walls(all_spans: list[Span], mine: list[Span], name: str,
           desc: str | None = None, parent: str | None = None) -> float:
    """Summed wall of the spans called ``name`` (with job description
    ``desc`` and a parent span called ``parent``, when given)."""
    return sum(
        s.wall for s in mine
        if s.name == name and (desc is None or s.desc == desc)
        and (parent is None or (s.parent is not None and all_spans[s.parent].name == parent))
    )


def unit_metrics(tracer: Tracer, op, jobs: list[Job]) -> dict[str, float]:
    """Per-layer metrics of one timed unit (one build or one delta)."""
    all_spans = tracer.spans
    lo, hi = op.spans
    mine = all_spans[lo:hi]
    ids = {f"jb{s.sid}" for s in mine}
    my_jobs = [j for j in jobs if j.group in ids]
    roots = {"plans.rollup_job", "plans.refresh_job"}
    st = op.store
    m: dict[str, float] = {
        "operators.splitter.fit_s": _walls(all_spans, mine, "operators.splitter.fit"),
        "operators.normalizer.fit_s": _walls(all_spans, mine, "operators.normalizer.fit"),
        # the unbias plan (its chunk-boundary collect) plus the prepared write
        "operators.prepare_s": _walls(all_spans, mine, "operators.unbiaser.plan", parent="plans.rollup_job")
        + _walls(all_spans, mine, "action", desc="prepare", parent="plans.rollup_job"),
        "rollup.tiers.bounds_s": _walls(all_spans, mine, "action", desc="bounds", parent="plans.rollup_job"),
        "rollup.tiers.tier0_s": _walls(all_spans, mine, "rollup.tiers.tier0"),
        "rollup.tiers.coarse_s": _walls(all_spans, mine, "rollup.tiers.coarse"),
        "rollup.compression.encode_s": _walls(all_spans, mine, "rollup.compression.plan", parent="plans.rollup_job")
        + _walls(all_spans, mine, "action", desc="compress", parent="plans.rollup_job"),
        "plans.refresh_job.guard_s": _walls(all_spans, mine, "plans.refresh_job.guard"),
        "operators.continuation_s": _walls(all_spans, mine, "operators.continuation"),
        "rollup.incremental.refresh_s": _walls(all_spans, mine, "rollup.incremental.refresh"),
        "rollup.incremental.merge_write_s": sum(
            s.wall for s in mine if s.name == "action" and s.attrs.get("kind") == "parquet"
            and all_spans[s.parent].name == "rollup.incremental.merge"),
        "rollup.compression.reencode_s": _walls(all_spans, mine, "rollup.compression.reencode"),
        "rollup.checkpoint.files_written": st["files_written"],
        "rollup.compression.bytes_per_bucket": st["blocks_bytes_per_bucket"],
        "operators.prepared_bytes_per_point": st["prepared_bytes_per_point"],
    }
    for tier in ("5m", "1h", "1d"):
        m[f"rollup.tiers.bytes_per_bucket.{tier}"] = st[f"tier_bytes_per_bucket.{tier}"]
    enc = m["rollup.compression.encode_s"]
    m["rollup.compression.encode_rows_per_s"] = st["nonempty_5m"] / enc if enc else 0.0
    tiers = (op.result or {}).get("tiers", {})
    rewritten = [t for t in tiers.values() if isinstance(t, dict) and "partitions_rewritten" in t]
    m["rollup.incremental.partitions_rewritten"] = sum(t["partitions_rewritten"] for t in rewritten)
    rows_written = sum(t["rows_written"] for t in rewritten)
    m["rollup.incremental.rewrite_amplification"] = (
        rows_written / st["touched_buckets"] if rewritten else 0.0)
    m["rollup.compression.reencode_amplification"] = (
        st["blocks_reencoded"] / st["touched_blocks"] if rewritten else 0.0)

    by_phase: dict[str, list[Job]] = {}
    for j in my_jobs:
        p = phase_of(all_spans, int(j.group[2:]))
        by_phase.setdefault(p, []).append(j)
    for p in REPORTED_PHASES:
        costs = phase_costs(by_phase.get(p, []))
        for k in COST_CLASSES:
            m[f"{p}.{k}"] = costs[k]
    for root in roots:
        spans = [s for s in mine if s.name == root]
        m[f"{root}.idle_between_jobs_s"] = sum(idle_between_jobs(s, my_jobs) for s in spans)
    m["spark.tasks_retried"] = sum(t["retry"] for j in my_jobs for t in j.tasks)
    return m


def per_layer(tracer: Tracer, run, jobs: list[Job]) -> dict[str, float]:
    """Median over the run's timed units of every per-layer metric."""
    units = [unit_metrics(tracer, op, jobs) for op in run.ops]
    out = {k: statistics.median(u[k] for u in units) for k in units[0]}
    out["rollup.compression.decode_rows_per_s"] = run.decode_rows_per_s
    out["trace.job_s"] = statistics.median(op.wall for op in run.ops)
    return out


UNITS = {
    "files_written": "count", "partitions_rewritten": "count", "tasks": "count",
    "tasks_retried": "count", "shuffle_bytes": "B", "amplification": "ratio",
    "rows_per_s": "rows/s", "bytes_per_bucket": "B", "bytes_per_point": "B",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if suffix in name:
            return unit
    return "s"
