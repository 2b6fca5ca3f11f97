"""Turn the benchmark JVM's raw samples into named metrics."""

from . import stats

END_TO_END = [
    ("setup_s", "s"), ("op_p50_ms", "ms"),
    ("items_per_s", "1/s"), ("ok_op_frac", "frac"), ("quality_frac", "frac"),
    ("peak_rss_mb", "MB"), ("write_amp", "ratio"),
]

FAMILIES = ("relational", "reference", "text", "vector", "pipeline", "curation")

PER_LAYER = [
    ("session.start_ms", "ms"),
    ("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("spark.floor_ms", "ms"), ("spark.sched_wait_ms_per_op", "ms"),
    ("spark.task_cpu_frac", "frac"), ("spark.gc_frac", "frac"),
    ("spark.shuffle_write_mb_per_op", "MB"), ("spark.shuffle_read_mb_per_op", "MB"),
    ("spark.spill_mb_per_op", "MB"),
    ("sources.write_ms_per_table", "ms"), ("sources.scan_mb_per_op", "MB"),
    ("sources.files_per_table", "count"), ("sources.write_bytes_per_row", "B"),
    ("tables.hit_frac", "frac"), ("tables.lookup_ms", "ms"),
    ("ops.transform_ms_per_table", "ms"),
    ("pipeline.table_ms", "ms"), ("pipeline.clean_ms", "ms"),
    ("plans.plan_ms_per_op", "ms"), ("plans.exec_ms_per_op", "ms"),
    ("plans.rewrite_hit_frac", "frac"),
] + [(f"queries.{f}_p50_ms", "ms") for f in FAMILIES] + [
    ("dedup.exact_ms", "ms"), ("dedup.minhash_ms", "ms"),
    ("dedup.lsh_pairs_ms", "ms"), ("dedup.candidate_pairs", "count"),
    ("dedup.pair_precision", "frac"),
    ("trace.overhead_frac", "frac"),
]


def _ms(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def end_to_end(raw):
    samples = raw["samples"]
    ok = [s for s in samples if s["ok"]]
    lat = [_ms(s) for s in ok]
    busy_s = stats.union_length([(s["start_ns"], s["end_ns"]) for s in ok]) / 1e9
    return {
        "setup_s": raw["setup_s"],
        "op_p50_ms": stats.median(lat),
        "items_per_s": sum(s["items"] for s in ok) / busy_s,
        "ok_op_frac": len(ok) / len(samples),
        "quality_frac": sum(1 for s in samples if s["quality"]) / len(samples),
        "peak_rss_mb": raw["peak_rss_mb"],
        "write_amp": raw["written_bytes"] / sum(s["src_bytes"] for s in samples),
    }


def tail(raw):
    """The highest op-latency percentile with ten ok samples beyond it,
    capped at p90, with its sample count; None below 11 samples."""
    lat = [_ms(s) for s in raw["samples"] if s["ok"]]
    p = min(90, stats.max_reportable_percentile(len(lat)))
    if not p:
        return None
    return {"pct": p, "ms": stats.percentile(lat, p), "samples": len(lat)}


def per_layer(raw):
    spans = raw["spans"]
    selfs = stats.self_times(spans)

    def span_ms(name, in_ops=None, self_time=False):
        xs = [(selfs[s["id"]] if self_time else s["end_ns"] - s["start_ns"]) / 1e6
              for s in spans if s["name"] == name
              and (in_ops is None or (s["op"] >= 0) == in_ops)]
        return xs

    def med(name, self_time=False):
        xs = span_ms(name, True, self_time) or span_ms(name, None, self_time)
        return stats.median(xs)

    traced = [s for s in raw["samples"] if s["traced"] and s["ok"]]
    # an op that ran no Spark job has no counters
    groups = [raw["ops"][f"op-{s['op']}"] for s in traced if f"op-{s['op']}" in raw["ops"]]
    n = len(traced) or 1
    total = lambda k: sum(g[k] for g in groups)  # noqa: E731
    run_ms = total("run_ms") or 1

    # an op's exec time is the wall time its Spark jobs cover; the rest
    # (analysis, optimization, planning, result handling) is plan time
    t0_ms = raw["op_epoch_ns"] / 1e6
    plan, execd = [], []
    for s in traced:
        g = raw["ops"].get(f"op-{s['op']}")
        lo, hi = t0_ms + s["start_ns"] / 1e6, t0_ms + s["end_ns"] / 1e6
        cov = stats.union_length(stats.clipped(
            [tuple(x) for x in (g["job_spans_ms"] if g else [])], lo, hi))
        execd.append(cov)
        plan.append(max(0.0, (hi - lo) - cov))

    # overhead: traced against bare ops of the same run
    bare = [_ms(s) for s in raw["samples"] if s["ok"] and not s["traced"]]
    traced_ms = [_ms(s) for s in traced]

    # sources: from the ops that write (history_load), else the probe
    p = dict(raw["probes"])
    wrote = [s for s in raw["samples"] if s["ok"] and s["out_files"]]
    if wrote:
        writes = [sum(raw["ops"][f"op-{s['op']}"]["write_ms"]) for s in traced
                  if f"op-{s['op']}" in raw["ops"]]
        p["sources.write_ms_per_table"] = stats.median(writes)
        p["sources.files_per_table"] = sum(s["out_files"] for s in wrote) / len(wrote)
        p["sources.write_bytes_per_row"] = (sum(s["out_bytes"] / s["items"] for s in wrote)
                                            / len(wrote))
    else:
        p["sources.write_ms_per_table"] = med("sources.write", self_time=True)
    v = {
        "session.start_ms": stats.median(span_ms("session.start")),
        "spark.jobs_per_op": total("jobs") / n,
        "spark.tasks_per_op": total("tasks") / n,
        "spark.floor_ms": stats.median(span_ms("spark.floor")),
        "spark.sched_wait_ms_per_op": total("sched_wait_ms") / n,
        "spark.task_cpu_frac": total("cpu_ns") / 1e6 / run_ms,
        "spark.gc_frac": total("gc_ms") / run_ms,
        "spark.shuffle_write_mb_per_op": total("shuffle_write_bytes") / 1e6 / n,
        "spark.shuffle_read_mb_per_op": total("shuffle_read_bytes") / 1e6 / n,
        "spark.spill_mb_per_op": total("spill_bytes") / 1e6 / n,
        "sources.write_ms_per_table": p["sources.write_ms_per_table"],
        "sources.scan_mb_per_op": total("input_bytes") / 1e6 / n,
        "sources.files_per_table": p["sources.files_per_table"],
        "sources.write_bytes_per_row": p["sources.write_bytes_per_row"],
        "tables.hit_frac": p["tables.hit_frac"],
        "tables.lookup_ms": sum(span_ms("tables.lookup")) / len(span_ms("tables.lookup")),
        "ops.transform_ms_per_table": med("ops.transform"),
        "pipeline.table_ms": med("pipeline.table"),
        "pipeline.clean_ms": med("pipeline.clean"),
        "plans.plan_ms_per_op": stats.median(plan),
        "plans.exec_ms_per_op": stats.median(execd),
        "plans.rewrite_hit_frac": p["plans.rewrite_hit_frac"],
        "dedup.exact_ms": med("dedup.exact"),
        "dedup.minhash_ms": med("dedup.minhash"),
        "dedup.lsh_pairs_ms": med("dedup.lsh_pairs"),
        "dedup.candidate_pairs": p["dedup.candidate_pairs"],
        "dedup.pair_precision": p["dedup.pair_precision"],
        "trace.overhead_frac": (stats.median(traced_ms) / stats.median(bare) - 1
                                if traced_ms and bare else 0.0),
    }
    for f in FAMILIES:
        v[f"queries.{f}_p50_ms"] = med(f"queries.{f}")
    return v
