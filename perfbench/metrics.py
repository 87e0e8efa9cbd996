"""Turn a workload's samples and spans into the reported metrics.

End-to-end metrics are the same four on every workload (the result
line carries all of them for each); their meaning per workload:

============  ==============================  ==========================
metric        trickle_serve                   query_mix
============  ==============================  ==========================
setup_s       session, seed ingest, warm-up   session, fixtures, warm-up
              cycles                          passes (first one cold)
op_p50_s      median sync: landed delta read  geometric mean of each
              → new version visible           plan's median
refresh_s     sum of the five dashboard       sum of the three QMS report
              reads' medians                  plans' medians
cycle_s       median land → sync → reads      median full pass
============  ==============================  ==========================

Tails, throughput, failure ratio, storage and memory figures — the
per-kind set ``sync_tail_s``, ``read_tail_s``, ``query_tail_s``,
``failed_ratio``, ``store_bytes_per_row``, ``peak_rss_mb`` … — and every
per-layer figure are in the report printed to stderr.
"""

from __future__ import annotations

import math

import spans
import stats
import workloads

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "refresh_s": "s",
    "cycle_s": "s",
}
# Per-layer metrics defined on every workload (the result line carries
# the same list for each); the full per-layer table is in the report.
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.spans_per_op": "count",
    "trace.op_self_s": "s",
    "trace.overhead_op_p50_s": "s",
    "trace.overhead_cycle_s": "s",
}

NOTES = {
    "transform.clean_records": "plan building only; its rows are computed inside the merge's jobs",
    "warehouse.read": "resolves the version and lists its files; the scan runs in op.read.*",
    "warehouse.register_views": "warehouse.read per table; the scans run in op.read.*",
    "history.recent": "the call and its collect, opened by the workload around both",
    "*_tail_s": "highest percentile with >= 10 samples beyond it (see *_tail_pct, *_samples)",
}


def _kind_figures(prefix: str, values: list[float]) -> dict:
    v, pct, n = stats.tail(values)
    return {
        f"{prefix}_p50_s": stats.median(values),
        f"{prefix}_tail_s": v,
        f"{prefix}_tail_pct": pct,
        f"{prefix}_samples": n,
    }


def _pick(samples: dict, prefixes: tuple[str, ...]) -> list[float]:
    return [x for k, xs in samples.items() if k.startswith(prefixes) for x in xs]


def _median_sum(samples: dict, prefixes: tuple[str, ...]) -> float:
    """One cycle's reads, each at its own median: the sum over the
    read kinds of each kind's median."""
    medians = [stats.median(xs) for k, xs in samples.items() if k.startswith(prefixes)]
    return sum(medians) if medians else math.nan


def _centre(samples: dict, prefixes: tuple[str, ...]) -> float:
    """Geometric mean of each operation kind's median: a figure over
    several unrelated kinds that no single kind's rank can swing."""
    medians = [stats.median(xs) for k, xs in samples.items() if k.startswith(prefixes)]
    if not medians:
        return math.nan
    return math.exp(sum(math.log(m) for m in medians) / len(medians))


def _end_to_end(workload: str, samples: dict, cycles: list[float], setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_s": _centre(samples, workloads.OP_KINDS[workload]),
        "refresh_s": _median_sum(samples, workloads.READ_KINDS[workload]),
        "cycle_s": stats.median(cycles),
    }


def _layers(recorded: list[spans.Span], traced_cycles: int) -> dict:
    if not recorded:
        return {}
    selfs = spans.self_times(recorded)
    jobs = [s.jobs for s in recorded]
    tasks = [s.tasks for s in recorded]
    for i in range(len(recorded) - 1, -1, -1):  # children follow parents
        p = recorded[i].parent
        if p is not None:
            jobs[p] += jobs[i]
            tasks[p] += tasks[i]
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(recorded):
        by_name.setdefault(s.name, []).append(i)
    out = {}
    for name, idx in sorted(by_name.items()):
        out[f"{name}.calls"] = len(idx)
        out[f"{name}.p50_s"] = stats.median([recorded[i].duration for i in idx])
        out[f"{name}.self_s"] = stats.median([selfs[i] for i in idx])
        out[f"{name}.jobs"] = stats.median([jobs[i] for i in idx])
        out[f"{name}.tasks"] = stats.median([tasks[i] for i in idx])
    families: dict[str, float] = {}
    for s, st in zip(recorded, selfs):
        if "family" in s.attrs:
            families[s.attrs["family"]] = families.get(s.attrs["family"], 0.0) + st
    for fam, total in sorted(families.items()):
        out[f"family.{fam}.self_s"] = total / max(traced_cycles, 1)
    roots = [i for i, s in enumerate(recorded) if s.parent is None]
    syncs = [i for i in roots if recorded[i].name == "op.sync"]
    if syncs:
        out["spark.jobs_per_sync"] = stats.median([jobs[i] for i in syncs])
        out["spark.tasks_per_sync"] = stats.median([tasks[i] for i in syncs])
    out["spark.jobs_per_op"] = sum(jobs[i] for i in roots) / len(roots)
    out["spark.tasks_per_op"] = sum(tasks[i] for i in roots) / len(roots)
    out["trace.spans_per_op"] = len(recorded) / len(roots)
    out["trace.op_self_s"] = stats.median([selfs[i] for i in roots])
    out["trace.self_sum_error_s"] = spans.self_sum_error(recorded)
    return out


def report(workload: str, out, recorded: list[spans.Span], rss: float) -> dict:
    e2e = _end_to_end(workload, out.samples, out.cycles, out.setup_s)
    figures = {"failed_ratio": out.failed / max(out.attempted, 1)}
    rows_per_s = out.rows / out.row_seconds if out.row_seconds else math.nan
    reads = _pick(out.samples, ("read.",))
    queries = _pick(out.samples, ("plans.",))
    if "sync" in out.samples:
        figures |= _kind_figures("sync", out.samples["sync"])
        figures["sync_rows_per_s"] = rows_per_s
    if reads:
        figures |= _kind_figures("read", reads)
    if queries:
        figures |= _kind_figures("query", queries)
        figures["query_rows_per_s"] = rows_per_s
    figures |= {f"{k}.p50_s": stats.median(v) for k, v in sorted(out.samples.items()) if k != "sync"}
    store = out.layers.get("storage.store")
    if store:
        figures["store_bytes_per_row"] = store["store_bytes_per_row"]
    figures["peak_rss_mb"] = rss
    figures["host.steal_frac"] = out.layers.get("host.steal_frac", math.nan)

    layers = _layers(recorded, len(out.traced_cycles))
    commits = out.layers.get("storage.commits") or []
    for key, name in (
        ("buckets_touched_frac", "merge.buckets_touched_frac"),
        ("rows_rewritten_per_row_merged", "merge.rows_rewritten_per_row_merged"),
        ("bytes_written_per_input_byte", "warehouse.bytes_written_per_input_byte"),
        ("files_per_version", "warehouse.files_per_version"),
    ) if commits else ():
        layers[name] = stats.median([c[key] for c in commits])
    if store:
        layers["warehouse.versions_retained"] = store["versions_retained"]
        layers["history.log_files"] = store["history_log_files"]
    if out.traced:
        traced = _end_to_end(workload, out.traced, out.traced_cycles, out.setup_s)
        for k in ("op_p50_s", "refresh_s", "cycle_s"):
            layers[f"trace.overhead_{k}"] = traced[k] - e2e[k]
    return {
        "workload": workload,
        "end_to_end": e2e,
        "figures": figures,
        "per_layer": layers,
        "samples_s": out.samples,
        "cycles_s": out.cycles,
        "attempted": out.attempted,
        "failed": out.failed,
        "problems": out.problems,
        "notes": NOTES,
    }


def for_result(values: dict, trace: bool) -> dict:
    """The result line's metric objects; a figure the run could not
    measure (no samples of its kind) is null."""
    units = PER_LAYER if trace else END_TO_END
    out = {}
    for name, unit in units.items():
        v = values.get(name, math.nan)
        out[name] = {"value": None if math.isnan(v) else v, "unit": unit}
    return out


def print_report(rep: dict, stream) -> None:
    print(f"== {rep['workload']}: {rep['attempted']} ops, {rep['failed']} failed", file=stream)
    for section in ("end_to_end", "figures", "per_layer"):
        for name, value in rep[section].items():
            unit = END_TO_END.get(name) or PER_LAYER.get(name) or ""
            print(f"  {section:10s} {name:48s} {value!s:>22} {unit}", file=stream)
    for p in rep["problems"]:
        print(f"  PROBLEM {p}", file=stream)
