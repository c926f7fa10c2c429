"""Turn a run's pass records into the reported metrics.

Every per-pass figure is reduced to the median over the timed passes.
The end-to-end metrics are reported with ``--trace 0``, the per-layer
metrics with ``--trace 1``; both lists are fixed across workloads, so a
layer a workload does not exercise reads 0 there.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from perfbench.probes import covered_ms
from perfbench.workloads import CORPUS_QUERIES, WAREHOUSE_QUERIES

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "retained_heap_mb": "MB",
    "input_mb_per_s": "MB/s",
}

_LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "driver.gap_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.sched_delay_s": "s",
    "exec.core_util": "ratio",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "functions.py_worker_cpu_s": "s",
    "dedup.calls": "count",
    "dedup.call_s": "s",
    "dedup.state_write_s": "s",
    "dedup.state_probe_s": "s",
    "dedup.state_append_s": "s",
    "dedup.pairs_out": "count",
    "similarity.calls": "count",
    "similarity.call_s": "s",
    "similarity.ivf_topk_amortized_s": "s",
    "keyed.calls": "count",
    "keyed.call_s": "s",
    "keyed.load_s": "s",
    "keyed.apply_p50_s": "s",
    "keyed.lookup_p50_s": "s",
    "keyed.scan_p50_s": "s",
    "keyed.compact_s": "s",
    "keyed.apply_jobs": "count",
    "keyed.lookup_jobs": "count",
    "keyed.scan_jobs": "count",
    "keyed.compact_jobs": "count",
    "keyed.driver_gap_s": "s",
    "keyed.table_files": "count",
    "keyed.bytes_written_mb": "MB",
    "keyed.write_amp": "ratio",
    "keyed.space_amp": "ratio",
    "trace.wall_s": "s",
}
LAYER_UNITS = dict(_LAYER_UNITS)
for _q in WAREHOUSE_QUERIES + CORPUS_QUERIES:
    LAYER_UNITS[f"q.{_q}.s"] = "s"
    LAYER_UNITS[f"q.{_q}.build_s"] = "s"

_KEYED_KINDS = ("load", "apply", "lookup", "scan", "compact")
_DEDUP_PAIR_STEPS = ("dedup_minhash_lsh", "state_probe")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def call_delta(snap, calls) -> dict:
    """Wrapper counters accumulated since ``snap``, plus the input MB of
    the tables ``catalog.load_table`` opened."""
    c0, s0, n0 = snap
    out = {f"{k}.calls": v - c0.get(k, 0) for k, v in calls.calls.items()}
    out.update({f"{k}.call_s": v - s0.get(k, 0.0) for k, v in calls.seconds.items()})
    out["input_mb"] = sum(os.path.getsize(p) for p in calls.tables[n0:]) / 2**20
    return out


def _fingerprint_mismatches(passes: list[dict]) -> list[str]:
    seen: dict[str, list] = {}
    bad = set()
    for p in passes:
        for r in p["steps"]:
            fp = r.get("fingerprint")
            if fp is None:
                continue
            if seen.setdefault(r["step"], fp) != fp:
                bad.add(r["step"])
    return sorted(bad)


def _per_pass_layers(p: dict, events: dict | None, cores: int) -> dict[str, float]:
    steps = p["steps"]
    out: dict[str, float] = defaultdict(float)
    for r in steps:
        kind, name = r["kind"], r["step"]
        if "fingerprint" in r:  # a DataFrame step: its build is driver-side planning
            out["queries.build_s"] += r["build_s"]
        if kind == "query":
            out[f"q.{name}.s"] += r["s"]
            out[f"q.{name}.build_s"] += r["build_s"]
        elif kind == "ivf":
            out["similarity.ivf_topk_amortized_s"] += r["s"]
        elif kind.startswith("state_"):
            out[f"dedup.{kind}_s"] += r["s"]
        elif kind == "load":
            out["keyed.load_s"] += r["s"]
        elif kind == "compact":
            out["keyed.compact_s"] += r["s"]
        if name in _DEDUP_PAIR_STEPS and "fingerprint" in r:
            out["dedup.pairs_out"] += r["fingerprint"][0]
    for kind in ("apply", "lookup", "scan"):
        xs = [r["s"] for r in steps if r["kind"] == kind]
        out[f"keyed.{kind}_p50_s"] = median(xs)
    calls = p.get("calls", {})
    out["catalog.load_table_calls"] = calls.get("catalog.calls", 0)
    out["catalog.load_table_s"] = calls.get("catalog.call_s", 0.0)
    for layer in ("dedup", "similarity", "keyed"):
        out[f"{layer}.calls"] = calls.get(f"{layer}.calls", 0)
        out[f"{layer}.call_s"] = calls.get(f"{layer}.call_s", 0.0)
    extras = p.get("extras", {})
    for k in ("table_files", "bytes_written_mb", "write_amp", "space_amp"):
        out[f"keyed.{k}"] = extras.get(k, 0.0)
    out["functions.py_worker_cpu_s"] = p.get("py_cpu_s", 0.0)
    out["trace.wall_s"] = p["wall_s"]
    if events is None:
        return out

    phase = p["phase"]
    names = {r["step"] for r in steps}
    df_steps = {r["step"] for r in steps if "fingerprint" in r}
    jobs_by_step: dict[str, list] = defaultdict(list)
    for j in events["jobs"].values():
        ph, _, rest = j["group"].partition("|")
        if ph != phase:
            continue
        step, _, part = rest.partition("|")
        jobs_by_step[step].append(j)
        out["exec.jobs"] += 1
        if part == "build" and step in df_steps:
            out["queries.build_jobs"] += 1
    for r in steps:
        js = jobs_by_step.get(r["step"], [])
        spans = [(j["start"], j["end"] or r["end_ms"]) for j in js]
        gap = (r["end_ms"] - r["start_ms"] - covered_ms(spans, r["start_ms"], r["end_ms"])) / 1e3
        out["driver.gap_s"] += gap
        if r["kind"] in _KEYED_KINDS:
            out["keyed.driver_gap_s"] += gap
            if r["kind"] != "load":
                out[f"keyed.{r['kind']}_jobs"] += len(js)
    for s in events["stages"].values():
        ph, _, rest = s["group"].partition("|")
        if ph != phase or rest.partition("|")[0] not in names:
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += s["tasks"]
        out["exec.task_run_s"] += s["run_s"]
        out["exec.task_cpu_s"] += s["cpu_s"]
        out["exec.gc_s"] += s["gc_s"]
        out["exec.sched_delay_s"] += s["sched_delay_s"]
        for k in ("input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            out[f"exec.{k}"] += s[k]
    out["exec.core_util"] = out["exec.task_run_s"] / (p["wall_s"] * cores) if p["wall_s"] else 0.0
    return out


def _keyed_e2e(per_pass: list[dict]) -> dict:
    keys = ("apply_p50_s", "lookup_p50_s", "scan_p50_s", "compact_s", "write_amp", "space_amp")
    return {k: round(median(pp[f"keyed.{k}"] for pp in per_pass), 6) for k in keys}


def assemble(wl, args, start_s, warm, timed, problems, runner, peak_rss_mb, retained_mb, events) -> dict:
    """The result object (last stdout line) plus a ``diagnostics`` entry
    the caller prints on the line before it."""
    mismatched = _fingerprint_mismatches([warm] + timed)
    wrong = {k for k, v in problems.items() if v} | set(mismatched)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    per_pass = [_per_pass_layers(p, events, cores) for p in timed]

    if args.trace:
        values = {k: median(pp.get(k, 0.0) for pp in per_pass) for k in LAYER_UNITS}
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warm["wall_s"]
        values["process.peak_rss_mb"] = peak_rss_mb
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
    else:
        values = {
            "setup_s": start_s + warm["wall_s"],
            "wall_s": median(p["wall_s"] for p in timed),
            "cpu_s": median(p["cpu_s"] for p in timed),
            "retained_heap_mb": retained_mb,
            "input_mb_per_s": median(p["calls"]["input_mb"] / p["wall_s"] for p in timed),
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    diagnostics = {
        "peak_rss_mb": round(peak_rss_mb, 1),
        "wrong_results": len(wrong),
        "failed_ratio": runner.failed / max(runner.attempted, 1),
        "fingerprint_mismatch": mismatched,
        "warmup_steps_s": {r["step"]: round(r["s"], 4) for r in warm["steps"]},
        "step_medians_s": {
            r["step"]: round(median(q["s"] for p in timed for q in p["steps"] if q["step"] == r["step"]), 4)
            for r in timed[0]["steps"]
        } if timed else {},
    }
    if any(r["kind"] == "apply" for p in timed for r in p["steps"]):
        diagnostics["keyed"] = _keyed_e2e(per_pass)
    return {
        "correct": not wrong and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
        "diagnostics": diagnostics,
    }
