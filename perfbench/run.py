"""Seeded end-to-end and per-layer benchmark of the warehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run: generate (or reuse) the seeded fixture, start a Spark session
on ``local[$SPARK_GRAFT_CPUS]`` (default: this machine's cores), run one
warm-up pass, check every output of it against DuckDB, then run timed
passes: at least one, and more while another pass still fits in
``--seconds``. The last
stdout line is the JSON result; the line before it carries diagnostics
(fixture sizes, load average, per-pass walls, recall, problems).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` additionally
tags every Spark job with a job group per (pass, step, build|exec),
writes Spark's event log, and reports the per-layer metrics from it.
Everything a run writes stays under ``.perfbench/`` in the checkout.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")


def _args() -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(run_dir: str) -> dict[str, str]:
    """Per-run scratch: cwd, temp files, Spark local dirs, warehouse and
    event log all live under ``run_dir``."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.chdir(run_dir)
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # No hsperfdata file: HotSpot writes it to the system temp directory whatever java.io.tmpdir says.
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def _fingerprint_cols(df):
    """Columns for an order-insensitive row-multiset fingerprint: the
    row's xxhash64 (maps go through JSON, which xxhash64 cannot take)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, T.MapType) else F.col(f"`{f.name}`")
            for f in df.schema.fields]
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.shiftright(h, 24)).alias("sum"),
    ]


class Runner:
    def __init__(self, ctx, workload, trace: bool) -> None:
        self.ctx, self.wl, self.trace = ctx, workload, trace
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}

    def _tag(self, phase: str, step: str, part: str) -> None:
        if self.trace:
            self.ctx.spark.sparkContext.setJobGroup(f"{phase}|{step}|{part}", part)

    def run_pass(self, phase: str, pass_no: int, collect: bool) -> dict:
        """One pass over the workload's steps. ``collect`` keeps each
        DataFrame's rows as Arrow (the warm-up pass, for the checks);
        timed passes force the full plan with a noop write instead."""
        from pyspark.sql import DataFrame, Observation

        spark = self.ctx.spark
        records, arrows = [], {}
        for st in self.wl.steps(self.ctx, pass_no):
            self.attempted += 1
            rec = {"step": st.name, "kind": st.kind, "start_ms": time.time() * 1e3}
            t0 = time.perf_counter()
            t1 = None
            try:
                self._tag(phase, st.name, "build")
                out = st.fn()
                t1 = time.perf_counter()
                if isinstance(out, DataFrame):
                    obs = Observation(f"pb_{phase}_{st.name}")
                    observed = out.observe(obs, *_fingerprint_cols(out))
                    self._tag(phase, st.name, "exec")
                    if collect:
                        arrows[st.name] = observed.toArrow()
                    else:
                        observed.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
                    m = obs.get
                    rec["fingerprint"] = [m["rows"], m["xor"], m["sum"]]
                else:
                    t2 = t1
            except Exception as exc:  # noqa: BLE001 — a failed step is counted, the run goes on
                self.failed += 1
                self.errors.setdefault(st.name, f"{type(exc).__name__}: {exc}"[:300])
                rec["failed"] = True
                t2 = time.perf_counter()
                t1 = t1 or t2
            finally:
                if self.trace:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, s=t2 - t0, end_ms=time.time() * 1e3)
            spark.catalog.clearCache()
            if st.after is not None:
                st.after()
            records.append(rec)
        extras = self.wl.end_pass(self.ctx, pass_no)
        return {"phase": phase, "steps": records, "arrows": arrows, "extras": extras,
                "wall_s": sum(r["s"] for r in records)}


def _stop_jvm() -> None:
    """End the py4j gateway JVM now rather than at interpreter exit (it
    exits on EOF of its stdin), then wait until every process it started,
    such as the Python worker daemon, has gone too."""
    from pyspark import SparkContext

    from perfbench import probes

    children = probes.descendants() - {os.getpid()}
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in children) and time.monotonic() < deadline:
        time.sleep(0.1)


def _prune_runs(runs: str) -> None:
    """Remove run directories left by runs that no longer exist."""
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        pid = d.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def main() -> int:
    args = _args()
    try:
        import bench  # process-tree CPU helper
        import hadoop_20_warehouse_fix_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import checks, fixtures, metrics, probes
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]
    t_run0 = time.monotonic()
    load_start = os.getloadavg()
    fx = fixtures.fixture(os.path.join(CACHE, "fixtures"), wl.fixture, args.seed)
    fx_desc = fixtures.describe(fx)
    _prune_runs(os.path.join(CACHE, "runs"))
    run_dir = os.path.join(CACHE, "runs", f"{wl.name}-{args.seed}-{os.getpid()}")
    conf = _isolate(run_dir)
    if args.trace:
        conf.update(probes.event_log_conf(os.path.join(run_dir, "events")))

    calls = probes.CallLog()
    probes.install_wrappers(calls)
    from hadoop_20_warehouse_fix_spark.queries import load_all
    from hadoop_20_warehouse_fix_spark.session import build_session

    registry = load_all()
    sampler = probes.TreeSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        start_s = time.perf_counter() - t0
        ctx = Ctx(spark=spark, registry=registry, fixture=fx, run_dir=run_dir)
        runner = Runner(ctx, wl, bool(args.trace))

        warm = runner.run_pass("w", 0, collect=True)
        con = checks.connect(fx)
        try:
            problems = wl.check(ctx, con, warm["arrows"])
        except Exception as exc:  # noqa: BLE001 — a crashed check is a failed check
            problems = {"check": [f"{type(exc).__name__}: {exc}"[:300]]}
        finally:
            con.close()
        warm["arrows"] = {}

        # Timed passes: at least one, then more while another pass of the
        # last one's length still fits in --seconds.
        timed = []
        t_timed0 = time.monotonic()
        while True:
            snap = calls.snapshot()
            cpu0 = bench._own_cpu_seconds()
            py0 = probes.py_worker_cpu_seconds() if args.trace else 0.0
            p = runner.run_pass(f"t{len(timed) + 1}", len(timed) + 1, collect=False)
            p["cpu_s"] = (bench._own_cpu_seconds() or 0.0) - (cpu0 or 0.0)
            p["py_cpu_s"] = (probes.py_worker_cpu_seconds() - py0) if args.trace else 0.0
            p["calls"] = metrics.call_delta(snap, calls)
            timed.append(p)
            now = time.monotonic()
            if now - t_timed0 + p["wall_s"] > args.seconds or now - t_run0 > 120:
                break
        retained_mb = probes.retained_heap_mb(spark)
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        sampler.stop()

    result = metrics.assemble(
        wl=wl, args=args, start_s=start_s, warm=warm, timed=timed, problems=problems,
        runner=runner, peak_rss_mb=sampler.peak_bytes / 2**20, retained_mb=retained_mb,
        events=probes.parse_event_log(os.path.join(run_dir, "events")) if args.trace else None,
    )
    diag = {
        "perfbench": {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "fixture": fx_desc, "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "passes": len(timed), "pass_walls_s": [round(p["wall_s"], 4) for p in timed],
            "problems": {k: v for k, v in problems.items() if v},
            "errors": runner.errors, "recall": ctx.state.get("recall"),
            **result.pop("diagnostics"),
        }
    }
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(diag))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
