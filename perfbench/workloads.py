"""The benchmark's workloads: which steps a pass runs, and how the
warm-up pass's outputs are checked.

A step is one user-visible operation. Its function builds a DataFrame
(timed as the build) which the runner then executes (timed as exec), or
performs a write and returns None. Each workload is one client thread
driving the session in a closed loop: a step starts when the previous
one has finished.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import checks

WAREHOUSE_QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "sort_total_order",
    "events_sessionized",
]
CORPUS_QUERIES = ["dedup_minhash_lsh", "text_repetition_stats"]
#: Planted pairs at or above this exact Jaccard must be found by the
#: banded MinHash paths; their per-pair miss odds are below 1e-6.
MINHASH_RECALL_JACCARD = 0.8
KEYED_BUCKETS = 16
#: Buckets of the MinHash state tables, sized to the ~4k-document state.
STATE_BUCKETS = 8


@dataclass
class Step:
    name: str
    kind: str  # query | ivf | state_write | state_probe | state_append | load | apply | lookup | scan | compact
    fn: Callable[[], object]
    after: Callable[[], None] | None = None  # untimed bookkeeping after the step


@dataclass
class Ctx:
    spark: object
    registry: dict
    fixture: str
    run_dir: str
    state: dict = field(default_factory=dict)


class Workload:
    name = ""
    fixture = ""

    def steps(self, ctx: Ctx, pass_no: int) -> list[Step]:
        raise NotImplementedError

    def check(self, ctx: Ctx, con, results: dict) -> dict[str, list[str]]:
        """Problems per step, from the warm-up pass's Arrow results."""
        raise NotImplementedError

    def end_pass(self, ctx: Ctx, pass_no: int) -> dict:
        """Untimed per-pass bookkeeping; returns per-pass extras."""
        return {}


def _query_steps(ctx: Ctx, names: list[str]) -> list[Step]:
    return [
        Step(n, "query", lambda n=n: ctx.registry[n].fn(ctx.spark, ctx.fixture)) for n in names
    ]


def _oracle_checks(ctx: Ctx, con, results: dict, names: list[str]) -> dict[str, list[str]]:
    return {n: checks.compare(con, results[n], ctx.registry[n].oracle) for n in names if n in results}


class Corpus(Workload):
    name = "corpus_dup"
    fixture = "corpus"
    state_name = "pb_minhash_state"

    def steps(self, ctx, pass_no):
        from hadoop_20_warehouse_fix_spark.catalog import load_table
        from hadoop_20_warehouse_fix_spark.operators import dedup, similarity
        from pyspark.sql import functions as F

        spark, fx = ctx.spark, ctx.fixture

        def ivf_amortized():
            emb = load_table(spark, fx, "embeddings")
            if "codebook" not in ctx.state:  # paid once per corpus, in the warm-up pass
                ctx.state["codebook"] = similarity.ivf_codebook(emb, n_centroids=16, codebook="sample_md5")
            return similarity.ivf_topk(
                emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4,
                precomputed_codebook=ctx.state["codebook"],
            )

        def docs(name):
            return load_table(spark, fx, name)

        steps = _query_steps(ctx, CORPUS_QUERIES)
        steps.append(Step("ivf_topk_amortized", "ivf", ivf_amortized))
        steps.append(Step(
            "state_write", "state_write",
            lambda: dedup.minhash_state_write(
                docs("state_docs"), "doc_id", "text", self.state_name, num_buckets=STATE_BUCKETS),
        ))
        steps.append(Step(
            "state_probe", "state_probe",
            lambda: dedup.minhash_lsh_pairs_incremental(docs("state_batch"), "doc_id", "text", self.state_name),
        ))
        steps.append(Step(
            "state_append", "state_append",
            lambda: dedup.minhash_state_append(docs("state_batch"), "doc_id", "text", self.state_name),
        ))
        return steps

    def check(self, ctx, con, results):
        from hadoop_20_warehouse_fix_spark.queries.dedup import _SHINGLE_CTE

        problems = _oracle_checks(ctx, con, results, ["text_repetition_stats"])
        problems["ivf_topk_amortized"] = checks.compare(
            con, results["ivf_topk_amortized"], ctx.registry["sim_ann_ivf_md5"].oracle)
        recall = ctx.state["recall"] = {}
        problems["dedup_minhash_lsh"], recall["dedup_minhash_lsh"] = checks.check_pairs(
            con, results["dedup_minhash_lsh"], _SHINGLE_CTE, MINHASH_RECALL_JACCARD)
        problems["state_probe"], recall["state_probe"] = checks.check_pairs(
            con, results["state_probe"], _SHINGLE_CTE, MINHASH_RECALL_JACCARD,
            state_ids="SELECT doc_id FROM state_docs", batch_ids="SELECT doc_id FROM state_batch",
        )
        return problems


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class WarehouseCdc(Workload):
    """Relational queries, then a CDC loop on a keyed copy of orders."""

    name = "warehouse_cdc"
    fixture = "warehouse"

    def __init__(self) -> None:
        from perfbench.fixtures import KEYED_BATCHES

        self.batches = KEYED_BATCHES

    def _plan(self) -> list[tuple[str, str, int]]:
        """(step name, kind, batch) in pass order: after each batch a
        lookup, every 2nd batch a resolved scan, one compaction mid-run."""
        plan = [("load", "load", 0)]
        for b in range(1, self.batches + 1):
            plan += [(f"apply_{b}", "apply", b), (f"lookup_{b}", "lookup", b)]
            if b % 2 == 0:
                plan.append((f"scan_{b}", "scan", b))
            if b == self.batches // 2:
                plan.append(("compact", "compact", b))
        return plan

    def steps(self, ctx, pass_no):
        return _query_steps(ctx, WAREHOUSE_QUERIES) + self._keyed_steps(ctx, pass_no)

    def _keyed_steps(self, ctx, pass_no):
        from hadoop_20_warehouse_fix_spark.catalog import load_table
        from hadoop_20_warehouse_fix_spark.sources import keyed

        spark, fx = ctx.spark, ctx.fixture
        path = os.path.join(ctx.run_dir, "keyed", f"pass{pass_no}")
        with open(os.path.join(fx, "lookups.json")) as fh:
            lookups = json.load(fh)
        ctx.state.update(path=path, files=_dir_files(path), written=0)

        def track():
            now = _dir_files(path)
            before = ctx.state["files"]
            ctx.state["written"] += sum(s for p, (s, m) in now.items() if before.get(p) != (s, m))
            ctx.state["files"] = now

        fns = {
            "load": lambda b: keyed.write_keyed_table(
                load_table(spark, fx, "orders"), path, ["o_orderkey"],
                num_buckets=KEYED_BUCKETS, assume_unique=True),
            "apply": lambda b: keyed.apply_changes_keyed_table(
                spark, path, load_table(spark, fx, f"cdc_batch_{b}"), op_col="op"),
            "lookup": lambda b: keyed.lookup_keys(spark, path, lookups[str(b)]),
            "scan": lambda b: keyed.read_keyed_table(spark, path),
            "compact": lambda b: keyed.compact_keyed_table(spark, path),
        }
        steps = []
        for name, kind, b in self._plan():
            # Only the CDC phase counts as written bytes; the load resets the tally.
            after = (lambda: (track(), ctx.state.update(written=0))) if kind == "load" else track
            steps.append(Step(name, kind, lambda kind=kind, b=b: fns[kind](b), after))
        return steps

    def end_pass(self, ctx, pass_no):
        files = _dir_files(ctx.state["path"])
        table_bytes = sum(s for s, _m in files.values())
        changed = sum(
            os.path.getsize(os.path.join(ctx.fixture, f"cdc_batch_{b}.parquet"))
            for b in range(1, self.batches + 1)
        )
        out = {
            "table_files": len([p for p in files if p.endswith(".parquet")]),
            "bytes_written_mb": ctx.state["written"] / 2**20,
            "write_amp": ctx.state["written"] / changed,
            "space_amp": table_bytes / ctx.state["compact_bytes"] if ctx.state.get("compact_bytes") else 0.0,
        }
        shutil.rmtree(ctx.state["path"], ignore_errors=True)
        return out

    def check(self, ctx, con, results):
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
        with open(os.path.join(ctx.fixture, "lookups.json")) as fh:
            lookups = json.load(fh)
        replay = checks.KeyedReplay(con, cols)
        problems = _oracle_checks(ctx, con, results, WAREHOUSE_QUERIES)
        for name, kind, b in self._plan():
            if kind == "apply":
                replay.apply(b)
            elif kind == "lookup":
                problems[name] = checks.compare(con, results[name], replay.lookup_sql(lookups[str(b)]))
            elif kind == "scan":
                problems[name] = checks.compare(con, results[name], replay.scan_sql())
        ctx.state["compact_bytes"] = replay.compact_copy_bytes(os.path.join(ctx.run_dir, "live_compact.parquet"))
        return problems


WORKLOADS: dict[str, Workload] = {w.name: w for w in (WarehouseCdc(), Corpus())}
