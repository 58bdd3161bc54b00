"""Pure logic of the benchmark: metric names, request schedules, statistics.

Nothing here imports Spark or the engine, so the self-test
(``perfbench/test_plan.py``) runs in a second.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics

# Workloads the benchmark registers in BENCHMARK.json, and every workload
# run.py accepts. churn is not registered: its answer check fails on a
# defect in the engine (see perfbench/README.md).
WORKLOADS = ("serve", "ingest")
RUNNABLE = ("serve", "ingest", "churn")

# End-to-end metrics, printed on every run with --trace 0. Each one is
# measured on every workload; BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "op_gmean_s": "s",
    "queries_per_s": "1/s",
    "index_bytes_per_doc": "B",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}

# Per-layer metrics, printed with --trace 1. Every call the benchmark makes
# into a layer's public function is a span named after the call; each named
# call reports the per-call median of every CALL_FIELDS entry.
CALLS = (
    "query.wand.batch_topk.single",
    "query.wand.batch_topk.batch",
    "query.wand.variant",
    "index.snapshots.snapshot_topk.single",
    "index.snapshots.snapshot_topk.batch",
    "index.snapshots.commit_build",
    "index.snapshots.commit_append",
    "index.snapshots.commit_reconcile",
    "index.snapshots.commit_compact",
    "index.snapshots.commit_delete",
    "pipeline.dedup.minhash_lsh_pairs",
    "pipeline.cluster.dedup_clusters",
    "pipeline.cluster.keep_canonical",
)
CALL_FIELDS = {
    "wall_s": "s",          # span duration
    "driver_s": "s",        # span time with no stage of the call running
    "task_cpu_s": "s",
    "jobs": "count",
    "input_bytes": "B",
    "shuffle_bytes": "B",   # shuffle bytes written
    "spill_bytes": "B",     # memory + disk spill
    "failed_tasks": "count",
}
LAYER_METRICS = {
    "query.wand.rows_per_result": "ratio",
    "query.wand.kernel_postings_per_s": "1/s",
    "index.codec.decode_mb_per_s": "MB/s",
    "index.codec.encode_mb_per_s": "MB/s",
    "index.codec.bytes_per_posting": "B",
    "index.segments": "count",
    "analysis.keyphrase.docs_per_s": "1/s",
    "index.merge.write_amp": "ratio",
    "proc.driver_rss_mb": "MB",
    "proc.jvm_rss_mb": "MB",
    "proc.workers_rss_mb": "MB",
    "host.control_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.coverage_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    out = {f"{c}.{f}": u for c in CALLS for f, u in CALL_FIELDS.items()}
    out.update(LAYER_METRICS)
    return out


# Request classes per workload, with how often each occurs in one cycle of
# the schedule. A serve or churn cycle is a seeded shuffle of its class
# multiset, so the classes interleave and a host stall hits every class
# alike. An ingest cycle keeps its order: reconcile must precede compact,
# and the probe reads the compacted snapshot. Ingest starts with one build.
CYCLES = {
    "serve": {"single": 8, "batch": 2, "variant": 1},
    "ingest": ("append", "reconcile", "compact", "probe"),
    "churn": {"single": 4, "batch": 2, "delete": 1, "append": 1, "compact": 1},
}
# every class goes into op_gmean_s
OP_CLASSES = {
    "serve": ("batch", "single", "variant"),
    "ingest": ("append", "build", "compact", "probe", "reconcile"),
    "churn": ("append", "batch", "compact", "delete", "single"),
}
# the interactive class (one query, k=10); it feeds query_p50_s
INTERACTIVE = {"serve": "single", "ingest": "probe", "churn": "single"}

def cycle_counts(workload: str) -> dict[str, int]:
    """Requests of each class in one schedule cycle."""
    spec = CYCLES[workload]
    return dict(spec) if isinstance(spec, dict) else \
        {op: spec.count(op) for op in spec}


# the query variants one serve ``variant`` request runs, one call each
VARIANTS = ("dismax", "synonym", "collapse", "filtered")

# Percentiles the benchmark may report, lowest first.
PERCENTILE_LADDER = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def benchmark_json_path() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit, as declared in BENCHMARK.json for one kind of run."""
    with open(benchmark_json_path()) as f:
        spec = json.load(f)
    rows = spec["per_layer"] if trace else spec["end_to_end"]
    return {r["name"]: r["unit"] for r in rows}


def make_schedule(workload: str, seed: int, n_cycles: int = 64) -> list[dict]:
    """The seeded request sequence a run consumes from the front.

    A query request carries where its queries start in the query pool;
    writes take the next micro-batch or the next docs to delete in a seeded
    order of their own. Both sides of a comparison issue identical requests
    in identical order; only how far a run gets depends on the host.
    """
    rng = random.Random(f"perfbench:{workload}:{seed}")
    spec = CYCLES[workload]
    out: list[dict] = [{"op": "build", "cycle": -1}] if workload == "ingest" else []
    for cycle in range(n_cycles):
        if isinstance(spec, dict):
            ops = [op for op, n in sorted(spec.items()) for _ in range(n)]
            rng.shuffle(ops)
        else:
            ops = list(spec)
        out.extend({"op": op, "cycle": cycle, "query": rng.randrange(1 << 30)}
                   for op in ops)
    return out


def reportable_percentile(n: int) -> int | None:
    """Highest ladder percentile with at least MIN_BEYOND of ``n`` samples
    strictly above its rank, or None when even the median has fewer."""
    best = None
    for p in PERCENTILE_LADDER:
        rank = math.ceil(n * p / 100)
        if n - rank >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the rank reportable_percentile counts from)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(len(xs) * p / 100))
    return xs[rank - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))

