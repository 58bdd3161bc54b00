#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. The load is one closed-loop client (this
process, no extra threads) that issues the workload's seeded request
sequence with no think time for at least ``--seconds`` and until every
request class has run once. With ``--trace 0`` the last stdout line holds
the end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics,
and the spans are written to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)

from perfbench import host, plan  # noqa: E402

KERNEL_QUERIES = 64   # pool queries replayed through the Spark-free kernel
KERNEL_TEXTS = 300    # page texts replayed through tokenizer + tagger


class Loop:
    """The closed-loop client: issues requests one after another and keeps
    the request log."""

    def __init__(self, wl, tracer):
        self.wl = wl
        self.tracer = tracer
        self.records: list[dict] = []
        self.deferred: list[tuple[dict, object, object]] = []
        self.seen: Counter = Counter()

    def issue(self, rid: int, req: dict, warm: bool, loop_start: float) -> None:
        body, check, n_queries = self.wl.prepare(req)
        op = req["op"]
        traced = self.tracer.on and not warm
        with self.tracer.request(op, rid, traced):
            t0 = time.perf_counter()
            try:
                result, error = body(), None
            except Exception:  # a failed request is counted, and the loop goes on
                result, error = None, traceback.format_exc()
            t1 = time.perf_counter()
        if not warm:
            self.seen[op] += 1
        rec = {"rid": rid, "op": op, "warm": warm, "latency": t1 - t0,
               "loop_s": t1 - loop_start, "queries": n_queries,
               "traced": traced, "error": error,
               "rows": len(result) if isinstance(result, list) else 0}
        self.records.append(rec)
        if error is None:
            self.deferred.append((rec, check, result))
        else:
            print(f"perfbench: request {rid} ({op}) failed:\n{error}", file=sys.stderr)

    def run_window(self, schedule: list[dict], seconds: float, classes) -> float:
        start = time.perf_counter()
        loop_start = start
        for rid, req in enumerate(schedule):
            now = time.perf_counter()
            if now - start >= seconds and all(self.seen[c] for c in classes):
                break
            try:
                self.issue(rid, req, warm=False, loop_start=loop_start)
            except IndexError as e:   # the generated micro-batches ran out
                print(f"perfbench: window ends early: {e}", file=sys.stderr)
                break
            loop_start = time.perf_counter()
        return time.perf_counter() - start

    def check_all(self) -> None:
        from perfbench.workloads import CheckFailed

        for rec, check, result in self.deferred:
            try:
                check(result)
            except CheckFailed as e:
                rec["error"] = f"check failed: {e}"
            except Exception:
                rec["error"] = traceback.format_exc()
            if rec["error"]:
                print(f"perfbench: request {rec['rid']} ({rec['op']}): {rec['error']}",
                      file=sys.stderr)


def end_to_end(loop: Loop, wl, setup_s: float, rss: dict) -> dict[str, float]:
    window = [r for r in loop.records if not r["warm"] and not r["error"]]
    by_class: dict[str, list[float]] = {}
    answered: dict[str, int] = {}
    for r in window:
        by_class.setdefault(r["op"], []).append(r["latency"])
        answered[r["op"]] = r["queries"]
    classes = plan.OP_CLASSES[wl.name]
    missing = [c for c in classes if c not in by_class]
    if missing:
        raise RuntimeError(f"no successful {missing} request in the window")
    med = {c: plan.median(by_class[c]) for c in classes}
    # read throughput of one schedule cycle at median latencies, so it does
    # not depend on how many requests of each class fit in the window
    per_cycle = plan.cycle_counts(wl.name)
    reads = [c for c in classes if answered[c]]
    attempted = len(loop.records)
    failed = sum(1 for r in loop.records if r["error"])
    return {
        "setup_s": setup_s,
        "query_p50_s": med[plan.INTERACTIVE[wl.name]],
        "op_gmean_s": plan.geomean(list(med.values())),
        "queries_per_s": (sum(per_cycle[c] * answered[c] for c in reads)
                          / sum(per_cycle[c] * med[c] for c in reads)),
        "index_bytes_per_doc": wl.index_bytes_per_doc(),
        "peak_rss_mb": sum(rss.values()),
        "ok_frac": (attempted - failed) / attempted,
    }


def per_layer(loop: Loop, wl, tracer, rss: dict, control: list[float]) -> dict[str, float]:
    from perfbench import kernels, tracing

    spans = tracer.spans
    out = tracing.call_metrics(spans, plan.CALLS)
    rows = {r["rid"]: r["rows"] for r in loop.records}
    per_batch = [s["input_records"] / rows[s["request"]] for s in spans
                 if s["name"] == "query.wand.batch_topk.batch" and "jobs" in s
                 and rows.get(s["request"])]
    out["query.wand.rows_per_result"] = plan.median(per_batch) if per_batch else 0.0
    out.update(kernels.codec_and_kernel(wl.index_dir(), wl.pool[:KERNEL_QUERIES]))
    out["analysis.keyphrase.docs_per_s"] = kernels.keyphrase_docs_per_s(
        wl.texts[:KERNEL_TEXTS])
    out["index.segments"] = wl.segment_count()
    out["index.merge.write_amp"] = wl.write_amp()
    out["proc.driver_rss_mb"] = rss["driver"]
    out["proc.jvm_rss_mb"] = rss["jvm"]
    out["proc.workers_rss_mb"] = rss["workers"]
    out["host.control_s"] = plan.median(control)
    traced = [r for r in loop.records if r["traced"]]
    in_window = [s for s in spans if s["request"] in {r["rid"] for r in traced}]
    out["trace.overhead_frac"] = tracing.overhead(
        in_window, sum(r["latency"] for r in traced))
    out["trace.coverage_frac"] = tracing.coverage(
        in_window, sum(r["loop_s"] for r in traced))
    return out


def write_spans(tracer, workload: str, seed: int) -> str:
    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{workload}-{seed}.jsonl")
    with open(path, "w") as f:
        for span in tracer.export():
            f.write(json.dumps(span) + "\n")
    return path


def diagnostics(loop: Loop, control: list[float], window_s: float,
                phases: dict[str, float]) -> str:
    window = [r for r in loop.records if not r["warm"] and not r["error"]]
    parts = ["setup " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()),
             f"window_s={window_s:.2f}",
             "host.control_s=" + "/".join(f"{c:.3f}" for c in control)]
    for op in sorted({r["op"] for r in window}):
        lat = [r["latency"] for r in window if r["op"] == op]
        tail = plan.reportable_percentile(len(lat))
        parts.append(f"{op}: n={len(lat)} p50={plan.median(lat):.3f}s"
                     + (f" p{tail}={plan.percentile(lat, tail):.3f}s" if tail else ""))
    return "perfbench: " + "; ".join(parts)


def run(args) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    n_cpus = host.cpus()
    root = host.make_root(CHECKOUT, args.workload, args.seed)
    spark = None
    try:
        spark = host.start_spark(n_cpus)
        sc = spark.sparkContext
        phases = {"spark": time.perf_counter() - T0}
        control = [host.control_s(sc)]
        tracer = Tracer(sc, on=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, root, args.seed, n_cpus)
        loop = Loop(wl, tracer)
        t = time.perf_counter()
        with tracer.request("setup", -1, traced=True):
            wl.setup()
        phases["data"] = time.perf_counter() - t
        t = time.perf_counter()
        for i, req in enumerate(wl.warm_requests()):
            loop.issue(-2 - i, req, warm=True, loop_start=time.perf_counter())
        phases["warm"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0 - control[0]
        schedule = plan.make_schedule(args.workload, args.seed)
        window_s = loop.run_window(schedule, args.seconds,
                                   plan.OP_CLASSES[args.workload])
        control.append(host.control_s(sc))
        loop.check_all()
        rss = host.peak_rss_mb()
        print(diagnostics(loop, control, window_s, phases), file=sys.stderr)
        if args.trace:
            metrics = per_layer(loop, wl, tracer, rss, control)
            print(f"perfbench: spans in {write_spans(tracer, args.workload, args.seed)}",
                  file=sys.stderr)
        else:
            metrics = end_to_end(loop, wl, setup_s, rss)
        failed = sum(1 for r in loop.records if r["error"])
        units = plan.declared_metrics(bool(args.trace))
        if set(metrics) != set(units):
            raise RuntimeError("metrics differ from BENCHMARK.json: "
                               f"{sorted(set(metrics) ^ set(units))}")
        return {"correct": failed == 0, "attempted": len(loop.records),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    finally:
        try:
            if spark is not None:
                host.stop_spark(spark)
        finally:
            host.remove_root(root)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=plan.RUNNABLE)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import dlkp_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {CHECKOUT}: {e}",
              file=sys.stderr)
        return 2
    host.exit_on_sigterm()
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
