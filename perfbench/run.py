#!/usr/bin/env python3
"""Benchmark of the exporter/receiver pipeline, one workload per process.

    python3 perfbench/run.py --workload roundtrip_unique --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. One driver process on ``local[nproc]`` runs
one job at a time: a closed loop with a single client, the way the batch
pipeline is used. The run sets up ``SETUPS`` times (session start plus the
workload's input: pages materialized, or the query tables checked) and
reports the median of the set-ups after the first, which also launches
the JVM. It warms up with the workload's untimed passes, then repeats the
workload's operation until ``--seconds`` have passed, at least
``MIN_RUNS`` times. Every output is checked before anything is reported.
``--trace 1`` adds one traced pass and the per-layer probes and reports
the per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The lines above it are
the human report: every metric with its unit and sample count, and each
run's attribution ``{wall, stall, probe, busy, steal}``. Exit code 1 means
a correctness check failed, 2 that the benchmark cannot run here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 4
MIN_RUNS = 2

#: the driver_queries workload: the eight non-pipeline bench queries of
#: ``__spark_entry__.queries()``
QUERIES = ("tpch_q1", "revenue_by_nation", "dedup_exact",
           "dedup_minhash_lsh", "dedup_simhash_hamming", "embedding_topk",
           "token_count", "quality_score")

#: end-to-end metrics (``--trace 0``): name -> unit
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "cpu_s": "s",
    "peak_nonheap_rss_mb": "MB",
}

_SELF = {f"self.{a}{p}_s": "s"
         for a in ("plans.pipeline", "plans.aggregate", "plans.verify")
         for p in ("", ".map_stages", ".reduce_stages")}

_OPERATORS = {f"operators.{q}.{m}": "s"
              for q in QUERIES for m in ("s", "plan_s")}

#: per-layer metrics (``--trace 1``): name -> unit. A layer the workload
#: does not run reads 0.
PER_LAYER = {
    "trace.wall_s": "s",
    "trace.untraced_median_s": "s",
    "trace.overhead_s": "s",
    "trace.engine_s": "s",
    "trace.layer_sum_error": "ratio",
    "trace.stage_overlap_s": "s",
    "self.unattributed_s": "s",
    **_SELF,
    "plans.parse_enrich.s": "s",
    "plans.exchange.shuffle_bytes": "B",
    "plans.exchange.write_s": "s",
    "plans.exchange.fetch_wait_s": "s",
    "plans.encode.python_s": "s",
    "plans.encode.bytes_to_python": "B",
    "plans.encode.bytes_from_python": "B",
    "plans.encode.worker_start_s": "s",
    "plans.route.files": "count",
    "plans.route.bytes": "B",
    "plans.route.commit_s": "s",
    "plans.pipeline.s": "s",
    "plans.aggregate.s": "s",
    "plans.verify.s": "s",
    "plans.decode.python_s": "s",
    "plans.decode.bytes_to_python": "B",
    "plans.verify.shuffle_bytes": "B",
    "codec.wire_bytes_per_page": "B/page",
    "codec.raw_bytes_per_page": "B/page",
    "codec.blobs": "count",
    "codec.zstd_ratio": "ratio",
    "codec.encode_spans_per_s": "spans/s",
    "codec.zstd_mb_per_s": "MB/s",
    "projector.spans_per_s": "spans/s",
    "jvm.executor_run_s": "s",
    "jvm.executor_cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.spill_bytes": "B",
    "jvm.peak_execution_memory_bytes": "B",
    "jvm.peak_heap_bytes": "B",
    "jvm.jit_cpu_s": "s",
    "driver.plan_s": "s",
    **_OPERATORS,
    "setup.session_start_s": "s",
    "setup.oracle_s": "s",
    "setup.warmup_s": "s",
}

_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_UDF = "MapInPandas"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(runner, seconds: float, monitor) -> list[dict]:
    """Timed runs of the workload's operation, each checked afterwards,
    outside its timing, with the tree's peak RSS during each."""
    from bench import cpu_window, host_cpu_sample, throttle_probe

    from perfbench import host

    runs: list[dict] = []
    wire_ref = None
    t_end = time.monotonic() + seconds
    while len(runs) < MIN_RUNS or time.monotonic() < t_end:
        runner.discard_output()
        probe = throttle_probe()
        c0, cpu0 = host_cpu_sample(), host.tree_cpu_s()
        jit0 = host.tree_jit_cpu_s()
        t0 = time.monotonic()
        with host.RssSampler() as rss:
            try:
                out, error = runner.op(), None
            except Exception as e:  # counted as a failed run, never dropped
                # a worker's traceback ends with the error that stopped it
                last = (str(e).strip().splitlines() or [""])[-1]
                out, error = None, f"{type(e).__name__}: {last}"[:300]
        t1 = time.monotonic()
        jit1 = host.tree_jit_cpu_s()
        cpu1, c1 = host.tree_cpu_s(), host_cpu_sample()
        attr = {"wall": round(t1 - t0, 4),
                "stall": round(monitor.stall_between(t0, t1), 3),
                "probe": round(probe, 4)}
        attr.update(cpu_window(c0, c1, t1 - t0))
        if error:
            problems, wire = [error], None
        else:
            problems, wire = runner.check(out, wire_ref)
        if wire_ref is None and not problems:
            wire_ref = wire
        # the JIT compiler's CPU is left out of cpu_s: it is still
        # compiling after the warm-up, less on every pass, and how far it
        # has got moves the tree's CPU more than the work does
        jit = jit1 - jit0
        runs.append({"wall": t1 - t0, "cpu_s": cpu1 - cpu0 - jit,
                     "jit_s": jit, "rss": rss.peak, "attr": attr,
                     "problems": problems, "wire": wire})
    return runs


def end_to_end(setups: list[float], runs: list[dict],
               heap: int) -> dict[str, tuple[float, int]]:
    """name -> (value, samples), from checked runs only. ``heap`` is the
    pinned JVM heap, a constant part of each run's peak RSS."""
    med = statistics.median
    return {
        # the first set-up also launches the JVM: setup_s is a warm one
        "setup_s": (med(setups[1:]), len(setups) - 1),
        "run_s": (med([r["wall"] for r in runs]), len(runs)),
        "cpu_s": (med([r["cpu_s"] for r in runs]), len(runs)),
        "peak_nonheap_rss_mb": (med([r["rss"] - heap for r in runs]) / 1e6,
                                len(runs)),
    }


def workload_view(w, e2e: dict, runs: list[dict]) -> list[tuple]:
    """The end-to-end numbers in the workload's own terms, for the human
    report: ``(name, value, unit, samples)``."""
    run_s, n = e2e["run_s"]
    if w.kind == "queries":
        return [("queries_s", run_s, "s", n)]
    return [("pages_per_s", statistics.median(w.pages / r["wall"]
                                              for r in runs), "pages/s", n),
            ("wire_bytes_per_page", runs[0]["wire"] / w.pages, "B/page", n)]


def per_layer(runner, timed: list[dict], setup_info: dict
              ) -> tuple[dict, list[str], dict]:
    """The traced pass and the probes, after the checked ``timed`` runs:
    (metrics, problems, layer sum)."""
    from perfbench import engine, spans

    untraced_s = statistics.median(r["wall"] for r in timed)

    runner.discard_output()
    tp = runner.traced_pass()
    problems, _ = runner.check(tp["out"], timed[0]["wire"])
    tr = tp["trace"]
    wall = tr.spans[0].duration
    plan = runner.plan_times()
    engine_s = {c: engine.union_s(ex) for c, ex in tp["executions"].items()}
    layer_sum = spans.layer_sum(
        wall, {**{f"{c}.plan": v for c, v in plan.items()},
               **{f"{c}.engine": v for c, v in engine_s.items()}})
    if not layer_sum["ok"]:
        problems.append(f"the measured layers miss the traced wall by "
                        f"{layer_sum['error']:+.2%}")
    selfs = tr.self_by_name()
    route = tp["sql"].get("plans.pipeline", [])
    verify = tp["sql"].get("plans.verify", [])

    def sql(rows, node, *metrics, scale=1.0):
        return sum(engine.metric_sum(rows, node, m) for m in metrics) * scale

    st = tp["stages"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "trace.wall_s": wall,
        "trace.untraced_median_s": untraced_s,
        "trace.overhead_s": wall - untraced_s,
        "trace.engine_s": sum(engine_s.values()),
        "trace.layer_sum_error": layer_sum["error"],
        "trace.stage_overlap_s": tp["overlap_s"],
        "self.unattributed_s": selfs[tr.spans[0].name],
        **{k: selfs.get(k[len("self."):-len("_s")], 0.0) for k in _SELF},
        "plans.exchange.shuffle_bytes": sql(route, "Exchange",
                                            "shuffle bytes written"),
        "plans.exchange.write_s": sql(route, "Exchange", "shuffle write time",
                                      scale=1e-9),
        "plans.exchange.fetch_wait_s": sql(route, "Exchange",
                                           "fetch wait time", scale=1e-3),
        "plans.encode.python_s": sql(route, _UDF, "time to run Python workers",
                                     scale=1e-3),
        "plans.encode.bytes_to_python": sql(route, _UDF,
                                            "data sent to Python workers"),
        "plans.encode.bytes_from_python": sql(
            route, _UDF, "data returned from Python workers"),
        "plans.encode.worker_start_s": sql(
            route, _UDF, "time to start Python workers",
            "time to initialize Python workers", scale=1e-3),
        "plans.route.files": sql(route, _WRITE, "number of written files"),
        "plans.route.bytes": sql(route, _WRITE, "written output"),
        "plans.route.commit_s": sql(route, _WRITE, "job commit time",
                                    "task commit time", scale=1e-3),
        "plans.decode.python_s": sql(verify, _UDF,
                                     "time to run Python workers", scale=1e-3),
        "plans.decode.bytes_to_python": sql(verify, _UDF,
                                            "data sent to Python workers"),
        "plans.verify.shuffle_bytes": sql(verify, "Exchange",
                                          "shuffle bytes written"),
        "jvm.executor_run_s": sum(x["run_s"] for x in st),
        "jvm.executor_cpu_s": sum(x["cpu_s"] for x in st),
        "jvm.gc_s": sum(x["gc_s"] for x in st),
        "jvm.spill_bytes": sum(x["spill_bytes"] for x in st),
        "jvm.peak_execution_memory_bytes": max(
            (x["peak_execution_memory_bytes"] for x in st), default=0),
        "jvm.peak_heap_bytes": engine.peak_heap_bytes(runner.spark),
        "jvm.jit_cpu_s": statistics.median(r["jit_s"] for r in timed),
        "driver.plan_s": sum(plan.values()),
        **{f"{c}.plan_s": v for c, v in plan.items()
           if c.startswith("operators.")},
        "setup.session_start_s": setup_info["session_start_s"],
        **{k: v for k, v in setup_info.items() if k.startswith("setup.")},
        **runner.layer_metrics(tp),
    })
    if m.keys() != PER_LAYER.keys():
        raise RuntimeError(f"per-layer names drifted: {m.keys() ^ PER_LAYER}")
    rows = [(sp.name, sp.duration, tr.self_time(i))
            for i, sp in enumerate(tr.spans)]
    return m, problems, {**layer_sum, "spans": rows, "plan": plan,
                         "engine": engine_s}


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run(args) -> int:
    from bench import StallMonitor

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    workdir = os.path.join(ROOT, ".bench_work", f"{w.name}-{os.getpid()}")
    workloads.prepare_env(workdir, ROOT)
    monitor = StallMonitor().start()
    runner = workloads.make_runner(w, args.seed, workdir)
    layers = None
    try:
        setups = [runner.setup_once() for _ in range(SETUPS)]
        phases = {"setups": time.monotonic()}
        warmup = runner.warm_up()
        phases["warm-up"] = time.monotonic()
        runs = measure(runner, args.seconds, monitor)
        phases["timed runs"] = time.monotonic()
        good = [r for r in runs if not r["problems"]]
        if args.trace and good:
            layers, trace_problems, layer_sum = per_layer(
                runner, good,
                {"session_start_s": runner.session_walls[0], **warmup})
            runs.append({"problems": trace_problems})
            phases["trace"] = time.monotonic()
    finally:
        try:
            runner.close()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    phases["shutdown"] = time.monotonic()

    failed = [r for r in runs if r["problems"]]
    if w.pages:
        lo, hi = workloads.doc_id_window(args.seed, w.pages)
        inputs = (f"{w.pages} pages, seed {args.seed} -> doc_id window "
                  f"[{lo}, {hi})")
    else:
        inputs = (f"the fixed seed-42 sf0.1 tables (seed {args.seed} "
                  "changes nothing)")
    print(f"workload {w.name}: {inputs}, {args.seconds:g} s measured, "
          f"{len(runs)} runs")
    print("phases end at (s): " + ", ".join(
        f"{k} {v - T0:.1f}" for k, v in phases.items()))
    print(f"setups (s): {[round(x, 3) for x in setups]}; then "
          + ", ".join(f"{k} {v:.3f}" for k, v in warmup.items()))
    for i, r in enumerate(runs):
        label = (f"run {i}: cpu_s {r['cpu_s']:.2f} + JIT {r['jit_s']:.2f}"
                 f" {json.dumps(r['attr'])}" if "attr" in r
                 else "traced run")
        print(label + (f" FAILED {r['problems']}" if r["problems"] else ""))
    print(f"stalls: {json.dumps(monitor.summary())}")
    print(f"failed_share: {len(failed)}/{len(runs)} = "
          f"{len(failed) / len(runs):.4g} ratio")
    result = {"correct": not failed, "attempted": len(runs),
              "failed": len(failed), "metrics": {}}
    if failed:
        print(json.dumps(result))
        return 1

    timed = runs if layers is None else runs[:-1]
    e2e = end_to_end(setups, timed, workloads.heap_bytes())
    for name, (v, n) in e2e.items():
        print(f"  {name:<22} {_fmt(v):>14} {END_TO_END[name]:<8} "
              f"samples={n}")
    peak_rss = statistics.median(r["rss"] for r in timed) / 1e6
    print(f"  {'peak_rss_mb':<22} {_fmt(peak_rss):>14} {'MB':<8} "
          f"samples={len(timed)} (heap included)")
    for name, v, unit, n in workload_view(w, e2e, timed):
        print(f"  {name:<22} {_fmt(v):>14} {unit:<8} samples={n}")
    metrics, units = {k: v for k, (v, _) in e2e.items()}, END_TO_END
    if layers is not None:
        print("traced pass (span, wall s, self s):")
        for name, dur, self_s in layer_sum["spans"]:
            print(f"  {name:<36} {dur:10.4f} {self_s:10.4f}")
        print("layers measured apart (call: planning s, engine s):")
        for c, plan_s in layer_sum["plan"].items():
            print(f"  {c:<36} {plan_s:10.4f} {layer_sum['engine'][c]:10.4f}")
        verdict = "holds" if layer_sum["ok"] else "BROKEN"
        print(f"layer-sum rule {verdict}: layers {layer_sum['layers']:.4f} s"
              f" vs traced wall {layer_sum['wall']:.4f} s, error "
              f"{layer_sum['error']:+.4%} (tolerance "
              f"{layer_sum['tolerance']:.0%})")
        for name, v in layers.items():
            print(f"  {name:<36} {_fmt(v):>14} {PER_LAYER[name]}")
        metrics, units = layers, PER_LAYER
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in metrics.items()}
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    for need in ("bench.py", "compress_otel_collector_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found beside perfbench/; run from "
                  "a full checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    # SIGTERM unwinds through run()'s finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
