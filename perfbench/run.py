"""Benchmark entry point.

    python3 perfbench/run.py --workload ecog_folder --seed 1 --seconds 12 --trace 0

Runs one workload (see README.md) in one process on local[<cores>], checks
every operation's output, prints a human-readable report and, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones (a workload's traced run may add
sections of its own, such as the streaming path in `ecog_folder`), and a
span file is written.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import types

import common

WORKLOADS = ("ecog_folder", "relational_mix")


def load_spec() -> dict:
    """Metric names and units come from BENCHMARK.json at the repo root."""
    with open(os.path.join(common.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the harness self-test's input size")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb one output before checking it (self-test)")
    return p.parse_args(argv)


def op_p50(wl, result: dict) -> float:
    """A workload's `op_p50_s`: its own statistic if it defines one, else
    the median operation time."""
    if hasattr(wl, "op_p50"):
        return wl.op_p50(result)
    return common.median(result["op_times"])


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    t_start = common.process_start_wall()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [common.REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, common.REPO)

    t0 = time.perf_counter()
    import process_nwb_spark  # noqa: F401  (fails outside a checkout)
    from process_nwb_spark.session import get_spark
    import pyspark
    wl = __import__(args.workload)
    # sections that run only in the traced run, after the workload's own
    extras = [__import__(m) for m in getattr(wl, "TRACED_EXTRAS", ())
              ] if args.trace else []
    import_s = time.perf_counter() - t0
    registry_import_s = 0.0
    if hasattr(wl, "import_registry"):
        t0 = time.perf_counter()
        wl.import_registry()
        registry_import_s = time.perf_counter() - t0

    mach = common.machine()
    work = os.path.join(common.REPO, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    # inputs and the expected outputs first: both are excluded from set-up
    # time and from the memory peak
    t0 = time.perf_counter()
    inputs = wl.make_inputs(args.size, args.seed, work)
    want = wl.expected(inputs)
    extra_inputs = {}
    for x in extras:
        x_work = os.path.join(work, x.NAME)
        os.makedirs(x_work)
        x_in = x.make_inputs(args.size, args.seed, x_work)
        extra_inputs[x.NAME] = (x_work, x_in, x.expected(x_in))
    prep_s = time.perf_counter() - t0

    with common.TreeRssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}",
                          **common.spark_configs(mach, work))
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up(spark, inputs, work)
        warmup_s = time.perf_counter() - t0
        setup_s = time.time() - t_start - prep_s
        java = spark.sparkContext._jvm.System.getProperty("java.version")

        ctx = types.SimpleNamespace(
            work=work, tracer=common.Tracer(f"{args.workload}-{args.seed}",
                                            enabled=False))
        ticks, cpu0 = common.cpu_ticks(), common.tree_cpu_s()
        results = {"untraced": wl.measure(spark, ctx, inputs, args.seconds,
                                          "untraced")}
        checks = []             # (module, result, expected, corrupt)
        loop_cpu_s = common.tree_cpu_s() - cpu0
        steal = common.steal_share(ticks, common.cpu_ticks())
        if args.trace:
            ctx.tracer.enabled = True
            with ctx.tracer.span("run.traced"):
                traced = wl.measure(spark, ctx, inputs, args.seconds,
                                    "traced")
            with ctx.tracer.span("run.layers"):
                layer_metrics, bases = wl.layers(spark, ctx, inputs, traced)
            counters = common.group_counters(
                spark, [g for _, g in traced["outputs"]])
            results["traced"] = traced
            for x in extras:
                x_work, x_in, x_want = extra_inputs[x.NAME]
                x_ctx = types.SimpleNamespace(work=x_work, tracer=ctx.tracer)
                with ctx.tracer.span(f"run.{x.NAME}"):
                    x.warm_up(spark, x_in, x_work)
                    x_res = x.measure(spark, x_ctx, x_in, args.seconds,
                                      "traced")
                    x_metrics, x_bases = x.layers(spark, x_ctx, x_in, x_res)
                layer_metrics.update(x_metrics)
                bases.update(x_bases)
                checks.append((x, x_res, x_want, args.corrupt))
        stop_session(spark)

    # ------------------------------------------------ checks (untimed)
    attempted = failed = 0
    checks += [(wl, res, want, args.corrupt and label == "untraced")
               for label, res in results.items()]
    for module, res, expect, corrupt in checks:
        ok = module.verify(res, expect, corrupt=corrupt)
        attempted += len(ok)
        failed += ok.count(False)

    base = results["untraced"]
    e2e = {"setup_s": setup_s, "peak_rss_mb": rss.peak_mb,
           "ops_per_s": len(base["op_times"]) / base["wall"],
           "op_p50_s": op_p50(wl, base)}

    env = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "size": args.size,
           "cores": mach["cores"], "heap_mb": mach["heap_mb"],
           "mem_total_mb": mach["mem_total_mb"],
           "pyspark": pyspark.__version__, "java": java,
           "input": inputs.get("n_samples", inputs.get("size")),
           "input_and_expected_s": prep_s,
           "cpu_steal_share_in_loop": steal, "loop_cpu_s": loop_cpu_s}
    print("env " + json.dumps(env))
    print(f"checks: {attempted - failed}/{attempted} operations correct; "
          f"failed_ratio = {failed / max(attempted, 1):.4f} ratio")
    if "samples" in base:
        print(f"throughput: {base['samples'] / base['wall'] / 1e6:.4f} "
              f"Msamples/s (input channel-samples / loop wall time)")
    tail, pct = common.tail(base["op_times"])
    print("op times s: " + " ".join(f"{t:.3f}" for t in base["op_times"]))
    if "names" in base:
        print("op names: " + " ".join(base["names"]))
    print(f"op samples: {len(base['op_times'])}; pooled median: "
          f"{common.median(base['op_times']):.4f} s; op_tail_s: "
          + (f"{tail:.4f} s (p{pct:.1f})" if tail is not None
             else "n/a (needs more than 10 samples)"))
    units = spec["end_to_end"]
    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {units[k]}")

    metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    if args.trace:
        session = {"session.import_s": import_s,
                   "session.registry_import_s": registry_import_s,
                   "session.get_spark_s": get_spark_s,
                   "session.warmup_s": warmup_s}
        metrics = trace_metrics(args, spec, wl, ctx, results,
                                {**session, **layer_metrics}, counters,
                                bases, mach, env)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def trace_metrics(args, spec, wl, ctx, results, layer_metrics, counters,
                  bases, mach, env):
    """Per-layer metrics of a traced run, the span file and the tracing
    overhead (traced vs untraced loop of the same run)."""
    base, traced = results["untraced"], results["traced"]
    spark_m = {f"spark.{k}": v for k, v in counters.items()}
    spark_m["spark.busy_share"] = (counters["executor_cpu_s"]
                                   / (traced["wall"] * mach["cores"]))
    overhead = op_p50(wl, traced) / op_p50(wl, base)
    values = {**spark_m, **layer_metrics,
              "trace.overhead_ratio": overhead,
              "trace.spans": len(ctx.tracer.spans)}
    # a layer the workload never calls reports 0
    out = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
           for name, unit in spec["per_layer"].items()}
    self_times = ctx.tracer.self_times()
    path = os.path.join(common.REPO, ".perfbench_work",
                        f"spans-{args.workload}-{args.seed}.jsonl")
    ctx.tracer.write(path, {"env": env, "bases": bases,
                            "self_times_s": self_times,
                            "untraced_op_times": base["op_times"],
                            "traced_op_times": traced["op_times"],
                            "metrics": {k: v["value"] for k, v in out.items()}})
    print(f"spans: {len(ctx.tracer.spans)} written to {path}")
    print(f"tracing overhead: traced op p50 {op_p50(wl, traced):.4f} s vs "
          f"untraced {op_p50(wl, base):.4f} s (ratio {overhead:.4f})")
    for k, v in bases.items():
        print(f"{k} base: {v}")
    for k, v in self_times.items():
        print(f"span self time {k}: {v:.4f} s")
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    return out


if __name__ == "__main__":
    sys.exit(main())
