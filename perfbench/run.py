"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts Spark on ``local[<cpus>]``, sets up several times (the
median is ``setup_s``), runs the workload untimed for a short ramp,
measures whole iterations for ``--seconds``, checks every output, and
prints one JSON line last on stdout. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` the per-layer metrics, and it
writes the spans and the per-layer table to ``.perfbench_out/``. A human-readable report goes to stderr. The exit
code is 0 only when every output checked out.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOAD_NAMES = ("etl_live", "stateful_stream")


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def program_present() -> bool:
    """The checkout must hold the program, not just the benchmark."""
    needed = ("BENCHMARK.json", "pulsar_elasticsearch_sync_rs_spark/session.py", "bench.py",
              "tools/check_oracle.py")
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in needed)


def summarize(iters: list[dict]) -> dict:
    from perfbench.workloads import pct, tail_pct

    lat = [x for it in iters for x in it["lat_ms"]]
    q = tail_pct(len(lat))
    return {
        "throughput_rows_s": statistics.median(it["rows"] / it["wall_s"] for it in iters),
        "latency_p50_ms": pct(lat, 50),
        "latency_p99_ms": pct(lat, q),
        "latency_samples": len(lat),
        "latency_tail_pct": q,
        "cpu_s": statistics.median(it["cpu_s"] for it in iters),
        "iterations": len(iters),
    }


def timed_window(wl, spark, seconds: float) -> tuple[list[dict], float, float, float, float]:
    """(iterations, start, end, peak RSS in MB, host CPU steal in s)."""
    from perfbench.procstat import RssSampler, steal_seconds

    with RssSampler() as rss:
        steal = steal_seconds()
        t0 = time.time()
        iters = wl.measure(spark, seconds)
        t1 = time.time()
        steal = steal_seconds() - steal
    return iters, t0, t1, rss.peak_mb, steal


def run(ctx, name: str) -> tuple[dict, dict, dict]:
    """Returns (end-to-end metrics, per-layer metrics, check result)."""
    from perfbench.trace import StatusApi
    from perfbench.workloads import N_SETUPS, RAMP_S, WORKLOADS

    wl = WORKLOADS[name](ctx)
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        # the first set-up launches the JVM; the median keeps it from
        # dominating while the others (new session, same JVM) still
        # measure everything the program does at set-up. A traced run
        # reports no setup_s and sets up once, to stay within its time.
        setups = []
        for k in range(1 if ctx.trace else N_SETUPS):
            t = time.perf_counter()
            spark = ctx.session()
            if k == 0:
                jvm_s = time.perf_counter() - t
            wl.warm_up(spark)
            setups.append(time.perf_counter() - t)
        if not ctx.trace:  # a traced run's untraced window serves as its ramp
            wl.measure(spark, RAMP_S)
        iters, t0, t1, peak_mb, steal_s = timed_window(wl, spark, ctx.seconds)
        e2e = {"setup_s": statistics.median(setups), **summarize(iters), "peak_rss_mb": peak_mb}
        e2e["setups_s"], e2e["steal_s"] = setups, steal_s
        layers = wl.layers
        if ctx.trace:
            # an untraced window, then a traced one: the overhead is the
            # second's loss against the first (a JVM still warming up
            # biases it low)
            wl.set_tracing(spark, True)
            with ctx.tracer.span(f"{name}.traced_window") as sp:
                ctx.tracer.root = sp["id"]
                titers, t0, t1, *_ = timed_window(wl, spark, ctx.seconds)
            ctx.tracer.root = None
            wl.set_tracing(spark, False)
            spark_win = StatusApi(spark).window(t0, t1)
            layers.update({f"spark.{k}": v for k, v in spark_win.items()})
            batches = sum(it.get("batches", 1) for it in titers)
            layers["spark.jobs_per_batch"] = spark_win["jobs"] / batches if batches else 0.0
            ctx.tracer.enabled = True  # spans for the replays and passes below
            wl.trace_layers(spark, titers, t0, t1)
            key = "latency_p50_ms" if name == "etl_live" else "throughput_rows_s"
            loss = summarize(titers)[key] / e2e[key] - 1
            layers["trace.overhead_pct"] = 100 * (loss if name == "etl_live" else -loss)
            layers["loadgen.gen_s"] = gen_s
            layers.setdefault("loadgen.rows", wl.inputs().get("events", 0))
            layers.update({"host.peak_rss_mb": e2e["peak_rss_mb"], "host.cpu_steal_s": steal_s,
                           "host.jvm_launch_s": jvm_s, "host.driver_heap_mb": ctx.heap_mb,
                           "host.cpus": ctx.cpus})
            from bench import yardsticks

            ys = yardsticks(spark)
            layers.update({
                "host.spark_range_2e8_sum_s": ys["spark_range_2e8_sum_sec"],
                "host.spark_shuffle_5m_s": ys["spark_shuffle_5m_sec"],
                "host.numpy_matmul_3x2000_s": ys["numpy_matmul_3x2000_sec"],
                "host.python_loop_10m_s": ys["python_loop_10m_sec"],
            })
            chk = wl.check(spark)
            if hasattr(wl, "scale_baseline"):
                wl.scale_baseline()
        else:
            chk = wl.check(spark)
        e2e["inputs"] = wl.inputs()
        e2e["gen_s"] = gen_s
        return e2e, layers, chk
    finally:
        wl.close()


def shutdown(ctx) -> None:
    """Stop Spark, the JVM and every process under this one, and wait
    for each to end."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants

    if ctx is not None and ctx.spark is not None:
        for q in ctx.spark.streams.active:
            q.stop()
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 20
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while descendants() and time.time() < deadline:
        time.sleep(0.2)


def report(name: str, e2e: dict, chk: dict, units: dict[str, str]) -> None:
    frac = chk["failed"] / chk["attempted"] if chk["attempted"] else 1.0
    extra = {"latency_p99_ms": "ms", "peak_rss_mb": "MB"}
    rows = [(k, e2e[k], u) for k, u in {**units, **extra}.items()] + [("failed_frac", frac, "ratio")]
    print(f"# {name}: inputs {json.dumps(e2e['inputs'])}; generated in {e2e['gen_s']:.2f}s", file=sys.stderr)
    for k, v, u in rows:
        print(f"#   {k:<20} {v:>14.4f} {u}", file=sys.stderr)
    print(f"#   latency over {e2e['latency_samples']} samples; 'p99' is p{e2e['latency_tail_pct']:.2f};"
          f" {e2e['iterations']} iterations; set-ups {[round(s, 3) for s in e2e['setups_s']]};"
          f" host CPU steal in the window {e2e['steal_s']:.2f}s",
          file=sys.stderr)
    print(f"#   check: {json.dumps(chk)[:2000]}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: {ROOT} does not hold the program (pulsar_elasticsearch_sync_rs_spark,"
              " bench.py, tools/check_oracle.py); nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import Context

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark binds to loopback even where the host name does not resolve
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.makedirs(os.environ["TMPDIR"])
    ctx = Context(work, args.seed, args.seconds, bool(args.trace))
    try:
        e2e, layers, chk = run(ctx, args.workload)
    finally:
        shutdown(ctx)
        shutil.rmtree(work, ignore_errors=True)
    end_to_end, per_layer = metric_units()
    report(args.workload, e2e, chk, end_to_end)
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "end_to_end_untraced": e2e,
                       "per_layer": layers, "check": chk}, f, default=str)
        ctx.tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        for k, v in sorted(layers.items()):
            print(f"#   {k:<32} {v:>14.4f} {per_layer.get(k, '')}", file=sys.stderr)
        print(f"# spans and per-layer table written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({"correct": bool(chk["correct"]), "attempted": int(chk["attempted"]),
                      "failed": int(chk["failed"]), "metrics": metrics}))
    return 0 if chk["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
