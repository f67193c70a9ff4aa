"""Benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Set-up (session start, seeded inputs,
oracle answers, warm-up with output checks) is timed as ``setup_s``;
then operations run one at a time for S seconds; then the workload's
output checks run. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
With ``--trace 1`` every other run of each operation is traced (the
window lasts until some operation has run both ways), and the trace is
written to perfbench/_work/traces/. Exits 1 on any wrong output and 2
when the engine is not there to measure.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(HERE, "_work")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _isolate(work: str) -> None:
    """Keep every temporary file of Python, Spark and the JVM inside the
    run's work directory, and size the engine to this machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: the JVM would otherwise keep its counters file
    # under the system /tmp, outside the checkout.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def layer_metrics(ops, spans, counters, progress, cores: int, session_s: float, rss: float):
    """Per-operation means over the traced operations, plus the tracing
    overhead (traced minus untraced median latency)."""
    from stats import median, paired_overhead, self_times
    from trace import attribute_stages, dir_mb

    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    n = max(len(traced), 1)
    in_op = {o["i"] for o in traced}
    by_id = {s.sid: s for s in spans}
    self_s = self_times(spans)
    attribute_stages(spans, counters.stages)

    def total(pred, value) -> float:
        return sum(value(s) for s in spans if s.op in in_op and pred(s)) / n

    def named(name):
        return lambda s: s.name == name

    def outermost_write(s) -> bool:
        if s.name != "sources.write":
            return False
        p = s.parent
        while p is not None:
            if by_id[p].name == "sources.write":
                return False
            p = by_id[p].parent
        return True

    def landing(s) -> bool:
        return s.name == "scratch.materialize" and s.attrs.get("landed", False)

    def landed_dir(s) -> bool:
        return s.name == "scratch.run_scratch" and s.parent is not None and landing(by_id[s.parent])

    def stage_sum(key) -> float:
        return total(lambda s: True, lambda s: sum(st[key] for st in s.attrs.get("stages", [])))

    windows = [(o["start"], o["end"]) for o in traced]

    def in_window(t) -> bool:
        return any(a <= t <= b for a, b in windows)

    batches = [b for b in progress.batches if in_window(b[0])]
    busy = sum(o["end"] - o["start"] for o in traced)
    probe = [s.duration for s in spans if s.name == "functions.text_chain"]
    p50_t, p50_u = paired_overhead(
        [(o["label"], o["latency"]) for o in traced],
        [(o["label"], o["latency"]) for o in untraced])
    m = {
        "session.start_s": (session_s, "s"),
        "process.peak_rss_mb": (rss, "MB"),
        "app.self_s": (total(named("app.run_pipeline"), lambda s: self_s[s.sid]), "s"),
        "functions.text_chain_s": (sum(probe) / len(probe) if probe else 0.0, "s"),
        "ml.lda_fit_s": (total(named("ml.fit_lda"), lambda s: s.duration), "s"),
        "ml.rf_fit_s": (total(named("ml.fit_classifier"), lambda s: s.duration), "s"),
        "ml.metrics_s": (total(named("ml.classification_metrics"), lambda s: s.duration), "s"),
        "sources.write_s": (total(outermost_write, lambda s: s.duration), "s"),
        "sources.output_mb": (stage_sum("output_mb"), "MB"),
        "sources.input_mb": (stage_sum("input_mb"), "MB"),
        "plans.build_s": (total(named("plans.build"), lambda s: s.duration), "s"),
        "plans.optimize_s": (total(named("plans.optimize"), lambda s: s.duration), "s"),
        "plans.exec_s": (total(named("plans.exec"), lambda s: s.duration), "s"),
        "scratch.landings": (total(landing, lambda s: 1), "count"),
        "scratch.landed_mb": (total(landed_dir, lambda s: dir_mb(s.attrs["dir"])), "MB"),
        "scratch.land_s": (total(landing, lambda s: self_s[s.sid]), "s"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.batch_p50_s": (median([b[2] for b in batches]) if batches else 0.0, "s"),
        "streaming.input_rows": (sum(b[1] for b in batches) / n, "count"),
        "spark.jobs": (sum(1 for t in counters.jobs if in_window(t)) / n, "count"),
        "spark.stages": (total(lambda s: True, lambda s: len(s.attrs.get("stages", []))), "count"),
        "spark.tasks": (stage_sum("tasks"), "count"),
        "spark.shuffle_write_mb": (stage_sum("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (stage_sum("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (stage_sum("spill_mb"), "MB"),
        "spark.task_run_s": (stage_sum("run_s"), "s"),
        "spark.task_cpu_s": (stage_sum("cpu_s"), "s"),
        "spark.gc_s": (stage_sum("gc_s"), "s"),
        "spark.core_busy_frac": (
            stage_sum("run_s") * n / (busy * cores) if busy else 0.0, "ratio"),
        "trace.op_p50_s": (p50_t, "s"),
        "trace.untraced_op_p50_s": (p50_u, "s"),
        "trace.overhead_s": (p50_t - p50_u, "s"),
    }
    landings = {o["i"]: sum(1 for s in spans if s.op == o["i"] and landing(s)) for o in traced}
    return m, self_s, landings


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "customer_review__etl_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    work = os.path.join(WORK_BASE, f"{args.workload}_{args.seed}_{os.getpid()}")
    os.makedirs(work)
    _isolate(work)
    os.chdir(work)  # anything Spark drops in the cwd stays in the run's dir
    spark = None
    try:
        from stats import median, mix_rates, percentile, tail_percentile
        from trace import SparkCounters, StreamProgress, Tracer, install, write_spans

        tracer = Tracer()
        t = time.perf_counter()
        from customer_review__etl_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        cores = spark.sparkContext.defaultParallelism
        ctx = Ctx(spark, work, args.seed, tracer)
        if args.trace:
            from customer_review__etl_spark import plans

            plans.all_queries()  # import every plan module before wrapping
            progress = StreamProgress()
            install(tracer, progress)
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_START
        counters = SparkCounters(spark) if args.trace else None
        if counters:
            counters.poll()  # skip the set-up's stages

        ops: list[dict] = []
        labels = wl.labels()
        t0 = time.perf_counter()
        # A traced run traces every other run of each label (half the
        # labels start traced, half untraced) and goes on until some label
        # has run both ways, so the tracing overhead compares the same
        # operations at the same point of the run.
        first: dict[str, int] = {}
        runs: dict[str, int] = {}
        paired = not args.trace
        while not paired or time.perf_counter() - t0 < args.seconds:
            i = len(ops)
            label = next(labels)
            arg = wl.prepare(i, label)
            first.setdefault(label, len(first))
            traced = bool(args.trace) and (runs.get(label, 0) + first[label]) % 2 == 0
            runs[label] = runs.get(label, 0) + 1
            paired = paired or runs[label] == 2
            tracer.enabled, tracer.op = traced, i
            start, s = time.time(), time.perf_counter()
            ok = True
            try:
                with tracer.span("op", label=label):
                    wl.run(i, label, arg)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                ok = False
                traceback.print_exc(file=sys.stderr)
            latency = time.perf_counter() - s
            ops.append({"i": i, "label": label, "latency": latency, "ok": ok,
                        "traced": traced, "start": start, "end": time.time()})
            tracer.op = None
            if traced:
                wl.probe(i)
            tracer.enabled = False
            if counters:
                counters.poll()
        window = time.perf_counter() - t0

        wrong = wl.check([(o["i"], o["label"]) for o in ops if o["ok"]])
        lat = [o["latency"] for o in ops]
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())

        if args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            metrics, self_s, landings = layer_metrics(
                ops, tracer.spans, counters, progress, cores, session_s, rss)
            write_spans(
                os.path.join(WORK_BASE, "traces", f"{args.workload}_seed{args.seed}.json"),
                tracer.spans, self_s)
            if args.workload == "dedup_recipe":
                # Every recipe pass must pay cold landings; one that paid
                # none measured a cache hit, so it counts as failed.
                warm_hit = {i for i, n in landings.items() if n == 0}
                if warm_hit:
                    print(f"dedup_recipe: traced passes paid no landings: {sorted(warm_hit)}",
                          file=sys.stderr)
                wrong |= warm_hit
        else:
            p50, rate = mix_rates([(o["label"], o["latency"]) for o in ops])
            metrics = {
                "op_p50_s": (p50, "s"),
                "ops_per_s": (rate, "1/s"),
                "setup_s": (setup_s, "s"),
            }
        failed = sum(1 for o in ops if not o["ok"] or o["i"] in wrong)
        q = tail_percentile(len(lat))
        tail = f", p{q} {percentile(lat, q):.4f} s" if q else ""
        print(f"{args.workload}: {len(ops)} ops in {window:.2f} s, p50 {median(lat):.4f} s"
              f"{tail}, failed {failed}, setup {setup_s:.2f} s, peak rss {rss:.0f} MB")
        print("  latencies (s): " + " ".join(f"{o['label']}={o['latency']:.3f}" for o in ops[:40]))
        for k, (v, unit) in metrics.items():
            print(f"  {k} = {v:.6g} {unit}")
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        for d in glob.glob(os.path.join(ROOT, ".tmp", f"run_{os.getpid()}_*")):
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
