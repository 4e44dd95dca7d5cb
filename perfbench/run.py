"""Benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload {wc-corpus,curation,interactive} \
        --seed N --seconds S --trace {0,1}

Runs from the repository root. Each run is a closed loop with one client
in one process on ``local[<cores>]``: it sets up from cold (JVM launch,
session start, input generation) three times and reports the median,
checks every output against an oracle once (the warm-up), then runs whole
passes over the workload's units in a seed-shuffled order until
``--seconds`` have elapsed. Timings are CPU seconds of the run's process
tree and wall seconds less the time the hypervisor stole. The last stdout
line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also times
each layer (spans written under ``.perfbench/spans/``) and reports the
per-layer metrics, including the tracing overhead. See METRICS.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 4


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env() -> int:
    """Environment the engine and its Python workers need; returns cores."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "local", "checkpoints"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    sys.path[:0] = [HERE, ROOT]
    return cores


def session_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.streaming.checkpointLocation": os.path.join(WORK, "checkpoints"),
    }


def start_session():
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session

    spark = get_session("perfbench", extra_conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def setup(cls, seed: int, rounds: int):
    """Start the session and generate the inputs ``rounds`` times. The
    first round launches the JVM; the others stop the SparkContext and
    start a new one in the same JVM. Returns the last round's workload and
    units, every round's (wall, CPU) seconds, and the first round's
    session start alone, JVM launch included, as (wall, CPU) seconds."""
    from collect import tree_cpu_s

    times, wl, cold = [], None, None
    for _ in range(rounds):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        if wl is not None:
            wl.spark.stop()
        spark = start_session()
        if cold is None:
            cold = (time.perf_counter() - t0, tree_cpu_s() - c0)
        wl = cls(spark, WORK, seed)
        wl.generate()
        units = wl.units()
        times.append((time.perf_counter() - t0, tree_cpu_s() - c0))
    return wl, units, times, cold


def loop(units, seed: int, seconds: float, min_passes: int, tracer=None) -> dict:
    """Closed loop of whole seed-shuffled passes over ``units``: at least
    ``min_passes``, and another while the mean pass time says it ends
    within ``seconds``. Whole passes keep every unit's share of the samples
    fixed. Records every execution's wall time less stolen time (``lat``)
    and the CPU time of the whole process tree (``cpu``)."""
    from collect import cpu_steal, tree_cpu_s, unstolen_s

    rng = random.Random(seed)
    gc.collect()
    gc.disable()  # no cyclic-collector pauses inside timed executions
    lat: dict[str, list[float]] = {u.name: [] for u in units}
    cpu: dict[str, list[float]] = {u.name: [] for u in units}
    res = {"units": units, "lat": lat, "cpu": cpu, "attempted": 0, "failed": 0, "spans": []}
    t0, s0 = time.perf_counter(), cpu_steal()
    passes = 0
    while passes < min_passes or (time.perf_counter() - t0) * (passes + 1) / passes <= seconds:
        passes += 1
        order = list(units)
        rng.shuffle(order)
        for u in order:
            res["attempted"] += 1
            c, s = tree_cpu_s(), cpu_steal()
            t = time.perf_counter()
            try:
                if tracer is None:
                    u.run(u.build())
                else:
                    with tracer.span(u.name) as rec:
                        with tracer.span("build") as built:
                            obj = u.build()
                        with tracer.span("run"):
                            u.run(obj)
                    res["spans"].append((u, rec, built))
            except Exception as e:  # a failed execution counts, the loop goes on
                res["failed"] += 1
                log(f"{u.name} failed: {type(e).__name__}: {e}")
                continue
            lat[u.name].append(unstolen_s(time.perf_counter() - t, s, cpu_steal()))
            cpu[u.name].append(tree_cpu_s() - c)
    res["wall"] = time.perf_counter() - t0
    s1 = cpu_steal()
    res["steal"] = (s1[1] - s0[1]) / max(1, s1[0] - s0[0])
    gc.enable()
    return res


def summary(per_unit: dict[str, list[float]]) -> tuple[float, float]:
    """(mean, p90) of the per-execution seconds ``per_unit`` (wall or
    CPU). The mean is over the units of each unit's median, so that it
    moves neither with one slow execution nor with which unit of a mixed
    workload happens to sit at the middle rank. The p90 is over every
    execution."""
    from collect import percentile

    samples = [x for v in per_unit.values() for x in v]
    medians = [statistics.median(v) for v in per_unit.values() if v]
    return statistics.mean(medians), percentile(samples, 90)


def traced_metrics(wl, units, seed, seconds, cores, start_s) -> tuple[dict[str, float], int, int]:
    """The loop traced, then the layer probes. Returns the per-layer
    metrics and the executions attempted and failed in the loop."""
    from collect import StreamingCollector, Tracer, peak_rss_mb

    run_id = f"{wl.name}-seed{seed}-{int(time.time())}"
    tracer = Tracer(wl.spark, run_id)
    streams = StreamingCollector(wl.spark)
    res = loop(units, seed, seconds, 1, tracer)
    overhead = tracer.bookkeeping_s / res["wall"]
    out = {}
    rel = [x for name, v in res["lat"].items() if name.startswith("rel_") for x in v]
    if rel:
        out["relational.query_s"] = statistics.median(rel)
    out.update(wl.layers(tracer))
    tracer.attribute()
    streams.close()
    out = {k: v() if callable(v) else v for k, v in out.items()}
    out["session.start_s"] = start_s
    out["session.peak_rss_mb"] = peak_rss_mb(wl.spark)
    n = max(1, len(res["spans"]))
    tot: dict[str, float] = {}
    for _, rec, _ in res["spans"]:
        for k, v in rec["spark"].items():
            tot[k] = tot.get(k, 0.0) + v
    for k in ("jobs", "stages", "tasks", "busy_s", "cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "failed_tasks"):
        out[f"spark.{k}"] = tot.get(k, 0.0) / n
    out["spark.spill_bytes"] = (tot.get("memory_spill_bytes", 0.0) + tot.get("disk_spill_bytes", 0.0)) / n
    out["spark.core_util"] = tot.get("busy_s", 0.0) / (res["wall"] * cores)
    sizing = [built["spark"]["jobs"] for u, _, built in res["spans"] if not u.streaming]
    out["plans.sizing_jobs"] = statistics.mean(sizing) if sizing else 0.0
    for k, v in streams.per_run().items():
        out[f"streaming.{k}"] = v
    out["trace.overhead"] = overhead
    out["trace.query_s.mean"], out["trace.query_s.p90"] = summary(res["lat"])
    out["trace.query_cpu_s.mean"] = summary(res["cpu"])[0]
    tracer.write(os.path.join(WORK, "spans", f"{run_id}.json"))
    return out, res["attempted"], res["failed"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = configure_env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2
    import custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark  # noqa: F401  (fail fast without the package)

    wl, units, setup_times, cold = setup(WORKLOADS[args.workload], args.seed, 1 if args.trace else SETUP_ROUNDS)
    spark = wl.spark
    try:
        t_check = time.perf_counter()
        checks = wl.check()
        log(f"checks took {time.perf_counter() - t_check:.1f} s")
        wl.warm_up(units)
        for name, ok, detail in checks:
            log(f"check {name}: {'ok' if ok else 'WRONG'} ({detail})")
        bad = sum(1 for _, ok, _ in checks if not ok)
        end_to_end, per_layer = metric_units()
        if args.trace:
            values, attempted, failed = traced_metrics(wl, units, args.seed, args.seconds, cores, cold[0])
            units_of = per_layer
            attempted, failed = attempted + len(checks), failed + bad
        else:
            res = loop(units, args.seed, args.seconds, wl.min_passes)
            values = {"query_cpu_s.mean": summary(res["cpu"])[0], "query_s.mean": summary(res["lat"])[0],
                      "setup_s": statistics.median(c for _, c in setup_times[1:]), "cold_start_s": cold[1]}
            from collect import retained_heap_mb

            values["retained_heap_mb"] = retained_heap_mb(spark)
            units_of = end_to_end
            attempted, failed = res["attempted"] + len(checks), res["failed"] + bad
            log(f"{res['attempted']} executions in {res['wall']:.1f} s, {res['steal']:.1%} stolen; "
                f"cold session start ({cold[0]:.2f}, {cold[1]:.2f}); setup rounds (wall, cpu) "
                + ", ".join(f"({w:.2f}, {c:.2f})" for w, c in setup_times))
            log("latencies " + json.dumps({k: [round(x, 4) for x in v] for k, v in res["lat"].items()}))
            log("cpu " + json.dumps({k: [round(x, 3) for x in v] for k, v in res["cpu"].items()}))
    finally:
        stop_session(spark)
        for sub in ("corpus", "layout", "layout-traced", "curation", "sf", "probe", "tmp", "local", "checkpoints"):
            shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units_of.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
