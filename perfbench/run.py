"""sketchlib benchmark: one run of one workload.

    python3 perfbench/run.py --workload filter --seed 1 --seconds 5 --trace 0

Runs one workload closed-loop from a single driver process on
``local[<cores>]``: set-up (session start, seeded inputs, one untimed
warm-up round), then rounds of the workload's operations back to back
until ``--seconds`` have passed. Prints one JSON line last: the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the per-layer metrics, from
a second, traced phase run after an untraced one. Both sets are the same
for every workload; the per-operation detail goes to a trace file (traced)
and to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: per-operation detail for the trace file: job groups summed per prefix
ENGINE_OPS = {
    "engine.build_filter_direct": ["spark.cuckoo.build_filter_direct"],
    "engine.merge_partials": ["spark.cuckoo.merge_partials"],
    "engine.remove_keys": ["spark.cuckoo.remove_keys"],
    "engine.probe": ["spark.cuckoo.probe_hit", "spark.cuckoo.probe_miss", "spark.cuckoo.probe_wide"],
    "engine.probe_cogrouped": ["spark.cuckoo.probe_cogrouped"],
    "engine.build_sketch": [f"spark.agg.{k}" for k in ("hll", "kmv", "bloom", "cms", "kll", "tdigest")],
    "engine.build_sketch_grouped": ["spark.agg.build_sketch_grouped"],
    "engine.dedup": ["dedup.cross_doc_span_stats"],
    "engine.curation": ["urlops.url_dedup_canonical", "webpipe.web_curation_pipeline"],
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True,
                   choices=["filter", "sketch_webtext"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Keep every file Spark and its workers write inside ``run_dir`` and
    let the Python workers import sketchlib from this checkout."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SKETCHLIB_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ.setdefault("SKETCHLIB_DRIVER_MEM", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def spark_conf(run_dir: str, traced: bool) -> dict:
    from perfbench.tracing import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
    }
    if traced:
        conf.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    return conf


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every descendant process to end; terminate stragglers."""
    from perfbench.procstat import descendants

    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                raise RuntimeError(f"processes did not exit: {left}")
            sig, deadline = signal.SIGKILL, time.monotonic() + 10
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def timed_phase(ctx, wl, seconds: float) -> dict:
    """Rounds back to back until ``seconds`` have passed; per-round wall
    and process-tree CPU seconds."""
    from perfbench.procstat import tree_cpu_seconds
    from perfbench.workloads import run_round

    walls, cpus = [], []
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        ctx.round_no += 1
        c0, t0 = tree_cpu_seconds(), time.perf_counter()
        run_round(ctx, wl)
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_seconds() - c0)
    return {"walls": walls, "cpus": cpus}


def main(argv=None) -> int:
    args = parse_args(argv)
    t_begin = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "sketchlib", "__init__.py")):
        print(f"sketchlib is not in {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(run_dir)
    traced = bool(args.trace)
    spark = None
    try:
        from perfbench.tracing import Recorder, engine_metrics, event_log_summary, merge_groups
        from perfbench.workloads import WORKLOADS, Ctx
        from sketchlib.spark.session import get_spark

        cores = os.cpu_count() or 4
        rec = Recorder(traced=False)
        with rec.span("session.get_spark"):
            spark = get_spark(app=f"perfbench-{args.workload}", cores=cores,
                              extra_conf=spark_conf(run_dir, traced))
            spark.sparkContext.setLogLevel("ERROR")
        rec.spark = spark
        ctx = Ctx(spark=spark, rec=rec, seed=args.seed, cores=cores)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_begin
        print(f"setup {setup_s:.3f}s: " + ", ".join(f"{k} {v:.3f}s" for k, v in rec.totals.items()),
              file=sys.stderr, flush=True)
        setup_layers = {
            "session.get_spark_s": rec.totals["session.get_spark"],
            "pipeline.generate_pages_s": rec.totals["pipeline.generate_pages"],
        }
        ctx.tally.clear()
        plain = timed_phase(ctx, wl, args.seconds)
        rates = [units / secs for units, secs in ctx.tally.values()]
        throughputs = wl.metrics(ctx)
        print("operation throughputs: " + json.dumps(throughputs), file=sys.stderr, flush=True)
        if traced:
            rec.traced, rec.totals = True, {}
            traced_phase = timed_phase(ctx, wl, args.seconds)
            # the untraced rounds the overhead is taken against: the run's
            # first timed round is still slower than later ones
            rec.traced, traced_totals = False, dict(rec.totals)
            after = timed_phase(ctx, wl, args.seconds)
            rec.totals = traced_totals
        if hasattr(wl, "finish"):
            wl.finish(ctx)
        if not traced:
            result_metrics = {
                "setup_s": ("s", setup_s),
                "run_s": ("s", statistics.median(plain["walls"])),
                "cpu_s": ("s", statistics.median(plain["cpus"])),
                "geomean_rows_per_s": ("1/s", math.exp(statistics.fmean(math.log(r) for r in rates))),
            }
        else:
            from perfbench.kernel_pass import cuckoo_pass, sibling_pass

            rounds = len(traced_phase["walls"])
            layers = dict(setup_layers)
            layers["trace.overhead_s"] = (
                statistics.median(traced_phase["walls"]) - statistics.median(after["walls"])
            )
            summed, kernel_detail = cuckoo_pass(args.seed)
            layers.update(summed)
            layers.update(sibling_pass(args.seed))
            operations = {f"{name}_s": t / rounds for name, t in rec.totals.items()}
            operations.update(wl.layer_metrics(ctx))
        spark_ref, spark = spark, None
        stop_spark(spark_ref)
        if traced:
            groups = event_log_summary(os.path.join(run_dir, "eventlog"))
            engine = engine_metrics("engine", merge_groups(list(groups.values())))
            layers.update({k: v if k == "engine.task_skew" else v / rounds for k, v in engine.items()})
            op_wall = sum(sp.end - sp.start for sp in rec.spans if sp.parent is None and sp.op_id)
            layers["driver.self_s"] = op_wall / rounds - layers["engine.job_wall_s"]
            calls = {g: sum(1 for sp in rec.spans if sp.op_id and sp.op_id.split("#")[0] == g
                            and sp.parent is None) for g in groups}
            for prefix, names in ENGINE_OPS.items():
                present = [groups[n] for n in names if n in groups]
                if present:
                    operations.update(engine_metrics(prefix, merge_groups(present)))
            operations.update(merge_shape(groups, calls))
            result_metrics = {k: (unit_of(k), v) for k, v in layers.items()}
            os.makedirs(OUT, exist_ok=True)
            path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace.json")
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                           "operations": operations, "throughputs": throughputs,
                           "job_groups": groups, "kernels": kernel_detail,
                           "plain_round_s": plain["walls"], "traced_round_s": traced_phase["walls"],
                           "after_round_s": after["walls"],
                           **rec.dump()}, f, indent=1, default=str)
            print(f"trace written to {path}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (u, v) in result_metrics.items()},
    }))
    return 0


def merge_shape(groups: dict, calls: dict) -> dict:
    """Merge-tree shape measured from the event log. Each tree level runs
    two SQL actions (the fan-in sizing query and the level's
    materialization) and the final merge one more (the collect), so a call
    with A actions ran (A - 1) / 2 levels, the partials build counted as
    the first."""
    def per_call(name):
        n = calls.get(name, 0)
        return (groups[name]["jobs"] / n, groups[name]["actions"] / n) if n and name in groups else None

    out = {}
    tree = per_call("spark.cuckoo.merge_partials")
    if tree:
        out["spark.cuckoo.merge_jobs"] = tree[0]
        out["spark.cuckoo.merge_levels"] = (tree[1] - 1) / 2
    sk = [c for c in (per_call(f"spark.agg.{k}") for k in ("hll", "kmv", "bloom", "cms", "kll", "tdigest")) if c]
    if sk:
        out["spark.agg.merge_levels"] = statistics.mean((a - 1) / 2 for _, a in sk)
    return out


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("jobs", "actions", "tasks", "levels", "dropped_fps")):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
