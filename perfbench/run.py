#!/usr/bin/env python3
"""Seeded benchmark of the fagi_gis_spark engine.

    python3 perfbench/run.py --workload geo_conflation --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  One process drives one Spark session
at ``local[<cores>]``, where cores is this host's CPU count.  The
benchmark calls the engine as a library through its public functions and
changes none of its files.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones (see spans.py).  The lines
before it are a readable report, and the traced run also writes its spans
to ``.perfbench/trace-<workload>-<seed>.json`` in the checkout.

A run (see README.md for the reasons):
1. makes its inputs from ``--seed`` under ``.perfbench/`` in the checkout;
2. sets up the session SETUP_REPEATS times and reports the median as
   ``setup_s``; the first set-up launches the JVM and warms up with one
   untimed, checked pass of the workload;
3. repeats the workload's timed pass until ``--seconds`` have passed,
   resetting every cache the engine keeps between passes, checks each
   pass's outputs and reports medians;
4. stops the JVM and its Python workers and deletes its scratch files.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
#: timed passes a run makes at least, however long they take
MIN_PASSES = 2
#: driver JVM heap: local mode runs every task in this one JVM, so this is
#: the engine's whole memory budget.  It is fixed (initial = maximum):
#: with a growing heap the JVM's RSS followed G1's resizing after each
#: full GC and spread 20% between runs of one commit.  2g is well below
#: the engine's 8g default, so the benchmark fits beside other work.
DRIVER_MEM = "2g"


def _isolate(work: str, cores: int) -> None:
    """Point every place the engine or Spark would write at ``work``.

    Spark's python workers are launched by the JVM with its environment,
    so PYTHONPATH must name the checkout root before the JVM starts:
    without it a worker started from any other directory cannot import
    fagi_gis_spark, and the first engine UDF fails with
    ModuleNotFoundError."""
    import tempfile

    for d in ("local", "tmp", "layers", "warehouse", "side"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_LAYER_CACHE": os.path.join(work, "layers"),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            # the launcher JVM that spark-submit starts first
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _redirect_side_inputs(side_dir: list) -> bool:
    """The engine writes worker side inputs to a fixed /tmp prefix
    (fagi_gis_spark.sideinput.write_arrays).  The benchmark may write
    only inside its checkout, so it recompiles that one function with the
    prefix pointed at ``side_dir[0]``, which the harness changes every
    pass: files are then per pass, deleted after it, and a worker's
    path-keyed cache can never serve a file an earlier pass wrote.  Every
    other line of the function runs unchanged.  When the engine no longer
    hard-codes the prefix this does nothing and returns False."""
    import inspect

    from fagi_gis_spark import sideinput

    src = inspect.getsource(sideinput.write_arrays)
    prefix = 'f"/tmp/spark_graft_side_'
    if prefix not in src:
        return False
    ns = dict(vars(sideinput))
    ns["_perfbench_side_dir"] = lambda: side_dir[0]
    exec(compile(src.replace(prefix, 'f"{_perfbench_side_dir()}/spark_graft_side_'),
                 sideinput.__file__, "exec"), ns)
    sideinput.write_arrays = ns["write_arrays"]
    return True


def _start_session(work: str, cores: int):
    from fagi_gis_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _warm_up(spark, cores: int) -> None:
    """One job that pays the session's one-off costs before timing:
    whole-stage codegen of an aggregate in the JVM, and an Arrow pandas
    UDF from the engine on every core, so each Python worker starts and
    imports fagi_gis_spark here and not in the first timed call."""
    from pyspark.sql import functions as F

    from fagi_gis_spark.functions.geo_udfs import u_s2_cell_at

    pts = spark.range(0, 4 * cores, 1, cores).select(
        ((F.col("id") % 2000) / 1000.0 - 1.0).alias("lon"),
        (F.col("id") % 1999 / 1000.0 + 50.0).alias("lat"),
    )
    pts.select(u_s2_cell_at(12)("lon", "lat").alias("c")).groupBy(
        (F.col("c") % 97).alias("g")
    ).count().collect()


def _stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit, so the
    next setup starts from a fresh JVM and nothing outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid():
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _reset(spark) -> None:
    """Drop everything a pass could leave for the next one: cached and
    persisted frames (minhash_lsh_pairs persists its signatures and never
    unpersists them), the engine's in-process memos, and garbage whose
    cleanup would otherwise land inside the next timed pass."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    for mod, attr in (
        ("fagi_gis_spark.registry", "_HOT_CACHE"),
        ("fagi_gis_spark.sources.layers", "_SESSION_LAYERS"),
        ("fagi_gis_spark.functions.dedup", "_SIG_SIDEINPUT_CACHE"),
        ("fagi_gis_spark.sideinput", "_CACHE"),
    ):
        m = sys.modules.get(mod)
        if m is not None:
            getattr(m, attr, {}).clear()
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _setups(first_pass, work: str, cores: int):
    """SETUP_REPEATS session set-ups; returns the live session of the last,
    the start and warm-up seconds of each, and ``first_pass``'s result.

    The first set-up launches the JVM, and its warm-up is ``first_pass``:
    the workload's own first pass, which pays each plan shape's one-off
    JVM costs (class loading, codegen, JIT) and starts the Python workers.
    The others stop the SparkContext and start a new one in that JVM with
    the engine's config, which also starts a new Python worker daemon,
    and run the warm-up job.  A fresh JVM per set-up would cost about 11 s
    more on a 4-core host, which the benchmark's time budget (48 runs in
    3420 s for a comparison of two commits) cannot hold."""
    spark, starts, warms, first = None, [], [], None
    for k in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start_session(work, cores)
        t1 = time.perf_counter()
        if k == 0:
            first = first_pass(spark)
        else:
            _warm_up(spark, cores)
        starts.append(t1 - t0)
        warms.append(time.perf_counter() - t1)
    return spark, starts, warms, first


def _one_pass(wl, spark, tracer, work, i, side_dir, traced):
    """One pass of the workload with fresh state; returns the Pass and
    the scratch dir (kept for a traced pass, whose outputs the layer
    calls read)."""
    import workloads

    _reset(spark)
    side_dir[0] = os.path.join(work, "side", f"pass-{i}")
    os.makedirs(side_dir[0], exist_ok=True)
    scratch = os.path.join(work, f"pass-{i}")
    tracer.enabled = traced
    t0 = time.perf_counter()
    try:
        with tracer.span("pass") as rec:
            p = wl.iterate(spark, tracer, scratch, i == 0)
    except Exception as e:  # the engine failed: count it, keep measuring
        p = workloads.Pass(time.perf_counter() - t0,
                           [workloads.Op("pass", False, f"raised {type(e).__name__}: {e}")])
    tracer.enabled = False
    p.extra.update(traced=traced, span=rec)
    p.extra["side_bytes"], p.extra["side_files"] = workloads.dir_size(side_dir[0])
    shutil.rmtree(side_dir[0], ignore_errors=True)
    if not traced:
        shutil.rmtree(scratch, ignore_errors=True)
    return p, scratch


def run(args, work: str) -> dict:
    cores = os.cpu_count() or 1
    _isolate(work, cores)
    import workloads
    from spans import NullTracer, RssSampler, Tracer

    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0
    side_dir = [os.path.join(work, "side")]
    redirected = _redirect_side_inputs(side_dir)
    spark = None
    try:
        # the first pass is checked and reported, never timed
        spark, starts, warms, warm = _setups(
            lambda s: _one_pass(wl, s, NullTracer(), work, 0, side_dir, False)[0], work, cores)
        version = spark.version
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, args.workload, run_id) if args.trace else NullTracer()
        sampler = RssSampler(_jvm_pid())
        passes, i = [], 1
        sampler.start()
        t_end = time.perf_counter() + args.seconds
        # a traced run makes one pass more, so its traced pass sits
        # between two untraced ones and the overhead compares like passes
        while time.perf_counter() < t_end or len(passes) < MIN_PASSES + args.trace:
            # a traced run alternates untraced and traced passes
            traced = bool(args.trace) and i % 2 == 0
            if traced:  # only the last traced pass's outputs are kept
                for q in passes:
                    if q.extra["traced"]:
                        shutil.rmtree(q.extra["scratch"], ignore_errors=True)
            sampler.take_peak()
            p, scratch = _one_pass(wl, spark, tracer, work, i, side_dir, traced)
            p.extra.update(scratch=scratch, peak_rss=sampler.take_peak())
            passes.append(p)
            i += 1
        sampler.stop()
        layer_ops, layer_values = [], {}
        if args.trace:
            last = [p for p in passes if p.extra["traced"]][-1]
            _reset(spark)
            tracer.enabled = True
            layer_values, layer_ops = wl.layers(spark, tracer, last)
            tracer.enabled = False
            untraced_wall = _median([p.wall_s for p in passes if not p.extra["traced"]])
            st = tracer.stats(last.extra["span"])
            layer_values.update({
                "session.start_s": (_median(starts), "session"),
                "session.warmup_s": (_median(warms), "session"),
                "spark.task_s": (st["task_s"], "pass"),
                "spark.cpu_util": (st["task_s"] / (st["wall_s"] * cores), "pass"),
                "spark.gc_s": (st["gc_s"], "pass"),
                "spark.spill_bytes": (st["spill_bytes"], "pass"),
                "spark.shuffle_write_bytes": (st["shuffle_write_bytes"], "pass"),
                "trace.overhead_s": (last.wall_s - untraced_wall, "pass"),
            })
            shutil.rmtree(last.extra["scratch"], ignore_errors=True)
    finally:
        if spark is not None:
            _stop_session(spark)

    ops = warm.ops + [op for p in passes for op in p.ops] + layer_ops
    failed = [op for op in ops if not op.ok]
    untraced = [p for p in passes if not p.extra["traced"]]
    expected = sum(op.expected for op in ops)
    recall = sum(op.found for op in ops) / expected if expected else 0.0
    resumes = [t for p in untraced for t in p.extra.get("resume_s", [])]
    end_to_end = {
        "wall_s": (_median([p.wall_s for p in untraced]), "s"),
        "rows_per_s": (_median([wl.input_rows / p.wall_s for p in untraced]), "rows/s"),
        "setup_s": (_median([s + w for s, w in zip(starts, warms)]), "s"),
        "peak_rss_mb": (_median([p.extra["peak_rss"] for p in untraced]) / 2**20, "MB"),
        "recall": (recall, "ratio"),
    }

    print(f"perfbench {args.workload} seed={args.seed} cores={cores} spark={version}"
          f" inputs={json.dumps(wl.sizes)} generate_s={gen_s:.2f}"
          f" side_inputs_redirected={redirected}")
    print(f"setups_s={[round(s + w, 3) for s, w in zip(starts, warms)]} (the first launches"
          f" the JVM and makes the untimed first pass) first_pass_s={warm.wall_s:.3f}")
    for p in passes:
        print(f"pass wall_s={p.wall_s:.3f} peak_rss_mb={p.extra['peak_rss'] / 2**20:.0f}"
              f" traced={p.extra['traced']}",
              json.dumps({k: round(v, 3) for k, v in p.extra.get("call_s", {}).items()}))
    for op in failed:
        print(f"FAILED {op.name}: {op.detail}")
    report = dict(end_to_end)
    report["resume_s"] = (_median(resumes), "s") if resumes else ("n/a", "s")
    report["failed_ops_frac"] = (len(failed) / len(ops), "ratio")
    report["dup_recall" if args.workload == "near_dup_corpus" else "check_recall"] = (recall, "ratio")
    del report["recall"]
    for k, (v, u) in report.items():
        print(f"  {k:16s} {v if isinstance(v, str) else f'{v:.6g}'} {u}")

    if args.trace:
        metrics = {k: (float(layer_values.get(k, (0.0, None))[0]), u)
                   for k, u in workloads.LAYER_METRICS.items()}
        for k, (v, u) in metrics.items():
            print(f"  {k:36s} {v:.6g} {u}")
        _write_trace(args, tracer, layer_values, metrics)
    else:
        metrics = end_to_end
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _write_trace(args, tracer, layer_values, metrics) -> None:
    """Spans and per-layer metrics of a traced run, each metric tagged
    with its workload and the span it was read from, written once."""
    path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "spans": tracer.spans,
        "metrics": [{"name": k, "value": v, "unit": u, "workload": args.workload,
                     "span": layer_values.get(k, (0.0, None))[1]}
                    for k, (v, u) in metrics.items()],
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a run stopped with SIGTERM still stops the JVM and removes its
    # scratch files in the finally blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "fagi_gis_spark", "__init__.py")):
        print(f"perfbench: no fagi_gis_spark package in {ROOT}; run from a checkout of the repo",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
