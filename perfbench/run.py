"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 3 --seconds 10 --trace 0

Run it from the repository root. The workload's inputs are generated from
``--seed``; after set-up (session start, input materialization and an
untimed, checked warm-up of the workload's own shape) it repeats the
workload's operation until ``--seconds`` have passed, checks every
result, and prints, as the last line of standard output, the metrics
that ``BENCHMARK.json`` lists: its ``end_to_end`` metrics with
``--trace 0`` and its ``per_layer`` metrics with ``--trace 1``. A traced
run also prints one JSON line per span before the result. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("image_profile", "crawl")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ops:
    """Counts attempted and failed operations; an operation fails when it
    raises or its output does not match the reference. An operation that
    finished with a wrong output still returns it, so its timing counts."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, check):
        self.attempted += 1
        try:
            out = fn()
        except Exception:  # the benchmark reports a failed operation and goes on
            _log(f"{what} raised:\n{traceback.format_exc()}")
            self.failed += 1
            return None
        problem = check(out)
        if problem:
            _log(f"{what} failed its check: {problem}")
            self.failed += 1
        return out


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this process."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + self_kb) / 1024.0


def stop_jvm() -> None:
    """Stop the active context, then the driver JVM, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _until(seconds: float, at_least: int, op) -> None:
    t = time.perf_counter()
    n = 0
    while n < at_least or time.perf_counter() - t < seconds:
        op()
        n += 1


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _set_up(work: str, trace: int, make_inputs, warm_up) -> tuple:
    """Start the session (with the event log on when tracing), materialize
    the inputs, run the warm-up; all of it is set-up time."""
    from perfbench.workloads import start_session

    t0 = time.perf_counter()
    evdir = None
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
    spark = start_session(work, evdir)
    _log(f"session started at {time.perf_counter() - t0:.1f} s")
    inputs = make_inputs(spark)
    _log(f"inputs ready at {time.perf_counter() - t0:.1f} s")
    warm_up(spark, inputs)
    setup_s = time.perf_counter() - t0
    _log(f"set-up done at {setup_s:.1f} s")
    return spark, inputs, setup_s


def _traced(spark, work: str, ops: Ops, body) -> tuple:
    """Run ``body(tracer)`` with spans open, then stop the session, whose
    event log has been on since it started. Prints one line per span;
    returns (body's result, parsed event log, span records). A job
    submitted without a span's group while the body ran fails an
    operation."""
    from perfbench import trace as tr

    tracer = tr.Tracer(spark.sparkContext)
    start_ms = tr.now_ms()
    try:
        out = body(tracer)
    finally:
        tracer.restore()
    end_ms = tr.now_ms()
    spark.stop()  # flushes the event log
    evdir = os.path.join(work, "eventlog")
    log = tr.parse_event_log(os.path.join(evdir, os.listdir(evdir)[0]))
    untagged = tr.untagged_jobs(log, start_ms, end_ms)
    if untagged:
        _log(f"jobs without a span's job group while tracing: {untagged}")
        ops.failed += 1
    recs = tr.span_metrics(tracer.spans, log,
                           tr.read_driver_log(os.path.join(work, "driver.log")))
    for rec in recs:
        print(json.dumps(rec))
    return out, log, recs


# ----------------------------------------------------------------- crawls


def run_crawl(args, work: str, ops: Ops) -> tuple:
    from perfbench import trace as tr
    from perfbench.digest import cached_digest, crawl_digest, mismatches
    from perfbench.stats import summarize
    from perfbench.workloads import CRAWLS, WEB, CrawlInputs, crawl

    expected = cached_digest(args.seed)

    def check(r):
        bad = mismatches(expected, crawl_digest(r["order"], r["seen"]))
        if r["epochs_run"] != WEB["epochs"]:
            bad.append(f"ran {r['epochs_run']} epochs")
        return bad

    def one(spark, web, name, tracer=None):
        ckpt = os.path.join(work, f"ckpt-{ops.attempted}")
        try:
            return ops.run(f"{name} crawl {ops.attempted}",
                           lambda: crawl(spark, web, name, ckpt, tracer), check)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    def round_(spark, web, tracer=None):
        """Each crawl once, in turn, by name; None unless all returned."""
        out = {name: one(spark, web, name, tracer) for name in CRAWLS}
        return None if None in out.values() else out

    # the warm-up is one round: the first crawl of a session runs about
    # twice as long as a steady one
    spark, web, setup_s = _set_up(
        work, args.trace, lambda spark: CrawlInputs(spark, args.seed, work), round_
    )
    if not args.trace:
        done: list = []
        _until(args.seconds, 1, lambda: done.append(round_(spark, web)))
        done = [p for p in done if p is not None]
        if not done:
            return None, None
        epoch_s = [s for p in done for r in p.values() for s in r["epoch_s"]]
        epochs = summarize(epoch_s)
        _log(f"epoch seconds: {epochs}, each: {[round(s, 2) for s in epoch_s]}")
        return {
            "items_per_s": _median([
                sum(r["urls_scheduled"] for r in p.values())
                / sum(r["wall_s"] for r in p.values())
                for p in done
            ]),
            "epoch_s_p50": epochs["p50"],
            "peak_rss_mb": peak_rss_mb(),
            "setup_s": setup_s,
        }, None

    # one small_batch crawl without spans: the baseline of trace_overhead_pct
    base = one(spark, web, "small_batch")

    def body(tracer):
        tr.install_layer_timers(tracer)
        return round_(spark, web, tracer)

    # a traced crawl that raised still reports what its finished spans
    # logged; the failed operation makes the result incorrect
    traced, log, recs = _traced(spark, work, ops, body)
    layers = crawl_layers(recs, log)
    if traced is not None:
        layers["ckpt_bytes_per_url"] = (
            sum(r["ckpt_bytes"] for r in traced.values())
            / sum(len(r["seen"]) for r in traced.values())
        )
        if base is not None:
            layers["trace_overhead_pct"] = 100.0 * (
                traced["small_batch"]["wall_s"] / base["wall_s"] - 1.0
            )
    return {}, layers


def crawl_layers(recs: list, log: dict) -> dict:
    from perfbench import trace as tr

    crawl_recs = [r for r in recs if not r["span"].endswith("/check")]
    epochs = [r for r in crawl_recs if re.fullmatch(r".+/e\d+", r["span"])]
    commits = [r for r in crawl_recs if r["span"].endswith(":commit")]
    resume = [r for r in crawl_recs if r["span"].endswith("/resume")]
    groups = {tr.GROUP_PREFIX + r["span"] for r in crawl_recs}

    def med(rs, key):
        return _median([r[key] for r in rs])

    def total(key):
        return sum(r.get(key, 0) for r in crawl_recs)

    def per_commit(metric):
        return _median([
            tr.sql_metric(log, {tr.GROUP_PREFIX + r["span"]},
                          "InsertIntoHadoopFsRelationCommand", metric)
            for r in commits
        ])

    probe_node = r"^FlatMapCoGroupsInPandas .*maybe_seen"
    probe_in = tr.sql_metric(log, groups, probe_node, "number of output rows")
    probe_out = tr.sql_metric(
        log, groups, r"^Filter (?!.*NOT maybe_seen).*maybe_seen", "number of output rows"
    )
    out = {f"engine.epoch.{k}": med(epochs, k) for k in (
        "jobs", "stages", "driver_only_s", "task_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    )}
    out.update({
        "engine.commit.s": med(commits, "wall_s"),
        "engine.commit.jobs": med(commits, "jobs"),
        "engine.commit.bytes_written": per_commit("written output"),
        "engine.commit.files_written": per_commit("number of written files"),
        "engine.resume.s": med(resume, "wall_s"),
        "engine.resume.jobs": med(resume, "jobs"),
        "canon.codegen_fallbacks": total("codegen_fallbacks"),
        "sequence.single_partition_windows": total("single_partition_windows"),
        "seen.probe_rows_in": probe_in,
        "seen.probe_rows_out": probe_out,
        "seen.prefilter_pass_ratio": probe_out / probe_in if probe_in else 0.0,
        "seen.python_bytes": tr.python_bytes(log, groups, probe_node),
        "tasks.failed": total("failed_tasks"),
        "tasks.retried": total("retried_tasks"),
    })
    for layer in ("politeness", "extract", "seen", "sequence"):
        out[f"{layer}.plan_s"] = total(f"{layer}_plan_s")
    return out


# ----------------------------------------------------------------- images


def run_images(args, work: str, ops: Ops) -> tuple:
    from perfbench import trace as tr
    from perfbench.stats import summarize
    from perfbench.workloads import ImageInputs, image_pass

    def one(images, walls, tracer=None):
        label = f"pass{ops.attempted}"

        def op():
            with tr.maybe_span(tracer, label):
                return image_pass(images)

        r = ops.run(f"image {label}", op,
                    lambda r: "" if r[1] else "profile differs from the generator")
        if r is not None:
            walls.append(r[0])

    # two warm-up passes: the first timed pass after a single one still
    # ran ~20% slower than the rest
    spark, images, setup_s = _set_up(
        work, args.trace, lambda spark: ImageInputs(spark, args.seed, work),
        lambda _spark, images: [one(images, []) for _ in range(2)],
    )
    walls: list = []
    _until(args.seconds, 3, lambda: one(images, walls))
    if not walls:
        return None, None
    passes = summarize(walls)
    _log(f"pass seconds: {passes}, each: {[round(w, 2) for w in walls]}")
    end_to_end = {
        "items_per_s": images.n / passes["p50"],
        "epoch_s_p50": passes["p50"],
        "peak_rss_mb": peak_rss_mb(),
        "setup_s": setup_s,
    }
    if not args.trace:
        return end_to_end, None

    traced: list = []
    _, log, recs = _traced(
        spark, work, ops,
        lambda tracer: _until(args.seconds, 3, lambda: one(images, traced, tracer)),
    )
    layers = {
        "images.task_s": _median([r["task_s"] for r in recs]),
        "images.python_bytes": _median([
            tr.python_bytes(log, {tr.GROUP_PREFIX + r["span"]}, r"^MapInPandas .*dec_w")
            for r in recs
        ]),
        "tasks.failed": sum(r["failed_tasks"] for r in recs),
        "tasks.retried": sum(r["retried_tasks"] for r in recs),
    }
    if traced:
        layers["trace_overhead_pct"] = 100.0 * (_median(traced) / passes["p50"] - 1.0)
    return end_to_end, layers


# ----------------------------------------------------------------- main


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        _log(f"no crawler_spark package under {ROOT}; run from a full checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # executors (pandas UDF workers) import crawler_spark too: they inherit
    # this environment when the driver JVM starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a heap sized to the workloads: with the 8 GB default, how far G1
    # happens to grow the heap swings peak RSS by +-15% between runs
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    ops = Ops()
    try:
        runner = run_images if args.workload == "image_profile" else run_crawl
        end_to_end, layers = runner(args, work, ops)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if end_to_end is None:
        _log("no timed operation returned; nothing to report")
        return 1

    if args.trace:
        names = spec["per_layer"]
        # a per-layer metric of a layer the workload does not run reads 0
        values = {m["name"]: layers.get(m["name"], 0.0) for m in names}
    else:
        names, values = spec["end_to_end"], end_to_end
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names
    }
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
