"""Benchmark of the spatial enrichment engine: one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine is imported from that
checkout (``socialmapper_spark/`` next to this directory), by this
process and, through ``PYTHONPATH``, by Spark's Python workers. Everything the
run writes (generated inputs, Spark scratch, checkpoint output, spans)
goes under ``.perfbench/`` in the checkout.

A run is closed-loop: one client, one job in flight, ``local[4]``.

1. Inputs for (workload, seed) are generated once and cached with their
   reference result (gen.py); that time is not counted.
2. Set-up runs three times: SparkSession up, inputs registered, one
   discarded warm-up job. The first also launches the JVM and the
   SparkContext; later ones open a new session on that context.
   ``setup_s`` is their median.
3. ``--trace 0``: jobs run back to back for ``--seconds`` (at least
   three). Each is checked against the reference; a mismatch or an
   exception is a failed job and is never retried.
4. ``--trace 1``: two untraced jobs give the untraced job time, then the
   workload's traced chain (workloads.py) repeats for ``--seconds`` (at
   least once): each step in its own job group and span, followed by
   reads of Spark's status stores. Per-layer metrics are medians over
   the repetitions. Side steps, layers timed around a call of their own
   (the lineage write and verify on ``flagship_hot``, ``knn_join`` on
   ``pip_dense``), first run once untimed so they start warm.

The last line of stdout is the JSON result; a table of the same metrics
by name and unit, with the failed ratio and sample count, comes before it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
CORES = 4
SHUFFLE_PARTITIONS = 8
MAX_PARTITION_BYTES = 1 << 20
DRIVER_MEM = "2g"
SETUPS = 3
MIN_JOBS = 3
MIN_ROUNDS = 1
KERNEL_ROWS = 20_000_000

END_TO_END = [
    ("setup_s", "s"), ("job_s", "s"), ("rows_per_s", "rows/s"), ("cpu_s", "s"),
    ("peak_rss_mb", "MB"), ("shuffle_mb", "MB"),
]
LAYER_TIMES = ["scan.s", "geoparse.s", "cells.s", "polyprep.s", "spatial_join.s",
               "meta_join.s", "rollup.s", "lineage.write_s", "lineage.verify_s", "knn.s"]
PER_LAYER = [(m, "s") for m in LAYER_TIMES] + [
    ("geoparse.located_ratio", "1"), ("polyprep.cover_cells", "count"),
    ("polyprep.max_task_s", "s"), ("spatial_join.candidates", "count"),
    ("spatial_join.hits", "count"), ("spatial_join.hit_ratio", "1"),
    ("rollup.per_url_rows", "count"), ("lineage.input_passes", "1"),
    ("lineage.files_written", "count"), ("lineage.mb_written", "MB"),
    ("knn.candidates", "count"), ("knn.fallback_ratio", "1"),
    ("engine.task_s", "s"), ("engine.cpu_s", "s"), ("engine.gc_s", "s"),
    ("engine.shuffle_read_mb", "MB"), ("engine.spill_mb", "MB"),
    ("engine.input_rows", "count"), ("engine.peak_exec_mem_mb", "MB"),
    ("engine.tasks", "count"), ("engine.skew", "1"),
    ("host.kernel_s", "s"), ("host.steal_pct", "%"),
    ("trace.overhead_s", "s"), ("trace.self_sum_s", "s"),
]
ENGINE = ["task_s", "cpu_s", "gc_s", "shuffle_read_mb", "spill_mb", "input_rows",
          "peak_exec_mem_mb", "tasks", "skew"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="flip a bit of the reference hash; every job must then fail")
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Point the engine imports, Spark scratch and temp files into the
    checkout, before pyspark is imported."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    sys.path[:0] = [str(ROOT), str(HERE)]
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + py_path if py_path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    # spark-submit first runs a launcher JVM; keep its files in the checkout too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"] = str(MAX_PARTITION_BYTES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def start_session():
    from socialmapper_spark.session import get_spark

    tmp = WORK / "tmp"
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp / "spark"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                "-XX:-UseDynamicNumberOfCompilerThreads"  # see probe.ProcTree.cpu_s
            ),
        },
    )


def shutdown(spark, tree) -> None:
    """Stop Spark, then end the JVM and wait until it and every process
    below it (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = tree.pids() if tree else []
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def run_checked(spark, wl, fr, scratch, expected) -> bool:
    try:
        got = tuple(int(v) for v in wl.job(spark, fr, scratch))
    except Exception:  # an engine failure is a failed job, reported, not retried
        traceback.print_exc()
        return False
    if got != expected:
        print(f"{wl.name}: result {got} != reference {expected}", file=sys.stderr)
        return False
    return True


def setup(wl, data_dir, ref, scratch) -> tuple[object, dict, list[float]]:
    """Set up ``SETUPS`` times; the first launches the JVM and the
    SparkContext, later ones open a new session on that context."""
    times = []
    spark = fr = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session() if spark is None else spark.newSession()
        fr = wl.frames(spark, data_dir)
        fr["ref"] = ref
        try:
            wl.job(spark, fr, scratch)
        except Exception:  # the timed jobs will count it
            traceback.print_exc()
        spark.catalog.clearCache()
        times.append(time.perf_counter() - t0)
    return spark, fr, times


def timed_jobs(spark, wl, fr, scratch, expected, tree, seconds, min_jobs):
    """Closed loop for ``seconds``: (wall s, cpu s, shuffle MB, ok) per job."""
    from probe import group_stages

    sc = spark.sparkContext
    out = []
    deadline = time.perf_counter() + seconds
    while len(out) < min_jobs or time.perf_counter() < deadline:
        group = f"job{len(out)}"
        sc.setJobGroup(group, group)
        c0 = tree.cpu_s()
        t0 = time.perf_counter()
        ok = run_checked(spark, wl, fr, scratch, expected)
        t1 = time.perf_counter()
        c1 = tree.cpu_s()
        out.append((t1 - t0, c1 - c0, group_stages(spark, group)["shuffle_write_mb"], ok))
    return out


def kernel_s(spark) -> float:
    """The host calibration fold of bench.py: md5 + xxhash64 over 20M ids."""
    from pyspark.sql import functions as F

    df = spark.range(0, KERNEL_ROWS, 1, numPartitions=CORES * 4)
    df.count()
    t0 = time.perf_counter()
    df.select(F.avg(F.xxhash64(F.md5(F.col("id").cast("string"))))).collect()
    return time.perf_counter() - t0


def traced(spark, wl, fr, scratch, expected, tree, seconds):
    """Per-layer metrics of one workload, plus the jobs it checked."""
    import probe

    sc = spark.sparkContext
    steal0 = probe.cpu_times()
    untraced = timed_jobs(spark, wl, fr, scratch, expected, tree, seconds / 3, 2)
    kernel = kernel_s(spark)
    # one discarded call of each side step, so that its first timed round
    # is as warm as the job's steps are after set-up
    for step in wl.steps(spark, fr, scratch):
        if step.side:
            try:
                step.run()
            except Exception:  # the timed rounds will count it
                traceback.print_exc()
            spark.catalog.clearCache()
    tracer = probe.Tracer()
    rounds, checks = [], []
    deadline = time.perf_counter() + seconds
    while len(rounds) < MIN_ROUNDS or time.perf_counter() < deadline:
        k = len(rounds)
        times, counts, engine = {}, {}, []
        steps = wl.steps(spark, fr, scratch)
        with tracer.span(f"job{k}") as root:
            for step in steps:
                group = f"trace{k}:{step.metric}"
                sc.setJobGroup(group, group)
                gp = probe.GroupProbe(spark, group)
                with tracer.span(step.metric, root) as sid:
                    try:
                        result = step.run()
                    except Exception:
                        traceback.print_exc()
                        result = None
                times[step.metric] = tracer.duration(sid)
                if step.in_job:
                    engine.append(gp.stages())
                if step.expect is not None:
                    checks.append(result is not None
                                  and tuple(int(v) for v in result) == step.expect)
                if step.post and result is not None:
                    counts.update(step.post(result, gp))
                spark.catalog.clearCache()
        selfs = {s.metric: times[s.metric] - sum(times[x] for x in s.minus) for s in steps}
        job = sum(times[s.metric] for s in steps if s.in_job)
        rounds.append((selfs, counts, engine, job))
    steal1 = probe.cpu_times()

    def med(values):
        return statistics.median(values) if values else 0.0

    metrics = {m: 0.0 for m, _ in PER_LAYER}
    for m in LAYER_TIMES:
        if m in rounds[0][0]:
            metrics[m] = med([r[0][m] for r in rounds])
    for m in rounds[0][1]:
        metrics[m] = med([r[1][m] for r in rounds if m in r[1]])
    for key in ENGINE:
        per_round = []
        for _, _, engine, _ in rounds:
            vals = [e[key] for e in engine]
            per_round.append(max(vals) if key in ("skew", "peak_exec_mem_mb") else sum(vals))
        metrics[f"engine.{key}"] = med(per_round)
    traced_job = med([r[3] for r in rounds])
    untraced_job = med([t for t, *_ in untraced])
    metrics["host.kernel_s"] = kernel
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    metrics["host.steal_pct"] = 100.0 * d_steal / d_total if d_total else 0.0
    metrics["trace.overhead_s"] = traced_job - untraced_job
    chain = [s.metric for s in steps if not s.side]
    metrics["trace.self_sum_s"] = sum(metrics[m] for m in chain)
    # the self-times telescope to the traced job time; a gap means a step
    # is missing from the chain or counted twice
    gap = abs(metrics["trace.self_sum_s"] - traced_job)
    if gap > abs(metrics["trace.overhead_s"]) + 0.05 * traced_job:
        print(f"{wl.name}: layer self-times sum to {metrics['trace.self_sum_s']:.3f}s, "
              f"traced job {traced_job:.3f}s", file=sys.stderr)
    return metrics, [ok for *_, ok in untraced] + checks, tracer


def report(metrics: dict, units: dict, ok: list[bool], extra: str) -> None:
    failed = sum(1 for x in ok if not x)
    print(f"{'metric':<28}{'value':>16}  unit")
    for name, value in metrics.items():
        print(f"{name:<28}{value:>16.6g}  {units[name]}")
    print(f"{'failed_ratio':<28}{failed / len(ok):>16.6g}  1   ({failed}/{len(ok)} jobs; {extra})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ok),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "socialmapper_spark").is_dir():
        print(f"no engine package next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    import gen
    import probe
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    data_dir, ref = gen.ensure(str(WORK / "data"), wl.dataset, args.seed, args.scale)
    side = None
    if args.trace and wl.side_dataset:
        side = gen.ensure(str(WORK / "data"), wl.side_dataset, args.seed, args.scale)
    if args.corrupt_reference:
        for key, value in ref.items():
            if key != "rows" and isinstance(value, list):
                ref[key] = [value[0], value[1] ^ 1]
    expected = wl.expected(ref)
    scratch = str(WORK / "tmp" / f"{wl.name}-s{args.seed}")

    spark, fr, setups = setup(wl, data_dir, ref, scratch)
    tree = None
    try:
        tree = probe.ProcTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        if args.trace:
            if side:
                fr["side"] = wl.side_frames(spark, *side)
            metrics, ok, tracer = traced(spark, wl, fr, scratch, expected, tree, args.seconds)
            out = WORK / "out"
            out.mkdir(parents=True, exist_ok=True)
            tracer.write(str(out / f"{wl.name}-s{args.seed}-spans.json"))
            units = dict(PER_LAYER)
            report(metrics, units, ok, f"{len(tracer.spans)} spans")
        else:
            with probe.RssSampler(tree) as rss:
                jobs = timed_jobs(spark, wl, fr, scratch, expected, tree, args.seconds, MIN_JOBS)
            job_s = statistics.median(j[0] for j in jobs)
            metrics = {
                "setup_s": statistics.median(setups),
                "job_s": job_s,
                "rows_per_s": ref["rows"][wl.input_table] / job_s,
                "cpu_s": statistics.median(j[1] for j in jobs),
                "peak_rss_mb": rss.peak / 1e6,
                "shuffle_mb": statistics.median(j[2] for j in jobs),
            }
            report(metrics, dict(END_TO_END), [j[3] for j in jobs],
                   f"median of {len(jobs)} jobs, {SETUPS} set-ups")
    finally:
        shutdown(spark, tree)
    return 0


if __name__ == "__main__":
    sys.exit(main())
