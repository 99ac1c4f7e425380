#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 16 \
        --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer metrics (the traced
run also prints the layer table above it).  Human-readable lines before
it give the host shape, the noise controls, every pass and every metric
under its workload-specific name.  Exit code 0 only if every pass and
check succeeded.

The bounded cost figures are CPU time of the process tree (this driver,
the JVM without its JIT compiler threads, the Python workers), not wall
time, normalized by the CPU time of a fixed pure-Python loop timed beside
the program (checks.HostSpeed).  On a shared host other tenants stretch
wall time by up to 2x and raw CPU time by up to 1.5x; the loop slows with
the program's work, so the ratio stays put.  Wall throughput and raw CPU
time are printed beside them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# driver heap that fits a 15 GB host with room for the Python workers;
# the engine's own default (32g) exceeds physical memory there
DRIVER_MEM = "1g"
# a run stops starting passes after this many seconds of them, whatever
# --seconds says
MAX_TIMED_S = 75.0
# the host-speed loop (checks.HostSpeed): its size, how often it runs, and
# its CPU time on a quiet 4-CPU host of the kind the benchmark was sized
# on.  The reference only sets the scale of the normalized figures: they
# read as CPU time on that quiet host
LOOP_N = 20000
LOOP_PERIOD_S = 0.05
REF_LOOP_S = 1.5e-3

END_TO_END = [("norm_cpu_ms_per_item", "ms"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def controls(work: str) -> dict:
    """Pin the engine's environment knobs and return them for the record."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT,
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def session(work: str, trace: bool):
    from wikiprep_spark.plans.session import build_session

    # keep the engine's own log level; start the heap at its maximum, as
    # Spark sizes executor JVMs, and touch it up front, so how much of the
    # heap a run happens to touch does not drive peak RSS; keep every JIT
    # compiler thread alive, so its CPU can be told apart from the rest of
    # the JVM's (tree_cpu_s); confine JVM temp files to the run
    conf = {"spark.driver.extraJavaOptions":
            "-Dlog4j2.level=error -Xms" + DRIVER_MEM
            + " -XX:+AlwaysPreTouch -XX:-UsePerfData"
            + " -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir="
            + os.environ["TMPDIR"]}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_processes(spark):
    """Stop the session, then the gateway JVM it launched, and wait until
    every process this one started has exited (the PySpark daemons are
    re-parented once the JVM is gone, so they are listed beforehand)."""
    import signal
    import subprocess

    from pyspark import SparkContext
    import checks

    started = checks.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while any(map(checks.alive, started)) and time.time() < deadline:
        time.sleep(0.2)
    for pid in filter(checks.alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:  # exited since the check
            pass


def cpu_total(speed) -> float:
    """Process-tree CPU seconds, less the host-speed loop's own."""
    import checks

    return sum(checks.tree_cpu_s().values()) - speed.own_cpu_s()


def heap_peak_mb(spark) -> float:
    """Sum of the peak used sizes of the driver JVM's heap pools (young,
    survivor, old): heap growth that the pre-touched heap hides from
    peak_rss_mb."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed()
               for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().name() == "HEAP") / 2.0 ** 20


def fold_event_log(work: str):
    import eventlog

    log_dir = os.path.join(work, "eventlog")
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, names[0])) as fh:
        return eventlog.fold(fh)


def layer_table(values: dict, measured: set, units: dict) -> str:
    lines = ["%-44s %16s  %s" % ("layer metric", "value", "unit")]
    for name, unit in units.items():
        if name in measured:
            lines.append("%-44s %16.6g  %s" % (name, values[name], unit))
    skipped = [n for n in units if n not in measured]
    if skipped:
        lines.append("not exercised by this workload (reported as 0): %d "
                     "metrics" % len(skipped))
    return "\n".join(lines)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import wikiprep_spark  # noqa: F401
        from workloads import Ctx, PER_LAYER, WORKLOADS
        from tracing import Tracer
        import checks
    except ImportError as exc:
        print("perfbench: cannot import the program: %s" % exc,
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload %r (choose from %s)"
              % (args.workload, ", ".join(WORKLOADS)), file=sys.stderr)
        return 2

    trace = bool(args.trace)
    run_id = "%s-%d-%d" % (args.workload, args.seed, os.getpid())
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, run_id)
    os.makedirs(work)
    env = controls(work)
    host = {"nproc": os.cpu_count(), "affinity_cpus": int(
        env["SPARK_GRAFT_CPUS"]), "seed": args.seed, **{
        k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}}
    tracer = Tracer(run_id, trace)
    spark = None
    speed = checks.HostSpeed(LOOP_N, LOOP_PERIOD_S)
    speed.start()
    try:
        c0 = cpu_total(speed)
        t0 = time.perf_counter()
        spark = session(work, trace)
        t1 = time.perf_counter()
        session_s = t1 - t0
        session_cpu = cpu_total(speed) - c0
        setup_intervals = [(t0, t1)]
        sc = spark.sparkContext
        host["task_slots"] = sc.defaultParallelism // int(
            sc.getConf().get("spark.task.cpus", "1"))
        host["master"] = sc.master
        print("host " + json.dumps(host), flush=True)
        print("controls " + json.dumps({
            **env, "jvm_heap": "-Xms=-Xmx=%s, pre-touched" % DRIVER_MEM,
            "warmup_passes": 1,
            "timed_passes": "fixed by --seconds",
            "work_dir": "fresh per pass", "retries": 0,
            "min_of_runs": False, "settle_waits": False}), flush=True)

        ctx = Ctx(spark, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        sc.setJobGroup("inputs", "inputs")
        t0 = time.perf_counter()
        wl.make_inputs()  # the benchmark's own cost: not in setup_s
        inputs_s = time.perf_counter() - t0
        c0 = cpu_total(speed)
        t0 = time.perf_counter()
        with tracer.span("setup"):
            wl.setup()
        t1 = time.perf_counter()
        setup_intervals.append((t0, t1))
        setup_wall = session_s + t1 - t0
        setup_cpu = session_cpu + cpu_total(speed) - c0
        setup_s = setup_cpu * REF_LOOP_S / speed.loop_s(setup_intervals)
        print("setup_s %.4f s normalized CPU (%.4f CPU s, session %.4f; "
              "wall %.4f s)" % (setup_s, setup_cpu, session_cpu, setup_wall),
              flush=True)

        # the pass count follows from --seconds and the workload's nominal
        # pass wall, never from how fast this host happens to be: the JVM
        # still compiles during the first timed passes, so a run with fewer
        # passes would report a higher CPU cost per item
        n_passes = max(2, round(args.seconds / wl.pass_s))
        first_timed = len(ctx.calls)
        attempted = failed = 0
        timed_s = 0.0
        # per good pass: items/s, normalized and raw CPU ms per item, the
        # host-speed loop's CPU ms, and raw CPU ms per item of each kind
        rates, norm_ms, raw_ms, loop_ms = [], [], [], []
        kinds: dict = {}
        while attempted < n_passes and timed_s < MAX_TIMED_S:
            attempted += 1
            tag = "p%d" % attempted
            k0 = checks.tree_cpu_s()
            s0 = speed.own_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("pass", tag=tag):
                    items = wl.run_pass(tag)
                t1 = time.perf_counter()
                wall = t1 - t0
                k1 = checks.tree_cpu_s()
                k1["driver"] -= speed.own_cpu_s() - s0
                errors = wl.check_pass()
            except Exception:  # a pass that raises counts as failed
                wall = time.perf_counter() - t0
                errors = [traceback.format_exc()]
            timed_s += wall
            if errors:
                failed += 1
                print("pass %s FAILED: %s" % (tag, errors), flush=True)
                continue
            per = {k: 1000.0 * (k1[k] - k0[k]) / items for k in k1}
            for k, v in per.items():
                kinds.setdefault(k, []).append(v)
            rates.append(items / wall)
            raw_ms.append(sum(v for k, v in per.items() if k != "jit"))
            loop_s = speed.loop_s([(t0, t1)])
            loop_ms.append(1000.0 * loop_s)
            norm_ms.append(raw_ms[-1] * REF_LOOP_S / loop_s)
            print("pass %s %.4f s %d %s, %.4f normalized CPU ms/%s (%.4f CPU "
                  "ms: %s; loop %.4f ms)"
                  % (tag, wall, items, wl.item, norm_ms[-1], wl.item[:-1],
                     raw_ms[-1], ", ".join("%s %.4f" % kv
                                           for kv in per.items()),
                     loop_ms[-1]), flush=True)
        speed.stop()
        sc.setJobGroup("verify", "verify")
        t0 = time.perf_counter()
        errors = wl.final_check()
        check_s = time.perf_counter() - t0
        if errors:
            failed += 1
            print("final check FAILED: %s" % errors, flush=True)
        timed_calls = ctx.calls[first_timed:]
        rss = checks.peak_rss_mb()
        heap = heap_peak_mb(spark)
        items_per_sec = statistics.median(rates) if rates else 0.0
        norm_cpu_ms = statistics.median(norm_ms) if norm_ms else 0.0

        probes = wl.probes() if trace else {}
        if wl.probe_errors:
            failed += 1
            print("traced probe FAILED: %s" % wl.probe_errors, flush=True)
        slots = host["task_slots"]
        stop_processes(spark)
        spark = None

        print("norm_cpu_ms_per_%s %.4f ms (median pass of %d)"
              % (wl.item[:-1], norm_cpu_ms, attempted))
        print("setup_s %.4f s (normalized CPU)" % setup_s)
        print("peak_rss_mb %.2f MB" % rss)
        print("%s_per_sec %.4f %s/s wall (median pass), %.4f s timed; "
              "setup wall %.4f s; JVM heap peak %.2f MB (reported, not "
              "bounded)" % (wl.item, items_per_sec, wl.item, timed_s,
                            setup_wall, heap))
        print("failed_share %.4f (%d of %d passes)"
              % (failed / attempted, failed, attempted))
        e2e = {"norm_cpu_ms_per_item": norm_cpu_ms, "setup_s": setup_s,
               "peak_rss_mb": rss}
        if trace:
            jobs, stages = fold_event_log(work)
            measured = dict(probes)
            measured.update(wl.layers(jobs, stages, slots, timed_calls))
            measured.update({"traced." + k: v for k, v in e2e.items()})
            measured.update({"wall.items_per_sec": items_per_sec,
                             "wall.setup_s": setup_wall,
                             "jvm.heap_peak_mb": heap})
            measured.update({"cpu.%s_ms_per_item" % k: statistics.median(v)
                             for k, v in kinds.items()})
            if raw_ms:
                measured.update({"cpu.raw_ms_per_item":
                                 statistics.median(raw_ms),
                                 "host.loop_ms": statistics.median(loop_ms)})
            measured["cpu.raw_setup_s"] = setup_cpu
            units = dict(PER_LAYER)
            values = {name: float(measured.get(name, 0.0)) for name in units}
            print(layer_table(values, set(measured), units))
            tracer.write(os.path.join(base, "spans-%s.jsonl" % run_id))
            metrics = {n: {"value": values[n], "unit": u}
                       for n, u in units.items()}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        print("wall %.1f s (inputs %.1f, set-up %.1f, timed %.1f, final "
              "check %.1f)" % (time.perf_counter() - t_start, inputs_s,
                               setup_wall, timed_s, check_s))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        speed.stop()
        stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
