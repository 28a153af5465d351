"""Benchmark runner: one closed-loop client per workload.

    python3 perfbench/run.py --workload table_ops --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py            # every workload in turn, default seed

Run from the root of a checkout of the repository. For each workload the
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines above it
print every metric by name and unit, the run-quality record, and the
output checks. Everything a run writes goes under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (span dumps of traced runs) in
the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402
from harness import (  # noqa: E402
    RunQuality,
    Tracer,
    bytes_written,
    file_sizes,
    highest_supported_percentile,
    log_activity,
    peak_rss_mb,
    percentile,
    samples_beyond,
    self_times,
    tree_cpu_s,
    union_length,
)

# A run measures round(--seconds / CYCLE_S) whole cycles of its
# workload's operation mix, at least MIN_CYCLES: the work a run measures
# is fixed by --seconds, not by how fast the host is at the time, so runs
# of one length compare operation for operation. CYCLE_S is about one
# cycle's wall time on a 4-CPU host. The tail percentiles are the highest
# with at least ten of the run's operations beyond them.
CYCLE_S = 8.0
MIN_CYCLES = 2
WORKLOADS = sorted(workloads.CLASSES)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and set the Spark and JVM settings every run uses."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # One Spark task thread (local[1]). With local[4] on a 4-CPU host the
    # task threads, the JVM's compiler and collector threads and the
    # Python driver outnumber the CPUs the host schedules, and run-to-run
    # spread was 2.7 times as wide in interleaved runs (README.md).
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # No hsperfdata file in the system temp directory. C1 only: a run
        # lasts under a minute, and C2 compiling through all of it kept
        # every CPU of a 4-CPU host busy, so timings followed the
        # compiler's schedule. The serial collector: parallel GC threads
        # spin while the hypervisor deschedules their peers, which put
        # the host's CPU steal into the CPU time measured (README.md).
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -XX:+UseSerialGC'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a stuck JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)


def _jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _jvm_heap_peak_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    ) / 2**20


class Op:
    """One timed operation: its kind, wall seconds, rows processed, the
    Spark job groups of its spans, its epoch interval, and the CPU
    seconds it took in all the program's processes and in the driver's
    Python process alone."""

    __slots__ = ("kind", "lat", "rows", "groups", "t0", "t1", "cpu", "py_cpu")

    def __init__(self, kind, lat, rows, groups, t0, t1, cpu, py_cpu):
        self.kind, self.lat, self.rows = kind, lat, rows
        self.groups, self.t0, self.t1 = groups, t0, t1
        self.cpu, self.py_cpu = cpu, py_cpu


def run(args) -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    _prepare_env(work)
    quality = RunQuality()
    spark = None
    try:
        t = time.perf_counter()
        from mack_spark.session import get_session

        spark = get_session(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, enabled=False)  # set-up is not traced
        wl = workloads.load(args.workload)(spark, work, args.seed, tracer)
        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]

        wl.setup()
        setup_s = time.perf_counter() - T_START
        before = file_sizes(wl.table_dirs())
        gc0 = _jvm_gc_s(spark)

        ops = []
        errors = []
        attempted = failed = 0
        n_steps = wl.cycle * max(MIN_CYCLES, round(args.seconds / CYCLE_S))
        t_run0 = time.perf_counter()
        tracer.enabled = bool(args.trace)
        for step in range(n_steps):
            tracer.op_id = step
            wl.prepare(step)
            attempted += 1
            c0, pc0 = tree_cpu_s(os.getpid()), time.process_time()
            w0, t0 = time.time(), time.perf_counter()
            try:
                with tracer.span(f"op.{wl.kind_of(step)}"):
                    res = wl.step(step)
            except Exception as e:  # noqa: BLE001 — count it, keep the loop going
                failed += 1
                errors.append(f"step {step}: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            else:
                t1, w1 = time.perf_counter(), time.time()
                pc1, c1 = time.process_time(), tree_cpu_s(os.getpid())
                ops.append(Op(wl.kind_of(step), t1 - t0, res.rows,
                              [s.group for s in tracer.op_spans(step)], w0, w1,
                              c1 - c0, pc1 - pc0))
        tracer.enabled = False
        run_s = time.perf_counter() - t_run0
        gc_s = _jvm_gc_s(spark) - gc0
        after = file_sizes(wl.table_dirs())

        try:
            checks = wl.check()
        except Exception as e:  # noqa: BLE001 — a check that cannot run fails
            traceback.print_exc(file=sys.stderr)
            checks = [("outputs", False, f"{type(e).__name__}: {e}")]
        check_failures = [c for c in checks if not c[1]]
        amp_before = before if wl.amp_window == "timed" else {}
        written = bytes_written(amp_before, after)
        user_bytes = wl.user_bytes if wl.amp_window == "timed" else wl.setup_user_bytes
        live = wl.live_data_bytes()
        lats = [o.lat for o in ops]
        cpus = [o.cpu for o in ops]
        n_ok = len(lats)
        tail_pct = highest_supported_percentile(n_steps)
        e2e = {
            "setup_s": (setup_s, "s"),
            "cpu_ms_per_op": (sum(cpus) * 1000 / max(n_ok, 1), "ms"),
            "op_cpu_p50_ms": (percentile(cpus, 50) * 1000 if cpus else 0.0, "ms"),
            "op_cpu_tail_ms": (percentile(cpus, tail_pct) * 1000 if cpus else 0.0, "ms"),
            "op_p50_ms": (percentile(lats, 50) * 1000 if lats else 0.0, "ms"),
            "op_tail_ms": (percentile(lats, tail_pct) * 1000 if lats else 0.0, "ms"),
            "ops_per_s": (n_ok / run_s, "1/s"),
            "rows_per_s": (sum(o.rows for o in ops) / run_s, "rows/s"),
            "op_error_rate": ((failed + len(check_failures)) / attempted, "ratio"),
            "write_amp": (written / max(user_bytes, 1), "ratio"),
            "space_amp": (sum(after.values()) / max(live, 1), "ratio"),
            "driver_peak_rss_mb": (peak_rss_mb(pids), "MB"),
        }
        qual = quality.finish()
        print(f"workload {args.workload} seed {args.seed} seconds {args.seconds}"
              f" trace {args.trace}: {n_ok} ops ({attempted} attempted, {failed}"
              f" failed) in {run_s:.2f} s; the tails are p{tail_pct} over {n_ok}"
              f" samples ({samples_beyond(n_ok, tail_pct) if n_ok else 0} beyond)")
        print("run quality: " + json.dumps(qual))
        for c in range(0, n_ok, wl.cycle):
            cyc = ops[c:c + wl.cycle]
            print(f"cycle {c // wl.cycle}: {len(cyc)} ops, {sum(o.lat for o in cyc):.3f} s"
                  f" wall, {sum(o.cpu for o in cyc):.3f} s CPU")
        for name, ok, detail in checks:
            print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")
        for e in errors[:5]:
            print("error " + e)
        for name, (v, unit) in e2e.items():
            print(f"  {name} = {v:.6g} {unit}")

        bench = _bench_json()
        if args.trace:
            layer = _per_layer(spark, tracer, wl, ops, session_s, gc_s, before, after)
            layer["trace.ops_per_s"] = e2e["ops_per_s"]
            layer["trace.cpu_ms_per_op"] = e2e["cpu_ms_per_op"]
            layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
            layer["driver_peak_rss_mb"] = e2e["driver_peak_rss_mb"]
            for name in sorted(layer):
                v, unit = layer[name]
                print(f"  layer {name} = {v:.6g} {unit}")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "per_layer": {k: v for k, (v, _u) in layer.items()},
                 "run_quality": qual},
            )
            # a layer this workload does not reach reads 0
            metrics = {m["name"]: {"value": layer.get(m["name"], (0.0,))[0],
                                   "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        correct = not failed and not check_failures and n_ok > 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed + len(check_failures),
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def _per_layer(spark, tracer, wl, ops, session_s, gc_s, before, after) -> dict:
    """Per-layer metrics of a traced run."""
    out = {"session.start_s": (session_s, "s"), "jvm.gc_s": (gc_s, "s"),
           "jvm.heap_used_peak_mb": (_jvm_heap_peak_mb(spark), "MB")}

    # Spark jobs, stages and time outside Spark, per operation
    per = []
    for o in ops:
        jobs = tracer.jobs_of(o.groups)
        stages = tracer.stages_of(jobs)
        covered = union_length(((s.submitted, s.completed) for s in stages), o.t0, o.t1)
        per.append({
            "jobs": len(jobs), "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "failed": sum(s.failed_tasks for s in stages),
            "run_s": sum(s.run_s for s in stages),
            "cpu_s": sum(s.cpu_s for s in stages),
            "shuffle": sum(s.shuffle_write for s in stages),
            "input": sum(s.input_bytes for s in stages),
            "outside_ms": (o.t1 - o.t0 - covered) * 1000.0,
            "kind": o.kind,
        })
    n = max(len(per), 1)

    def mean_of(key):
        return sum(p[key] for p in per) / n

    out.update({
        "spark.jobs_per_op": (mean_of("jobs"), "count"),
        "spark.stages_per_op": (mean_of("stages"), "count"),
        "spark.tasks_per_op": (mean_of("tasks"), "count"),
        "spark.failed_tasks": (float(sum(p["failed"] for p in per)), "count"),
        "spark.executor_run_s": (mean_of("run_s"), "s"),
        "spark.executor_cpu_s": (mean_of("cpu_s"), "s"),
        "spark.shuffle_write_bytes": (mean_of("shuffle"), "B"),
        "driver.outside_spark_ms": (
            statistics.median(p["outside_ms"] for p in per) if per else 0.0, "ms"),
        "cpu.driver_python_ms_per_op": (
            sum(o.py_cpu for o in ops) * 1000.0 / n, "ms"),
        "cpu.jvm_and_workers_ms_per_op": (
            sum(o.cpu - o.py_cpu for o in ops) * 1000.0 / n, "ms"),
    })

    # latency of each call, and self time per layer per operation
    spans = [s for s in tracer.spans if s.op_id is not None]
    selfs = self_times(spans)

    def p50_ms(pred):
        ds = [s.dur for s in spans if pred(s)]
        return (statistics.median(ds) * 1000.0, "ms") if ds else None

    for method in ("append", "merge", "delete_where", "update_where", "optimize", "to_df"):
        name = f"delta_log.{method}"
        v = p50_ms(lambda s: s.name == name)
        if v:
            out[f"{name}.p50_ms"] = v
            out[f"{name}.calls"] = (float(sum(s.name == name for s in spans)), "count")
    for key, pred in {
        "delta_log.checkpoint_commit.p50_ms": lambda s: s.attrs.get("checkpoint"),
        "core.build_ms": lambda s: s.name.startswith("core."),
        "foreach_batch_scd2.p50_ms": lambda s: s.name == "foreach_batch_scd2",
    }.items():
        v = p50_ms(pred)
        if v:
            out[key] = v
    layers = {}
    for s in spans:
        layer = s.name.split(".")[0]
        layers[layer] = layers.get(layer, 0.0) + selfs[s.sid]
    for layer, v in layers.items():
        out[f"self_ms_per_op.{layer}"] = (v * 1000.0 / max(len(ops), 1), "ms")

    # the log directories, read from outside
    act = log_activity(before, after)
    c = max(act["commits"], 1)
    out.update({
        "delta_log.commits": (float(act["commits"]), "count"),
        "delta_log.checkpoints": (float(act["checkpoints"]), "count"),
        "delta_log.log_bytes_per_commit": (act["log_bytes"] / c, "B"),
        "delta_log.files_added_per_commit": (act["adds"] / c, "count"),
        "delta_log.files_removed_per_commit": (act["removes"] / c, "count"),
    })
    input_by_kind = {}
    for p in per:
        input_by_kind[p["kind"]] = input_by_kind.get(p["kind"], 0) + p["input"]
    out.update(wl.layer_metrics(input_by_kind))
    return out


def run_all(args) -> int:
    """Every workload in turn, each in its own process (one Spark
    session per process); the exit code is the first nonzero one."""
    rc = 0
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)])
        rc = rc or r.returncode
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS,
                    help="one workload; all of them in turn when omitted")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import mack_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload is None:
        return run_all(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
