"""One benchmark run inside its own process group (started by ``run.py``).

Starts Spark sized to the host, stages the seeded inputs, runs a warm-up
pass, then closed-loop passes over the workload's op list for the
requested time: each op is submitted only after the previous op's result
has been forced and checked. Writes the result as JSON to ``--out`` and
stops Spark, the py4j gateway and the JVM before it returns.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import workloads as W
from perfbench.tracing import YIELD_MODULES, ProcessTree, Tracer, vm_hwm_mib

STAGE_REPEATS = 3
# C1 only: at these input sizes a pass is mostly driver-side planning, and
# with C2 its compile threads take about 40% of a pass's CPU for at
# least the first six passes while pass time keeps falling, so a measured
# pass would time JIT progress. With C1 pass time levels off after the
# warm-up pass.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def cpu_probe() -> float:
    """Seconds for a fixed engine-free numpy kernel: a host-noise diagnostic
    recorded before and after the run, never used to gate or re-run. The
    kernel runs twice and the second, page-faulted-in, time is kept."""
    for _ in range(2):
        a = np.arange(2_000_000, dtype=np.float64)
        t0 = time.perf_counter()
        for _ in range(6):
            a = np.sqrt(a * 1.0001 + 1.0)
        took = time.perf_counter() - t0
    return took


def host_steal_s() -> float:
    """Seconds the hypervisor ran other guests while this machine's virtual
    CPUs were ready to run, summed over CPUs, from /proc/stat: a second
    host-noise diagnostic, recorded and never used to gate or re-run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_config(tmp: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": cores,
        # far below host RAM (the inputs are small), and a heap the runs
        # fill keeps the JVM's peak RSS steady from run to run
        "driver_memory": "1g",
        "host_mem_gib": round(mem_kib / (1 << 20), 1),
        "local_dirs": os.path.join(tmp, "spark-local"),
    }


def start_spark(cfg: dict, tmp: str):
    # session.get_spark reads these, and jobs.run calls it again: the same
    # values keep the session's settings fixed across that call
    os.environ["SPARK_GRAFT_CPUS"] = str(cfg["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = cfg["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = cfg["local_dirs"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    os.makedirs(cfg["local_dirs"], exist_ok=True)
    from seraster_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=cfg["master"],
        shuffle_partitions=cfg["shuffle_partitions"],
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData -Xms1g {JIT_OPTS}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, shut down the py4j gateway, then end and reap the JVM.
    ``spark.stop()`` alone leaves the JVM running until interpreter exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def fault_ops(kind: str, spark) -> list:
    """Ops that fail on purpose, for the process-lifecycle test."""
    if kind == "raise":

        def boom():
            raise RuntimeError("injected op failure")

        return [("fault_raise", lambda t, _: t.call("fault", boom))]
    if kind == "hang":

        def sleeper(it):
            import time as _t

            for b in it:
                _t.sleep(600)
                yield b

        def hang(t, _):
            print("perfbench: fault hang op started", file=sys.stderr, flush=True)
            df = spark.range(8).repartition(4).mapInPandas(sleeper, "id long")
            return t.force("fault", lambda: (df.count(), None))

        return [("fault_hang", hang)]
    return []


def run_pass(ops, tracer, procs, pass_id, pass_dir, fingerprints, tally) -> tuple[float, dict, dict]:
    tracer.pass_id = pass_id
    os.makedirs(pass_dir, exist_ok=True)
    op_s = {}
    c0 = procs.cpu()
    t0 = time.perf_counter()
    for name, fn in ops:
        tally["attempted"] += 1
        top = time.perf_counter()
        with tracer.op(name):
            try:
                fp = fn(tracer, pass_dir)
            except Exception as e:  # an op that raises or fails its check counts, the run goes on
                tally["failed"] += 1
                tally["failures"].append(f"pass {pass_id} {name}: {type(e).__name__}: {e}")
                print(f"perfbench: op {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            finally:
                op_s[name] = time.perf_counter() - top
        if fingerprints.setdefault(name, fp) != fp:
            tally["failed"] += 1
            tally["failures"].append(f"pass {pass_id} {name}: output differs from pass 0")
    wall = time.perf_counter() - t0
    c1 = procs.cpu()
    shutil.rmtree(pass_dir, ignore_errors=True)
    return wall, {k: c1[k] - c0[k] for k in c0}, op_s


def layer_metrics(spans: list[dict], passes: list[dict]) -> dict:
    """Per-module and runtime totals per traced pass, then the median."""
    modules = ("rasterize", "permutate", "jobs", "vector", "knn", "pointpat", "joins", "text", "similarity")
    per_pass = []
    for p in passes:
        ls = [s for s in spans if s["pass"] == p["id"] and s["kind"] != "op"]
        ops = [s for s in spans if s["pass"] == p["id"] and s["kind"] == "op"]
        m: dict[str, float] = {}
        for mod in modules:
            ms = [s for s in ls if s["module"] == mod]

            def tot(key, kind=None, ms=ms):
                return float(sum(s[key] for s in ms if kind is None or s["kind"] == kind))

            m[f"{mod}.call_s"] = sum(s["end"] - s["start"] for s in ms if s["kind"] == "call")
            m[f"{mod}.force_s"] = sum(s["end"] - s["start"] for s in ms if s["kind"] == "force")
            for key in ("jobs", "driver_gap_s", "executor_cpu_s", "shuffle_write_bytes",
                        "spill_bytes", "pyworker_cpu_s"):
                m[f"{mod}.{key}"] = tot(key)
            m[f"{mod}.rows_out"] = tot("rows_out", "force")
            if mod in YIELD_MODULES:
                rec = tot("shuffle_write_records")
                m[f"{mod}.yield"] = m[f"{mod}.rows_out"] / rec if rec else 0.0
        for key, name in (("jobs", "spark.jobs"), ("tasks", "spark.tasks"),
                          ("failed_tasks", "spark.failed_tasks"), ("input_bytes", "spark.input_bytes"),
                          ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
                          ("spill_bytes", "spark.spill_bytes"), ("output_bytes", "spark.output_bytes"),
                          ("gc_s", "spark.gc_s")):
            m[name] = float(sum(s[key] for s in ls))
        m["jvm.cpu_s"] = p["cpu"]["jvm"]
        m["pyworker.cpu_s"] = p["cpu"]["pyworker"]
        m["driver.cpu_s"] = p["cpu"]["driver"]
        m["driver.gap_s"] = p["wall"] - sum(s["job_busy_s"] for s in ls)
        m["trace.unattributed_s"] = sum(s["unattributed_s"] for s in ops)
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--fault", choices=("none", "raise", "hang"), default="none")
    args = ap.parse_args(argv)

    probe_before = cpu_probe()
    steal_before = host_steal_s()
    cfg = host_config(args.tmp)
    t0 = time.perf_counter()
    spark = start_spark(cfg, args.tmp)
    try:
        jvm_start_s = time.perf_counter() - t0
        conf = spark.sparkContext.getConf()
        cfg["spark_conf"] = {
            k: conf.get(k) for k in ("spark.master", "spark.driver.memory",
                                     "spark.driver.extraJavaOptions", "spark.sql.adaptive.enabled")
        }
        cfg["spark_conf"]["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        procs = ProcessTree(os.getpid(), jvm_pid)
        wl = W.WORKLOADS[args.workload](spark, args.seed)
        # staging is repeated and its median taken, so set-up time is not
        # one sample; the last copy is the one the passes read
        stage_times = []
        for rep in range(STAGE_REPEATS):
            key = f"{wl.name}-seed{args.seed}-n{W.N_DOCS}-{W.N_TEXT}-{W.N_VEC}-gen{W.D.GEN_VERSION}"
            path = os.path.join(args.tmp, "stage", f"{key}-rep{rep}")
            ts = time.perf_counter()
            wl.stage(path)
            stage_times.append(time.perf_counter() - ts)
            if rep:
                shutil.rmtree(os.path.join(args.tmp, "stage", f"{key}-rep{rep - 1}"))
        wl.prepare()
        ops = wl.ops() + fault_ops(args.fault, spark)
        fingerprints: dict = {}
        tally = {"attempted": 0, "failed": 0, "failures": []}
        untraced = Tracer(spark, procs, enabled=False)
        traced = Tracer(spark, procs, enabled=True)
        pass_root = os.path.join(args.tmp, "passes")

        ts = time.perf_counter()
        # traced runs trace the warm-up too, to show where cold time goes
        run_pass(ops, traced if args.trace else untraced, procs, 0,
                 os.path.join(pass_root, "0"), fingerprints, tally)
        # Spark's ContextCleaner frees the warm-up's shuffles, broadcasts and
        # checkpoint blocks only once a JVM GC finds them unreachable. Without
        # this step a pass that followed another ran its first ops up to 1.3 s
        # slower. Collect both heaps and give the cleaner 1 s before timing;
        # the time counts in setup_s.
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(1.0)
        warmup_s = time.perf_counter() - ts
        setup_s = jvm_start_s + statistics.median(stage_times) + warmup_s

        plain, tpasses = [], []
        tm = time.perf_counter()
        pid = 1
        while True:
            for tracer, sink in ((untraced, plain),) + (((traced, tpasses),) if args.trace else ()):
                w, cpu, op_s = run_pass(ops, tracer, procs, pid, os.path.join(pass_root, str(pid)),
                                        fingerprints, tally)
                sink.append({"id": pid, "wall": w, "cpu": cpu, "op_s": op_s})
                pid += 1
            if time.perf_counter() - tm >= args.seconds:
                break
        measure_s = time.perf_counter() - tm

        jvm_hwm, driver_hwm = vm_hwm_mib(jvm_pid), vm_hwm_mib(os.getpid())
        wall_s = statistics.median(p["wall"] for p in plain)
        end_to_end = {
            "wall_s": wall_s,
            "docs_per_s": wl.n_inputs / wall_s,
            "cpu_s": statistics.median(sum(p["cpu"].values()) for p in plain),
            "peak_rss_mb": jvm_hwm + driver_hwm,
            "setup_s": setup_s,
        }
        per_layer = {}
        if args.trace:
            per_layer = layer_metrics(traced.spans, tpasses)
            per_layer["trace.overhead_s"] = statistics.median(p["wall"] for p in tpasses) - wall_s
        result = {
            "correct": tally["failed"] == 0,
            "attempted": tally["attempted"],
            "failed": tally["failed"],
            "end_to_end": end_to_end,
            "per_layer": per_layer,
            "detail": {
                "workload": wl.name,
                "seed": args.seed,
                "config": cfg,
                "load_model": "closed loop, one driver, one op in flight",
                "passes": len(plain),
                "traced_passes": len(tpasses),
                "measure_s": measure_s,
                "pass_wall_s": [p["wall"] for p in plain],
                "pass_op_s": [p["op_s"] for p in plain],
                "fail_ratio": tally["failed"] / tally["attempted"],
                "failures": tally["failures"],
                "setup": {"jvm_start_s": jvm_start_s, "stage_s": stage_times, "warmup_s": warmup_s},
                "peak_rss_note": "JVM VmHWM + driver VmHWM; Python workers excluded",
                "peak_rss_parts_mb": {"jvm": jvm_hwm, "driver": driver_hwm},
                "n_inputs": wl.n_inputs,
                "diagnostics": wl.diagnostics,
                "host_probe_before_s": probe_before,
                "spans": traced.spans,
            },
        }
    finally:
        stop_spark(spark)
    result["detail"]["host_steal_s"] = host_steal_s() - steal_before
    result["detail"]["host_probe_after_s"] = cpu_probe()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
