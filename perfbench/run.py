"""seraster_spark benchmark: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload {raster,spatial_dedup} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The run happens in a worker process
(``perfbench/worker.py``) in its own session and process group, with this
process as its child subreaper. When the worker ends -- normally, after an
error, at the time limit, or because this process got SIGTERM -- every
process it started (the JVM, the pyspark daemon and its Python workers,
which the daemon moves to a group of its own) is killed and reaped before
this command returns. Inputs are staged in a temporary directory under
``.perfbench/`` that is removed at exit; the full result, with the
configuration, per-pass times and the trace spans, is kept in
``.perfbench/results/``.

Standard output: one line per metric (name, value, unit), then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, measured untraced; with
``--trace 1`` they are the per-layer ones from traced passes.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOKEN_VAR = "PERFBENCH_RUN_TOKEN"
# the command must return within 180 s; leave room for teardown
DEADLINE_S = 165.0
PR_SET_CHILD_SUBREAPER = 36

END_TO_END_UNITS = {
    "wall_s": "s", "docs_per_s": "docs/s", "cpu_s": "s", "peak_rss_mb": "MiB", "setup_s": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(".yield"):
        return "ratio"
    return "count"


class Terminated(Exception):
    pass


def _on_signal(signum, _frame):
    raise Terminated(signum)


def tagged_pids(token: str) -> list[int]:
    """Live processes (other than this one) whose environment carries the
    run's token: everything the worker started, wherever it was reparented
    or regrouped."""
    needle = f"{TOKEN_VAR}={token}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            continue
    return out


def reap_all(worker: subprocess.Popen, token: str) -> None:
    """Kill the worker's group and every tagged process, and reap them all.
    As child subreaper this process inherits every orphaned descendant, so
    it is done once ``waitpid`` reports no children and no tagged process is
    left; SIGTERM first, SIGKILL after 5 s."""
    start = time.monotonic()
    while time.monotonic() - start < 30.0:
        sig = signal.SIGTERM if time.monotonic() - start < 5.0 else signal.SIGKILL
        try:
            os.killpg(worker.pid, sig)
        except ProcessLookupError:
            pass
        for pid in tagged_pids(token):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            if not tagged_pids(token):
                return
        time.sleep(0.1)
    print("perfbench: could not reap every process of the run", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("raster", "spatial_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("none", "raise", "hang"), default="none",
                    help="inject a failing op (process-lifecycle test only)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "seraster_spark", "__init__.py")):
        print("perfbench: seraster_spark not found beside perfbench/", file=sys.stderr)
        return 2

    started = time.monotonic()
    token = uuid.uuid4().hex
    base = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(base, f"run-{token[:12]}")
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    env = dict(os.environ)
    env[TOKEN_VAR] = token
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    env["TMPDIR"] = tmp
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)

    worker = None
    code = None
    try:
        worker = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--tmp", tmp, "--out", out, "--fault", args.fault],
            cwd=ROOT, env=env, start_new_session=True, stdout=sys.stderr,
        )
        code = worker.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
    except Terminated as t:
        print(f"perfbench: stopped by signal {t.args[0]}", file=sys.stderr)
        code = 128 + t.args[0]
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        if worker is not None:
            reap_all(worker, token)
        result = None
        if code == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        return code if code else 1

    trace = bool(args.trace)
    metrics = result["per_layer"] if trace else result["end_to_end"]
    units = {k: layer_unit(k) for k in metrics} if trace else END_TO_END_UNITS
    d = result["detail"]
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(f"# {args.workload} seed={args.seed} passes={d['passes']} traced_passes={d['traced_passes']} "
          f"{d['config']['master']} shuffle_partitions={d['config']['shuffle_partitions']} "
          f"driver_memory={d['config']['driver_memory']}")
    for k, v in metrics.items():
        print(f"{args.workload} {k} {v:.6g} {units[k]}")
    print(f"{args.workload} fail_ratio {d['fail_ratio']:.6g} ratio")
    print(f"# peak_rss_mb: {d['peak_rss_note']}; host probe before/after "
          f"{d['host_probe_before_s']:.4f}/{d['host_probe_after_s']:.4f} s, host steal "
          f"{d['host_steal_s']:.1f} s (diagnostics only)")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
