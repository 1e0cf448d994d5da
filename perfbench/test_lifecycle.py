"""The benchmark command leaves no process behind: no JVM, pyspark daemon
or Python worker it started survives once it returns -- after a normal
exit, after an op that raised, and after SIGTERM in the middle of an op.

    python3 -m pytest perfbench/test_lifecycle.py -q

Each case runs the real command (a full Spark start), so the file takes a
few minutes.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK = "PERFBENCH_TEST_MARK"


def _stat(pid: str) -> tuple[str, str] | None:
    """(comm, state) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.find("(") + 1 : raw.rfind(")")], raw[raw.rfind(")") + 2]


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:
        return ""


def _marked(mark: str) -> list[int]:
    needle = f"{MARK}={mark}".encode()
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(pid))
        except OSError:
            continue
    return out


def _leftovers(mark: str, before: set[str]) -> list[str]:
    """Processes the run started that are still there: any carrying the
    run's mark, and any new java process (a zombie has no environment)."""
    left = [f"{p} {_stat(str(p))}" for p in _marked(mark)]
    for pid in os.listdir("/proc"):
        if pid.isdigit() and pid not in before:
            st = _stat(pid)
            if st and st[0] == "java":
                left.append(f"{pid} {st}")
    return left


def _start(*extra: str):
    mark = uuid.uuid4().hex
    before = set(os.listdir("/proc"))
    env = dict(os.environ, **{MARK: mark})
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "raster", "--seed", "3",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    return proc, mark, before


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_normal_exit_leaves_nothing():
    proc, mark, before = _start()
    out, err = proc.communicate(timeout=180)
    assert proc.returncode == 0, err[-3000:]
    res = _last_json(out)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {"wall_s", "docs_per_s", "cpu_s", "peak_rss_mb", "setup_s"}
    assert _leftovers(mark, before) == []


def test_raised_op_is_counted_and_leaves_nothing():
    proc, mark, before = _start("--fault", "raise")
    out, err = proc.communicate(timeout=180)
    assert proc.returncode == 0, err[-3000:]
    res = _last_json(out)
    assert not res["correct"] and res["failed"] >= 1
    assert "injected op failure" in err
    assert _leftovers(mark, before) == []


def test_sigterm_mid_op_leaves_nothing():
    proc, mark, before = _start("--fault", "hang")
    started = threading.Event()
    err_lines: list[str] = []

    def pump():
        for line in proc.stderr:
            err_lines.append(line)
            if "fault hang op started" in line:
                started.set()

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    assert started.wait(timeout=150), "".join(err_lines[-50:])
    # wait until the hanging op's tasks run in pyspark Python workers
    for _ in range(60):
        if any("pyspark" in _cmdline(p) for p in _marked(mark)):
            break
        threading.Event().wait(1)
    else:
        raise AssertionError("no pyspark worker started")
    proc.send_signal(signal.SIGTERM)
    out = proc.stdout.read()
    assert proc.wait(timeout=60) == 128 + signal.SIGTERM
    reader.join(timeout=10)
    assert '"correct"' not in out
    assert _leftovers(mark, before) == []
