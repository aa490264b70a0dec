"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a child interpreter (``python3 -m perfbench.worker``)
and relays its output; the last stdout line is the result JSON.  The child
gets ``PYTHONPATH`` set to the repository root, because Spark's Python
workers inherit the JVM's environment, not the Spark driver's ``sys.path``.  All
scratch files (generated inputs, Spark local dirs, temp dirs) live under
``.perfbench/work/<pid>`` in the repository and are removed at exit; traces
of ``--trace 1`` runs are kept under ``.perfbench/traces``.

Every process the child starts (the JVM, Spark's Python daemon and its
workers) shares the child's session id, so after the child exits the
supervisor kills and reaps whatever is left of that session.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The contract allows 180 s per run; leave room to stop the child.
DEADLINE_S = 165


def _session_members(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session ...
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int, timeout_s: float = 10.0) -> None:
    """Kill every process left in session ``sid`` and wait until all are gone
    (SIGTERM, then SIGKILL after ``timeout_s``)."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        members = _session_members(sid)
        if not members:
            return
        if time.monotonic() > deadline + timeout_s:
            raise RuntimeError(f"processes {members} survived SIGKILL")
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def main() -> int:
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # local[<usable cores>] unless the caller pins it (SPARK_GRAFT_CPUS=1 gives
    # the single-threaded baseline)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cmd = [sys.executable, "-m", "perfbench.worker", *sys.argv[1:], "--work", work]
    log_path = os.path.join(work, "worker.log")
    rc, out = 1, ""
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, start_new_session=True,
            )
            try:
                out, _ = proc.communicate(timeout=DEADLINE_S)
                rc = proc.returncode
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                print(f"perfbench: worker exceeded {DEADLINE_S} s", file=sys.stderr)
                rc = 1
            finally:
                _stop_session(proc.pid)
        lines = out.strip().splitlines()
        result = None
        if rc == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except json.JSONDecodeError:
                result = None
        if result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.stderr.write(out[-4000:])
            return rc or 1
        print("\n".join(lines[:-1]))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
