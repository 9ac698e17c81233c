"""Processes a workload starts: each ``server.py`` worker runs in its
own session and process group with its own temp directories, and
``stop`` ends it together with every process under it (the JVM and
Python workers included)."""

from __future__ import annotations

import json
import os
import queue
import signal
import subprocess
import sys
import threading
import time

from stats import process_tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Worker:
    def __init__(self, tmp_root: str, name: str, cfg: dict, timeout: float = 150.0):
        self.name = name
        self.timeout = timeout
        tmp = os.path.join(tmp_root, name)
        for sub in ("warehouse", "local", "spool", "checkpoint"):
            os.makedirs(os.path.join(tmp, sub), exist_ok=True)
        env = dict(
            os.environ,
            PYTHONPATH=ROOT + os.pathsep + HERE,
            TMPDIR=os.path.join(tmp, "spool"),  # pgwire's COPY FROM spool
            SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
            SPARK_GRAFT_CPUS=str(cfg["cores"]),
            PYSPARK_PYTHON=sys.executable,
        )
        self.errlog = os.path.join(tmp, "stderr.log")
        with open(self.errlog, "w") as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "server.py"),
                 json.dumps(dict(cfg, tmp=tmp))],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=err,
                cwd=tmp,  # anything Spark drops in its cwd stays in the temp root
                env=env,
                text=True,
                start_new_session=True,
            )
        self.ready: dict | None = None
        # drain stdout for the whole life of the process, so other output
        # can never fill the pipe and stall the worker
        self._replies: queue.Queue = queue.Queue()
        threading.Thread(target=self._drain, daemon=True).start()

    def _drain(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self._replies.put(json.loads(line[3:]))

    def wait_ready(self) -> dict:
        self.ready = self._reply(self.timeout)
        return self.ready

    def _reply(self, timeout: float) -> dict:
        try:
            r = self._replies.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(
                f"{self.name}: no reply within {timeout:.0f} s\n{self.tail()}"
            ) from None
        if "error" in r:
            raise RuntimeError(f"{self.name}: {r['error']}\n{r.get('traceback', '')}")
        return r

    def call(self, timeout: float | None = None, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._reply(timeout or self.timeout)

    def tail(self) -> str:
        try:
            with open(self.errlog) as f:
                return f.read()[-3000:]
        except OSError:
            return ""

    def pids(self) -> list[int]:
        return process_tree(self.proc.pid) if self.proc.poll() is None else []

    def stop(self) -> None:
        """SIGTERM to the process group and every process under the
        worker, SIGKILL to whatever is left after 10 s; returns once
        all have ended."""
        pids = self.pids()
        for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
            try:
                os.killpg(self.proc.pid, sig)
            except (ProcessLookupError, PermissionError):
                pass
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except (ProcessLookupError, PermissionError):
                    pass
            try:
                self.proc.wait(grace)
            except subprocess.TimeoutExpired:
                pass
            deadline = time.monotonic() + grace
            while any(_alive(p) for p in pids) and time.monotonic() < deadline:
                time.sleep(0.05)
            if self.proc.poll() is not None and not any(_alive(p) for p in pids):
                return


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
