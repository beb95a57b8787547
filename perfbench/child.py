"""A benchmark child process: the server or the batch driver.

The child prints ``<TAG> <json>`` lines on standard output and runs until
its standard input closes. It is started in a new process group so that
``stop`` can remove it together with the JVM it launched.
"""

from __future__ import annotations

import json
import os
import select
import signal
import subprocess
import time


class Child:
    def __init__(self, cmd: list[str], cwd: str, env: dict, log_path: str):
        self.log = open(log_path, "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, cwd=cwd, env=env,
                                     start_new_session=True)
        self._buf = b""

    def await_line(self, tag: str, timeout: float) -> dict:
        """Block until the child prints ``<tag> <json>``; return the json."""
        prefix = tag.encode() + b" "
        deadline = time.monotonic() + timeout
        fd = self.proc.stdout.fileno()
        while True:
            while b"\n" in self._buf:
                line, self._buf = self._buf.split(b"\n", 1)
                if line.startswith(prefix):
                    return json.loads(line[len(prefix):])
            if time.monotonic() >= deadline:
                raise TimeoutError(f"no {tag} line from child within {timeout:.0f} s")
            if select.select([fd], [], [], 1.0)[0]:
                chunk = os.read(fd, 1 << 20)
                if not chunk:
                    raise RuntimeError(f"child exited before printing {tag} "
                                       f"(see {self.log.name})")
                self._buf += chunk

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM (peak resident set) over the child and its descendants."""
        total_kb = 0
        todo = [self.proc.pid]
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                with open(f"/proc/{p}/task/{p}/children") as f:
                    todo += [int(c) for c in f.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                continue
        return total_kb / 1024.0

    def stop(self, graceful: bool, timeout: float = 90.0) -> None:
        """Stop the child and its whole process group, the JVM included.
        ``graceful`` first closes stdin and waits for the child to shut
        down on its own (it may still have output to write)."""
        if graceful:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=timeout)
            except (subprocess.TimeoutExpired, OSError):
                pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.proc.stdout.close()
        self.log.close()
