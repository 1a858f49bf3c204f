"""Load generator and process handle for the daemon subprocess.

The load is a closed loop: each connection sends its next request only
after the previous reply arrived, which is how the serving tier's
callers (agents, tools) use it.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

DAEMON = str(Path(__file__).resolve().parent / "daemon.py")


class Daemon:
    """One daemon subprocess over `index_root`. `start_s` is the cold
    start: spawn until the first /search is answered."""

    def __init__(self, index_root: str):
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, DAEMON, index_root], stdout=subprocess.PIPE,
            text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("READY "):
            self.stop()
            raise RuntimeError(f"daemon did not start: {line!r}")
        self.port = int(line.split()[1])
        try:
            self.post({"type": "match", "q": "the", "k": 1})
        except BaseException:
            self.stop()
            raise
        self.start_s = time.perf_counter() - t0

    def conn(self) -> http.client.HTTPConnection:
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)

    def post(self, req: dict, conn=None) -> list:
        own = conn is None
        c = self.conn() if own else conn
        try:
            c.request("POST", "/search", body=json.dumps(req),
                      headers={"Content-Type": "application/json"})
            r = c.getresponse()
            body = json.loads(r.read())
            if r.status != 200:
                raise RuntimeError(f"HTTP {r.status}: {body}")
            return body["hits"]
        finally:
            if own:
                c.close()

    def health(self) -> dict:
        c = self.conn()
        try:
            c.request("GET", "/health")
            return json.loads(c.getresponse().read())
        finally:
            c.close()

    def rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmRSS")

    def cpu_s(self) -> float:
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def closed_loop(daemon: Daemon, requests, n_conns: int, seconds: float,
                tracer, stop: threading.Event | None = None,
                first: int = 0) -> list[dict]:
    """Drive `requests` (an iterator of request bodies) through
    `n_conns` connections until `seconds` pass, `stop` is set or the
    requests run out.
    Returns one record per request, in send order:
    {i, req, t (seconds), hits (None on failure), error}; `i` counts
    from `first`, so loops that continue one stream keep distinct ids."""
    lock = threading.Lock()
    it = enumerate(requests, first)
    out: list[dict] = []
    errors: list[BaseException] = []
    deadline = time.perf_counter() + seconds

    def worker():
        c = daemon.conn()
        try:
            while time.perf_counter() < deadline and not (
                    stop is not None and stop.is_set()):
                with lock:
                    nxt = next(it, None)
                if nxt is None:  # a finite request list ran out
                    break
                i, req = nxt
                rec = {"i": i, "req": req, "hits": None, "error": None}
                with tracer.span("daemon.request", req=f"r{i}"):
                    t0 = time.perf_counter()
                    try:
                        rec["hits"] = daemon.post(req, c)
                    except (OSError, RuntimeError, http.client.HTTPException,
                            ValueError) as e:
                        rec["error"] = repr(e)
                        c.close()
                        c = daemon.conn()
                    rec["t"] = time.perf_counter() - t0
                with lock:
                    out.append(rec)
        except BaseException as e:  # re-raised by the caller below
            errors.append(e)
        finally:
            c.close()

    threads = [threading.Thread(target=worker) for _ in range(n_conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    out.sort(key=lambda r: r["i"])
    return out
