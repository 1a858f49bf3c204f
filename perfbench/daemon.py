"""Serving daemon in its own process, so the load generator's threads
never share its interpreter lock.

    python3 perfbench/daemon.py <index_root>

Prints `READY <port>` once the index is open and warmed, then serves
until SIGTERM.
"""

from __future__ import annotations

import signal
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from geospatial_spark.plans.daemon import make_server  # noqa: E402


def main() -> None:
    srv = make_server(sys.argv[1])

    def stop(*_):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    print(f"READY {srv.server_address[1]}", flush=True)
    try:
        srv.serve_forever(poll_interval=0.05)
    finally:
        srv.server_close()


if __name__ == "__main__":
    main()
