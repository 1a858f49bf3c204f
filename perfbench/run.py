"""Repo benchmark: one workload per run, outputs checked, one JSON line.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 \\
        --trace 0

Workloads: serve_hot and serve_tail (see
perfbench/README.md). Run from the repository root. The last line of
stdout is {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list (and the span table is written to .perfbench_out/).
The line before it holds the run's annotations (load average, nproc,
Spark conf, seed, commit, CPU time stolen by other guests of the host).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve_hot", "serve_tail")
NEEDED = ("BENCHMARK.json", "geospatial_spark/plans/build.py",
          "fixtures/datagen.py", "oracle/oracle.py")


def commit() -> str:
    """The git commit when there is one, else a digest of the engine
    sources (a benchmark checkout need not be a git repository)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for f in sorted((ROOT / "geospatial_spark").rglob("*.py")):
        h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:16]


def span_overhead_us() -> float:
    """Cost of one span with tracing on, minus with tracing off."""
    from perfbench.trace import Tracer

    def per_span(tr) -> float:
        t0 = time.perf_counter()
        for _ in range(20_000):
            with tr.span("x"):
                pass
        return (time.perf_counter() - t0) / 20_000

    return (per_span(Tracer(True)) - per_span(Tracer(False))) * 1e6


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's small corpus")
    args = ap.parse_args(argv)

    missing = [n for n in NEEDED if not (ROOT / n).exists()]
    if missing:
        print(f"perfbench: engine sources missing: {missing}",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    # every file the run writes, Spark's and the daemon's included,
    # stays inside the checkout
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)

    from perfbench.trace import Tracer
    from perfbench.workloads import Bench, run

    notes = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace,
             "scale": args.scale, "commit": commit(),
             "nproc": os.cpu_count(), "python": platform.python_version(),
             "loadavg_1m_start": os.getloadavg()[0]}
    # a terminated run still stops its daemon and Spark (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(bool(args.trace))
    b = Bench(args.workload, args.seed, args.seconds, tracer, args.scale,
              work)
    try:
        run(b)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)
    notes["loadavg_1m_end"] = os.getloadavg()[0]
    notes.update(b.notes)
    notes["failures"] = b.failures

    if args.trace:
        b.layers["trace.overhead_us_per_span"] = span_overhead_us()
    values = b.layers if args.trace else b.e2e
    absent = [m["name"] for m in wanted if m["name"] not in values]
    if absent:
        print(f"perfbench: metrics not measured: {absent}", file=sys.stderr)
        return 1
    result = {"correct": b.failed == 0, "attempted": b.attempted,
              "failed": b.failed,
              "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                      "unit": m["unit"]} for m in wanted}}
    stem = out_dir / f"{args.workload}_seed{args.seed}_trace{args.trace}"
    if args.trace:
        note = (f"{b.layers['trace.overhead_us_per_span']:.2f} us per span "
                f"(traced minus untraced); {len(tracer.spans)} spans")
        tracer.write(f"{stem}_spans.json", note)
        table = tracer.table_text(note)
        Path(f"{stem}_layers.txt").write_text(table + "\n")
        print(table)
    Path(f"{stem}.json").write_text(json.dumps(
        {"annotations": notes, "result": result}, indent=1))
    print("annotations " + json.dumps(notes))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
