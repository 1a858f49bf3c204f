"""Self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

Runs every workload at tiny scale, untraced and traced, and checks that
each run exits 0 and that its last stdout line has exactly the keys
correct/attempted/failed/metrics, every metric BENCHMARK.json names for
that mode (with its unit), and no failed operation. Then checks that a
directory holding only BENCHMARK.json and perfbench/ makes the
benchmark exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ["perfbench/run.py"]


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, *RUN, "--workload", workload, "--seed", "3",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    where = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{where}: keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
        errs.append(f"{where}: correct={res['correct']} "
                    f"failed={res['failed']} attempted={res['attempted']}")
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["metrics"]
    if [m["name"] for m in want] != list(got):
        errs.append(f"{where}: metrics {list(got)}")
    for m in want:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(
                v.get("value"), (int, float)):
            errs.append(f"{where}: {m['name']} -> {v}")
    return errs


def check_bare() -> list[str]:
    """Only BENCHMARK.json and perfbench/: must fail, print no result."""
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_work") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, *RUN, "--workload", "serve_hot",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout!r}"]
    return []


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    from perfbench.run import WORKLOADS

    names = sys.argv[1:] or list(WORKLOADS)
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    errs = check_bare()
    for w in names:
        for trace in (0, 1):
            e = check_run(w, trace, spec)
            print(f"{w} trace={trace}: {'ok' if not e else 'FAILED'}",
                  flush=True)
            errs += e
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
