"""Smoke test of the benchmark itself, run from the repository root:

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all three) it makes the shortest run with
tracing off and with tracing on, and checks that

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, and the run is
  correct;
- every end-to-end (untraced) or per-layer (traced) metric named in
  ``BENCHMARK.json`` is emitted, with its unit, and nothing else;
- the traced run's spans are well formed: every parent exists and
  encloses its child, and no self time is negative.

It also checks that the benchmark refuses to run, without printing a
result, in a directory holding only ``BENCHMARK.json`` and ``perfbench/``.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spans import Span, check_spans, self_times  # noqa: E402


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_result(proc, expected: dict[str, str]) -> list[str]:
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"not correct: {result.get('failed')} failed")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        problems.append(f"attempted {result.get('attempted')}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        problems.append(f"missing {sorted(set(expected) - set(metrics))}, "
                        f"extra {sorted(set(metrics) - set(expected))}")
    for name, m in metrics.items():
        if name in expected and m.get("unit") != expected[name]:
            problems.append(f"{name}: unit {m.get('unit')} != {expected[name]}")
        if not isinstance(m.get("value"), (int, float)):
            problems.append(f"{name}: value {m.get('value')!r}")
    return problems


def check_span_file(path: Path) -> list[str]:
    spans = [Span(**s) for s in json.loads(path.read_text())]
    if not spans:
        return [f"{path.name}: no spans"]
    problems = check_spans(spans)
    if any(t < -1e-9 for t in self_times(spans).values()):
        problems.append("negative self time")
    return problems


def check_bare_dir() -> list[str]:
    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "plan_sweep", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    problems = []
    if proc.returncode == 0:
        problems.append("ran without the package")
    if proc.stdout.strip():
        problems.append(f"printed {proc.stdout.strip()[:200]!r}")
    return problems


def main(argv: list[str]) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = argv or [w["name"] for w in spec["workloads"]]
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failed = False
    checks = [("bare directory", check_bare_dir)]
    for wl in workloads:
        checks.append((f"{wl} untraced", lambda wl=wl: check_result(run(ROOT, wl, 0), e2e)))

        def traced(wl=wl):
            problems = check_result(run(ROOT, wl, 1), layer)
            path = ROOT / ".perfbench_out" / f"{wl}-seed7-spans.json"
            return problems + (check_span_file(path) if path.exists() else ["no span file"])

        checks.append((f"{wl} traced", traced))
    for label, check in checks:
        problems = check()
        failed |= bool(problems)
        print(f"{'FAIL' if problems else 'ok  '} {label}", flush=True)
        for p in problems:
            print(f"     {p}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
