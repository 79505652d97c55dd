"""Self-test of the benchmark at small sizes.

    python3 perfbench/selftest.py

Run from the root of a source checkout. For every workload in
``BENCHMARK.json`` it checks that:

- a run with ``--trace 0`` prints exactly the end-to-end metrics, each with
  its unit, is correct, and exits 0;
- a run with ``--trace 1`` prints exactly the per-layer metrics, each with
  its unit, plus the trace report;
- a run against a corrupted reference reports failed operations, is not
  correct, and exits non-zero.

Finally it runs the command in a directory holding only ``BENCHMARK.json``
and the benchmark's own files, where it must exit non-zero without printing
a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for wl in (w["name"] for w in bench["workloads"]):
        base = ["--workload", wl, "--seed", "3", "--seconds", "1", "--smoke"]
        for tr in (0, 1):
            rc, out = run(base + ["--trace", str(tr)])
            res = json.loads(out[-1]) if out else {}
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            expect(rc == 0 and res.get("correct") is True, f"{wl} trace={tr}: correct, exit 0")
            expect(res.get("failed") == 0 and res.get("attempted", 0) >= 1, f"{wl} trace={tr}: no failed operation")
            expect(got == wanted[tr], f"{wl} trace={tr}: every metric printed with its unit")
            if tr:
                expect("trace_report" in json.loads(out[-2]), f"{wl}: trace report printed")
        rc, out = run(base + ["--trace", "0", "--corrupt-reference"])
        res = json.loads(out[-1]) if out else {}
        expect(
            rc != 0 and res.get("correct") is False and res.get("failed", 0) > 0,
            f"{wl}: a corrupted reference raises the failed count and the exit code",
        )

    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), os.path.join(bare, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    wl = bench["workloads"][0]["name"]
    rc, out = run(["--workload", wl, "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and not any(line.startswith("{") for line in out), "without the engine: non-zero exit, no result")
    print("selftest passed")


if __name__ == "__main__":
    main()
