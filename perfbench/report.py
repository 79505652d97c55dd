"""Render traced runs as markdown tables.

    python3 perfbench/run.py --workload crawl --seed 7 --seconds 10 --trace 1 > crawl.out
    python3 perfbench/report.py crawl.out [more.out ...]

Each input is the standard output of one ``--trace 1`` run; the line holding
``trace_report`` is read from it.
"""

from __future__ import annotations

import json
import sys

COLUMNS = (
    "wall_s", "jobs", "tasks", "busy_frac", "task_run_s", "python_run_s",
    "python_sent_mb", "python_recv_mb", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "output_mb", "task_skew", "failed_tasks",
)


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.3f}" if abs(v) < 100 else f"{v:.0f}"
    return str(v)


def render(report: dict) -> str:
    env = report["env"]
    per = report["per_span"]
    names = list(dict.fromkeys(k.rsplit(".", 1)[0] for k in per))
    lines = [
        f"### {report['workload']}, seed {report['seed']}",
        "",
        f"local[{env['cores']}] on {env['nproc']} CPUs, load {env['loadavg_1m']:.2f}, "
        f"{env['steal_ticks']} steal ticks during the run. Untraced pass (median) "
        f"{report['untraced_pass_s_p50']:.3f} s; traced pass {report['traced_pass_s']:.3f} s; "
        f"tracing overhead {report['trace.overhead_s']:+.3f} s.",
        "",
        "| span | " + " | ".join(COLUMNS) + " |",
        "| --- |" + " ---: |" * len(COLUMNS),
    ]
    for name in names:
        lines.append(f"| {name} | " + " | ".join(_fmt(per[f'{name}.{c}']) for c in COLUMNS) + " |")
    keys = list(dict.fromkeys(k for r in report["rounds"] for k in r))
    lines += ["", "| round | " + " | ".join(keys) + " |", "| --- |" + " ---: |" * len(keys)]
    for i, r in enumerate(report["rounds"], start=1):
        lines.append(f"| {i} | " + " | ".join(_fmt(r.get(k, "")) for k in keys) + " |")
    return "\n".join(lines) + "\n"


def main(paths: list[str]) -> None:
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.startswith('{"trace_report"'):
                    print(render(json.loads(line)["trace_report"]))


if __name__ == "__main__":
    main(sys.argv[1:])
