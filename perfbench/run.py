"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout: the engine (``spiderspark``) and the
crawl oracle (``tests/oracle_crawler.py``) are imported from there, and all
files the run writes go under ``.bench_work/`` in that directory.

A run synthesises the workload's inputs from ``--seed``, sets up three times
(``setup_s`` is the median), warms up (``Workload.warm_up``), then repeats
timed passes until their summed wall reaches ``--seconds``. Every pass's outputs
are compared with an independent reference; any exception or mismatch
counts as a failed operation and makes the exit code non-zero. With
``--trace 1`` the Spark event log is on, one more pass is traced span by
span after the timed ones, and the last line holds the per-layer metrics;
the full span table, per-round counts and the tracing overhead are printed
on the line before it.

``--legacy`` runs the schedule workload at the legacy headline size (2M raw
URLs, seed 0) and also requires the legacy digest.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3
MAX_CORES = 4
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--legacy", action="store_true")
    p.add_argument("--smoke", action="store_true", help="small inputs (self-test)")
    p.add_argument(
        "--corrupt-reference", action="store_true",
        help="alter the reference so every check fails (self-test)",
    )
    return p.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    engine importable by the Python workers Spark starts."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the session is sized here, not by the caller's environment
    for k in ("SPIDERSPARK_MASTER", "SPIDERSPARK_EXTRA_CONF", "SPIDERSPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS"):
        os.environ.pop(k, None)


def start_session(run_dir: str, cores: int, event_dir: str | None):
    from spiderspark.session import get_spark

    extra = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4 compresses with zstd by default, which the
                # standard library cannot read
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_dir,
            }
        )
    spark = get_spark("perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until its process tree
    (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is None or proc is None:
        return
    tree = descendants(proc.pid)
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a hung JVM is killed below
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = tree
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def persisted_ids(spark) -> set:
    return {int(r) for r in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def release_cached(spark, keep: set) -> None:
    """Drop every persisted block a pass left behind (checkpointed state
    segments), keeping the set-up's own."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if int(rid) not in keep:
            jmap.get(rid).unpersist(False)


def summary(values: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples beyond
    it (none below 11 samples), with the sample count."""
    xs = sorted(values)
    out = {"n": len(xs), "p50": statistics.median(xs)}
    for pct in (99.9, 99, 95, 90, 75, 50):
        k = int(len(xs) * pct / 100.0)
        if len(xs) - k >= 10:
            out[f"p{pct:g}"] = xs[k]
            break
    return out


class Runner:
    """Runs checked passes and counts attempted and failed operations."""

    def __init__(self, workload, spark, rss, ctx, ref, keep: set):
        self.w = workload
        self.spark = spark
        self.rss = rss
        self.ctx = ctx
        self.ref = ref
        self.keep = keep
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def checked_pass(self, spans, pass_id: int, traced: bool = False):
        """One pass plus its check; returns the result, or None if it raised."""
        self.rss.sampling(True)
        try:
            result = self.w.run_pass(self.spark, self.ctx, spans, pass_id, traced)
        except Exception:  # noqa: BLE001 — a failed pass is a measured outcome
            self.attempted += 1
            self.failed += 1
            self.errors.append(traceback.format_exc())
            log(f"pass {pass_id} raised:\n{self.errors[-1]}")
            return None
        finally:
            self.rss.sampling(False)
        msgs = self.w.check(result, self.ref)
        release_cached(self.spark, self.keep)
        self.attempted += len(result.ops)
        for m in filter(None, msgs):
            self.failed += 1
            self.errors.append(f"pass {pass_id}: {m}")
            log(f"pass {pass_id}: {m}")
        return result

    def timed_passes(self, spans, seconds: float) -> list:
        results, measured, pass_id = [], 0.0, 1
        while measured < seconds and self.failed == 0:
            r = self.checked_pass(spans, pass_id)
            if r is None:
                break
            results.append(r)
            measured += r.wall_s
            log(f"pass {pass_id}: {r.wall_s:.3f}s {[round(o.wall_s, 3) for o in r.ops]}")
            pass_id += 1
        return results


def make_workload(args, workloads, run_dir):
    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return None
    if args.legacy:
        if cls is not workloads.Schedule:
            log("--legacy applies to the schedule workload only")
            return None
        return workloads.Schedule(0, run_dir, n_urls=2_000_000, buckets=32)
    return cls(args.seed, run_dir, **(cls.SMOKE if args.smoke else {}))


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import spiderspark  # noqa: F401
        import tests.oracle_crawler  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine and its oracle from {ROOT}: {e}")
        return 2

    from perfbench import trace, workloads

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    w = make_workload(args, workloads, run_dir)
    if w is None:
        return 2
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    host0 = trace.host_snapshot()
    event_dir = os.path.join(run_dir, "events") if args.trace else None

    spark = rss = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores, event_dir)
        session_s = time.perf_counter() - t0
        rss = trace.PeakRss(spark.sparkContext._gateway.proc.pid)

        setups, ctx = [], None
        for rep in range(SETUP_REPS):
            if ctx is not None:
                release_cached(spark, set())
            t = time.perf_counter()
            ctx = w.setup(spark, rep)
            setups.append(time.perf_counter() - t)
        log(f"session {session_s:.2f}s, set-ups {[round(s, 2) for s in setups]}")

        ref = w.reference(ctx)
        if args.legacy:
            want = {"rows": workloads.LEGACY_ROWS, "digest": workloads.LEGACY_DIGEST}
            if ref != want:
                log(f"reference {ref} does not reproduce the legacy schedule {want}")
                return 1
        if args.corrupt_reference:
            ref = w.corrupt(ref)

        runner = Runner(w, spark, rss, ctx, ref, persisted_ids(spark))
        untraced = trace.Spans(False)
        t = time.perf_counter()
        w.warm_up(spark, ctx)
        warm_s = time.perf_counter() - t
        release_cached(spark, runner.keep)
        log(f"warm-up {warm_s:.2f}s")
        results = runner.timed_passes(untraced, args.seconds)

        spans = trace.Spans(True)
        traced = None
        if args.trace and runner.failed == 0:
            traced = runner.checked_pass(spans, len(results) + 1, traced=True)
        peak_mb = rss.peak_mb
        rss.close()
        rss = None
        stop_session(spark)
        spark = None
        log("session stopped")

        host1 = trace.host_snapshot()
        env = {
            "cores": cores,
            "nproc": host1["nproc"],
            "loadavg_1m": host1["loadavg_1m"],
            "steal_ticks": host1["steal_ticks"] - host0["steal_ticks"],
            "session_s": session_s,
            "warmup_s": warm_s,
            "peak_rss_mb": peak_mb,
        }
        correct = runner.failed == 0 and bool(results) and (traced is not None or not args.trace)
        metrics = {}
        if not correct:
            runner.attempted = max(runner.attempted, 1)
            runner.failed = max(runner.failed, 1)
            print(json.dumps({"env": env, "errors": runner.errors[:5]}))
        elif args.trace:
            metrics, report = traced_metrics(w, results, traced, spans, event_dir, cores, env)
            metrics["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
            print(json.dumps({"trace_report": report}))
        else:
            metrics = e2e_metrics(w, results, setups)
            samples = {
                "pass_s": summary([r.wall_s for r in results]),
                "round_s": summary([t for r in results for t in r.round_walls]),
                "setup_s": summary(setups),
            }
            print(json.dumps({"env": env, "samples": samples}))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": runner.attempted,
                    "failed": runner.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0 if correct else 1
    finally:
        if rss is not None:
            rss.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def e2e_metrics(w, results, setups) -> dict:
    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "pass_s_p50": {"value": statistics.median(r.wall_s for r in results), "unit": "s"},
        "urls_per_s": {"value": w.urls_per_s(results), "unit": "urls/s"},
    }


# the per-layer metrics every workload reports (BENCHMARK.json "per_layer"):
# totals over the traced pass, and the span both workloads call
PASS_KEYS = (
    "wall_s", "jobs", "tasks", "busy_frac", "task_run_s", "python_run_s",
    "python_sent_mb", "python_recv_mb", "shuffle_write_mb", "shuffle_read_mb",
    "output_mb", "task_skew",
)
SPAN_KEYS = {
    "init_state": ("wall_s", "jobs", "python_run_s", "python_sent_mb", "shuffle_write_mb"),
}
UNITS = {
    "wall_s": "s", "task_run_s": "s", "python_run_s": "s", "overhead_s": "s",
    "busy_frac": "ratio", "task_skew": "ratio",
}


def _unit(key: str) -> str:
    leaf = key.rsplit(".", 1)[-1]
    return "MB" if leaf.endswith("_mb") else UNITS.get(leaf, "count")


def round_counts(traced, span_rows) -> list[dict]:
    """Per-round counts of the traced pass, with the fetch yield and the
    snapshot bytes written per state row the round changed (rows newly
    seen, scheduled, and inserted into the frontier)."""
    commit_mb = {s["round"]: s["output_mb"] for s in span_rows if s["name"] == "commit_state"}
    out, prev = [], traced.initial_counts
    for i, row in enumerate(traced.rounds, start=1):
        row = dict(row)
        if row["round.scheduled"]:
            row["round.fetch_yield"] = row["round.fetched"] / row["round.scheduled"]
        if i in commit_mb:
            inserted = row["state.frontier_rows"] - prev["state.frontier_rows"] + row["round.scheduled"]
            changed = (
                row["state.seen_rows"] - prev["state.seen_rows"]
                + row["round.scheduled"]
                + max(0, inserted)
            )
            if changed:
                row["commit.bytes_per_changed_row"] = commit_mb[i] * 1024 * 1024 / changed
        out.append(row)
        prev = row
    return out


def traced_metrics(w, results, traced, spans, event_dir, cores, env):
    from perfbench import trace

    span_rows, totals = trace.attribute(spans.records, trace.find_event_log(event_dir), cores)
    per_span = trace.per_name(span_rows, cores)
    untraced = statistics.median(r.wall_s for r in results)
    overhead = traced.wall_s - untraced
    rounds = round_counts(traced, span_rows)
    metrics = {f"pass.{k}": totals[k] for k in PASS_KEYS}
    for name, keys in SPAN_KEYS.items():
        metrics.update({f"{name}.{k}": per_span[f"{name}.{k}"] for k in keys})
    metrics["state.segments"] = rounds[-1]["state.segments"]
    metrics["sketch.deltas"] = rounds[-1]["sketch.deltas"]
    metrics["trace.overhead_s"] = overhead
    report = {
        "workload": w.name,
        "seed": w.seed,
        "env": env,
        "untraced_pass_s_p50": untraced,
        "traced_pass_s": traced.wall_s,
        "trace.overhead_s": overhead,
        "per_span": per_span,
        "rounds": rounds,
        "spans": span_rows,
    }
    return {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}, report


if __name__ == "__main__":
    sys.exit(main())
