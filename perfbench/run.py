"""Trace-to-diagnosis benchmark: one command, one JSON result line.

    python3 perfbench/run.py --workload incident_rca --seed 1 --seconds 1 --trace 0

Run from the repository root. It writes the seeded corpora under
``perfbench/.work/``, then sets up: starts Spark through the library's
``get_spark`` on ``local[nproc]`` and runs one small query that is the
same in every run. Then it runs the workload's passes back to back (one
client, closed loop) until ``--seconds`` have passed, checking every
pass's output against the oracle. The first pass is the first time the
session runs the workload's queries, as in a fresh CLI or investigation
process. With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` every pass is traced and it prints the per-layer metrics.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the run's settings, and the spans go to
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-span metrics reported for each layer, by span name
SPAN_METRICS = {
    "pass": ["wall_s", "self_s"],
    "trace_logs.read_trace_events": ["wall_s", "jobs", "task_s", "input_mb"],
    "investigation.investigate": ["wall_s", "self_s", "jobs", "task_s", "iterations",
                                  "llm_calls", "prompt_bytes"],
    "investigation.format_events_for_llm": ["wall_s", "self_s", "jobs"],
    "timeline.build_timeline": ["wall_s", "jobs"],
    **{f"tools.{t}": ["wall_s", "jobs"] for t in workloads.EAGER_TOOLS},
    **{f"detectors.{d}": ["wall_s", "jobs"]
       for d in ["metric_baselines_table"] + workloads.DETECTORS},
    **{f"cli.{c}": ["wall_s", "jobs", "task_s"] for c in workloads.WarehouseLoad.COMMANDS},
}
SPAN_METRICS["cli.load"] += ["input_mb", "shuffle_mb"]
# per-pass and per-run per-layer metrics
EXTRA_METRICS = [
    "pass.jobs", "pass.task_s", "pass.cpu_s", "pass.shuffle_mb", "pass.spill_mb",
    "detectors.task_s", "detectors.shuffle_mb", "detectors.spill_mb", "session.start_s",
    "trace_logs.scan_ratio", "cli.load.output_mb", "cli.stored_bytes_ratio",
    "cli.rollup.duckdb_s", "cached_mb_peak", "cached_mb_residual", "codegen_fallbacks",
    "trace_overhead_frac",
]
UNITS = {"wall_s": "s", "self_s": "s", "task_s": "s", "cpu_s": "s", "jobs": "count",
         "input_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB", "iterations": "count",
         "llm_calls": "count", "prompt_bytes": "bytes", "start_s": "s", "scan_ratio": "ratio",
         "output_mb": "MB", "stored_bytes_ratio": "ratio", "duckdb_s": "s",
         "cached_mb_peak": "MB", "cached_mb_residual": "MB", "codegen_fallbacks": "count",
         "trace_overhead_frac": "frac"}
PER_LAYER = [f"{s}.{m}" for s, ms in SPAN_METRICS.items() for m in ms] + EXTRA_METRICS
END_TO_END = {"setup_s": "s", "pass_s": "s", "spark_jobs": "count", "task_s": "s",
              "peak_exec_mb": "MB", "ok_frac": "frac"}


def unit(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[-1]]


class Run:
    """One benchmark run: a workload's corpora, a Spark session, and the
    passes made on it."""

    def __init__(self, wl, work: str, log_path: str):
        self.wl = wl
        self.work = work
        self.log_path = log_path
        self.passes: list[dict] = []  # one record per pass
        self.spark = None

    def set_up(self, nproc: int) -> list[str]:
        """Start the session and run the set-up query; returns its failed
        checks."""
        import harness as H

        t0 = time.perf_counter()
        self.spark = H.start_spark(self.work, nproc)
        self.start_s = time.perf_counter() - t0
        self.meter = H.Meter(self.spark)
        return workloads.set_up_query(self.spark)

    def one_pass(self, traced: bool) -> None:
        import harness as H

        rec = {"traced": traced, "ok": False}
        i = len(self.passes)
        self.passes.append(rec)
        log0 = os.path.getsize(self.log_path)
        undo = []
        try:
            if traced:
                probe = H.Tracer(self.meter, f"pt{i}")
                for mod, attr, name in self.wl.wrap:
                    module = importlib.import_module(f"db_loganalyzer_spark.{mod}")
                    undo.append(probe.wrap(module, attr, name))
                with probe.span("pass") as root:
                    result = self.wl.run_pass(self.spark, probe)
                rec["wall_s"] = root.wall_s
            else:
                probe = H.Untraced()
                self.meter.set_group(f"pu{i}")
                t0 = time.perf_counter()
                result = self.wl.run_pass(self.spark, probe)
                rec["wall_s"] = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            return
        finally:
            for u in undo:
                u()
            self.meter.set_group(None)
        self.meter.drain()
        if traced:
            probe.collect()
            tot = probe.subtree(0)
            rec["spans"] = [dict(name=s.name, parent=s.parent, wall_s=s.wall_s,
                                 self_s=probe.self_s(k), rows_out=s.rows_out,
                                 plan_ms=s.plan_ms, **s.attrs, **vars(s.stats))
                            for k, s in enumerate(probe.spans)]
        else:
            tot = self.meter.totals(f"pu{i}")
        rec.update(jobs=tot.jobs, task_s=tot.task_s, cpu_s=tot.cpu_s,
                   input_mb=tot.input_mb, shuffle_mb=tot.shuffle_mb, spill_mb=tot.spill_mb,
                   peak_exec_mb=tot.peak_exec_mb, cached_mb_peak=probe.cached_peak,
                   cached_mb_residual=self.meter.cached_mb(), tracer_s=probe.own_s)
        self.meter.release()
        rec["bytes_in"] = result.pop("bytes_in")
        rec["extra"] = self.wl.measure(result)
        with open(self.log_path, errors="replace") as fh:
            fh.seek(log0)
            rec["codegen_fallbacks"] = fh.read().lower().count("failed to compile")
        try:
            bad = self.wl.check(result)
        except Exception as e:  # noqa: BLE001 - a result the check cannot read is wrong
            traceback.print_exc()
            bad = [f"check raised {e!r}"]
        for b in bad:
            print(f"check failed: {b}", file=sys.stderr)
        rec["failed_checks"] = bad
        rec["ok"] = not bad

    def stop(self) -> None:
        import harness as H

        if self.spark is not None:
            H.stop_spark(self.spark)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, setup_s: float, attempted: int, failed: int) -> dict:
    ok = [p for p in run.passes if p["ok"]]
    return {
        "setup_s": setup_s,
        "pass_s": med([p["wall_s"] for p in ok]),
        "spark_jobs": med([p["jobs"] for p in ok]),
        "task_s": med([p["task_s"] for p in ok]),
        "peak_exec_mb": med([p["peak_exec_mb"] for p in ok]),
        "ok_frac": (attempted - failed) / attempted,
    }


def per_layer(run: Run) -> dict:
    traced = [p for p in run.passes if p["ok"]]
    per_pass = []
    for p in traced:
        agg: dict[str, float] = {}
        for s in p["spans"]:
            for m in SPAN_METRICS.get(s["name"], []):
                key = f"{s['name']}.{m}"
                agg[key] = agg.get(key, 0.0) + s[m]
            if s["name"].startswith("detectors."):
                for m in ("task_s", "shuffle_mb", "spill_mb"):
                    agg[f"detectors.{m}"] = agg.get(f"detectors.{m}", 0.0) + s[m]
        for k in ("jobs", "task_s", "cpu_s", "shuffle_mb", "spill_mb"):
            agg[f"pass.{k}"] = p[k]
        agg["trace_logs.scan_ratio"] = p["input_mb"] * 1e6 / p["bytes_in"]
        for k in ("cached_mb_peak", "cached_mb_residual", "codegen_fallbacks"):
            agg[k] = p[k]
        # the traced pass against the same pass without the tracer's own time
        agg["trace_overhead_frac"] = p["tracer_s"] / (p["wall_s"] - p["tracer_s"])
        agg.update(p["extra"])
        per_pass.append(agg)
    out = {name: med([a.get(name, 0.0) for a in per_pass]) for name in PER_LAYER}
    out["session.start_s"] = run.start_s
    out["cli.rollup.duckdb_s"] = run.wl.duckdb_s() if traced else 0.0
    return out


def revision() -> dict:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "db_loganalyzer_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        git = None
    return {"git": git, "source_sha256": h.hexdigest()[:16]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [HERE, ROOT]
    import db_loganalyzer_spark  # noqa: F401 - fail before any work without the library
    import duckdb
    import pyspark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    nproc = os.cpu_count() or 1
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "corpus"))

    # Spark's JVM inherits fds 1 and 2: send both to a log while it runs,
    # so stdout ends with the result and Janino failures can be counted
    log_path = os.path.join(work, "spark.log")
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    run = Run(wl, work, log_path)
    wl.expected_all()  # the oracle's answers, outside every timed region
    try:
        try:
            t0 = time.perf_counter()
            bad = run.set_up(nproc)
            setup_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            while True:
                run.one_pass(traced=bool(args.trace))
                if time.perf_counter() - t0 >= args.seconds:
                    break
        finally:
            run.stop()
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        os.close(log_fd)

    for b in bad:
        print(f"check failed: {b}", file=sys.stderr)
    # the set-up query's check counts as one more attempt
    attempted = len(run.passes) + 1
    failed = sum(not p["ok"] for p in run.passes) + bool(bad)
    if failed:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join([ln for ln in fh if " WARN " not in ln][-80:]))
    metrics = (per_layer(run) if args.trace
               else end_to_end(run, setup_s, attempted, failed))
    units = {m: unit(m) for m in PER_LAYER} if args.trace else END_TO_END
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "corpus_events": len(wl.events),
        "corpus_bytes": wl.bytes, "passes": len(run.passes),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__, **revision(),
    }
    with open(os.path.join(work, "passes.json"), "w") as fh:
        json.dump({"run": info, "passes": run.passes}, fh, indent=1, default=str)
    print(json.dumps({"run": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
