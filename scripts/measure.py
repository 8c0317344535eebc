"""One measurement tool over the ``queries()`` registry entries.

Usage:
  python scripts/measure.py sweep SF_DIR OUT.jsonl [--only a,b] [--skip a,b] [--resume] [--stages]
  python scripts/measure.py plans SF_DIR OUT NAME[,NAME...] [--suffix S]
  python scripts/measure.py duckdb SF_DIR
  python scripts/measure.py compare SMALL.jsonl BIG.jsonl [RATIO] [K]

sweep    Wall seconds per entry as JSONL, streamed so a killed sweep keeps
         its rows: {"query", "sec"}, plus "error" when the entry raised,
         or {"query", "skipped"}. --only restricts the sweep to the named
         entries; --resume appends to OUT and skips the entries it
         already records. --stages adds "stages": up to 25 executed
         stages, most task time first, each with its task, shuffle,
         spill and peak execution memory totals. Timing covers building
         the DataFrame (streaming entries drain here) plus a noop-sink write:
         cold plans, no table cache, session.py defaults. A breadth and
         regression sweep, not the headline bench.
plans    Formatted physical plans of the named entries: one combined
         file OUT, or with --suffix one file per entry,
         OUT/<name>_<S>.txt. There is no default list: to rebuild
         bench_data/plans_r1*.txt, name every bench.HEADLINE entry first,
         then the extras.
duckdb   The bench.HEADLINE entries' oracle SQL on a warm DuckDB
         connection, min of 3 per query; prints one JSON line
         {name: sec, ..., "total": sec}.
compare  Two sweeps of the same entries at data sizes RATIO apart
         (default 10): flags entries whose big time exceeds K (default
         2.0) x the linear extrapolation, where a hidden single-partition
         sort or re-execution would surface. Small times are floored at
         0.2 s so job-dispatch noise cannot flag a 0.1 s -> 0.5 s entry.

Every Spark subcommand runs each entry through :func:`run_entry`: the
entry runs under its own job group, set before its DataFrame is built so
eager construction jobs count too. Per-stage numbers come from Spark's
application status store, which holds them in-process (the UI is off).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from py4j.protocol import Py4JJavaError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import DUCKDB_TABLES, HEADLINE
from db_loganalyzer_spark.session import held

# Known-quadratic entries, skipped by default (pass --skip "" to force):
# the scale dirs make_scale_data.py builds are N verbatim replicas of
# sf0.1, so every document has N-1 exact clones and the uncapped m02/m08
# shingle index is quadratic in clone count by design; their capped
# twins m02c/m08c are the shapes meant for that regime.
DEFAULT_SKIP = ["m02_ngram_jaccard", "m08_dedup_components"]
MAX_STAGES = 25
MB = 1e6


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_entry(spark, sf_dir, name, fn, act=_noop_write, stages=False):
    """Run ``act`` on the DataFrame ``fn`` builds, under the job group
    ``name``; return ``({"query", "sec"[, "error"][, "stages"]}, act's
    result)``. An exception is recorded, not raised. The entry is built
    and run in one ``held()`` scope, which releases the storage it took.
    For ``stages`` the listener bus is drained first, so the status store
    has seen every job."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    t0 = time.time()
    out, err = None, None
    try:
        with held():
            out = act(fn(spark, sf_dir))
    except Exception as e:  # record and keep sweeping
        err = f"{type(e).__name__}: {str(e)[:200]}"
    rec = {"query": name, "sec": round(time.time() - t0, 2)}
    if err is not None:
        rec["error"] = err
    sc._jsc.clearJobGroup()
    if stages:
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        rec["stages"] = stage_rows(spark, name)[:MAX_STAGES]
    return rec, out


def stage_rows(spark, group: str) -> list[dict]:
    """The executed stages of ``group``'s jobs, most task time first. A
    stage shared by several jobs counts once; a skipped stage (never
    submitted: its shuffle output already existed) not at all."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    rows, seen = [], set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else []:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted past spark.ui.retainedStages
                continue
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isEmpty():
                continue
            wall_ms = done.get().getTime() - sub.get().getTime() if done.isDefined() else 0
            rows.append({
                "stage": sid,
                "name": sd.name()[:120],
                "sec": round(wall_ms / 1000, 2),
                "task_sec": round(sd.executorRunTime() / 1000, 2),
                "tasks": sd.numTasks(),
                "gc_sec": round(sd.jvmGcTime() / 1000, 2),
                "fetch_wait_sec": round(sd.shuffleFetchWaitTime() / 1000, 2),
                "shuffle_read_mb": round(sd.shuffleReadBytes() / MB, 1),
                "shuffle_write_mb": round(sd.shuffleWriteBytes() / MB, 1),
                "input_mb": round(sd.inputBytes() / MB, 1),
                "spill_mb": round(sd.diskBytesSpilled() / MB, 1),
                "peak_exec_mb": round(sd.peakExecutionMemory() / MB, 2),
            })
    return sorted(rows, key=lambda r: -r["task_sec"])


def sweep(spark, sf_dir, out_path, only=None, skip=DEFAULT_SKIP, resume=False, stages=False):
    done = set()
    if resume and os.path.exists(out_path):
        with open(out_path) as f:
            for line in f:
                try:
                    done.add(json.loads(line)["query"])
                except (ValueError, KeyError):  # a row cut off by the kill
                    pass
    qs = entry_mod.queries()
    with open(out_path, "a" if resume else "w") as out:
        for name, fn in qs.items():
            if (only is not None and name not in only) or name in done:
                continue
            if name in skip:
                rec = {"query": name, "skipped": "uncapped quadratic under replica clones;"
                       " capped twin runs instead"}
            else:
                rec, _ = run_entry(spark, sf_dir, name, fn, stages=stages)
            out.write(json.dumps(rec) + "\n")
            out.flush()


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plans(spark, sf_dir, out, names, suffix=None):
    """Without ``suffix`` one combined file ``out``; with it one file per
    entry, ``out/<name>_<suffix>.txt``."""
    qs = entry_mod.queries()
    texts = []
    for name in names:
        rec, plan = run_entry(spark, sf_dir, name, qs[name], act=_formatted_plan)
        if "error" in rec:
            sys.exit(f"{name}: {rec['error']}")
        texts.append((name, plan))
    if suffix is None:
        with open(out, "w") as f:
            f.write(
                f"# Formatted physical plans at {sf_dir} (spark._jdf explain 'formatted')\n"
                "# Read together with tests/test_plan_audit.py, which pins these plans' "
                "properties.\n"
            )
            for name, plan in texts:
                f.write(f"\n{'=' * 72}\n== {name}\n{'=' * 72}\n{plan}\n")
        print("wrote", out)
        return
    os.makedirs(out, exist_ok=True)
    for name, plan in texts:
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} @ {sf_dir} ==\n{plan}\n")
        print("wrote", path)


def duckdb_times(sf_dir, names) -> dict[str, float]:
    import duckdb

    oracles = entry_mod.oracle_sql()
    times: dict[str, float] = {}
    with duckdb.connect() as con:
        for t in DUCKDB_TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name in names:
            con.execute(oracles[name]).fetchall()  # warm
            for _ in range(3):
                t0 = time.time()
                con.execute(oracles[name]).fetchall()
                dt = round(time.time() - t0, 3)
                times[name] = min(times.get(name, dt), dt)
    times["total"] = round(sum(times.values()), 3)
    return times


def _sweep_secs(path: str) -> dict[str, float]:
    with open(path) as f:
        rows = [json.loads(line) for line in f]
    return {r["query"]: r["sec"] for r in rows if "sec" in r and "error" not in r}


def compare(small_path, big_path, ratio=10.0, k=2.0) -> None:
    small, big = _sweep_secs(small_path), _sweep_secs(big_path)
    rows = [
        (q, small[q], tb, tb / (ratio * max(small[q], 0.2)))
        for q, tb in sorted(big.items(), key=lambda kv: -kv[1])
        if q in small
    ]
    print(f"{'query':38s} {'small':>8s} {'big':>8s} {'x-linear':>9s}")
    for q, ts, tb, sc in rows:
        mark = "  <-- FLAG" if sc > k else ""
        print(f"{q:38s} {ts:8.2f} {tb:8.2f} {sc:9.2f}{mark}")
    flagged = sum(sc > k for *_, sc in rows)
    print(
        f"\n{len(rows)} compared, {flagged} above {k}x linear; "
        f"totals {sum(small.values()):.1f}s -> {sum(big.values()):.1f}s"
    )


def _names(s: str) -> list[str]:
    return [n for n in s.split(",") if n]


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("sf_dir")
    s.add_argument("out")
    s.add_argument("--only", type=_names)
    s.add_argument("--skip", type=_names, default=DEFAULT_SKIP)
    s.add_argument("--resume", action="store_true")
    s.add_argument("--stages", action="store_true")
    s = sub.add_parser("plans")
    s.add_argument("sf_dir")
    s.add_argument("out")
    s.add_argument("names", type=_names)
    s.add_argument("--suffix")
    s = sub.add_parser("duckdb")
    s.add_argument("sf_dir")
    s = sub.add_parser("compare")
    s.add_argument("small")
    s.add_argument("big")
    s.add_argument("ratio", nargs="?", type=float, default=10.0)
    s.add_argument("k", nargs="?", type=float, default=2.0)
    a = p.parse_args(argv)

    if a.cmd == "compare":
        compare(a.small, a.big, a.ratio, a.k)
    elif a.cmd == "duckdb":
        print(json.dumps(duckdb_times(a.sf_dir, HEADLINE)))
    else:
        from db_loganalyzer_spark.session import get_spark

        spark = get_spark(f"measure-{a.cmd}")
        if a.cmd == "sweep":
            sweep(spark, a.sf_dir, a.out, a.only, a.skip, a.resume, a.stages)
        else:
            plans(spark, a.sf_dir, a.out, a.names, a.suffix)


if __name__ == "__main__":
    main()
