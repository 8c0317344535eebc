"""Streaming wall-clock evidence (VERDICT r5 item 6): sustained
micro-batch throughput and state size for the stateful streaming
operators, measured from StreamingQueryProgress — not from the
availableNow correctness drains.

Usage: python scripts/bench_streaming.py [SF_DIR] [N_SLICES]

Method: the source table is re-landed as N_SLICES time-ordered parquet
files (the landing-directory model the file source is documented for);
each query streams them with ``maxFilesPerTrigger=1`` so every slice is
one micro-batch. Reported per query, all from the progress events:
  - rows_per_sec_sustained: total input rows / total micro-batch
    processing time (excludes the idle gaps between triggers)
  - rows_per_sec_wall: total input rows / wall-clock of the whole drain
  - batch_ms_p50/p95: micro-batch durations
  - state_rows / state_mb: final stateOperators totals (the per-key
    state story: HLL keeps <= 2^p register rows per open window,
    gap-fill keeps 2 scalars per key)
Prints ONE JSON line per query.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loganalyzer_spark.session import get_spark
from db_loganalyzer_spark.streaming import streams as ST

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
N_SLICES = int(sys.argv[2]) if len(sys.argv) > 2 else 20


def land_slices(spark, table: str, workdir: str) -> tuple[str, int]:
    """Write the table as N_SLICES ts-ordered parquet files, one per
    time range, landed sequentially (increasing mtime) so the file
    source discovers them in stream order."""
    from db_loganalyzer_spark.sources.tables import load_table

    df = load_table(spark, SF_DIR, table).orderBy("ts", "event_id")
    n = df.count()
    land = os.path.join(workdir, table)
    os.makedirs(land, exist_ok=True)
    sliced = df.repartitionByRange(N_SLICES, "ts", "event_id")
    tmp = os.path.join(workdir, f"__{table}_parts")
    sliced.write.mode("overwrite").parquet(tmp)
    parts = sorted(
        f for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    for i, f in enumerate(parts):
        shutil.move(
            os.path.join(tmp, f), os.path.join(land, f"{table}-{i:05d}.parquet")
        )
        os.utime(os.path.join(land, f"{table}-{i:05d}.parquet"), None)
    return land, n


def stream_from(spark, land_dir: str, template_df):
    reader = (
        spark.readStream.schema(template_df.schema)
        .option("maxFilesPerTrigger", 1)
    )
    return reader.parquet(land_dir)


# Optional subset selection: SPARK_GRAFT_STREAM_ONLY="st12_enrich,..."
# skips the drain (and its cost) for every query not named.
_ONLY = {
    s for s in os.environ.get("SPARK_GRAFT_STREAM_ONLY", "").split(",") if s
}


def drain_with_progress(
    df, name: str, workdir: str, n_rows: int, output_mode: str = "append"
) -> dict:
    if _ONLY and name not in _ONLY:
        return {"query": name, "skipped": "not in SPARK_GRAFT_STREAM_ONLY"}
    q = (
        df.writeStream.format("noop")
        .queryName(name)
        .outputMode(output_mode)
        .option(
            "checkpointLocation", os.path.join(workdir, "ckpt", name)
        )
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.time()
    q.awaitTermination()
    wall = time.time() - t0
    prog = [
        p if isinstance(p, dict) else json.loads(p.json)
        for p in q.recentProgress
    ]
    batches = [p for p in prog if p.get("numInputRows", 0) > 0]
    durs = sorted(p["batchDuration"] for p in batches)
    proc_ms = sum(durs)
    state_rows = state_mb = 0
    for p in reversed(prog):
        ops = p.get("stateOperators") or []
        if ops:
            state_rows = sum(o.get("numRowsTotal", 0) for o in ops)
            state_mb = sum(o.get("memoryUsedBytes", 0) for o in ops) / 1e6
            break
    return {
        "query": name,
        "input_rows": n_rows,
        "micro_batches": len(batches),
        "rows_per_sec_sustained": round(n_rows / (proc_ms / 1000.0), 1)
        if proc_ms
        else None,
        "rows_per_sec_wall": round(n_rows / wall, 1),
        "batch_ms_p50": durs[len(durs) // 2] if durs else None,
        "batch_ms_p95": durs[int(len(durs) * 0.95)] if durs else None,
        "state_rows": state_rows,
        "state_mb": round(state_mb, 2),
        "sf_dir": SF_DIR,
    }


def main():
    spark = get_spark("bench-streaming")
    # State-store partition count = shuffle partitions, FIXED at the
    # first checkpoint. Every micro-batch pays per-partition overhead
    # (store open/commit + one python worker per partition), so at
    # local[32] fewer/fatter state partitions win; a cluster deployment
    # sizes this to executors, not to micro-batch row counts.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"),
    )
    workdir = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        from db_loganalyzer_spark.sources.tables import load_table

        land, n = land_slices(spark, "events", workdir)
        template = load_table(spark, SF_DIR, "events")

        # st07: windowed HLL registers — state is (window, bucket) maxes
        hll = ST.streaming_hll_registers(
            stream_from(spark, land, template),
            window_seconds=3600,
            key_col="user_id",
            p=12,
        )
        print(json.dumps(drain_with_progress(hll, "st07_hll", workdir, n)))

        # st09, st11, st10: the key-bucketed stateful folds — 2 scalars
        # of state per key, packed into streams._STATE_GROUPS state groups
        gap = ST.streaming_gap_fill(
            stream_from(spark, land, template), bucket_seconds=300
        )
        print(json.dumps(drain_with_progress(gap, "st09_gap_fill", workdir, n)))

        # st11: CUSUM — 2 BIGINT scalars per key
        cus = ST.streaming_cusum(
            stream_from(spark, land, template), ref=35.0, threshold=1000.0
        )
        print(json.dumps(drain_with_progress(cus, "st11_cusum", workdir, n)))

        # st10: per-sample counter rates — one output row per input row
        rat = ST.streaming_counter_rates(stream_from(spark, land, template))
        print(json.dumps(drain_with_progress(rat, "st10_rates", workdir, n)))

        # st12: stream-static enrich — ZERO state by construction; the
        # number is the stateless broadcast-join cost per micro-batch
        dim = template.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("type_n")
        )
        enr = ST.streaming_enrich(
            stream_from(spark, land, template), dim, on=["event_type"]
        )
        print(json.dumps(drain_with_progress(enr, "st12_enrich", workdir, n)))

        # st13: stream-stream interval join — state is both sides'
        # watermark-bounded buffers, GC'd as the watermark advances
        sa = (
            stream_from(spark, land, template)
            .filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("err_id"),
                F.col("user_id").alias("err_user"),
                F.col("ts").alias("err_ts"),
            )
        )
        sb = (
            stream_from(spark, land, template)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("clk_id"),
                F.col("user_id").alias("clk_user"),
                F.col("ts").alias("clk_ts"),
            )
        )
        sij = ST.streaming_interval_join(
            sa, sb, [("err_user", "clk_user")], 3600,
            left_ts="err_ts", right_ts="clk_ts",
        )
        print(
            json.dumps(
                drain_with_progress(sij, "st13_interval_join", workdir, n)
            )
        )

        # st04: streaming exact dedup over the DOCUMENTS feed — state is
        # one row per distinct content hash (32 B key + min-id + count;
        # hashes only, never text). Unlike every windowed operator above
        # the state is NOT watermark-GC'd: it grows with distinct
        # content forever, which is the point of measuring it — the
        # growth curve (state_rows vs input docs) is the evidence behind
        # the RocksDB-state-store production note in BASELINE.md.
        doc_df = load_table(spark, SF_DIR, "documents").orderBy("doc_id")
        n_docs = doc_df.count()
        dland = os.path.join(workdir, "documents")
        os.makedirs(dland, exist_ok=True)
        dtmp = os.path.join(workdir, "__documents_parts")
        doc_df.repartitionByRange(N_SLICES, "doc_id").write.mode(
            "overwrite"
        ).parquet(dtmp)
        dparts = sorted(f for f in os.listdir(dtmp) if f.endswith(".parquet"))
        for i, f in enumerate(dparts):
            shutil.move(
                os.path.join(dtmp, f),
                os.path.join(dland, f"documents-{i:05d}.parquet"),
            )
        ddp = ST.streaming_exact_dedup(stream_from(spark, dland, doc_df))
        r = drain_with_progress(
            ddp, "st04_dedup", workdir, n_docs, output_mode="update"
        )
        print(json.dumps(r))

        # st14: streaming near-dup probe against a standing LSH index —
        # ZERO state (stream-static join); the per-batch cost is stream-
        # side signatures + the (band, bucket) equi-join. Index = the
        # full corpus, persisted once, the production shape.
        from db_loganalyzer_spark.operators.dedup import (
            minhash_lsh_index,
            minhash_signatures,
        )

        idx = minhash_lsh_index(
            minhash_signatures(doc_df, 32, 3), bands=8
        ).persist()
        idx.count()  # materialize outside the drain timing
        ndp = ST.streaming_neardup_probe(
            stream_from(spark, dland, doc_df), idx,
            threshold=0.5, num_hashes=32, bands=8, n=3,
        )
        r = drain_with_progress(ndp, "st14_neardup_probe", workdir, n_docs)
        print(json.dumps(r))
        idx.unpersist()

        # st15: stateful interval coalescing — state is 4 BIGINT scalars
        # per key (open island + next island id); land_slices' time-
        # ordered files satisfy the start-ordered landing precondition.
        # Interval derivation = the registry entries' shared helper, so
        # the bench can never desync from the oracle convention.
        import __spark_entry__ as entry_mod

        iv = entry_mod._event_intervals(
            stream_from(spark, land, template), drop_null_values=True
        )
        ic = ST.streaming_interval_coalesce(iv, "user_id")
        r = drain_with_progress(ic, "st15_interval_coalesce", workdir, n)
        print(json.dumps(r))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
