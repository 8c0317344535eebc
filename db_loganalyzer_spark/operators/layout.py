"""Data-layout operators: multi-dimensional clustering for scan pruning.

At 100 TB the scan is the query: parquet row groups are skipped by
min/max statistics, and those statistics are only tight if the write
LAYOUT clusters the filter columns. A sort on one column gives perfect
pruning on it and none on any other; interleaving the bits of two
columns into a Morton (Z-order) key — the technique behind Delta Lake's
``OPTIMIZE ZORDER BY`` and Iceberg's z-ordered rewrites — makes every
key-range bucket a small rectangle in BOTH dimensions, so predicates on
either column skip most buckets.

Everything here is exact integer column math (closed under any SQL
engine): min/max normalization to a ``bits``-wide grid, an unrolled
bit-interleave (whole-stage codegen keeps it one projection), and a
bucket audit that reports the per-bucket bounding box — the quantity
that IS the skipping effectiveness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grid_terms(v: Column, vmin: Column, vmax: Column, bits: int = 16):
    """Numerator/denominator of the exact-integer grid scaling
    ``(v - vmin) * (2^bits - 1) div (vmax - vmin)``: returned as a pair
    so the caller can materialize them as named columns and divide with
    SQL ``div`` — INTEGER division on BIGINT. The numerator reaches
    ~1.7e17 for epoch-microsecond domains, past double's 2^53 exact
    range, so a float division here would silently mis-bucket; the
    whole key path must stay in int64 (both engines agree on
    non-negative ``div``/``//``). Constant-domain degenerate case maps
    to 0 via span=1 on an all-zero numerator."""
    top = (1 << bits) - 1
    num = (v - vmin) * top
    span = F.greatest(vmax - vmin, F.lit(1).cast("long"))
    return num.cast("long"), span.cast("long")


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton interleave of two ``bits``-wide non-negative integers:
    bit k of x lands at position 2k+1, bit k of y at 2k. Unrolled at
    plan-build time (bits is a Python int), so the whole key is ONE
    codegen'd projection — no UDF, no loop at run time."""
    z = F.lit(0).cast("long")
    for k in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k + 1)
            + F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k)
        )
    return z


def zorder_layout_audit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    bucket_bits: int = 8,
) -> DataFrame:
    """OPT01 — audit what a Z-ordered rewrite of ``df`` would buy: key
    every row by the Morton interleave of (x, y), split the key range
    into ``2^bucket_bits`` contiguous buckets (the stand-ins for output
    files), and report each bucket's row count and per-dimension
    bounding box on the normalized grid. Tight boxes in BOTH columns =
    a filter on EITHER column prunes most buckets; a linear sort would
    show full-width boxes in the secondary column.

    Plan shape: one 1-row bounds aggregate broadcast back (the j02
    pattern — four longs, never data-sized), one projection for the
    key, one groupBy on the bucket (bounded output: <= 2^bucket_bits
    rows). The write itself would be ``df.repartitionByRange(N,
    zkey)`` + sortWithinPartitions — this audit is the decision input,
    same scan cost as any full aggregate.
    """
    bounds = df.agg(
        F.min(x_col).cast("long").alias("__xmin"),
        F.max(x_col).cast("long").alias("__xmax"),
        F.min(y_col).cast("long").alias("__ymin"),
        F.max(y_col).cast("long").alias("__ymax"),
    )
    d = df.crossJoin(F.broadcast(bounds))
    numx, spanx = grid_terms(
        F.col(x_col).cast("long"), F.col("__xmin"), F.col("__xmax"), bits
    )
    numy, spany = grid_terms(
        F.col(y_col).cast("long"), F.col("__ymin"), F.col("__ymax"), bits
    )
    # materialize numerators/spans as named columns, divide with SQL
    # `div` (exact int64 — see grid_terms), then codegen shares the two
    # grid columns across the 2*bits interleave terms
    keyed = d.select(
        numx.alias("__nx"), spanx.alias("__sx"),
        numy.alias("__ny"), spany.alias("__sy"),
    ).select(
        F.expr("__nx div __sx").alias("gx"),
        F.expr("__ny div __sy").alias("gy"),
    )
    z = zorder_key(F.col("gx"), F.col("gy"), bits)
    bucketed = keyed.select(
        "gx",
        "gy",
        F.shiftright(z, 2 * bits - bucket_bits).cast("long").alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("gx").alias("x_lo"),
        F.max("gx").alias("x_hi"),
        F.min("gy").alias("y_lo"),
        F.max("gy").alias("y_hi"),
    )


def zorder_skip_estimate(
    audit: DataFrame,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
) -> DataFrame:
    """OPT02 — the skip-estimate the audit exists to answer, as ONE
    queryable row: given a predicate box on the normalized grid, how
    many key-range buckets (= output files of the z-ordered rewrite)
    must a min/max-stats reader scan under an x-only predicate, a
    y-only predicate, and the 2-D box — plus the rows inside the 2-D
    scan set. A bucket is scanned iff its bounding box OVERLAPS the
    predicate range on every bounded dimension (exactly the parquet
    row-group rule; scripts/bench_zorder.py validated the estimate
    against real footers: z-order took user-predicate scans from 64/64
    files to 14/64 where the linear sort skipped nothing).

    Input is :func:`zorder_layout_audit` output (<= 2^bucket_bits
    rows), so this is a bounded single-row aggregate — the layout
    decision becomes a query, not a script run.
    """
    xlo, xhi = (int(v) for v in x_range)
    ylo, yhi = (int(v) for v in y_range)
    hit_x = (F.col("x_hi") >= xlo) & (F.col("x_lo") <= xhi)
    hit_y = (F.col("y_hi") >= ylo) & (F.col("y_lo") <= yhi)
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return audit.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("total_rows"),
        F.sum(F.when(hit_x, one).otherwise(zero)).alias("scan_x"),
        F.sum(F.when(hit_y, one).otherwise(zero)).alias("scan_y"),
        F.sum(F.when(hit_x & hit_y, one).otherwise(zero)).alias("scan_xy"),
        F.sum(F.when(hit_x & hit_y, F.col("n")).otherwise(zero))
        .cast("long")
        .alias("rows_xy"),
    )


def compaction_plan(
    manifest: DataFrame,
    target_bytes: int,
    part_keys: list[str],
    file_col: str = "file_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """OPT03 — small-files compaction planning (the decision step of a
    Delta/Iceberg ``OPTIMIZE`` rewrite): assign each input file to an
    output group so groups fill to ~``target_bytes``, by sorted fill —
    walk the partition's files in (file id) order and cut a new group
    whenever the running total crosses the target:
    ``out_group = cum_bytes_before div target``. Deterministic, exact
    int64, restatable by any engine; a file larger than the target gets
    its own group by construction. (pack01's length-sorted best-fit is
    the tighter packing when re-ordering is allowed; sorted fill keeps
    the existing order — what compaction of time-ordered logs wants.)

    Scale shape: the input is a MANIFEST (one row per FILE, not per
    data row) and the only window is the per-partition-dir cumulative
    sum — compaction is planned per partition directory, so no global
    order exists anywhere. Output: one row per file with its group and
    the group-relative fill, ready to drive ``repartitionByRange`` +
    per-group writes.
    """
    w = (
        Window.partitionBy(*part_keys)
        .orderBy(file_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(bytes_col).over(w).cast("long"), F.lit(0).cast("long")
    )
    staged = manifest.select(
        *part_keys,
        F.col(file_col),
        F.col(bytes_col).cast("long").alias(bytes_col),
        cum_before.alias("cum_bytes_before"),
    )
    # `div` keeps the group id exact int64 at any manifest size
    return staged.withColumn(
        "out_group",
        F.expr(f"cum_bytes_before div {int(target_bytes)}"),
    )


def zorder_apply(
    df: DataFrame,
    x_col: str,
    y_col: str,
    out_dir: str,
    bits: int = 16,
    bucket_bits: int = 8,
) -> None:
    """OPT05 — EXECUTE the z-order layout :func:`zorder_layout_audit`
    audits and :func:`zorder_skip_estimate` prices: key every row by
    the Morton interleave of (x, y), bucket the key range into
    ``2^bucket_bits`` contiguous buckets — the audit's buckets, now as
    OUTPUT FILES — and write one parquet file per occupied bucket,
    rows z-sorted inside it.

    Deterministic by construction: the bucket is integer column math
    (``z >> (2*bits - bucket_bits)``), not ``repartitionByRange``'s
    sampled boundaries — so file count == occupied buckets exactly, a
    property an equivalence oracle can restate (opt04's trick). The
    sort leads with the partition column so the partitioned write does
    not inject its own sort over the cluster order (the opt04 bug,
    measured in bench_data/compaction_r12.jsonl). Plan shape: one
    1-row bounds aggregate broadcast back, one projection for the key,
    ONE shuffle keyed by bucket, a local sort — Delta's OPTIMIZE
    ZORDER BY plan."""
    bounds = df.agg(
        F.min(x_col).cast("long").alias("__xmin"),
        F.max(x_col).cast("long").alias("__xmax"),
        F.min(y_col).cast("long").alias("__ymin"),
        F.max(y_col).cast("long").alias("__ymax"),
    )
    d = df.crossJoin(F.broadcast(bounds))
    numx, spanx = grid_terms(
        F.col(x_col).cast("long"), F.col("__xmin"), F.col("__xmax"), bits
    )
    numy, spany = grid_terms(
        F.col(y_col).cast("long"), F.col("__ymin"), F.col("__ymax"), bits
    )
    keyed = (
        d.withColumn("__nx", numx)
        .withColumn("__sx", spanx)
        .withColumn("__ny", numy)
        .withColumn("__sy", spany)
        .withColumn(
            "__z",
            zorder_key(
                F.expr("__nx div __sx"), F.expr("__ny div __sy"), bits
            ),
        )
        .withColumn(
            "zbucket",
            F.shiftright(F.col("__z"), 2 * bits - bucket_bits).cast("long"),
        )
        .drop("__xmin", "__xmax", "__ymin", "__ymax",
              "__nx", "__sx", "__ny", "__sy")
    )
    shaped = (
        keyed.repartition(F.col("zbucket"))
        .sortWithinPartitions("zbucket", "__z")
        .drop("__z")
    )
    shaped.write.mode("overwrite").partitionBy("zbucket").parquet(out_dir)


def compaction_apply(
    data: DataFrame,
    plan: DataFrame,
    part_keys: list[str],
    out_dir: str,
    file_col: str = "file_id",
    sort_cols: list[str] | None = None,
    write_options: dict | None = None,
) -> None:
    """OPT04 (write half) — EXECUTE a :func:`compaction_plan`: rewrite
    the small-files tree so every planned output group lands as exactly
    ONE parquet file, rows z/sort-clustered inside it.

    Mechanics, and why each step is load-bearing:

    - the plan joins onto the data by (part_keys, file_col). The plan
      is manifest-sized (one row per FILE), so it broadcasts — the only
      shuffle of DATA rows is the repartition below.
    - ``repartition(part_keys..., out_group)`` puts each (partition,
      group) combo in exactly one task. Two combos sharing a task is
      fine: the ``partitionBy`` write splits them back into their own
      leaf directories, and each directory then receives output from
      exactly one task => exactly one data file per group, which is
      the whole point of compaction (file count == plan, no
      maxRecordsPerFile surprises — callers must not set it).
    - ``sortWithinPartitions(sort_cols)`` clusters rows inside each
      output file so its parquet row-group min/max stats are tight
      (pass the opt01/opt02 z-order key here to keep the clustering
      the skip estimate priced). The sort only pays off if each file
      holds SEVERAL row groups — at the default 128 MiB block size a
      modest compaction target is one group and the stats are
      file-wide; pass ``write_options={"parquet.block.size": ...}``
      sized to ~target_bytes/16 so the intra-file clustering
      materializes as prunable footer stats (bench_compaction.py
      measures exactly this).

    Scale shape: one broadcast-joined projection + one shuffle keyed by
    (partition, group) + a local sort — the same plan Delta's OPTIMIZE
    executes. Nothing is driver-sized except the plan manifest.
    """
    joined = data.join(
        F.broadcast(plan.select(*part_keys, file_col, "out_group")),
        on=[*part_keys, file_col],
        how="inner",
    )
    shaped = joined.repartition(*[F.col(k) for k in part_keys], F.col("out_group"))
    if sort_cols:
        # the partition columns LEAD the sort: the partitioned write
        # requires (part_keys, out_group) ordering and would otherwise
        # inject its own sort on exactly those columns, silently
        # discarding the cluster-key order this call exists to produce
        shaped = shaped.sortWithinPartitions(
            *part_keys, "out_group", *sort_cols
        )
    writer = shaped.write.mode("overwrite")
    for k, v in (write_options or {}).items():
        writer = writer.option(k, v)
    writer.partitionBy(*part_keys, "out_group").parquet(out_dir)


def compaction_verify(
    spark,
    out_dir: str,
    part_keys: list[str],
    hash_col: Column,
) -> DataFrame:
    """OPT04 (verify half) — read the rewritten tree back and reduce it
    to the per-partition equivalence summary the oracle can restate
    from the SOURCE table: row count, an order-independent
    content hash (sum of the caller's engine-portable per-row
    ``hash_col`` — mix32-based, so any dropped/duplicated/corrupted row
    moves it; sum of <= 2^32 values stays exact int64 to ~2e9 rows per
    partition, enough for any sane file-compaction unit), the group
    count, and the REAL file count via ``input_file_name()``. A correct
    rewrite has n_files_out == n_groups (one file per group) and
    (n_rows, content_hash) equal to the source's — which is exactly
    what the DuckDB oracle predicts without ever seeing the files."""
    df = spark.read.parquet(out_dir)
    return (
        df.withColumn("__file", F.input_file_name())
        .groupBy(*[F.col(k).cast("long").alias(k) for k in part_keys])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(hash_col).cast("long").alias("content_hash"),
            F.countDistinct("out_group").cast("long").alias("n_groups"),
            F.countDistinct("__file").cast("long").alias("n_files_out"),
        )
    )
