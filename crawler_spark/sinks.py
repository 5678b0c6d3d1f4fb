"""Output sinks — the CSVDataStorage contract, Spark-native.

Reference: ``NewCSVDataStorage.Persist`` drains the collector and writes
one CSV file with a header row of the field names, flushing every 100
rows (/root/reference/storage.go:23-44, 9, 36-40). Semantics to keep:

* the output schema is the ordered field-name list → header=True;
* every value is a string (``FieldValues []string``, collector.go:13) →
  all columns are cast to string on write, so the file is byte-stable
  regardless of upstream column types;
* append-only, no ordering guarantee (result order is fetch-completion
  order, SURVEY §3) → distributed part-files are fine; the incremental
  100-row flush is an artifact of the single-writer design and is
  subsumed by Spark's per-task streaming CSV writers.

Scale note: one CSV *file* is a single-writer bottleneck; the default
here is a part-file directory (each task streams its own file). Pass
``single_file=True`` only for small, reference-parity outputs — it
coalesces to one partition by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    """Write ``df`` as header CSV with every column cast to string
    (storage.go's all-strings row model)."""
    out = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    if single_file:
        out = out.coalesce(1)
    out.write.mode(mode).option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a :func:`write_csv` directory back: header on, all columns
    string (no inference — the reference data model is string-typed)."""
    return (
        spark.read.option("header", True).option("inferSchema", False).csv(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink (typed, unlike the all-strings CSV contract) —
    the third interchange format next to parquet and JSONL. ORC keeps
    column statistics per stripe, so downstream predicate pushdown works
    the same as parquet's."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read an ORC directory; schema travels with the file (no inference
    pass, no declared schema needed — unlike JSONL)."""
    return spark.read.orc(path)


def compaction_plan(
    files: DataFrame,
    part_col: str = "partition",
    path_col: str = "path",
    size_col: str = "size_bytes",
    target_bytes: int = 128 << 20,
) -> DataFrame:
    """Small-file compaction planner (r5) — the maintenance pass a real
    Iceberg table runs as ``rewrite_data_files``, for the parquet-dir
    checkpoint fallback (scheduler.py's Iceberg stand-in): a long crawl
    appends a file per round per partition, and scan task count grows
    without bound until someone groups small files into target-size
    rewrites. Within each partition, files are packed in deterministic
    (size desc, path) order by running-total next-fit: a file joins group
    ``floor(bytes_before_it / target_bytes)`` — the planner real
    compactors use (sort, accumulate, cut at the target), and a pure
    windowed cumsum here.

    Output: one row per file — ``(partition, path, size_bytes, group_id,
    n_groups)``; the executor rewrites each (partition, group_id) set as
    one file. floor() is EXPLICIT (Spark's double→int cast truncates,
    DuckDB's rounds — the repo determinism rule), and the division is a
    single IEEE op so the oracle replays group ids bit-identically.

    Scale shape: one exchange on the partition key; both the cumsum and
    the per-partition group count ride the SAME window sort (two frames,
    one exchange — the stacked-window discipline). File listings are
    metadata-sized (one row per file, not per record), so this plans a
    100-TB table's rewrite with a dimension-scale job.
    """
    w = Window.partitionBy(part_col).orderBy(F.col(size_col).desc(), F.col(path_col))
    cum_before = F.coalesce(
        F.sum(size_col).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    group = F.floor(cum_before / F.lit(target_bytes)).cast("long")
    n_groups = (
        F.max(group).over(
            Window.partitionBy(part_col).orderBy(
                F.col(size_col).desc(), F.col(path_col)
            ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        + 1
    )
    return files.select(
        F.col(part_col),
        F.col(path_col),
        F.col(size_col).cast("long").alias(size_col),
        group.alias("group_id"),
        n_groups.cast("long").alias("n_groups"),
    )


def snapshot_retention_plan(
    snapshots: DataFrame,
    id_col: str = "snapshot_id",
    ts_col: str = "ts",
    keep_last: int = 20,
    keep_daily_days: int = 180,
    now: str = "2001-07-31",
) -> DataFrame:
    """Snapshot retention planner (r5) — the ``expire_snapshots``
    maintenance pass beside :func:`compaction_plan`'s
    ``rewrite_data_files``: a long crawl checkpoints every round, and
    snapshot metadata (plus the data files only old snapshots pin)
    grows without bound until someone expires. Retention rule, the
    GFS-rotation shape real tables use: KEEP the ``keep_last`` newest
    snapshots (time-travel window), plus each calendar day's newest
    snapshot for the trailing ``keep_daily_days`` (daily restore
    points); everything else is expirable.

    Output: one row per snapshot — ``(id, ts, rn, is_recent_keeper,
    is_daily_keeper, keep)``, ordering/ranks fully tie-broken by
    ``(ts desc, id desc)``.

    Scale note: the global rank is a SinglePartition window — correct
    HERE because snapshot metadata is O(crawl rounds), thousands of
    rows for a year-long crawl, not data-sized; the same op over a
    data-scale frame would need the top-k/window-group-limit shapes
    used elsewhere. The daily rank partitions by day and shares the
    same sort order.
    """
    day = F.col(ts_col).cast("date")
    w_global = Window.orderBy(F.col(ts_col).desc(), F.col(id_col).desc())
    w_day = Window.partitionBy(day).orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    cutoff = F.date_sub(F.lit(now).cast("date"), keep_daily_days)
    rn = F.row_number().over(w_global)
    day_rn = F.row_number().over(w_day)
    return snapshots.select(
        F.col(id_col),
        F.col(ts_col),
        rn.cast("long").alias("rn"),
        (rn <= keep_last).alias("is_recent_keeper"),
        ((day_rn == 1) & (day > cutoff)).alias("is_daily_keeper"),
        ((rn <= keep_last) | ((day_rn == 1) & (day > cutoff))).alias("keep"),
    )
