"""Idempotent upsert sink (SURVEY.md §2.1 S6/S7).

The reference upserts per-flight approach rows with MySQL
``INSERT ... ON DUPLICATE KEY UPDATE`` plus a status flip, both in
one transaction (FlightAnalysis.py:22-30, 428-433). Without Delta
Lake in this environment, the same idempotent MERGE semantics are
provided over plain parquet via deterministic partition overwrite:

  * the table is hash-partitioned on the merge key into a fixed
    bucket count (directory column ``bucket=N``);
  * an upsert rewrites ONLY the buckets that contain incoming keys:
    old rows with a matching key are replaced, others in the bucket
    are carried over (dynamic partition overwrite);
  * re-running the same upsert is a no-op (idempotent), which is the
    property the reference's work-queue restart logic relies on.

At cluster scale this is the classic copy-on-write MERGE layout:
write amplification bounded by bucket granularity, reads prune on
the bucket column when filtering by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import scoped_conf

BUCKET_COL = "__bucket"
SPEC_FILE = "_bucket_spec.json"


def _with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )


def _write_spec(path: str, keys: list[str], n_buckets: int) -> None:
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, SPEC_FILE), "w") as f:
        json.dump({"keys": list(keys), "n_buckets": n_buckets}, f)


def _read_spec(path: str) -> dict | None:
    import json
    import os

    p = os.path.join(path, SPEC_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _resolve_layout(path: str, keys: list[str], n_buckets: int) -> tuple[list[str], int]:
    """The table's PERSISTED bucket layout always wins over caller
    arguments: an upsert bucketed with a different modulus writes
    matching keys into different partition directories and silently
    DUPLICATES rows (dynamic overwrite only replaces the partitions
    it writes). The spec file (underscore-prefixed: invisible to the
    parquet reader; the metadata-object analog on an object store)
    makes the layout a property of the table, not of each call."""
    import os

    spec = _read_spec(path)
    if spec is None:
        if os.path.isdir(path):
            # pre-spec table: best-effort inference from the bucket
            # directory names (an empty top bucket under-counts, but
            # trusting a mismatched caller modulus is strictly worse —
            # it silently duplicates rows)
            dirs = [
                d for d in os.listdir(path) if d.startswith(f"{BUCKET_COL}=")
            ]
            if dirs:
                # existing bucket dirs are ground truth: preferring a
                # larger caller modulus would hash matching keys into
                # DIFFERENT dirs than the stored rows — the silent
                # duplication this resolver exists to prevent. (A
                # sparse table can under-count its top dirs; the spec
                # file written by create_table makes this path rare.)
                inferred = max(int(d.split("=", 1)[1]) for d in dirs) + 1
                return keys, inferred
        return keys, n_buckets
    if list(keys) != list(spec["keys"]):
        raise ValueError(
            f"table at {path} is keyed on {spec['keys']}, not {list(keys)}"
        )
    return spec["keys"], int(spec["n_buckets"])


def create_table(df: DataFrame, path: str, keys: list[str], n_buckets: int = 16) -> None:
    """Initialize an upsert-able parquet table (layout recorded in a
    spec file so later upserts can never mis-bucket)."""
    (
        _with_bucket(df, keys, n_buckets)
        .write.partitionBy(BUCKET_COL)
        .mode("overwrite")
        .parquet(path)
    )
    _write_spec(path, keys, n_buckets)


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    n_buckets: int = 16,
) -> None:
    """MERGE: replace rows whose key appears in ``updates``, keep the
    rest, rewrite only affected buckets. The table's persisted bucket
    spec overrides ``keys``/``n_buckets`` (see _resolve_layout).
    ``updates`` must be key-unique (a MERGE with duplicate source keys
    has no single answer — raises instead of picking rows
    arbitrarily); NULL key values match null-safely."""
    import os

    table_was_absent = not os.path.isdir(path)
    keys, n_buckets = _resolve_layout(path, keys, n_buckets)
    updates = _with_bucket(updates, keys, n_buckets).cache()
    try:
        n_rows, n_keys = updates.select(
            F.count(F.lit(1)), F.count_distinct(*[F.col(k) for k in keys])
        ).first()
        touched = [
            r[BUCKET_COL] for r in updates.select(BUCKET_COL).distinct().collect()
        ]
        if not touched:
            return
        # count_distinct skips all-NULL keys; recheck with a null-safe
        # distinct only when the fast count disagrees
        if n_keys != n_rows and updates.select(*keys).distinct().count() != n_rows:
            raise ValueError(
                "updates contain duplicate merge keys; dedupe upstream "
                "(a MERGE with duplicate source rows has no single answer)"
            )
        try:
            existing = spark.read.parquet(path).filter(
                F.col(BUCKET_COL).isin(touched)
            )
        except Exception as e:
            # ONLY path-absent and empty-table (create_table with zero
            # rows writes no data files -> schema inference fails)
            # degenerate to an insert; any other read failure must
            # abort — swallowing it would replace every touched bucket
            # with just the incoming rows
            benign = (
                "PATH_NOT_FOUND" in str(e)
                or "Path does not exist" in str(e)
                or "UNABLE_TO_INFER_SCHEMA" in str(e)
            )
            if not benign:
                raise
            existing = updates.limit(0)
        anti = [
            existing[k].eqNullSafe(F.col(f"__u_{k}")) for k in keys
        ]
        key_set = updates.select(
            *[F.col(k).alias(f"__u_{k}") for k in keys]
        ).distinct()
        merged = existing.join(
            key_set, on=reduce_and(anti), how="left_anti"
        ).unionByName(updates)
        # break lineage from `path` before overwriting it (Spark refuses
        # to overwrite a path it is reading from); Delta MERGE would make
        # this a real transaction on a production cluster
        merged = merged.localCheckpoint(eager=True)
        with scoped_conf(
            spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        ):
            merged.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(path)
        if table_was_absent and _read_spec(path) is None:
            _write_spec(path, keys, n_buckets)
    finally:
        updates.unpersist()


def reduce_and(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)


def write_layout(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Data-layout writer for scan-heavy tables: directory
    partitioning on the coarse filter columns (planning-time
    PartitionFilters — zero I/O outside matching directories, the
    same mechanism write_ivf_index uses for ANN probes) plus
    sortWithinPartitions on the fine filter columns, which clusters
    values so parquet row-group min/max statistics actually prune
    (an unsorted write scatters every value range across every row
    group and the stats filter nothing). The one-level
    repartition(partition_cols) before the write keeps file count =
    O(partitions), not O(partitions x shuffle-width) — at 100 TB the
    difference between thousands and millions of files.

    This is the declarative half of Z-ordering: for ONE sort
    dimension it is exactly linear clustering; multi-dimensional
    skipping needs an interleaved key (add a computed z-key column
    to sort_cols if two fine dimensions genuinely co-filter)."""
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        # the dynamic-partition writer requires ordering on
        # partition_cols and inserts its own per-task sort if the
        # incoming order lacks that prefix — sorting once with the
        # writer's required prefix keeps ONE sort and makes the fine-
        # column clustering explicit instead of relying on the
        # inserted sort being stable
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    (
        out.write.partitionBy(*partition_cols)
        .option("maxRecordsPerFile", max_records_per_file)
        .mode(mode)
        .parquet(path)
    )


def z_key(c1, c2, bits: int = 16):
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    NON-NEGATIVE integer columns — the interleaved sort key
    write_layout's docstring points at for two co-filtering fine
    dimensions. Sorting by z_key clusters 2-D neighborhoods into the
    same parquet row groups, so min/max stats prune on BOTH columns
    (a single-column sort prunes only its leading dimension).

    Callers bucketize continuous values first (e.g.
    ``F.ntile`` ranks or fixed-width ``(col / w).cast('int')``
    buckets); 16+16 bits covers 65k x 65k buckets in one BIGINT.
    Pure codegen — one expression, no UDF."""
    a = F.col(c1) if isinstance(c1, str) else c1
    b = F.col(c2) if isinstance(c2, str) else c2
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def compact(
    spark: SparkSession,
    path: str,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Small-file compaction: rewrite the bucketed table so each
    bucket directory holds ~1 file (bounded by max_records_per_file).
    Many incremental upserts leave a trail of small files per bucket
    (every MERGE writes at least one file into each touched bucket);
    at 100 TB that shreds scan throughput — open/seek cost dominates
    and footer reads swamp the NameNode/object store. Compaction is
    the standard copy-on-write maintenance pass: one shuffle keyed on
    the bucket column, one file per (bucket, shuffle-partition) out.

    Content-preserving by construction (same rows, same layout, same
    schema); localCheckpoint breaks lineage so the path can be
    overwritten in place — Delta/Iceberg OPTIMIZE would make this a
    snapshot-isolated transaction on a production cluster."""
    spec = _read_spec(path)  # static overwrite deletes it; restore after
    df = spark.read.parquet(path)
    n_buckets = df.select(BUCKET_COL).distinct().count()
    compacted = df.repartition(max(n_buckets, 1), F.col(BUCKET_COL)).localCheckpoint(
        eager=True
    )
    try:
        with scoped_conf(
            spark, {"spark.sql.sources.partitionOverwriteMode": "static"}
        ):
            (
                compacted.write.partitionBy(BUCKET_COL)
                .option("maxRecordsPerFile", max_records_per_file)
                .mode("overwrite")
                .parquet(path)
            )
    finally:
        # inside finally: a crash after the static overwrite (which
        # deletes the spec along with the old files) but before the
        # restore must not strip the table's layout record
        if spec is not None:
            _write_spec(path, spec["keys"], spec["n_buckets"])


def mark_analyzed(
    spark: SparkSession,
    status_path: str,
    flight_ids: DataFrame,
    n_buckets: int = 16,
) -> None:
    """Status flip (S7, FlightAnalysis.py:32): upsert approach_analysis=1
    for the given flight_id rows."""
    done = flight_ids.select(
        F.col("flight_id"), F.lit(1).alias("approach_analysis")
    )
    upsert(spark, done, status_path, keys=["flight_id"], n_buckets=n_buckets)


# ---------------------------------------------------------------------------
# Coupled S6+S7 commit (the reference's single transaction,
# FlightAnalysis.py:428-433: executemany upsert + status UPDATE +
# one db.commit()).
# ---------------------------------------------------------------------------


def batch_fingerprint(
    approaches: DataFrame, analyzed_flights: DataFrame | None = None
) -> str:
    """Deterministic, order-independent id for a result batch: XOR of
    FULL-ROW hashes (keys AND values — a re-queued batch with the same
    keys but corrected values must map to a NEW transaction, or the
    committed-manifest check would skip the re-analysis forever), plus
    the analyzed-flight set when it is wider than the result set.
    Computed distributed (tiny aggregates)."""
    row = approaches.select(
        F.expr("bit_xor(xxhash64(struct(*)))").alias("fp"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    base = f"{(row['fp'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}_{row['n']}"
    if analyzed_flights is None:
        return base
    row2 = analyzed_flights.select(
        F.expr("bit_xor(xxhash64(flight_id))").alias("fp"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return f"{base}_{(row2['fp'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}_{row2['n']}"


def is_committed(txn_dir: str, txn_id: str) -> bool:
    import os

    return os.path.exists(os.path.join(txn_dir, f"{txn_id}.committed"))


def commit_analysis(
    spark: SparkSession,
    approaches: DataFrame,
    results_path: str,
    status_path: str,
    txn_dir: str,
    keys: list[str] | None = None,
    n_buckets: int = 16,
    analyzed_flights: DataFrame | None = None,
) -> str:
    """Atomically-recoverable S6+S7 commit over plain parquet.

    Without Delta's multi-table transaction, atomicity comes from
    ordering + idempotence + a commit manifest:

      1. upsert the approach rows (S6) — idempotent MERGE;
      2. flip approach_analysis=1 for the batch's flights (S7) —
         idempotent MERGE;
      3. atomically create ``<txn_dir>/<fingerprint>.committed``
         (os.rename of a temp file; on an object store this is the
         atomic PUT of the manifest key).

    Crash before (3): the status flip may be missing for some
    flights, so the work queue re-emits them and the whole batch
    replays — both upserts are idempotent, so replay converges to
    exactly the committed state (at-least-once execution,
    exactly-once effect: the reference relies on the same property
    when its transaction rolls back, FlightAnalysis.py:434-437).
    A batch whose manifest exists is skipped entirely on re-run.

    ``analyzed_flights`` is the set of flights whose status flips —
    pass the full work set when it is wider than the flights that
    produced approach rows (the reference flips the flag for every
    analyzed flight, episodes or not, FlightAnalysis.py:432; without
    this an episode-free flight would re-queue forever). Defaults to
    the flights present in ``approaches``. Returns the txn id."""
    import os
    import tempfile

    if keys is None:
        keys = ["flight_id", "approach_id"]
    if analyzed_flights is None:
        analyzed_flights = approaches.select("flight_id").distinct()
    os.makedirs(txn_dir, exist_ok=True)
    txn_id = batch_fingerprint(approaches, analyzed_flights)
    if is_committed(txn_dir, txn_id):
        return txn_id
    upsert(spark, approaches, results_path, keys=keys, n_buckets=n_buckets)
    mark_analyzed(
        spark,
        status_path,
        analyzed_flights.select("flight_id").distinct(),
        n_buckets=n_buckets,
    )
    fd, tmp = tempfile.mkstemp(dir=txn_dir, suffix=".tmp")
    os.close(fd)
    os.rename(tmp, os.path.join(txn_dir, f"{txn_id}.committed"))
    return txn_id
