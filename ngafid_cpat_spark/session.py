"""SparkSession factory.

Replaces the reference's hand-rolled multiprocessing consumer pool
(reference main.py:47-68, 138-159) with the Spark scheduler: one
session, parallelism from partitioning, no per-process DB connections.

Defaults are chosen for the driver's local[N] harness but written so
the same code scales to a multi-executor cluster: AQE enabled (runtime
coalesce + skew-join handling), explicit shuffle partition count,
Arrow-accelerated Python interop for the few pandas-UDF operators.

The engine's other session-conf decisions live here too: the compute
width every operator sizes its explicit repartitions to
(shuffle_width) and the one way to change a session conf for a
bounded region (scoped_conf).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_CONF_LOCK = threading.RLock()


def get_spark(
    app_name: str = "ngafid-cpat-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Env knobs (driver contract): ``SPARK_GRAFT_CPUS`` sets local
    parallelism; ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides the
    shuffle width (default 32 — sized so sf0.1 partitions fit easily
    in memory; on a real cluster you would size this to ~2-3x total
    cores and let AQE coalesce).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(SHUFFLE_PARTITIONS, str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def shuffle_width(spark: SparkSession) -> int:
    """The engine's compute width: the session shuffle partition
    count that get_spark sets (Spark has a built-in default too, so
    the conf always has a value)."""
    return int(spark.conf.get(SHUFFLE_PARTITIONS))


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the body of the ``with`` block,
    restoring each key's previous value on exit, also when the body
    raises.

    Session confs are session-global and PySpark has no
    expression-scoped withSQLConf, so a temporary value is seen by
    whatever plans on the session while the scope is open. A plan
    compiled during an AQE-off scope compiles wholesale without AQE
    (no runtime skew splitting); a stream started during a
    shuffle-partitions scope latches that count into its state layout.

    What the lock guarantees: one process-wide re-entrant lock is held
    for the whole scope, so the engine's own scopes are serialized —
    two threads can never interleave their set/restore pairs, and a
    scope nested on the same thread works. What it does not: a
    foreign plan built on the same SparkSession from another thread,
    outside any scope, can still see the temporary value. Concurrent
    plan builders must use separate SparkSession.newSession() handles.
    Every catalog query plans single-threaded on the driver."""
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
