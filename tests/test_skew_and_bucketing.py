"""Scale-path tests: salting preserves semantics; bucketed tables
join without an exchange (co-located join)."""

import io
import re
import threading
import time
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from ngafid_cpat_spark.operators import skew
from ngafid_cpat_spark.session import scoped_conf


@pytest.fixture(scope="module")
def skewed(spark):
    # key 'hot' carries 90% of rows
    rows = [{"k": "hot" if i % 10 else f"k{i}", "rid": i, "v": float(i % 7)} for i in range(2000)]
    return spark.createDataFrame(rows)


def test_salted_agg_equals_plain(spark, skewed):
    plain = {
        (r["k"]): (r["n"], r["s"])
        for r in skewed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["s"])
        for r in skew.salted_agg(
            skewed,
            key_cols=["k"],
            salt_from=["rid"],
            partial_aggs=[(F.count(F.lit(1)), "pn"), (F.sum("v"), "ps")],
            final_aggs=[(F.sum("pn"), "n"), (F.sum("ps"), "s")],
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, skewed):
    dim = spark.createDataFrame(
        [{"k": "hot", "label": "H"}] + [{"k": f"k{i}", "label": f"L{i}"} for i in range(1, 30)]
    )
    plain = sorted(
        (r["rid"], r["label"]) for r in skewed.join(dim, "k").collect()
    )
    salted = sorted(
        (r["rid"], r["label"])
        for r in skew.salted_join(skewed, dim, on="k", salt_from=["rid"], n_salts=8).collect()
    )
    assert salted == plain


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """bucketBy + saveAsTable co-locates both sides: the join plan
    must contain zero Exchange nodes (the 100 TB repeated-join
    strategy — bucket once, join many times shuffle-free)."""
    # warehouse.dir is a static conf — use the session default
    # (spark-warehouse under cwd) and clean the tables up after
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_cust")
    orders = spark.createDataFrame(
        [{"custkey": i % 50, "okey": i, "price": float(i)} for i in range(1000)]
    )
    cust = spark.createDataFrame(
        [{"custkey": i, "name": f"c{i}"} for i in range(50)]
    )
    (orders.write.bucketBy(8, "custkey").sortBy("custkey")
        .mode("overwrite").format("parquet").saveAsTable("b_orders"))
    (cust.write.bucketBy(8, "custkey").sortBy("custkey")
        .mode("overwrite").format("parquet").saveAsTable("b_cust"))
    # disable broadcast so the join would otherwise shuffle
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_cust"), "custkey")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_pinned_checkpoint_keeps_hash_partitioning(spark):
    """pinned_checkpoint compiles with AQE off, so the LogicalRDD it
    returns carries the frame's real HashPartitioning and a groupBy
    on the key plans no Exchange. (A plain localCheckpoint of a fresh
    frame under AQE reports UnknownPartitioning(0) and re-exchanges.)
    The frame must be fresh: a Dataset caches its compiled plan."""
    df = (
        spark.range(100).selectExpr("id % 7 AS k", "id AS v")
        .repartition(3, "k").sortWithinPartitions("k")
    )
    pinned = skew.pinned_checkpoint(df)
    part = pinned._jdf.queryExecution().analyzed().outputPartitioning()
    assert re.fullmatch(r"hashpartitioning\(k#\d+L?, 3\)", part.toString())
    plan = (
        pinned.groupBy("k").count()._jdf.queryExecution().executedPlan()
    ).toString()
    assert "Exchange" not in plan, plan
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_pinned_checkpoint_restores_aqe_when_body_raises(spark):
    failing = spark.range(1).select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(Exception, match="boom"):
        skew.pinned_checkpoint(failing, eager=True)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def _in_thread(fn, timeout=60):
    """Run ``fn`` on a daemon thread; a scope that deadlocks fails
    the test instead of hanging the suite."""
    errors = []

    def run():
        try:
            fn()
        except BaseException as e:  # re-raised on the test thread
            errors.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), "scoped_conf deadlocked"
    if errors:
        raise errors[0]


def test_scoped_conf_nests_on_one_thread(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)

    def nested():
        with scoped_conf(spark, {key: "5"}):
            assert spark.conf.get(key) == "5"
            with scoped_conf(spark, {key: "7"}):
                assert spark.conf.get(key) == "7"
            assert spark.conf.get(key) == "5"

    _in_thread(nested)
    assert spark.conf.get(key) == prev


def test_scoped_conf_second_thread_waits_for_first(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    entered, release = threading.Event(), threading.Event()
    log = []

    def first():
        with scoped_conf(spark, {key: "3"}):
            log.append("first-in")
            entered.set()
            release.wait(30)
            log.append(("first-out", spark.conf.get(key)))

    def second():
        entered.wait(30)
        with scoped_conf(spark, {key: "5"}):
            log.append(("second-in", spark.conf.get(key)))

    t1 = threading.Thread(target=first, daemon=True)
    t2 = threading.Thread(target=second, daemon=True)
    t1.start()
    t2.start()
    try:
        assert entered.wait(30)
        time.sleep(0.5)  # room for the second scope to (wrongly) enter
        assert log == ["first-in"]
    finally:
        release.set()
        t1.join(30)
        t2.join(30)
    assert log == ["first-in", ("first-out", "3"), ("second-in", "5")]
    assert spark.conf.get(key) == prev


def test_geo_properties_randomized(spark):
    """Batched property test (SURVEY §5.4): distance symmetry +
    identity + triangle-ish, heading diff bounds, over 500 random
    coordinate pairs in one DataFrame pass."""
    import random

    from ngafid_cpat_spark.functions import geo

    rng = random.Random(42)
    rows = [
        {
            "lat1": rng.uniform(-89, 89), "lon1": rng.uniform(-180, 180),
            "lat2": rng.uniform(-89, 89), "lon2": rng.uniform(-180, 180),
            "h1": rng.uniform(0, 360), "h2": rng.uniform(0, 360),
        }
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows)
    checked = df.select(
        geo.distance("lat1", "lon1", "lat2", "lon2").alias("d12"),
        geo.distance("lat2", "lon2", "lat1", "lon1").alias("d21"),
        geo.distance("lat1", "lon1", "lat1", "lon1").alias("d11"),
        geo.heading_difference("h1", "h2").alias("hd"),
        geo.heading_difference("h2", "h1").alias("hd_sym"),
    ).collect()
    for r in checked:
        assert abs(r["d12"] - r["d21"]) <= 1e-6 * max(1.0, r["d12"])
        assert r["d11"] <= 1e-6
        assert 0.0 <= r["d12"] <= 3.15 * 6_371_000  # <= pi * R
        assert 0.0 <= r["hd"] <= 180.0
        assert abs(r["hd"] - r["hd_sym"]) <= 1e-9
