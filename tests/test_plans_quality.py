"""Physical-plan regression guards: the properties the engine's
scale story depends on must survive refactors — filters reach the
parquet scan, dimension joins broadcast, windowed queries keep to a
single shuffle per window lineage, hot paths stay Python-free."""

import ast
import io
import pathlib
import re
from contextlib import redirect_stdout

import pytest

from ngafid_cpat_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_push_to_scan(spark):
    p = plan(spark, "q6_forecast_revenue")
    assert re.search(r"PushedFilters: \[(?!\])", p), p  # non-empty pushdown


def test_projection_prunes_scan(spark):
    p = plan(spark, "scan_filter_project")
    # ReadSchema carries exactly the 6 projected columns, no over-fetch
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    projected = {"l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_shipdate"}
    # scan reads projection + filter columns, nothing else (the
    # reference over-fetched pitch_attitude/eng_1_rpm, main.py:31 —
    # Spark's column pruning must not regress to that)
    assert projected <= cols
    assert cols <= projected | {"l_discount"}


def test_star_join_broadcasts_dims(spark):
    p = plan(spark, "q5_region_revenue")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_window_queries_single_exchange(spark):
    for name in ("sessionize_events", "rolling5_events", "episode_detect_events"):
        p = plan(spark, name)
        # one Exchange for the (user) partitioning + AQE's final read
        assert len(re.findall(r"\bExchange\b", p)) <= 2, (name, p)


def test_no_python_eval_in_relational_hot_paths(spark):
    for name in ("q1_pricing_summary", "q3_shipping_priority",
                 "dedup_jaccard_pairs", "ann_cosine_topk", "text_stats"):
        p = plan(spark, name)
        assert not re.search(r"BatchEvalPython|ArrowEvalPython", p), (name, p)


def test_no_nested_types_in_registered_outputs(spark):
    """Catalog rule (r04 postmortem): registered query outputs must be
    scalar columns only — the driver canonicalizes results through
    pandas sort_values, which throws `unhashable type: 'list'` on any
    array/map/struct cell (embedding_quantize_int8 hard-errored the
    r04 gate this way). Library APIs may return arrays; the registered
    wrapper must serialize them (e.g. array_join to CSV)."""
    bad = []
    for name, fn in QUERIES.items():
        try:
            schema = fn(spark, SF_DIR).schema
        except Exception as e:  # build failure is its own loud signal
            bad.append((name, f"build error: {e}"))
            continue
        for field in schema.fields:
            st = field.dataType.simpleString()
            if st.startswith(("array<", "map<", "struct<")):
                bad.append((name, f"{field.name}: {st}"))
    assert bad == [], bad


def test_priority_window_complete():
    """Every curated correctness-window name must be registered (a
    stale name only warns at import — this test is where it FAILS, so
    the driver contract itself never collapses)."""
    from ngafid_cpat_spark.plans import PRIORITY, QUERIES

    missing = [n for n in PRIORITY if n not in QUERIES]
    assert missing == []
    assert list(QUERIES)[: len(PRIORITY)] == PRIORITY
    assert len(PRIORITY) == 50


def test_session_conf_decisions_live_in_session_py():
    """Shuffle width and scoped conf changes have one home,
    session.py (shuffle_width / scoped_conf). Elsewhere only the
    session-level reader setups, which pin confs for the rest of the
    session on purpose, may call conf.set; nothing reads the shuffle
    width by conf name, and the removed _parallel_checkpoint wrapper
    stays gone."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "ngafid_cpat_spark"
    session_level = {
        ("sources/tables.py", "load"),
        ("streaming/sessions.py", "read_events_stream"),
        ("streaming/sessions.py", "use_rocksdb_state"),
    }
    width_reads, conf_sets, leftovers = [], [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        if "_parallel_checkpoint" in src:
            leftovers.append(rel)
        if rel == "session.py":
            continue
        if '"spark.sql.shuffle.partitions"' in src:
            width_reads.append(rel)
        tree = ast.parse(src)
        allowed = [
            range(fn.lineno, fn.end_lineno + 1)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) in session_level
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
                and not any(node.lineno in r for r in allowed)
            ):
                conf_sets.append((rel, node.lineno))
    assert width_reads == []
    assert conf_sets == []
    assert leftovers == []
