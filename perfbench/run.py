"""Benchmark entry point.

    python3 perfbench/run.py --workload work-queue --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One invocation is one fresh process
running one workload at ``local[<cpus>]``:

1. generate the seeded inputs (cached under ``.bench_work/``);
2. set up: start the session and run the workload's warm-up
   (work-queue: commit its prior backlog through the CLI, as an op
   does; catalog-mix: run two of its queries on a tiny input).
   ``setup_s`` is this single cold start, from process start, minus
   step 1;
3. closed loop, one client, no extra threads: run ops until
   ``--seconds`` have passed (at least one op);
4. check every op's output against the DuckDB oracles, outside the
   timed region, plus a planted-wrong-row self-test of the check;
5. print one JSON line: end-to-end metrics (``--trace 0``) or the
   per-layer split (``--trace 1``).

Only ``SPARK_GRAFT_CPUS`` and ``SPARK_LOCAL_DIRS`` are set for the
engine; every other engine setting stays at the program's defaults.
Scratch locations (``TMPDIR``, ``java.io.tmpdir``, ``SPARK_GRAFT_TMP``)
point into the work dir so nothing is written outside the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import types  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import gen  # noqa: E402
import numpy as np  # noqa: E402
import oracle  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import tracing  # noqa: E402

N_AIRPORTS = 15_000
QUEUE_PRIOR_BATCHES = 1
QUEUE_NEW = 16
QUEUE_REQUEUE = 4
N_EVENTS, N_USERS = 10_000, 150
WARM_EVENTS, WARM_USERS = 2_000, 60
# the catalog's graph loops, a windowed streaming aggregate, and a query that
# widens its one-file source; each read the events table only
CATALOG = (
    "pagerank_events",
    "salsa_users_events",
    "link_prediction_ra_events",
    "streaming_windowed_counts_events",
    "try_arithmetic_events",
)
# the warm-up: a JVM's first query pays Spark's generic compilation and
# its first stream pays the streaming engine's start-up; the rest of a
# cold pass costs far less than a second pass would
CATALOG_WARM = ("pagerank_events", "streaming_windowed_counts_events")


def configure_env(trace: bool) -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_TMP"] = os.path.join(tmp, "graft")
    tempfile.tempdir = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--driver-java-options", java_opts]
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        for kv in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
        ):
            args += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def import_engine():
    """The program under test; a checkout without it fails here."""
    sys.path.insert(0, ROOT)
    import ngafid_cpat_spark.__main__ as cli
    from ngafid_cpat_spark import session, sinks
    from ngafid_cpat_spark.plans import ORACLES, QUERIES

    # check_oracle prepends its own repo path to sys.path on import;
    # keep this checkout's modules first
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle

    sys.path[:] = saved
    return types.SimpleNamespace(
        cli=cli, session=session, sinks=sinks, queries=QUERIES,
        oracles=ORACLES, check_oracle=check_oracle,
    )


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark() -> None:
    """Stop the session and the JVM, and wait until the JVM is gone."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def listing(*dirs) -> dict:
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
    return out


def fresh_dir(*parts) -> str:
    d = os.path.join(WORK, "run", *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    def __init__(self, seed, engine, tracer):
        self.seed = seed
        self.engine = engine
        self.tracer = tracer

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext({})


class WorkQueue(Workload):
    """The CLI ``analyze --status`` loop over a growing results and
    status table. Each op lands QUEUE_NEW new flights plus
    QUEUE_REQUEUE already-committed flights with changed telemetry as
    one telemetry file, marks them pending in the status table, then
    runs the CLI once and requires a new commit manifest."""

    name = "work-queue"

    def prepare_inputs(self) -> None:
        self.feed = gen.QueueFeed(self.seed, N_AIRPORTS)
        key = gen.cache_key(
            "queue", self.seed, airports=N_AIRPORTS, prior=QUEUE_PRIOR_BATCHES,
            per_batch=QUEUE_NEW + QUEUE_REQUEUE,
        )
        self.inputs = gen.cached(os.path.join(WORK, "inputs"), key, self._build_inputs)
        self.airports = os.path.join(self.inputs, "airports.csv")
        self.runways = os.path.join(self.inputs, "runways.csv")
        with open(os.path.join(self.inputs, "prior.json")) as f:
            self.prior_rows = [tuple(r) for r in json.load(f)]
        self.sink_stats = []

    def _build_inputs(self, d: str) -> None:
        """Dims, and the prior batches' telemetry and oracle rows."""
        tel = os.path.join(d, "telemetry")
        os.makedirs(tel)
        self.feed.write_dims(d)
        files = []
        for b in range(QUEUE_PRIOR_BATCHES):
            files.append(os.path.join(tel, f"batch-{b:04d}.parquet"))
            pq.write_table(self.feed.batch(b, QUEUE_NEW + QUEUE_REQUEUE), files[-1])
        rows = oracle.approach_rows(
            self.engine.oracles["approach_pipeline_demo"], files,
            os.path.join(d, "airports.csv"), os.path.join(d, "runways.csv"),
        )
        with open(os.path.join(d, "prior.json"), "w") as f:
            json.dump(rows, f)

    @staticmethod
    def _status_df(spark, rows):
        return spark.createDataFrame(
            rows, "flight_id BIGINT, approach_analysis INT"
        )

    def _start_state(self, spark) -> None:
        """The run's tables: the prior batches' telemetry landed and
        their status rows pending (``sinks.create_table``), no results
        table yet."""
        s = fresh_dir("queue")
        self.spark = spark
        self.teldir = os.path.join(s, "telemetry")
        self.status = os.path.join(s, "status")
        self.results = os.path.join(s, "results")
        self.txn_dir = self.results + "_txn"
        shutil.copytree(os.path.join(self.inputs, "telemetry"), self.teldir)
        self.home = {}  # flight id -> telemetry file currently holding it
        for f in sorted(os.listdir(self.teldir)):
            t = pq.read_table(os.path.join(self.teldir, f), columns=["flight"])
            for fid in np.unique(t["flight"].to_numpy()):
                self.home[int(fid)] = f
        self.engine.sinks.create_table(
            self._status_df(spark, [(f, 0) for f in sorted(self.home)]),
            self.status, ["flight_id"],
        )
        self.analyzed = set()  # flights (re-)analyzed by the timed ops
        self.landed = []  # telemetry files landed by the timed ops
        self.next_batch = QUEUE_PRIOR_BATCHES
        self.rng = np.random.default_rng([self.seed, 11])

    def _land_batch(self, b: int) -> list[int]:
        """Land batch ``b``: QUEUE_NEW new flights plus QUEUE_REQUEUE
        committed ones with changed telemetry."""
        # each flight is re-queued at most once per run, so the expected
        # table needs only its original and its latest telemetry
        committed = sorted(set(self.home) - self.analyzed)
        requeue = sorted(int(x) for x in self.rng.choice(committed, QUEUE_REQUEUE, replace=False))
        fresh = self.feed.batch(b, QUEUE_NEW + QUEUE_REQUEUE)
        fresh = fresh.filter(pc.is_in(fresh["flight"], pa.array(
            sorted(set(fresh["flight"].to_pylist()))[:QUEUE_NEW], pa.int64())))
        changed = self.feed.requeue(requeue, b)
        # a re-queued flight's old ticks leave their previous file
        for f in sorted({self.home[fid] for fid in requeue}):
            p = os.path.join(self.teldir, f)
            t = pq.read_table(p)
            t = t.filter(pc.invert(pc.is_in(t["flight"], pa.array(requeue, pa.int64()))))
            pq.write_table(t, p)
        name = f"batch-{b:04d}.parquet"
        batch = pa.concat_tables([fresh, changed])
        pq.write_table(batch, os.path.join(self.teldir, name))
        self.landed.append(name)
        ids = sorted(set(batch["flight"].to_pylist()))
        for fid in ids:
            self.home[fid] = name
        self.analyzed.update(ids)
        self.engine.sinks.upsert(
            self.spark, self._status_df(self.spark, [(f, 0) for f in ids]),
            self.status, keys=["flight_id"],
        )
        return ids

    def _analyze(self) -> None:
        """One CLI ``analyze --status`` call; it must commit a batch."""
        before = set(os.listdir(self.txn_dir)) if os.path.isdir(self.txn_dir) else set()
        rc = self.engine.cli.main([
            "analyze", "--status", self.status, "--telemetry", self.teldir,
            "--airports", self.airports, "--runways", self.runways,
            "--output", self.results,
        ])
        if rc != 0:
            raise RuntimeError(f"analyze exited {rc}")
        if not set(os.listdir(self.txn_dir)) - before:
            raise RuntimeError("analyze wrote no commit manifest")

    def warmup(self, spark) -> None:
        """Commit the prior backlog through the CLI, exactly as an op
        commits a batch, so the timed ops run warm."""
        self._start_state(spark)
        self._analyze()

    def op(self, i: int) -> tuple[float, int]:
        # landing is the feed's work, not the op's: keep it off the trace
        if self.tracer:
            self.tracer.set_op(None)
        ids = self._land_batch(self.next_batch)
        self.next_batch += 1
        if self.tracer:
            self.tracer.set_op(i)
        before = listing(self.results, self.status)
        t0 = time.perf_counter()
        self._analyze()
        latency = time.perf_counter() - t0
        after = listing(self.results, self.status)
        new = {p: n for p, n in after.items() if p not in before}
        self.sink_stats.append({
            "ids": ids,
            "files": len(new),
            "bytes": sum(new.values()),
            "buckets": len({os.path.dirname(p) for p in new}),
        })
        return latency, len(ids)

    def check(self) -> tuple[list[list[str]], list[str]]:
        # the files landed in the run hold exactly the analyzed flights
        files = [os.path.join(self.teldir, f) for f in self.landed]
        latest = self.latest = oracle.approach_rows(
            self.engine.oracles["approach_pipeline_demo"], files,
            self.airports, self.runways,
        )
        # the MERGE is keyed on (flight_id, approach_id), like the
        # reference's ON DUPLICATE KEY UPDATE: a re-analyzed flight's
        # rows replace same-key rows and leave any higher approach_id
        # of its earlier analysis in place
        want = {(r[0], r[1]): r for r in self.prior_rows}
        want.update({(r[0], r[1]): r for r in latest if r[0] in self.analyzed})
        want = list(want.values())
        got = oracle.read_rows(self.results)
        problems = oracle.compare(self.engine.check_oracle, got, want)
        con = duckdb.connect()
        n_flights, n_rows, n_done = con.execute(
            f"SELECT count(DISTINCT flight_id), count(*), "
            f"count(*) FILTER (WHERE approach_analysis = 1) "
            f"FROM read_parquet('{self.status}/**/*.parquet', hive_partitioning=false)"
        ).fetchone()
        con.close()
        if not (n_flights == n_rows == n_done == len(self.home)):
            problems.append(
                f"status table: {n_rows} rows, {n_flights} flights, {n_done} "
                f"flipped; {len(self.home)} flights landed"
            )
        per_row = {}
        for r in got:
            per_row[r[0]] = per_row.get(r[0], 0) + 1
        for st in self.sink_stats:
            st["rows"] = sum(per_row.get(f, 0) for f in st["ids"])
        # the table state is shared by all ops: a problem fails them all
        return ([problems for _ in self.sink_stats],
                oracle.coverage_problems(self.prior_rows + latest))

    def self_test(self) -> bool:
        """A planted wrong row must fail the check."""
        bad = oracle.plant_wrong_row(self.latest)
        return bool(oracle.compare(self.engine.check_oracle, bad, self.latest))

    def layer_row(self, spans, op) -> dict:
        main = spans.first("__main__.main", op)
        ana = spans.named("approach.analyze", op)
        if main is None or not ana:
            return {}
        ana_end = ana[-1]["end"]
        commit = spans.first("sinks.commit_analysis", op)
        st = self.sink_stats[op] if op < len(self.sink_stats) else None
        return {
            "plans.build_s": ana_end - main["start"],
            "plans.build_jobs": spans.jobs_between(op, main["start"], ana_end),
            "plans.catalyst_s": sum(s.get("catalyst_s", 0.0) for s in ana),
            "plans.exec_s": (commit["start"] if commit else main["end"]) - ana_end,
            "sinks.files_written": st["files"] if st else 0,
            "sinks.buckets_rewritten": st["buckets"] if st else 0,
            "sinks.bytes_written_per_row": (
                st["bytes"] / st["rows"] if st and st.get("rows") else 0.0
            ),
        }


class CatalogMix(Workload):
    """Registered catalog queries over a generated events table: the
    graph loops (pagerank, SALSA, resource-allocation link
    prediction), an availableNow stream-stream interval join, and a
    query that widens its one-file source. One op runs every query in
    CATALOG once, each with a fresh SPARK_GRAFT_TMP so no query finds
    its fixtures or streaming checkpoints from an earlier rep, and
    collects its (small) result."""

    name = "catalog-mix"

    def __init__(self, seed, engine, tracer):
        super().__init__(seed, engine, tracer)
        self.results = []  # per op: {query: (rows, cols)}

    def prepare_inputs(self) -> None:
        key = gen.cache_key("events", self.seed, events=N_EVENTS, users=N_USERS,
                            warm=(WARM_EVENTS, WARM_USERS))

        def build(d):
            gen.events(d, self.seed, N_EVENTS, N_USERS)
            os.makedirs(os.path.join(d, "warm"))
            gen.events(os.path.join(d, "warm"), self.seed + 1_000_000,
                       WARM_EVENTS, WARM_USERS)

        self.inputs = gen.cached(os.path.join(WORK, "inputs"), key, build)

    def _pass(self, spark, sf_dir, tag, queries=CATALOG) -> dict:
        out = {}
        for q in queries:
            os.environ["SPARK_GRAFT_TMP"] = fresh_dir("catalog", tag, q)
            with self.span("plans.build") as s:
                df = self.engine.queries[q](spark, sf_dir)
            if self.tracer:
                t0 = time.perf_counter()
                s["catalyst_s"] = tracing.catalyst_seconds(df)
                self.tracer.own_s += time.perf_counter() - t0
            with self.span("plans.exec"):
                rows = [tuple(r) for r in df.collect()]
            out[q] = (rows, df.columns)
        return out

    def warmup(self, spark) -> None:
        self.spark = spark
        self._pass(spark, os.path.join(self.inputs, "warm"), "warm", CATALOG_WARM)

    def op(self, i: int) -> tuple[float, int]:
        t0 = time.perf_counter()
        self.results.append(self._pass(self.spark, self.inputs, f"op{i:03d}"))
        return time.perf_counter() - t0, len(CATALOG)

    def expected(self) -> dict:
        events = os.path.join(self.inputs, "events.parquet")
        return {q: oracle.catalog_rows(self.engine.oracles[q], events) for q in CATALOG}

    def check(self) -> tuple[list[list[str]], list[str]]:
        want = self.want = self.expected()
        co = self.engine.check_oracle
        per_op = []
        for res in self.results:
            problems = []
            for q, (rows, cols) in res.items():
                problems += oracle.compare_catalog(co, q, rows, cols, *want[q])
            per_op.append(problems)
        return per_op, []

    def self_test(self) -> bool:
        rows, cols = self.want["pagerank_events"]
        bad = oracle.plant_wrong_value(rows)
        return bool(oracle.compare_catalog(
            self.engine.check_oracle, "pagerank_events", bad, cols, rows, cols))

    def layer_row(self, spans, op) -> dict:
        build = spans.named("plans.build", op)
        return {
            "plans.build_s": spans.total("plans.build", op),
            "plans.build_jobs": spans.jobs("plans.build", op),
            "plans.catalyst_s": sum(s.get("catalyst_s", 0.0) for s in build),
            "plans.exec_s": spans.total("plans.exec", op),
        }


WORKLOADS = {w.name: w for w in (WorkQueue, CatalogMix)}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


class Spans:
    """Lookups over the tracer's spans and job-group segments."""

    def __init__(self, tracer, log):
        self.tracer, self.log = tracer, log

    def named(self, name, op):
        return [s for s in self.tracer.spans if s["name"] == name and s["op"] == op]

    def first(self, name, op):
        found = self.named(name, op)
        return found[0] if found else None

    def total(self, name, op):
        return sum(s["end"] - s["start"] for s in self.named(name, op))

    def jobs(self, name, op):
        return sum(s["jobs"] for s in self.named(name, op))

    def jobs_between(self, op, start, end):
        groups = {
            seg["group"] for seg in self.tracer.segments
            if seg["op"] == op and start <= seg["start"] < end
        }
        return sum(1 for g in self.log["job_groups"] if g in groups)


def per_layer(tracer, log, workload, latencies, untraced_ref) -> dict:
    spans = Spans(tracer, log)
    rows = []
    for op in sorted({s["op"] for s in tracer.spans if s["op"] is not None}):
        streams = [s.get("progress", {}) for s in spans.named("streaming.run_to_memory", op)]
        r = {
            "sources.read_s": spans.total("sources.read_csv", op) + spans.total("sources.load", op),
            "approach.analyze_build_s": spans.total("approach.analyze", op),
            "approach.nearest_airport_s": spans.total("approach.with_nearest_airport", op),
            "approach.nearest_airport_jobs": spans.jobs("approach.with_nearest_airport", op),
            "joins.nearest_gridded_s": spans.total("joins.nearest_gridded", op),
            "skew.pinned_checkpoint_s": spans.total("skew.pinned_checkpoint", op),
            "skew.pinned_checkpoint_calls": len(spans.named("skew.pinned_checkpoint", op)),
            "skew.widen_narrow_source_s": spans.total("skew.widen_narrow_source", op),
            "graphs.loop_build_s": sum(
                spans.total(f"graphs.{f}", op)
                for f in ("pagerank_micro", "salsa_micro", "link_prediction_ra")
            ),
            "sinks.commit_s": spans.total("sinks.commit_analysis", op),
            "sinks.fingerprint_s": spans.total("sinks.batch_fingerprint", op),
            "sinks.upsert_s": spans.total("sinks.upsert", op),
            "sinks.upsert_jobs": spans.jobs("sinks.upsert", op),
            "sinks.mark_analyzed_s": spans.total("sinks.mark_analyzed", op),
            "streaming.batches": sum(p.get("batches", 0) for p in streams),
            "streaming.trigger_s": sum(p.get("trigger_s", 0.0) for p in streams),
            "streaming.add_batch_s": sum(p.get("add_batch_s", 0.0) for p in streams),
        }
        r.update(workload.layer_row(spans, op))
        op_groups = {seg["group"] for seg in tracer.segments if seg["op"] == op}
        r.update(tracing.exec_metrics(log, op_groups))
        rows.append(r)
    out = {k: statistics.median(r.get(k, 0) for r in rows) for k in rows[0]} if rows else {}
    # the single cold start's session build, before any op
    setup = [s for s in tracer.spans if s["name"] == "session.get_spark" and s["op"] is None]
    out["session.get_spark_s"] = setup[0]["end"] - setup[0]["start"] if setup else 0.0
    traced = statistics.median(latencies)
    if untraced_ref:
        out["bench.trace_overhead_frac"] = (traced - untraced_ref) / untraced_ref
    else:
        out["bench.trace_overhead_frac"] = tracer.own_s / sum(latencies)
    return out


def declared(trace: bool) -> dict:
    """Metric name -> unit, as BENCHMARK.json at the checkout root
    declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    trace = bool(args.trace)

    configure_env(trace)
    engine = import_engine()
    tracer = None
    if trace:
        tracer = tracing.Tracer()
        tracer.install()
    workload = WORKLOADS[args.workload](args.seed, engine, tracer)

    t_gen = time.perf_counter()
    workload.prepare_inputs()
    gen_s = time.perf_counter() - t_gen

    try:
        # set-up: one cold start, from process start to warm-up done
        with contextlib.redirect_stdout(sys.stderr):
            spark = engine.session.get_spark()
            workload.warmup(spark)
        setup_s = time.perf_counter() - T_START - gen_s

        # measured closed loop
        latencies, items, errors = [], 0, []
        t_loop = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_loop < args.seconds:
            if tracer:
                tracer.set_op(i)
            try:
                with contextlib.redirect_stdout(sys.stderr):
                    lat, n = workload.op(i)
                latencies.append(lat)
                items += n
            except Exception as e:  # an op that raises is a failed op
                errors.append(f"op {i}: {e!r}")
                print(errors[-1], file=sys.stderr)
                i += 1
                break  # the workload's state is suspect after a failure
            i += 1
        loop_s = time.perf_counter() - t_loop
        if tracer:
            tracer.set_op(None)

        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb(os.getpid())) / 1024.0
    finally:
        stop_spark()

    # output checks, outside the timed region
    t_check = time.perf_counter()
    per_op, run_problems = workload.check()
    failed = len(errors) + sum(1 for p in per_op if p)
    attempted = i
    problems = run_problems + [x for p in per_op for x in p][:10]
    if not workload.self_test():
        problems.append("self-test: a planted wrong row passed the check")
    for msg in problems:
        print("check:", msg, file=sys.stderr)
    print(
        f"phases: inputs {gen_s:.1f}s, setup {setup_s:.2f}s, "
        f"ops {[round(x, 2) for x in latencies]}, check "
        f"{time.perf_counter() - t_check:.1f}s", file=sys.stderr,
    )
    correct = failed == 0 and not problems and bool(latencies)

    hist = os.path.join(WORK, f"untraced-{workload.name}.jsonl")
    values = {}
    if latencies and trace:
        log = tracing.read_event_log(os.path.join(WORK, "eventlog"))
        tracer.attribute_jobs(log)
        ref = None
        if os.path.exists(hist):
            with open(hist) as f:
                ref = statistics.median(json.loads(x)["op_s"] for x in f)
        values = per_layer(tracer, log, workload, latencies, ref)
        values["bench.peak_rss_mb"] = rss_mb
        tracer.dump(
            os.path.join(WORK, "trace", f"{workload.name}-seed{args.seed}.json"),
            {"workload": workload.name, "seed": args.seed, "latencies": latencies,
             "overhead_ref": "untraced median" if ref else "tracer self time"},
        )
        chains = [tracer.chain(s) for s in tracer.spans
                  if s["name"] == "sinks.upsert" and s["op"] is not None]
        if workload.name == "work-queue" and not (chains and all(
            "sinks.commit_analysis" in c and c[-2:] == ["__main__.cmd_analyze", "__main__.main"]
            for c in chains
        )):
            print("trace: sinks.upsert not nested under the CLI commit", file=sys.stderr)
    elif latencies:
        values = {
            "op_s": statistics.median(latencies),
            "items_per_s": items / loop_s,
            "setup_s": setup_s,
        }
        with open(hist, "a") as f:
            f.write(json.dumps({"seed": args.seed, "op_s": values["op_s"]}) + "\n")
    # a layer the workload never enters reads 0
    metrics = {
        k: {"value": values.get(k, 0.0), "unit": unit}
        for k, unit in declared(trace).items()
    }
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
