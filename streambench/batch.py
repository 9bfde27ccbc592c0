"""The headline_batch workload: one closed-loop client running passes
over the ten ``bench=True`` registry queries, each with a noop write
(bench.py's timing action), in a seed-shuffled order per pass.

Tables are generated from the seed. The first warm-up pass collects
every result for the DuckDB oracle check, two more write noop; timed
passes follow until the run's seconds are spent. With tracing
on, each query runs in its own job group, and a JVM query-execution
listener hands back the executed write so its Catalyst phases and the
executed plan's SQL metrics can be read after the pass."""

from __future__ import annotations

import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from streambench import core
from streambench.gen import make_tables

WARMUP_THREADS = 4
MIN_TIMED_PASSES = 2

# executed-plan SQL metrics summed per pass, by metric name
_SQL_METRICS = {
    "pythonBootTime": "udf.python_boot_ms",
    "pythonInitTime": "udf.python_init_ms",
    "pythonTotalTime": "udf.python_total_ms",
    "pythonDataSent": "udf.arrow_bytes_sent",
    "pythonDataReceived": "udf.arrow_bytes_received",
    "scanTime": "scan.scan_time_ms",
    "shuffleBytesWritten": "exchange.shuffle_bytes_written",
    "spillSize": "exchange.spill_bytes",
}


def bench_queries() -> dict:
    from streamprocess_spark.plans import QUERIES
    from streamprocess_spark.plans.registry import _ensure_loaded

    _ensure_loaded()
    return {n: s.builder for n, s in sorted(QUERIES.items()) if s.bench}


def pass_order(names: list[str], seed: int, n: int) -> list[str]:
    order = sorted(names)
    random.Random(f"{seed}:{n}").shuffle(order)
    return order


class _ExecutionLog:
    """py4j implementation of the JVM QueryExecutionListener: keeps the
    QueryExecution of every successful action, in delivery order."""

    def __init__(self):
        self.events: list = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802
        self.events.append(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(jvm, qe) -> dict[str, float]:
    """Sum the named SQL metrics over every node of an executed plan,
    descending into adaptive plans, query stages and subqueries."""
    out = dict.fromkeys(_SQL_METRICS.values(), 0.0)
    todo, seen = [qe.executedPlan()], set()
    while todo:
        node = todo.pop()
        key = jvm.System.identityHashCode(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(node.plan())
            continue
        if name == "ReusedExchange":
            continue  # its exchange is counted where it ran
        for kv in _scala_iter(node.metrics()):
            label = _SQL_METRICS.get(kv._1())
            if label:
                v = float(kv._2().value())
                # timings are kept in ns (python*Time, scanTime) or ms
                if label.endswith("_ms") and kv._2().metricType() == "nsTiming":
                    v /= 1e6
                out[label] += v
        todo.extend(_scala_iter(node.children()))
        todo.extend(_scala_iter(node.subqueries()))
    return out


def catalyst_ms(qe) -> float:
    phases = qe.tracker().phases()
    return float(sum(
        phases.apply(p).durationMs()
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)))


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the job group ran; skipped stages run no
    task and are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            if si and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def oracle_rows(con, sql: str):
    t = con.execute(sql).fetch_arrow_table()
    return t.column_names, [tuple(r.values()) for r in t.to_pylist()]


def run_headline(ctx) -> dict:
    import duckdb

    from streamprocess_spark.io.tables import load_tables, table_path
    from streamprocess_spark.plans import oracle_sql_map
    from streamprocess_spark.schemas import TABLE_NAMES

    t_in = time.time()
    sf_dir = ctx.work("tables")
    make_tables(ctx.seed, sf_dir)
    for name in TABLE_NAMES:  # stage the scan copies outside the timed region
        table_path(sf_dir, name)
    queries = bench_queries()
    names = sorted(queries)
    inputs_s = time.time() - t_in

    spark = ctx.spark()
    t_session = time.time()
    sc = spark.sparkContext

    def write(df):
        df.write.format("noop").mode("overwrite").save()

    # warm-up: three untimed passes. The first runs WARMUP_THREADS queries
    # at a time and collects every result for the oracle check: a cold
    # pass is mostly serial coordinator work (code generation, class
    # loading, Python worker start) that concurrent queries overlap. The
    # next two run serially with noop writes, as the timed passes do.
    load_tables(spark, sf_dir)  # registers scans and ships the package once
    results, warm = {}, []

    def collect(n):
        at = queries[n](spark, sf_dir).toArrow()
        results[n] = (at.column_names,
                      [tuple(r.values()) for r in at.to_pylist()])

    t = time.perf_counter()
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        for f in [pool.submit(collect, n) for n in pass_order(names, ctx.seed, 0)]:
            f.result()
    warm.append((time.perf_counter() - t) * 1000)
    for p in (1, 2):
        t = time.perf_counter()
        for n in pass_order(names, ctx.seed, p):
            write(queries[n](spark, sf_dir))
        warm.append((time.perf_counter() - t) * 1000)
    t_warm = time.time()

    log = None
    sampler = ctx.rss_sampler() if ctx.trace else None
    if ctx.trace:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(sc._gateway)
        log = _ExecutionLog()
        spark._jsparkSession.listenerManager().register(log)

    passes, per_query = [], []
    t_timed = time.time()
    p = len(warm)  # the warm-up passes took the first pass numbers
    while len(passes) < MIN_TIMED_PASSES or time.time() - t_timed < ctx.seconds:
        order = pass_order(names, ctx.seed, p)
        rec = {}
        t_pass = time.perf_counter()
        for n in order:
            if log is not None:
                sc.setJobGroup(f"streambench-{p}-{n}", n)
                seen = len(log.events)
            t0 = time.perf_counter()
            df = queries[n](spark, sf_dir)
            t1 = time.perf_counter()
            write(df)
            t2 = time.perf_counter()
            rec[n] = {"build_ms": (t1 - t0) * 1000, "exec_ms": (t2 - t1) * 1000}
            if log is not None:
                # the write's listener event arrives asynchronously
                deadline = time.time() + 10
                while len(log.events) == seen and time.time() < deadline:
                    time.sleep(0.001)
                rec[n]["qe"] = log.events[-1] if len(log.events) > seen else None
        passes.append((time.perf_counter() - t_pass) * 1000)
        per_query.append(rec)
        p += 1

    if log is not None:
        spark._jsparkSession.listenerManager().unregister(log)
        layers = batch_layers(sc, per_query, p)
        sampler.stop()

    # -- correctness: each query against its DuckDB oracle -------------------
    oracles = oracle_sql_map()
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, name + '.parquet')}'")
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:  # one cursor each
        expected = dict(zip(names, pool.map(
            lambda n: oracle_rows(con.cursor(), oracles[n]), names)))
    failed = 0
    for n in names:
        problems = core.diff_frames(*expected[n], *results[n])
        if problems:
            failed += 1
            print(f"# {n}: differs from its DuckDB oracle: {problems}",
                  file=sys.stderr)
    con.close()

    setup_s = t_warm - ctx.proc_start - inputs_s
    e2e = {
        "latency_ms": core.median(passes),
        "latency_tail_ms": max(passes),
        "setup_s": setup_s,
    }
    print(f"# headline_batch: warm-up passes {[round(x) for x in warm]} ms, "
          f"{len(passes)} timed passes {[round(x) for x in passes]} ms",
          file=sys.stderr)
    result = {"attempted": len(names), "failed": failed, "e2e": e2e}
    if ctx.trace:
        layers.update({
            "setup.session_s": t_session - ctx.proc_start - inputs_s,
            "setup.warmup_s": t_warm - t_session,
            "setup.inputs_s": inputs_s,
            "mem.peak_rss_mb": sampler.peak_mb,
        })
        result["layers"] = layers
    return result


def batch_layers(sc, per_query: list[dict], last_pass: int) -> dict:
    """Per-pass sums (median over timed passes) and per-query medians
    of plan build, Catalyst, jobs/stages/tasks, execution and the
    executed plans' SQL metrics."""
    first_pass = last_pass - len(per_query)
    pass_sums: list[dict] = []
    per_name: dict[str, list[dict]] = {}
    for i, rec in enumerate(per_query):
        tot = dict.fromkeys(("plans.build_ms", "plans.catalyst_ms",
                             "plans.jobs", "plans.stages", "plans.tasks",
                             "plans.exec_ms", *_SQL_METRICS.values()), 0.0)
        for n, q in rec.items():
            jobs, stages, tasks = job_counts(sc, f"streambench-{first_pass + i}-{n}")
            q.update(jobs=jobs, stages=stages, tasks=tasks,
                     catalyst_ms=catalyst_ms(q["qe"]) if q["qe"] else 0.0)
            if q["qe"] is not None:
                for k, v in plan_metrics(sc._jvm, q["qe"]).items():
                    tot[k] += v
            tot["plans.build_ms"] += q["build_ms"]
            tot["plans.catalyst_ms"] += q["catalyst_ms"]
            tot["plans.exec_ms"] += q["exec_ms"]
            tot["plans.jobs"] += jobs
            tot["plans.stages"] += stages
            tot["plans.tasks"] += tasks
            per_name.setdefault(n, []).append(q)
        pass_sums.append(tot)
    out = {k: core.median(t[k] for t in pass_sums) for k in pass_sums[0]}
    for n, qs in per_name.items():
        for k in ("build_ms", "catalyst_ms", "jobs", "exec_ms"):
            out[f"plans.{n}.{k}"] = core.median(q[k] for q in qs)
    return out
