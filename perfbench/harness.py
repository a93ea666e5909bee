"""Workload runners: set-up, the timed closed loop, oracle checks and
the metrics of BENCHMARK.json.

One client issues one op, waits for it, then issues the next.  An op
is one call into the engine plus forcing its result into Spark's
``noop`` sink, and is timed over both.  Oracle checks, cleanup and all
trace bookkeeping happen outside the timed window.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import churn
import datagen
import oracle
import sessions
import sysinfo
from stats import error_rate, median, percentile, samples_beyond, tail_rule
from tracing import Tracer

LLM_LATENCY_S = 0.010
SESSION_SF = 0.01
PIPELINE_SF = 0.01

# Registry rows of the pipeline mix: together they call into every
# package family.  Each is a builder from ``__spark_entry__.queries()``
# with a DuckDB oracle in ``__spark_entry__.oracle_sql()``, cheap
# enough that a pass fits a run.
PIPELINE_ROWS = (
    "keyword_filter_or",          # operators.deterministic
    "asof_join_events",           # operators.relational
    "sem_filter",                 # operators.semantic, stub LLM
    "text_profile",               # functions.text
    "dedup_exact",                # functions.dedup
    "lsh_topk",                   # functions.similarity
    "pagerank_suppliers",         # functions.graph
    "quantile_state_orders",      # functions.incremental
    "anomaly_events",             # functions.timeseries
    "cdc_upsert_customers",       # functions.cdc
)

FAMILIES = (
    "operators.deterministic", "operators.relational", "operators.semantic",
    "functions.text", "functions.dedup", "functions.similarity",
    "functions.graph", "functions.incremental", "functions.timeseries",
    "functions.cdc",
)

# op kinds with a per-kind median among the per-layer metrics
KINDS = ("fresh", "refine", "analyze", "hit", "churn_fresh", "churn_hit",
         "rehit", "checkpoint", "reopen")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Context:
    def __init__(self, seed, seconds, trace, work):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer() if trace else None
        self.in_op = False
        self.evictions = 0
        self.py4j_calls = 0
        self.spark = None


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its standard input closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Stopwatch:
    """Wall time and process-tree CPU time since construction."""

    def __init__(self):
        self.wall0 = time.perf_counter()
        self.cpu0 = sysinfo.tree_cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, sysinfo.tree_cpu_s() - self.cpu0


def _setup_summary(sw: Stopwatch, load_s: float, gen_s: float) -> dict:
    wall, cpu = sw.read()
    out = {"cpu_s": cpu, "wall_s": wall, "load_s": load_s, "data_s": gen_s}
    log(f"set-up {json.dumps(out)}")
    return out


def _bind_llm(builder, llm_factory):
    import inspect

    if "llm_factory" in inspect.signature(builder).parameters:
        return lambda spark, data: builder(spark, data, llm_factory=llm_factory)
    return builder


class EngineCpu:
    """CPU seconds of the engine's work, from /proc: every process of
    the tree, less the JVM's JIT-compiler, GC and VM threads.  In a
    window of a few seconds right after warm-up their share swings
    with compile-queue timing (one measured session window: 10.5 of
    the JVM's 16 CPU-s)."""

    def __init__(self, spark):
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def read(self) -> float:
        return sysinfo.tree_cpu_s() - sysinfo.jvm_internal_cpu_s(self.jvm_pid)


def settle(spark) -> None:
    """Collect garbage in the driver Python and the JVM before the timed
    window, so every run starts timing from a compacted heap whatever
    the set-up left behind."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def start_spark(ctx: Context):
    from semantic_olap_spark.session import get_spark

    local = os.path.join(ctx.work, "spark-local")
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # a fixed set of JIT-compiler threads: one that exits
            # would take its CPU time out of the per-thread sum that
            # EngineCpu subtracts from the JVM's total
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# tracing hooks (traced run only)


def _count_py4j(ctx: Context) -> None:
    """Count py4j commands the bench process sends to the JVM.  The
    release of a collected Python proxy is a command too, but Python's
    garbage collector decides when it is sent, so it is not counted."""
    import py4j.clientserver
    import py4j.java_gateway
    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    for cls in (py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection):
        orig = cls.__dict__["send_command"]

        def counted(self, command, _orig=orig):
            if not command.startswith(release):
                ctx.py4j_calls += 1
            return _orig(self, command)

        ctx.tracer._undo.append((cls, "send_command", orig))
        cls.send_command = counted


def _patch_engine(ctx: Context, probe_outcomes: dict, llm_calls) -> None:
    import semantic_olap_spark.engine as engine
    import semantic_olap_spark.plans.executor as executor
    import semantic_olap_spark.plans.memory as memory

    tr = ctx.tracer
    tr.patch(engine.OlapEngine, "decompose", "engine.decompose")
    tr.patch(engine.OlapEngine, "plan_filter", "engine.plan_filter")

    orig_probe = memory.CubeMemory.__dict__["get_current_node"]

    def probe(self, query):
        before = llm_calls()
        node, ancestors = orig_probe(self, query)
        probe_outcomes["llm_calls"] += llm_calls() - before
        probe_outcomes["probes"] += 1
        if node is not None:
            probe_outcomes["equal"] += 1
        elif any(a.id != self.root_id for a in ancestors):
            probe_outcomes["subset"] += 1
        return node, ancestors

    tr._undo.append((memory.CubeMemory, "get_current_node", orig_probe))
    memory.CubeMemory.get_current_node = tr.wrap(probe, "plans.memory.probe")

    # evictions: node releases by the cache budget during an op
    orig_evict = memory.CubeMemory.__dict__["_evict"]
    orig_release = memory.CubeNode.__dict__["release"]
    evicting = []

    def evict(self):
        evicting.append(True)
        try:
            return orig_evict(self)
        finally:
            evicting.pop()

    def release(self):
        if ctx.in_op and evicting:
            ctx.evictions += 1
        return orig_release(self)

    tr._undo += [(memory.CubeMemory, "_evict", orig_evict),
                 (memory.CubeNode, "release", orig_release)]
    memory.CubeMemory._evict = evict
    memory.CubeNode.release = release

    orig_inject = engine.inject_sub_plans

    def inject(*args, **kwargs):
        # planning jobs (dice profiling) get their own job group
        sc = args[1].sparkSession.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{group}-inject", "inject_sub_plans")
        try:
            return orig_inject(*args, **kwargs)
        finally:
            sc.setJobGroup(group, "op")

    inject.__wrapped__ = orig_inject
    for mod in (engine, __import__("semantic_olap_spark.plans.planner",
                                   fromlist=["x"])):
        tr._undo.append((mod, "inject_sub_plans", orig_inject))
        setattr(mod, "inject_sub_plans", tr.wrap(inject, "plans.planner.inject"))
    tr.patch_function_everywhere(engine.understand_topk, "plans.planner.topk")
    tr.patch_function_everywhere(engine.topk_dispatch, "plans.planner.topk")
    tr.patch_function_everywhere(executor.run_filter, "plans.executor.build")
    tr.patch_function_everywhere(engine.roll_up, "plans.rollup.roll_up")
    tr.patch_function_everywhere(engine.drill_down, "plans.rollup.drill_down")
    tr.patch_function_everywhere(memory.save_cube_incremental,
                                 "plans.memory.checkpoint")
    tr.patch_function_everywhere(memory.load_cube, "plans.memory.load")


def _family_functions(family: str):
    import importlib

    mod = importlib.import_module(f"semantic_olap_spark.{family}")
    for name, fn in sorted(vars(mod).items()):
        if (not name.startswith("_") and callable(fn)
                and getattr(fn, "__module__", None) == mod.__name__
                and not isinstance(fn, type)):
            yield fn


def _patch_pipeline(ctx: Context) -> None:
    for fam in FAMILIES:
        for fn in _family_functions(fam):
            ctx.tracer.patch_function_everywhere(fn, fam)
    _count_py4j(ctx)


class BackendMeter:
    """Wraps the mock endpoint's backend: busy time and concurrency of
    the handler threads."""

    def __init__(self, inner):
        import threading

        self.inner = inner
        self.lock = threading.Lock()
        self.calls = 0
        self.busy_s = 0.0
        self.inflight = 0
        self.inflight_area = 0.0  # integral of inflight over busy time
        self.last_t = time.perf_counter()
        self.busy_wall = 0.0      # wall time with >= 1 request in flight

    def _tick(self, delta: int) -> None:
        now = time.perf_counter()
        if self.inflight:
            self.inflight_area += self.inflight * (now - self.last_t)
            self.busy_wall += now - self.last_t
        self.inflight += delta
        self.last_t = now

    def predict(self, prompt: str) -> str:
        with self.lock:
            self.calls += 1
            self._tick(+1)
        t0 = time.perf_counter()
        try:
            return self.inner.predict(prompt)
        finally:
            dt = time.perf_counter() - t0
            with self.lock:
                self.busy_s += dt
                self._tick(-1)

    def predict_batch(self, batch):
        return [self.predict(p) for p in batch]

    def snapshot(self) -> dict:
        with self.lock:
            self._tick(0)
            return {"llm_endpoint_calls": self.calls, "llm_busy_s": self.busy_s,
                    "llm_area": self.inflight_area, "llm_busy_wall": self.busy_wall}


class DriverCounter:
    """Factory wrapper counting LLM backend calls made in the driver
    process.  Executor processes unpickle their own copy, whose counts
    stay in that process, so only driver-side planning calls land
    here.  A prompt cache the factory puts in front of its backend
    stays in front, so cost tracking still tells requests from
    backend calls."""

    def __init__(self, factory):
        self.factory = factory
        self.calls = 0

    def __getstate__(self):
        return {"factory": self.factory, "calls": 0}

    def __call__(self):
        from semantic_olap_spark.llm.client import CachingLLM

        llm = self.factory()
        counter = self

        class Counted:
            def __init__(self, inner):
                self.inner = inner

            def predict(self, prompt):
                counter.calls += 1
                return self.inner.predict(prompt)

            def predict_batch(self, batch):
                counter.calls += len(batch)
                return self.inner.predict_batch(batch)

        if isinstance(llm, CachingLLM):
            llm.inner = Counted(llm.inner)
            return llm
        return Counted(llm)


# ---------------------------------------------------------------------------
# the timed closed loop


class Loop:
    """Runs and records the timed ops of one run.

    ``counters()`` returns cumulative counts (LLM calls and the like);
    each op record holds their change over the op.  An op is
    ``build()`` (the call into the engine) plus forcing the frame it
    returns; ``build`` returns ``None`` for an op with no result, such
    as a checkpoint.  Engine CPU is read around each op, outside its
    timing.
    """

    def __init__(self, ctx: Context, spark, counters):
        import sparkstats

        self.ctx = ctx
        self.spark = spark
        self.counters = counters
        self.ops: list[dict] = []
        self.attempted = self.failed = self.mismatched = 0
        self.op_id = 0
        self.cpu_s = 0.0
        self.engine_cpu = EngineCpu(spark)
        self.last_exec = sparkstats.last_execution_id(spark) if ctx.trace else None

    def timed_s(self) -> float:
        return sum(o["latency_s"] for o in self.ops)

    def op(self, kind: str, phase: str, build, build_span: str = "engine.run"):
        """Run one op; returns ``(record, frame)``, or ``(None, None)``
        when it failed."""
        ctx, sc = self.ctx, self.spark.sparkContext
        self.attempted += 1
        self.op_id += 1
        group = f"op-{self.op_id}"
        c0 = self.counters()
        cpu0 = self.engine_cpu.read()
        py4j0 = ctx.py4j_calls
        out = None
        try:
            if ctx.trace:
                ctx.tracer.trace_id = self.op_id
                sc.setJobGroup(f"{group}-build", kind)
                ctx.in_op = True
                t0 = time.perf_counter()
                with ctx.tracer.span("op"):
                    with ctx.tracer.span(build_span):
                        out = build()
                    py4j_build = ctx.py4j_calls - py4j0
                    sc.setJobGroup(group, kind)
                    if out is not None:
                        with ctx.tracer.span("spark.exec"):
                            force(out)
            else:
                t0 = time.perf_counter()
                out = build()
                if out is not None:
                    force(out)
            lat = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            self.failed += 1
            log(f"op failed: {kind} {phase}: {exc!r}")
            return None, None
        finally:
            ctx.in_op = False
        cpu = self.engine_cpu.read() - cpu0
        self.cpu_s += cpu
        c1 = self.counters()
        rec = {"kind": kind, "phase": phase, "latency_s": lat, "cpu_s": cpu,
               **{k: c1[k] - c0[k] for k in c1}}
        if ctx.trace:
            self._trace(rec, out, group, py4j_build)
        self.ops.append(rec)
        return rec, out

    def _trace(self, rec, out, group, py4j_build) -> None:
        import sparkstats

        spark, ctx = self.spark, self.ctx
        build = sparkstats.group_stage_totals(spark, f"{group}-build")
        execd = sparkstats.group_stage_totals(spark, group)
        rec["summary"] = ctx.tracer.op_summary(self.op_id)
        rec["spark"] = {k: build[k] + execd[k] for k in execd}
        rec["build_jobs"] = build["jobs"]
        rec["py4j_build"] = py4j_build
        rec["inject_jobs"] = len(sparkstats.group_jobs(spark, f"{group}-build-inject"))
        rec["python_udf_s"] = sparkstats.python_udf_s(spark, self.last_exec)
        rec["planning_ms"] = sparkstats.planning_ms(out) if out is not None else None
        rec["evictions"] = ctx.evictions
        rec["cached_mb"] = _cached_mb(spark)
        ctx.evictions = 0
        self.last_exec = sparkstats.last_execution_id(spark)

    def check(self, what: str, ok: bool, why: str, n_ops: int = 1) -> None:
        """Record an oracle verdict on ``n_ops`` ops."""
        if not ok:
            self.mismatched += n_ops
            log(f"oracle mismatch on {what}: {why}")


def _peak_rss(ctx: Context):
    """A started RSS sampler in a traced run: its /proc scans every
    0.25 s would count in the engine CPU of an untraced run."""
    if not ctx.trace:
        return None
    rss = sysinfo.PeakRss()
    rss.start()
    return rss


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _leak_check(spark, baseline: int, persisted: list[int], where: str) -> None:
    import sparkstats

    persisted.append(sparkstats.persisted_rdds(spark))
    if persisted[-1] > baseline:
        log(f"persisted RDDs grew {where}: baseline {baseline}, "
            f"now {persisted[-1]}")


# ---------------------------------------------------------------------------
# olap_sessions: progressive sessions, then a churn round


def _release_engine(eng) -> None:
    for node in eng.memory.nodes.values():
        node.release()


def _lattice_kind(eng, query: str) -> str:
    """``churn_hit``, ``rehit`` or ``churn_fresh``: whether the lattice
    holds a node for ``query`` and whether its frame is cached."""
    for node in eng.memory.nodes.values():
        if node.query == query:
            return "churn_hit" if node.df.is_cached else "rehit"
    return "churn_fresh"


def run_sessions(ctx: Context) -> dict:
    import pyarrow.parquet as pq

    t_proc = time.perf_counter()
    data = datagen.write_tables(os.path.join(ctx.work, "data"), ctx.seed,
                                SESSION_SF, topic_p=0.2, only=("documents",))
    docs_pa = pq.read_table(os.path.join(data, "documents.parquet"),
                            columns=["text", "n_chars"])
    stats = sessions.topic_stats(zip(docs_pa.column("text").to_pylist(),
                                     docs_pa.column("n_chars").to_pylist()))
    # each unit takes two fresh topic words for the session and two for
    # the churn round, so the vocabulary caps the units of a run
    n_max = min(1 + max(4, int(ctx.seconds // 3)),
                (len(datagen.TOPIC_WORDS) - churn.CACHE_NODES) // 2 + 1)
    scripts = sessions.generate(ctx.seed, stats, n_max)
    rounds = churn.generate(ctx.seed, stats, n_max)
    duck = oracle.SessionOracle(os.path.join(data, "documents.parquet"))
    cube = os.path.join(ctx.work, "cube")
    gen_s = time.perf_counter() - t_proc

    from semantic_olap_spark import OlapEngine, release_caches
    from semantic_olap_spark.llm.client import StubLLM, wrap_cost_tracking
    from semantic_olap_spark.llm.http_client import http_llm_factory
    from semantic_olap_spark.llm.mock_server import LatencyLLM, MockOpenAIServer
    import semantic_olap_spark.plans.memory as memory
    from semantic_olap_spark.sources.loaders import load_table, with_olap_id
    import sparkstats

    meter = BackendMeter(LatencyLLM(StubLLM(), LLM_LATENCY_S))
    srv = MockOpenAIServer(backend=meter)
    try:
        sw = Stopwatch()
        spark = start_spark(ctx)
        tl = time.perf_counter()
        docs = with_olap_id(load_table(spark, data, "documents")).cache()
        docs.count()
        load_s = time.perf_counter() - tl
        endpoint = http_llm_factory(srv.base_url, model="perfbench", concurrency=1)
        session_counter, churn_counter = DriverCounter(endpoint), DriverCounter(StubLLM)
        session_llm = session_counter if ctx.trace else endpoint
        # churn engines use the in-process stub; these accumulators
        # count its calls across the writer and every reopened reader
        churn_llm, churn_stats = wrap_cost_tracking(
            spark, churn_counter if ctx.trace else StubLLM)

        def llm_calls() -> int:
            return meter.calls + churn_stats.backend_calls

        def counters() -> dict:
            return {"llm_calls": llm_calls(), **meter.snapshot(),
                    "llm_driver_calls": session_counter.calls + churn_counter.calls}

        # -- warm-up: the untimed session's ops up to its second fresh
        # filter, then the churn engine's first round
        eng = OlapEngine(docs, llm_factory=session_llm, track_costs=True)
        for query in sessions.warmup_queries(scripts[0]):
            force(eng.run(query))
        _release_engine(eng)
        writer = OlapEngine(docs, llm_factory=churn_llm, track_costs=True,
                            max_cached_nodes=churn.CACHE_NODES)
        for op in rounds[0]:
            if op["kind"] == "reopen":
                reader = OlapEngine.load(spark, cube, llm_factory=churn_llm,
                                         max_cached_nodes=churn.CACHE_NODES)
                force(reader.run(op["query"]))
                _release_engine(reader)
            else:
                force(writer.run(op["query"]))
                memory.save_cube_incremental(writer.memory, cube)
        release_caches()
        settle(spark)
        baseline = sparkstats.persisted_rdds(spark)
        if ctx.trace:
            probe_outcomes = {"probes": 0, "equal": 0, "subset": 0, "llm_calls": 0}
            _patch_engine(ctx, probe_outcomes, llm_calls)
        loop = Loop(ctx, spark, counters)
        setup = _setup_summary(sw, load_s, gen_s)

        persisted, cost = [], {"llm_requests": -churn_stats.requests,
                               "llm_backend_calls": -churn_stats.backend_calls}
        stored = {"bytes": 0, "query_ops": 0}
        rss = _peak_rss(ctx)
        unit = 1
        while loop.timed_s() < ctx.seconds and unit < n_max:
            _timed_session(ctx, loop, docs, session_llm, scripts[unit], duck, cost)
            release_caches()
            _leak_check(spark, baseline, persisted, "after a session")
            _timed_round(ctx, loop, writer, churn_llm, rounds[unit], duck,
                         cube, stored)
            release_caches()
            _leak_check(spark, baseline, persisted, "after a churn round")
            unit += 1
        peak = rss.stop() if rss else None
        cost["llm_requests"] += churn_stats.requests
        cost["llm_backend_calls"] += churn_stats.backend_calls
        retained = sparkstats.jvm_retained_mb(spark) if ctx.trace else None
        _release_engine(writer)
        if ctx.trace:
            ctx.tracer.restore()
        return {
            "loop": loop, "setup": setup, "peak_rss_mb": peak,
            "retained_mb": retained, "persisted_rdds": persisted,
            "cleanup_ok": max(persisted, default=0) <= baseline,
            "probes": probe_outcomes if ctx.trace else None,
            "llm_cost": cost, "stored": stored,
        }
    finally:
        srv.shutdown()


def _timed_session(ctx, loop, docs, llm, script, duck, cost) -> None:
    from semantic_olap_spark import OlapEngine

    eng = OlapEngine(docs, llm_factory=llm, track_costs=True)
    outs = []
    for op in script:
        rec, out = loop.op(op["kind"], "sessions",
                           lambda q=op["query"]: eng.run(q))
        if rec is not None:
            outs.append((op, out))
    # outside the timed window: oracle, then cleanup
    for op, out in outs:
        loop.check(repr(op["query"]), *duck.check(op, out))
    stats_now = eng.statistics()
    cost["llm_requests"] += stats_now["llm_requests"]
    cost["llm_backend_calls"] += stats_now["llm_backend_calls"]
    _release_engine(eng)


def _timed_round(ctx, loop, writer, llm, script, duck, cube, stored) -> None:
    """One churn round: each query op followed by a checkpoint, then a
    reader reopens the checkpoint and probes it once."""
    from semantic_olap_spark import OlapEngine
    import semantic_olap_spark.plans.memory as memory

    for op in script:
        if op["kind"] == "reopen":
            opened = []

            def reopen(q=op["query"]):
                opened.append(OlapEngine.load(
                    ctx.spark, cube, llm_factory=llm,
                    max_cached_nodes=churn.CACHE_NODES))
                return opened[0].run(q)

            rec, out = loop.op("reopen", "churn", reopen)
            if rec is not None:
                loop.check(f"reopen {op['query']!r}", *duck.check(op, out))
                want = sorted(n.query for n in writer.memory.nodes.values())
                got = sorted(n.query for n in opened[0].memory.nodes.values())
                loop.check("reopened lattice", got == want,
                           f"{len(got)} node queries, writer has {len(want)}")
            if opened:
                _release_engine(opened[0])
            continue
        kind = _lattice_kind(writer, op["query"])
        rec, out = loop.op(kind, "churn", lambda q=op["query"]: writer.run(q))
        if rec is None:
            continue
        loop.check(repr(op["query"]), *duck.check(op, out))
        out = None
        before = dir_bytes(cube)
        if loop.op("checkpoint", "churn",
                   lambda: memory.save_cube_incremental(writer.memory, cube))[0]:
            stored["bytes"] += dir_bytes(cube) - before
            stored["query_ops"] += 1


# ---------------------------------------------------------------------------
# pipeline_mix


def run_pipeline(ctx: Context) -> dict:
    import duckdb

    t_proc = time.perf_counter()
    data = datagen.write_tables(os.path.join(ctx.work, "data"), ctx.seed,
                                PIPELINE_SF)
    rng = random.Random(ctx.seed)
    gen_s = time.perf_counter() - t_proc

    import __spark_entry__ as entry
    from semantic_olap_spark import release_caches
    from semantic_olap_spark.llm.client import default_llm_factory, wrap_cost_tracking
    from semantic_olap_spark.sources.loaders import load_tables
    import sparkstats

    registry = entry.queries()
    oracles = entry.oracle_sql()
    rows = [r for r in PIPELINE_ROWS if r in registry and r in oracles]
    con = duckdb.connect()
    oracle.register_tables(con, data)

    sw = Stopwatch()
    spark = start_spark(ctx)
    tl = time.perf_counter()
    load_tables(spark, data)  # the warm-up pass touches every table first
    load_s = time.perf_counter() - tl
    # the stub LLM behind accumulator counters, for the rows that take
    # an LLM factory
    llm_factory, llm_stats = wrap_cost_tracking(spark, default_llm_factory)
    builders = {name: _bind_llm(registry[name], llm_factory) for name in rows}
    warm = {}
    for name in rows:  # one untimed pass over every row
        t0 = time.perf_counter()
        force(builders[name](spark, data))
        warm[name] = round(time.perf_counter() - t0, 2)
        release_caches()
    log(f"warm-up pass {json.dumps(warm)}")
    settle(spark)
    baseline = sparkstats.persisted_rdds(spark)
    if ctx.trace:
        _patch_pipeline(ctx)
    loop = Loop(ctx, spark, lambda: {"llm_calls": llm_stats.requests})
    setup = _setup_summary(sw, load_s, gen_s)

    last_df, persisted = {}, []
    requests0, backend0 = llm_stats.requests, llm_stats.backend_calls
    rss = _peak_rss(ctx)
    while loop.timed_s() < ctx.seconds:
        order = list(rows)
        rng.shuffle(order)
        for name in order:
            rec, df = loop.op(name, "pipeline",
                              lambda b=builders[name]: b(spark, data),
                              build_span="driver.build")
            if rec is not None:
                last_df[name] = df
            release_caches()
        _leak_check(spark, baseline, persisted, "after a pass")
    peak = rss.stop() if rss else None
    if ctx.trace:
        ctx.tracer.restore()
    cost = {"llm_requests": llm_stats.requests - requests0,
            "llm_backend_calls": llm_stats.backend_calls - backend0}
    # -- outside the timed window: each row's output against DuckDB
    for name, df in last_df.items():
        ok, why = oracle.pipeline_check(df, oracle.duck_hash(con, oracles[name]))
        loop.check(name, ok, why, sum(1 for o in loop.ops if o["kind"] == name))
        release_caches()
    # what the session holds once the caller has dropped every result
    last_df.clear()
    df = None
    retained = sparkstats.jvm_retained_mb(spark) if ctx.trace else None
    return {
        "loop": loop, "setup": setup, "peak_rss_mb": peak,
        "retained_mb": retained, "persisted_rdds": persisted,
        "cleanup_ok": max(persisted, default=0) <= baseline,
        "probes": None, "llm_cost": cost, "stored": None,
    }


WORKLOADS = {"olap_sessions": run_sessions, "pipeline_mix": run_pipeline}


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run


def layer_metrics(ctx: Context, res: dict) -> dict:
    """Every per-layer metric from the op records of a traced run.  A
    layer the workload never enters reads 0."""
    ops = res["loop"].ops
    n = max(len(ops), 1)

    def total(span):
        return sum(o["summary"].get(span, {}).get("total_s", 0.0) for o in ops) / n

    def per_op(key):
        return sum(o.get(key, 0) for o in ops) / n

    probes = res["probes"] or {"probes": 0, "equal": 0, "subset": 0, "llm_calls": 0}
    n_probes = max(probes["probes"], 1)
    cost = res["llm_cost"]
    stored = res["stored"] or {"bytes": 0, "query_ops": 0}
    sess = [o for o in ops if o["phase"] == "sessions"]
    lay = {
        "engine.decompose_s": total("engine.decompose"),
        "engine.plan_filter_s": total("engine.plan_filter"),
        "plans.memory.probe_s": total("plans.memory.probe"),
        "plans.memory.probe_llm_calls": probes["llm_calls"] / n,
        "plans.memory.hit_ratio": probes["equal"] / n_probes,
        "plans.memory.subset_ratio": probes["subset"] / n_probes,
        "plans.memory.evictions": per_op("evictions"),
        "plans.memory.cached_mb": median([o["cached_mb"] for o in ops]),
        "plans.memory.checkpoint_s": total("plans.memory.checkpoint"),
        "plans.memory.checkpoint_bytes": stored["bytes"] / max(stored["query_ops"], 1),
        "plans.memory.load_s": total("plans.memory.load"),
        "plans.planner.inject_s": total("plans.planner.inject"),
        "plans.planner.eager_jobs": per_op("inject_jobs"),
        "plans.planner.topk_s": total("plans.planner.topk"),
        "plans.executor.build_s": total("plans.executor.build"),
        "plans.rollup.roll_up_s": total("plans.rollup.roll_up"),
        "plans.rollup.drill_down_s": total("plans.rollup.drill_down"),
        "llm.requests": cost["llm_requests"] / n,
        "llm.cache_hit_ratio": (1 - cost["llm_backend_calls"] / cost["llm_requests"]
                                if cost["llm_requests"] else 0.0),
        "llm.calls_per_op": per_op("llm_calls"),
        "llm.driver_calls": per_op("llm_driver_calls"),
        "llm.backend_busy_s": per_op("llm_busy_s"),
        "llm.inflight_mean": median([o["llm_area"] / o["llm_busy_wall"] for o in ops
                                     if o.get("llm_busy_wall")]),
        "llm.pipelining_ratio": (
            sum(o["llm_endpoint_calls"] for o in sess) * LLM_LATENCY_S
            / sum(o["latency_s"] for o in sess) if sess else 0.0),
        "spark.exec_s": total("spark.exec"),
        "spark.planning_ms": median([o["planning_ms"] for o in ops
                                     if o["planning_ms"] is not None]),
        "spark.python_udf_s": per_op("python_udf_s"),
        "spark.persisted_rdds": float(res["persisted_rdds"][-1]),
        "driver.build_s": total("driver.build"),
        "driver.py4j_calls": per_op("py4j_build"),
        "driver.eager_jobs": sum(o["build_jobs"] for o in ops
                                 if o["phase"] == "pipeline") / n,
        "sources.load_s": res["setup"]["load_s"],
    }
    # worker calls: backend calls that did not come from the driver
    lay["llm.worker_calls"] = max(lay["llm.calls_per_op"] - lay["llm.driver_calls"], 0.0)
    for key in ("jobs", "stages", "tasks", "executor_run_s",
                "shuffle_write_mb", "input_mb", "spill_mb"):
        lay[f"spark.{key}"] = sum(o["spark"][key] for o in ops) / n
    # build/exec split per family: build = the family's own spans
    # (self time, nested calls into other families excluded) during the
    # builder call; exec = the forcing time of every row whose build
    # called into the family
    for fam in FAMILIES:
        lay[f"{fam}.build_s"] = sum(
            o["summary"].get(fam, {}).get("self_s", 0.0) for o in ops) / n
        lay[f"{fam}.exec_s"] = sum(
            o["summary"].get("spark.exec", {}).get("total_s", 0.0)
            for o in ops if fam in o["summary"]) / n
    for kind in KINDS:
        lay[f"ops.{kind}_p50_s"] = median(
            [o["latency_s"] for o in ops if o["kind"] == kind])
    gaps = [abs(o["latency_s"] - sum(v["self_s"] for v in o["summary"].values()))
            for o in ops]
    lay["trace.self_time_gap_s"] = max(gaps, default=0.0)
    lay["trace.overhead_per_op_s"] = ctx.tracer.overhead_s / n
    return lay


# ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        root: str, spans_path: str | None) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, here] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env = sysinfo.environment(nproc)
    steal0 = sysinfo.cpu_ticks()
    ctx = Context(seed, seconds, trace, work)
    try:
        res = WORKLOADS[workload](ctx)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
    env["loadavg_end"] = sysinfo.loadavg_1m()
    steal1 = sysinfo.cpu_ticks()
    env["cpu_steal_share"] = round(
        (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)
    env["contended"] = max(env["loadavg_start"], env["loadavg_end"]) > nproc
    if env["contended"]:
        log(f"CONTENDED run: 1-min loadavg {env['loadavg_start']:.2f} -> "
            f"{env['loadavg_end']:.2f} exceeds nproc {nproc}")
    loop = res["loop"]
    lats = [o["latency_s"] for o in loop.ops]
    n = len(lats)
    timed = loop.timed_s()
    tail_p = tail_rule(n)
    by_kind: dict[str, list[float]] = {}
    for o in loop.ops:
        by_kind.setdefault(o["kind"], []).append(o["latency_s"])
    llm_calls_per_op = sum(o["llm_calls"] for o in loop.ops) / n if n else 0.0
    info = {
        "workload": workload, "seed": seed, "env": env, "ops": n,
        "timed_wall_s": timed,
        "setup_wall_s": res["setup"]["wall_s"],
        "latency_p50_s": percentile(lats, 50) if n else None,
        "latency_p90_s": percentile(lats, 90) if n else None,
        "ops_per_s": n / timed if n else None,
        "peak_rss_mb": res["peak_rss_mb"],
        "retained_mb": res["retained_mb"],
        "latency_p90_samples_beyond": samples_beyond(n, 90) if n else 0,
        "tail_rule_percentile": tail_p,
        "latency_tail_s": percentile(lats, tail_p) if tail_p else None,
        "error_rate": error_rate(loop.attempted, loop.failed, loop.mismatched),
        "ops_by_kind": {k: len(v) for k, v in sorted(by_kind.items())},
        "p50_by_kind": {k: median(v) for k, v in sorted(by_kind.items())},
        "llm_calls_per_op": llm_calls_per_op,
        "stored_bytes": res["stored"],
        "persisted_rdds": res["persisted_rdds"],
        "cleanup_ok": res["cleanup_ok"],
        "op_latency_cpu_s": [[o["kind"], round(o["latency_s"], 4), round(o["cpu_s"], 3)]
                             for o in loop.ops],
    }
    log("run " + json.dumps(info))
    if trace:
        values = layer_metrics(ctx, res)
        values["wall.setup_s"] = res["setup"]["wall_s"]
        values["wall.latency_p50_s"] = info["latency_p50_s"]
        values["wall.latency_p90_s"] = info["latency_p90_s"]
        values["wall.ops_per_s"] = info["ops_per_s"]
        values["mem.peak_rss_mb"] = res["peak_rss_mb"]
        values["mem.retained_mb"] = res["retained_mb"]
        listed = bench["per_layer"]
        if spans_path:
            with open(spans_path, "w") as fh:
                json.dump(ctx.tracer.dump(), fh)
    else:
        values = {"setup_s": res["setup"]["cpu_s"],
                  "cpu_s_per_op": loop.cpu_s / n if n else 0.0,
                  "llm_calls_per_op": llm_calls_per_op}
        listed = bench["end_to_end"]
    names = [m["name"] for m in listed]
    if set(names) != set(values):
        raise RuntimeError(
            f"metrics of BENCHMARK.json not produced: {sorted(set(names) - set(values))}; "
            f"produced but not listed: {sorted(set(values) - set(names))}")
    failed = loop.failed + loop.mismatched
    return {
        "correct": failed == 0 and res["cleanup_ok"],
        "attempted": loop.attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in listed},
    }
