"""End-to-end and per-layer benchmark of the eve_graph_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload route_read --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/METRICS.md for why each exists and what it should
move):

- ``route_read``: one closed-loop client issuing GET /shortest-route and
  GET /safest-route, alternately, against ``http_api.serve`` over a
  ``GraphEngine`` bootstrapped on a seeded EVE-like universe.
- ``batch_analytics``: timed passes, each over distributed graph kernels
  (``driver_threshold=0``) on the same universe's jump edges, then over
  registry corpus queries written to the noop sink on seeded
  ``documents``/``embeddings`` tables.

Every input comes from ``--seed``. Every answer is checked against the
benchmark's own model (networkx), the kernel's driver branch or the query's
DuckDB oracle, outside the
timed region; a wrong answer counts as a failed op. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's public functions
in spans and reports the per-layer metrics. Spark runs ``local[N]`` with N
at most the host's core count. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a host record, a summary
and the full per-run record (samples, failures, spans) are written to
``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # before any heavy import: setup_s starts here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402
from urllib.parse import quote  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = Path.cwd() / ".perfbench"
WORKLOADS = ("route_read", "batch_analytics")
# pagerank is the power-iteration kernel, label_propagation the label-family
# one; both run a fixed number of supersteps, so a pass is a fixed job count
KERNELS = ("pagerank", "label_propagation")
PAGERANK_ITERATIONS = 2
LPA_ITERATIONS = 3
# one query per operator module: the curation pipeline (text_analysis),
# dedup, similarity and multimodal
CORPUS_QUERIES = ("corpus_curation_pipeline", "semantic_dedup_embeddings", "ann_ivf_pq_topk",
                  "multimodal_features")
CANARY_JOBS = 15

if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from pyspark.sql import types as T  # noqa: E402

from perfbench import corpus, spans, stats, universe  # noqa: E402
from perfbench.model import UniverseModel  # noqa: E402

EDGE_SCHEMA = T.StructType([T.StructField("src_system_id", T.LongType(), False),
                            T.StructField("dst_system_id", T.LongType(), False)])
# the EVE-Scout columns the engine reads (universe.make_signatures rows)
SIGNATURE_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()), T.StructField("signature_type", T.StringType()),
    T.StructField("in_system_id", T.LongType()), T.StructField("out_system_id", T.LongType())])
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "py_peak_rss_mb": "MB"}
# per-layer metric -> (unit, better); a layer the workload never enters reads 0
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "session.jvm_peak_rss_mb": ("MB", "lower"),
    "spark.job_floor_before_ms": ("ms", "lower"),
    "spark.job_floor_after_ms": ("ms", "lower"),
    "spark.jobs_per_route": ("count", "lower"),
    "spark.tasks_per_route": ("count", "lower"),
    "spark.jobs_per_pass": ("count", "lower"),
    "spark.tasks_per_pass": ("count", "lower"),
    "http_api.overhead_ms": ("ms", "lower"),
    "api.bootstrap_s": ("s", "lower"),
    "api.route_ms": ("ms", "lower"),
    "api.route_self_ms": ("ms", "lower"),
    "api.refresh_wormholes_ms": ("ms", "lower"),
    "api.refresh_wormholes_jobs": ("count", "lower"),
    "api.refresh_risk_ms": ("ms", "lower"),
    "api.refresh_risk_jobs": ("count", "lower"),
    "api.first_route_after_write_ms": ("ms", "lower"),
    "graph.fits_driver_ms": ("ms", "lower"),
    "graph.fits_driver_calls": ("count", "lower"),
    "graph.probe_hit_ratio": ("ratio", "higher"),
    "graph.sssp_ms": ("ms", "lower"),
    "graph.reconstruct_path_ms": ("ms", "lower"),
    "graph.path_as_names_ms": ("ms", "lower"),
    "graph.project_ms": ("ms", "lower"),
    "graph.project_calls": ("count", "lower"),
    "graph_analytics.pagerank_s": ("s", "lower"),
    "graph_analytics.pagerank_jobs": ("count", "lower"),
    "graph_analytics.label_propagation_s": ("s", "lower"),
    "graph_analytics.label_propagation_jobs": ("count", "lower"),
    "checkpointing.truncate_lineage_calls": ("count", "lower"),
    "checkpointing.truncate_lineage_ms": ("ms", "lower"),
    **{f"queries.{q}_{m}": (u, "lower") for q in CORPUS_QUERIES for m, u in (("s", "s"), ("jobs", "count"))},
    "queries.py_workers": ("count", "lower"),
    "trace.op_p50_ms": ("ms", "lower"),
}


def _configure_env() -> dict:
    """Spark at most one thread per core, scratch space inside the cwd."""
    nproc = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if not cpus.isdigit() or not 1 <= int(cpus) <= nproc:
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("spark-local", "tmp"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    java_opts = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the status tracker must still hold every job of the run at the end
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    return {"nproc": nproc, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def _source_commit() -> str:
    """Content hash of the engine's sources (the checkout may not be a git
    repository)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "eve_graph_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return "tree-" + h.hexdigest()[:16]


def job_floor_ms(spark) -> float:
    """Median wall time of trivial one-task Spark jobs: the host canary."""
    ts = []
    for _ in range(CANARY_JOBS):
        t = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        ts.append(time.perf_counter() - t)
    return stats.median(ts) * 1000


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _python_workers(jvm_pid: int) -> int:
    """Live Python processes the JVM started (the worker daemon and its
    workers)."""
    n = 0
    for pid in _descendants(jvm_pid):
        try:
            n += b"python" in Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            continue
    return n


def _vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    sc = spark.sparkContext
    gw = sc._gateway
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    kids = _descendants(jvm_pid)
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in kids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, 9)


# --- tracing -----------------------------------------------------------------

def install_wrappers(tracer) -> None:
    """Spans around the engine's public functions (perfbench/METRICS.md)."""
    from eve_graph_spark import api, checkpointing
    from eve_graph_spark import queries  # noqa: F401 — loaded so its truncate_lineage is wrapped
    from eve_graph_spark.operators import graph
    from eve_graph_spark.operators import graph_analytics  # noqa: F401 — likewise

    for m in ("bootstrap", "refresh_systems", "refresh_stargates", "refresh_risk",
              "refresh_wormholes", "shortest_route", "safest_route"):
        tracer.wrap(api.GraphEngine, m, f"api.{m}")
    for f in ("sssp", "reconstruct_path", "path_as_names"):
        tracer.wrap(api, f, f"graph.{f}")
    tracer.wrap(graph, "fits_driver", "graph.fits_driver")
    tracer.wrap(graph.ProjectionRegistry, "project", "graph.project")
    # modules imported from here on pick up the wrapped checkpointing name
    orig = checkpointing.truncate_lineage
    tracer.wrap(checkpointing, "truncate_lineage", "checkpointing.truncate_lineage")
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if name.startswith("eve_graph_spark") and getattr(mod, "truncate_lineage", None) is orig:
            tracer.wrap(mod, "truncate_lineage", "checkpointing.truncate_lineage")


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else default


# --- workloads ---------------------------------------------------------------

class Run:
    """What a workload hands back to main()."""

    def __init__(self):
        self.setup_done = 0.0
        self.wall = 0.0
        self.floor_before = self.floor_after = 0.0
        self.lat: list[float] = []  # timed latencies that count (404s excluded)
        self.timed: list[dict] = []  # one dict per timed op
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict = {}
        self.phases: dict[str, float] = {}  # set-up phase -> seconds since process start

    def mark(self, phase: str) -> None:
        self.phases[phase] = time.perf_counter() - T_PROCESS

    def measure(self, spark, seconds: float, op) -> None:
        """End set-up, then run op() back to back while the next one is
        expected to finish within `seconds` (at least once), with the job
        floor canary before and after."""
        self.setup_done = time.perf_counter()
        self.mark("setup_done")
        self.floor_before = job_floor_ms(spark)
        t0 = time.perf_counter()
        while not self.timed or (
                time.perf_counter() - t0 + _med(o["ms"] for o in self.timed) / 1000 <= seconds):
            self.timed.append(op())
        self.wall = time.perf_counter() - t0
        self.floor_after = job_floor_ms(spark)


def _inputs(seed: int):
    from eve_graph_spark import schemas

    uni = universe.make_universe(seed)
    rng = random.Random(f"{seed}/feeds")
    kills, jumps = universe.make_activity(rng, uni)
    sigs = universe.make_signatures(rng, uni)
    model = UniverseModel(uni)
    model.bootstrap(kills, jumps, sigs)
    return uni, model, rng, {
        "esi_systems": (uni.systems, schemas.SYSTEM),
        "stargates": (uni.stargates, schemas.STARGATE),
        "kills": (kills, schemas.SYSTEM_KILLS),
        "jumps_activity": (jumps, schemas.SYSTEM_JUMPS),
        "signatures": (sigs, SIGNATURE_SCHEMA),
    }


def _frame(spark, seed: int, name: str, rows: list[tuple], schema):
    """DataFrame over generated rows, written to a parquet file and read back
    the way the engine's loaders read tables (sources.tables.load_table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    path = WORK / f"inputs-seed{seed}" / f"{name}.parquet"
    path.parent.mkdir(parents=True, exist_ok=True)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow), path)
    return spark.read.schema(schema).parquet(str(path))


def _get(port: int, path: str) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        return resp.status, json.loads(body) if body else None
    finally:
        conn.close()


def route_read(spark, seed: int, seconds: float, tracer) -> Run:
    from eve_graph_spark import schemas
    from eve_graph_spark.api import GraphEngine
    from eve_graph_spark.http_api import EngineProviders, serve

    run = Run()
    uni, model, rng, rows = _inputs(seed)
    run.mark("inputs_generated")
    frames = {name: _frame(spark, seed, name, data, schema) for name, (data, schema) in rows.items()}
    run.mark("inputs_written")
    engine = GraphEngine(_frame(spark, seed, "systems_empty", [], schemas.SYSTEM),
                         _frame(spark, seed, "jumps_empty", [], schemas.JUMP))
    engine.bootstrap(frames["esi_systems"], frames["stargates"], frames["kills"],
                     frames["jumps_activity"], frames["signatures"])
    run.mark("bootstrapped")
    providers = EngineProviders(**{k: (lambda df=df: df) for k, df in frames.items()})
    srv, thread = serve(engine, providers)
    port = srv.server_address[1]
    requests = universe.make_requests(rng, uni, 1000)
    ops = []

    def issue(i: int) -> dict:
        r = requests[i]
        tracer.request = i
        t = time.perf_counter()
        status, body = _get(port, f"/{r.route}/{quote(r.src, safe='')}/to/{quote(r.dst, safe='')}")
        op = {"i": i, "route": r.route, "src": r.src, "dst": r.dst, "expect_404": r.expect_404,
              "status": status, "path": (body or {}).get("route"),
              "ms": (time.perf_counter() - t) * 1000}
        ops.append(op)
        return op

    try:
        for i in range(universe.WARMUP_REQUESTS):
            issue(i)
        run.measure(spark, seconds, lambda: issue(len(ops)))
        tracer.active = False
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=30)

    for op in ops:
        why = model.check_route(op["route"], op["src"], op["dst"], op["status"], op["path"])
        if why:
            run.failures.append(f"request {op['i']} {op['route']} {op['src']} -> {op['dst']}: {why}")
    run.attempted = len(ops)
    run.lat = [o["ms"] for o in run.timed if not o["expect_404"]]
    run.samples = {"requests": [{k: v for k, v in o.items() if k != "path"} | {"hops": len(o["path"] or []) - 1}
                                for o in ops]}
    return run


def batch_analytics(spark, seed: int, seconds: float, tracer) -> Run:
    import duckdb
    import networkx as nx

    from eve_graph_spark.operators import graph_analytics as ga
    from eve_graph_spark.queries import oracle_sql, queries

    run = Run()
    uni, model, _, _ = _inputs(seed)
    edge_rows = model.edge_rows()
    edges = _frame(spark, seed, "jump_edges", edge_rows, EDGE_SCHEMA).persist()
    edges.count()
    data_dir = str(corpus.write_corpus(seed, WORK / f"corpus-seed{seed}"))
    run.mark("inputs_written")
    kernels = {
        "pagerank": lambda **kw: ga.pagerank(edges, iterations=PAGERANK_ITERATIONS, **kw),
        "label_propagation": lambda **kw: ga.label_propagation(edges, iterations=LPA_ITERATIONS, **kw),
    }
    registry = queries()
    order_rng = random.Random(f"{seed}/order")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    kernel_outputs: list[dict] = []

    def one_pass() -> dict:
        order = order_rng.sample(CORPUS_QUERIES, len(CORPUS_QUERIES))
        workers_before = _python_workers(jvm_pid)
        out = {}
        t = time.perf_counter()
        with tracer.span("pass"):
            for k in KERNELS:
                # the span covers the collect: kernels may return lazy frames
                with tracer.span(f"graph_analytics.{k}"):
                    out[k] = kernels[k](driver_threshold=0).collect()
            for name in order:
                with tracer.span(f"queries.{name}"):
                    registry[name](spark, data_dir).write.format("noop").mode("overwrite").save()
        ms = (time.perf_counter() - t) * 1000
        kernel_outputs.append(out)
        return {"ms": ms, "order": order, "py_workers": max(workers_before, _python_workers(jvm_pid))}

    # warm pass (JIT, Python workers, planner caches); the corpus queries
    # collect their output here for the oracle check
    for k in KERNELS:
        kernels[k](driver_threshold=0).collect()
    query_outputs = {}
    for name in order_rng.sample(CORPUS_QUERIES, len(CORPUS_QUERIES)):
        df = registry[name](spark, data_dir)
        query_outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
    run.measure(spark, seconds, one_pass)
    tracer.active = False

    # kernel checks: distributed == driver branch, and every label community
    # lies inside one connected component of the model's graph
    want = {k: sorted(map(tuple, kernels[k]().collect())) for k in KERNELS}
    comp = {}
    for ci, members in enumerate(nx.weakly_connected_components(nx.DiGraph(edge_rows))):
        comp.update(dict.fromkeys(members, ci))
    for pi, out in enumerate(kernel_outputs):
        for k in KERNELS:
            run.attempted += 1
            got = sorted(map(tuple, out[k]))
            if got != want[k]:
                run.failures.append(f"pass {pi} {k}: distributed output differs from the driver branch")
            elif k == "label_propagation":
                seen: dict = {}
                for node, label in got:
                    if seen.setdefault(label, comp[node]) != comp[node]:
                        run.failures.append(f"pass {pi} label {label} spans two components")
                        break
    # query checks: each output equals its DuckDB oracle on the same files
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")
    oracles = oracle_sql()
    for name, (cols, rows) in query_outputs.items():
        run.attempted += 1
        want_df = con.execute(oracles[name]).fetchdf()
        why = corpus.same_result(cols, rows, list(want_df.columns),
                                 list(want_df.itertuples(index=False, name=None)))
        if why:
            run.failures.append(f"{name}: {why}")
    con.close()
    run.lat = [o["ms"] for o in run.timed]
    run.samples = {"passes": run.timed, "edges": len(edge_rows), "systems": len(uni.names)}
    return run


WORKLOAD_FNS = {"route_read": route_read, "batch_analytics": batch_analytics}


# --- metrics -----------------------------------------------------------------

def layer_metrics(workload: str, run: Run, tracer, session_s: float, jvm_mb: float) -> dict:
    """Per-layer metrics from the spans of a traced run (perfbench/METRICS.md)."""
    roots = tracer.roots()
    # root spans of each timed op, 404s excluded like the latency figures
    if workload == "route_read":
        ops = [o for o in run.timed if not o["expect_404"]]
        op_roots = [[s for s in roots if s.request == o["i"]] for o in ops]
    else:
        ops = run.timed
        op_roots = [[s] for s in [s for s in roots if s.name == "pass"][-len(ops):]]
    n_ops = max(1, len(ops))
    timed = [d for rs in op_roots for r in rs for d in r.walk()]

    def named(name, among=timed):
        return [s for s in among if s.name == name]

    m = {
        "session.get_spark_s": session_s,
        "session.jvm_peak_rss_mb": jvm_mb,
        "spark.job_floor_before_ms": run.floor_before,
        "spark.job_floor_after_ms": run.floor_after,
        "trace.op_p50_ms": stats.median(run.lat),
    }

    routes = [(o, s) for o, rs in zip(ops, op_roots) for s in rs
              if s.name in ("api.shortest_route", "api.safest_route")]
    m["spark.jobs_per_route"] = _med(s.total_jobs() for _, s in routes)
    m["spark.tasks_per_route"] = _med(s.total_tasks() for _, s in routes)
    m["http_api.overhead_ms"] = _med(o["ms"] - s.duration * 1000 for o, s in routes)
    m["api.route_ms"] = _med(s.duration * 1000 for _, s in routes)
    m["api.route_self_ms"] = _med(s.self_time() * 1000 for _, s in routes)

    passes = named("pass")
    m["spark.jobs_per_pass"] = _med(s.total_jobs() for s in passes)
    m["spark.tasks_per_pass"] = _med(s.total_tasks() for s in passes)
    for k in KERNELS:
        ks = named(f"graph_analytics.{k}")
        m[f"graph_analytics.{k}_s"] = _med(s.duration for s in ks)
        m[f"graph_analytics.{k}_jobs"] = _med(s.total_jobs() for s in ks)
    for q in CORPUS_QUERIES:
        qs = named(f"queries.{q}")
        m[f"queries.{q}_s"] = _med(s.duration for s in qs)
        m[f"queries.{q}_jobs"] = _med(s.total_jobs() for s in qs)
    m["queries.py_workers"] = _med(o.get("py_workers", 0) for o in ops)

    # set-up spans: the bootstrap and the first request after it
    everything = [d for r in roots for d in r.walk()]
    m["api.bootstrap_s"] = _med(s.duration for s in named("api.bootstrap", everything))
    for r in ("refresh_wormholes", "refresh_risk"):
        calls = named(f"api.{r}", everything)
        m[f"api.{r}_ms"] = _med(s.duration * 1000 for s in calls)
        m[f"api.{r}_jobs"] = _med(s.total_jobs() for s in calls)
    first = [s for s in roots if s.name in ("api.shortest_route", "api.safest_route")][:1]
    m["api.first_route_after_write_ms"] = first[0].duration * 1000 if first else 0.0
    proj = named("graph.project", everything)
    m["graph.project_ms"] = _med(s.duration * 1000 for s in proj)
    m["graph.project_calls"] = float(len(proj))

    fits = named("graph.fits_driver")
    m["graph.fits_driver_ms"] = _med(s.duration * 1000 for s in fits)
    m["graph.fits_driver_calls"] = len(fits) / n_ops
    m["graph.probe_hit_ratio"] = sum(s.total_jobs() == 0 for s in fits) / len(fits) if fits else 0.0
    for f in ("sssp", "reconstruct_path", "path_as_names"):
        m[f"graph.{f}_ms"] = _med(s.duration * 1000 for s in named(f"graph.{f}"))
    tl = named("checkpointing.truncate_lineage")
    m["checkpointing.truncate_lineage_calls"] = len(tl) / n_ops
    m["checkpointing.truncate_lineage_ms"] = sum(s.duration * 1000 for s in tl) / n_ops
    return m


def _span_record(s) -> dict:
    return {"id": s.span_id, "name": s.name, "parent": s.parent, "request": s.request,
            "start": s.start, "end": s.end, "jobs": s.jobs, "tasks": s.tasks}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    if not (ROOT / "eve_graph_spark").is_dir():
        print(f"perfbench: no eve_graph_spark package under {ROOT}", file=sys.stderr)
        return 2

    host = _configure_env()
    host.update(seed=args.seed, workload=args.workload, trace=args.trace,
                commit=_source_commit())
    from eve_graph_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer = spans.Tracer(spark.sparkContext)
    if trace:
        install_wrappers(tracer)
        tracer.active = True
    try:
        run = WORKLOAD_FNS[args.workload](spark, args.seed, args.seconds, tracer)
        setup_s = run.setup_done - T_PROCESS
        jvm_mb = _vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        if trace:
            tracer.resolve_jobs()
    finally:
        tracer.unwrap_all()
        stop_spark(spark)

    host.update(job_floor_before_ms=run.floor_before, job_floor_after_ms=run.floor_after)
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if trace:
        values = layer_metrics(args.workload, run, tracer, session_s, jvm_mb)
        units = {k: u for k, (u, _) in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "op_p50_ms": stats.median(run.lat), "py_peak_rss_mb": py_mb}
        units = END_TO_END
    tail = stats.tail_percentile(run.lat)
    summary = {
        "timed_ops": len(run.timed), "latency_samples": len(run.lat), "measured_s": run.wall,
        "tail": (f"p{tail[0]:g}={tail[1]:.1f}ms n={tail[2]}" if tail
                 else f"none: {len(run.lat)} samples leave no percentile with "
                      f"{stats.TAIL_MIN_BEYOND} beyond it"),
        "error_rate": len(run.failures) / max(1, run.attempted),
        "failures": run.failures[:20],
    }
    record = {"host": host, "summary": summary, "metrics": values, "samples": run.samples,
              "phases_s": {"session": session_s, **run.phases}}
    if trace:
        record["spans"] = [_span_record(s) for s in tracer.spans]
    WORK.mkdir(exist_ok=True)
    out = WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=str))
    print("host " + json.dumps(host))
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
