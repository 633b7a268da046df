#!/usr/bin/env python3
"""Routing benchmark: set-up, then one closed-loop client on one workload.

Run from the repository root:

    python3 perfbench/run.py --workload trip --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload batch --seed 1 --seconds 16 --trace 1

A run starts a Spark session on local[nproc], writes the fixed synthetic
feed as GTFS CSV (untimed, reused by later runs), then sets up: ETL
through ``sources.gtfs``, ``plans.projection.project_graph``,
``edge_count()`` and one warm-up ``plans.routing.routing`` query. After
WARMUP_OPS untimed operations the client sends the workload's operations
back to back for ``--seconds``. Every answer is checked against the feed's
analytic timetable after the timed window.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs
TRACED_OPS operations, each once untraced and once under spans, and
reports the per-layer metrics. The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; a full record (environment, per-operation costs, spans) is
written under ``perfbench/out/records``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
# this run's scratch (Spark local dirs, temp files, ETL output), removed at exit
WORK = os.path.join(OUT, f"run-{os.getpid()}")

TRACED_OPS = 4  # operations a traced run replays, untraced and traced
SEQ_CHECKS = 2  # batch pairs per run re-answered by sequential routing()
DEADLINE_S = 170  # abort a run that has not finished by then
SPEED = 1.0  # walking speed of the projected graph and the trips, m/s
HEAP = "2g"  # driver JVM heap (local mode: the driver is the executor)
WARMUP_OPS = 1  # untimed operations before the timed window

# per-operation span table of a traced run (``bench.op`` is the root:
# the client's own time around the call)
OP_SPANS = [
    "operators.queries.find_near_stops",
    "plans.routing.plan_trip",
    "plans.routing.routing_between_two_points_in_space",
    "plans.routing.routing",
    "plans.routing.routing_batch",
    "plans.routing._run_pairs",
    "plans.routing._decompose_path",
    "plans.projection.edge_count",
    "graph.stop_bound.timetable_bound_data",
    "graph.stop_bound.earliest_arrival_bounds",
    "graph.sssp.sssp",
    "graph.local_sssp.broadcast_dijkstra",
    "graph.local_sssp._prepare",
    "functions.localrel.local_rows_df",
    "bench.op",
]
# per-set-up span table (``bench.setup`` is the root)
SETUP_SPANS = [
    "sources.gtfs.read_gtfs",
    "sources.gtfs.write_tables",
    "plans.projection.project_graph",
    "plans.projection.edge_count",
    "plans.routing.routing",
    "plans.routing._run_pairs",
    "plans.routing._decompose_path",
    "graph.stop_bound.timetable_bound_data",
    "graph.local_sssp._prepare",
    "bench.setup",
]
OP_COUNTERS = [
    "sssp.tier.driver",
    "sssp.tier.arrow",
    "routing.lanes_per_call",
    "stop_bound.prep_hit_ratio",
    "stop_bound.checked",
    "stop_bound.pruned_ratio",
    "local_sssp.prep_hit_ratio",
    "localrel.rows",
    "localrel.fallbacks",
]


END_TO_END = ["setup_s", "peak_rss_mb", "op_cpu_s"]
PER_LAYER = (
    [f"{s}.{k}" for s in OP_SPANS for k in ("calls", "self_s", "jobs")]
    + OP_COUNTERS
    + ["setup.session.get_spark.self_s"]
    + [f"setup.{s}.{k}" for s in SETUP_SPANS for k in ("self_s", "jobs")]
    + ["setup.stop_bound.prep_hit_ratio", "setup.local_sssp.prep_hit_ratio"]
    + ["bench.op.wall_s", "trace.untraced_p50_s", "trace.traced_p50_s", "trace.overhead_s"]
    + ["jvm.jit_cpu_s"]
)


def _isolate() -> None:
    """Keep what Spark, the JVM and Python write inside WORK, and let the
    Python workers import the package from this checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a heap fixed at its maximum from the start: the JVM's resident size
    # then tracks the work done instead of when G1 chose to grow the heap.
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>.
    # -UseDynamicNumberOfCompilerThreads: JIT compiler threads live as long
    # as the JVM, so the CPU time they used stays readable per thread and
    # can be told apart from the operations' own (see Client.call)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UsePerfData"
        + " -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP


def _tree() -> list[int]:
    """This process and all its descendants -- the JVM and its Python
    workers -- from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        out.append(pid)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM, MB) of each process of the tree,
    keyed "<pid> <command>"."""
    out = {}
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                kb = next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
        out[f"{pid} {comm}"] = kb / 1024
    return out


TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) the process tree has used so far,
    reaped descendants included, and the part of them the JVM's JIT
    compiler threads used."""
    total = jit = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                name, rest = f.read().rsplit(")", 1)
            total += sum(int(x) for x in rest.split()[11:15])  # utime stime cutime cstime
            tids = os.listdir(f"/proc/{pid}/task") if name.endswith("(java") else ()
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if "CompilerThre" in name:  # "C1 CompilerThread0", "C2 ..."
                jit += sum(int(x) for x in rest.split()[11:13])
    return total / TICK, jit / TICK


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's virtual CPUs so
    far (all CPUs summed; 0 on bare metal)."""
    with open("/proc/stat") as f:
        v = f.readline().split()
    return int(v[8]) / TICK if len(v) > 8 else 0.0


def tail(values: list[float]):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


class Client:
    """The closed-loop client: runs operations, keeps their answers and
    failures for the checker."""

    def __init__(self, tracer):
        self.tr = tracer
        self.attempted = 0
        self.problems: list[dict] = []

    def call(self, fn, traced: bool = False):
        """(answer or None, error text or None, cost) -- the cost in
        seconds: ``wall_s``; ``cpu_s``, the process tree's CPU time apart
        from the JVM's JIT compiler threads, whose CPU time is ``jit_s``;
        ``steal_s``, the time the host took from this machine's virtual
        CPUs meanwhile."""
        (c0, j0), st0 = cpu_s(), steal_s()
        t = time.perf_counter()
        span = None
        try:
            with (self.tr.span("bench.op") if traced else nullcontext()) as span:
                answer = fn()
            err = None
        except Exception:
            answer, err = None, traceback.format_exc(limit=4)
        wall = span.wall_s if span is not None else time.perf_counter() - t
        (c1, j1), st1 = cpu_s(), steal_s()
        cost = {"wall_s": wall, "cpu_s": (c1 - j1) - (c0 - j0), "jit_s": j1 - j0, "steal_s": st1 - st0}
        return answer, err, cost

    def judge(self, label: str, err, check) -> bool:
        """Count one operation; ``check()`` returns its problems."""
        self.attempted += 1
        if err is None:
            try:
                problems = check()
            except Exception:
                problems = [traceback.format_exc(limit=4)]
        else:
            problems = [err]
        if problems:
            self.problems.append({"op": label, "problems": problems[:5]})
        return not problems

    @property
    def failed(self) -> int:
        return len(self.problems)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("trip", "batch"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def _abort(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _abort)
    signal.alarm(DEADLINE_S)
    sys.path[:0] = [ROOT, HERE]
    # fails here, before any output or file, where the package is absent
    from routing_algorithm_for_graph_dbs_spark import session

    import spans

    _isolate()
    tracer = spans.Tracer()
    if args.trace:
        tracer.install()
    client = Client(tracer)
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench", cpus=nproc)
        session_s = time.perf_counter() - t0
        if args.trace:
            tracer.bind(spark.sparkContext)
        return _run(args, spark, session_s, nproc, client, tracer)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args, spark, session_s, nproc, client, tracer) -> int:
    import checker
    import feed
    import spans
    import workloads
    from routing_algorithm_for_graph_dbs_spark.plans import projection, routing
    from routing_algorithm_for_graph_dbs_spark.sources import gtfs

    phases, last = {}, [time.perf_counter()]

    def phase(name):  # wall seconds of each part of the run, for the record
        now = time.perf_counter()
        phases[name] = now - last[0]
        last[0] = now

    size = "x".join(str(v) for v in feed.FEED.values())
    feed_dir = feed.write_feed(spark, os.path.join(OUT, f"feed-{size}"))
    phase("feed")
    tables_dir = os.path.join(WORK, "tables")

    def route(graph, q):
        src, dst = workloads.names((q["src"], q["dst"]))
        return [r.asDict() for r in routing.routing(graph, q["time_s"], src, dst).collect()]

    # -- set-up: ETL, projection, first query ------------------------------
    q = workloads.routing_query(args.seed)
    with tracer.span("bench.setup") if args.trace else nullcontext():
        t = time.perf_counter()
        raw = gtfs.read_gtfs(spark, feed_dir)
        gtfs.write_tables(raw, tables_dir)
        tables = {n: spark.read.parquet(os.path.join(tables_dir, f"{n}.parquet")) for n in raw}
        graph = projection.project_graph(tables, feed.DAY, SPEED)
        n_edges = graph.edge_count()
        legs = route(graph, q)
        setup_wall = time.perf_counter() - t
    client.judge("setup", None, lambda: checker.check_route(legs, q, SPEED))

    phase("setup")

    # -- the workload ----------------------------------------------------
    if args.workload == "trip":
        stream = workloads.trip_requests(args.seed)

        def op(req):
            ans = routing.plan_trip(tables, graph, *req["start"], *req["end"], req["time_s"], speed=SPEED)
            return {"rows": [r.asDict() for r in ans["rows"]],
                    "changes": ans["changes"], "totals": ans["totals"]}

        def check(req, ans):
            return checker.check_trip(ans, req, SPEED)
    else:
        stream = workloads.batch_calls(args.seed)

        def op(call):
            rows = routing.routing_batch(
                graph, [workloads.names(p) for p in call["pairs"]], call["time_s"]
            ).collect()
            by_pair: dict[int, list] = {}
            for r in rows:
                d = r.asDict()
                by_pair.setdefault(d.pop("pair_id"), []).append(d)
            return by_pair

        def check(call, by_pair):
            problems = []
            for i, (src, dst) in enumerate(call["pairs"]):
                q = {"time_s": call["time_s"], "src": src, "dst": dst}
                problems += [f"pair {i}: {p}" for p in checker.check_route(by_pair.get(i, []), q, SPEED)]
            return problems

    if args.trace:
        tracer.uninstall()
    for i in range(WARMUP_OPS):
        warm = next(stream)
        ans, err, *_ = client.call(lambda: op(warm))
        client.judge(f"warm-up {i}", err, lambda: check(warm, ans))

    phase("warm-up")
    ops = []  # (input, answer, error, cost, traced)
    if not args.trace:
        deadline = time.perf_counter() + args.seconds
        while True:
            x = next(stream)
            ops.append((x, *client.call(lambda: op(x)), False))
            if time.perf_counter() >= deadline:
                break
    else:
        # each operation runs twice, untraced and traced; the order
        # alternates because the second run of the same query is warmer
        for i in range(TRACED_OPS):
            x = next(stream)
            for traced in (i % 2 == 1, i % 2 == 0):
                if traced:
                    tracer.install()
                try:
                    ops.append((x, *client.call(lambda: op(x), traced=traced), traced))
                finally:
                    tracer.uninstall()

    phase("operations")

    # -- checks, outside the timed window --------------------------------
    ok = [client.judge(f"op {i}", err, lambda: check(x, ans)) for i, (x, ans, err, *_) in enumerate(ops)]
    if args.workload == "batch":
        # a seeded sample of batch pairs must have the winners sequential
        # routing() finds for the same pair and start time
        rng = random.Random(f"seq-{args.seed}")
        good = [i for i, o in enumerate(ok) if o]
        for i in sorted(rng.sample(good, min(SEQ_CHECKS, len(good)))):
            x, by_pair = ops[i][0], ops[i][1]
            j = rng.randrange(len(x["pairs"]))
            q = {"time_s": x["time_s"], "src": x["pairs"][j][0], "dst": x["pairs"][j][1]}
            seq_legs = route(graph, q)
            client.judge(f"op {i} pair {j} vs routing()", None, lambda: (
                [] if seq_legs and checker.winner(seq_legs) == checker.winner(by_pair[j])
                else [f"batch winner {checker.winner(by_pair[j])} != routing() {seq_legs and checker.winner(seq_legs)}"]
            ))

    phase("checks")

    # -- metrics ----------------------------------------------------------
    sc = spark.sparkContext
    costs = {k: [o[3][k] for o in ops if not o[4]] for k in ops[0][3]}
    lat = costs["wall_s"]
    record = {
        "env": {
            "nproc": nproc,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "pyspark": __import__("pyspark").__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "seed": args.seed,
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "feed": {**feed.FEED,
                     "stoptimes": feed.FEED["n_routes"] * feed.FEED["trips_per_route"] * feed.FEED["stops_per_trip"],
                     "edges": n_edges},
            "job_attribution": spans.ATTRIBUTION_RULE,
        },
        "session_s": session_s,
        "phases_s": phases,
        "setup_wall_s": setup_wall,
        "op_costs_s": costs,
        "tail": tail(lat),
        "problems": client.problems,
    }
    rss = record["peak_rss_by_process_mb"] = peak_rss_mb()
    if not args.trace:
        values = {
            "setup_s": (session_s + setup_wall, "s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
            "op_cpu_s": (statistics.median(costs["cpu_s"]), "s"),
        }
    else:
        values = _per_layer(tracer, ops, costs)
        record["spans"] = tracer.dump()
        record["op_layers"] = tracer.layers(tracer.roots("bench.op"))
        record["setup_layers"] = tracer.layers(tracer.roots("bench.setup"))
    if list(values) != (PER_LAYER if args.trace else END_TO_END):
        raise RuntimeError("metrics differ from the names BENCHMARK.json lists")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    record["metrics"] = metrics

    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    )
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for p in client.problems:
        print(f"FAILED {p['op']}: {p['problems'][0].strip()}", file=sys.stderr)
    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": metrics,
    }))
    return 0


def _per_layer(tracer, ops, untraced) -> dict:
    op_roots = tracer.roots("bench.op")
    setup_roots = tracer.roots("bench.setup")
    n_ops = len(op_roots)
    zero = {"calls": 0, "self_s": 0.0, "jobs": 0}
    lay, cnt = tracer.layers(op_roots), tracer.counters(op_roots)
    out = {}
    units = {"calls": "count", "self_s": "s", "jobs": "count"}
    for s in OP_SPANS:
        for k in ("calls", "self_s", "jobs"):
            out[f"{s}.{k}"] = (lay.get(s, zero)[k] / n_ops, units[k])

    def ratio(a, b):
        return a / b if b else 0.0

    calls = {s: lay.get(s, zero)["calls"] for s in OP_SPANS}
    out["sssp.tier.driver"] = (cnt.get("sssp.tier.driver", 0) / n_ops, "count")
    out["sssp.tier.arrow"] = (cnt.get("sssp.tier.arrow", 0) / n_ops, "count")
    out["routing.lanes_per_call"] = (ratio(cnt.get("routing.lanes", 0), calls["graph.sssp.sssp"]), "count")
    out["stop_bound.prep_hit_ratio"] = (
        ratio(cnt.get("stop_bound.prep_hits", 0), calls["graph.stop_bound.timetable_bound_data"]), "ratio")
    out["stop_bound.checked"] = (cnt.get("stop_bound.checked", 0) / n_ops, "count")
    out["stop_bound.pruned_ratio"] = (
        ratio(cnt.get("stop_bound.pruned", 0), cnt.get("stop_bound.checked", 0)), "ratio")
    out["local_sssp.prep_hit_ratio"] = (
        ratio(cnt.get("local_sssp.prep_hits", 0), calls["graph.local_sssp._prepare"]), "ratio")
    out["localrel.rows"] = (cnt.get("localrel.rows", 0) / n_ops, "count")
    out["localrel.fallbacks"] = (cnt.get("localrel.fallbacks", 0) / n_ops, "count")

    out["setup.session.get_spark.self_s"] = (tracer.roots("session.get_spark")[0].self_s, "s")
    slay, scnt = tracer.layers(setup_roots), tracer.counters(setup_roots)
    for s in SETUP_SPANS:
        out[f"setup.{s}.self_s"] = (slay.get(s, zero)["self_s"], "s")
        out[f"setup.{s}.jobs"] = (slay.get(s, zero)["jobs"], "count")
    out["setup.stop_bound.prep_hit_ratio"] = (
        ratio(scnt.get("stop_bound.prep_hits", 0), slay.get("graph.stop_bound.timetable_bound_data", zero)["calls"]),
        "ratio")
    out["setup.local_sssp.prep_hit_ratio"] = (
        ratio(scnt.get("local_sssp.prep_hits", 0), slay.get("graph.local_sssp._prepare", zero)["calls"]), "ratio")

    traced = [o[3]["wall_s"] for o in ops if o[4]]
    out["bench.op.wall_s"] = (statistics.fmean(traced), "s")
    untraced_p50 = statistics.median(untraced["wall_s"])
    out["trace.untraced_p50_s"] = (untraced_p50, "s")
    out["trace.traced_p50_s"] = (statistics.median(traced), "s")
    out["trace.overhead_s"] = (statistics.median(traced) - untraced_p50, "s")
    out["jvm.jit_cpu_s"] = (statistics.median(untraced["jit_s"]), "s")
    return out


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
