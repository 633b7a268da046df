"""Tests of the benchmark's own parts: the seeded generator, the answer
checker, the span accounting and BENCHMARK.json's metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checker  # noqa: E402
import feed  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SMALL = {"n_routes": 8, "trips_per_route": 140, "stops_per_trip": 4}


@pytest.fixture(scope="module")
def small_feed(tmp_path_factory):
    """The small feed written as GTFS CSV and read back through the ETL."""
    from routing_algorithm_for_graph_dbs_spark.session import get_spark
    from routing_algorithm_for_graph_dbs_spark.sources.gtfs import read_gtfs

    spark = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2)
    out = feed.write_feed(spark, str(tmp_path_factory.mktemp("feed") / "gtfs"), SMALL)
    tables = read_gtfs(spark, out)
    return {
        "stop_times": [r.asDict() for r in tables["stop_times"].collect()],
        "calendar": [r.asDict() for r in tables["calendar"].collect()],
    }


def test_feed_matches_the_analytic_timetable(small_feed):
    rows = small_feed["stop_times"]
    k = SMALL["stops_per_trip"]
    assert len(rows) == SMALL["n_routes"] * SMALL["trips_per_route"] * k
    for r in rows:
        route, trip = (int(x) for x in r["trip_id"][1:].split("_T"))
        seq = r["stop_sequence"]
        assert r["arrival_s"] == feed.arrival_s(trip, seq)
        assert r["departure_s"] == feed.arrival_s(trip, seq) + feed.DWELL
        row, col = feed.cell_of(route, seq, k)
        assert r["stop_id"] == f"S{row * feed.GRID + col}"
    assert [str(c["day"]) for c in small_feed["calendar"]] == [feed.DAY]


def _ride(by_stop, stop_id, parity, after_s, to_stop_id, trips):
    """Earliest arrival at ``to_stop_id`` boarding a route of ``parity``
    at ``stop_id`` strictly after ``after_s`` -- read from the feed rows."""
    best = None
    for r in by_stop.get(stop_id, ()):
        route = int(r["trip_id"][1:].split("_T")[0])
        if route % 2 != parity or not r["departure_s"] > after_s:
            continue
        down = [x for x in trips[r["trip_id"]]
                if x["stop_id"] == to_stop_id and x["stop_sequence"] > r["stop_sequence"]]
        if down and (best is None or down[0]["arrival_s"] < best):
            best = down[0]["arrival_s"]
    return best


def test_generator_pairs_are_forward_and_feasible(small_feed):
    rows = small_feed["stop_times"]
    by_stop, trips = {}, {}
    for r in rows:
        by_stop.setdefault(r["stop_id"], []).append(r)
        trips.setdefault(r["trip_id"], []).append(r)
    call = next(workloads.batch_calls(7, SMALL, n_pairs=12))
    reqs = workloads.trip_requests(7, SMALL)
    queries = [(call["time_s"], p) for p in call["pairs"]]
    queries += [(q["time_s"], (q["src"], q["dst"])) for q in (next(reqs) for _ in range(4))]
    sid = lambda c: f"S{c[0] * feed.GRID + c[1]}"  # noqa: E731
    for time_s, ((r1, c1), (r2, c2)) in queries:
        assert workloads.EARLIEST_S <= time_s <= workloads.LATEST_S
        assert r2 >= r1 and c2 >= c1 and (r1, c1) != (r2, c2)
        t = time_s
        if c2 > c1:
            t = _ride(by_stop, sid((r1, c1)), 0, t, sid((r1, c2)), trips)
        if r2 > r1:
            t = _ride(by_stop, sid((r1, c2)), 1, t, sid((r2, c2)), trips)
        assert t is not None and t + feed.DWELL < time_s + workloads.WINDOW_S
        assert t == workloads.one_change_arrival((r1, c1), (r2, c2), time_s, SMALL)


def _leg(trip_a, seq_a, trip_b, seq_b):
    """One leg row between two stoptimes of the analytic timetable."""
    k = feed.FEED["stops_per_trip"]
    (ra, ta), (rb, tb) = trip_a, trip_b
    ca, cb = feed.cell_of(ra, seq_a, k), feed.cell_of(rb, seq_b, k)
    return {
        "trip": f"R{ra}_T{ta}", "departure": feed.arrival_s(ta, seq_a) + feed.DWELL,
        "line": f"R{ra}", "starting_stop_name": feed.stop_name(*ca),
        "starting_stop_id": f"S{ca[0] * feed.GRID + ca[1]}",
        "starting_stop_coordinates": list(feed.stop_coords(*ca)),
        "next_trip": f"R{rb}_T{tb}", "next_stop": feed.stop_name(*cb),
        "next_stop_id": f"S{cb[0] * feed.GRID + cb[1]}",
        "next_stop_coordinates": list(feed.stop_coords(*cb)),
        "next_line": f"R{rb}", "arrival": feed.arrival_s(tb, seq_b),
    }


def _one_change_legs():
    """Stop (0, 1) -> (2, 3) at 08:00 on the benchmark feed: route 0 along
    row 0 to column 3, then route 19 (2v+1 with (7v) % 10 == 3) down
    column 3 to row 2."""
    time_s, h, v = 8 * 3600, 0, 19
    t1 = next(t for t in range(140) if feed.arrival_s(t, 1) + feed.DWELL > time_s)
    legs = [_leg((h, t1), 1, (h, t1), 2), _leg((h, t1), 2, (h, t1), 3)]
    arr = feed.arrival_s(t1, 3)
    t2 = next(t for t in range(140) if feed.arrival_s(t, 0) + feed.DWELL > arr)
    legs += [_leg((h, t1), 3, (v, t2), 0), _leg((v, t2), 0, (v, t2), 1), _leg((v, t2), 1, (v, t2), 2)]
    return legs, {"time_s": time_s, "src": (0, 1), "dst": (2, 3)}


def test_checker_accepts_the_one_change_itinerary():
    legs, q = _one_change_legs()
    assert checker.check_route(legs, q, 1.0) == []


def test_checker_rejects_one_tampered_departure():
    legs, q = _one_change_legs()
    legs[3] = dict(legs[3], departure=legs[3]["departure"] + 60)
    problems = checker.check_route(legs, q, 1.0)
    assert any("leg 3: departure" in p for p in problems)


def test_checker_counts_an_empty_answer_as_failed():
    _, q = _one_change_legs()
    assert checker.check_route([], q, 1.0) == ["empty answer"]


def test_span_self_times_add_up_to_the_root_wall():
    tr = spans.Tracer()
    with tr.span("root") as root:
        time.sleep(0.01)
        with tr.span("a"):
            time.sleep(0.02)
            with tr.span("b"):
                time.sleep(0.01)
        with tr.span("b"):
            time.sleep(0.01)
    lay = tr.layers([root])
    assert lay["b"]["calls"] == 2
    assert sum(r["self_s"] for r in lay.values()) == pytest.approx(root.wall_s, abs=1e-9)
    assert lay["root"]["self_s"] >= 0.01


def test_install_wraps_and_uninstall_restores():
    from routing_algorithm_for_graph_dbs_spark.plans import projection, routing

    orig_plan, orig_count = routing.plan_trip, projection.ProjectedGraph.edge_count
    tr = spans.Tracer()
    tr.install()
    try:
        assert routing.plan_trip is not orig_plan
        graph = projection.ProjectedGraph("g", feed.DAY, 1.0, None, None)
        object.__setattr__(graph, "_edge_count", 5)  # memoized: no Spark job
        with tr.span("bench.op") as root:
            assert graph.edge_count() == 5
    finally:
        tr.uninstall()
    assert routing.plan_trip is orig_plan
    assert projection.ProjectedGraph.edge_count is orig_count
    assert tr.layers([root])["plans.projection.edge_count"]["calls"] == 1


def test_benchmark_json_names_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
