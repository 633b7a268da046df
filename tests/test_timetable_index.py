"""Interactive routing from the driver-resident timetable index
(plans/timetable_index.py): the per-call Spark job budget, leg-table
identity with the DataFrame candidate path, and edge inputs.

The DataFrame path is what the iterative tier runs (candidates by filters
over the day relation, one enrichment job for the winner's stoptimes).
The identity tests reach it by lowering ``plans.routing``'s view of
``BROADCAST_EDGE_LIMIT`` only: the SSSP dispatcher keeps the broadcast
kernel, so candidate selection, ranking and leg pairing are the only
difference between the two runs (equal-cost path ties between the two
SSSP kernels are not part of this contract — test_routing.py covers the
kernels' agreement on the fixture, whose shortest paths are unique).
"""

from __future__ import annotations

import uuid
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from routing_algorithm_for_graph_dbs_spark.plans import routing as routing_mod
from routing_algorithm_for_graph_dbs_spark.plans.routing import (
    LEG_COLUMNS,
    count_changes,
    itinerary_totals,
    plan_trip,
    routing,
    routing_batch,
    routing_between_two_points_in_space,
)
from routing_algorithm_for_graph_dbs_spark.plans.timetable_index import (
    timetable_index,
)

DAY = "2024-01-18"
T0 = 14 * 3600
START, END = (44.6500, 10.9180), (44.6313, 10.8733)
PAIRS = [
    ("Autostazione 1", "Tonini 1"),
    ("Autostazione 2", "Tonini 1"),
    ("Tonini 1", "Autostazione 1"),
]
# routing_batch's jobs for PAIRS on the fixture graph, warm, before the
# index existed (same call, same session settings)
BATCH_JOBS_BEFORE_INDEX = 10


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(df):
    return [(f.name, f.dataType) for f in df.schema.fields], [tuple(r) for r in df.collect()]


def _frame_path():
    """Route through the DataFrame candidate path (see module docstring)."""
    return mock.patch.object(routing_mod, "BROADCAST_EDGE_LIMIT", -1)


@pytest.fixture(scope="module")
def graph(gtfs):
    from routing_algorithm_for_graph_dbs_spark.plans.projection import project_graph

    g = project_graph(gtfs, DAY, speed=1.0, name="graph_index_test")
    yield g
    g.unpersist()


def test_index_build_is_one_job(spark, gtfs):
    from routing_algorithm_for_graph_dbs_spark.plans.projection import project_graph

    g = project_graph(gtfs, DAY, speed=1.0, name="graph_index_build")
    ix, n = _jobs(spark, lambda: timetable_index(g))
    assert n == 1
    again, n = _jobs(spark, lambda: timetable_index(g))
    assert n == 0 and again is ix
    g.unpersist()


def test_warm_calls_run_no_spark_job(spark, gtfs, graph):
    from routing_algorithm_for_graph_dbs_spark.graph.local_sssp import DRIVER_LANE_LIMIT

    lanes = []
    real_sssp = routing_mod.sssp

    def sssp(*a, **kw):
        lanes.append(kw["n_lanes"])
        return real_sssp(*a, **kw)

    routing(graph, T0, *PAIRS[0]).collect()  # warm-up: index, CSR, bounds
    with mock.patch.object(routing_mod, "sssp", sssp):
        legs, n = _jobs(spark, lambda: routing(graph, T0, *PAIRS[0]).collect())
        assert n == 0 and len(legs) == 5
        legs, n = _jobs(spark, lambda: routing_between_two_points_in_space(
            graph, *START, *END, ["Autostazione 1", "Autostazione 2"],
            ["Tonini 1"], 1.0, T0,
        ).collect())
        assert n == 0 and len(legs) == 5
        out, n = _jobs(spark, lambda: plan_trip(
            gtfs, graph, *START, *END, T0, speed=1.0, radius_m=200.0,
        ))
        assert n == 0 and out["changes"] == 1 and len(out["rows"]) == 5
        empty, n = _jobs(spark, lambda: plan_trip(
            gtfs, graph, *START, *END, 23 * 3600, speed=1.0, radius_m=200.0,
        ))
        assert n == 0 and empty["rows"] == []
    assert lanes and max(lanes) <= DRIVER_LANE_LIMIT
    # the helpers take the collected rows as well as the leg table
    assert count_changes(out["rows"]) == count_changes(out["legs"]) == 1
    assert itinerary_totals(out["rows"], 10.0, 20.0, 1.0) == itinerary_totals(
        out["legs"], 10.0, 20.0, 1.0
    )


def test_routing_batch_job_budget(spark, graph):
    routing_batch(graph, PAIRS, time_s=T0).collect()
    rows, n = _jobs(spark, lambda: routing_batch(graph, PAIRS, time_s=T0).collect())
    assert len(rows) > 0
    assert n <= BATCH_JOBS_BEFORE_INDEX, n


def test_near_stops_match_find_near_stops(gtfs, graph):
    from routing_algorithm_for_graph_dbs_spark.operators.queries import find_near_stops

    ix = timetable_index(graph)
    for lat, lon in (START, END, (44.64, 10.90)):
        for radius in (50.0, 200.0, 1000.0):
            want = find_near_stops(gtfs, DAY, lat, lon, radius, day_st=graph.stoptimes)
            assert ix.near_stops(lat, lon, radius) == sorted(r[0] for r in want.collect())


# -- identity: index path vs DataFrame path -------------------------------


@pytest.fixture(scope="module")
def synth(spark):
    from routing_algorithm_for_graph_dbs_spark.plans.projection import project_graph
    from routing_algorithm_for_graph_dbs_spark.sources.synth_gtfs import synth_gtfs

    tables = synth_gtfs(spark, n_routes=6, trips_per_route=16, stops_per_trip=8)
    g = project_graph(tables, DAY, speed=1.0, name="graph_index_identity")
    stops = sorted(
        tuple(r) for r in g.stoptimes.select("stop_name", "stop_lat", "stop_lon")
        .distinct().collect()
    )
    # each route's stop names in riding order: draws along and across
    # routes give mostly feasible journeys (horizontal and vertical routes
    # cross), random stop pairs mostly infeasible ones
    lines: dict[str, list] = {}
    for r in (
        g.stoptimes.select("route_id", "stop_sequence", "stop_name").distinct()
        .orderBy("route_id", "stop_sequence").collect()
    ):
        lines.setdefault(r[0], []).append(r[2])
    yield g, stops, list(lines.values())
    g.unpersist()


def _both_paths(call):
    a = call()
    with _frame_path():
        b = call()
    return _table(a), _table(b)


@settings(
    max_examples=25, deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_index_path_equals_dataframe_path(synth, data):
    g, stops, lines = synth
    names = [s[0] for s in stops]
    if data.draw(st.booleans()):
        src, dst = data.draw(st.sampled_from(names)), data.draw(st.sampled_from(names))
    else:
        src, dst = (data.draw(st.sampled_from(data.draw(st.sampled_from(lines)))) for _ in "sd")
    t = data.draw(st.integers(5 * 3600, 8 * 3600))
    h = data.draw(st.sampled_from([0, 1, 2, 2]))
    a, b = _both_paths(lambda: routing(g, t, src, dst, max_duration_h=h))
    assert a == b
    assert a[0] == b[0] and [n for n, _ in a[0]] == LEG_COLUMNS

    (s_lat, s_lon), (e_lat, e_lon) = [
        next(s[1:] for s in stops if s[0] == n) for n in (src, dst)
    ]
    d_lat, d_lon = data.draw(st.floats(-0.001, 0.001)), data.draw(st.floats(-0.001, 0.001))
    start, end = (s_lat + d_lat, s_lon - d_lon), (e_lat - d_lat, e_lon + d_lon)
    ix = timetable_index(g)
    speed = data.draw(st.sampled_from([0.8, 1.0, 1.5]))
    a, b = _both_paths(lambda: routing_between_two_points_in_space(
        g, *start, *end, ix.near_stops(*start, 300.0), ix.near_stops(*end, 300.0),
        speed, t, max(h, 1),
    ))
    assert a == b


def test_identity_fixed_pairs(synth):
    """Fixed feasible and infeasible pairs on the synthetic grid: the same
    identity, and at least one itinerary and one empty table among them."""
    g, stops, _ = synth
    names = [s[0] for s in stops]
    sizes = []
    for i in range(0, len(names), 5):
        src, dst = names[i], names[-1 - i]
        a, b = _both_paths(lambda: routing(g, 6 * 3600, src, dst, max_duration_h=2))
        assert a == b
        sizes.append(len(a[1]))
    assert min(sizes) == 0 and max(sizes) > 0


@pytest.mark.parametrize("pair", PAIRS + [("Tonini 1", "Tonini 1")])
def test_index_path_equals_iterative_strategy(graph, pair):
    """On the fixture's unique shortest paths the iterative tier (DataFrame
    candidates, iterative kernel) returns the identical leg table."""
    a = _table(routing(graph, T0, *pair))
    b = _table(routing(graph, T0, *pair, strategy="iterative", max_iterations=500))
    assert a == b


# -- edge inputs on the index path ---------------------------------------


def test_unknown_stop_and_late_start_are_empty(graph):
    for legs in (
        routing(graph, T0, "No Such Stop", "Tonini 1"),
        routing(graph, T0, "Autostazione 1", "No Such Stop"),
        routing(graph, 23 * 3600, *PAIRS[0]),  # after the last service
        routing_between_two_points_in_space(
            graph, *START, *END, ["No Such Stop"], ["Tonini 1"], 1.0, T0
        ),
    ):
        assert legs.columns == LEG_COLUMNS and legs.collect() == []


def test_destination_departures_outside_window(graph):
    ix = timetable_index(graph)
    # the day's first departure is hours after 00:00: sources exist, but
    # no departure at the destination falls inside a one-hour window
    sources, targets = ix.candidates(["Autostazione 1"], ["Tonini 1"], 0, 3600)
    assert sources and not targets
    assert routing(graph, 0, *PAIRS[0], max_duration_h=1).collect() == []


def _tiny_graph(spark, name, stoptimes, edges):
    from routing_algorithm_for_graph_dbs_spark.plans.projection import ProjectedGraph

    st_df = spark.createDataFrame(
        stoptimes,
        "stoptime_id string, trip_id string, route_id string, stop_id string,"
        " stop_name string, arrival_s long, departure_s long,"
        " stop_lat double, stop_lon double",
    )
    e_df = spark.createDataFrame(
        edges,
        "src string, dst string, type string, waiting_time long, walking_time long",
    )
    return ProjectedGraph(
        name=name, day=DAY, speed=1.0,
        vertices=st_df.selectExpr(
            "stoptime_id as id", "0 as stop_sequence", "stop_lon as lon", "stop_lat as lat"
        ),
        edges=e_df, stoptimes=st_df,
    )


def _ride_and_change(base, extra=()):
    """Board TA at SrcStop, ride to MidStop, change (590 s walk) to TB,
    arrive DstStop — times offset by ``base`` seconds."""
    stoptimes = [
        ("S1", "TA", "1", "A", "SrcStop", base + 60, base + 60, 44.0, 10.0),
        ("S2", "TA", "1", "B", "MidStop", base + 3000, base + 3010, 44.1, 10.1),
        ("S3", "TB", "2", "C", "DstStop", base + 3580, base + 3590, 44.2, 10.2),
        *extra,
    ]
    edges = [("S1", "S2", "PRECEDES", 2940, 0), ("S2", "S3", ":CHANGE", 1180, 590)]
    return stoptimes, edges


def test_times_past_midnight(spark):
    base = 26 * 3600  # GTFS 26:00:00 — service running past 24:00
    g = _tiny_graph(spark, "past_midnight", *_ride_and_change(base))
    legs = routing(g, base, "SrcStop", "DstStop", max_duration_h=1, strategy="broadcast")
    rows = legs.collect()
    assert [(r["trip"], r["next_trip"]) for r in rows] == [("TA", "TA"), ("TA", "TB")]
    assert rows[0]["departure"] == base + 60 and rows[-1]["arrival"] == base + 3580
    assert _table(legs) == _table(routing(
        g, base, "SrcStop", "DstStop", max_duration_h=1, strategy="iterative"
    ))


def test_null_times_are_never_candidates(spark):
    extra = [
        # NULL times at the source and destination stops: none of them may
        # become a lane or a target, and none may raise
        ("N1", "TX", "3", "A", "SrcStop", None, None, 44.0, 10.0),
        ("N2", "TY", "4", "A", "SrcStop", None, 100, 44.0, 10.0),
        ("N3", "TZ", "5", "C", "DstStop", None, 3000, 44.2, 10.2),
        ("N4", "TW", "6", "C", "DstStop", 3100, None, 44.2, 10.2),
    ]
    g = _tiny_graph(spark, "null_times", *_ride_and_change(0, extra))
    sources, targets = timetable_index(g).candidates(["SrcStop"], ["DstStop"], 0, 3600)
    assert [s[0] for s in sources] == ["S1"] and [t[0] for t in targets] == ["S3"]
    a = _table(routing(g, 0, "SrcStop", "DstStop", max_duration_h=1, strategy="broadcast"))
    assert [(r[0], r[6]) for r in a[1]] == [("TA", "TA"), ("TA", "TB")]
    with _frame_path():
        assert _table(routing(g, 0, "SrcStop", "DstStop", max_duration_h=1)) == a


def test_reprojection_builds_a_fresh_index(gtfs):
    from routing_algorithm_for_graph_dbs_spark.plans.projection import project_graph

    def answers(g, speed):
        return (
            _table(routing(g, T0, *PAIRS[0])),
            _table(routing_between_two_points_in_space(
                g, *START, *END, ["Autostazione 1", "Autostazione 2"],
                ["Tonini 1"], speed, T0,
            )),
        )

    old = project_graph(gtfs, DAY, speed=1.0, name="graph_index_reproject")
    answers(old, 1.0)
    old_ix = timetable_index(old)
    new = project_graph(gtfs, DAY, speed=0.5, name="graph_index_reproject")
    got = answers(new, 0.5)
    assert timetable_index(new) is not old_ix
    fresh = project_graph(gtfs, DAY, speed=0.5, name="graph_index_fresh")
    assert got == answers(fresh, 0.5)
    with _frame_path():
        assert got == answers(new, 0.5)
    for g in (new, fresh):
        g.unpersist()
