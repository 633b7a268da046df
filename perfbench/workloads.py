"""Seeded inputs for the benchmark's workloads.

The feed is fixed (``feed.FEED``); the seed draws only what a client
sends: OD pairs, coordinates and start times. Every pair is feasible by
construction -- the target's grid row and column are at least the
source's, so the source row's horizontal route followed by the target
column's vertical route reaches it -- and each draw is kept only if that
one-change itinerary arrives inside the 4 h window, so no operation can
fail for lack of an answer.
"""

from __future__ import annotations

import math
import random

from feed import (
    DWELL,
    FEED,
    HEADWAY,
    HOP,
    T0,
    arrival_s,
    route_line,
    stop_coords,
    stop_name,
)

WINDOW_S = 4 * 3600  # max_duration_h of every routing call
EARLIEST_S, LATEST_S = 7 * 3600, 18 * 3600  # start times drawn in this range
BATCH_PAIRS = 48
POINT_RADIUS_M = 100.0  # a trip's endpoints lie this close to a grid stop
# a trip's walking slack: entry walk <= 100 m at >= 0.8 m/s, padded
WALK_SLACK_S = 150

# Why each workload: see README.md. ``trip`` is the reference's end-user
# flow (coordinates -> itinerary through plans.routing.plan_trip): few SSSP
# lanes, so the in-driver Dijkstra tier runs and Spark-job overhead in
# plans.routing / operators.queries dominates. ``batch`` is its mirror:
# 48 OD pairs per routing_batch call give far more lanes than
# DRIVER_LANE_LIMIT, so the Arrow broadcast tier runs Dijkstra on every
# core and graph compute dominates while per-call job overhead is
# amortized. A driver-side saving should move trip and leave batch flat;
# a kernel saving the reverse.
WORKLOADS = ("trip", "batch")


def _route_on(line: int, parity: int, feed: dict) -> int | None:
    """The route of the given parity (0 horizontal, 1 vertical) running
    along row/column ``line``, if any."""
    k = feed["stops_per_trip"]
    for r in range(parity, feed["n_routes"], 2):
        if route_line(r, k) == line:
            return r
    return None


def _first_trip(seq: int, after_s: int, feed: dict) -> int | None:
    """First trip whose departure at position ``seq`` is strictly after
    ``after_s`` (routing boards only departures after the query time)."""
    t = max(0, math.floor((after_s - T0 - HOP * seq - DWELL) / HEADWAY) + 1)
    return t if t < feed["trips_per_route"] else None


def one_change_arrival(src, dst, time_s: int, feed: dict = FEED) -> int | None:
    """Arrival of the pure-Python itinerary that rides the source row's
    horizontal route to the target column, then that column's vertical
    route to the target row -- the first trip of each. None if a leg has
    no trip or a route is missing. ``src``/``dst`` are (row, col)."""
    (r1, c1), (r2, c2) = src, dst
    if src == dst:
        return None
    t_s = time_s
    if c2 > c1:
        if _route_on(r1, 0, feed) is None:
            return None
        t = _first_trip(c1, t_s, feed)
        if t is None:
            return None
        t_s = arrival_s(t, c2)
    if r2 > r1:
        if _route_on(c2, 1, feed) is None:
            return None
        # the change at the crossing stop needs a departure strictly after
        # the arrival (a CHANGE edge's walk is 0 at the same stop)
        t = _first_trip(r1, t_s, feed)
        if t is None:
            return None
        t_s = arrival_s(t, r2)
    return t_s


def _feasible(src, dst, time_s: int, lead_s: int, feed: dict) -> bool:
    arr = one_change_arrival(src, dst, time_s + lead_s, feed)
    # the target stoptime must depart inside the window (+ exit walk slack)
    return arr is not None and arr + DWELL + lead_s < time_s + WINDOW_S


def draw_pair(rng: random.Random, time_s: int, feed: dict = FEED, min_cells: int = 1, lead_s: int = 0):
    """A forward (row, col) OD pair feasible at ``time_s``."""
    k = feed["stops_per_trip"]
    while True:
        r1, c1 = rng.randrange(k), rng.randrange(k)
        r2, c2 = rng.randrange(r1, k), rng.randrange(c1, k)
        if (r2 - r1) + (c2 - c1) >= min_cells and _feasible(
            (r1, c1), (r2, c2), time_s, lead_s, feed
        ):
            return (r1, c1), (r2, c2)


def draw_time(rng: random.Random) -> int:
    return rng.randrange(EARLIEST_S, LATEST_S + 1)


def _near(rng: random.Random, cell) -> tuple[float, float]:
    """A point at most POINT_RADIUS_M from the stop at ``cell``."""
    lat, lon = stop_coords(*cell)
    d = POINT_RADIUS_M * rng.random()
    a = 2 * math.pi * rng.random()
    m_per_deg = 111_194.9
    return (
        lat + d * math.cos(a) / m_per_deg,
        lon + d * math.sin(a) / (m_per_deg * math.cos(math.radians(lat))),
    )


def trip_requests(seed: int, feed: dict = FEED):
    """Endless ``plan_trip`` requests: origin near a grid stop on a route,
    destination near a forward stop at least 4 grid cells away (so the
    answer rides at least one vehicle rather than ending in a walk),
    start 07:00-18:00."""
    rng = random.Random(f"trip-{seed}")
    while True:
        time_s = draw_time(rng)
        src, dst = draw_pair(rng, time_s, feed, min_cells=4, lead_s=WALK_SLACK_S)
        yield {
            "time_s": time_s,
            "src": src,
            "dst": dst,
            "start": _near(rng, src),
            "end": _near(rng, dst),
        }


def batch_calls(seed: int, feed: dict = FEED, n_pairs: int = BATCH_PAIRS):
    """Endless ``routing_batch`` calls: ``n_pairs`` forward stop pairs,
    all feasible at the call's seeded start time."""
    rng = random.Random(f"batch-{seed}")
    while True:
        time_s = draw_time(rng)
        pairs = [draw_pair(rng, time_s, feed) for _ in range(n_pairs)]
        yield {"time_s": time_s, "pairs": pairs}


def routing_query(seed: int, feed: dict = FEED) -> dict:
    """The set-up's stop-to-stop ``routing`` query."""
    rng = random.Random(f"route-{seed}")
    time_s = draw_time(rng)
    src, dst = draw_pair(rng, time_s, feed)
    return {"time_s": time_s, "src": src, "dst": dst}


def names(pair) -> tuple[str, str]:
    return stop_name(*pair[0]), stop_name(*pair[1])

