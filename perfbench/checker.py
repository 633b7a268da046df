"""Answer checker: every leg against ``synth_gtfs``'s analytic timetable.

Runs outside the timed window. A stoptime ``R<r>_T<t>`` at position
``seq`` arrives at 21600 + 360*t + 90*seq and departs 20 s later
(``feed.arrival_s`` / ``feed.DWELL``), at the grid stop its route visits
there (``feed.cell_of``). Each check returns a list of problems; an empty
list means the answer is correct.
"""

from __future__ import annotations

from feed import (
    DWELL,
    FEED,
    GRID,
    arrival_s,
    cell_of,
    haversine_m,
    stop_coords,
    stop_name,
)
from workloads import WINDOW_S, one_change_arrival

WALK_RADIUS_M = 300.0  # WALK_TO radius of the projection; also plan_trip's
SLACK_S = 1.0  # float rounding of the engine's walk-time arithmetic


def _stoptime(trip: str, stop_id: str, line: str, name: str, coords, feed: dict):
    """Resolve one leg endpoint to (route, trip, seq, cell) or raise."""
    k = feed["stops_per_trip"]
    r_s, t_s = trip[1:].split("_T")
    r, t = int(r_s), int(t_s)
    if not (0 <= r < feed["n_routes"] and 0 <= t < feed["trips_per_route"]):
        raise ValueError(f"unknown trip {trip}")
    if line != f"R{r}":
        raise ValueError(f"{trip} reported on line {line}")
    row, col = divmod(int(stop_id[1:]), GRID)
    seq = next((s for s in range(k) if cell_of(r, s, k) == (row, col)), None)
    if seq is None:
        raise ValueError(f"{trip} never stops at {stop_id}")
    if name != stop_name(row, col):
        raise ValueError(f"{stop_id} named {name}")
    lat, lon = stop_coords(row, col)
    if abs(coords[0] - lat) > 1e-9 or abs(coords[1] - lon) > 1e-9:
        raise ValueError(f"{stop_id} at {coords}")
    return r, t, seq, (row, col)


def check_legs(legs: list[dict], time_s: int, speed: float, feed: dict = FEED) -> list[str]:
    """Structural checks shared by every answer: each leg's trip, stop and
    times match the timetable, each leg is a PRECEDES or CHANGE edge, the
    legs chain, and the itinerary starts after ``time_s`` and ends inside
    the 4 h window."""
    if not legs:
        return ["empty answer"]
    problems = []
    for i, leg in enumerate(legs):
        try:
            ra, ta, sa, ca = _stoptime(
                leg["trip"], leg["starting_stop_id"], leg["line"],
                leg["starting_stop_name"], leg["starting_stop_coordinates"], feed,
            )
            rb, tb, sb, cb = _stoptime(
                leg["next_trip"], leg["next_stop_id"], leg["next_line"],
                leg["next_stop"], leg["next_stop_coordinates"], feed,
            )
        except ValueError as e:
            problems.append(f"leg {i}: {e}")
            continue
        if leg["departure"] != arrival_s(ta, sa) + DWELL:
            problems.append(f"leg {i}: departure {leg['departure']} != timetable")
        if leg["arrival"] != arrival_s(tb, sb):
            problems.append(f"leg {i}: arrival {leg['arrival']} != timetable")
        if leg["trip"] == leg["next_trip"]:
            if sb != sa + 1:
                problems.append(f"leg {i}: ride skips from seq {sa} to {sb}")
        else:
            walk = haversine_m(*stop_coords(*ca), *stop_coords(*cb))
            if ra == rb or walk > WALK_RADIUS_M:
                problems.append(f"leg {i}: invalid change {leg['trip']}->{leg['next_trip']}")
            elif not arrival_s(tb, sb) + DWELL > arrival_s(ta, sa) + walk / speed - SLACK_S:
                problems.append(f"leg {i}: change departs before the walk ends")
        if i and (leg["trip"], leg["starting_stop_id"]) != (
            legs[i - 1]["next_trip"], legs[i - 1]["next_stop_id"]
        ):
            problems.append(f"leg {i}: does not continue leg {i - 1}")
        if i and leg["departure"] < legs[i - 1]["arrival"]:
            problems.append(f"leg {i}: departs before leg {i - 1} arrives")
    if not legs[0]["departure"] > time_s:
        problems.append("first departure not after the request time")
    if not legs[-1]["arrival"] + DWELL < time_s + WINDOW_S:
        problems.append("last arrival outside the 4 h window")
    return problems


def check_route(legs: list[dict], query: dict, speed: float, feed: dict = FEED) -> list[str]:
    """A stop-to-stop answer: structure, endpoints, and an arrival no later
    than the pure-Python one-change itinerary."""
    problems = check_legs(legs, query["time_s"], speed, feed)
    if problems:
        return problems
    src, dst = stop_name(*query["src"]), stop_name(*query["dst"])
    if legs[0]["starting_stop_name"] != src or legs[-1]["next_stop"] != dst:
        problems.append(f"answer runs {legs[0]['starting_stop_name']} -> {legs[-1]['next_stop']}")
    bound = one_change_arrival(query["src"], query["dst"], query["time_s"], feed)
    if bound is None or legs[-1]["arrival"] > bound:
        problems.append(f"arrives {legs[-1]['arrival']}, one-change itinerary {bound}")
    return problems


def check_trip(answer: dict, req: dict, speed: float, feed: dict = FEED) -> list[str]:
    """A ``plan_trip`` answer: structure, walking legs inside the candidate
    radius and time window, change count and totals."""
    legs = answer["rows"]
    problems = check_legs(legs, req["time_s"], speed, feed)
    if problems:
        return problems
    first, last = legs[0], legs[-1]
    walk_in = haversine_m(*req["start"], *first["starting_stop_coordinates"])
    walk_out = haversine_m(*req["end"], *last["next_stop_coordinates"])
    if walk_in > WALK_RADIUS_M or walk_out > WALK_RADIUS_M:
        problems.append(f"walks {walk_in:.0f} m / {walk_out:.0f} m exceed the radius")
    if not first["departure"] - walk_in / speed > req["time_s"] - SLACK_S:
        problems.append("boards before the entry walk ends")
    if not last["arrival"] + DWELL + walk_out / speed < req["time_s"] + WINDOW_S + SLACK_S:
        problems.append("exit walk ends outside the 4 h window")
    lines = {leg["line"] for leg in legs}
    if answer["changes"] != max(0, len(lines) - 1):
        problems.append(f"changes {answer['changes']} for lines {sorted(lines)}")
    transit = max(leg["arrival"] for leg in legs) - min(leg["departure"] for leg in legs)
    if answer["totals"]["transit_seconds"] != transit:
        problems.append(f"transit {answer['totals']['transit_seconds']} != {transit}")
    return problems


def winner(legs: list[dict]) -> tuple:
    """The ranked winner's identity: boarding and alighting stoptimes and
    the arrival (the path between them is one member of a tie class)."""
    first, last = legs[0], legs[-1]
    return (first["trip"], first["starting_stop_id"], first["departure"],
            last["next_trip"], last["next_stop_id"], last["arrival"])
