"""The benchmark's fixed feed: ``synth_gtfs`` written out as GTFS CSV text.

Writing the generated tables as text (``HH:MM:SS`` clock strings, a
``YYYYMMDD`` ``calendar_dates.txt``) puts the paper's ETL pipeline --
``sources.gtfs.read_gtfs`` -> ``write_tables`` -- inside the timed set-up,
instead of starting from already-typed DataFrames.

The analytic timetable below restates ``synth_gtfs``'s construction
independently of the package, so the answer checker can verify every leg
against it (``tests/test_perfbench.py`` cross-checks the two on a small
feed).
"""

from __future__ import annotations

import math
import os
import shutil

# Feed size. The reference-scale feed (synth_gtfs defaults: 60 routes x
# 140 trips x 30 stops = 252,000 stoptimes, ~1.8M edges) needs ~50 s of
# set-up on 4 cores before the first query -- more than one benchmark run
# may spend in total. A 20-route, 10-stop grid keeps the full service day
# (140 trips, 06:00 to ~20:00) and every layer the reference scale
# exercises, at 28,000 stoptimes.
FEED = {"n_routes": 20, "trips_per_route": 140, "stops_per_trip": 10}
DAY = "2024-01-18"

# synth_gtfs's grid: GRID x GRID stop lattice from (LAT0, LON0), STEP
# degrees apart; trip t of any route reaches sequence position seq at
# T0 + HEADWAY * t + HOP * seq and dwells DWELL seconds.
GRID = 45
LAT0, LON0, STEP = 44.60, 10.85, 0.0022
T0, HEADWAY, HOP, DWELL = 6 * 3600, 360, 90, 20


def hms(s: int) -> str:
    return f"{s // 3600:02d}:{(s % 3600) // 60:02d}:{s % 60:02d}"


def route_line(route: int, k: int) -> int:
    """Row (even route: horizontal) or column (odd: vertical) it runs on."""
    return ((route // 2) * 7) % k


def cell_of(route: int, seq: int, k: int) -> tuple[int, int]:
    """(row, col) of a route's seq-th stop."""
    line = route_line(route, k)
    return (line, seq) if route % 2 == 0 else (seq, line)


def stop_name(row: int, col: int) -> str:
    return f"Stop {row * GRID + col}"


def stop_coords(row: int, col: int) -> tuple[float, float]:
    return LAT0 + row * STEP, LON0 + col * STEP


def arrival_s(trip: int, seq: int) -> int:
    return T0 + HEADWAY * trip + HOP * seq


def haversine_m(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    r = 6371008.8
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = p2 - p1, math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


def write_feed(spark, out_dir: str, feed: dict | None = None) -> str:
    """Write the feed as GTFS CSV files into ``out_dir`` (once: an existing
    complete feed is reused). Returns ``out_dir``."""
    from routing_algorithm_for_graph_dbs_spark.sources.synth_gtfs import synth_gtfs

    done = os.path.join(out_dir, "DONE")
    if os.path.exists(done):
        return out_dir
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = {n: df.toPandas() for n, df in synth_gtfs(spark, day=DAY, **(feed or FEED)).items()}
    st = t["stop_times"]
    st["arrival_time"] = st["arrival_s"].map(hms)
    st["departure_time"] = st["departure_s"].map(hms)
    cal = t["calendar"]
    cal["date"] = cal["day"].map(lambda d: d.strftime("%Y%m%d"))
    files = {
        "agency.txt": (t["agency"], ["agency_id", "agency_name", "agency_url", "agency_timezone"]),
        "routes.txt": (t["routes"], ["route_id", "agency_id", "short_name", "route_long_name", "route_type"]),
        "trips.txt": (t["trips"], ["route_id", "service_id", "trip_id", "direction_id", "shape_id", "trip_headsign"]),
        "stops.txt": (t["stops"], ["stop_id", "stop_name", "stop_lat", "stop_lon"]),
        "stop_times.txt": (st, ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"]),
        "calendar_dates.txt": (cal, ["service_id", "date", "exception_type"]),
    }
    for name, (pdf, cols) in files.items():
        pdf[cols].to_csv(os.path.join(tmp, name), index=False)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir
