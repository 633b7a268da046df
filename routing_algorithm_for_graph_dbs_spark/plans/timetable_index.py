"""Driver-resident timetable index: interactive routing without Spark jobs.

An interactive routing query reads only a few hundred stoptime rows — the
departures at its candidate stops, the stops near its end points and the
stoptimes on its winning path — but every one of those reads was a filter
over the cached day relation, i.e. a Spark job of fixed overhead (28 jobs,
~2.5 s, per ``plan_trip`` against ~0.04 s of graph compute). The
reference's own client already pairs legs in the driver
(``main.py:103-114``). When a projected graph is small enough for the
broadcast SSSP tier (``graph/sssp.py`` ``BROADCAST_EDGE_LIMIT``), its day
stoptimes are small enough for the driver as well, so they are collected
ONCE per graph (one Arrow job) and every later query pays only its own
increment — the per-session state of incremental interactive analysis.

Layout: numpy columns, string columns factorized to int32 codes plus a
label array, not per-row Python tuples. At reference scale (252k
stoptimes) the index retains ~40 MB, most of it the stoptime-id strings
the id lookup needs. Derived lookups:

- stop name -> row indices sorted by ``(departure_s, stoptime_id)``, rows
  with a NULL departure or arrival left out (they can never be a routing
  candidate);
- stoptime id -> row (a pandas hash index);
- the day's distinct ``(stop_name, stop_lat, stop_lon)`` for radius lookups.

The index is memoized on the ``ProjectedGraph`` like ``edge_count()`` and
the stop-bound data, so a re-projection (new day or walking speed) drops
it together with the old graph.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from routing_algorithm_for_graph_dbs_spark.functions.spatial import (
    haversine_meters_scalar,
)

COLUMNS = (
    "stoptime_id", "trip_id", "route_id", "stop_name", "stop_id",
    "stop_lat", "stop_lon", "departure_s", "arrival_s",
)
_LABELS = ("trip_id", "route_id", "stop_name", "stop_id")
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _py(v):
    """numpy scalar -> Python value, NaN (a collected NULL) -> None."""
    v = v.item() if isinstance(v, np.generic) else v
    return None if isinstance(v, float) and v != v else v


def walk_s(lat, lon, point, speed: float) -> float:
    """Walking seconds between a stop and ``point`` = (lat, lon); 0 when
    there is no point (stop-to-stop routing has no walking legs)."""
    if point is None:
        return 0.0
    return haversine_meters_scalar(lat, lon, point[0], point[1]) / speed


class TimetableIndex:
    """The day's stoptimes of one projected graph, held in the driver."""

    def __init__(self, pdf: pd.DataFrame, types: dict[str, str]):
        n = len(pdf)
        self.ids = pd.Index(pdf["stoptime_id"])
        self.codes, self.labels = {}, {}
        for c in _LABELS:
            codes, uniq = pd.factorize(pdf[c])
            self.codes[c] = codes.astype(np.int32)
            self.labels[c] = np.asarray(uniq, dtype=object)
        self.lat = pdf["stop_lat"].to_numpy(np.float64)
        self.lon = pdf["stop_lon"].to_numpy(np.float64)
        # float64 so a NULL time is NaN; emitted back as the column's type
        self.dep = pdf["departure_s"].to_numpy(np.float64)
        self.arr = pdf["arrival_s"].to_numpy(np.float64)
        self._int = {c: types[c] in _INTEGRAL for c in ("departure_s", "arrival_s")}

        order = pdf.sort_values(
            ["departure_s", "stoptime_id"], kind="mergesort"
        ).index.to_numpy()
        self.rank = np.empty(n, dtype=np.int64)
        self.rank[order] = np.arange(n)
        rows = order[~np.isnan(self.dep[order]) & ~np.isnan(self.arr[order])]
        names = self.codes["stop_name"][rows]
        grp = np.argsort(names, kind="stable")  # keeps (departure, id) order
        rows, names = rows[grp], names[grp]
        cuts = np.flatnonzero(np.diff(names)) + 1
        self.by_name = {
            self.labels["stop_name"][names[s]]: part
            for s, part in zip(np.r_[0, cuts], np.split(rows, cuts))
            if len(part) and names[s] >= 0
        }
        stops = pdf[["stop_name", "stop_lat", "stop_lon"]].dropna(
            subset=["stop_name"]
        ).drop_duplicates()
        self.stops = list(stops.itertuples(index=False, name=None))

    def departures(self, names) -> np.ndarray:
        """Rows at any of the stop ``names``, by (departure_s, stoptime_id)."""
        parts = [self.by_name[n] for n in dict.fromkeys(names) if n in self.by_name]
        if not parts:
            return np.empty(0, dtype=np.int64)
        rows = np.concatenate(parts)
        return rows[np.argsort(self.rank[rows], kind="stable")]

    def attrs(self, i: int) -> tuple:
        """(trip_id, route_id, stop_name, stop_id, stop_lat, stop_lon,
        departure_s, arrival_s) of row ``i`` as Python values."""
        lab = [self.codes[c][i] for c in _LABELS]
        dep, arr = _py(self.dep[i]), _py(self.arr[i])
        return (
            *(self.labels[c][k] if k >= 0 else None for c, k in zip(_LABELS, lab)),
            _py(self.lat[i]), _py(self.lon[i]),
            int(dep) if dep is not None and self._int["departure_s"] else dep,
            int(arr) if arr is not None and self._int["arrival_s"] else arr,
        )

    def lookup(self, ids) -> dict:
        """stoptime id -> :meth:`attrs`, for the ids present in the day."""
        ids = list(ids)
        rows = self.ids.get_indexer(ids) if ids else []
        return {sid: self.attrs(r) for sid, r in zip(ids, rows) if r >= 0}

    def candidates(self, src_names, dst_names, time_s, end_s, ends=None):
        """Routing stages 1-2 (plans/routing.py) from the index.

        Sources: per route the first departure by (departure_s,
        stoptime_id) with ``departure_s - entry walk > time_s``; targets:
        every departure with ``departure_s + exit walk < end_s``. ``ends``
        = ``(start, end, speed)`` of the point variant's walking legs, None
        stop to stop. Returns ``(sources, targets)`` as (stoptime_id,
        stop_id, departure_s, arrival_s, walk_s) tuples, walk_s the entry
        walk of a source and the exit walk of a target.
        """
        start, end, speed = ends if ends is not None else (None, None, 1.0)

        def pick(names, point, keep):
            rows = self.departures(names)
            by_stop = {}  # one walk per stop, not per departure
            for i in rows:
                k = self.codes["stop_id"][i]
                if k not in by_stop:
                    by_stop[k] = walk_s(self.lat[i], self.lon[i], point, speed)
            w = np.array(
                [by_stop[k] for k in self.codes["stop_id"][rows]], dtype=np.float64
            )
            m = keep(self.dep[rows], w)
            return rows[m], w[m]

        src, w_src = pick(src_names, start, lambda d, w: d - w > time_s)
        # the feasible rows are in (departure, id) order: the first row of
        # each route is its earliest boarding (reference main.py:85-87)
        _, first = np.unique(self.codes["route_id"][src], return_index=True)
        first = np.sort(first)
        dst, w_dst = pick(dst_names, end, lambda d, w: d + w < end_s)

        def out(rows, walks):
            return [
                (_py(self.ids[i]), a[3], a[6], a[7], _py(w))
                for i, w in zip(rows, walks)
                for a in (self.attrs(i),)
            ]

        return out(src[first], w_src[first]), out(dst, w_dst)

    def near_stops(self, lat: float, lon: float, radius_m: float) -> list[str]:
        """Distinct names of the day's stops within ``radius_m`` of a point
        (``operators.queries.find_near_stops`` on the index)."""
        return sorted({
            name for name, s_lat, s_lon in self.stops
            if haversine_meters_scalar(s_lat, s_lon, lat, lon) < radius_m
        })


def timetable_index(graph) -> TimetableIndex:
    """The graph's timetable index, built by one job on first use."""
    ix = getattr(graph, "_timetable_index", None)
    if ix is None:
        st = graph.stoptimes.select(*COLUMNS)
        types = {f.name: f.dataType.simpleString() for f in st.schema.fields}
        ix = TimetableIndex(st.toPandas(), types)
        object.__setattr__(graph, "_timetable_index", ix)
    return ix
