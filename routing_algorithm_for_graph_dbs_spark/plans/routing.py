"""Point-to-point routing pipelines (SURVEY.md §3 EP3).

Parity targets:
- ``App.routing(date, speed, time, source, target, max_duration)``
  (reference ``main.py:73-117``) — stop-name to stop-name.
- ``App.routing_between_two_points_in_space(...)`` (reference
  ``main.py:119-176``) — coordinates to coordinates with walking
  entry/exit legs and candidate stop lists.

Pipeline stages (stages 1-2 and 4-5 run in the driver; the SSSP kernel
is the only iteration):

1. *Source candidates* — day-valid Stoptimes at the candidate stops
   departing after the query time (point variant: after time + walk from the
   start point, reference ``main.py:132``); per line, the earliest feasible
   boarding (``apoc.agg.minItems`` then ``collect … unwind … s[0]`` takes
   ONE item per line — reference ``main.py:85-87``; we take the
   deterministic first by (departure, stoptime_id), documenting the
   reference's nondeterminism among exact ties).
2. *Target candidates* — day-valid Stoptimes at the destination stops
   departing inside the time window (point variant: departure + walk to
   the end point) and after the source departs (reference
   ``main.py:91-94``).
3. *SSSP* — the reference loops ``gds.shortestPath.dijkstra`` per
   (source, target) pair; here ONE multi-source run seeds every candidate
   source in its own lane (identical per-lane semantics, k× less work).
4. *Ranking* — stop variant: ``ORDER BY arrival_time, cost LIMIT 1``
   (``main.py:102``); point variant: cost augmented with entry/exit walking
   and ``ORDER BY final_time, cost LIMIT 1`` (``main.py:157-159``); ties
   broken by (src, dst) stoptime id.
5. *Leg decomposition* — consecutive stoptimes of the winning path
   paired with their Stoptime/Trip/Route/Stop attributes (``main.py:103-114``
   / ``main.py:160-171``), producing the reference's 12-column leg table.

Where the candidates and leg attributes come from depends on the graph's
SSSP tier (graph/sssp.py ``BROADCAST_EDGE_LIMIT``):

- *Broadcast tier* (``strategy="broadcast"``, or ``"auto"`` on a graph of
  at most ``BROADCAST_EDGE_LIMIT`` edges): from the graph's driver-resident
  timetable index (plans/timetable_index.py, one job per graph, memoized).
  A warm ``routing``, ``routing_between_two_points_in_space`` or
  ``plan_trip`` then runs NO Spark job when the kernel has at most
  ``DRIVER_LANE_LIMIT`` lanes (the in-driver Dijkstra returns a
  LocalRelation), and one job (the Arrow Dijkstra stage) above that.
  ``plan_trip`` reads its near-stop lists from the index too.
- *Iterative tier*: from ONE job of DataFrame filters over the day
  relation for the candidates and ONE enrichment job for the winner's
  stoptimes, besides the kernel's own supersteps — those stoptimes need
  not fit the driver.

Both feed the same driver-side ranking and leg pairing, so the two paths
return identical leg tables (tests/test_timetable_index.py).
``routing_batch`` keeps its per-pair Window ranking and shares only the
leg pairing.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from routing_algorithm_for_graph_dbs_spark.functions.localrel import local_rows_df
from routing_algorithm_for_graph_dbs_spark.functions.spatial import (
    haversine_meters,
    haversine_meters_scalar,
)
from routing_algorithm_for_graph_dbs_spark.graph.sssp import BROADCAST_EDGE_LIMIT, sssp
from routing_algorithm_for_graph_dbs_spark.graph.stop_bound import (
    earliest_arrival_bounds,
    provably_unreachable,
)
from routing_algorithm_for_graph_dbs_spark.plans.projection import ProjectedGraph
from routing_algorithm_for_graph_dbs_spark.plans.timetable_index import (
    COLUMNS,
    timetable_index,
    walk_s,
)


def _none_safe(rows) -> list:
    """sorted() with NULL-tolerant keys: candidate stoptime columns are
    non-null by construction today, but a NULL arrival/departure in the
    collected tuples must not raise TypeError where the former DataFrame
    ``.distinct()`` path tolerated it (ADVICE r14). NULLs order first,
    matching nothing else in the pipeline (the sort only canonicalizes
    the VALUES order)."""
    return sorted(rows, key=lambda t: tuple((v is not None, v) for v in t))


LEG_COLUMNS = [
    "trip",
    "departure",
    "line",
    "starting_stop_name",
    "starting_stop_id",
    "starting_stop_coordinates",
    "next_trip",
    "next_stop",
    "next_stop_id",
    "next_stop_coordinates",
    "next_line",
    "arrival",
]


def _pick_sources(feasible: DataFrame) -> DataFrame:
    """minItems per line then one per line (reference ``main.py:85-87``)."""
    w = Window.partitionBy("route_id").orderBy("departure_s", "stoptime_id")
    return (
        feasible.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _on_broadcast_tier(graph: ProjectedGraph, strategy: str) -> bool:
    """True when the SSSP dispatcher runs this graph in memory."""
    return strategy == "broadcast" or (
        strategy == "auto" and graph.edge_count() <= BROADCAST_EDGE_LIMIT
    )


def _index_for(graph: ProjectedGraph, strategy: str):
    """The graph's timetable index on the broadcast tier — whose day
    stoptimes fit the driver as well as its edges — else None."""
    return timetable_index(graph) if _on_broadcast_tier(graph, strategy) else None


def _frame_candidates(graph, src_names, dst_names, time_s, end_s, ends=None):
    """Stages 1-2 as DataFrame filters over the day relation (graphs past
    the broadcast tier, whose stoptimes need not fit the driver): ONE job
    collects both candidate lists, in the index's tuple format
    (plans/timetable_index.py ``TimetableIndex.candidates``)."""
    start, end, speed = ends if ends is not None else (None, None, 1.0)

    def walk(point):
        if point is None:
            return F.lit(0)
        return haversine_meters(
            F.col("stop_lat"), F.col("stop_lon"), F.lit(point[0]), F.lit(point[1])
        ) / F.lit(speed)

    # NULL times can never be candidates (the index drops them too)
    day_st = graph.stoptimes.filter(
        F.col("departure_s").isNotNull() & F.col("arrival_s").isNotNull()
    )
    sources = _pick_sources(day_st.filter(
        F.col("stop_name").isin(list(src_names))
        & ((F.col("departure_s") - walk(start)) > F.lit(time_s))
    ))
    targets = day_st.filter(
        F.col("stop_name").isin(list(dst_names))
        & ((F.col("departure_s") + walk(end)) < F.lit(end_s))
    )
    cols = ["stoptime_id", "stop_id", "departure_s", "arrival_s", "stop_lat", "stop_lon"]
    rows = (
        sources.select(F.lit(True).alias("is_src"), *cols)
        .unionByName(targets.select(F.lit(False).alias("is_src"), *cols))
        .collect()
    )
    def cand(r, point):
        return (r[1], r[2], r[3], r[4], walk_s(r[5], r[6], point, speed))

    return (
        [cand(r, start) for r in rows if r[0]],
        [cand(r, end) for r in rows if not r[0]],
    )


def _decompose_path(
    paths: dict, graph: ProjectedGraph, index=None, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Stage 5: winning paths -> reference leg table (J6, ``main.py:103-114``).

    ``paths``: {key tuple: path (list of stoptime ids)}; ``keys``: DDL of
    the key columns (``routing_batch`` sends ``pair_id int`` so each OD
    pair's legs stay attributable). Consecutive path stoptimes are paired
    in the driver — the reference's own client does this pairing too
    (main.py:103-114). Endpoint attributes come from the timetable
    ``index`` (no job) or, past the broadcast tier, from ONE job over the
    day relation. The leg table is a JVM LocalRelation
    (functions/localrel.py), so collecting it costs no further job; rows
    are in (keys, path position) order.
    """
    st = graph.stoptimes
    ids = list({sid for p in paths.values() for sid in p or ()})
    if index is not None:
        attrs = index.lookup(ids)
    elif ids:
        sel = st.filter(F.col("stoptime_id").isin(ids)).select(*COLUMNS)
        attrs = {r[0]: tuple(r)[1:] for r in sel.collect()}
    else:
        attrs = {}
    leg_rows: list[tuple] = []
    for kt in sorted(paths):
        hops = [attrs.get(sid) for sid in paths[kt] or ()]
        for a, b in zip(hops, hops[1:]):
            if a is None or b is None:
                continue  # an id missing from the day relation
            # attrs: trip, route, stop_name, stop_id, lat, lon, dep, arr
            leg_rows.append(kt + (
                a[0], a[6], a[1], a[2], a[3], [a[4], a[5]],
                b[0], b[2], b[3], [b[4], b[5]], b[1], b[7],
            ))
    sch = {f.name: f.dataType.simpleString() for f in st.schema.fields}
    ddl = ", ".join(
        [*keys]
        + [
            f"trip {sch['trip_id']}",
            f"departure {sch['departure_s']}",
            f"line {sch['route_id']}",
            f"starting_stop_name {sch['stop_name']}",
            f"starting_stop_id {sch['stop_id']}",
            f"starting_stop_coordinates array<{sch['stop_lat']}>",
            f"next_trip {sch['trip_id']}",
            f"next_stop {sch['stop_name']}",
            f"next_stop_id {sch['stop_id']}",
            f"next_stop_coordinates array<{sch['stop_lat']}>",
            f"next_line {sch['route_id']}",
            f"arrival {sch['arrival_s']}",
        ]
    )
    if not leg_rows:
        # an empty VALUES list cannot parse; one NULL row under LIMIT 0
        # keeps the empty table a LocalRelation (collect: no job)
        n_cols = len(keys) + len(LEG_COLUMNS)
        return local_rows_df(st.sparkSession, [(None,) * n_cols], ddl).limit(0)
    return local_rows_df(st.sparkSession, leg_rows, ddl)


def _run_pairs(
    graph: ProjectedGraph,
    sources: list[tuple],
    targets: list[tuple],
    strategy: str = "auto",
    max_iterations: int = 1000,
    stop_bound: bool = True,
) -> list[tuple]:
    """Stage 3: lanes = source stoptimes; pair lane results with targets.

    ``sources``/``targets``: candidate tuples (stoptime_id, stop_id,
    departure_s, arrival_s, walk_s). Returns (source, target, cost, path)
    per feasible pair: the target departs after the source departs.

    The kernel settles each lane's targets by rank — arrival + exit walk,
    the consumer's primary order (routing: ORDER BY arrival, cost; the
    two-points pipeline: final_time): once a target settles, same-group
    targets with a strictly larger rank can never win the (rank, cost,
    ...) order, so the search stops at the winner's cost radius instead of
    the farthest feasible target's (~the whole duration window of
    day-graph).

    ``stop_bound``: pre-prune targets the admissible earliest-arrival
    certificate (graph/stop_bound.py) PROVES unreachable — they could
    never produce a result row, but waiting for them to settle forces
    full-component exploration (SCALE.md blocker). Sound: the
    certificate under-prunes only; disable to A/B the exact same search
    without the certificate (tests assert winner identity both ways).
    """
    bounds = None
    if stop_bound and sources:
        bounds = earliest_arrival_bounds(graph, [(s[1], int(s[2])) for s in sources])
    # per-lane target sets, known up front (a few hundred stoptimes at the
    # destination stops): both SSSP tiers early-terminate once a lane's
    # WINNABLE targets settle. Targets departing at-or-before the lane's
    # own departure are EXCLUDED — the pairing below discards them anyway —
    # as are certificate-pruned ones; keeping either would block
    # settlement forever (they are generally unreachable: time moves
    # forward along the expanded graph), degrading early termination to
    # full-graph convergence on the iterative tier. A lane pruned to zero
    # targets cannot produce a result row and is not seeded at all.
    lane_ranks = {}
    for s in sources:
        ts = [
            (0, t[0], float(t[3] + t[4]))
            for t in targets
            if t[2] > s[2]
            and not provably_unreachable(bounds, s[1], int(s[2]), t[1], t[3])
        ]
        if ts:
            lane_ranks[s[0]] = ts
    if not lane_ranks:
        return []
    st = graph.stoptimes
    id_t = st.schema["stoptime_id"].dataType.simpleString()
    lanes = local_rows_df(
        st.sparkSession,
        [(lane, lane) for lane in sorted(lane_ranks)],
        f"lane {id_t}, node {id_t}",
    )
    res = sssp(
        graph.edges, lanes, weight_col="waiting_time",
        target_ranks=lane_ranks,
        strategy=strategy, n_edges=graph.edge_count(),
        n_lanes=len(lane_ranks),
        # iterative tier: the kernel RAISES if targets don't settle within
        # this budget (silent non-final costs would corrupt the ranking)
        max_iterations=max_iterations,
        # iterative tier: spatial-cell partition-local relaxation — the
        # density depth-wall fix (supersteps track cell crossings, not
        # headway bounces); resolved lazily, broadcast tier never pays
        node_parts=graph.node_parts,
    )
    src_of = {s[0]: s for s in sources}
    tgt_of = {t[0]: t for t in targets}
    if not _on_broadcast_tier(graph, strategy):
        # the iterative tier returns every node it reached, not only targets
        res = res.filter(F.col("node").isin(list(tgt_of)))
    # the in-driver tier's result is a LocalRelation (collect: no job);
    # the Arrow tier's is its one job
    return [
        (src_of[r[0]], tgt_of[r[1]], r[2], r[3])
        for r in res.collect()
        if r[1] in tgt_of and tgt_of[r[1]][2] > src_of[r[0]][2]
    ]


def _route(graph, src_names, dst_names, time_s, max_duration_h, strategy,
           max_iterations, stop_bound, ends=None) -> DataFrame:
    """Stages 1-5 shared by both routing variants; ``ends`` = (start, end,
    speed) of the point variant's walking legs, None stop to stop."""
    end_s = time_s + max_duration_h * 3600
    index = _index_for(graph, strategy)
    if index is not None:
        sources, targets = index.candidates(src_names, dst_names, time_s, end_s, ends)
    else:
        sources, targets = _frame_candidates(
            graph, src_names, dst_names, time_s, end_s, ends
        )
    # NO cost horizon: the reference caps only the target departure window
    # (main.py:129-130), never path cost. CHANGE weights are waiting +
    # walking, so a path's cost exceeds its elapsed time by the accumulated
    # walking (minus dwell) — capping cost at the duration window would
    # prune a reference-feasible winner whose elapsed time sits near the
    # cap with nonzero walking. Termination comes from target settlement
    # (both SSSP tiers early-stop once every target cost is provably final).
    pairs = _run_pairs(graph, sources, targets, strategy, max_iterations, stop_bound)
    # stage 4: ORDER BY final_time, cost_total, src, dst LIMIT 1 with
    # final_time = arrival + exit walk, cost_total = cost + entry + exit
    # walk (main.py:157-159); stop to stop both walks are 0, i.e. ORDER BY
    # arrival_time, cost (main.py:102) with a deterministic tiebreak
    paths = {}
    if pairs:
        best = min(pairs, key=lambda p: (
            p[1][3] + p[1][4], p[2] + p[0][4] + p[1][4], p[0][0], p[1][0],
        ))
        paths[()] = best[3]
    return _decompose_path(paths, graph, index)


def routing(
    graph: ProjectedGraph,
    time_s: int,
    source_stop_name: str,
    target_stop_name: str,
    max_duration_h: int = 4,
    strategy: str = "auto",
    max_iterations: int = 1000,
    stop_bound: bool = True,
) -> DataFrame:
    """Stop-name to stop-name itinerary (parity ``App.routing``,
    ``main.py:73-117``). Returns the reference's 12-column leg table.
    ``strategy`` pins the SSSP tier (``auto``/``broadcast``/``iterative``)
    — used by tools/scale_validation.py for cross-tier agreement checks."""
    return _route(
        graph, [source_stop_name], [target_stop_name], time_s,
        max_duration_h, strategy, max_iterations, stop_bound,
    )


def routing_batch(
    graph: ProjectedGraph,
    od_pairs: list[tuple[str, str]],
    time_s: int,
    max_duration_h: int = 4,
    strategy: str = "auto",
    max_iterations: int = 200,
    winners_only: bool = False,
    checkpoint_every: int = 1,
    max_cost: float | None = None,
    stop_bound: bool = True,
    local_relax: bool = True,
) -> DataFrame:
    """Every OD pair's itinerary in ONE multi-lane SSSP run.

    The reference client loops ``gds.shortestPath.dijkstra`` per pair
    (``main.py:326-369`` runs its 9-pair harness sequentially); the batch
    pipeline instead seeds all pairs' candidate sources as lanes of a single
    kernel invocation, so a cluster executes every pair's search
    simultaneously and the projected-edge relation is scanned once, not
    |pairs| times. Per-pair semantics are IDENTICAL to :func:`routing` —
    same source/target candidate rules, same winner rank, same leg
    decomposition (asserted in tests/test_routing.py) — because each lane is
    an independent Dijkstra; only the scheduling is shared.

    Returns the reference leg table with a leading ``pair_id`` column
    (index into ``od_pairs``); pairs with no feasible itinerary yield no
    rows, matching ``routing``'s empty result.

    ``max_cost`` is an EXPLICIT OPT-IN cost horizon for the kernel, default
    off. The default (None) is exact: per-lane target settlement bounds the
    superstep count, but a lane whose target set includes an unreachable
    stoptime explores its full component first — the reference's own
    per-pair Dijkstra does the same, and on a dense time-expanded day graph
    that is the dominant cost of the iterative tier. A finite horizon
    bounds that exploration but is NOT provably winner-preserving: CHANGE
    weights are (elapsed + walking), so a winner whose accumulated walking
    pushes cost past the horizon is pruned even though its elapsed time is
    inside the duration window (tests/test_routing.py cap-boundary case).
    Callers that opt in (tools/scale_routing.py) must certify the run by
    winner-identity against an exact tier and pad the horizon well past
    ``max_duration_h`` to cover accumulated walking.
    """
    spark = graph.stoptimes.sparkSession
    day_st = graph.stoptimes
    end_s = time_s + max_duration_h * 3600
    # JVM LocalRelation, not createDataFrame: the pair table is joined
    # (broadcast) into BOTH candidate derivations, and a Python-RDD-backed
    # relation pays a Python-worker task per materialization (localrel.py)
    pairs_df = local_rows_df(
        spark,
        [(i, s, t) for i, (s, t) in enumerate(od_pairs)],
        "pair_id int, src_name string, dst_name string",
    )

    feasible_src = day_st.filter(F.col("departure_s") > time_s).join(
        F.broadcast(
            pairs_df.select("pair_id", F.col("src_name").alias("stop_name"))
        ),
        "stop_name",
    )
    # minItems per (pair, line) — the per-pair twin of _pick_sources
    w = Window.partitionBy("pair_id", "route_id").orderBy(
        "departure_s", "stoptime_id"
    )
    sources = (
        feasible_src.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    targets = day_st.filter(F.col("departure_s") < end_s).join(
        F.broadcast(
            pairs_df.select("pair_id", F.col("dst_name").alias("stop_name"))
        ),
        "stop_name",
    )

    # iterative tier: predecessor-pointer state. The per-superstep state
    # rewrite is O(width x rows), and dragging accumulated path arrays
    # through ~100 horizon-bounded supersteps costs ~10x the narrow row —
    # only the 9 ranked winners ever need full paths, reconstructed after
    # the fact (graph.sssp.reconstruct_paths).
    pred_mode = strategy == "iterative"
    # per-lane target sets: a lane only expands until ITS pair's targets
    # settle (a lane shared by several pairs gets the union of their
    # targets). A single global list would make every lane settle every
    # pair's targets — correct but up to |pairs|x the search work.
    # Targets departing at-or-before the lane's own departure are excluded
    # (the ranking discards them; keeping them would stall settlement —
    # see _run_pairs), as are targets the admissible earliest-arrival
    # certificate PROVES unreachable (graph/stop_bound.py — sound:
    # a pruned target could never produce a result row, but waiting for
    # it to settle forces full-component exploration).
    # ONE driver job collects both candidate lists (the separate collects
    # each paid a full job of fixed overhead; the union is still tiny)
    both = (
        sources.select(
            F.lit("s").alias("side"), "pair_id", "stoptime_id", "stop_id",
            "departure_s", "arrival_s",
        )
        .unionByName(
            targets.select(
                F.lit("t").alias("side"), "pair_id", "stoptime_id",
                "stop_id", "departure_s", "arrival_s",
            )
        )
        .distinct()
        .collect()
    )
    src_rows = [r for r in both if r["side"] == "s"]
    tgt_rows = [r for r in both if r["side"] == "t"]
    bounds = None
    if stop_bound and src_rows:
        bounds = earliest_arrival_bounds(
            graph, [(s["stop_id"], int(s["departure_s"])) for s in src_rows]
        )
    tgt_by_pair: dict[int, list] = {}
    for r in tgt_rows:
        tgt_by_pair.setdefault(r["pair_id"], []).append(
            (r["stoptime_id"], r["stop_id"], r["departure_s"], r["arrival_s"])
        )
    # groups are PAIR-scoped: a lane shared by several OD pairs carries one
    # group per pair, so settling pair A's early-arrival target prunes only
    # pair A's later-arrival targets — pair B's rank is independent.
    lane_ranks: dict[str, dict] = {}
    for r in src_rows:
        grp = lane_ranks.setdefault(r["stoptime_id"], {})
        for t, t_stop, dep, arr in tgt_by_pair.get(r["pair_id"], ()):
            if dep > r["departure_s"] and not provably_unreachable(
                bounds, r["stop_id"], int(r["departure_s"]), t_stop, arr
            ):
                grp[(r["pair_id"], t)] = float(arr)
    # lanes pruned to zero targets cannot produce a result row — drop them
    lane_ranks = {lane: grp for lane, grp in lane_ranks.items() if grp}
    id_t = day_st.schema["stoptime_id"].dataType.simpleString()
    dep_t = day_st.schema["departure_s"].dataType.simpleString()
    arr_t = day_st.schema["arrival_s"].dataType.simpleString()
    lanes = local_rows_df(
        spark,
        [(lane, lane) for lane in sorted(lane_ranks)],
        f"lane {id_t}, node {id_t}",
    )
    res = sssp(
        graph.edges, lanes, weight_col="waiting_time",
        # default max_cost=None: a cost horizon is not winner-preserving
        # (walking pushes cost past the elapsed-time cap — see docstring);
        # per-lane target settlement bounds the superstep count instead.
        # A finite max_cost is the caller's certified-per-run opt-in.
        max_cost=max_cost,
        target_ranks={
            lane: [(g, n, rk) for (g, n), rk in grp.items()]
            for lane, grp in lane_ranks.items()
        },
        strategy=strategy, n_edges=graph.edge_count(),
        n_lanes=len(lane_ranks),
        max_iterations=max_iterations, checkpoint_every=checkpoint_every,
        track_paths=("pred" if pred_mode else True),
        # iterative tier: spatial-cell partition-local relaxation — the
        # density depth-wall fix (supersteps track cell crossings, not
        # headway bounces); resolved lazily, broadcast tier never pays.
        # ``local_relax=False`` pins the legacy one-hop kernel (the scale
        # harness A/Bs the two shapes on the same probe).
        node_parts=(graph.node_parts if local_relax else None),
        # iterative tier: spread the (lane x horizon-ball) state across
        # the cluster — the edge-sized default leaves most cores idle
        # (no-op for the broadcast tier)
        shuffle_parts=spark.sparkContext.defaultParallelism,
    )
    if pred_mode:
        # the narrow state feeds both the rank and the winner-path walk
        res = res.persist()

    # ranking join sides as JVM LocalRelations over the rows collected
    # above — identical rows, no re-run of the candidate filters/window
    # inside the final job, no Python-RDD materialization (localrel.py)
    t = local_rows_df(
        spark,
        _none_safe(
            {
                (r["pair_id"], r["stoptime_id"], r["arrival_s"], r["departure_s"])
                for r in tgt_rows
            }
        ),
        f"t_pair int, t_id {id_t}, dst_arrival_s {arr_t}, dst_departure_s {dep_t}",
    )
    s = local_rows_df(
        spark,
        _none_safe(
            {
                (r["pair_id"], r["stoptime_id"], r["departure_s"])
                for r in src_rows
            }
        ),
        f"s_pair int, s_id {id_t}, src_departure_s {dep_t}",
    )
    ranked = (
        res.join(F.broadcast(t), res["node"] == t["t_id"])
        .join(
            F.broadcast(s),
            (res["lane"] == s["s_id"]) & (s["s_pair"] == t["t_pair"]),
        )
        .filter(F.col("dst_departure_s") > F.col("src_departure_s"))
        .select(
            F.col("s_pair").alias("pair_id"),
            F.col("lane").alias("src"),
            F.col("node").alias("dst"),
            "cost",
            *([] if pred_mode else ["path"]),
            "dst_arrival_s",
        )
    )
    # per-pair ORDER BY arrival_time, cost LIMIT 1 with deterministic ties
    ww = Window.partitionBy("pair_id").orderBy("dst_arrival_s", "cost", "src", "dst")
    winners = (
        ranked.withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") == 1)
    )
    if winners_only:
        # the rank identity (pair, src, dst, cost, arrival) is fully
        # deterministic across SSSP tiers; the PATH between a fixed
        # (src, dst) stoptime pair is one arbitrary member of the
        # equal-cost tie class (GDS behaves the same) — the scale
        # validation compares tiers on this contract
        out = winners.select("pair_id", "src", "dst", "cost", "dst_arrival_s")
        if pred_mode:
            out = out.localCheckpoint(eager=True)
            res.unpersist()
        return out
    if pred_mode:
        from routing_algorithm_for_graph_dbs_spark.graph.sssp import (
            reconstruct_paths,
        )

        heads = winners.select(
            "pair_id", F.col("src").alias("lane"), F.col("dst").alias("node")
        )
        winners = reconstruct_paths(res, heads, carry_cols=("pair_id",))
    # the leg table is built from the collected winner paths, so it holds
    # no lineage to the kernel state released below
    paths = {(r["pair_id"],): r["path"] for r in winners.select("pair_id", "path").collect()}
    if pred_mode:
        res.unpersist()
    return _decompose_path(paths, graph, _index_for(graph, strategy), keys=("pair_id int",))


def routing_between_two_points_in_space(
    graph: ProjectedGraph,
    start_lat: float,
    start_lon: float,
    end_lat: float,
    end_lon: float,
    start_list: list[str],
    end_list: list[str],
    speed: float,
    time_s: int,
    max_duration_h: int = 4,
    max_iterations: int = 1000,
    stop_bound: bool = True,
) -> DataFrame:
    """Coordinates-to-coordinates itinerary (parity
    ``App.routing_between_two_points_in_space``, ``main.py:119-176``):
    sources depart after ``time_s`` + the entry walk (main.py:132),
    targets before the window's end - the exit walk (main.py:140), and the
    winner ranks by arrival + exit walk, then cost + both walks
    (main.py:157-159)."""
    return _route(
        graph, start_list, end_list, time_s, max_duration_h, "auto",
        max_iterations, stop_bound,
        ends=((start_lat, start_lon), (end_lat, end_lon), speed),
    )


def _fmt_hms(s: int | float) -> str:
    s = int(s)
    return f"{s // 3600:02d}:{(s % 3600) // 60:02d}:{s % 60:02d}"


def plan_trip(
    tables: dict[str, DataFrame],
    graph: ProjectedGraph,
    start_lat: float,
    start_lon: float,
    end_lat: float,
    end_lon: float,
    time_s: int,
    speed: float = 1.0,
    radius_m: float = 300.0,
    max_duration_h: int = 4,
    foot_tables: dict[str, DataFrame] | None = None,
) -> dict:
    """The reference's full interactive flow in one call (driver
    ``main.py:259-303`` + notebook cells 6-18): candidate stop discovery,
    point-to-point routing, change count, walking legs (footway-graph
    distances when foot tables are present, straight-line otherwise), totals
    and the ``show_more_details`` narrative (``main.py:216-237``).

    Returns {legs: DataFrame, rows, changes, start_walk_m, end_walk_m,
    totals, narrative}.
    """
    index = _index_for(graph, "auto")
    if index is not None:
        near = index.near_stops
    else:
        from routing_algorithm_for_graph_dbs_spark.operators.queries import (
            find_near_stops,
        )

        def near(lat, lon, r):
            return [x["stop_name"] for x in find_near_stops(tables, graph.day, lat, lon, r).collect()]

    legs = routing_between_two_points_in_space(
        graph, start_lat, start_lon, end_lat, end_lon,
        near(start_lat, start_lon, radius_m), near(end_lat, end_lon, radius_m),
        speed, time_s, max_duration_h,
    )
    rows = legs.collect()
    if not rows:
        return {
            "legs": legs,
            "rows": [],
            "changes": 0,
            "start_walk_m": float("inf"),
            "end_walk_m": float("inf"),
            "totals": None,
            "narrative": "No feasible itinerary in the time window.",
        }
    changes = count_changes(rows)

    def _walk_m(stop_id: str, lat: float, lon: float, slat, slon) -> float:
        if foot_tables is not None and "foot_nodes" in foot_tables:
            from routing_algorithm_for_graph_dbs_spark.graph.footway import (
                distance_from_a_stop,
            )

            km = distance_from_a_stop(
                foot_tables, stop_id, lat, lon, stops=tables["stops"]
            )
            if km != float("inf"):
                return km * 1000.0
        # fall back to straight-line (the reference's geopy geodesic client
        # helper, main.py:320-323) — shared scalar haversine so the fallback
        # agrees with every other distance in the engine
        return haversine_meters_scalar(lat, lon, slat, slon)

    first, last = rows[0], rows[-1]
    start_walk_m = _walk_m(
        first["starting_stop_id"],
        start_lat,
        start_lon,
        first["starting_stop_coordinates"][0],
        first["starting_stop_coordinates"][1],
    )
    end_walk_m = _walk_m(
        last["next_stop_id"],
        end_lat,
        end_lon,
        last["next_stop_coordinates"][0],
        last["next_stop_coordinates"][1],
    )
    totals = itinerary_totals(rows, start_walk_m, end_walk_m, speed)

    # show_more_details narrative (main.py:216-237): per-line boarding
    # instructions with times and stop names
    lines = [
        f"Walk {start_walk_m:.0f} m to {first['starting_stop_name']} and board "
        f"line {first['line']} (trip {first['trip']}) at {_fmt_hms(first['departure'])}."
    ]
    for prev, cur in zip(rows, rows[1:]):
        if cur["line"] != prev["line"]:
            lines.append(
                f"At {_fmt_hms(prev['arrival'])} change at {prev['next_stop']} to "
                f"line {cur['line']} (trip {cur['trip']}), departing {_fmt_hms(cur['departure'])}."
            )
    lines.append(
        f"Alight at {last['next_stop']} at {_fmt_hms(last['arrival'])} and walk "
        f"{end_walk_m:.0f} m to the destination. Total {_fmt_hms(totals['total_seconds'])}"
        f" ({changes} change{'s' if changes != 1 else ''})."
    )
    return {
        "legs": legs,
        "rows": rows,
        "changes": changes,
        "start_walk_m": start_walk_m,
        "end_walk_m": end_walk_m,
        "totals": totals,
        "narrative": " ".join(lines),
    }


def count_changes(legs: DataFrame | list) -> int:
    """Number of line changes (parity: client lambda ``main.py:284-285``);
    ``legs`` is a leg table or its collected rows."""
    rows = legs.collect() if isinstance(legs, DataFrame) else legs
    return max(len({r["line"] for r in rows}) - 1, 0)


def itinerary_totals(
    legs: DataFrame | list,
    start_walk_m: float,
    end_walk_m: float,
    speed: float,
) -> dict:
    """Total trip time incl. walking (parity: client ``main.py:288-303``);
    ``legs`` is a leg table or its collected rows."""
    rows = legs.collect() if isinstance(legs, DataFrame) else legs
    dep = min((r["departure"] for r in rows if r["departure"] is not None), default=0)
    arr = max((r["arrival"] for r in rows if r["arrival"] is not None), default=0)
    transit = arr - dep
    total = start_walk_m / speed + end_walk_m / speed + transit
    return {
        "transit_seconds": transit,
        "start_walk_seconds": start_walk_m / speed,
        "end_walk_seconds": end_walk_m / speed,
        "total_seconds": total,
    }
