"""The bench harness's regression-floor bookkeeping (bench.py).

Round 10 adds CONFIG EPOCHS (VERDICT r9 #1): a deliberate algorithm or
sizing change to a registered query bumps its epoch, and floors only
compare artifacts measured under the SAME epoch — otherwise a floor
banked under a configuration later proven scale-unsafe (sem_dedup's
pinned 8 centroids) re-flags the fixed implementation as a regression
every round forever.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def _write(tmp_path, name, queries, epochs=None, sf=0.1):
    rec = {"sf": sf, "queries": queries}
    if epochs is not None:
        rec["config_epochs"] = epochs
    (tmp_path / name).write_text(json.dumps(rec))


def test_floor_is_min_over_recent_rounds(tmp_path):
    _write(tmp_path, "BENCH_r01.json", {"q": 1.0})
    _write(tmp_path, "BENCH_r02.json", {"q": 3.0})
    _write(tmp_path, "BENCH_r03.json", {"q": 2.0})
    floor, src = bench._load_floor(0.1, here=str(tmp_path))
    assert floor["q"] == 1.0 and src["q"] == "BENCH_r01.json"
    # window of 3 distinct rounds: r1 ages out once r4 lands
    _write(tmp_path, "BENCH_r04.json", {"q": 2.5})
    floor, src = bench._load_floor(0.1, here=str(tmp_path))
    assert floor["q"] == 2.0 and src["q"] == "BENCH_r03.json"


def test_floor_ignores_other_sf(tmp_path):
    _write(tmp_path, "BENCH_r01.json", {"q": 0.1}, sf=1.0)
    _write(tmp_path, "BENCH_r02.json", {"q": 2.0}, sf=0.1)
    floor, _ = bench._load_floor(0.1, here=str(tmp_path))
    assert floor["q"] == 2.0


def test_floor_respects_config_epochs(tmp_path, monkeypatch):
    """An artifact measured under an older epoch of a query cannot floor
    the current epoch; artifacts without the field count as epoch 1."""
    monkeypatch.setattr(bench, "CONFIG_EPOCHS", {"changed": 2})
    _write(tmp_path, "BENCH_r01.json", {"changed": 1.0, "stable": 1.5})
    _write(
        tmp_path,
        "BENCH_r02.json",
        {"changed": 3.0, "stable": 2.0},
        epochs={"changed": 2},
    )
    floor, src = bench._load_floor(0.1, here=str(tmp_path))
    # the 1.0s epoch-1 measurement is NOT a floor for epoch 2
    assert floor["changed"] == 3.0 and src["changed"] == "BENCH_r02.json"
    # unchanged queries keep the cross-round min
    assert floor["stable"] == 1.5


def test_floor_reads_local_list_records(tmp_path):
    """VERDICT r10 #1: the harness's own BENCH_local_r{N}.json (a LIST,
    one entry per run) must feed the floor alongside driver artifacts —
    and a driver artifact whose stdout capture was truncated
    (parsed=null, no queries) must be skipped without losing the round's
    local record."""
    # truncated driver artifact for r9 (the real r9/r10 shape)
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"n": 9, "sf": 0.1, "tail": "cut mid-line", "parsed": None})
    )
    # the harness's own durable record for the same round: two runs
    (tmp_path / "BENCH_local_r09.json").write_text(
        json.dumps(
            [
                {"sf": 0.1, "queries": {"q": 9.9}},
                {"sf": 0.1, "queries": {"q": 10.4}},
            ]
        )
    )
    (tmp_path / "BENCH_r10.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 13.0}})
    )
    floor, src = bench._load_floor(0.1, here=str(tmp_path))
    assert floor["q"] == 9.9 and src["q"] == "BENCH_local_r09.json"
    # local-only rounds still spend exactly one window slot: three newer
    # rounds age r9 (and its local record) out
    for n in (11, 12, 13):
        (tmp_path / f"BENCH_r{n}.json").write_text(
            json.dumps({"sf": 0.1, "queries": {"q": 11.0 + n / 10}})
        )
    floor, src = bench._load_floor(0.1, here=str(tmp_path))
    assert floor["q"] == 12.1 and src["q"] == "BENCH_r11.json"


def test_persist_local_appends(tmp_path, monkeypatch):
    """_persist_local appends one entry per invocation to the CURRENT
    round's file (round inferred as max driver round + 1)."""
    (tmp_path / "BENCH_r10.json").write_text(json.dumps({"sf": 0.1}))
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert bench._infer_round(str(tmp_path)) == 11
    p1 = bench._persist_local({"sf": 0.1, "queries": {"q": 1.0}}, str(tmp_path))
    p2 = bench._persist_local({"sf": 0.1, "queries": {"q": 2.0}}, str(tmp_path))
    assert p1 == p2 and p1.endswith("BENCH_local_r11.json")
    recs = json.loads((tmp_path / "BENCH_local_r11.json").read_text())
    assert [r["queries"]["q"] for r in recs] == [1.0, 2.0]
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert bench._infer_round(str(tmp_path)) == 7


def test_floor_sees_r9_best_numbers_in_repo():
    """The repo's committed artifacts must give the floor a view of r9's
    best-ever routing numbers (the r10 blind spot): the reconstructed
    BENCH_local_r09 record must be readable by the floor machinery (an
    all-rounds window, so this holds even after r9 ages out of the
    default 3-round window)."""
    floor, src = bench._load_floor(0.1, last_n=1000, here=ROOT)
    assert floor.get("routing_9od", 99.0) <= 9.961
    assert floor.get("find_near_stops_9", 99.0) <= 1.212


def test_current_epochs_cover_only_known_queries():
    """Epoch keys must name real headline queries — a typo would
    silently disable the floor for the intended query."""
    known = set(bench.HEADLINE) | {
        "routing_9od",
        "routing_9od_batch",
        "find_near_stops_9",
        "find_near_stops_batch_9",
    }
    assert set(bench.CONFIG_EPOCHS) <= known
