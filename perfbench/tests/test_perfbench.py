"""Tests of the benchmark's own code. They need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import re
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.core import (
    TAIL_MIN_SAMPLES, Op, Run, Span, driver_seconds, median, p90, self_seconds, union_length,
)
from perfbench.run import end_to_end, per_layer

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


# ------------------------------------------------------ seed determinism


def _tree_bytes(root: Path) -> dict:
    return {p.name: p.read_bytes() for p in sorted(root.iterdir())}


def test_olap_tables_are_byte_identical_per_seed(tmp_path):
    gen.write_olap_tables(tmp_path / "a", seed=5)
    gen.write_olap_tables(tmp_path / "b", seed=5)
    gen.write_olap_tables(tmp_path / "c", seed=6)
    a, b, c = (_tree_bytes(tmp_path / x) for x in "abc")
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_epg_feed_is_identical_per_seed():
    today = dt.date(2026, 8, 14)

    def feed(seed):
        f = gen.EpgFeed(seed)
        day = f.day(today - dt.timedelta(days=1))
        cyc = f.cycle(today, today - dt.timedelta(days=8))
        return day.csv, day.german, cyc

    assert feed(3) == feed(3)
    assert feed(3)[0] != feed(4)[0]


def test_epg_cycle_counts_follow_the_model():
    f = gen.EpgFeed(1)
    first = f.cycle(dt.date(2026, 8, 14), dt.date(2026, 8, 6))
    assert first.promoted == gen.PROMOTE
    assert first.deleted == gen.PROMOTE - gen.MATCHED
    # torrents of the recordings kept from the first cycle are re-listed
    second = f.cycle(dt.date(2026, 8, 15), dt.date(2026, 8, 7))
    assert second.saved > first.saved


def test_keyed_vectors_rounds_are_identical_per_seed():
    def rounds(seed):
        g = gen.KeyedVectors(seed)
        table = g.table()
        r1, r2 = g.next_round(), g.next_round()
        return table, r1["upsert"], r2["upsert"], sorted(r2["deleted"]), r2["bulk"]

    a, b, c = rounds(2), rounds(2), rounds(3)
    assert all(x.equals(y) if hasattr(x, "equals") else x == y for x, y in zip(a, b))
    assert not a[0].equals(c[0])


def test_keyed_vectors_upsert_is_half_updates_half_new():
    g = gen.KeyedVectors(1)
    before = set(g.model)
    ids = g.next_round()["upsert"].column("id").to_pylist()
    updated = [i for i in ids if i in before]
    assert len(updated) == len(ids) // 2
    # the updates cover a contiguous key range within each partition
    for p in {f"p{i % gen.PARTITIONS:02d}" for i in updated}:
        keys = sorted(i for i in before if g.model.get(i, ("",))[0] == p)
        mine = sorted(i for i in updated if g.model[i][0] == p)
        lo = keys.index(mine[0])
        assert keys[lo: lo + len(mine)] == mine


# ---------------------------------------------------------- percentiles


def test_median_reports_its_sample_count():
    s = median([3.0, 1.0, 2.0, 10.0])
    assert (s.value, s.n) == (2.5, 4)


def test_p90_refuses_below_its_sample_floor():
    with pytest.raises(ValueError):
        p90(range(TAIL_MIN_SAMPLES - 1))
    s = p90(range(1, 101))
    assert (s.value, s.n) == (90, 100)  # ten samples lie above it


# ------------------------------------------------------ interval arithmetic


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([(4, 4), (3, 2)], 0, 10) == 0
    assert union_length([], 0, 1) == 0


def test_driver_seconds_is_wall_minus_job_union():
    # 10 s span, jobs cover [1,4] ∪ [3,5] ∪ [8,12] → 4 + 2 s inside the span
    assert driver_seconds(0, 10, [(1, 4), (3, 5), (8, 12)]) == pytest.approx(4.0)


def test_self_time_subtracts_children_once():
    assert self_seconds(0, 10, [(0, 4), (2, 6)]) == pytest.approx(4.0)


def _span(name, t0, t1, intervals=(), children=(), **counts):
    sp = Span(name, t0=t0, t1=t1, jobs=list(range(len(intervals))),
              intervals=list(intervals), counts=counts)
    sp.children = list(children)
    return sp


def test_span_counters_fold_children():
    child = _span("spark.collect", 2, 6, [(2.5, 5.5)], tasks=4, executor_run_s=1.5)
    root = _span("olap.query", 0, 8, [(6.5, 7.0)], tasks=1, executor_run_s=0.25,
                 children=[_span("plans.build", 0, 2), child])
    c = root.counters()
    assert c["jobs"] == 2
    assert c["tasks"] == 5
    assert c["executor_run_s"] == pytest.approx(1.75)
    assert c["driver_s"] == pytest.approx(8 - 3.0 - 0.5)
    assert c["wall_s"] == 8
    assert c["self_s"] == pytest.approx(8 - 6)


# ------------------------------------------------------- emitted names


def _run():
    run = Run()
    for r in range(2):
        for k in range(3):
            t0 = 10.0 * r + 3 * k
            sp = _span("merge.upsert", t0, t0 + 2, [(t0 + 0.5, t0 + 1.5)], tasks=3)
            run.ops.append(Op("upsert", 2.0 + 0.1 * k, True, sp))
        run.rounds.append(6.3)
    return run


def test_emitted_names_are_declared_and_well_formed():
    run = _run()
    e2e = end_to_end([1.0, 2.0, 3.0], run)
    layer = per_layer(run)
    for emitted, declared in ((e2e, SPEC["end_to_end"]), (layer, SPEC["per_layer"])):
        names = [m["name"] for m in declared]
        assert sorted(emitted) == sorted(names)
        for name in names:
            assert NAME.fullmatch(name) and len(name) <= 64
    for m in SPEC["end_to_end"]:
        assert m["bound"] <= 0.25
        assert e2e[m["name"]][0].value > 0


def test_workload_names_match_the_spec():
    from perfbench.workloads import WORKLOADS

    assert sorted(WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])
