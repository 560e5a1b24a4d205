"""Ladder repeat min-merge (round-5): `bench.py --scaling-merge-rep` folds an
extra pinned --throughput-worker repeat into BENCH/scaling.json. Min-of-more-
repeats is a strictly better uncontended-throughput estimate (contention is
additive), so a faster repeat replaces the level's headline fields and a
slower one only extends the disclosed repeat series — never the headline.

Pure-Python (no Spark): exercises bench.merge_scaling_rep against a temp
BENCH/ dir via chdir."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import merge_scaling_rep


def _level(cpus, median, eps):
    return {
        "cpus": cpus,
        "edges": 1000,
        "supersteps": 9,
        "superstep_secs_all": [median] * 9,
        "median_superstep_secs": median,
        "total_superstep_secs": median * 9,
        "edges_per_sec_per_superstep": eps,
        "salted_join": False,
        "skew_ratio_dst": 1.0,
        "skew_ratio_src": 1.0,
        "n_hot_src": 0,
        "repeats": [{"median_superstep_secs": median, "ext_loadavg_before": "5.0"}],
    }


def _report():
    return {
        "low": _level(4, 40.0, 25.0),
        "high": _level(16, 12.5, 80.0),
        "speedup": 3.2,
        "scaling_efficiency": 0.8,
        "stress_ladder": {
            "low": _level(8, 20.0, 50.0),
            "high": _level(32, 10.0, 100.0),
            "speedup": 2.0,
            "scaling_efficiency": 0.5,
        },
        "machine_ceiling": {
            "probe_low": {"cpus": 8, "scan_secs": [1.0], "median_scan_secs": 1.0, "rows_per_sec": 1000.0},
            "probe_high": {"cpus": 32, "scan_secs": [1.0], "median_scan_secs": 1.0, "rows_per_sec": 1000.0},
            "scan_scaling_efficiency": 0.25,
            "engine_relative_efficiency": 2.0,
        },
        "skew_split": {
            "graph": {"skew_side": "src", "vertices": 100, "edges": 1000},
            "salted": _level(32, 1.0, 1000.0),
            "plain": _level(32, 2.0, 500.0),
            "salted_vs_plain": 2.0,
        },
        "input": {
            "n_vertices": 100,
            "path": "/tmp/fake_edges",
            "supersteps": 9,
            "partitions": 128,
            "h_parts": 64,
        },
    }


def _setup(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    os.makedirs("BENCH")
    with open("BENCH/scaling.json", "w") as f:
        json.dump(_report(), f)


def _write_rep(tmp_path, cpus, median, eps):
    rep = _level(cpus, median, eps)
    del rep["repeats"]  # worker output carries no repeats key
    p = str(tmp_path / f"rep_{cpus}_{median}.json")
    with open(p, "w") as f:
        f.write("loadavg_before=0.1\n")  # non-JSON prefix lines are skipped
        f.write(json.dumps(rep) + "\n")
    return p


def test_faster_rep_replaces_level_and_recomputes_efficiency(tmp_path, monkeypatch):
    _setup(tmp_path, monkeypatch)
    merge_scaling_rep(_write_rep(tmp_path, 16, 10.0, 100.0), "0.1")
    got = json.load(open("BENCH/scaling.json"))
    assert got["high"]["median_superstep_secs"] == 10.0
    assert got["high"]["edges_per_sec_per_superstep"] == 100.0
    # repeat series extended with provenance, prior repeats preserved
    assert [r["median_superstep_secs"] for r in got["high"]["repeats"]] == [12.5, 10.0]
    assert got["high"]["repeats"][-1]["ext_loadavg_before"] == "0.1"
    # efficiency recomputed from the merged mins: (100/25)/(16/4) = 1.0
    assert got["speedup"] == 4.0
    assert got["scaling_efficiency"] == 1.0
    # BASELINE.md regenerated from the merged report
    md = open("BENCH/BASELINE.md").read()
    assert "'median_superstep_secs': 10.0" in md  # merged repeat disclosed
    assert "**1.0** (target >= 0.8)" in md


def test_slower_rep_only_extends_disclosed_series(tmp_path, monkeypatch):
    _setup(tmp_path, monkeypatch)
    merge_scaling_rep(_write_rep(tmp_path, 16, 30.0, 30.0), "9.9")
    got = json.load(open("BENCH/scaling.json"))
    # headline fields untouched — a contended repeat can never shadow the best
    assert got["high"]["median_superstep_secs"] == 12.5
    assert got["high"]["edges_per_sec_per_superstep"] == 80.0
    assert got["scaling_efficiency"] == 0.8
    # but the slow repeat IS disclosed
    assert [r["median_superstep_secs"] for r in got["high"]["repeats"]] == [12.5, 30.0]


def test_rep_cpus_must_match_a_headline_level(tmp_path, monkeypatch):
    _setup(tmp_path, monkeypatch)
    import pytest

    with pytest.raises(SystemExit):
        merge_scaling_rep(_write_rep(tmp_path, 8, 15.0, 60.0), "0.1")


def test_custom_sections_survive_merge(tmp_path, monkeypatch):
    _setup(tmp_path, monkeypatch)
    marker = "<!-- CUSTOM SECTIONS BELOW — preserved across --scaling regeneration -->"
    with open("BENCH/BASELINE.md", "w") as f:
        f.write("old generated text\n" + marker + "\n## Hand-written evidence\nkeep me\n")
    merge_scaling_rep(_write_rep(tmp_path, 4, 35.0, 28.0), "0.2")
    md = open("BENCH/BASELINE.md").read()
    assert "keep me" in md
    assert "old generated text" not in md
