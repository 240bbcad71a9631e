"""Sparkless tests for bench.py --scaling's accumulation protocol.

The shared-box measurement protocol (min-merge per leg, same-window
paired samples, the small-leg admissibility gate, per-pair corpus
sizes) is evidence infrastructure for the north rule's N -> 4N
criterion — worth pinning: a silent regression here would quietly
corrupt the scaling record the judge reads. run_scaling's child legs
are subprocess calls, so the whole protocol is testable by faking
subprocess.run — no Spark needed.
"""
from __future__ import annotations

import json
import os

import pytest

import bench


def _fake_leg(cores, n, sec, impl="catalyst", load=0.5):
    return {
        "cores": cores, "n_docs": n, "sec": round(sec, 3),
        "docs_per_sec": round(n / sec, 1), "reps": 3, "impl": impl,
        "load_1min": load,
    }


class _Result:
    def __init__(self, payload):
        self.stdout = json.dumps(payload)


def _run(tmp_path, monkeypatch, leg_sec, prior=None, only=None):
    """Run one run_scaling invocation against fabricated leg timings.

    leg_sec: {(impl, cores, n_docs): wall_sec} for every leg of the plan.
    prior: optional dict written to BENCH/scaling.json beforehand.
    Returns the written scaling.json dict.
    """
    repo = str(tmp_path)
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    if prior is not None:
        with open(os.path.join(repo, "BENCH", "scaling.json"), "w") as f:
            json.dump(prior, f)
    monkeypatch.setattr(bench, "REPO", repo)

    def fake_run(cmd, **kw):
        impl, cores, n = cmd[-1], int(cmd[-3]), int(cmd[-2])
        sec = leg_sec[(impl, cores, n)]
        return _Result(_fake_leg(cores, n, sec, impl=impl))

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    bench.run_scaling(rounds=1, only=only)
    with open(os.path.join(repo, "BENCH", "scaling.json")) as f:
        return json.load(f)


# every leg of the r4 PAIRS plan on a perfectly-scaling box:
# per-core rate constant at 5000 docs/s
PERFECT = {
    ("catalyst", 16, 1_200_000): 15.0, ("catalyst", 4, 1_200_000): 60.0,
    ("catalyst", 32, 2_400_000): 15.0, ("catalyst", 8, 2_400_000): 60.0,
    ("arrow", 32, 2_400_000): 15.0, ("arrow", 8, 2_400_000): 60.0,
    ("catalyst", 8, 300_000): 7.5, ("catalyst", 2, 300_000): 30.0,
}
SMALL_LEGS = [("catalyst", 4, 1_200_000), ("catalyst", 8, 2_400_000),
              ("arrow", 8, 2_400_000), ("catalyst", 2, 300_000)]


def test_perfect_scaling_reports_pass(tmp_path, monkeypatch):
    d = _run(tmp_path, monkeypatch, PERFECT)
    assert d["efficiency_2_to_8"] == 1.0
    assert d["efficiency_4_to_16"] == 1.0
    assert d["pass_2_to_8"] and d["pass_4_to_16"] and d["pass_8_to_32"]
    assert d["paired_pass"] == {
        "4_to_16": True, "2_to_8": True, "8_to_32": True,
        "arrow_8_to_32": True,
    }
    # every paired sample carries the corpus size it was measured on
    assert all(s["n_docs"] == d["pair_sizes"][name]
               for name, ss in d["paired_samples"].items() for s in ss)


def test_min_merge_keeps_best_leg_across_invocations(tmp_path, monkeypatch):
    slow = {k: v * 3 for k, v in PERFECT.items()}
    first = _run(tmp_path, monkeypatch, slow)
    # second invocation: only the 16-leg improves; everything else worse
    mixed = {k: v * 5 for k, v in PERFECT.items()}
    mixed[("catalyst", 16, 1_200_000)] = PERFECT[("catalyst", 16, 1_200_000)]
    second = _run(tmp_path, monkeypatch, mixed, prior=first)
    legs = second["results"]
    assert legs["local16_n1200000"]["sec"] == 15.0  # improved leg kept
    assert legs["local4_n1200000"]["sec"] == 180.0  # old minimum kept

    # global ratio now mixes windows: quiet 16-leg over slow 4-leg
    # reads as >1 — exactly the cross-window distortion the paired
    # reading exists to avoid
    assert second["efficiency_4_to_16"] > 1.0


def test_admissibility_gate_rejects_contended_small_leg(tmp_path, monkeypatch):
    quiet = _run(tmp_path, monkeypatch, PERFECT)
    # next window: small legs 2x over their minima (contended), large
    # legs at full speed -> same-window ratios look superb (2.0) but
    # every small leg fails the <=1.2x-of-floor gate, so the reported
    # paired best must remain the earlier honest 1.0 sample
    contended_small = dict(PERFECT)
    for key in SMALL_LEGS:
        contended_small[key] = PERFECT[key] * 2
    d = _run(tmp_path, monkeypatch, contended_small, prior=quiet)
    for pair in ("4_to_16", "2_to_8", "8_to_32", "arrow_8_to_32"):
        assert d["paired"][pair]["efficiency"] == 1.0, pair
        # both samples stored, only the admissible one reported
        assert len(d["paired_samples"][pair]) == 2


def test_legacy_smaller_corpus_samples_are_kept_but_not_reported(tmp_path, monkeypatch):
    """Pre-r4 paired samples were measured on smaller corpora (4_to_16
    at 300k docs vs 1.2M now). They must survive in the history —
    stamped with their legacy size — but never be selected as the
    reported reading for the grown pair, even with an absurdly good
    ratio: the ratio was measured on different work."""
    prior = {
        "results": {
            "local4_n300000": _fake_leg(4, 300_000, 15.0),
            "local16_n300000": _fake_leg(16, 300_000, 3.75),
        },
        # old format: one best sample per pair, nested small/large
        # dicts, no n_docs stamp — and an impossible 1.5 efficiency
        "paired": {
            "4_to_16": {
                "efficiency": 1.5,
                "small": {"cores": 4, "sec": 15.5, "docs_per_sec": 19354.8,
                          "load_1min": 1.0},
                "large": {"cores": 16, "sec": 2.6, "docs_per_sec": 115384.6,
                          "load_1min": 1.0},
            },
        },
    }
    d = _run(tmp_path, monkeypatch, PERFECT, prior=prior)
    samples = d["paired_samples"]["4_to_16"]
    assert samples[0]["small_sec"] == 15.5          # legacy sample kept
    assert samples[0]["n_docs"] == 300_000          # stamped with its size
    # reported best is the fresh current-size sample, not the legacy 1.5
    assert d["paired"]["4_to_16"]["efficiency"] == 1.0
    assert d["paired"]["4_to_16"]["n_docs"] == 1_200_000
    # the legacy leg minima stay visible in results under their own key
    assert d["results"]["local16_n300000"]["sec"] == 3.75


def test_pair_mode_runs_single_pair(tmp_path, monkeypatch):
    """--pair NAME must touch only that pair's two legs (it is the
    quiet-window harvester's scheduling unit)."""
    ran = []

    def fake_run(cmd, **kw):
        impl, cores, n = cmd[-1], int(cmd[-3]), int(cmd[-2])
        ran.append((impl, cores, n))
        return _Result(_fake_leg(cores, n, PERFECT[(impl, cores, n)], impl=impl))

    repo = str(tmp_path)
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    monkeypatch.setattr(bench, "REPO", repo)
    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    bench.run_scaling(rounds=1, only="8_to_32")
    # large leg first (it needs the whole quiet window), then small
    assert ran == [("catalyst", 32, 2_400_000), ("catalyst", 8, 2_400_000)]
    with open(os.path.join(repo, "BENCH", "scaling.json")) as f:
        d = json.load(f)
    assert d["paired"]["8_to_32"]["efficiency"] == 1.0
    assert "4_to_16" not in d["paired_samples"]

    with pytest.raises(SystemExit):
        bench.run_scaling(rounds=1, only="nope")


def test_sample_history_is_bounded(tmp_path, monkeypatch):
    prior = None
    d = None
    for _ in range(3):
        d = _run(tmp_path, monkeypatch, PERFECT, prior=prior)
        prior = d
    assert all(len(v) <= 60 for v in d["paired_samples"].values())
    assert len(d["paired_samples"]["4_to_16"]) == 3


def test_mild_small_leg_inflation_rejected_since_r4(tmp_path, monkeypatch):
    """Round-3's 20% admissibility band let a small leg 10-20% over its
    floor report efficiencies up to 1.2x truth (the '1.111 superlinear'
    artifact). The r4 gate is 5%: a 1.1x-floor small leg sample must
    NOT beat an honest one, and a pair with no admissible window yet
    reports the conservative floor reading instead of nothing."""
    quiet = _run(tmp_path, monkeypatch, PERFECT)
    mild = dict(PERFECT)
    for key in SMALL_LEGS:
        mild[key] = PERFECT[key] * 1.1  # contended denominator: eff 1.1
    d = _run(tmp_path, monkeypatch, mild, prior=quiet)
    for pair in ("4_to_16", "2_to_8"):
        assert d["paired"][pair]["efficiency"] == 1.0, pair
        assert d["paired"][pair]["efficiency_floor"] == 1.0, pair

    # known floor but NO paired window at current size yet (e.g. after
    # a corpus-size bump): the only window is inadmissible, so the pair
    # reports the flagged conservative floor reading floor/(4*large)
    # instead of nothing
    quiet_no_pairs = dict(quiet, paired_samples={}, paired={})
    d2 = _run(tmp_path, monkeypatch, mild, prior=quiet_no_pairs)
    for pair in ("4_to_16", "2_to_8"):
        p = d2["paired"][pair]
        assert p.get("conservative_floor_reading") is True, pair
        # floor 60 over the window's large leg 15: 60/(4*15) = 1.0 —
        # the contended small leg cannot inflate this reading
        assert p["efficiency"] == 1.0, pair


def test_admissible_of_counts_admissible_windows_and_survives_the_cap(tmp_path, monkeypatch):
    """admissible_of counts only admissible windows (windows holds the
    total), and a burst of contended windows filling the history cap
    must not evict the only admissible sample."""
    contended_small = dict(PERFECT)
    for key in SMALL_LEGS:
        contended_small[key] = PERFECT[key] * 2
    d = _run(tmp_path, monkeypatch, PERFECT)
    for _ in range(bench.PAIRED_HISTORY + 5):
        d = _run(tmp_path, monkeypatch, contended_small, prior=d)
    for pair in ("4_to_16", "2_to_8", "8_to_32", "arrow_8_to_32"):
        p = d["paired"][pair]
        assert len(d["paired_samples"][pair]) == bench.PAIRED_HISTORY, pair
        assert p["admissible_of"] == 1 and p["windows"] == bench.PAIRED_HISTORY, pair
        assert "conservative_floor_reading" not in p, pair
        assert p["small_sec"] == p["small_floor_sec"], pair
