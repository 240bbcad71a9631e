"""Job server: runs ``jobs/run_pipeline.py`` unchanged, several times,
in one driver process (one JVM), on request.

    python3 perfbench/launch.py --cmd-fd R --reply-fd W [--trace]

The benchmark sends one JSON line per request on fd R and reads one
JSON reply line per request on fd W:

- ``{"argv": [JOB, ARGS...]}`` runs the job as ``__main__`` via
  ``runpy``, with that argv, and replies with its timing marks, its
  last stdout line and, traced, its call spans;
- ``{"exit": true}`` ends the server (traced, after stopping Spark,
  which completes the event log).

Two hooks are always on and cost two clock reads a job: the first
``SparkSession.Builder.getOrCreate`` return (session ready: the first
job creates the session, later jobs get it back) and each
``SparkSession.stop`` call (the job has printed its result). At the
start and the result of a job the process-tree CPU is read from
/proc. ``stop`` does not stop Spark, so the next job finds it warm.

``--trace`` also replaces, before any job runs, the library functions
the job calls with wrappers that record a span (name, start, end,
depth) around each call. The job looks them up as module attributes
at call time, so it sees the wrappers without any change.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import importlib
import io
import json
import os
import runpy
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import proctree  # noqa: E402

PKG = "tackle4losscontentextraction_spark"
# (module, attribute) of every library call the traced run wraps
TRACED = [
    ("sources.lineage", "run_with_resume"),
    ("operators.extraction", "extract"),
    ("operators.html_tokenize", "tokenize_html"),
    ("plans.pipeline", "metrics"),
    ("operators.merge", "merge_write"),
    ("functions.embeddings", "embed_select_arrow"),
    ("plans.cluster_pipeline", "run_clustering"),
    ("plans.cluster_pipeline", "reconcile_memberships"),
    ("plans.cluster_pipeline", "run_maintenance"),
]


class Recorder:
    """Timing marks and call spans of the job being run."""

    def __init__(self):
        self.ready: float | None = None
        self.session = None
        self.job: dict = {}
        self.depth = 0

    def mark(self, key: str) -> None:
        if key not in self.job:
            self.job[key] = time.time()
            self.job[f"cpu_{key}"] = proctree.cpu_seconds(os.getpid())
            self.job[f"host_{key}"] = proctree.host_cpu()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = {"name": name, "depth": self.depth, "start": time.time()}
            self.depth += 1
            try:
                out = fn(*args, **kwargs)
            finally:
                self.depth -= 1
                span["end"] = time.time()
                self.job.setdefault("spans", []).append(span)
            if name == "merge.merge_write":
                span["rows_written"] = out["rows_written"]
            return out
        return traced


def run_job(rec: Recorder, argv: list[str]) -> dict:
    rec.job = {"spans": []}
    rec.depth = 0
    sys.argv = list(argv)
    out = io.StringIO()
    rec.mark("start")
    try:
        with contextlib.redirect_stdout(out):
            runpy.run_path(argv[0], run_name="__main__")
    except SystemExit as e:
        if e.code not in (0, None):
            rec.job["error"] = f"exit code {e.code}"
    except Exception:  # the job failed: report it, keep serving
        rec.job["error"] = traceback.format_exc(limit=-8)
    lines = out.getvalue().strip().splitlines()
    rec.job["out"] = lines[-1] if lines else None
    rec.job["ready"] = rec.ready
    return rec.job


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cmd-fd", type=int, required=True)
    ap.add_argument("--reply-fd", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    from pyspark.sql import SparkSession

    rec = Recorder()
    get_or_create = SparkSession.Builder.getOrCreate
    stop = SparkSession.stop

    def ready_hook(self):
        s = get_or_create(self)
        if rec.ready is None:
            rec.ready, rec.session = time.time(), s
        return s

    def stop_hook(self):
        rec.mark("result")

    SparkSession.Builder.getOrCreate = ready_hook
    SparkSession.stop = stop_hook
    if args.trace:
        for mod, attr in TRACED:
            m = importlib.import_module(f"{PKG}.{mod}")
            setattr(m, attr, rec.wrap(f"{mod.split('.')[-1]}.{attr}", getattr(m, attr)))

    with open(args.cmd_fd) as cmds, open(args.reply_fd, "w") as replies:
        for line in cmds:
            req = json.loads(line)
            if req.get("exit"):
                if args.trace and rec.session is not None:
                    stop(rec.session)
                replies.write(json.dumps({"exit": True}) + "\n")
                replies.flush()
                break
            reply = run_job(rec, req["argv"])
            replies.write(json.dumps(reply) + "\n")
            replies.flush()
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
