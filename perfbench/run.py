"""Benchmark of the composed extraction job (jobs/run_pipeline.py).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Closed loop, driven by this one process:
a run makes the workload's inputs from ``--seed`` (corpus.py), starts
one driver process at ``local[<cores>]`` (launch.py) and has it run the
job, with the job's own argv and defaults, one job at a time:

1. a warm-up job, untimed: on ``cold_html`` the timed job itself, on
   ``upsert_cluster`` the build of the prior tables the timed jobs
   upsert into;
2. timed jobs, each on a fresh workdir, until ``--seconds`` have
   passed and the workload's ``min_timed`` have run. Every timed job's
   outputs are checked
   (check.py); a job error, a timeout or a failed check counts as a
   failed attempt.

- ``--trace 0`` prints the end-to-end metrics: medians over the timed
  jobs, and the session start-up of the run's driver process.
- ``--trace 1`` runs the same jobs traced: the library calls the job
  makes are wrapped (see launch.py) and Spark's event log goes into the
  run's work directory; the per-layer metrics come from it (see
  eventlog.py). ``trace.job_s`` against ``docs / docs_per_s`` of the
  untraced runs is the tracing overhead.

The last stdout line is the JSON result; the line before it records
the code key, the 1-min load before and after, the core count and every
sample.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import hashlib
import json
import os
import select
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import corpus  # noqa: E402
import eventlog  # noqa: E402
import proctree  # noqa: E402

JOB = "jobs/run_pipeline.py"
PKG = "tackle4losscontentextraction_spark"
WORK = ".perfbench_work"
RUN_LIMIT_S = 165  # launch to the last job's end; a run must end within 180 s
DIM = 64  # the job's default --dim
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h

# min_timed: timed jobs a run makes at least, whatever --seconds; a
# cold_html job takes 7-8 s, an upsert_cluster job 21-24 s (see README)
WORKLOADS = {
    # raw HTML into an empty workdir: tokenizer inside mapInPandas,
    # extraction, insert-only MERGE, no clustering
    "cold_html": {"docs": 600, "html": True, "cluster": False, "min_timed": 2},
    # span input upserted into prior tables (half re-crawls, half new
    # docs), then clustering of the tables' vectors
    "upsert_cluster": {"docs": 40, "updates": 20, "prior": 40, "html": False, "cluster": True,
                       "min_timed": 1},
}
END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "cpu_s_per_kdoc": "s"}
LAZY_CALLS = [
    "extraction.extract", "html_tokenize.tokenize_html", "pipeline.metrics",
    "embeddings.embed_select_arrow", "cluster_pipeline.reconcile_memberships",
    "cluster_pipeline.run_maintenance",
]


def code_key(root: str) -> str:
    """Hash of every source file the job and this benchmark run."""
    h = hashlib.sha256()
    paths = [JOB, "tests/pyoracle.py"] + sorted(
        os.path.relpath(p, root) for p in glob.glob(f"{HERE}/*.py"))
    for d, _, files in sorted(os.walk(os.path.join(root, PKG))):
        paths += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files) if f.endswith(".py")]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class JobError(Exception):
    pass


class Server:
    """The run's driver process (launch.py) and the pipes to it."""

    def __init__(self, work: str, cores: int, trace: bool, deadline: float):
        self.work, self.deadline = work, deadline
        self.events = f"{work}/events" if trace else None
        conf = ["--master", f"local[{cores}]",
                "--driver-java-options", f"-Djava.io.tmpdir={work}/tmp"]
        if trace:
            os.makedirs(self.events)
            conf += ["--conf", "spark.eventLog.enabled=true",
                     "--conf", f"spark.eventLog.dir=file://{self.events}",
                     "--conf", "spark.eventLog.compress=false",
                     "--conf", "spark.eventLog.rolling.enabled=false"]
        env = dict(os.environ, TMPDIR=f"{work}/tmp", SPARK_LOCAL_DIRS=f"{work}/tmp",
                   PYSPARK_SUBMIT_ARGS=shlex.join(conf + ["pyspark-shell"]))
        os.makedirs(f"{work}/tmp")
        cmd_r, cmd_w = os.pipe()
        reply_r, reply_w = os.pipe()
        self.t0 = time.time()
        with open(f"{work}/server.out", "w") as out, open(f"{work}/server.err", "w") as err:
            self.proc = subprocess.Popen(
                [sys.executable, f"{HERE}/launch.py", "--cmd-fd", str(cmd_r),
                 "--reply-fd", str(reply_w)] + (["--trace"] if trace else []),
                stdout=out, stderr=err, env=env, pass_fds=(cmd_r, reply_w),
                start_new_session=True)
        os.close(cmd_r)
        os.close(reply_w)
        self.cmds = os.fdopen(cmd_w, "w")
        self.replies = os.fdopen(reply_r)
        self.rss = proctree.PeakRss(self.proc.pid, interval_s=0.25).__enter__()

    def request(self, req: dict) -> dict:
        """Send one request; its reply, or JobError when the server dies
        or the run's deadline passes first."""
        try:
            self.cmds.write(json.dumps(req) + "\n")
            self.cmds.flush()
        except BrokenPipeError:
            raise JobError("the driver process has exited; see stderr tail:\n"
                           + tail(f"{self.work}/server.err")) from None
        ready, _, _ = select.select([self.replies], [], [], max(0.0, self.deadline - time.time()))
        if not ready:
            raise JobError(f"timeout: no reply within the run's {RUN_LIMIT_S} s")
        line = self.replies.readline()
        if not line:
            raise JobError("the driver process has exited; see stderr tail:\n"
                           + tail(f"{self.work}/server.err"))
        return json.loads(line)

    def job(self, args: list[str]) -> dict:
        """Run the job once; its timings and stdout result."""
        rep = self.request({"argv": [JOB] + args})
        if rep.get("error"):
            raise JobError(rep["error"])
        if "result" not in rep or not rep["out"]:
            raise JobError("the job printed no result")
        rep.update(out=json.loads(rep["out"]), job_s=rep["result"] - rep["start"],
                   cpu_s=rep["cpu_result"] - rep["cpu_start"],
                   steal_s=rep["host_result"]["steal"] - rep["host_start"]["steal"],
                   host_idle_s=rep["host_result"]["idle"] - rep["host_start"]["idle"])
        return rep

    def close(self) -> None:
        """Stop the server (traced: after Spark has stopped, which
        completes the event log), kill what is left of it (the JVM, and
        PySpark's Python worker daemon, which moves to a process group
        of its own) and wait until every process of it is gone."""
        if self.proc.poll() is None:
            self.deadline = max(self.deadline, time.time() + 10)
            try:
                self.request({"exit": True})
            except JobError:
                pass
        self.rss.__exit__(None, None, None)
        pids = proctree.group_tree(self.proc.pid) | {self.proc.pid}
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        self.cmds.close()
        self.replies.close()
        # the killed processes were orphaned to this one (see main): reap them
        deadline = time.time() + 10
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    time.sleep(0.05)
            except ChildProcessError:
                time.sleep(0.05)

    def event_log(self) -> list[eventlog.Job]:
        (log,) = os.listdir(self.events)
        return eventlog.read_event_log(f"{self.events}/{log}")


def tail(path: str, n: int = 15) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def job_args(input_path: str, wd: str, html: bool, cluster: bool) -> list[str]:
    return ["--input", input_path, "--workdir", wd,
            "--html" if html else "--spans"] + (["--cluster"] if cluster else [])


class Workload:
    """Inputs of one workload and seed, plus the expected outputs."""

    def __init__(self, name: str, seed: int, work: str):
        spec = WORKLOADS[name]
        self.seed, self.work = seed, work
        self.html, self.cluster = spec["html"], spec["cluster"]
        self.prior_ok: set[str] = set()
        self.prior_input = self.prior_dir = None
        if "prior" in spec:
            prior, rows = corpus.incremental(seed, spec["prior"], spec["docs"], spec["updates"])
            prior = corpus.span_docs(prior)
            self.prior_ok = {d["doc_id"] for d in prior if not check.is_error_doc(d)}
            self.prior_input, self.prior_dir = f"{work}/prior_input", f"{work}/prior"
            corpus.write_input(prior, self.prior_input, False)
        else:
            rows = corpus.cold_batch(seed, spec["docs"])
        self.batch = corpus.span_docs(rows)
        self.n_ok = sum(not check.is_error_doc(d) for d in self.batch)
        self.input = f"{work}/input"
        corpus.write_input(self.batch, self.input, self.html)

    def warm_up(self, server: Server) -> dict:
        """The untimed first job of the run, which pays the JVM's and
        the Python workers' start-up costs; returns its timings.

        With prior tables, it builds them: the job runs over the prior
        docs (with clustering, so the warm-up reaches every stage),
        then the cluster state, lineage/ and extracted/ are removed, so
        the timed job upserts into the tables and clusters every vector
        of them (see README, Findings 2, for lineage/). Otherwise it is
        the timed job itself, on a workdir of its own."""
        if self.prior_dir:
            res = server.job(job_args(self.prior_input, self.prior_dir, False, True))
            for d in ("cluster_state", "lineage", "extracted"):
                shutil.rmtree(f"{self.prior_dir}/{d}")
        else:
            wd = tempfile.mkdtemp(dir=self.work)
            res = server.job(job_args(self.input, f"{wd}/wd", self.html, self.cluster))
            shutil.rmtree(wd)
        return res

    def run(self, server: Server) -> tuple[dict, list[str]]:
        """One timed job on a fresh workdir, then its output check."""
        wd = tempfile.mkdtemp(dir=self.work) + "/wd"
        if self.prior_dir:
            shutil.copytree(self.prior_dir, wd)
        res: dict = {}
        try:
            res = server.job(job_args(self.input, wd, self.html, self.cluster))
            problems = check.check(wd, self.batch, self.prior_ok, self.seed, DIM, self.cluster)
        except JobError as e:
            problems = [str(e)]
        except (OSError, ValueError, KeyError) as e:  # a table missing or unreadable
            problems = [f"output check could not read the workdir: {e!r}"]
        if not problems and self.cluster:
            _, members = check.cluster_state(wd)
            vec_rows = check.read_table(f"{wd}/vec_table", ["doc_id"]).num_rows
            res["assigned_frac"] = members.num_rows / vec_rows
        shutil.rmtree(os.path.dirname(wd))
        return res, problems


def end_to_end(samples: list[dict], n_docs: int, setup_s: float) -> dict[str, float]:
    return {
        "docs_per_s": statistics.median(n_docs / s["job_s"] for s in samples),
        "setup_s": setup_s,
        "cpu_s_per_kdoc": statistics.median(s["cpu_s"] * 1000 / n_docs for s in samples),
    }


def per_layer(res: dict, jobs: list[eventlog.Job], wl: Workload, setup_s: float,
              cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced job; ``jobs`` are the Spark jobs
    of the whole run."""
    jobs = [j for j in jobs if res["start"] <= j.submit < res["result"]]
    stages = eventlog.stage_spans(res)
    calls = eventlog.call_spans(res)
    spans = stages + calls
    m = {"session.start_s": setup_s}
    for st in stages:
        mine = [j for j in jobs if st.contains(j.submit)]
        for k, v in eventlog.span_metrics(st, spans, mine, jobs, cores).items():
            m[f"{st.name}.{k}"] = v
    for name in LAZY_CALLS:
        m[f"{name}.construct_s"] = sum(s.end - s.start for s in calls if s.name == name)
    rc = "cluster_pipeline.run_clustering"
    m[f"{rc}.wall_s"] = sum(s.end - s.start for s in calls if s.name == rc)
    m[f"{rc}.jobs"] = len(eventlog.attribute(spans, jobs).get(rc, []))
    merges = [s for s in res["spans"] if s["name"] == "merge.merge_write"]
    m["doc_merge.rewrite_ratio"] = merges[0]["rows_written"] / wl.n_ok if merges else 0.0
    m["cluster.assigned_frac"] = res.get("assigned_frac", 0.0)
    m["trace.job_s"] = res["job_s"]
    m["trace.unattributed_s"] = res["job_s"] - sum(s.end - s.start for s in stages)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_launch = time.time()
    # a kill from outside still runs the teardown below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    # orphans of the job (the JVM once the driver process has exited)
    # become children of this process, which reaps them
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    root = os.getcwd()
    if not (os.path.isfile(JOB) and os.path.isdir(PKG) and os.path.isfile("tests/pyoracle.py")):
        print(f"perfbench: run from the repository root ({JOB} and {PKG}/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))
    key = code_key(root)
    load_before = os.getloadavg()[0]
    os.makedirs(WORK, exist_ok=True)
    work = os.path.abspath(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK))
    samples: list[dict] = []
    attempted = failed = 0
    warmup_s = setup_s = peak_rss_mb = None
    jobs: list[eventlog.Job] = []
    try:
        wl = Workload(args.workload, args.seed, work)
        server = Server(work, cores, bool(args.trace), t_launch + RUN_LIMIT_S)
        try:
            try:
                warm = wl.warm_up(server)
                warmup_s, setup_s = warm["job_s"], warm["ready"] - server.t0
            except JobError as e:
                attempted, failed = 1, 1
                print(f"perfbench: warm-up job failed: {e}", file=sys.stderr)
            start = time.time()
            longest = 0.0
            min_timed = WORKLOADS[args.workload]["min_timed"]
            while not failed and (attempted < min_timed or time.time() - start < args.seconds):
                if time.time() + 1.5 * longest > server.deadline:
                    break  # another job would not end within the run's limit
                res, problems = wl.run(server)
                attempted += 1
                if problems:
                    failed += 1
                    print(f"perfbench: failed attempt: {problems[:5]}", file=sys.stderr)
                    break
                longest = max(longest, res["job_s"])
                samples.append(res)
        finally:
            server.close()
        peak_rss_mb = server.rss.peak_mb
        if args.trace and samples:
            jobs = server.event_log()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    n_docs = len(wl.batch)
    metrics: dict[str, float] = {}
    if args.trace:
        layers = [per_layer(r, jobs, wl, setup_s, cores) for r in samples]
        if layers:
            metrics = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        units = {k: unit_of(k) for k in metrics}
    else:
        if samples:
            metrics = end_to_end(samples, n_docs, setup_s)
        units = END_TO_END
    print("# perfbench run: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "code_key": key, "cores": cores,
        "load1_before": load_before, "load1_after": os.getloadavg()[0],
        "docs": n_docs, "failed_frac": failed / max(1, attempted), "setup_s": setup_s,
        "warmup_s": warmup_s, "peak_rss_mb": peak_rss_mb, "run_s": time.time() - t_launch,
        "jobs": [{k: s[k] for k in ("job_s", "cpu_s", "steal_s", "host_idle_s")} for s in samples],
    }))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0, "attempted": max(1, attempted), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def unit_of(metric: str) -> str:
    suffix = metric.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix.endswith(("_frac", "_ratio")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
