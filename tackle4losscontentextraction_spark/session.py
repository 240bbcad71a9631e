"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for the 100 TB design point (and harmless locally):
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (vectorized pandas UDF transfer), shuffle partitions sized to
the local core count (on a real cluster this would be ~2-3x total cores).

Every session this package makes, test or job, also carries
:data:`SESSION_CONF`: the generated-code cache sized to the composed
job's working set (:data:`CODEGEN_CACHE_MAX_ENTRIES`) and the UTC
session time zone. Jobs take their session from :func:`job_session`,
which leaves master and memory to spark-submit.

:func:`concurrently` is the one place the package and the jobs start
threads: independent branches of a job run their Spark actions at the
same time, under the caller's job group.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# Spark's generated-code cache (one entry per distinct generated Java
# source) holds 100 entries by default. Measured working set of
# jobs/run_pipeline.py (Spark 4.1, local[4]): 68 distinct sources for
# the first --spans --cluster build of fresh tables, 16 more for the
# first upsert into them, and 58 for an --html build. A cache that
# cannot hold every source the driver's jobs use evicts each class
# before its next use, so a repeated job in one driver recompiles them
# with Janino and the JIT compiles them again; with room for them a
# repeated job compiles none. 1000 leaves headroom for the other jobs
# and plan variants. A static SQL conf: it takes effect when the
# SparkContext is created (on an existing session PySpark logs a
# warning and keeps the old value).
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_MAX_ENTRIES = 1000

# Zone-less timestamp strings (extraction's cleaned_date) are read in
# the session time zone, which otherwise defaults to the JVM's: the
# same input would store different instants on hosts in different
# zones. A runtime SQL conf, so it is also applied to an existing
# session.
SESSION_CONF = {CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_MAX_ENTRIES),
                "spark.sql.session.timeZone": "UTC"}


def job_session(app_name: str) -> SparkSession:
    """The session of a ``jobs/*.py`` entry point: the given app name
    and :data:`SESSION_CONF`; master, memory and everything else come
    from spark-submit (or PYSPARK_SUBMIT_ARGS). An existing session is
    returned with its static settings unchanged and its time zone set
    to UTC."""
    return SparkSession.builder.appName(app_name).config(map=SESSION_CONF).getOrCreate()


@contextlib.contextmanager
def concurrently(spark: SparkSession,
                 *fns: Callable[[], Any]) -> Iterator[Callable[[], list]]:
    """Run each of ``fns`` on a thread of its own while the ``with``
    body runs on the calling thread. The body gets ``wait``: it joins
    the threads and returns their results in the order of ``fns``, or
    raises the first exception one of them raised.

    Each thread starts through ``inheritable_thread_target(spark)``, so
    its Spark jobs carry the caller's job group and other local
    properties, as of the call. Leaving the block joins every thread,
    also when the body or a thread raised; then the first exception
    raised, by the body or by a thread, is raised again."""
    errors: list[BaseException] = []
    results: list = [None] * len(fns)

    def run(i: int, fn: Callable[[], Any]) -> None:
        try:
            results[i] = fn()
        except BaseException as e:  # raised again by wait and on exit
            errors.append(e)

    threads: list[threading.Thread] = []

    def wait() -> list:
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return list(results)

    try:
        for i, fn in enumerate(fns):
            t = threading.Thread(
                target=inheritable_thread_target(spark)(functools.partial(run, i, fn)))
            t.start()
            threads.append(t)
        yield wait
    except BaseException as e:  # raised again below, after the joins
        errors.append(e)
    finally:
        for t in threads:
            t.join()
    if errors:
        raise errors[0]


def get_spark(
    app_name: str = "t4l-extraction",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Heap must scale with executor thread count: a fixed heap shared by
    # 32 codegen threads is allocation-bound (young-gen churn from
    # UnsafeRow/UTF8String temporaries serializes on GC). ~1.5 GiB per
    # thread keeps per-thread TLAB + survivor space constant as we scale,
    # which is exactly what a real cluster gives each executor. Capped at
    # half of physical RAM so the JVM still starts on smaller hosts
    # (T4L_DRIVER_MEM overrides for deliberate large heaps).
    default_gb = max(6, int(cores * 1.5))
    try:
        with open("/proc/meminfo") as f:
            mem_total_kb = int(f.readline().split()[1])
        default_gb = max(2, min(default_gb, mem_total_kb // (2 * 1024 * 1024)))
    except (OSError, ValueError, IndexError):
        pass
    default_mem = f"{default_gb}g"
    # Measured head-to-head at local[32]/600k docs (same quiet window):
    # G1 104.9k docs/s vs ParallelGC 74.1k — G1's concurrent marking keeps
    # the 32 codegen threads running while ParallelGC's full young-gen
    # pauses stall all of them. Keep G1 (the JVM default) and spend the
    # tuning budget on heap size instead.
    gc_opts = os.environ.get("T4L_GC_OPTS", "-XX:+UseG1GC")
    builder = (
        SparkSession.builder.appName(app_name)
        # local[N, 2]: two task attempts — local mode defaults to ONE
        # (no retries), unlike a real cluster's spark.task.maxFailures=4;
        # R2 (SURVEY §2.10) reliability parity for transient failures
        .master(f"local[{cores}, 2]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("T4L_DRIVER_MEM", default_mem))
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.ui.enabled", "false")
        .config(map=SESSION_CONF)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate copies the generator's input expression
        # into a `size(e) > 0` filter, which predicate pushdown then sinks
        # below the fan-out repartition: every explode of a computed array
        # (extraction spans, minhash bands, posexplode'd vectors) pays the
        # WHOLE derivation twice — once serially in the pushed filter on
        # the unsplit scan partition, once in the projection (measured on
        # extract_spans: 1.8s -> 0.4s exec at sf0.1). The rows it would
        # skip (empty arrays) are rows the Generate skips anyway, so
        # excluding the rule changes no results at any scale.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        # AQE partition coalescing keeps its scale logic (parallelismFirst
        # targets total/parallelism) but the default 1 MiB minimum collapses
        # small COMPRESSED shuffles to a handful of tasks (the jaccard
        # posting window ran 5-wide on 32 cores: ~5 MB of lz4'd postings /
        # 1 MiB floor). 64 KiB only affects shuffles under ~cores x 1 MiB;
        # at production sizes partitions are >= 100s of MB and the floor is
        # never the binding constraint.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
