"""Shared helpers for the physical-plan pin test modules
(test_plans.py / test_plans_round5.py / test_plans_round6.py) so the
AQE plan-string handling lives in exactly one place (ADVICE r5)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def final_plan(df) -> str:
    """The AQE-finalized executed plan, '== Initial Plan ==' tail
    stripped — pin assertions must see only the plan that actually ran."""
    df.collect()  # let AQE finalize the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def spark_jobs(spark, fn):
    """Run ``fn()`` under a job group of its own; return (its result,
    the ids of the Spark jobs it submitted, ascending). The listener
    bus is drained first, so a job whose start event is still queued
    is counted too."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def stage_tasks(spark, job_id: int) -> list[int]:
    """Task count of every stage of a job, in stage-id order (the last
    is the job's result stage)."""
    st = spark.sparkContext.statusTracker()
    return [st.getStageInfo(s).numTasks for s in sorted(st.getJobInfo(job_id).stageIds)]
