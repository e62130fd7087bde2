"""The benchmark's own test: a timed query_suite pass re-runs every stage.

Run from the repository root, in a process of its own (the JVM settings
must be in place before the session starts):

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The check has two sources. ``statusTracker`` lists, for every job of a
query's job group, the stages the job depends on and how many of their
tasks completed. A stage that did not complete its tasks in that rep must
be one that AQE re-lists: each query stage runs as a job of its own and
is listed again, under a new id, as a parent of the next job. The event
log tells the two apart by the RDDs each stage carries.

A control fetches one memoized DataFrame twice: its second rep reuses
the first rep's shuffle files, and the check must flag it.
"""

from __future__ import annotations

import os

import pytest
from pyspark import SparkContext

from perfbench import run, tracing, workloads


def _incomplete(sc, group: str) -> set[int]:
    """Stages listed by the group's jobs that did not complete their tasks."""
    st = sc.statusTracker()
    out = set()
    for jid in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(jid).stageIds:
            info = st.getStageInfo(sid)
            if info is None or info.numCompletedTasks < info.numTasks:
                out.add(sid)
    return out


@pytest.mark.skipif(SparkContext._active_spark_context is not None, reason="needs a fresh JVM")
def test_timed_suite_pass_runs_every_stage(tmp_path):
    import __spark_entry__ as entry

    from bigdata_cookbook_spark.session import get_spark
    from perfbench.tracing import Tracer

    work = str(tmp_path)
    run.configure_env(work, trace=True)
    spark = get_spark("perfbench-test")
    try:
        data = workloads.suite_setup(work, seed=0)
        tracer = Tracer(spark, True)
        workloads.suite_pass(spark, tracer, data, 0)
        workloads.suite_pass(spark, tracer, data, 1)
        memo = entry.queries()["topk_parts_per_brand"](spark, data)
        for rep in range(2):
            with tracer.span("toPandas", group=f"memo{rep}/run"):
                memo.toPandas()
        sc = spark.sparkContext
        timed = {f"1/{q}/run": _incomplete(sc, f"1/{q}/run") for q in workloads.SUITE}
        control = _incomplete(sc, "memo1/run")
    finally:
        run.shutdown(spark)

    audit = tracing.stage_audit(tracing.read_event_log(os.path.join(work, "eventlog")))
    for group, incomplete in timed.items():
        relisted = audit[group]["listed"] - audit[group]["ran"] - audit[group]["skipped"]
        assert not audit[group]["skipped"], group
        assert incomplete <= relisted, (group, incomplete - relisted)
    assert audit["memo1/run"]["skipped"], "a memoized rep must show skipped stages"
    assert control & audit["memo1/run"]["skipped"]
