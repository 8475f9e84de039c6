"""hpmr_spark.observe reads jobs and task times from the status store."""

from pyspark.sql import functions as F

from hpmr_spark.observe import observe


def _run_at_build(df, action: str):
    def build():
        getattr(df, action)()
        return df

    return build


def test_build_jobs_are_counted(spark):
    assert observe(spark, lambda: spark.range(10)).build_jobs == 0
    # a shuffle-free collect is one job; an adaptive count() runs its map
    # stage as a job of its own before the final one
    rec = observe(spark, _run_at_build(spark.range(10), "collect"))
    assert len(rec.job_ids) > rec.build_jobs == 1
    assert observe(spark, _run_at_build(spark.range(10), "count")).build_jobs == 2


def test_tasks_match_the_status_tracker(spark):
    rec = observe(
        spark,
        lambda: spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("n")),
    )
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in rec.job_ids for s in tracker.getJobInfo(j).stageIds}
    done = {s: tracker.getStageInfo(s).numCompletedTasks for s in stages}
    assert rec.tasks == sum(done.values())
    # the noop write's job lists the map stage its first job ran: skipped
    assert 0 in done.values()
    assert set(rec.stage_task_s) == {s for s, n in done.items() if n}
    assert 4 in (len(durs) for durs in rec.stage_task_s.values())
    assert rec.task_s >= rec.max_task_s > 0
    assert rec.wall_s >= rec.build_s > 0


def test_observations_share_no_job(spark):
    a = observe(spark, lambda: spark.range(100).groupBy((F.col("id") % 3).alias("k")).count())
    b = observe(spark, lambda: spark.range(100).groupBy((F.col("id") % 3).alias("k")).count())
    assert a.job_ids and b.job_ids
    assert not set(a.job_ids) & set(b.job_ids)
