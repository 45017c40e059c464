"""The status-store reader takes deltas by id and fails on eviction."""

import pytest

from store import StoreEvicted, StoreReader


class FakeStores:
    """Jobs and stages by id, as the live store would hold them."""

    def __init__(self):
        self.jobs, self.stages, self.next_job = {}, {}, 0
        self.sql = None  # (oldest, newest) retained execution id

    def add_job(self, stage_ids, status="SUCCEEDED", cpu=1_000_000_000):
        jid = self.next_job
        self.next_job += 1
        self.jobs[jid] = {"jobId": jid, "status": status, "stageIds": stage_ids}
        for sid in stage_ids:
            self.stages.setdefault(
                sid, [{"stageId": sid, "status": "COMPLETE", "executorCpuTime": cpu}]
            )
        return jid

    def drain(self):
        pass

    def next_job_id(self):
        return self.next_job

    def job(self, jid):
        return self.jobs.get(jid)

    def stage(self, sid):
        return self.stages.get(sid)

    def sql_id_range(self):
        return self.sql


def test_delta_reads_each_job_and_stage_once():
    st = FakeStores()
    st.add_job([0])
    r = StoreReader(st)  # the job before the reader is not in any delta
    st.add_job([1, 2])
    st.add_job([2, 3])  # stage 2 reused (skipped) by a second job
    d = r.delta()
    assert [j["jobId"] for j in d.jobs] == [1, 2]
    assert sorted(s["stageId"] for s in d.stages) == [1, 2, 3]
    assert d.total("executorCpuTime") == 3e9
    assert r.delta().jobs == []


def test_stage_completed_before_the_window_is_not_counted():
    st = FakeStores()
    st.stages[0] = [{"stageId": 0, "status": "COMPLETE", "completionTime": 1000}]
    r = StoreReader(st)
    st.add_job([0, 1])  # reuses stage 0, which ran before the reader started
    assert [s["stageId"] for s in r.delta().stages] == [1]


def test_running_job_is_read_again_later():
    st = FakeStores()
    r = StoreReader(st)
    jid = st.add_job([0], status="RUNNING")
    st.add_job([1])
    assert [j["jobId"] for j in r.delta().jobs] == [1]
    st.jobs[jid]["status"] = "SUCCEEDED"
    assert [j["jobId"] for j in r.delta().jobs] == [jid]


def test_evicted_job_fails_the_read():
    st = FakeStores()
    r = StoreReader(st)
    for _ in range(3):
        st.add_job([])
    del st.jobs[1]  # the live store dropped it (retainedJobs)
    with pytest.raises(StoreEvicted, match="job 1"):
        r.delta()


def test_evicted_stage_fails_the_read():
    st = FakeStores()
    r = StoreReader(st)
    st.add_job([4, 5])
    del st.stages[4]
    with pytest.raises(StoreEvicted, match="stage 4"):
        r.delta()


def test_sql_executions_counted_by_id_and_gap_fails():
    st = FakeStores()
    st.sql = (0, 9)
    r = StoreReader(st)
    st.sql = (0, 14)
    assert r.delta().sql_executions == 5
    st.sql = (17, 30)  # ids 15 and 16 were evicted before this read
    with pytest.raises(StoreEvicted, match="SQL executions 15..16"):
        r.delta()


def test_spark_stores_reads_a_live_session(spark):
    from pyspark.sql import functions as F

    from store import SparkStores

    st = SparkStores(spark)
    r = StoreReader(st)
    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    d = r.delta()
    assert d.jobs and all(j["status"] == "SUCCEEDED" for j in d.jobs)
    assert d.total("executorCpuTime") > 0 and d.sql_executions >= 1
    assert st.job(10**6) is None and st.stage(10**6) is None
