"""The outside-in probes against a live local session over a generated
sf0.001 fixture: /proc sampler, py4j counter, streaming-progress capture
and the event-log parser (job groups and streaming runIds)."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest

import gen
from probes import ProcSampler, Py4jCounter, parse_event_log, stream_progress


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    from serverless_etl_bi_on_aws_spark.session import get_spark

    root = tmp_path_factory.mktemp("probes")
    base = gen.write_base(str(root / "sf0.001"), 0.001, seed=1)
    (root / "eventlog").mkdir()
    spark = get_spark(app_name="perfbench-probes", extra_conf={
        "spark.local.dir": str(root / "local"),
        "spark.sql.warehouse.dir": str(root / "warehouse"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(root / "eventlog"),
        "spark.eventLog.compress": "false",
    })
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    yield {"spark": spark, "root": root, "base": base, "jvm_pid": jvm_pid}
    spark.stop()


def test_proc_sampler_sees_driver_jvm_and_python_workers(env):
    from pyspark.sql import functions as F

    spark = env["spark"]
    with ProcSampler(env["jvm_pid"], interval=0.05) as s:
        before = s.cpu()
        df = spark.read.parquet(f"{env['base']}/lineitem.parquet")

        @F.pandas_udf("double")
        def burn(x):
            t = time.process_time()
            while time.process_time() - t < 0.05:
                pass
            return x * 2

        df.select(F.sum(burn("l_quantity"))).collect()
        after = s.cpu()
        s.sample()
    assert s.peak_mb("driver") > 10 and s.peak_mb("jvm") > 100
    assert s.peak_mb("python") > 10  # pyspark daemon + workers were found
    assert after["python"] - before["python"] > 0.04
    assert s.peak_mb("total") >= s.peak_mb("jvm")


def test_py4j_counter_counts_round_trips_and_uninstalls(env):
    from pyspark.sql import functions as F

    spark = env["spark"]
    c = Py4jCounter(spark)
    try:
        spark.range(10).select((F.col("id") + 1).alias("x")).filter("x > 3")
        n = c.calls
        assert n > 3
        spark.range(3)
        assert c.calls > n
    finally:
        c.close()
    n = c.calls
    spark.range(3)
    assert c.calls == n


def test_streaming_progress_capture(env):
    spark, root = env["spark"], env["root"]
    src = root / "landing"
    src.mkdir()
    table = pq.read_table(f"{env['base']}/orders.parquet").slice(0, 40)
    pq.write_table(table, src / "hour-000000.parquet")
    seen = []
    q = (spark.readStream.schema(spark.read.parquet(str(src)).schema).parquet(str(src))
         .writeStream.foreachBatch(lambda df, _: seen.append(df.count()))
         .option("checkpointLocation", str(root / "ckpt")).trigger(availableNow=True).start())
    q.awaitTermination()
    env["run_id"] = str(q.runId)
    prog = stream_progress(q)
    assert prog["numInputRows"] == 40 == sum(seen)
    assert prog["triggerExecution"] > 0 and prog["addBatch"] > 0
    assert prog["triggerExecution"] >= prog["addBatch"]


def test_event_log_attributes_jobs_to_groups_and_run_ids(env):
    spark = env["spark"]
    sc = spark.sparkContext
    sc.setJobGroup("t:0-q:build", "t:0-q:build")
    spark.range(100).count()
    sc.setJobGroup("t:0-q:action", "t:0-q:action")
    spark.read.parquet(f"{env['base']}/orders.parquet").groupBy("o_orderstatus").count().collect()
    sc.setJobGroup("other", "other")
    spark.stop()
    stats = parse_event_log(str(env["root"] / "eventlog"))
    build = stats.by_group["t:0-q:build"]
    action = stats.by_group["t:0-q:action"]
    assert build["jobs"] >= 1 and build["tasks"] >= 1
    assert action["jobs"] >= 1 and action["stages"] >= 1 and action["input_bytes"] > 0
    assert action["run_s"] >= 0 and action["failed_tasks"] == 0
    streamed = stats.by_group[env["run_id"]]  # jobs of the streaming query
    assert streamed["jobs"] >= 1
    total = stats.total(["t:0-q:build", "t:0-q:action"])
    assert total["jobs"] == build["jobs"] + action["jobs"]
    assert os.listdir(env["root"] / "eventlog")
