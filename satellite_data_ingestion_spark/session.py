"""SparkSession factory tuned for this engine.

Used by ``bench.py``, the tests, and any standalone run.  The driver may
hand us its own session instead — query functions only rely on *runtime*
confs which ``catalog._prepare`` (re)sets per call.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime join-strategy switches, skew-join splitting, shuffle
  partition coalescing — the knobs that keep a static plan from falling
  over at 1000x data.
- Shuffle partitions sized for the local test harness; on a real cluster
  AQE's coalescing makes the initial number a ceiling, not a fixed cost.
- Arrow enabled so every pandas-UDF operator pays batch (not row) transfer.
- Generated-code class cache sized to the operator working set.  Spark
  keeps compiled whole-stage/expression classes in a cache of 100 entries
  by default; one pass over eight jobs-heavy registry operators (the
  ``operator_battery`` benchmark) needs about 290 distinct classes, so at
  100 the cache thrashes and every repeated call recompiles its 16-60
  classes through Janino and pays JIT, metaspace and GC for them again.
  At 2000 a repeated call recompiles only the few classes whose source
  differs per call (AQE numbers codegen stages in the order concurrent
  query stages finish).  This is a *static* conf: it only applies to a
  session this factory creates, so a session passed in through
  ``__spark_entry__.entry`` keeps its own value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "satellite-data-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static: one battery pass compiles ~290 classes (default 100).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    return builder.getOrCreate()


def codegen_counters(spark: SparkSession) -> tuple[int, int]:
    """(classes compiled, compile nanoseconds) so far in this JVM, from
    Spark's ``CodegenMetrics`` histogram and ``CodeGenerator`` timer."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos


def group_counters(spark: SparkSession, group: str) -> tuple[int, int, int]:
    """(jobs, stages, shuffle-write bytes) of the jobs run so far under job
    group *group* (``SparkContext.setJobGroup``), read from the status
    store, so it works with the UI off.  A stage shared by several jobs
    counts once; a stage skipped because its shuffle output already
    existed is not counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    jobs = [
        info
        for jid in tracker.getJobIdsForGroup(group)
        if (info := tracker.getJobInfo(jid)) is not None
    ]
    stage_ids = {sid for info in jobs for sid in info.stageIds}
    ran = [
        st
        for st in map(store.lastStageAttempt, stage_ids)
        if st.status().toString() != "SKIPPED"
    ]
    return len(jobs), len(ran), sum(st.shuffleWriteBytes() for st in ran)
