"""SparkSession factory tuned for this engine.

AQE on (runtime skew-join splitting + partition coalescing), Arrow on
(vectorized pandas UDF transfer), shuffle partitions sized to the local core
count instead of the 200 default, and a codegen class cache that holds the
engine's working set under class names free of stage ids, so warm
operations run warm code. On a real cluster
the same builder is used with ``master`` unset (taken from spark-submit).
"""

from __future__ import annotations

import contextlib
import os
import pathlib
import warnings
from collections.abc import Iterator, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: HotSpot never JIT-compiles a method above this many bytes of bytecode
#: (``-XX:+DontCompileHugeMethods``, on by default): a whole-stage-codegen
#: stage whose generated method is larger runs interpreted
JIT_MAX_METHOD_BYTES = 8000

#: repo root containing the ``locus_spark`` package — shipped to Python
#: workers so module-level UDF kernels resolve.  On a real cluster the same
#: thing is done with ``spark-submit --py-files locus_spark.zip``.
_PKG_PARENT = str(pathlib.Path(__file__).resolve().parent.parent)


def _ensure_worker_pythonpath() -> None:
    """Python workers inherit the driver's env in local mode; make sure the
    package parent dir is importable there (must run before the JVM starts)."""
    current = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + current if current else "")
        )


def get_spark(
    app_name: str = "locus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    _ensure_worker_pythonpath()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark's JVM-wide cache of generated classes.  Static: it is sized
        # at the first codegen in the JVM.  The 100-entry default is smaller
        # than one perfbench ingest_range cycle (126 classes with setup), so
        # every warm cycle recompiled 82 of them and ran them cold in the
        # interpreter.  Distinct classes measured with the cache unbounded:
        # 3247 over the pytest suite, 1290 over pass A of the bench.py
        # board; this is the next round number above twice the larger.
        # Metaspace (jcmd VM.metaspace, committed): 166.6 MB after
        # ingest_range setup + 4 cycles at both 100 and 10000 entries;
        # 241 MB at the end of the pytest suite with all 3247 classes kept.
        .config("spark.sql.codegen.cache.maxEntries", "8000")
        # Spark names each generated class after its whole-stage-codegen
        # stage id, and AQE numbers the stages in the order it plans them,
        # which can differ between runs of one plan: a warm run then
        # recompiled code identical but for the class name (a cached
        # point_in_polygon_join in about 1 warm run of 10; the dedup rows'
        # warm passes on the bench.py board).
        .config("spark.sql.codegen.useIdInClassName", "false")
        # local mode shares one JVM between driver and executor: under full
        # CPU saturation the heartbeat thread can starve for minutes, and the
        # default 120 s timeout then kills the executor mid-job (seen in the
        # kNN ring loop at local[4] with every core busy).
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "1200s")
        # GC reliable-checkpoint files once their DataFrames are collected
        # (materialize() checkpoints small frames every loop round)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """Classes compiled and milliseconds spent compiling them so far in
    this JVM, from Spark's own codegen counters (``CodegenMetrics`` and
    ``CodeGenerator.compileTime``).  Reading them runs no Spark job; the
    difference of two readings is the codegen bill of what ran between
    them.  A class served from the codegen cache is not counted."""
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(compiled.getCount()), nanos / 1e6


def max_method_bytes(df: DataFrame) -> int:
    """The largest generated method, in bytes of bytecode, over the
    whole-stage-codegen subtrees of ``df``'s executed plan (Spark's
    ``ByteCodeStats``; 0 with none), to compare with
    :data:`JIT_MAX_METHOD_BYTES`.  Read after an action, it covers AQE's
    final plan; the code comes from the codegen cache, so it runs no Spark
    job."""
    jvm = df.sparkSession.sparkContext._jvm
    seq = jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(
        df._jdf.queryExecution().executedPlan()
    )
    return max(
        (seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())), default=0
    )


@contextlib.contextmanager
def py4j_calls(spark: SparkSession) -> Iterator[list[int]]:
    """Count the py4j commands the driver sends to the JVM inside the
    block: yields a one-item list whose item is the count so far.  Wraps
    the gateway client's ``send_command``; runs no Spark job.  Every
    ``F.*`` call, Column operator and JVM object Python frees is at least
    one command, so this is the driver's planning bill.  Commands sent by
    other Python threads in the block are counted too."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        del client.send_command


def materialize(
    df: DataFrame, metrics: Sequence[Column] | None = None
) -> DataFrame | tuple[DataFrame, dict]:
    """Materialize an iterative loop's round state, truncate its lineage and
    drop its plan statistics.  Every loop in the engine (kNN, CC,
    PageRank, HITS, triangles, DBSCAN) keeps its state through this.

    ``metrics`` (named aggregate Columns) are observed on ``df`` and ride
    the checkpoint job: ``(frame, {name: value})`` is returned, with no
    Spark job of their own.  Each row of ``df`` is counted once, in either
    checkpoint mode below.

    The checkpoint mode follows the master:

    * ``local*`` — ``localCheckpoint`` (executor-memory blocks).  Driver and
      executor share one process there, so executor loss is not a
      survivable event anyway and a reliable write is pure overhead
      (measured ~3.5 s/round at local[32]).
    * any other master — persist, then a RELIABLE checkpoint to
      ``sc.setCheckpointDir``, then drop the cache: executor-memory
      checkpoints die with their executor, so on a multi-executor cluster
      this removes the loop's single point of failure.  The persist-first
      is load-bearing: ``checkpoint(eager=True)`` otherwise recomputes the
      full lineage — a kNN round's whole candidate join — a second time in
      the checkpoint-write job (measured 2.5-4x kNN slowdown).  The dir
      must be shared storage; with none set this warns and falls back to
      ``localCheckpoint`` rather than fake durability with a driver-local
      temp dir.

    The checkpointed frame is then rebuilt as a fresh scan WITHOUT the
    origin plan's statistics.  A checkpoint otherwise carries the round
    plan's estimated ``sizeInBytes`` forward, and size-only estimation
    multiplies child sizes at every join, so a loop whose round joins the
    state with itself squares the estimate each round: from ~20 rounds on
    Catalyst spends its time in BigInteger.multiply (measured 0.3 s/round
    flat -> 2 s/round at round 20 doubling to 100+ s/round by round 24;
    flat 0.3 s with the rebuild).  AQE still makes broadcast decisions from
    RUNTIME sizes, so dropping the estimate costs nothing.  The rebuild
    uses ``internalCreateDataFrame`` (public at the bytecode level; the
    same hook GraphFrames uses for its iteration state) and falls back to
    the checkpointed frame if the JVM hook is unavailable.

    Checkpointed frames stay referenced until the loop's result is
    consumed (e.g. settled kNN probes' rows point at their round's frame);
    block cleanup is the ContextCleaner's job
    (``spark.cleaner.referenceTracking.cleanCheckpoints``, set by
    :func:`get_spark`), not an explicit unpersist — ``unpersist`` on a
    checkpoint-returned frame frees nothing anyway (its blocks are not in
    the cache manager)."""
    spark = df.sparkSession
    sc = spark.sparkContext
    local = sc.master.startswith("local")
    if not local and sc.getCheckpointDir() is None:
        warnings.warn(
            "locus_spark: no checkpoint dir is set on a cluster master; a "
            "driver-local temp dir would NOT be shared storage, so loop "
            "state falls back to localCheckpoint (no executor-loss "
            "tolerance). Call sc.setCheckpointDir(<shared path>) to enable "
            "reliable checkpoints.",
            RuntimeWarning,
            stacklevel=2,
        )
        local = True
    if metrics:
        obs = Observation()
        df = df.observe(obs, *metrics)
    if local:
        out = df.localCheckpoint(eager=True)
    else:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = df.checkpoint(eager=True)
        df.unpersist()
    try:
        jdf = out._jdf
        out = DataFrame(
            spark._jsparkSession.internalCreateDataFrame(
                jdf.queryExecution().toRdd(), jdf.schema(), False
            ),
            spark,
        )
    except Exception:  # pragma: no cover - depends on Spark internals
        pass
    return (out, obs.get) if metrics else out
