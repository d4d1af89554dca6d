"""SparkSession construction tuned for the engine.

Local-mode defaults follow the cluster-minded settings we would ship for a
multi-executor deployment: AQE on (runtime re-planning, skew-join splitting),
shuffle partitions sized to parallelism rather than the 200 default, Arrow
enabled for every pandas-kernel boundary, and UTC so results compare cleanly
against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY`` when set, else half
    of physical memory (at least 1 GiB). A local-mode driver JVM holds the
    executors too, so a heap above physical memory lets it grow until the
    kernel kills it."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, int(total_gib // 2))}g"


def get_spark(
    app_name: str = "differential_dataflow_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls ``local[N]``; defaults to $SPARK_GRAFT_CPUS or 32.
    ``shuffle_partitions`` defaults to ``cores`` — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces down at runtime.
    ``master`` overrides the master URL entirely (e.g.
    ``local-cluster[4,8,12288]`` for real multi-JVM executors with a real
    exchange; ``cores`` should then be the TOTAL core count for
    parallelism/shuffle sizing). local-cluster needs SPARK_HOME — set to
    the pyspark package dir if absent."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Executor Python workers resolve imports via PYTHONPATH, not the
    # driver's sys.path — make the package importable from any cwd (the
    # spark-submit equivalent is --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    if master is not None and master.startswith("local-cluster"):
        import pyspark as _pyspark

        os.environ.setdefault(
            "SPARK_HOME", os.path.dirname(os.path.abspath(_pyspark.__file__))
        )
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen class cache (default 100 entries): a session
        # that runs the full 71-query registry generates far more codegen
        # fragments than that, so every re-run recompiled (janino) every
        # plan. Scale-independent driver-side cache sizing.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    # Local-mode shuffles go through spark.local.dir; on a disk-backed /tmp
    # the shuffle becomes I/O-bound and stops scaling with cores. Use tmpfs
    # when available (a real cluster would have NVMe-local shuffle dirs).
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    if master is not None:
        # Executors are separate JVMs: they do not inherit the driver's
        # environment, so ship the package path explicitly.
        builder = builder.config("spark.executorEnv.PYTHONPATH", pkg_root)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def micro_shuffle_partitions(n_rows: int | None = None) -> int:
    """Shuffle-partition count for a MICRO-BATCH maintenance round, derived
    from the DELTA size (guide: derive partitioning from input size, never a
    constant tuned to the local core count). Micro-rounds shuffle O(|Δ|)
    rows — a handful of partitions covers deltas up to ~10⁶ rows; larger
    deltas scale up linearly toward the session default. Production
    deployments with bigger steady-state deltas raise the floor via
    $SPARK_GRAFT_MICRO_PARTITIONS."""
    floor = int(os.environ.get("SPARK_GRAFT_MICRO_PARTITIONS", "4"))
    if n_rows is None:
        return floor
    return max(floor, min(int(os.environ.get("SPARK_GRAFT_CPUS", "32")) * 2, (n_rows // 262_144) + 1))


class micro_batch_scope:
    """Scoped session config for delta-bounded micro-batch rounds.

    Inside the scope, shuffle partitions are derived from the delta/state
    size via :func:`micro_shuffle_partitions` instead of the session-level
    count (which is sized for bulk queries): micro-rounds shuffle O(|Δ|)
    rows, so launching a bulk-sized task wave per round is pure scheduling
    latency. AQE stays ON — its runtime broadcast-conversion is what keeps
    the unknown-stat (checkpointed) trace unions off the exchange; measured
    with AQE off, join-bearing rounds regress 2-4x. Restores the prior value
    on exit. Re-entrant: nested scopes only save/restore at the outermost
    level.
    """

    def __init__(self, spark: SparkSession, n_rows: int | None = None):
        self.spark = spark
        self.parts = micro_shuffle_partitions(n_rows)
        self._saved: str | None = None
        self._outermost = False

    def __enter__(self):
        conf = self.spark.conf
        self._outermost = not getattr(self.spark, "_dd_micro_scope", False)
        if self._outermost:
            self._saved = conf.get("spark.sql.shuffle.partitions")
            self.spark._dd_micro_scope = True
        conf.set("spark.sql.shuffle.partitions", str(self.parts))
        return self

    def __exit__(self, *exc):
        if self._outermost:
            self.spark.conf.set("spark.sql.shuffle.partitions", self._saved)
            self.spark._dd_micro_scope = False
        return False


def tracked_local_checkpoint(df, eager: bool = True):
    """``localCheckpoint`` that records its backing RDD on the returned
    DataFrame as ``_ckpt_rdds``, so :func:`release_checkpoint` can actually
    free the blocks.

    ``DataFrame.unpersist()`` is a no-op for localCheckpoint blocks — they are
    RDD-level persists outside the cache manager — so fixpoint loops that
    relied on it leaked one checkpoint RDD per round. The handle is the
    result's OWN plan leaf (its LogicalRDD's RDD), never a diff of the
    context's persistent-RDD map, which a concurrent checkpoint (a
    ``foreachBatch`` thread, a background trace fold) could pollute with its
    RDD. No lock is taken: concurrent checkpoints run their jobs side by
    side."""
    out = df.localCheckpoint(eager=eager)
    out._ckpt_rdds = [out._jdf.queryExecution().analyzed().rdd()]
    return out


def counted_local_checkpoint(df) -> tuple:
    """An eager :func:`tracked_local_checkpoint` that also counts its rows:
    ONE job, the checkpoint's own. The count is an ``observe`` metric
    collected while the checkpoint materializes, so it adds no aggregate
    (a lazy checkpoint read back by ``count()`` pays an exchange, and under
    AQE a stage job with it). Iterative maintenance loops pay the
    driver-round floor per Spark JOB, and the count answers their
    convergence probe. Returns ``(checkpointed_df, row_count)``."""
    obs = Observation()
    out = tracked_local_checkpoint(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return out, obs.get["n"]


class Scratch:
    """Per-batch checkpoint scratch of one maintainer.

    Checkpoints taken through :meth:`ck` / :meth:`ckn` are released together
    at the start of the NEXT batch (:meth:`reap`): the update stream a batch
    returns is a lazy view over them, valid until the next call, and
    releasing them then keeps a long stream from leaking one checkpoint per
    loop round. State that outlives the batch leaves the scratch either by
    :meth:`reap`'s ``keep`` (the maintainer's current state frame) or by
    :meth:`hand_off` to a trace part (the trace's compaction frees it)."""

    def __init__(self):
        self._held: list = []

    def ck(self, df, eager: bool = True):
        out = tracked_local_checkpoint(df, eager=eager)
        self._held.append(out)
        return out

    def ckn(self, df) -> tuple:
        """:meth:`ck` fused with the convergence probe (one job)."""
        out, n = counted_local_checkpoint(df)
        self._held.append(out)
        return out, n

    def hand_off(self, ck, part):
        """Give ``part`` (a trace part viewed over checkpoint ``ck``) the
        release handle of ``ck``'s blocks and stop holding ``ck``: the part
        is long-lived trace state, and reaping the blocks with the batch
        scratch would tear them out from under later batches."""
        part._ckpt_rdds = list(getattr(ck, "_ckpt_rdds", ()))
        self._held = [df for df in self._held if df is not ck]
        return part

    def reap(self, keep=()) -> None:
        """Release every held checkpoint except those in ``keep``, which
        stay held (and are released by a later reap once superseded)."""
        kept = [df for df in self._held if any(df is k for k in keep)]
        for df in self._held:
            if not any(df is k for k in keep):
                release_checkpoint(df)
        self._held = kept


def release_checkpoint(df, blocking: bool = False) -> None:
    """Free the block-manager storage of a tracked_local_checkpoint result
    (no-op for DataFrames without a tracked handle)."""
    for jrdd in getattr(df, "_ckpt_rdds", ()):
        try:
            jrdd.unpersist(blocking)
        except Exception:
            pass
    if hasattr(df, "_ckpt_rdds"):
        df._ckpt_rdds = []


def release_all_cached(spark: SparkSession, gc: bool = False) -> int:
    """Blocking-unpersist every persisted RDD in the context.

    ``DataFrame.unpersist()`` does NOT free ``localCheckpoint`` blocks (they
    are RDD-level persists outside the cache manager, and derived DataFrames
    are no-ops entirely), so long sessions leak blocks per fixpoint round and
    later jobs degrade. Call between logical jobs / bench runs.

    Order matters: ``clearCache()`` FIRST — it unpersists ``df.persist()``
    entries AND drops them from the Catalyst cache manager. Unpersisting
    their RDDs directly would leave the InMemoryRelation registered with a
    dead storage level, and every later plan that matches it would recompute
    per consumer without ever re-storing (observed: 3.6s query -> 41s).
    """
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    prdds = jsc.getPersistentRDDs()
    n = prdds.size()
    it = prdds.iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)
    if gc:
        spark.sparkContext._jvm.System.gc()
    return n


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
