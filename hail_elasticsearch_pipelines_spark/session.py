"""SparkSession construction for the engine.

Mirrors the reference's environment bootstrap (hail init inside
`luigi_pipeline/lib/hail_tasks.py`), Spark-first: AQE on, Arrow on,
shuffle partitions sized to the machine instead of the 200 default.

Python workers run through ``worker/pyspark_fastworker.py``: pyspark's
own worker re-reads the directory of every zip on ``sys.path`` at the
start of every task (``importlib.invalidate_caches`` in
``setup_spark_files``), which on Python 3.11 costs 108-232 ms a task and
was most of a distributed query's 300-410 ms.  The module keeps every
other part of that invalidation, so files added by ``addPyFile`` still
import.  Local masters get it by default; on a cluster the executors
need the file on their path first (README, "Running on a cluster").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
WORKER_MODULE = "pyspark_fastworker"
WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker")
_MODULE_KEY = "spark.python.worker.module"
_PATH_KEY = "spark.executorEnv.PYTHONPATH"


def _worker_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The worker-module confs for ``master``, applied over ``extra_conf``:
    a caller's worker module wins, a caller's PYTHONPATH is kept ahead of
    the module's directory.  The PYTHONPATH reaches the daemons through
    the SparkContext's executor env.  Only local masters, whose workers
    see the driver's files, get them."""
    if not master.startswith("local"):
        return {}
    path = os.pathsep.join(p for p in (extra_conf.get(_PATH_KEY), WORKER_DIR) if p)
    return {_MODULE_KEY: extra_conf.get(_MODULE_KEY, WORKER_MODULE), _PATH_KEY: path}


def get_spark(
    app_name: str = "hail_es_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    In the sandbox this is ``local[N]``; on a real cluster the same confs
    apply (AQE handles post-shuffle coalescing and skew joins at 100 TB).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else DEFAULT_SHUFFLE_PARTITIONS
    # shuffle/spill to tmpfs when it has real headroom: on a cluster this
    # IO is spread across executor-local disks; on the single sandbox box
    # the one data disk would otherwise serialize every parallelism
    # level.  tmpfs consumes RAM, so require generous free capacity
    # (>=16 GiB) before defaulting to it — a large shuffle spilling into
    # a small /dev/shm would OOM the host exactly when Spark is trying to
    # relieve memory pressure.  SPARK_GRAFT_LOCAL_DIR overrides either
    # way ("" disables tmpfs, a path redirects).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.access("/dev/shm", os.W_OK):
        try:
            import shutil as _sh

            if _sh.disk_usage("/dev/shm").free >= 16 * 1024**3:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split size: the 128 MB default packs a sandbox-sized corpus
        # into ~3 input splits, capping every scan stage at 3 cores no
        # matter the parallelism.  16 MB keeps #splits >= cores here; at
        # real 100 TB scale override back up via SPARK_GRAFT_MAX_PART_BYTES
        # (bigger splits amortize task overhead when there are millions
        # of them anyway).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", str(16 * 1024 * 1024)),
        )
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_worker_conf(master, extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
