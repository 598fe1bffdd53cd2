"""SparkSession factory tuned for this engine.

Replaces the reference's runner selection (reference run_preprocess.py:136-144:
``"DataflowRunner" if args.cloud else "DirectRunner"``) with a single
SparkSession whose physical execution is delegated to Catalyst + AQE.

Scale posture: AQE on (runtime coalesce, skew-join splitting), shuffle
partitions sized by caller (defaults to cores in local mode), UTC session
timezone so results are oracle-comparable, Arrow enabled for every
Python-boundary crossing.

Driver heap: about half the host's RAM (``default_driver_mem``), pinned at
``-Xms`` = ``-Xmx`` but not pre-touched, so a run holds resident only the
heap its work has touched, and keeps it.

Python workers: the engine starts them through its own daemon module,
``_pydaemon``, rather than ``pyspark.daemon``. Spark puts its source-only
``pyspark.zip`` first on the workers' path, so each daemon and worker
compiles pyspark again (the daemon's import takes 0.7-0.9 s, against
0.17 s from the interpreter's installed, compiled copy). Where the worker
interpreter has the same pyspark release installed, the daemon takes
Spark's archives off its path and imports that copy. An archive left on
the path (Spark's, without such a copy, or the user's own) is re-read only
when its size or mtime has changed, instead of at every task's
``importlib.invalidate_caches()`` (about 0.15 s per task for
``pyspark.zip`` on a 4-core host). The package's parent directory goes on the
workers' ``PYTHONPATH`` so the daemon imports from any working directory.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)
#: largest default driver heap, in GiB
MAX_DRIVER_HEAP_GIB = 24
#: entries in Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``,
#: default 100). One warm pass of the benchmark's queries_mix (seven queries)
#: uses about 157 distinct classes, so the default cache thrashes and
#: recompiles 149-150 classes per pass, about 11 ms each. One pass over all
#: 388 registered queries at sf0.001 compiles about 5,260 classes and grows
#: metaspace plus code heap by 310-330 MiB, roughly 60 KiB per class: 8192
#: entries hold the whole registry.
CODEGEN_CACHE_ENTRIES = 8192
#: the directory that holds this package, put on the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scratch_dir(prefix: str, sf_dir: str) -> str:
    """The directory a query writes its own files to and reads back:
    ``<checkout>/spark-warehouse/<prefix>_<md5(sf_dir)[:8]>``, one per query
    and scale factor, so runs at two scale factors never collide.
    ``tools/prune_warehouse.py`` finds the live prefixes from the
    ``scratch_dir("<prefix>", ...)`` calls."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(_PACKAGE_PARENT, "spark-warehouse", f"{prefix}_{key}")


@contextmanager
def session_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set session conf keys for the block. On exit, normally or by an
    exception, each key gets its old value back; a key that was unset
    before is unset again."""
    old = {key: spark.conf.get(key, None) for key in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _meminfo_gib(key: str) -> float | None:
    """A ``/proc/meminfo`` field in GiB, or None where there is none."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 2**20
    except OSError:
        pass
    return None


def default_driver_mem() -> str:
    """About half the host's RAM, capped at MAX_DRIVER_HEAP_GIB: in local
    mode the driver JVM is the executor, and the Python workers need the
    other half. 8g where the host's RAM is unknown."""
    total = _meminfo_gib("MemTotal")
    if total is None:
        return "8g"
    return f"{max(1, min(MAX_DRIVER_HEAP_GIB, round(total / 2)))}g"


def get_spark(
    app_name: str = "videos_to_tfrecords_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In local mode there is a single JVM; on a real cluster the same conf
    holds — AQE re-plans shuffles at runtime, which is what makes the
    sf0.001 plans survive a 100 TB scale-up without retuning.
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    # Python workers allocate/free large Arrow buffers per batch; glibc
    # munmaps them on free, so every batch re-faults fresh pages. Keep the
    # buffers in the reusable heap instead (the same reason the JVM heap is
    # pinned below). Set in our own env before the JVM (and hence the
    # python daemon) is forked, and mirrored to executorEnv for non-local
    # masters.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet files whose timestamps are stored without a UTC-adjustment
        # flag (isAdjustedToUTC=false, e.g. pyarrow timestamp[us]) would be
        # inferred as TIMESTAMP_NTZ by Spark 4, which unix_micros()/window()
        # reject or reinterpret. Read them as TIMESTAMP_LTZ under the UTC
        # session zone instead — byte-identical epoch micros either way, and
        # the whole operator surface (event-time windows, as-of joins,
        # unix_micros) expects the instant type.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver JVM IS the executor — its heap is sized
        # from the host (default_driver_mem), SPARK_GRAFT_DRIVER_MEM overrides
        .config("spark.driver.memory", driver_mem)
        # Pin the heap at Xms = Xmx, without pre-touching it: each page is
        # faulted on first use and stays resident, since G1 never shrinks a
        # heap below Xms, not even after a System.gc(). Unpinned, the heap
        # starts at 256 MiB and grows under load (the CLI crop pipeline ran
        # about 12% slower on a 4-core host). Pre-touching an 8 GiB heap
        # added 1-2 s to session start-up and kept all of it resident: the
        # crop pipeline's peak RSS was 9.6 GiB, against 2.5 GiB without.
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_mem}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Parquet scans: pushdown + pruning are on by default; keep splits
        # bounded so a 100 TB table yields sane task counts.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "268435456")
        # the engine's daemon imports the interpreter's compiled pyspark
        # (module docstring); the workers find it through PYTHONPATH, whatever the
        # driver's working directory
        .config("spark.python.daemon.module", "videos_to_tfrecords_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
