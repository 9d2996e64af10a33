"""SparkSession construction with scale-aware defaults.

The reference builds a bare session (reference transform.py:15). Here the
session is tuned for the execution model we target: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for any
pandas-interchange path, and explicit shuffle-partition sizing.

On a real cluster the same builder is used with ``master`` left to
spark-submit; locally we default to ``local[N]`` sized to the host
(``local_resources``).
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

#: Ceiling of the default driver heap, MiB.
MAX_DEFAULT_HEAP_MB = 24 * 1024


def local_resources(
    env: Mapping[str, str], n_cpus: int, phys_bytes: int
) -> tuple[str, str]:
    """(task slots N for ``local[N]``, ``spark.driver.memory``) for a host.

    Local mode runs every task slot inside ONE JVM, so both follow the
    host: N = the cores this process may run on, heap = half the physical
    RAM capped at ``MAX_DEFAULT_HEAP_MB`` (Xmx reserves, it does not
    commit; 8g was enough at sf0.1 but the sf1 scale probe needed more —
    32 concurrent verification tasks x shingle-set buffers).
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` in ``env`` override.
    """
    cpus = env.get("SPARK_GRAFT_CPUS") or str(max(1, n_cpus))
    heap_mb = max(512, min(MAX_DEFAULT_HEAP_MB, phys_bytes // 2 // 2**20))
    return cpus, env.get("SPARK_GRAFT_DRIVER_MEM") or f"{heap_mb}m"


def _host() -> tuple[int, int]:
    """(usable cores, physical RAM bytes) of this process's host."""
    try:
        n_cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - no affinity API (macOS)
        n_cpus = os.cpu_count() or 1
    return n_cpus, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


#: Spark's stock value is replaced wherever the session holds anything.
_ANY = "*"

#: The engine's session confs: name -> (engine value, stock value).
#: ``get_spark`` sets every engine value when it builds a session.
#: ``ensure_session_tuned`` patches a session the engine did not build: it
#: sets an entry only while the session still holds Spark's stock value
#: (or none), so a caller who tuned their own session deliberately is never
#: clobbered. A stock value of ``None`` leaves the entry to the build: it
#: is static, or Spark's own default already.
_SESSION_CONFS: dict[str, tuple[str, str | None]] = {
    "spark.sql.adaptive.enabled": ("true", None),
    "spark.sql.adaptive.coalescePartitions.enabled": ("true", None),
    "spark.sql.adaptive.skewJoin.enabled": ("true", None),
    # 200 shuffle tasks over kB-scale local partitions is pure scheduler
    # overhead; AQE coalesces *down* from the initial number, so a small
    # initial value is right for the harness and a large one for clusters
    # (~2-3x total cores on a 1000-executor cluster).
    "spark.sql.shuffle.partitions": ("32", "200"),
    # Arrow makes toPandas()/createDataFrame batch-columnar (10-100x).
    "spark.sql.execution.arrow.pyspark.enabled": ("true", "false"),
    # Deterministic wall-clock semantics: TIMESTAMP_NTZ <-> epoch
    # conversions (operators/rangejoin.py) are exact under UTC and the
    # DuckDB oracle compares naive timestamps. Pinned on every session.
    "spark.sql.session.timeZone": ("UTC", _ANY),
    # Partition files into ~128 MB tasks (Spark default; stated explicitly
    # because output sizing at 100 TB depends on it).
    "spark.sql.files.maxPartitionBytes": ("134217728", None),
    # Broadcast dimension tables aggressively: every dim in the star schema
    # (region/nation/customer/supplier/part at dim scale) is far below this.
    "spark.sql.autoBroadcastJoinThreshold": ("64m", "10485760b"),
    "spark.ui.enabled": ("false", None),
}


def get_spark(app_name: str = "censo_escolar_spark", **overrides: str) -> SparkSession:
    """Build (or get) a SparkSession with every engine conf applied.

    ``overrides`` replace engine confs for this build; the host sizes
    ``local[N]`` and the driver heap (``local_resources``).
    """
    cpus, driver_mem = local_resources(os.environ, *_host())
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = {k: value for k, (value, _) in _SESSION_CONFS.items()}
    conf["spark.driver.memory"] = driver_mem
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _TUNED_SESSIONS.add(id(spark))
    return spark


#: Sessions already tuned (built by get_spark, or patched in place).
_TUNED_SESSIONS: set[int] = set()


def ensure_session_tuned(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to a session the engine did not build.

    The correctness driver hands every query a *bare* SparkSession (no
    configs); with Spark defaults each tiny sf0.01 query pays for 200
    shuffle tasks and row-wise toPandas. All confs touched here are
    runtime-settable and only replace out-of-the-box defaults (timezone
    is pinned to UTC unconditionally: epoch math in the operators assumes
    it, and a DST-bearing session zone would make TIMESTAMP_NTZ -> epoch
    non-monotonic). Idempotent per session object.
    """
    if id(spark) in _TUNED_SESSIONS:
        return spark
    for key, (value, stock) in _SESSION_CONFS.items():
        if stock is None:
            continue
        try:
            current = spark.conf.get(key, None)
            if stock == _ANY or current is None or current == stock:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static/unknown conf on some builds
            pass
    _TUNED_SESSIONS.add(id(spark))
    return spark
