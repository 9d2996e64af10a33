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


# On a 1000-executor cluster, shuffle.partitions should be ~2-3x total
# cores; AQE coalesces down from there, so a high initial value is safe.
_LOCAL_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Partition files into ~128 MB tasks (Spark default; stated explicitly
    # because output sizing at 100 TB depends on it).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast dimension tables aggressively: every dim in the star schema
    # (region/nation/customer/supplier/part at dim scale) is far below this.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "censo_escolar_spark", **overrides: str) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults applied."""
    cpus, driver_mem = local_resources(os.environ, *_host())
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_LOCAL_DEFAULTS, **{"spark.driver.memory": driver_mem})
    conf.update({k: str(v) for k, v in overrides.items()})
    # Measurement hook (same role as SPARK_GRAFT_SPREAD_WIDTH): lets a
    # cold-JVM A/B arm override session confs without a code edit, e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.enabled=false;k2=v2".
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, extra.split(";")):
        k, _, v = pair.partition("=")
        conf[k.strip()] = v.strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _TUNED_SESSIONS.add(id(spark))
    return spark


#: Sessions already tuned (built by get_spark, or patched in place).
_TUNED_SESSIONS: set[int] = set()

#: Runtime-settable confs applied to externally-built (bare) sessions.
#: Keyed by conf name -> (bad_default, engine_value): each conf is only
#: overridden when it still holds Spark's out-of-the-box default, so a
#: caller who tuned their own session deliberately is never clobbered.
_RUNTIME_TUNING: dict[str, tuple[str | None, str]] = {
    # 200 shuffle tasks over kB-scale local partitions is pure scheduler
    # overhead; AQE coalesces *down* from the initial number, so a small
    # initial value is right for the harness and a large one for clusters.
    "spark.sql.shuffle.partitions": ("200", "32"),
    # Arrow makes toPandas()/createDataFrame batch-columnar (10-100x).
    "spark.sql.execution.arrow.pyspark.enabled": ("false", "true"),
    # Deterministic wall-clock semantics: TIMESTAMP_NTZ <-> epoch
    # conversions (operators/rangejoin.py) are exact under UTC and the
    # DuckDB oracle compares naive timestamps.
    "spark.sql.session.timeZone": (None, "UTC"),
    # Star-schema dims are all far below 64 MB; broadcast them.
    "spark.sql.autoBroadcastJoinThreshold": ("10485760b", "64m"),
}


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
    for key, (bad_default, value) in _RUNTIME_TUNING.items():
        try:
            current = spark.conf.get(key, None)
            if bad_default is None or current is None or current == bad_default:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static/unknown conf on some builds
            pass
    _TUNED_SESSIONS.add(id(spark))
    return spark
