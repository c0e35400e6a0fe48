"""SparkSession construction.

One tuned builder for every entry point (tests, bench, driver verify).
Settings are chosen for correctness-at-scale first:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for at least one stage; AQE
  re-plans from actual map-output sizes.
- shuffle.partitions defaults to the local core count for the test rig;
  on a real cluster this is overridden (or left to AQE's coalescing from
  a high initial number).
- Arrow enabled: every Pandas-UDF / toPandas boundary is vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 16g. Local mode runs the whole
    engine in the driver JVM, and a heap sized past the box lets the
    kernel OOM-killer take the JVM (and every test after it) instead of
    the GC reclaiming. Callers needing another size pass
    ``extra_conf={"spark.driver.memory": ...}``."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048  # kB -> MB / 2
                    return f"{min(half_mb, 16 * 1024)}m"
    except OSError:
        pass
    return "16g"


def get_spark(
    app_name: str = "analyzing_user_behavior_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode is one JVM; ``spark.driver.memory`` is the only memory knob.
    On a cluster the same conf set is valid — AQE and the serializer/Arrow
    settings are scale-independent.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Shuffle-width knob, measured BOTH ways at the replica scales
        # (SCALE.md §Round-5 measured artifacts): at the 1000× replica
        # (100 M events) the static 32-partition window sort spills and
        # goes superlinear (75 s, exponent 1.77/decade) — 256 initial
        # partitions restore ~22 s (3.3×); but on the KB–MB sf0.1
        # fixtures the extra map outputs + AQE stage re-optimization
        # cost a uniform ~1.4× on the 14-query headline. So the LOCAL
        # default stays partitions=cores, and big-data contexts opt in
        # via this env var (scale_probe sets it for its ≥100× runs). On
        # a real cluster: always set high; AQE only coalesces DOWN.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet has shipped as TIMESTAMP(NANOS) (rejected by the
        # vectorized reader -> read as int64 ns) and as timestamp[us]
        # isAdjustedToUTC=false (inferred NTZ, rejected by withWatermark);
        # both confs below plus catalog.normalize keep either shape read
        # as plain TIMESTAMP
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # The fixtures are single ~1-100 MB files; the 128 MB default
        # gives every scan ONE task on local[32]. 4 MB splits keep all
        # cores busy (measured ~2x on scan-bound queries). LOCAL-RIG
        # value: on a cluster use 128-512 MB (SCALE.md §Scans) via this
        # env var — task-per-4MB at 100 TB would be 25M tasks.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        # r16 (guide §6): openCostInBytes is the bin-packing charge per
        # file — the 4 MB default models object-store open latency and,
        # combined with the 4 MB local maxPartitionBytes above, packs
        # exactly ONE file per scan task, so a 5,000-file source (the
        # binaryFile round-trip) ran 5,000 tasks (~4 s of pure
        # scheduling). 64 KB reflects a local-fs open (µs) and packs
        # ~60 small files per task (measured: binaryFile read+md5
        # 4.1 s → 0.7-1.9 s, 5000 → 79 tasks). LOCAL-RIG value like
        # maxPartitionBytes: on a cluster reading object storage keep
        # the 4 MB default (or size to measured open latency) via the
        # env var.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "65536"),
        )
        # r16 (guide §6): file-listing jobs for many-directory sources
        # default to one task per path (up to 10,000) — on local[32]
        # the 5,000-dir binaryFile tree spent ~10 s scheduling 5,000
        # listing tasks that each stat one directory. 64 tasks of ~80
        # dirs each list the same tree in ~1 s. On a real cluster with
        # remote storage, raise via env (listing is latency-bound there
        # and wants the width).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            os.environ.get("SPARK_GRAFT_LIST_PARALLELISM", "64"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # bucketed saveAsTable targets (co-located join tests) land in /tmp
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/aub_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (name, session id, corpus) -> (session, DataFrame): the staged
# relations several queries share (verified pairs, hourly rollup,
# activity profiles, stratified sample), each built and persisted once
# per (session, corpus). The session OBJECT is stored and identity-
# checked, so an entry left by a stopped session whose id() was reused
# is never served to a new one.
_MEMO: dict[tuple[str, int, str], tuple[SparkSession, DataFrame]] = {}


def memo(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The ``name`` relation for (spark, sf_dir): ``build()`` on first
    use, the same DataFrame object afterwards until evict_caches."""
    key = (name, id(spark), os.path.abspath(sf_dir))
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    out = build()
    _MEMO[key] = (spark, out)
    return out


def evict_caches(spark) -> None:
    """Cold-measurement hygiene for timing harnesses (bench.py,
    tools/scale_probe.py): drop every cached relation AND every
    (session, corpus) memo in one call.

    The two MUST move together — ``clearCache`` unpersists the memoized
    DataFrames' storage, and a later memo hit on an unpersisted
    DataFrame silently recomputes WITHOUT re-caching for any later
    consumer (ADVICE r6 / bench.py discussion). A new memoized relation
    goes through :func:`memo`, which this clears; the q_join_dpp layout
    memo holds a written directory, not a DataFrame, so it is cleared
    here by name.
    """
    from .operators import joins

    _MEMO.clear()
    joins._DPP_LAYOUT_CACHE.clear()
    spark.catalog.clearCache()
