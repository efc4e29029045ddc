"""SparkSession construction with scale-oriented defaults.

Local testing runs on ``local[N]``; the config is chosen so the same
logical plans translate to a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the knob that makes one set of
  plans work from sf0.001 to 100 TB.
- Arrow on for any pandas interchange (the slow path, used only by
  multimodal stubs).
- UTC session timezone so timestamp semantics match the DuckDB
  correctness oracle and are stable across machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local cores: SPARK_GRAFT_CPUS when set (benchmark and test runs pin
# it), else the machine's own count.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
DEFAULT_SHUFFLE_PARTITIONS = CPUS

# Opt-in conf profiles, each backed by a BASELINE.md measurement.
#
# "skew-tuned": AQE's skew split is gated on
# skewedPartitionThresholdInBytes = 256 MB of COMPRESSED shuffle bytes;
# the sf=10 experiment (BASELINE.md "Skew-join experiment", 60M rows,
# ~30%-hot key) measured that DEFAULT AQE therefore silently no-ops on
# exactly the skew a real corpus has (19.3 s, same as AQE off), while
# these thresholds make the runtime split fire: 5.2 s, 3.6x — beating
# even plan-level salting (9.0 s). Opt-in rather than default because
# a lower threshold also splits partitions you may have sized
# deliberately (bucketed layouts); apply it on corpora with known hot
# keys that are still too big to broadcast.
PROFILES: dict[str, dict[str, str]] = {
    "skew-tuned": {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
    },
}


def get_spark(
    app_name: str = "minispark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``profile`` applies a named opt-in conf set from :data:`PROFILES`
    (measurement-backed overrides, e.g. ``"skew-tuned"``);
    ``extra_conf`` still wins on key collisions."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{CPUS}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # local[N] runs driver + all executor threads in ONE JVM; the 1g
        # default heap causes GC stalls/OOM with 32 concurrent tasks.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: pushdown + pruning are defaults, pinned here so a
        # misconfigured environment can't silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # No-tz parquet timestamps are UTC instants here (TIMESTAMP), not
        # TIMESTAMP_NTZ — keeps epoch casts legal and oracles aligned.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Bucketed scans honor the SORTED BY metadata (one file per
        # bucket, which sources/bucketing.py guarantees by repartitioning
        # before the write). Lets SortMergeJoin on the bucket key plan
        # with neither Exchange nor Sort — measured at sf=10 it removes
        # q21's 4.6 GB sort spill (BASELINE.md memory-headroom ledger).
        # Set here, not as a hidden side effect of the bucketed-build
        # helper, so the planning behavior is visible and session-wide
        # by declaration.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if profile is not None:
        if profile not in PROFILES:
            raise ValueError(f"unknown conf profile {profile!r}; have {sorted(PROFILES)}")
        for k, v in PROFILES[profile].items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
