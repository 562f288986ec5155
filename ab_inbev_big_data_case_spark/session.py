"""SparkSession factory.

The reference creates its session through the AWS Glue runtime
(``/root/reference/glue/etl_api.py:11-13``); the engine equivalent is a plain
``SparkSession.builder`` with scale-minded defaults:

- **AQE on** (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the single biggest lever for 100 TB plans.
- **UTC session timezone** — fixtures are tz-naive; keeps Spark and the
  DuckDB oracle byte-identical on timestamps.
- **Arrow enabled** — vectorized pandas-UDF / toPandas path.
- **shuffle.partitions sized to the local machine** for tests; a real
  cluster deployment overrides this (AQE coalescing makes the initial
  number much less critical).
- **Python workers fork from the engine's daemon**
  (``spark.python.daemon.module``): the package ``__main__`` runs PySpark's
  daemon after the package import has applied the worker patch
  (``operators/pyworker.py``), so every worker is patched before its first
  task. The package must be importable from the JVM's cwd or PYTHONPATH.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # Always use the sort-based shuffle writer (r16, VERDICT item 1 — the
    # "32-core small-data pathology"). The bypass-merge writer opens one
    # temp file PER REDUCE PARTITION per map task (M x R files per
    # shuffle; 1024 for a 32x32 stage), and jstack sampling showed task
    # threads in file open/delete natives and BLOCKED on the shared
    # SecureRandom lock inside UUID.randomUUID (one UUID per temp shuffle
    # block, DiskBlockManager.createTempShuffleBlock). The sort writer
    # writes ONE file + index per map task. Measured at sf0.1/local[32]:
    # trivial 32x32 stage 0.247 -> 0.076 s; minhash_lsh_pairs 1.43 ->
    # 0.77 s; hll_distinct 0.94 -> 0.70 s; cosine_topk 0.93 -> 0.62 s;
    # dbscan 0.80x, ktruss 0.75x ratios; one mild loser
    # (resource_allocation_links ~1.08x, its join shuffle is genuinely
    # bypass-friendly). Scale fidelity: a 100 TB deployment has R > 200,
    # so bypass NEVER fires there — this also makes the local bench
    # exercise the same writer production runs.
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    "spark.python.daemon.module": "ab_inbev_big_data_case_spark",
}


def _available_ram_bytes() -> int:
    """Effective memory budget: the cgroup limit when the process runs in a
    memory-capped container (v2 ``memory.max``, v1 ``memory.limit_in_bytes``),
    else host physical RAM via sysconf. Host RAM alone would let a container
    pick a heap above its own cap — the exact OOM-killer scenario the heap
    sizing exists to avoid (ADVICE r7)."""
    host = None
    try:
        host = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        pass
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
            if raw != "max":
                limit = int(raw)
                # v1 reports an effectively-unlimited sentinel (~2^63); only
                # trust limits below host RAM (or any sane bound w/o sysconf)
                if limit < (host or 1 << 62):
                    return limit
            break
        except (OSError, ValueError):
            continue
    if host is None:
        raise OSError("no memory probe available")
    return host


def _default_heap_gb() -> int:
    """min(16, available_ram // 2) GiB, floor 1 — cgroup-aware; hosts
    without any probe keep the 16g ceiling."""
    try:
        return max(1, min(16, int(_available_ram_bytes() / (2 * 1024**3))))
    except (ValueError, OSError, AttributeError):
        return 16


def _default_local_dir() -> str | None:
    """Shuffle/spill scratch: ``$SPARK_GRAFT_LOCAL_DIR`` when set, else
    ``None`` (Spark's default, java.io.tmpdir; cluster managers override
    it with SPARK_LOCAL_DIRS).

    Local disk bandwidth for shuffle files can be the tighter limit (guide
    §2.1: on a virtio ext4 host, moving a trivial 32-task shuffle stage's
    scratch to tmpfs halved it, 0.34 s → 0.17 s). Pointing the variable at
    a tmpfs such as ``/dev/shm`` is an explicit opt-in and never the
    default: RAM-backed scratch competes with the heap, and a shuffle or
    spill that outgrows it fails the job with ENOSPC mid-run.
    """
    return os.environ.get("SPARK_GRAFT_LOCAL_DIR") or None


def _default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, else one task thread per CPU this
    process may run on (its affinity mask, which honours taskset/cpusets)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "ab_inbev_big_data_case_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the bench
    harness and tests share one sizing knob; with the env var unset it is
    ``local[<usable CPUs>]`` (see ``_default_master``).
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or _default_master()
    )
    conf = dict(_DEFAULTS)
    # Local mode runs every executor thread inside the DRIVER JVM, whose
    # default heap is 1 GiB — 32 threads' shuffle buffers + broadcast
    # builds in 1 GiB is the silent spill/GC tax (and an outright
    # broadcast-OOM at sf1). Size it to the machine: min(16g, ~half of
    # physical RAM), so a small host keeps a heap the OS can actually back
    # (a 16g cap over 8 GiB RAM trades managed spill for the OOM killer).
    # Cluster deployments override per executor; this only applies before
    # the first JVM start.
    conf.setdefault(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{_default_heap_gb()}g"),
    )
    # Shuffle scratch override (see _default_local_dir). Only applies
    # before the first JVM start, like the heap sizing above.
    local_dir = _default_local_dir()
    if local_dir is not None:
        conf.setdefault("spark.local.dir", local_dir)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
