"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target and merely scaled
down for local[N] testing:

- AQE on (runtime coalescing + skew-join splitting for hot H3/z16 cells),
- Arrow on (all Python stages are Arrow-batched pandas UDFs),
- shuffle partitions sized to the local core count (cluster deployments override
  via spark-submit conf),
- broadcast threshold raised: the buildings-by-cell dimension table is the broadcast
  side of the flagship join.

Python workers are started by `_worker_daemon` (`spark.python.daemon.module`)
instead of `pyspark.daemon`. Spark puts `pyspark.zip`, the py4j zip and the
spark-core jar on the workers' path, and every task calls
`importlib.invalidate_caches()`, which makes each cached `zipimporter` re-read
its archive: about 0.2 s of CPU per task before any work. The daemon module
drops those archives when an installed pyspark of the same version and py4j
resolve without them; otherwise it leaves the path as it was and workers run
exactly as under `pyspark.daemon`.

The conf is set only when the daemon can import the module at start-up: a
local master, and the package loaded from a directory that is the cwd, on
`PYTHONPATH` or a site-packages directory. Under
`spark-submit --py-files osm_data_3d_tiles_spark.zip` the package reaches the
workers only per task, so the conf stays unset there (a daemon naming it would
die with `No module named 'osm_data_3d_tiles_spark'`).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def _daemon_conf(master: str) -> dict[str, str]:
    """`spark.python.daemon.module` when a local daemon, started with this
    process's cwd and `PYTHONPATH`, can import this package; else nothing."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not master.startswith("local") or not os.path.isdir(os.path.join(root, __package__)):
        return {}
    start_path = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
                  *site.getsitepackages()]
    if any(p and os.path.realpath(p) == os.path.realpath(root) for p in start_path):
        return {"spark.python.daemon.module": f"{__package__}._worker_daemon"}
    return {}


def get_spark(
    app_name: str = "osm-data-3d-tiles-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in {**_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(raw: str) -> int:
    """Spark size strings: plain bytes, or '128m'/'1g'/'512k' (optional 'b')."""
    v = str(raw).strip().lower().removesuffix("b")
    if v and v[-1] in _BYTE_SUFFIX:
        try:
            return int(float(v[:-1]) * _BYTE_SUFFIX[v[-1]])
        except ValueError:
            return 128 * 1024 * 1024
    try:
        return int(v)
    except ValueError:
        return 128 * 1024 * 1024


def with_min_parallelism(df, factor: int = 1):
    """Ensure a scan-rooted DataFrame has at least defaultParallelism×factor
    partitions before a CPU-bound Arrow/Python stage.

    Single parquet files below spark.sql.files.maxPartitionBytes arrive as ONE
    input split, which serializes every downstream pandas UDF — the dominant
    local-bench bottleneck. The check must NOT execute the plan: calling
    `df.rdd.getNumPartitions()` here forces AQE to materialize every upstream
    query stage serially (measured as a 10× slowdown of the composed flagship
    plan). Instead the guard looks at the leaf scan's file list — a pure
    metadata call. Derived frames (no file scan underneath, or many files)
    pass through untouched: their parallelism is whatever the upstream stage
    established. On a real cluster reading thousands of files this is always a
    no-op; locally it round-robins narrow columns once and unlocks all cores."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    # estimate the scan's split count from file sizes: Spark splits parquet by
    # byte ranges of maxPartitionBytes (row groups permitting), so a single
    # 60 MB file at 4 MB splits already fans out to ~15 tasks — repartitioning
    # it would shuffle the full payload (measured: a 449 MB html exchange that
    # dominated the flagship) for nothing
    import os as _os

    raw = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    mpb = _parse_bytes(raw)
    total = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += _os.path.getsize(path)
        except OSError:
            return df  # non-local store: trust the scan's own split planning
    est_splits = max(len(files), total // max(mpb, 1))
    if est_splits < min(target, 8):
        return df.repartition(target)
    return df
