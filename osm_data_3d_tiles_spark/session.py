"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target and merely scaled
down for local[N] testing:

- AQE on (runtime coalescing + skew-join splitting for hot H3/z16 cells),
- Arrow on (all Python stages are Arrow-batched pandas UDFs),
- `local[N]` and N shuffle partitions, N the local core count (`local_cores`;
  cluster deployments override via spark-submit conf),
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


def local_cores() -> int:
    """`SPARK_GRAFT_CPUS` when set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "osm-data-3d-tiles-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = local_cores()
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


def _row_groups(path: str) -> int | None:
    """Row groups of a parquet file, from its footer; None for a file that
    is not parquet."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata.num_row_groups
    except Exception:
        return None


def with_min_parallelism(df):
    """Ensure a scan-rooted DataFrame has at least defaultParallelism
    partitions before a CPU-bound Arrow/Python stage.

    Single parquet files below spark.sql.files.maxPartitionBytes arrive as ONE
    input split, which serializes every downstream pandas UDF — the dominant
    local-bench bottleneck. The check must NOT execute the plan: calling
    `df.rdd.getNumPartitions()` here forces AQE to materialize every upstream
    query stage serially (measured as a 10× slowdown of the composed flagship
    plan). Instead the guard looks at the leaf scan's file list and the
    parquet footers — metadata only, no Spark job. Derived frames (no file
    scan underneath, or enough splits) pass through untouched: their
    parallelism is whatever the upstream stage established. On a real cluster
    reading thousands of files this is always a no-op; locally it
    round-robins narrow columns once and unlocks all cores."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    sizes = []
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            sizes.append((path, os.path.getsize(path)))
        except OSError:
            return df  # non-local store: trust the scan's own split planning
    # the split size Spark's FileSourceScanExec plans with:
    # min(maxPartitionBytes, max(openCostInBytes, bytes-with-open-costs / parallelism))
    conf = df.sparkSession.conf
    max_bytes = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304"))
    total = sum(size + open_cost for _, size in sizes)
    split = max(min(max_bytes, max(open_cost, total // max(target, 1))), 1)
    # a parquet split reads the row groups whose midpoint falls in it, so a
    # file yields no more busy tasks than it has row groups
    est_splits = 0
    for path, size in sizes:
        n = max(-(-size // split), 1)
        groups = _row_groups(path)
        est_splits += n if groups is None else min(n, groups)
    if est_splits < min(target, 8):
        return df.repartition(target)
    return df
