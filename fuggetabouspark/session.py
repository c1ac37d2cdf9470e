"""SparkSession factory with the settings the pipeline relies on.

Local-mode defaults are tuned for the sandbox (local[N] on one JVM);
on a real cluster every config here is still correct — AQE, Arrow
batching, and shuffle-partition sizing are cluster-generic. See
SURVEY.md §4.2 for what we deliberately let Catalyst/AQE own.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app: str = "fuggetabouspark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    arrow_batch_rows bounds the flattened-token transient per Arrow
    batch (SURVEY.md §4.3): ~2048 rows * avg 160 tokens * 4 B ≈ 1.3 MB (cache-friendlier for the per-batch dedup sort, measured faster than 4096/16384)
    per batch per worker — spill-free by construction.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    ship_package(spark)
    return spark


# Spark's default spark.sql.files.maxPartitionBytes: no merged task reads more
_SPLIT_BYTES = 128 << 20


def _merge_small_splits(df):
    """``df`` coalesced (``coalesce``: no shuffle, never wider) to
    max(``sparkContext.defaultParallelism``, plan size / 128 MB) tasks:
    the input of a library stage that sends a caller's frame through an
    Arrow UDF. Each Python UDF task pays a fixed worker cost, about
    0.2 CPU-s, before it reads a row (ROADMAP item 11), so splits finer
    than Spark's default sizing, such as a caller's small
    ``spark.sql.files.maxPartitionBytes``, are merged into one task per
    core. Under Spark's default scan sizing nothing merges: a small scan
    already has about one split per core, and a large one keeps its
    default-sized (128 MB) tasks, so load balancing and retry cost stay
    Spark's. ``defaultParallelism`` is the core count unless
    ``spark.default.parallelism`` is set; on a cluster it counts the
    cores of the executors registered when the plan is built, so a plan
    built before any register gets a width of 2, which the 128 MB cap
    bounds. The
    frame keeps its splits when its plan has no size estimate, and
    under dynamic allocation, where executors come and go after the
    plan is built."""
    sc = df.sparkSession.sparkContext
    if sc.getConf().get("spark.dynamicAllocation.enabled", "false").lower() == "true":
        return df
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    tasks = max(sc.defaultParallelism, -(-size // _SPLIT_BYTES))
    return df.coalesce(tasks) if tasks < 2**31 else df  # 2**63 - 1: no estimate


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executor Python workers — the programmatic
    equivalent of ``spark-submit --py-files`` (BASELINE.json:6).

    Without this, any driver whose sys.path (not PYTHONPATH) provides
    fuggetabouspark fails in the Arrow UDF workers with
    ModuleNotFoundError — observed live, so it is done unconditionally;
    addPyFile is idempotent per file name within a SparkContext.
    """
    zpath = _package_zip(pathlib.Path(__file__).resolve().parent, tempfile.gettempdir())
    spark.sparkContext.addPyFile(zpath)
    return zpath


def _package_zip(pkg_dir: pathlib.Path, out_dir: str) -> str:
    """The path of a zip of the ``*.py`` files under ``pkg_dir`` (as
    package ``fuggetabouspark``) in ``out_dir``, named by a hash of the
    files' names and contents: sessions shipping different trees (say,
    two checkouts) get different zips, while Spark refuses a second
    file of the same name with other contents. The bytes are a pure
    function of the tree (fixed timestamps), and the zip is written
    under a ``_`` temporary name and moved into place by os.replace,
    so a concurrent reader never sees a partial file."""
    files = [
        (str(pathlib.PurePosixPath("fuggetabouspark", *p.relative_to(pkg_dir).parts)), p.read_bytes())
        for p in sorted(pkg_dir.rglob("*.py"))
    ]
    digest = hashlib.blake2b(digest_size=8)
    for name, data in files:  # length-framed, so no two trees collide
        for part in (name.encode(), data):
            digest.update(len(part).to_bytes(8, "little"))
            digest.update(part)
    zpath = os.path.join(out_dir, f"fuggetabouspark_pyfiles_{digest.hexdigest()}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(prefix="_fuggetabouspark_pyfiles_", suffix=".zip", dir=out_dir)
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for name, data in files:
                info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                info.external_attr = 0o644 << 16
                zf.writestr(info, data)
        os.replace(tmp, zpath)
    return zpath
