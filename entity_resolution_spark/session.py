"""SparkSession factory for the entity-resolution engine.

Local-mode defaults tuned for the sandbox (`local[N]`, single JVM); on a real
cluster the same builder is used via ``spark-submit --py-files`` with master /
memory supplied externally. AQE is always on so skewed blocking keys get
runtime skew-join splitting and post-shuffle coalescing; Arrow is always on
because every Python-side kernel in this engine is a vectorized pandas UDF
(per ``BASELINE.json:input_hint`` — no per-row Python).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PYFILES_SHIPPED: set[tuple[int, str]] = set()


def ensure_py_files(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (``spark-submit
    --py-files`` equivalent, per north_rule) so pandas UDFs can import it
    regardless of the driver's cwd/sys.path.

    Idempotent per (session, content-hash): the package is zipped once,
    named by content hash, and ``addPyFile``'d. On a real cluster the job is
    submitted with --py-files and this becomes a no-op re-add of the same
    artifact.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    hasher = hashlib.sha256()
    py_files = []
    for root, _dirs, names in sorted(os.walk(pkg_dir)):
        for name in sorted(names):
            if name.endswith(".py"):
                p = os.path.join(root, name)
                py_files.append(p)
                hasher.update(p.encode())
                with open(p, "rb") as fh:
                    hasher.update(fh.read())
    digest = hasher.hexdigest()[:16]
    key = (id(spark), digest)
    if key in _PYFILES_SHIPPED:
        return
    zip_path = os.path.join(
        tempfile.gettempdir(), f"entity_resolution_spark_{digest}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in py_files:
                arc = os.path.join(
                    "entity_resolution_spark", os.path.relpath(p, pkg_dir)
                )
                zf.write(p, arc)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _PYFILES_SHIPPED.add(key)


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory`` sized from host RAM: 40% of it in
    whole GiB, floor 1g, cap 16g.

    In local mode the driver JVM is the whole cluster, and it shares the
    host with the Python driver, one Python worker per core and its own
    off-heap/metaspace overhead — a fixed 16g heap on a 16 GB host gets
    the JVM OOM-killed mid-run. ``total_bytes`` defaults to the host's
    physical memory; ``SPARK_GRAFT_DRIVER_MEM`` still overrides the result
    in get_spark.
    """
    if total_bytes is None:
        try:
            total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            return "16g"  # no sysconf (non-POSIX): the previous fixed default
    gib = int(total_bytes * 0.4) // (1 << 30)
    return f"{min(16, max(1, gib))}g"


def get_spark(
    app_name: str = "entity_resolution_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a session.

    cores=None -> local[*]. shuffle_partitions defaults to the core count:
    at 100 TB on a real cluster this is overridden (or left to AQE's
    coalescing, which is enabled) — in local mode 200 default partitions
    just add scheduling overhead.
    """
    # Respect an externally-supplied master (spark-submit --master / cluster
    # deploy) when the caller didn't pin cores: SparkConf sees the submit
    # conf via JVM system properties, and overriding it with local[*] here
    # would silently turn a cluster job into a single-node one.
    from pyspark import SparkConf

    submit_master = SparkConf().get("spark.master", None)
    if cores is None and submit_master and "SPARK_GRAFT_MASTER" not in os.environ:
        master = submit_master
    else:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores or '*'}]")
    if cores is None:
        cores = os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # keep the broadcast threshold at Spark's default 10MB: corpus-sized
        # frames (blocks, features) must never be broadcast — observed 2x
        # ANTI-scaling at local[32] when a 250k-row blocks frame was
        # broadcast and every thread built its own hash table in one heap
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Spark 4.1 constraint-propagation bug: localCheckpoint preserves
        # constraints with stale exprIds; the connected-components loop's
        # self-unions then fail Union.rewriteConstraints with
        # "key not found: src#N". All engine predicates are written
        # explicitly, so losing inferred isnotnull constraints costs little.
        .config("spark.sql.constraintPropagation.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package zip NOW, not lazily: PySpark snapshots the
    # python-includes list when each UDF object is CREATED, so a UDF built
    # before addPyFile never sees the zip and its worker dies with
    # ModuleNotFoundError (observed via the cli path: generate_repo_files'
    # mapInPandas was created before resolve() shipped the package).
    ensure_py_files(spark)
    return spark
