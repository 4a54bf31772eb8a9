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
import stat
import tempfile
import zipfile

from pyspark.sql import SparkSession

from .functions._native_build import _private, cache_dir

_PYFILES_SHIPPED: set[tuple[int, str]] = set()


def ensure_py_files(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (``spark-submit
    --py-files`` equivalent, per north_rule) so pandas UDFs can import it
    regardless of the driver's cwd/sys.path.

    Idempotent per (session, content-hash): the package is zipped once,
    named by content hash, and ``addPyFile``'d. On a real cluster the job is
    submitted with --py-files and this becomes a no-op re-add of the same
    artifact.

    Every worker imports the zip, so it is only ever taken from a directory
    no other user can write to: the native-kernel cache
    (``_native_build.cache_dir()``), where a cached zip is reused only if it
    passes the same owner and mode check as a cached kernel and is rebuilt
    otherwise, or a fresh private temp dir when there is no such cache.
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
    directory = cache_dir() or tempfile.mkdtemp(prefix="ers-pyfiles-")
    zip_path = os.path.join(directory, f"entity_resolution_spark_{digest}.zip")
    if not _private(zip_path, stat.S_ISREG):
        # build into a per-process name, then atomically publish: racing
        # drivers all rename to the same content-addressed path
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in py_files:
                arc = os.path.join(
                    "entity_resolution_spark", os.path.relpath(p, pkg_dir)
                )
                zf.write(p, arc)
        os.chmod(tmp, 0o644)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _PYFILES_SHIPPED.add(key)


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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
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
