"""SparkSession builder with scale-oriented defaults.

Config rationale (SURVEY.md §4):
  * AQE on (runtime coalescing + skew-join splitting) — the severity/source
    key space is deliberately skewed (hot facility Local7).
  * shuffle.partitions sized to cores for local mode; a real cluster run
    overrides via spark-submit --conf.
  * Arrow batch size raised: the parse operator's cost is per-batch regex
    machinery, so bigger batches amortize the JVM<->Python crossing.
  * session timezone pinned UTC so TimestampType comparisons against the
    DuckDB oracle are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "syslog_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 32768,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cpus())
    # Respect an externally-configured master (spark-submit --master sets
    # the spark.master JVM system property): only default to local[cpus]
    # when the caller passed none AND the environment configured none.
    # Builder options override system properties, so unconditionally
    # calling .master(local[...]) would silently turn a cluster submit
    # into a driver-local run.
    inherited_master = None
    if master is None:
        inherited_master = _configured_master()
        if inherited_master is None:
            master = f"local[{cpus}]"
        elif not _has_gateway():
            # MASTER came from the environment with no live py4j gateway:
            # no JVM exists yet, so WE start it — the env value must be
            # applied through the builder or it is read and discarded
            # (round-4 ADVICE), and getOrCreate() would fail with
            # "A master URL must be set".
            master = inherited_master
    local_jvm = master is not None  # we are the ones starting the JVM
    # sizing defaults (shuffle partitions from the bracket count,
    # driver memory) only make sense for local/local-cluster masters; a
    # MASTER env pointing at a real cluster (spark://, yarn, k8s://)
    # must keep the cluster's own sizing conf (round-5 ADVICE: the
    # fall-through used to force shuffle.partitions=32 and 48g driver
    # memory onto remote masters, contradicting the inherited-conf
    # policy below)
    local_sizing = local_jvm and master.startswith("local")
    if shuffle_partitions is None and local_sizing:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(n) if n.isdigit() else _usable_cpus()
    # one BLAS/OMP thread per python worker — the workers ARE the
    # parallelism; nested thread pools oversubscribe the box
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "268435456")
    )
    if local_jvm:
        # driver.memory is only honoured before JVM start; under
        # spark-submit the JVM already exists, so setting it is noise.
        # The 48g LOCAL default only applies to local masters — but an
        # EXPLICIT SPARK_DRIVER_MEM is honoured for remote masters too:
        # we are still the ones launching the driver JVM here, and the
        # cluster's conf cannot reach a client-side driver setting in
        # this launch mode (silently dropping the documented knob would
        # leave the driver at Spark's 1g default).
        b = b.master(master)
        driver_mem = os.environ.get(
            "SPARK_DRIVER_MEM", "48g" if local_sizing else None
        )
        if driver_mem:
            b = b.config("spark.driver.memory", driver_mem)
    if shuffle_partitions is not None:
        # on an inherited cluster conf, leave shuffle.partitions to the
        # submitter / AQE unless the caller asked for a specific value
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _usable_cpus() -> int:
    """CPUs this process may run on (its affinity mask, which a container
    CPU set or ``taskset`` narrows below ``os.cpu_count()``)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _has_gateway() -> bool:
    """True when spark-submit's py4j gateway env is present (a JVM with
    the submitted conf already exists for this process to attach to)."""
    return any(
        os.environ.get(v)
        for v in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    )


def _configured_master() -> str | None:
    """Return the externally-configured spark.master, if any.

    Under `spark-submit script.py` the JVM already exists (py4j gateway
    env vars are set) and --master landed in the JVM system properties,
    which SparkConf(loadDefaults=True) reads. Standalone python has no
    gateway yet — probing SparkConf there would needlessly start the JVM
    before the builder does, so treat "no gateway env" as "no master".
    """
    if not _has_gateway():
        return os.environ.get("MASTER") or None
    try:
        from pyspark import SparkConf
        from pyspark.context import SparkContext

        # SparkConf only reads JVM system properties once SparkContext's
        # gateway is attached — before that it is an empty pure-Python
        # dict and contains() is always False (round-4 review finding).
        # With the gateway env vars present, _ensure_initialized()
        # ATTACHES to spark-submit's existing JVM (no new JVM, no
        # context), after which loadDefaults sees --master.
        SparkContext._ensure_initialized()
        conf = SparkConf(loadDefaults=True)
        if conf.contains("spark.master"):
            return conf.get("spark.master")
    except Exception:
        pass
    return os.environ.get("MASTER") or None


def _ship_package(spark: SparkSession) -> None:
    """Make syslog_spark importable on executor Python workers.

    Local equivalent of `spark-submit --py-files syslog_spark.zip` (the
    deployment mode named in the north star): zip the package and
    addPyFile it, so sessions built from any CWD work. The zip is
    deleted when this interpreter exits, never while the context runs.
    """
    import atexit
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    stamp = max(
        (os.path.getmtime(os.path.join(dp, f))
         for dp, _, fs in os.walk(pkg_dir) for f in fs if f.endswith(".py")),
        default=0,
    )
    zpath = os.path.join(
        "/tmp", f"syslog_spark_pkg_{int(stamp)}_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dp, _, fs in os.walk(pkg_dir):
                for f in fs:
                    if f.endswith(".py"):
                        full = os.path.join(dp, f)
                        z.write(full, os.path.relpath(full, root))
        atexit.register(_remove_quietly, zpath)
    spark.sparkContext.addPyFile(zpath)


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
