"""SparkSession factory.

Tuned for local[N] testing but configured the way a large cluster run
would be: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), UTC session timezone (oracle comparability), Arrow enabled
for the pandas-UDF slow path.

At 100 TB the same settings hold; only `shuffle.partitions` (sized to
~2-3x total cores, here env-overridable) and executor topology change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(48g, a third of physical memory): a fixed 48g heap let the
    JVM grow past what a 15 GB host has, and the kernel killed it."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{max(1, min(48, total // 3 // 2**30))}g"


def get_spark(app_name: str = "argus_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``);
    shuffle partitions track it so local shuffles are neither over- nor
    under-parallelized. ``SPARK_GRAFT_DRIVER_MEM`` sets the driver heap
    (default: min(48g, a third of physical memory)).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else None
    # Python workers (pandas UDF / mapInPandas) must be able to import
    # this package regardless of the driver's cwd: export the repo root
    # on PYTHONPATH before the JVM (and hence the workers) spawn. On a
    # real cluster the equivalent is --py-files / a shipped wheel.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = str(cpus if cpus else (os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as long and
        # normalize in load() (Spark has no native nanos timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_SHIPPED_APPS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``argus_spark`` importable in Python WORKERS of any session.

    The driver contract hands us a foreign session whose workers know
    nothing about this repo: a pandas-UDF / ``mapInPandas`` closure
    defined in this package pickles by reference, so the worker must
    import ``argus_spark`` — and if the driver process was launched
    outside the repo root, it can't (caught by the verify drive from
    /tmp: ModuleNotFoundError in the multimodal stages). Fix the way a
    real cluster does: ship the package as a zip via ``addPyFile``
    (the runtime twin of ``spark-submit --py-files``), which each task
    prepends to the worker's sys.path. Zip is built once per process,
    shipped once per SparkContext."""
    try:
        sc = spark.sparkContext
        app = sc.applicationId
    except Exception:
        return
    if app in _SHIPPED_APPS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"argus_spark_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
    try:
        sc.addPyFile(zpath)
    except Exception:
        pass  # e.g. connect-only session; worker imports fail loudly if truly needed
    _SHIPPED_APPS.add(app)


def load(spark: SparkSession, sf_dir: str, name: str, widen: bool = False):
    """Read one testdata table (TESTDATA.md). Parquet scan → Catalyst
    gets pushdown + pruning for free.

    ``events.ts`` arrives as nanos-since-epoch (legacy nanosAsLong);
    normalize to a microsecond timestamp with integer div (ns epoch
    exceeds 2^53 — float division would lose precision).

    ``widen=True`` fans the scan out to full parallelism. The testdata
    files are few-row-group parquet, so Spark cannot split the scan and
    CPU-heavy map stages (hashing, shingling, UDF text analysis) would
    run on a handful of tasks; AQE only coalesces, never widens. Opt-in
    because the repartition is a full extra shuffle — queries whose
    first shuffle is an agg/join key get wide parallelism there anyway
    and must not pay it. On a real many-file layout (the 100 TB case)
    scan parallelism >= cores and this is a no-op either way.
    """
    # r15 (r14 ADVICE): the memo is keyed by the SESSION OBJECT (weak —
    # a dead session's plans are dropped, and an id()-reuse alias can
    # never resurrect them), not just applicationId: two sessions of
    # one app (SparkSession.newSession, a driver-handed session) must
    # not share plans, and each new session must pass through the conf
    # pins below.
    try:
        _cache = _LOAD_CACHE.setdefault(spark, {})
        _key = (os.path.abspath(sf_dir), name, bool(widen))
    except Exception:
        _cache, _key = None, None  # unhashable session wrapper — skip
    if _cache is not None and _key in _cache:
        return _cache[_key]
    # The driver contract hands us ITS session (not get_spark()'s).
    # Depending on that session's build-time confs, events.ts
    # (parquet TIMESTAMP(NANOS)) arrives as bigint (legacy nanosAsLong,
    # only honored at session build), timestamp_ntz (stock 4.x), or
    # timestamp (inferTimestampNTZ off). All three are normalized to a
    # plain LTZ timestamp below; pin the session timezone to UTC first
    # (runtime-settable) so the NTZ→LTZ cast and all downstream
    # hour()/window() extractions are oracle-comparable regardless of
    # the host session's zone.
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # locked conf on some managed runtime — fail loudly at the read
    # Workers on a foreign session must be able to import this package
    # for the pandas-UDF operators (no-op after the first call).
    ship_package(spark)
    # Same defensive posture for shuffle width: a foreign session at the
    # stock 200 shuffle partitions pays ~25x task overhead on local-mode
    # runs (measured: dedup_ngram_jaccard 14.5s at 200 vs ~1s at cores).
    # Only retune when the conf is still the Spark DEFAULT — an explicit
    # user/driver setting is respected. Plan-level only; results are
    # identical at any width.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos-since-epoch; integer div (ns epoch exceeds 2^53 —
            # float division would lose precision)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # value-preserving under the UTC session tz pinned above
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if widen:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(2, par // 2):
            df = df.repartition(par)
    if _cache is not None:
        _cache[_key] = df
    return df


TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


# Plan-level memo for load(): session → (sf_dir, name, widen) → the
# constructed DataFrame. A DataFrame is an immutable LAZY plan —
# handing the same plan object back costs nothing and changes nothing
# about execution (every action still scans the parquet files), but a
# fresh load() costs ~140 ms of driver-side work (footer/schema read
# via spark.read.parquet ≈ 75 ms, conf pins, the widen partition
# probe), and most queries call it 1-4× per construction (r14 opt,
# guide §1.2: construction overhead measured as the dominant term of
# many sub-2s bench rows). r15 (r14 ADVICE): the outer key is the
# SparkSession object itself in a WeakValue-free WeakKeyDictionary —
# a second session in the same app gets its own plans AND its own
# conf-pin pass, and a collected session releases its plans. Known
# limitation (documented, unchanged): the memoized plan freezes the
# parquet FILE LISTING of its first read — a table rewritten in-app
# under the same path would read the old file set. No in-repo flow
# rewrites testdata; external callers doing so should bypass load().
import weakref

_LOAD_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def register_sql_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """SQL entry point: publish every testdata table plus the derived
    chain views (``blocks``/``outputs``/``inputs``/``watched``) as temp
    views, so the whole surface is directly queryable via
    ``spark.sql(...)`` — a capability the reference lacks by design
    (its API is code-first; SURVEY §2 "no SQL string entry point") but
    Spark provides for free once the catalog is populated. Returns the
    registered view names.

    Views are lazy plans — registration costs nothing; Catalyst prunes
    and pushes down through them exactly as through the DataFrame API.
    """
    from argus_spark.chain.synth import (
        synth_blocks,
        synth_inputs,
        synth_outputs,
        synth_watched,
    )

    names = []
    for t in TESTDATA_TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)
    for name, fn in (
        ("blocks", synth_blocks),
        ("outputs", synth_outputs),
        ("inputs", synth_inputs),
        ("watched", synth_watched),
    ):
        fn(spark, sf_dir).createOrReplaceTempView(name)
        names.append(name)
    return names
