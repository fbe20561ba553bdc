"""SparkSession factory with the engine's default tuning.

local[N] is the sandbox stand-in for an N-executor cluster; the confs below
are the ones that matter at both scales: AQE for runtime shuffle re-planning
(incl. skew-join splitting), Arrow for the pandas-UDF boundary, shuffle
partitions sized to the parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — e.g. a standalone
    ``spark://host:7077`` cluster (tools/local_cluster.py runs one on this
    box with real per-executor JVMs). ``cores`` still sizes shuffle
    partitions: pass the cluster's total task cores."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # glibc allocator pinning for the python workers (and driver): keep
    # large numpy temps on the reusable brk heap instead of fresh mmap
    # regions. On this sandbox VM, first-touch page faulting of new mmap'd
    # pages is stochastically slow (measured 0.5-9 s to materialize a 224 MB
    # array vs 0.1 s on reuse — the same pathology BENCH_SCALING.md's
    # membw probe documents), and every large kernel temp re-paid it because
    # glibc returns >threshold chunks to the OS on free. With the threshold
    # raised, a worker faults its high-water heap once and every later task
    # reuses it. Real clusters fault pages at normal speed, where this is
    # merely neutral; memory cost is bounded by a worker's peak live temps.
    for env_k in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(env_k, "1073741824")
    # local-mode python workers inherit the driver's ENVIRONMENT, not its
    # sys.path: a job launched from outside the repo (spark-submit from any
    # cwd) imports the package fine driver-side via its own sys.path.insert
    # but crashes in the first stage that ships python code. Export the
    # repo root on PYTHONPATH so workers resolve it regardless of cwd.
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _repo_root + (os.pathsep + _pp if _pp else "")
        )
    b = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # forward-index kernels expand each doc ~300x: small Arrow batches
        # keep per-worker pandas frames bounded (large batches thrash RAM)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # task-side commit (v2): v1's driver-side sequential rename pass
        # serializes the tail of every JVM write stage
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # zstd shuffle/broadcast/spill compression: the merge stage moves the
        # whole segment stream (~63% of corpus bytes) through the shuffle, and
        # on the 4x1-core executor harness it is bandwidth-bound, not
        # CPU-bound. A/B at 300k (BENCH_SCALING.md chain-8, interleaved pairs):
        # zstd lifted the 4-executor level 6013/6462 -> 7586/7635 f/s (+18-27%)
        # with the 1-core level unchanged — fewer bytes through the shared-DRAM
        # fetch path. On a real cluster the same ratio cut applies to NETWORK
        # shuffle traffic, which is the scarcer resource at 1000 executors.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    if master and not master.startswith("local"):
        # non-local executors need the package on their import path and the
        # same interpreter for python workers
        import sys

        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = b.config("spark.executorEnv.PYTHONPATH", repo_root).config(
            "spark.pyspark.python", sys.executable
        )
        # allocator pinning must reach the EXECUTOR JVMs' python daemons too
        # (the local-mode path inherits it from os.environ above)
        for env_k in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
            b = b.config(f"spark.executorEnv.{env_k}", os.environ[env_k])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
