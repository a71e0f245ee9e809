"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a real cluster submit
(``spark-submit --py-files acrawler_spark.zip``) would set per-executor;
the partitioning knobs are the ones that matter at 10^10-URL scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "acrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("ACRAWLER_SPARK_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("ACRAWLER_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle width: at 100 TB this is sized to the frontier bucket count
        # (url-hash range partitions); locally it matches core count.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalesce + skew-join split — hot-domain fetch joins
        # are exactly the skew case AQE re-plans. ACRAWLER_AQE=0 disables
        # (AQE inserts a driver-side re-plan barrier per shuffle stage;
        # for latency-bound many-small-job rounds that barrier can cost
        # more than the re-plan saves — measured per-workload).
        .config(
            "spark.sql.adaptive.enabled",
            "false" if os.environ.get("ACRAWLER_AQE") == "0" else "true",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # reference meta-merge semantics: child wins on key clash
        # (crawler.py:77 {**task.meta, **new_task.meta}) — map_concat must
        # last-win instead of throwing
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Arrow for all pandas-UDF boundaries (input_hint: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is a LIVENESS bound, and the invariant is
        # BYTES, not rows: Spark 4.1's PythonRunner multiplexes read+write
        # on the task thread over a ~4 MB-buffered local socket. A wedge
        # was captured live at 256 rows: the worker blocked in write(2)
        # mid-send of a ~5 MB output batch (256 rows x ~20 KB extracted
        # text cannot fit the send buffer in one write), the JVM task
        # thread looping in ReaderInputStream.select with ~21 MB of input
        # queued toward the worker and both Send-Qs pinned at 4 MB — zero
        # CPU on both sides, permanently. The deadlock interleaving (caught
        # live again with jstack + ss under local[16]): the task thread
        # parks in select with a partially-written INPUT batch pending
        # (write-interest only) while the worker is blocked writing output
        # — neither side drains, so the wedge window is "free send-buffer
        # space < one input batch" at the moment output backs up. The byte
        # cap below slices JVM->Python input batches at 256 KiB (verified
        # against 4.1.2 for both scalar pandas UDFs and mapInPandas), far
        # under the ~4 MB socket buffer, so a pending input write always
        # completes and the thread returns to read-interest; every UDF in
        # this engine emits <= ~1 output byte per input byte (parse:
        # text+links <= html), bounding output
        # sends the same way. The row cap is then only a backstop for
        # narrow rows, where it is the per-batch-overhead knob: the
        # previous row-only cap (64, sized for 20 KB pages) made ~100-byte
        # candidate rows cross the Python boundary in ~115k batches per
        # steady round — per-batch overhead was ~half the commit phase's
        # task time at 16 cores.
        # Cap value: 1 MiB (was 256 KiB). Still 4x under the 4 MB socket
        # buffer, so the liveness bound holds (a pending 1 MiB input write
        # completes whenever output backs up by < 3 MB, and outputs are
        # sliced by the same byte cap). The larger slices quarter the
        # batch-crossing count of html-heavy stages; interleaved A/B of
        # the fetch-parse probe at local[16] measured +5-14% pages/s
        # (scripts/probe_ab.py), with the task-blocked share of the pages
        # stage (run time >> CPU time in the event log) the direct cost.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("ACRAWLER_ARROW_BATCH", "8192"),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("ACRAWLER_ARROW_MAX_BYTES", str(1024 * 1024)),
        )
        # Speculation: ON for cluster masters (straggler re-launch is the
        # standard guard there) but OFF in local mode — a speculative copy
        # shares the one machine (duplicated tail-task CPU, measured ~13%
        # of the pages stage at 16 threads), and when the socket wedge
        # above was captured live under local[16], NO speculative copy had
        # been launched for the stuck task; the bench's per-rep subprocess
        # timeout is the guard that actually fires. ACRAWLER_SPECULATION
        # overrides either default.
        .config(
            "spark.speculation",
            os.environ.get(
                "ACRAWLER_SPECULATION",
                "false" if master.startswith("local") else "true",
            ),
        )
        .config("spark.speculation.interval", "5s")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        # parquet vectorized-reader batch: default 4096 rows x ~100 KB html
        # = ~400 MB of decompressed column batch PER TASK — at 32 concurrent
        # tasks that alone fills a mid-size heap and GC pauses invert the
        # core-count scaling (r2 bench: local[32] slower than local[8], with
        # driver-internal RPC timeouts = multi-second GC pauses). 512 rows
        # bounds it at ~50 MB/task while keeping vectorization.
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("ACRAWLER_READER_BATCH", "512"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("ACRAWLER_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
