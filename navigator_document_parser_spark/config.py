"""Pipeline configuration.

Mirrors the reference's env-overridable thresholds
(/root/reference/src/config.py:5-15) and adds Spark-scale tuning knobs.
"""

from __future__ import annotations

import os

# Minimum number of extracted lines for `has_valid_text` to be true.
# Reference: src/config.py:5-7 (HTML_MIN_NO_LINES_FOR_VALID_TEXT, default 6).
HTML_MIN_NO_LINES_FOR_VALID_TEXT = int(
    os.getenv("HTML_MIN_NO_LINES_FOR_VALID_TEXT", "6")
)

# Longest-paragraph word threshold above which the combined parser falls
# back from newsplease-like to readability-like extraction.
# Reference: src/config.py:9-11 (HTML_MAX_PARAGRAPH_LENGTH_WORDS, default 500).
HTML_MAX_PARAGRAPH_LENGTH_WORDS = int(
    os.getenv("HTML_MAX_PARAGRAPH_LENGTH_WORDS", "500")
)

# Comma-separated ISO-639-1 translation targets. Reference: src/config.py:13-15.
# (whitespace-tolerant; empty entries dropped — 'en, fr' and '' behave sanely)
TARGET_LANGUAGES: list[str] = [
    t.strip()
    for t in os.getenv("TARGET_LANGUAGES", "en").lower().split(",")
    if t.strip()
]

# --- Spark-scale knobs (no reference equivalent; scale design) -------------

# Rows per Arrow batch crossing the JVM<->Python boundary. Kept small because
# each row can carry a multi-MB html/pdf blob; 10 MB blobs x 10k default rows
# would OOM the Python worker.
ARROW_MAX_RECORDS_PER_BATCH = int(os.getenv("ARROW_MAX_RECORDS_PER_BATCH", "256"))

# Default shuffle partition count for local test sessions (AQE coalesces).
SHUFFLE_PARTITIONS = int(os.getenv("SPARK_SHUFFLE_PARTITIONS", "32"))


def build_spark(app_name: str = "navigator-parser", master: str | None = None,
                extra_conf: dict | None = None):
    """Create a tuned SparkSession.

    AQE on (runtime coalesce + skew-join splitting), small Arrow batches
    (multi-MB blob rows), Arrow enabled for pandas UDF transport.
    """
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            ARROW_MAX_RECORDS_PER_BATCH
        ),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.session.timeZone": "UTC",
        # driver==executor in local mode; generous off-heap for Arrow
        "spark.driver.memory": os.getenv("SPARK_DRIVER_MEMORY", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
