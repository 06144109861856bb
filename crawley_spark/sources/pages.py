"""Pages-corpus source (F1).

The corpus contract is BASELINE.json input_hint: a table of Common-Crawl-style
pages ``(url string, warc_ts timestamp, html binary, text string, lang
string)``; the engine additionally honors optional ``content_type`` and
``status`` columns so fixture scenarios ported from the reference's httptest
servers (which set real headers / status codes) stay expressible.

``normalize_pages`` projects exactly the columns the fetch join needs —
column pruning happens here, so a parquet scan reads only (url, html[,
content_type, status]), never text/lang (verified by `.explain` in
tests/test_engine_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def normalize_pages(pages: DataFrame) -> DataFrame:
    """Project to the fetch-join schema (url, html, content_type, status)."""
    cols = [F.col("url"), F.col("html").cast("binary").alias("html")]
    if "content_type" in pages.columns:
        cols.append(F.col("content_type"))
    else:
        cols.append(F.lit(None).cast("string").alias("content_type"))
    if "status" in pages.columns:
        cols.append(F.col("status").cast("int").alias("status"))
    else:
        cols.append(F.lit(None).cast("int").alias("status"))
    return pages.select(*cols)


def prepare_pages(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """One-time corpus preparation for iterative crawling: hash-partition and
    sort by ``url`` and persist. Every per-iteration fetch join then reuses
    the corpus partitioning/ordering (no exchange, no re-sort on the pages
    side of the sort-merge join — only the small frontier side shuffles).

    Production equivalent: an Iceberg table bucketed on url — the scan
    reports the same partitioning and this step disappears entirely.
    """
    spark = pages.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        normalize_pages(pages)
        .repartition(n, F.col("url"))
        .sortWithinPartitions("url")
        .persist()
    )


JSONL_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.StringType()),  # JSON carries text, not bytes
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("status", T.IntegerType()),
    ]
)


def pages_from_jsonl(
    spark, path: str, html_base64: bool = False, drop_corrupt: bool = True
) -> DataFrame:
    """JSON-Lines page dumps (one object per line, the other common webtext
    interchange format besides WARC/parquet) -> the engine's corpus schema.

    The schema is PINNED (JSONL_PAGES_SCHEMA), never inferred — schema
    inference is a full extra pass over the data, a non-starter at corpus
    scale; extra fields in the objects are simply not read. ``.gz`` /
    ``.zst`` files and directories of part files work as-is (Spark's JSON
    source is line-splittable on uncompressed data, whole-file per gzip
    member otherwise — shard compressed dumps into many files, which is how
    they ship anyway).

    ``html`` arrives as a JSON string: UTF-8 encoded to binary by default,
    or base64-decoded with ``html_base64=True`` for dumps that carry raw
    bytes. With ``drop_corrupt`` (default), unparseable lines — which
    surface as all-null rows under the JSON source's PERMISSIVE mode with a
    pinned schema — are dropped by ``url IS NOT NULL`` instead of becoming
    phantom pages. Crawling a JSONL-sourced corpus is byte-identical to
    crawling the same pages from parquet (tests/test_sources_jsonl.py).
    """
    df = spark.read.schema(JSONL_PAGES_SCHEMA).json(path)
    if drop_corrupt:
        df = df.filter(F.col("url").isNotNull())
    html = (
        F.unbase64(F.col("html"))
        if html_base64
        else F.encode(F.col("html"), "UTF-8")
    )
    return df.select(
        "url",
        "warc_ts",
        html.alias("html"),
        "text",
        "lang",
        "content_type",
        "status",
    )
