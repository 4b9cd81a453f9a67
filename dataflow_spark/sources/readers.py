"""Source readers — extension-dispatched, plus hf:/ms: style URIs.

Reference: FileStorage format dispatch (storage.py:534-556) and remote
dataset sources (storage.py:595-621). Spark-native: jsonl/csv/parquet
are distributed scans; xlsx/pickle fall back to a driver-side pandas
read + createDataFrame (same non-goal status as the reference gives
them); hf:/ms: sources materialize to a Parquet staging dir once, then
every downstream read is a parallel columnar scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_any(spark: SparkSession, path: str, fmt: str | None = None, **options) -> DataFrame:
    if path.startswith(("hf:", "ms:")):
        return _read_remote_dataset(spark, path)
    ext = fmt or os.path.splitext(path)[1].lstrip(".").lower()
    if ext in ("jsonl", "json"):
        # spark.read.json handles JSON Lines natively; multiLine for arrays
        ml = options.pop("multiLine", ext == "json" and _looks_like_array(path))
        return spark.read.options(**options).option("multiLine", ml).json(path)
    if ext == "csv":
        return spark.read.options(header=True, inferSchema=True, **options).csv(path)
    if ext == "parquet":
        return spark.read.options(**options).parquet(path)
    if ext == "orc":
        return spark.read.options(**options).orc(path)
    if ext in ("xlsx", "pickle", "pkl"):
        return _read_driver_side(spark, path, ext)
    raise ValueError(f"unsupported source format {ext!r} for {path}")


def _looks_like_array(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            head = f.read(64).lstrip()
        return head.startswith(b"[")
    except OSError:
        return False


def _read_driver_side(spark: SparkSession, path: str, ext: str) -> DataFrame:
    import pandas as pd

    if ext == "xlsx":
        pdf = pd.read_excel(path)  # requires openpyxl; gated import
    else:
        pdf = pd.read_pickle(path)
    return spark.createDataFrame(pdf)


def _read_remote_dataset(spark: SparkSession, uri: str,
                         staging_dir: str | None = None) -> DataFrame:
    """hf:{dataset}[:config][:split] / ms:{dataset}[:split] — requires
    the optional `datasets`/`modelscope` packages; materializes to
    Parquet staging once (reference: storage.py:595-621)."""
    staging_dir = staging_dir or os.path.join("/tmp", "dataflow_spark_staging")
    key = uri.replace(":", "_").replace("/", "_")
    target = os.path.join(staging_dir, key)
    if not os.path.exists(target):
        scheme, rest = uri.split(":", 1)
        parts = rest.split(":")
        if scheme == "hf":
            try:
                from datasets import load_dataset  # optional dependency
            except ImportError as e:  # pragma: no cover
                raise ImportError("hf: sources require the 'datasets' package") from e
            ds = load_dataset(*parts[:2]) if len(parts) > 1 else load_dataset(parts[0])
            split = parts[-1] if len(parts) > 2 else "train"
            pdf = ds[split].to_pandas()
        else:  # pragma: no cover
            raise ImportError("ms: sources require the 'modelscope' package")
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(target)
    return spark.read.parquet(target)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the standard test tables from an sf directory."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None, num_partitions: int = 8,
              lower_bound: int | None = None, upper_bound: int | None = None,
              **options) -> DataFrame:
    """Parallel JDBC scan (reference: MyScale/ClickHouse LIMIT/OFFSET
    paging, storage.py:832-834, and the SQLite/MySQL text2sql
    connectors).

    Spark-native replacement for manual paging: pass a numeric
    ``partition_column`` + bounds and the scan splits into
    ``num_partitions`` range predicates pushed to the database — each
    executor reads its slice concurrently. Requires the JDBC driver jar
    on the classpath (spark.jars); raises Spark's ClassNotFound
    otherwise.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("numPartitions", str(num_partitions))
                  .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
                  .option("upperBound", str(upper_bound if upper_bound is not None else 1 << 31)))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
