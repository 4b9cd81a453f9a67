"""Sinks — extension-dispatched distributed writes.

Reference: FileStorage write dispatch (storage.py:683-696). Parquet is
the default (columnar, splittable, predicate-pushdown-friendly);
pickle and xlsx exports are driver-side and only for small results,
mirroring the reference's debug exports.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from dataflow_spark.core.storage import commit_file


def write_any(df: DataFrame, path: str, fmt: str | None = None,
              mode: str = "overwrite", partition_by: list[str] | None = None,
              **options) -> None:
    ext = fmt or os.path.splitext(path)[1].lstrip(".").lower() or "parquet"
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if ext == "parquet":
        writer.options(**options).parquet(path)
    elif ext == "orc":
        writer.options(**options).orc(path)
    elif ext in ("jsonl", "json"):
        writer.options(**options).json(path)
    elif ext == "csv":
        writer.options(header=True, **options).csv(path)
    elif ext in ("pickle", "pkl"):
        write_pickle(df, path)
    elif ext == "xlsx":
        write_xlsx(df, path)
    else:
        raise ValueError(f"unsupported sink format {ext!r}")


def write_pickle(df: DataFrame, path: str, limit: int = 1_000_000) -> None:
    """Driver-side pandas-pickle export (reference storage.py:683-696
    write dispatch). Bounded collect — exports, not datasets; use
    parquet for anything that should stay distributed."""
    commit_file(path, df.limit(limit).toPandas().to_pickle)


def write_xlsx(df: DataFrame, path: str, limit: int = 100_000) -> None:
    """Driver-side Excel export (reference storage.py:683-696). Needs
    the optional openpyxl engine; raises a clear error without it."""
    try:
        import openpyxl  # noqa: F401 — pandas' xlsx engine
    except ImportError as e:  # pragma: no cover — absent in container
        raise ImportError(
            "write_xlsx requires the optional openpyxl package; "
            "use write_any(..., fmt='parquet'/'csv') instead") from e
    pdf = df.limit(limit).toPandas()
    commit_file(path, lambda tmp: pdf.to_excel(tmp, index=False))


def export_training_corpus(df: DataFrame, path: str,
                           partition_by: list[str] | None = None,
                           cluster_by: list[str] | None = None,
                           shuffle_seed: str | None = None,
                           shuffle_key: str = "doc_id",
                           zorder: bool = False,
                           num_files: int | None = None,
                           mode: str = "overwrite", **options) -> None:
    """Curated-corpus export layout for the 100 TB read path:

    - directory-partitioned by the low-cardinality routing columns
      (``partition_by``, e.g. split/source/lang) so downstream jobs
      prune whole directories at planning time (PartitionFilters);
    - range-clustered by ``cluster_by`` (e.g. the doc id) inside each
      partition: repartitionByRange + sortWithinPartitions gives every
      written file a tight, non-overlapping min/max on the cluster key,
      so parquet row-group statistics skip non-matching ranges on
      point/range lookups.

    With ``shuffle_seed`` set, the corpus is instead written in seeded
    pseudo-random order (md5(seed||key) — a pure function of the data,
    reproducible across runs/engines), the layout training ingestion
    wants; ``cluster_by`` is ignored in that mode.

    With ``zorder=True`` and >= 2 ``cluster_by`` columns, rows are
    ordered by a Morton (Z-order) key over the rank-quantized cluster
    columns instead of lexicographic range order: per-file min/max
    ranges stay tight on EVERY cluster column, so parquet row-group
    skipping works for predicates on any of them (lexicographic order
    only skips on the leading column).

    One range shuffle total; the write itself is parallel per task.
    """
    from pyspark.sql import functions as F

    partition_by = list(partition_by or [])
    cluster_by = list(cluster_by or [])
    # explicit file-count control (per partition dir); without it the
    # range shuffle follows spark.sql.shuffle.partitions and AQE may
    # coalesce small outputs to fewer files
    nf = ([num_files] if num_files else [])
    out = df
    if shuffle_seed is not None:
        hx = F.md5(F.concat(F.lit(shuffle_seed),
                            F.col(shuffle_key).cast("string")))
        out = (df.withColumn("_shuf", hx)
               .repartitionByRange(*nf,
                                   *[F.col(c) for c in partition_by],
                                   F.col("_shuf"))
               .sortWithinPartitions(*(partition_by + ["_shuf"]))
               .drop("_shuf"))
    elif zorder and len(cluster_by) >= 2:
        from dataflow_spark.functions.vector import quantize_rank, zorder_key

        zk = zorder_key([quantize_rank(F.col(c)) for c in cluster_by])
        out = (df.withColumn("_zk", zk)
               .repartitionByRange(*nf,
                                   *[F.col(c) for c in partition_by],
                                   F.col("_zk"))
               .sortWithinPartitions(*(partition_by + ["_zk"]))
               .drop("_zk"))
    else:
        keys = [F.col(c) for c in (partition_by + cluster_by)]
        if keys:
            out = (out.repartitionByRange(*nf, *keys)
                   .sortWithinPartitions(*keys))
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).parquet(path)
