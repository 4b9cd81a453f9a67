"""Format readers/writers and the streaming-batch runner."""

from pyspark.sql import functions as F

from dataflow_spark.sources.readers import read_any
from dataflow_spark.sources.writers import write_any


def test_roundtrip_formats(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "hello", 0.5), (2, "world", 1.5)], ["i", "text", "score"])
    for fmt, ext in [("parquet", "parquet"), ("json", "jsonl"), ("csv", "csv")]:
        path = str(tmp_path / f"out_{fmt}")
        write_any(df, path, fmt=fmt)
        back = read_any(spark, path, fmt=fmt)
        if fmt == "csv":
            back = back.select(F.col("i").cast("long"), "text",
                               F.col("score").cast("double"))
        got = sorted(tuple(r) for r in back.select("i", "text", "score").collect())
        assert got == [(1, "hello", 0.5), (2, "world", 1.5)], fmt


def test_read_any_by_extension(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["i", "s"])
    p = str(tmp_path / "data.parquet")
    df.write.parquet(p)
    assert read_any(spark, p).count() == 1


def test_pickle_write_read_roundtrip(spark, tmp_path):
    from dataflow_spark.sources.readers import read_any
    from dataflow_spark.sources.writers import write_any

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    p = str(tmp_path / "export.pkl")
    write_any(df, p)
    back = read_any(spark, p)
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_xlsx_write_gated(spark, tmp_path):
    import pytest

    from dataflow_spark.sources.writers import write_xlsx

    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="openpyxl"):
            write_xlsx(df, str(tmp_path / "x.xlsx"))
    else:
        write_xlsx(df, str(tmp_path / "x.xlsx"))
        assert (tmp_path / "x.xlsx").exists()


def test_export_training_corpus_prunes_and_clusters(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from dataflow_spark.core.registry import get_operator
    from dataflow_spark.sources.writers import export_training_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    labeled = get_operator("SplitAssignOperator", {}).run(docs)
    out = str(tmp_path / "corpus")
    export_training_corpus(labeled, out, partition_by=["split"],
                           cluster_by=["doc_id"])

    # directory partitioning exists
    assert glob.glob(f"{out}/split=train/*.parquet")

    # planning-time partition pruning: only the train directory is read
    back = spark.read.parquet(out).filter(F.col("split") == "train")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan

    # range clustering: per partition dir, file-level doc_id min/max
    # ranges never overlap (row-group stats can skip)
    for d in glob.glob(f"{out}/split=*"):
        ranges = []
        for f in glob.glob(f"{d}/*.parquet"):
            t = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
            if t:
                ranges.append((min(t), max(t)))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2

    # nothing lost in the export
    assert spark.read.parquet(out).count() == docs.count()


def test_export_training_corpus_shuffled(spark, tmp_path):
    import glob
    import hashlib

    import pyarrow.parquet as pq

    from dataflow_spark.sources.writers import export_training_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shuffled")
    export_training_corpus(docs, out, shuffle_seed="s1",
                           shuffle_key="doc_id")

    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert files
    seen = []
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        seen.extend(ids)
        # within every file rows follow md5('s1'||doc_id) order exactly
        hs = [hashlib.md5(f"s1{i}".encode()).hexdigest() for i in ids]
        assert hs == sorted(hs)
    # nothing lost, and the physical order is NOT the source order
    assert sorted(seen) == list(range(len(seen)))
    assert seen != sorted(seen)


def test_global_shuffle_operator(spark):
    import hashlib

    from dataflow_spark.core.registry import get_operator

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    op = get_operator("GlobalShuffleOperator", {
        "key": "doc_id", "n_shards": 4, "seed": "s2"})
    rows = op.run(docs).select("doc_id", "shard", "pos").collect()
    assert len(rows) == docs.count()

    # shard/pos reproduce the pure-python definition exactly
    expect = {}
    for r in rows:
        hx = hashlib.md5(f"s2{r['doc_id']}".encode()).hexdigest()
        shard = int(hx[:15], 16) % 4
        assert r["shard"] == shard
        expect.setdefault(shard, []).append((hx, r["doc_id"], r["pos"]))
    for shard, entries in expect.items():
        entries.sort()
        for want_pos, (_, _, got_pos) in enumerate(entries, start=1):
            assert got_pos == want_pos

    # positions within a shard are a contiguous 1..n sequence
    for shard, entries in expect.items():
        assert sorted(e[2] for e in entries) == list(range(1, len(entries) + 1))


def test_export_zorder_tightens_both_dims(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from dataflow_spark.sources.writers import export_training_corpus

    # two independent dimensions; lexicographic clustering on (a, b)
    # leaves per-file b-ranges at full width, z-order tightens both
    df = (spark.range(4096)
          .select(F.col("id").alias("a"),
                  F.pmod(F.col("id") * 2654435761, F.lit(4096)).alias("b")))

    def mean_range(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            vals = pq.read_table(f, columns=[col])[col].to_pylist()
            if vals:
                spans.append(max(vals) - min(vals))
        return sum(spans) / len(spans)

    lex, zo = str(tmp_path / "lex"), str(tmp_path / "zo")
    export_training_corpus(df, lex, cluster_by=["a", "b"], num_files=16)
    export_training_corpus(df, zo, cluster_by=["a", "b"],
                           zorder=True, num_files=16)

    n_lex = spark.read.parquet(lex).count()
    n_zo = spark.read.parquet(zo).count()
    assert n_lex == n_zo == 4096

    # a-dim: lexicographic is optimal; z-order must stay comparable
    # b-dim: z-order must be far tighter than the (near-full-width)
    # lexicographic layout
    assert mean_range(zo, "b") < 0.5 * mean_range(lex, "b")
    assert mean_range(zo, "a") < 4096  # both dims bounded, not just one
