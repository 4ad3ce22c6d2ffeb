"""Input-table construction (io/sources.py): both read_transcripts
branches — parquet path AND catalog table name (the production Iceberg
entry, `spark.read.table`) — feed the identical pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from doctr_spark.io.sources import read_transcripts, transcripts_from_documents

SF_DIR = "/root/testdata/sf0.001"


def test_read_transcripts_parquet_branch(spark, tmp_path):
    t = transcripts_from_documents(spark, SF_DIR)
    path = str(tmp_path / "transcripts_pq")
    t.write.mode("overwrite").parquet(path)
    got = read_transcripts(spark, path)
    assert got.columns == t.columns
    assert got.count() == t.count()


def test_read_transcripts_table_branch(spark):
    """A '/'-free input routes through spark.read.table — the production
    Iceberg seam. The sandbox has no Iceberg jar, so a catalog-registered
    (temp view) table stands in; the point is that the table entry is
    live code with the same schema contract, not a dead branch."""
    t = transcripts_from_documents(spark, SF_DIR)
    t.createOrReplaceTempView("transcripts_seam")
    try:
        got = read_transcripts(spark, "transcripts_seam")
        assert got.columns == t.columns
        n = got.where(F.col("text").contains("<doc:")).count()
        assert n == t.count() > 0
    finally:
        spark.catalog.dropTempView("transcripts_seam")


def test_scan_parallel_non_numeric_shuffle_partitions(spark, monkeypatch):
    """Databricks Runtime's ``spark.sql.shuffle.partitions=auto`` (which
    open-source Spark refuses to set, hence the stubbed conf) must not
    crash the keyed small-scan guard: it falls back to
    ``defaultParallelism`` partitions and keeps every row."""
    from doctr_spark.io.sources import scan_parallel

    df = spark.range(0, 100, 1, 1).withColumn("k", F.col("id") % 7)
    conf = df.sparkSession.conf
    real_get = conf.get

    def get(key, *default):
        return "auto" if key == "spark.sql.shuffle.partitions" else real_get(key, *default)

    monkeypatch.setattr(conf, "get", get)
    out = scan_parallel(df, "k")
    monkeypatch.undo()
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(out.collect()) == sorted(df.collect())
