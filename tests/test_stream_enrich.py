"""Stream-static enrichment: streaming result equals the batch twin,
and the static side refreshes between micro-batches."""

from __future__ import annotations

from gtfs_realtime_etl_spark.streaming.enrich import enrich_stream

SCHEMA = "route_id string, speed double"


def _write_json(spark, path, rows, mode):
    spark.createDataFrame(rows, SCHEMA).write.mode(mode).json(path)


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    dim_path = str(tmp_path / "dim")
    _write_json(spark, src, [("R1", 10.0), ("R2", 20.0), ("R3", 30.0)], "overwrite")
    spark.createDataFrame(
        [("R1", "express"), ("R2", "local")], "route_id string, kind string"
    ).write.mode("overwrite").parquet(dim_path)

    stream = spark.readStream.schema(SCHEMA).json(src)
    enriched = enrich_stream(
        stream, spark.read.parquet(dim_path), on="route_id"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_t1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["route_id"], r["speed"], r["kind"])
        for r in spark.sql("select * from enriched_t1").collect()
    }
    expect = {
        (r["route_id"], r["speed"], r["kind"])
        for r in enrich_stream(
            spark.read.schema(SCHEMA).json(src),
            spark.read.parquet(dim_path),
            on="route_id",
        ).collect()
    }
    assert got == expect
    assert ("R3", 30.0, None) in got  # left join preserves the stream side


def test_static_side_refreshes_between_batches(spark, tmp_path):
    """The dimension is re-read per micro-batch: rows arriving after a
    dim update join against the NEW snapshot."""
    src = str(tmp_path / "src")
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_json(spark, src, [("R1", 10.0)], "overwrite")
    spark.createDataFrame(
        [("R1", "old")], "route_id string, kind string"
    ).write.mode("overwrite").parquet(dim_path)

    def run_once():
        stream = spark.readStream.schema(SCHEMA).json(src)
        enriched = enrich_stream(
            stream, spark.read.parquet(dim_path), on="route_id"
        )
        q = (
            enriched.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # Update the dim AND add stream data; restart from the checkpoint —
    # only the NEW file is processed, and it joins the NEW dim snapshot.
    spark.createDataFrame(
        [("R1", "new")], "route_id string, kind string"
    ).write.mode("overwrite").parquet(dim_path)
    _write_json(spark, src, [("R1", 99.0)], "append")
    run_once()

    rows = {
        (r["speed"], r["kind"]) for r in spark.read.parquet(out).collect()
    }
    assert rows == {(10.0, "old"), (99.0, "new")}
