"""StageStore contract: one Spark job per stage write, with row count and
per-partition lineage read from the written files."""

from __future__ import annotations

from pyspark.sql import functions as F

from iscc_specs_spark.sources.storage import StageStore


def _job_ids(sc) -> set[int]:
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_stage_write_is_one_job_with_lineage_from_footers(spark, tmp_path):
    sc = spark.sparkContext
    # 4 range splits of 250 ids; ids >= 750 (the whole last split) and
    # every id ≡ 3 (mod 7) are filtered out
    df = (
        spark.range(0, 1000, numPartitions=4)
        .where((F.col("id") < 750) & (F.col("id") % 7 != 3))
        .select(
            "id",
            F.struct(
                F.col("id").cast("string").alias("s"),
                F.array(F.col("id"), F.lit(None).cast("long")).alias("a"),
            ).alias("m"),
            F.timestamp_seconds("id").alias("ts"),
        )
    )
    store = StageStore(str(tmp_path / "run"), "cfg")

    before = _job_ids(sc)
    out = store.write(df, "stage")
    assert len(_job_ids(sc) - before) == 1

    man = store.manifest("stage")
    assert store.has("stage")
    # the empty last split wrote no file, so it has no lineage entry
    assert [p["partition_id"] for p in man["partitions"]] == [0, 1, 2]
    assert man["rows"] == sum(p["rows"] for p in man["partitions"])
    assert man["rows"] == out.count() == 750 - 107
    assert out.schema == spark.read.parquet(str(tmp_path / "run" / "stage")).schema
