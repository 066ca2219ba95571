"""Co-located bucketed join: the incremental diff runs with NO shuffle on
either side when both tables are bucketed on the join key."""

import os

from pyspark.sql import functions as F

from fscrawler_spark.plans.bucketed import colocated_tick_delta, write_bucketed


def test_colocated_join_has_no_shuffle(spark, transcripts_dir, tmp_path):
    src = spark.read.parquet(os.path.join(transcripts_dir, "transcripts.parquet"))
    prev = src.filter(F.col("turn_idx") % 7 != 0)  # some rows "new"
    write_bucketed(src, "cur_b", buckets=8)
    write_bucketed(
        prev.select("conv_id", "turn_idx", F.sha2("text", 256).alias("_ck"), "role", "tool", "ts"),
        "prev_b",
        buckets=8,
    )
    # at test scale Spark would broadcast; force the SMJ path the planner
    # takes at 100 TB so the bucketed no-shuffle property is what's pinned
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        diff = colocated_tick_delta(spark, spark.table("cur_b"), "prev_b")
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]
        # correctness: exactly the rows absent from prev, all new, none deleted
        expected = src.filter(F.col("turn_idx") % 7 == 0).count()
        rows = diff.collect()
        assert len(rows) == expected
        assert all(r["changed"] and not r["in_prev"] and not r["deleted"] for r in rows)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS cur_b")
        spark.sql("DROP TABLE IF EXISTS prev_b")
