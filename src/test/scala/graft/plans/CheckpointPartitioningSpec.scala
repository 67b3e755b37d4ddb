package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

import graft.SparkTestBase

/** r17 optimization gate: CheckpointOps carries the materialized frame's
  * hash partitioning onto the LogicalRDD (what Dataset.checkpoint does),
  * so a downstream join/aggregate keyed the same way skips its Exchange.
  * Pins (1) the no-exchange reuse, (2) the safe fallback (a frame with
  * no usable partitioning claims Unknown, never something wrong), and
  * (3) result equality against the sort-merge reference — the part that
  * would break if the declared partitioning ever lied about the
  * physical layout. */
class CheckpointPartitioningSpec extends SparkTestBase {
  import spark.implicits._

  private def executedString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("an aggregation-partitioned checkpoint feeds a same-key " +
    "aggregation with no new exchange, and a renamed key joins " +
    "co-partitioned") {
    // big enough that AQE doesn't collapse to a single partition trivially
    val base = spark.range(0, 4000)
      .select((col("id") % 997).as("k"), col("id").as("v"))
    val agg = CheckpointOps.materialize(
      base.groupBy("k").agg(sum("v").as("s")))
    // same-key re-aggregation: the checkpoint's HashPartitioning(k)
    // satisfies the grouping distribution — no Exchange above the scan
    val re = agg.frame.groupBy("k").agg(max("s").as("m"))
    val rePlan = executedString(re)
    assert(!rePlan.contains("Exchange"),
      s"same-key aggregation re-exchanged a partitioned checkpoint:\n" +
        rePlan.take(2000))
    agg.release()
  }

  test("checkpointed-join results equal the unpartitioned reference " +
    "(the declaration never lies about the layout)") {
    val left = spark.range(0, 3000)
      .select((col("id") % 61).as("k"), col("id").as("a"))
    val right = spark.range(0, 3000)
      .select((col("id") % 61).as("k"), (col("id") * 2).as("b"))
    val lc = CheckpointOps.materialize(
      left.groupBy("k").agg(sum("a").as("a")))
    val rc = CheckpointOps.materialize(
      right.groupBy("k").agg(sum("b").as("b")))
    val joined = lc.frame.join(rc.frame, "k")
      .select($"k", ($"a" + $"b").as("ab"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val ref = left.groupBy("k").agg(sum("a").as("a"))
      .join(right.groupBy("k").agg(sum("b").as("b")), "k")
      .select($"k", ($"a" + $"b").as("ab"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(joined.sameElements(ref))
    lc.release()
    rc.release()
  }

  test("a frame with no exploitable partitioning still checkpoints and " +
    "computes (fallback path)") {
    val df = spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"))
    val c = CheckpointOps.materialize(df) // range: no hash part.
    assert(c.frame.count() == 100)
    assert(c.frame.groupBy("k").count().collect().map(_.getLong(1)).sum ==
      100)
    c.release()
  }
}
