package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointOps, Materialized}

import graft.SparkTestBase

/** The one materialization entry point: what a [[Materialized]] reports
  * (rows, the fused diff and sum) must be exactly what a separate query
  * over the same frame would compute, whichever scalars are requested
  * and whether or not lineage is truncated; and [[Materialized.release]]
  * must actually free the blocks. */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  /** (k, a, b, s): a/b nullable for the diff, s nullable for the sum. */
  private def sample: DataFrame = Seq[(Int, Option[Long], Option[Long],
      Option[Long])](
    (1, Some(1L), Some(1L), Some(10L)), // equal: no change
    (2, Some(1L), Some(2L), None), // differ
    (3, None, Some(1L), Some(5L)), // null vs non-null: a change
    (4, Some(1L), None, Some(-3L)), // non-null vs null: a change
    (5, None, None, None), // two nulls: no change
    (6, Some(7L), Some(7L), Some(100L)) // equal
  ).toDF("k", "a", "b", "s").repartition(3)

  private def rowsOf(m: Materialized): Seq[String] =
    m.frame.collect().map(_.toString).toSeq.sorted

  test("rows is the frame's count, on empty, filtered and aggregated " +
    "inputs") {
    val inputs = Seq[DataFrame](
      spark.range(0, 0).toDF("id"),
      spark.range(0, 1000).toDF("id").where(col("id") % 7 === 3),
      spark.range(0, 5000).groupBy((col("id") % 97).as("g")).count(),
      sample)
    inputs.foreach { df =>
      val m = CheckpointOps.materialize(df)
      assert(m.rows == df.count())
      assert(m.frame.count() == m.rows)
      m.release()
    }
  }

  test("diff counts null vs non-null as a change and two nulls as none") {
    val m = CheckpointOps.materialize(sample, diff = Some((1, 2)))
    assert(m.diff.contains(3L))
    assert(m.sum.isEmpty)
    val ref = sample.where(!(col("a") <=> col("b"))).count()
    assert(m.diff.contains(ref))
    m.release()
    // string columns compare by value, not by reference
    val strs = Seq(("x", "x"), ("x", "y"), (null, "y"), (null, null))
      .toDF("p", "q")
    val ms = CheckpointOps.materialize(strs, diff = Some((0, 1)))
    assert(ms.diff.contains(2L))
    ms.release()
  }

  test("sum skips nulls, and an all-null column sums to 0") {
    val m = CheckpointOps.materialize(sample, sum = Some(3))
    assert(m.sum.contains(112L))
    assert(m.diff.isEmpty)
    m.release()
    val nulls = CheckpointOps.materialize(
      sample.select(lit(null).cast("long").as("s")), sum = Some(0))
    assert(nulls.sum.contains(0L))
    nulls.release()
  }

  test("diff and sum requested together equal each requested alone") {
    val both = CheckpointOps.materialize(sample, diff = Some((1, 2)),
      sum = Some(3))
    val d = CheckpointOps.materialize(sample, diff = Some((1, 2)))
    val s = CheckpointOps.materialize(sample, sum = Some(3))
    assert(both.diff == d.diff && both.sum == s.sum)
    assert(both.rows == d.rows && both.rows == s.rows)
    assert(rowsOf(both) == rowsOf(d))
    Seq(both, d, s).foreach(_.release())
  }

  test("truncated and kept lineage give the same rows and scalars") {
    val plan = sample.join(sample.select(col("k"), (col("k") * 2).as("k2")),
      "k")
    val kept = CheckpointOps.materialize(plan, diff = Some((1, 2)),
      sum = Some(3))
    val cut = CheckpointOps.materialize(plan, truncate = true,
      diff = Some((1, 2)), sum = Some(3))
    assert(rowsOf(kept) == rowsOf(cut))
    assert(kept.rows == cut.rows && kept.diff == cut.diff &&
      kept.sum == cut.sum)
    kept.release()
    cut.release()
  }

  test("release() unpersists the blocks, including through a select view") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val m = CheckpointOps.materialize(sample, truncate = true)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 1)
    val view = m.select(col("k"))
    assert(view.rows == m.rows)
    view.release()
    assert((sc.getPersistentRDDs.keySet & added).isEmpty)
  }
}
