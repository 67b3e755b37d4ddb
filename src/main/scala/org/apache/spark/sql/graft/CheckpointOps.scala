package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
  Expression}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** What one [[CheckpointOps.materialize]] pass produced: the frame on
  * its persisted blocks, the row count of the persisting `count()`
  * action, and the diff / sum scalars when they were asked for (None
  * otherwise). The block handle stays private: [[release]] is the only
  * way to free it, and a [[select]] view shares it. */
final case class Materialized(frame: DataFrame, rows: Long,
                              diff: Option[Long], sum: Option[Long])(
    rdd: RDD[InternalRow]) {

  /** Unpersist the blocks backing [[frame]] (and every [[select]] view
    * of it). Non-blocking; the frame must not be read afterwards. */
  def release(): Unit = rdd.unpersist(false)

  /** The same blocks read through a projection — a pass that carried a
    * helper column only for its sum drops it here, and the view still
    * owns the handle. */
  def select(cols: Column*): Materialized =
    copy(frame = frame.select(cols: _*))(rdd)
}

/** Manual materialization for iterative dataflows — `localCheckpoint`
  * with the pieces `Dataset.localCheckpoint` doesn't give you:
  *
  *  1. **A handle on the persisted RDD** ([[Materialized.release]]), so
  *     the caller can free a round's blocks the moment the next round
  *     has materialized. `Dataset.localCheckpoint` leaks every round's
  *     blocks until JVM GC + ContextCleaner get around to them; in a
  *     long back-to-back query run (or a long-lived cluster app) that
  *     deferred cleanup lands inside LATER queries' run time — measured
  *     in round 3 as a 2-4x inflation of everything benched after the
  *     checkpoint-heavy queries.
  *  2. **Fused scalars**: accumulators count rows where two columns
  *     differ, and sum a long column, DURING the materialization pass,
  *     so an iterative fixpoint (connected components) needs one Spark
  *     job per round, not checkpoint + a second convergence-probe job,
  *     and a loop that needs a global scalar per round (the adaptive-
  *     HyperBall quantized ball-sum) gets it without a second full scan
  *     of the frame it just wrote. The row count is free too (the
  *     persisting `count()` already ran), which is what state-budget
  *     guards read.
  *  3. **Capped stats.** Spark 4's `Dataset.localCheckpoint` keeps
  *     `originStats` from the pre-checkpoint plan (so broadcast decisions
  *     survive checkpointing) — useful, EXCEPT that join size estimates
  *     are PRODUCTS of their input sizes. An iterative algorithm that
  *     joins its own previous result k times per round therefore
  *     compounds the estimate k-fold per round: the BigInt grows to
  *     millions of digits and query planning burns unbounded CPU in
  *     BigInteger.multiply inside stats estimation (measured on a
  *     2000-edge chain: round time 0.4s -> 119s by round 10, the stat at
  *     28M digits). Capping at Long.MaxValue keeps honest small
  *     estimates exact — a genuinely-small materialized frame still
  *     broadcasts — while collapsing runaway products to "huge", which
  *     is all any consumer needs to know. Per-round stats work becomes
  *     O(capped leaves), i.e. flat.
  *
  * InternalRow passthrough (no Row encode/decode), hence the
  * private[sql] access and this file's package.
  */
object CheckpointOps {
  private val Cap = BigInt(Long.MaxValue)

  /** Materialize `df` into persisted blocks in ONE Spark job and return
    * the frame on them with what the pass counted.
    *
    * `diff = Some((a, b))` counts rows where column a != column b
    * (null-safe: null vs non-null is a change, two nulls are not);
    * `sum = Some(i)` sums long column i (nulls skip). Both accumulate
    * inside the persisting count action, so Spark applies each task's
    * update exactly once; only the requested accumulators
    * (`graft.checkpointDiff`, `graft.checkpointSum`) are registered.
    *
    * `truncate` adds LINEAGE TRUNCATION (`RDD.localCheckpoint` before the
    * materializing count). The kept-lineage default is right for
    * FIXED-round loops (3-5 rounds: recompute-on-block-loss survives,
    * plan chain stays small; the logical plan chain grows
    * O(rounds)), but a loop whose round count is DATA-DEPENDENT — SCC's
    * flood fills run for the live subgraph's diameter — serializes the
    * whole parent RDD chain into every task: measured on the 48-node
    * chain spec, task binaries grew 2.3 → 5.3 MiB over the run,
    * O(rounds²) total serialization. Truncating caps the chain at the
    * previous round's materialized blocks. Trade, explicitly: truncated
    * state CANNOT be recomputed after executor loss — a long-lived
    * cluster deployment should periodically reliable-checkpoint the loop
    * state instead (same knob, `sparkContext.setCheckpointDir` +
    * `RDD.checkpoint`); in this engine the truncated frames are
    * round-internal and superseded copies release only after their
    * successor lands. */
  def materialize(df: DataFrame, truncate: Boolean = false,
                  diff: Option[(Int, Int)] = None,
                  sum: Option[Int] = None): Materialized = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cdf.sparkSession
    val qe = cdf.queryExecution
    val types = qe.analyzed.output.map(_.dataType)
    val diffTap = diff.map { case (a, b) => (a, b, types(a), types(b),
      spark.sparkContext.longAccumulator("graft.checkpointDiff")) }
    val sumTap = sum.map(i =>
      (i, spark.sparkContext.longAccumulator("graft.checkpointSum")))
    val rdd = qe.toRdd.mapPartitions { it =>
      it.map { r =>
        diffTap match {
          case Some((a, b, aType, bType, acc)) =>
            val x = if (r.isNullAt(a)) null else r.get(a, aType)
            val y = if (r.isNullAt(b)) null else r.get(b, bType)
            if (x != y) acc.add(1L)
          case None =>
        }
        sumTap match {
          case Some((i, acc)) => if (!r.isNullAt(i)) acc.add(r.getLong(i))
          case None =>
        }
        r.copy()
      }
    }
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    if (truncate) rdd.localCheckpoint()
    val n = rdd.count()
    val orig = qe.optimizedPlan.stats
    val capped = Statistics(
      sizeInBytes = orig.sizeInBytes.min(Cap),
      rowCount = orig.rowCount.map(_.min(Cap)))
    val declared = preservedPartitioning(qe.executedPlan, qe.analyzed.output)
    // the declaration is only truthful because the mapPartitions wrapper
    // preserves partition boundaries — a layout-changing edit here would
    // silently drop join matches downstream, so fail loudly instead
    declared match {
      case _: UnknownPartitioning =>
      case d => require(rdd.getNumPartitions == d.numPartitions,
        s"materialized RDD has ${rdd.getNumPartitions} partitions but " +
          s"the executed plan declared ${d.numPartitions} — " +
          "materialize() no longer preserves partitioning")
    }
    val plan = LogicalRDD(
      qe.analyzed.output, rdd, declared, Nil,
      false, None)(spark, Some(capped), None)
    Materialized(classic.Dataset.ofRows(spark, plan), n,
      diffTap.map(_._5.value), sumTap.map(_._2.value))(rdd)
  }

  /** The materialized frame's physical partitioning, carried onto the
    * LogicalRDD so a downstream join/aggregate keyed the same way skips
    * its Exchange (what `Dataset.checkpoint` itself does; the earlier
    * UnknownPartitioning(0) forced every fixpoint loop to re-shuffle
    * state that the previous round's aggregation had just hash-
    * partitioned — guide §2.4, "two operations keyed the same way can
    * share one exchange"). Read AFTER execution, so under AQE this is
    * the FINAL plan's partitioning (including coalesced shuffle reads,
    * whose CoalescedHashPartitioning still satisfies clustered
    * distributions). Attributes are rewritten positionally from the
    * executed output to the analyzed output the LogicalRDD exposes;
    * anything unmappable (or non-expression) falls back to
    * UnknownPartitioning — never a wrong claim, just a redundant
    * exchange. The wrapping mapPartitions is partition-preserving, so
    * the physical layout matches the declaration exactly. */
  private def preservedPartitioning(executed: SparkPlan,
                                    output: Seq[Attribute]): Partitioning = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val plan = unwrap(executed)
    val attrMap = AttributeMap(plan.output.zip(output))
    firstLeaf(plan.outputPartitioning) match {
      case e: Expression with Partitioning
          if e.references.forall(attrMap.contains) =>
        e.transform { case a: Attribute => attrMap(a) }
          .asInstanceOf[Partitioning]
      case e: Expression => UnknownPartitioning(e match {
        case p: Partitioning => p.numPartitions
        case _ => 0
      })
      case other => other // non-expression: Unknown/RoundRobin/Single
    }
  }
}
