package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointOps, Materialized}

/** Storage backend for STANDING incremental-HyperBall state: per-hop
  * stacks of append-only register frames plus the standing edge set.
  * Register max-merge is monotone, idempotent, and order-free, so the
  * true registers at hop h are just the max-merge of everything ever
  * appended to stack h — no alias table, no rewrite on update (the
  * [[graft.streaming.CcStream]] base+alias discipline, with max-merge
  * instead of an alias).
  *
  * Two backends share ONE fold loop ([[HyperBallState.foldBatch]]) —
  * the bit-parity-critical delta propagation exists exactly once:
  *
  *  - [[InMemoryHbRegStore]]: session-local localCheckpoint frames
  *    (the registry rows' deterministic batch-sequenced form);
  *  - [[graft.streaming.HbStream]]'s table store: `bucketBy(node)`
  *    catalog tables, append per delta (the at-rest form — frame count
  *    becomes FILE count, so resolution stays ONE bucketed scan no
  *    matter how many batches folded, and `compact()` max-merges each
  *    hop back to one frame).
  */
private[graft] trait HbRegStore {
  /** HLL precision (register count m = 1 << p). */
  def p: Int

  /** Top maintained hop (stacks exist for 0..maxHop). */
  def maxHop: Int

  /** Registers of `keys` nodes at hop h, max-merged — must never
    * shuffle the corpus-sized standing state (broadcast-semi or
    * pushed-down point probe only); absent nodes produce no row. */
  def resolveFor(h: Int, keys: DataFrame): DataFrame

  /** Hop-0 nodes present among the (batch-bounded) key nodes. */
  def seen0Nodes(keys: DataFrame): DataFrame

  /** Append a materialized delta frame to hop h's standing stack; the
    * store owns its blocks from here on. Each appended frame is
    * node-unique (they are all groupBy/distinct outputs), but nodes
    * repeat ACROSS frames. */
  def appendDelta(h: Int, delta: Materialized): Unit

  /** Append a materialized edge frame to the standing edge set. */
  def appendEdges(e: DataFrame): Unit

  /** The full standing edge set (initial load ∪ every appended batch). */
  def allEdges: DataFrame

  /** Candidate rows (node, regs) from propagating a delta's registers
    * one hop along the standing edges: every dst whose src carries a
    * delta register gets that register. The corpus edge set may SCAN
    * but never shuffles (delta broadcast; the table store additionally
    * pushes the delta's src set down as an In predicate to prune the
    * scan itself). */
  def propagateAlong(delta: DataFrame): DataFrame

  /** Full max-merge resolution of hop h's standing stack. */
  def resolved(h: Int): DataFrame

  /** Grow the state one hop: propagate the resolved top registers one
    * round over ALL standing edges and append the result as the new
    * top stack — the lazy-hop move of the adaptive saturation stop.
    * Chains the raw top frame when the stack has exactly one (the
    * initial-load case: identical plan to the fixed-hop rebuild). */
  final def growHop(): Unit =
    appendDelta(maxHop + 1, CheckpointOps.materialize(
      PageRank.packedPropagateRound(allEdges, resolved(maxHop), 1 << p),
      truncate = true))

  /** [[growHop]] that also returns the new hop's quantized global
    * ball-sum Σ_v ⌊N̂(v)·1e6 + 0.5⌋, summed by the materializing pass
    * itself ([[org.apache.spark.sql.graft.CheckpointOps.materialize]]
    * over [[PageRank.packedRegsWithQ]]) — the adaptive stop's per-hop
    * scalar without a second scan of the frame the round just wrote. */
  final def growHopQ(): Long = {
    val m = 1 << p
    val next = CheckpointOps.materialize(
      PageRank.packedRegsWithQ(
        PageRank.packedPropagateRound(allEdges, resolved(maxHop), m), m),
      truncate = true, sum = Some(2)).select(col("node"), col("regs"))
    appendDelta(maxHop + 1, next)
    next.sum.get
  }

  /** Track a batch/init-local materialized frame (edge frames, empty
    * deltas) that is DEAD once the last fold lands — freed by
    * [[close]], so a long-lived session doesn't accumulate
    * corpus-scale blocks that nothing will read again. */
  def trackTransient(frame: Materialized): Unit

  /** Free every transient block. Standing register frames (the live
    * state backing [[resolved]]) are NOT touched. Call after the last
    * fold/growth — the resolved estimates never read the edges. */
  def close(): Unit
}

/** The session-local backend: frames are localCheckpoint blocks, the
  * in-memory mirror of the at-rest table layout. Backs the registry
  * rows' deterministic batch-sequenced folds. */
private[graft] final class InMemoryHbRegStore(
    val spark: SparkSession, val p: Int) extends HbRegStore {
  private val m = 1 << p
  private val mergeRegs = udaf(new RegisterMaxMerge(m))
  private var frames = Vector.empty[Vector[DataFrame]]
  private var edgeFrames = Vector.empty[DataFrame]
  private val transients =
    scala.collection.mutable.ArrayBuffer.empty[Materialized]
  private val standing =
    scala.collection.mutable.ArrayBuffer.empty[Materialized]

  def maxHop: Int = frames.size - 1

  def resolveFor(h: Int, keys: DataFrame): DataFrame = {
    val probed =
      frames(h).map(_.join(broadcast(keys), Seq("node"), "left_semi"))
    // a single-frame stack's probe is already node-unique (every frame
    // is a groupBy/distinct output), so its max-merge is the identity —
    // skipping the agg drops an exchange per probe in the common case
    // (the resolved() fast path, applied to the semi-probed subset)
    if (probed.size == 1) probed.head
    else probed.reduce(_ union _)
      .groupBy(col("node")).agg(mergeRegs(col("regs")).as("regs"))
  }

  def seen0Nodes(keys: DataFrame): DataFrame = {
    val probed =
      frames(0).map(_.join(broadcast(keys), Seq("node"), "left_semi"))
    if (probed.size == 1) probed.head.select(col("node"))
    else probed.reduce(_ union _).select(col("node")).distinct()
  }

  def appendDelta(h: Int, delta: Materialized): Unit = {
    standing += delta
    if (h == frames.size) frames :+= Vector(delta.frame)
    else frames = frames.updated(h, frames(h) :+ delta.frame)
  }

  def appendEdges(e: DataFrame): Unit = edgeFrames :+= e

  def allEdges: DataFrame = edgeFrames.reduce(_ unionByName _)

  def propagateAlong(delta: DataFrame): DataFrame =
    allEdges
      .join(broadcast(delta.withColumnRenamed("node", "src")), "src")
      .select(col("dst").as("node"), col("regs"))

  def resolved(h: Int): DataFrame =
    // every frame is node-unique, so a single-frame stack IS its own
    // resolution — skipping the agg keeps the initial-load hop chain
    // (and post-compact reads) free of redundant exchanges
    if (frames(h).size == 1) frames(h).head
    else frames(h).reduce(_ unionByName _)
      .groupBy(col("node")).agg(mergeRegs(col("regs")).as("regs"))

  def trackTransient(frame: Materialized): Unit = transients += frame

  def close(): Unit = {
    transients.foreach(_.release())
    transients.clear()
  }

  /** [[close]] plus the STANDING register frames — for callers whose
    * output is driver-local (the adaptive NF row), where nothing will
    * ever resolve the frames again. */
  def closeAll(): Unit = {
    close()
    standing.foreach(_.release())
    standing.clear()
    frames = Vector.empty
    edgeFrames = Vector.empty
  }
}

/** The ONE copy of the standing-state HyperBall algorithms — initial
  * load and monotone delta-propagation fold — shared verbatim by the
  * in-memory registry form and the at-rest table form, so
  * stream == fold == rebuild is structural, not incidental. */
private[graft] object HyperBallState {

  /** Initial load: hop-0 self-sketches for the edge set's source
    * nodes, then one [[PageRank.packedPropagateRound]] per hop chained
    * on the previous hop's frame — the SAME shared round as the
    * fixed-hop rebuild (the fold-equals-rebuild contract). */
  def init(store: HbRegStore, initialEdges: DataFrame, maxHops: Int,
           srcCol: String, dstCol: String): Unit = {
    val e0 = initEdges(store, initialEdges, srcCol, dstCol)
    store.appendDelta(0, CheckpointOps.materialize(
      PageRank.packedInitRegs(
        e0.select(col("src").as("node")).distinct(), store.p),
      truncate = true))
    for (_ <- 1 to maxHops) store.growHop()
  }

  /** [[init]] that also returns every hop's quantized global ball-sum
    * (Σ_v ⌊N̂_h(v)·1e6 + 0.5⌋ for h = 0..maxHops), each summed by its
    * frame's own materializing pass ([[CheckpointOps.materialize]] /
    * [[HbRegStore.growHopQ]]) — the adaptive consumer's starting sums
    * WITHOUT a corpus-wide re-scan of the frames the init just wrote.
    * Long addition is order-free, so the vector is bit-identical to
    * [[HyperBallAdaptive.qsAll]] over the same state. */
  def initQ(store: HbRegStore, initialEdges: DataFrame, maxHops: Int,
            srcCol: String, dstCol: String): Vector[Long] = {
    val e0 = initEdges(store, initialEdges, srcCol, dstCol)
    val r0 = CheckpointOps.materialize(
      PageRank.packedRegsWithQ(PageRank.packedInitRegs(
        e0.select(col("src").as("node")).distinct(), store.p), 1 << store.p),
      truncate = true, sum = Some(2)).select(col("node"), col("regs"))
    store.appendDelta(0, r0)
    var qs = Vector(r0.sum.get)
    for (_ <- 1 to maxHops) qs :+= store.growHopQ()
    qs
  }

  private def initEdges(store: HbRegStore, initialEdges: DataFrame,
                        srcCol: String, dstCol: String): DataFrame = {
    val e0 = CheckpointOps.materialize(
      initialEdges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      truncate = true)
    store.trackTransient(e0)
    store.appendEdges(e0.frame)
    e0.frame
  }

  /** Fold one edge batch into the standing state by monotone delta
    * propagation: a batch's effect is confined to the nodes whose
    * registers actually GREW — per hop, the changed set flows along
    * the standing edges (delta broadcast; the corpus edge set scans
    * but never shuffles), the batch's new edges flow their sources'
    * full hop-(h−1) registers, a node's own growth carries up
    * (r_h ⊇ r_{h−1}), and everything merges against the OLD registers
    * of just the candidate nodes (probed from the standing stacks).
    * Unchanged nodes are never touched, so per-batch work is
    * O(batch ball × hops + corpus scans), where a rebuild pays maxHops
    * corpus-wide register SHUFFLES. Replaying a batch is a structural
    * no-op: no register grows, so no frame appends (the edge append
    * does repeat — duplicate edges are harmless under idempotent
    * max-merge, and compaction dedups them). Contract: the batch's
    * affected ball must be broadcast-sized (the micro-batch regime —
    * corpus-scale batches should rebuild instead).
    *
    * With `trackQ` the fold ALSO returns each hop's quantized global
    * ball-sum DELTA (Σ over this batch's changed nodes of
    * q(new regs) − q(old regs), exact longs — [[PageRank.packedQExpr]],
    * evaluated inside the delta frames' own materializing passes):
    * resolution-after = max-merge(resolution-before, delta frame) per
    * hop, and unchanged nodes keep their registers, so
    * q_h(after) = q_h(before) + delta_h EXACTLY — the adaptive
    * consumer's per-batch sums at batch-bounded cost, where a
    * [[HyperBallAdaptive.qsAll]] re-derivation is a corpus-wide
    * register pass per hop per batch. trackQ=false keeps the original
    * plans verbatim (no q column in the materialized frames). */
  def foldBatch(store: HbRegStore, batch: DataFrame,
                srcCol: String, dstCol: String,
                trackQ: Boolean = false): Vector[Long] = {
    val m = 1 << store.p
    val mergeRegs = udaf(new RegisterMaxMerge(m))
    val newEM = CheckpointOps.materialize(
      batch.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      truncate = true)
    store.trackTransient(newEM)
    val newE = newEM.frame
    // new SRC nodes seed hop-0 sketches — hop-0 presence is "has an
    // out-edge" (the rebuild's n0 node set); a node already known as a
    // pure dst still seeds here, and its self-sketch then carries up
    // through the delta propagation exactly as a rebuild would.
    // Materialized once: the seen-0 probe, the d0 seed, and every hop's
    // old-register resolve all consume it — left lazy, the distinct
    // shuffle re-executes in each of those jobs (batch-local, freed on
    // close)
    val srcNodesM = CheckpointOps.materialize(
      newE.select(col("src").as("node")).distinct(), truncate = true)
    store.trackTransient(srcNodesM)
    val srcNodes = srcNodesM.frame
    val seen0 = store.seen0Nodes(srcNodes)
    // hop-0 delta: new nodes only (anti-join), so q_old = 0 and the
    // tracked sum delta is just Σ q(self-sketch)
    val d0Plan = PageRank.packedInitRegs(
      srcNodes.join(broadcast(seen0), Seq("node"), "left_anti"), store.p)
    val d0 = materializeDelta(
      if (trackQ) PageRank.packedRegsWithQ(d0Plan, m) else d0Plan, trackQ)
    if (d0.rows > 0) store.appendDelta(0, d0)
    else store.trackTransient(d0)
    store.appendEdges(newE)
    var qDeltas = Vector(d0.sum.getOrElse(0L))
    var deltaPrev = d0.frame // empty when no node is new — still valid
    for (h <- 1 to store.maxHop) {
      val viaDelta = store.propagateAlong(deltaPrev)
      val srcRegs = store.resolveFor(h - 1, srcNodes)
      val viaNewE = newE
        .join(broadcast(srcRegs.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), col("regs"))
      val cand = CheckpointOps.materialize(
        viaDelta.union(viaNewE).union(deltaPrev)
          .groupBy(col("node")).agg(mergeRegs(col("regs")).as("regs")),
        truncate = true)
      val old = store.resolveFor(h, cand.frame.select(col("node")))
        .withColumnRenamed("regs", "old_regs")
      val merged = cand.frame.join(old, Seq("node"), "left")
        .select(col("node"),
          when(col("old_regs").isNull, col("regs"))
            .otherwise(zip_with(col("regs"), col("old_regs"),
              (a, c) => greatest(a, c))).as("regs"),
          col("old_regs"))
      val changed = merged.where(col("old_regs").isNull ||
        !(col("regs") <=> col("old_regs")))
      val dh = materializeDelta(
        if (trackQ) changed.select(col("node"), col("regs"),
          (PageRank.packedQExpr(col("regs"), m) -
            coalesce(PageRank.packedQExpr(col("old_regs"), m),
              lit(0L))).as("qd"))
        else changed.select(col("node"), col("regs")), trackQ)
      // cand is dead the moment the delta lands (its consumers — the
      // old-register probe and the merge — all ran inside dh's
      // materialization); free it instead of leaving maxHops × batches
      // ball-sized frames to GC
      cand.release()
      if (dh.rows > 0) store.appendDelta(h, dh)
      else store.trackTransient(dh)
      qDeltas :+= dh.sum.getOrElse(0L)
      deltaPrev = dh.frame
    }
    qDeltas
  }

  /** One fold delta, lineage-truncated. With `trackQ` the plan carries
    * the q delta as column 2, summed by the same pass and projected off
    * the stored frame; without it the plan is materialized verbatim. */
  private def materializeDelta(plan: DataFrame,
                               trackQ: Boolean): Materialized = {
    val d = CheckpointOps.materialize(plan, truncate = true,
      sum = Option.when(trackQ)(2))
    if (trackQ) d.select(col("node"), col("regs")) else d
  }

  /** The RESOLVED per-hop estimate frames (node, n$h) off a standing
    * store — the shape [[PageRank.hyperBallHopEstimates]] yields for
    * the rebuild form, so every downstream fold is one shared copy. */
  def estimates(store: HbRegStore): Seq[DataFrame] =
    (0 to store.maxHop).map { h =>
      PageRank.packedEstimate(store.resolved(h), s"n$h", 1 << store.p)
    }
}

/** The ONE copy of the Boldi-Vigna adaptive saturation stop evaluated
  * over a standing [[HbRegStore]] — shared verbatim by the in-memory
  * incremental form ([[PageRank.hyperBallNeighborhoodIncrementalAdaptive]])
  * and the at-rest table form
  * ([[graft.streaming.HbStream.neighborhoodFunctionAdaptive]]), so the
  * stop rule, the quantization, and the emitted rows cannot drift
  * between them (or from the full-corpus rebuild the oracles replay). */
private[graft] object HyperBallAdaptive {

  /** Every maintained hop's quantized sum (Σ_v ⌊N̂_h(v)·1e6 + 0.5⌋ as
    * an exact long per hop) in ONE job — the per-batch re-derivation
    * would otherwise launch maxHop+1 separate jobs, and at cluster
    * scale each job is a full scheduler barrier. The per-hop terms are
    * exact long sums of the identical floor arithmetic, so the vector
    * is bit-identical to per-hop aggregate jobs. */
  def qsAll(store: HbRegStore): Vector[Long] = {
    val m = 1 << store.p
    val sums = (0 to store.maxHop).map { h =>
        PageRank.packedEstimate(store.resolved(h), "est", m)
          .select(lit(h).as("hop"),
            floor(col("est") * lit(1e6) + lit(0.5)).cast("long").as("q"))
      }.reduce(_ unionByName _)
      .groupBy(col("hop")).agg(sum(col("q")).as("q"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 to store.maxHop).map(h => sums.getOrElse(h, 0L)).toVector
  }

  /** First saturated hop over the CURRENT sums (-1: none in
    * 1..maxHop) — the same quantized-long comparison
    * [[PageRank.hyperBallAdaptiveQs]] drives. */
  def stopHop(qs: Vector[Long], epsilon: Double): Int =
    (1 until qs.size).find(h =>
      (qs(h) - qs(h - 1)).toDouble < epsilon * qs(h).toDouble)
      .getOrElse(-1)

  /** Extend the store one shared propagation round at a time until the
    * stop rule fires over the growing sums (or `hopCap`). Each growth
    * round's sum comes out of its own materialization pass
    * ([[HbRegStore.growHopQ]]) — no second register scan per hop. */
  def growUntilSaturated(store: HbRegStore, qs0: Vector[Long],
                         hopCap: Int, epsilon: Double): Vector[Long] = {
    var qs = qs0
    while (stopHop(qs, epsilon) < 0 && store.maxHop < hopCap) {
      qs :+= store.growHopQ()
    }
    qs
  }

  /** The emitted rows: re-derive the stop over the FINAL corpus sums
    * (growth during intermediate batches may have overshot — later
    * batches can saturate an earlier hop — and the rule is first-h),
    * then (hop, nf, frac) for hop 0..stop; empty when the state holds
    * no mass (no edges anywhere). */
  def emit(spark: SparkSession, qs: Vector[Long], topHop: Int,
           hopCap: Int, epsilon: Double): DataFrame = {
    import spark.implicits._
    if (qs.last == 0L)
      return Seq.empty[(Int, Double, Double)].toDF("hop", "nf", "frac")
    val stop = stopHop(qs, epsilon) match {
      case -1 => math.min(topHop, hopCap)
      case h => h
    }
    val nfStop = qs(stop).toDouble / 1e6
    qs.take(stop + 1).zipWithIndex.map { case (q, h) =>
      val nf = q.toDouble / 1e6
      (h, nf, math.floor(nf / nfStop * 1e6 + 0.5) / 1e6)
    }.toDF("hop", "nf", "frac")
  }
}
