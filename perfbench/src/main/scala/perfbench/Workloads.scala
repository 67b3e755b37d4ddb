package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.er.EntityResolution
import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Dedup, SpatialJoins}
import graft.staging.CityAssignment
import graft.streaming.{CcStream, DedupStream, HbStream, IncrementalIngest}

/** What one workload submits. `pass` runs one complete pass through the
  * workload's operations, each through [[Runner.op]]. */
trait Workload {
  def name: String
  /** Once per run, before warm-up: standing structures and the like. */
  def init(r: Runner): Unit = ()
  def pass(r: Runner, passNo: Int): Unit
  /** Once per run, after the timed loop: final-state checks. */
  def finish(r: Runner): Unit = ()
  /** Row names whose oracle digests the run needs. */
  def oracleRows: Seq[String]
  /** A batch workload measures one cold pass per run; a standing one
    * repeats passes while `hasWork` and time remain, at least `minPasses`. */
  def batch: Boolean = true
  def hasWork: Boolean = true
  def minPasses: Int = 1
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "kg_etl" => KgEtl
    case "graph_x10" => GraphX10
    case "standing_state" => new StandingState
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The customer lattice the spatial registry rows derive from the key
    * (same formula as the rows and their oracles). */
  def custPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("lat", lit(40.0) + (col("c_custkey") % 97).cast("double") * 0.002)
      .withColumn("lon", lit(-75.0) +
        pmod(floor(col("c_custkey") / 97.0), lit(89.0)) * 0.002)

  def suppPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .withColumn("lat", lit(40.0003) + (col("s_suppkey") % 97).cast("double") * 0.002)
      .withColumn("lon", lit(-75.0) +
        pmod(floor(col("s_suppkey") / 97.0), lit(89.0)) * 0.002)

  def registryRow(r: Runner, name: String, layer: String): Unit =
    r.op(name, layer, "row", Some(name)) {
      SparkEntry.queries(name)(r.spark, r.dir)
    }
}

/** The paper's batch dataflow at the kg_etl scale: sources, staging, ER,
  * enrichment, exports and the whole pipeline, as registry rows. */
object KgEtl extends Workload {
  import Workloads._
  val name = "kg_etl"

  private val rows: Seq[(String, String)] = Seq(
    "s4_xml_pages" -> "sources", "s7_csv_repair" -> "sources",
    "k9_wv_places" -> "sources",
    "g4_region_cascade" -> "staging", "p5_bbox_filter" -> "staging",
    "p6_distance_guard" -> "staging", "p7_geometry_recheck" -> "staging",
    "g1_acceptance_rule" -> "er", "j6_fuzzy_name_join" -> "er",
    "g2_connected_components" -> "operators.cc", "g3_canonical_mint" -> "er",
    "g8_audit_band" -> "er", "g9_alias_votes" -> "er",
    "g6_component_lift" -> "er", "g10_listings_nearby" -> "operators.grid_join",
    "a8_blended_zscore" -> "enrich",
    "k5_nested_doc" -> "exports", "k8_poi_cards" -> "exports",
    // these four write their files under /tmp, at paths named after the
    // input directory (run.py removes them after the run)
    "k1_partitioned_sink" -> "exports", "k3_csv_roundtrip" -> "exports",
    "k4_jsonl_roundtrip" -> "exports", "k11_merge_upsert" -> "exports")

  def oracleRows: Seq[String] = rows.map(_._1) :+ "pipe_kg_etl"

  def pass(r: Runner, passNo: Int): Unit = {
    rows.foreach { case (n, layer) => registryRow(r, n, layer) }
    // the traced run replays the pipeline in every pass, traced or not,
    // so the passes it compares for the tracing overhead do the same work
    if (r.replay) r.op("pipe_kg_etl", "pipeline", "row", Some("pipe_kg_etl"))(
      pipeReplay(r))
    else registryRow(r, "pipe_kg_etl", "pipeline")
  }

  /** `pipe_kg_etl` replayed stage by stage through the same public calls
    * as the registry row. In traced passes each stage runs in its own span,
    * forced with a local checkpoint so every span holds its own work;
    * untraced, it runs as the row does. Its output must reproduce the
    * row's digest. */
  private def pipeReplay(r: Runner): DataFrame = {
    val (s, dir) = (r.spark, r.dir)
    val cities = t(s, dir, "region")
      .select(col("r_regionkey").cast("string").as("slug"),
        concat(lit("city-"), col("r_regionkey").cast("string")).as("name"),
        (lit(40.0) + col("r_regionkey") * 0.04).as("center_lat"),
        lit(-74.95).as("center_lon"),
        lit(3.0).as("radius_km"),
        col("r_regionkey").cast("long").as("city_order"))
      .withColumn("min_lat", col("center_lat") - 0.01)
      .withColumn("max_lat", col("center_lat") + 0.01)
      .withColumn("min_lon", col("center_lon") - 0.02)
      .withColumn("max_lon", col("center_lon") + 0.02)
      .withColumn("polygon", array(
        struct((col("center_lat") + 0.008).as("lat"), col("center_lon").as("lon")),
        struct(col("center_lat").as("lat"), (col("center_lon") + 0.016).as("lon")),
        struct((col("center_lat") - 0.008).as("lat"), col("center_lon").as("lon")),
        struct(col("center_lat").as("lat"), (col("center_lon") - 0.016).as("lon"))))
    val places = r.stage("places", "sources")(custPoints(s, dir).select(
      col("c_custkey").as("place_id"), col("c_name").as("name"),
      col("lat"), col("lon")))
    val assigned = r.stage("CityAssignment.assign", "staging")(
      CityAssignment.assign(places, cities, hintCol = None)
        .where(col("city_slug").isNotNull))
    // the row checkpoints `members` and `memberCanon`; so does the replay
    val members = r.stage("CityAssignment.distanceGuard", "staging", checkpoint = true)(
      CityAssignment.distanceGuard(assigned, cities, maxKm = 2.5)
        .select("place_id", "name", "lat", "lon", "city_slug"))
    r.note("staging.rows_in", r.rowsOf("places"))
    r.note("staging.rows_assigned", r.rowsOf("CityAssignment.distanceGuard"))
    val pairs = r.stage("SpatialJoins.gridSelfJoin", "operators.grid_join")(
      SpatialJoins.gridSelfJoin(members, "place_id", "lat", "lon",
        radiusM = 200.0, extraKeys = Seq("city_slug")))
    val links = r.stage("TextFunctions.levRatioCol", "er")(pairs
      .join(members.select(col("place_id").as("a_id"),
        col("name").as("a_name")), "a_id")
      .join(members.select(col("place_id").as("b_id"),
        col("name").as("b_name")), "b_id")
      .withColumn("sim", TextFunctions.levRatioCol(col("a_name"), col("b_name")))
      .where(col("sim") >= 0.9 ||
        (col("sim") >= 0.85 && col("meters") <= 200.0) ||
        (col("sim") >= 0.8 && col("meters") <= 180.0))
      .select(col("a_id").as("a"), col("b_id").as("b"),
        col("a_city_slug").as("city_slug")))
    r.note("er.candidate_pairs", r.rowsOf("SpatialJoins.gridSelfJoin"))
    r.note("er.accepted_links", r.rowsOf("TextFunctions.levRatioCol"))
    val cmap = r.stage("EntityResolution.canonicalMapFromLinks", "er")(
      EntityResolution.canonicalMapFromLinks(members, links))
    val memberCanon = r.stage("member_canon", "er", checkpoint = true)(members.drop("city_slug")
      .join(cmap, col("place_id") === col("source_place_id"))
      .select(col("place_id"), col("lat"), col("lon"),
        col("canonical_id"), col("canonical_name"), col("city_slug")))
    val wq = Window.partitionBy("canonical_id")
      .orderBy(length(col("o_orderpriority")).desc, col("o_orderkey").asc)
    val revAgg = r.stage("review_lift", "enrich")(t(s, dir, "orders")
      .join(memberCanon, col("o_custkey") === col("place_id"))
      .withColumn("rn", row_number().over(wq))
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("n_reviews"),
        round(sum("o_totalprice"), 2).as("revenue"),
        array_join(transform(array_sort(collect_list(
          when(col("rn") <= 2, struct(col("rn"),
            substring(col("o_orderpriority"), 1, 120).as("txt"))))),
          x => x.getField("txt")), " | ").as("quotes")))
    val listAgg = r.stage("SpatialJoins.gridWithinJoin", "operators.grid_join")(
      SpatialJoins.gridWithinJoin(memberCanon, suppPoints(s, dir),
          "place_id", "s_suppkey", thresholdM = 300.0)
        .join(memberCanon.select("place_id", "canonical_id"), "place_id")
        .groupBy("canonical_id")
        .agg(countDistinct("s_suppkey").as("listings_nearby")))
    val base = memberCanon
      .groupBy("canonical_id", "canonical_name", "city_slug")
      .agg(count(lit(1)).as("n_members"))
      .join(revAgg, Seq("canonical_id"), "left")
      .join(listAgg, Seq("canonical_id"), "left")
      .withColumn("n_reviews", coalesce(col("n_reviews"), lit(0L)))
      .withColumn("revenue", coalesce(col("revenue"), lit(0.0)))
      .withColumn("quotes", coalesce(col("quotes"), lit("")))
      .withColumn("listings_nearby", coalesce(col("listings_nearby"), lit(0L)))
    val wz = Window.partitionBy("city_slug")
    val mu = avg(col("listings_nearby").cast("double")).over(wz)
    val sd = stddev_samp(col("listings_nearby").cast("double")).over(wz)
    base.withColumn("z",
        round(when(sd === 0 || sd.isNull, 0.0)
          .otherwise((col("listings_nearby") - mu) / sd), 4) + 0.0)
      .withColumn("flag", when(col("z") >= 1.0, "high")
        .when(col("z") >= 0.0, "medium").otherwise("low"))
      .select("canonical_id", "canonical_name", "city_slug", "n_members",
        "n_reviews", "revenue", "listings_nearby", "z", "flag", "quotes")
  }
}

/** The data-bound regime: four graph rows on the 10x key-stride replica. */
object GraphX10 extends Workload {
  import Workloads._
  val name = "graph_x10"
  private val rows = Seq(
    "g2_connected_components" -> "operators.cc",
    "gr_pagerank" -> "operators.pagerank",
    "gr_kcore_full" -> "operators.kcore",
    "gr_coreness" -> "operators.coreness")
  def oracleRows: Seq[String] = rows.map(_._1)
  def pass(r: Runner, passNo: Int): Unit =
    rows.foreach { case (n, layer) => registryRow(r, n, layer) }
}

/** Writes beside reads: three standing structures (HyperBall registers,
  * connected components, a MinHash index) initialised once, then micro
  * batches (0.1 % of each structure's edges or documents, at least one)
  * folded into each, every fold followed by a fixed set of point probes,
  * until the time is up (at most `MaxMicro`). Then one medium batch (the
  * rest of the pool, at least 5 %) is folded in, the structures are
  * compacted, and the final state must equal the rebuild oracle over all
  * edges and documents. Batches are consecutive ranks of a seeded order
  * (`rankKey`, integer arithmetic the DuckDB oracle repeats), so their
  * sizes are exact, their contents move with the seed, and every
  * intermediate state has an oracle: each probe and each fold output is
  * checked against the rebuild over the initial load plus the batches
  * folded so far. */
final class StandingState extends Workload {
  import Workloads._
  val name = "standing_state"

  private val hbPrefix = "pb_hb"
  private val ccBase = "pb_cc_base"
  private val ccAlias = "pb_cc_alias"
  private val mhIndex = "pb_mh_index"

  // the final-state expectations: the registry rows whose oracles are the
  // full rebuild over the same edge and document sets
  def oracleRows: Seq[String] =
    Seq("st_hyperball_atrest", "gr_cc_incremental", "st_compact_probe")

  /** One structure's input, ranked in the seeded order: ranks below
    * `pool` are the batch pool (room for MaxMicro micro batches and the
    * medium one), the rest is the initial load. */
  private final class Ranked(val path: String, n: Long) {
    val micro: Long = math.max(1L, math.round(n * StandingState.MicroShare))
    val pool: Long = math.round(n * StandingState.MediumShare) +
      StandingState.MaxMicro * micro
    def read(r: Runner): DataFrame = r.spark.read.parquet(path)
    def slice(r: Runner, lo: Long, hi: Long): DataFrame =
      read(r).where(col("rank") >= lo && col("rank") < hi).drop("rank")
    def initial(r: Runner): DataFrame = read(r).where(col("rank") >= pool).drop("rank")
    /** The nodes the `i`-th micro batch touches. */
    def batchNodes(r: Runner, i: Long): Seq[Long] =
      slice(r, i * micro, (i + 1) * micro).collect()
        .flatMap(x => Seq(x.getLong(0), x.getLong(1))).toSeq
  }

  private var hb: Ranked = _
  private var cc: Ranked = _
  private var mh: Ranked = _
  private var microDone = 0L
  private var probeNodes: Seq[Long] = Nil
  private var probeDocs: DataFrame = _

  private def root(r: Runner) = s"${r.work}/state"

  /** Ranks the (a, b) pairs of `df` (b = 0 for documents) by `rankKey`. */
  private def ranked(r: Runner, df: DataFrame, name: String, a: String,
                     b: Column): Ranked = {
    val path = s"${root(r)}/input/$name"
    df.withColumn("rank", row_number().over(Window.orderBy(
        StandingState.rankKey(col(a), b, r.seed), col(a), b)) - 1L)
      .write.mode("overwrite").parquet(path)
    new Ranked(path, r.spark.read.parquet(path).count())
  }

  override def init(r: Runner): Unit = {
    val s = r.spark
    val dir = r.dir
    r.span("streaming.init", "streaming") {
      val pts = custPoints(s, dir)
      def edges(radius: Double) = SpatialJoins.gridSelfJoin(
          pts, "c_custkey", "lat", "lon", radiusM = radius)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      // undirected pairs; HyperBall gets both directions of a pair at once
      hb = ranked(r, edges(250.0), "hb", "src", col("dst"))
      cc = ranked(r, edges(200.0), "cc", "src", col("dst"))
      // the standing index population of st_compact_probe
      mh = ranked(r, t(s, dir, "documents").where(
          pmod(col("doc_id"), lit(4)) =!= 0 || pmod(col("doc_id"), lit(8)) === 0),
        "docs", "doc_id", lit(0L))

      HbStream.init(bidir(hb.initial(r)), hbPrefix, s"${root(r)}/hb/gen0",
        maxHops = 3, p = 6)
      CcStream.writeCcBase(ConnectedComponents.run(cc.initial(r)),
        ccBase, s"${root(r)}/cc/gen0/base")
      s.createDataFrame(s.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType.fromDDL("c BIGINT, canon BIGINT"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"${root(r)}/cc/alias").saveAsTable(ccAlias)
      Dedup.writeMinHashIndex(Dedup.minHashIndex(mh.initial(r), "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2),
        mhIndex, s"${root(r)}/mh/gen0")
    }
    val hbNodes = hb.read(r).select(col("src").as("node"))
      .union(hb.read(r).select(col("dst").as("node"))).distinct()
    probeNodes = hbNodes
      .orderBy(StandingState.rankKey(col("node"), lit(0L), r.seed), col("node"))
      .limit(StandingState.ProbeNodes).collect().map(_.getLong(0)).toSeq
    probeDocs = t(s, dir, "documents").where(pmod(col("doc_id"), lit(8)) === 4)
      .orderBy(StandingState.rankKey(col("doc_id"), lit(0L), r.seed), col("doc_id"))
      .limit(StandingState.ProbeDocs).localCheckpoint(true)
  }

  private def bidir(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** Hands one batch to each structure (`range` gives its rank range);
    * each op ends when the structure's state can be queried. The MinHash
    * fold's output pairs are checked under `mhKey`. */
  private def fold(r: Runner, range: Ranked => (Long, Long), kind: String,
                   mhKey: String): Unit = {
    val s = r.spark
    def batch(x: Ranked) = { val (lo, hi) = range(x); x.slice(r, lo, hi) }
    r.op("hb_ingest", "streaming", kind, None) {
      HbStream.ingestBatch(bidir(batch(hb)), hbPrefix)
      null
    }
    r.op("cc_ingest", "streaming", kind, None) {
      s.catalog.refreshTable(ccBase)
      s.catalog.refreshTable(ccAlias)
      val (inserts, newAlias) = ConnectedComponents.incrementalMergeParts(
        s.table(ccBase), s.table(ccAlias), batch(cc))
      val ins = inserts.localCheckpoint(true)
      val al = newAlias.localCheckpoint(true)
      ins.write.mode("append").insertInto(ccBase)
      al.write.mode("overwrite").insertInto(ccAlias)
      null
    }
    r.op("mh_ingest", "streaming", kind, Some(mhKey)) {
      s.catalog.refreshTable(mhIndex)
      val docs = batch(mh).localCheckpoint(true)
      val pairs = DedupStream.ingestFold(s.table(mhIndex), Seq(docs),
        "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
        simThreshold = 0.25).localCheckpoint(true)
      Dedup.minHashIndex(docs, "doc_id", "text", shingleN = 3, bands = 8,
        rowsPerBand = 2).write.mode("append").insertInto(mhIndex)
      pairs
    }
  }

  private def compact(r: Runner): Unit = {
    val s = r.spark
    r.op("hb_compact", "streaming", "compact", None) {
      HbStream.compact(s, hbPrefix, s"${root(r)}/hb/gen1"); null
    }
    r.op("cc_compact", "streaming", "compact", None) {
      CcStream.compact(s, ccBase, ccAlias, s"${root(r)}/cc/gen1/base"); null
    }
    r.op("mh_compact", "streaming", "compact", None) {
      // the index TTL of st_compact_probe: documents below id 100 age out
      IncrementalIngest.compactIndex(s, mhIndex, s"${root(r)}/mh/gen1",
        retain = col("id") >= 100)
      null
    }
  }

  /** The point probes after micro batch `i`: the seeded probe nodes plus
    * the nodes the batch touched, and the seeded probe documents, each
    * checked against the oracle of state `i + 1`. */
  private def probes(r: Runner, i: Long): Unit = {
    val s = r.spark
    val k = i + 1
    val hbNodes = (probeNodes ++ hb.batchNodes(r, i)).distinct
    val ccNodes = (probeNodes ++ cc.batchNodes(r, i)).distinct
    r.op("hb_harmonic_points", "streaming", "probe", Some(s"hb_probe/$k"))(
      HbStream.harmonic(s, hbPrefix).where(col("node").isin(hbNodes: _*))
        .select(col("node"), (round(col("harmonic_est"), 4) + 0.0).as("harmonic_est")))
    r.op("cc_label_points", "streaming", "probe", Some(s"cc_probe/$k")) {
      s.catalog.refreshTable(ccBase)
      s.catalog.refreshTable(ccAlias)
      ConnectedComponents.resolveLabels(
        s.table(ccBase).where(col("node").isin(ccNodes: _*)), s.table(ccAlias))
    }
    r.op("mh_probe", "streaming", "probe", Some(s"mh_probe/$k")) {
      s.catalog.refreshTable(mhIndex)
      Dedup.incrementalMinHash(s.table(mhIndex), probeDocs, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.25)
    }
  }

  override def batch: Boolean = false
  override def hasWork: Boolean = microDone < StandingState.MaxMicro
  // a pass's time moves by a sixth from pass to pass; the median of three
  // keeps one slow pass out of pass_s
  override def minPasses: Int = 3

  def pass(r: Runner, passNo: Int): Unit = {
    val i = microDone
    fold(r, x => (i * x.micro, (i + 1) * x.micro), "ingest", s"mh_ingest/$i")
    microDone += 1
    probes(r, i)
  }

  override def finish(r: Runner): Unit = {
    val s = r.spark
    // the medium batch takes the rest of the pool, so the final state
    // covers every edge and document
    val done = microDone
    fold(r, x => (done * x.micro, x.pool), "ingest_medium", s"mh_ingest_medium/$done")
    compact(r)
    r.check("st_hyperball_atrest", "st_hyperball_atrest")(
      HbStream.neighborhoodFunction(s, hbPrefix))
    r.check("gr_cc_incremental", "gr_cc_incremental") {
      s.catalog.refreshTable(ccBase)
      s.catalog.refreshTable(ccAlias)
      ConnectedComponents.resolveLabels(s.table(ccBase), s.table(ccAlias))
    }
    r.check("st_compact_probe", "st_compact_probe") {
      s.catalog.refreshTable(mhIndex)
      Dedup.incrementalMinHash(s.table(mhIndex),
        t(s, r.dir, "documents").where(pmod(col("doc_id"), lit(8)) === 4),
        "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
        simThreshold = 0.25)
    }
  }
}

object StandingState {
  val MicroShare = 0.001
  val MediumShare = 0.05
  val MaxMicro = 9
  val ProbeNodes = 8
  val ProbeDocs = 16
  /** The registry rows whose oracle SQL `oracle.py` adapts to the
    * intermediate states (edge or index set replaced by the state's). */
  val Templates = Seq("gr_hyperball_incremental", "gr_cc_incremental",
    "st_compact_probe")

  private val P = 2147483647L
  /** The seeded batch order: integer arithmetic on non-negative keys that
    * `oracle.rank_key` repeats in DuckDB. */
  def rankKey(a: Column, b: Column, seed: Long): Column =
    ((a * 1000003L + b) % P * 48271L + Math.floorMod(seed, P)) % P

  def planJson: String =
    s"""{"micro_share": $MicroShare, "medium_share": $MediumShare, """ +
      s""""max_micro": $MaxMicro, "probe_nodes": $ProbeNodes, "probe_docs": $ProbeDocs}"""
}
