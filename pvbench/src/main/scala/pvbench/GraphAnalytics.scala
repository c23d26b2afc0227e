package pvbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** Graph analytics over a symmetrized supplier↔customer trade graph
  * built from a seeded order set (the `q_pagerank` shape): each round
  * runs PageRank, connected components and the capped 2-hop
  * neighborhood aggregation, and collects each result, as a caller
  * consuming them would.
  *
  * Supplier choice is skewed (a few hub suppliers), so the 2-hop cap of
  * 32 binds. The reference replays all three operators on the driver
  * from the generated edge list: PageRank's documented integer
  * recursion, min-id union-find, and the capped distinct 2-hop set with
  * exact decimal sums. */
final class GraphAnalytics(seed: Long, scale: Double) extends Workload {
  private val nSuppliers = 400
  private val nCustomers = math.max(200, (800 * scale).toInt)
  private val nOrders = math.max(300, (1400 * scale).toInt)
  private val CustBase = 1000000L
  private val Iterations = 2
  private val Scale = 1000000000L
  private val MaxDegree = 32

  val ops = Seq(
    "pagerank" -> Seq("graph.page_rank"),
    "nbr_agg" -> Seq("graph.neighborhood_agg"))

  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var dir: File = _
  private var trade: Seq[(Long, Long)] = _
  private var value: Map[Long, Double] = _
  private var results: (Array[Row], Array[Row], Array[Row]) = _
  private val matches = mutable.Map.empty[Int, Boolean]
  private lazy val expected = Reference(trade, value)

  private lazy val edgeCount = trade.flatMap { case (s, c) => Seq((s, c), (c, s)) }.distinct.size
  val prefix = "graph"
  val items = "edges"
  def itemsPerStep: Long = edgeCount.toLong
  /** Nodes of the trade graph: the rows PageRank returns. */
  def nodeCount: Long = trade.flatMap { case (s, c) => Seq(s, c) }.distinct.size.toLong
  def params: Map[String, Any] = Map("suppliers" -> nSuppliers, "customers" -> nCustomers,
    "orders" -> nOrders, "directed_edges" -> edgeCount, "pagerank_iterations" -> Iterations,
    "hops" -> 2, "max_degree" -> MaxDegree)

  def generate(s: SparkSession, d: File, t: Tracer): Unit = {
    spark = s; tr = t; dir = d
    import s.implicits._
    val r = new SplittableRandom(seed)
    trade = (1 to nOrders).flatMap { _ =>
      val cust = CustBase + 1 + r.nextInt(nCustomers)
      Seq.fill(1 + r.nextInt(4)) {
        val u = r.nextDouble()
        (1L + (nSuppliers * u * u * u).toLong, cust)
      }
    }
    value = ((1L to nSuppliers) ++ (CustBase + 1 to CustBase + nCustomers))
      .map(n => n -> (r.nextInt(2000000) - 100000) / 100.0).toMap
    trade.toDF("src", "dst").coalesce(1).write.parquet(new File(dir, "trade").getPath)
    value.toSeq.toDF("node", "val").coalesce(1).write.parquet(new File(dir, "values").getPath)
  }

  def warm(): Unit = { step(0); after(0) }

  def step(i: Int): Unit = {
    val sc = spark.read.parquet(new File(dir, "trade").getPath)
    val edges = sc.select(inline(array(struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))))
    val values = spark.read.parquet(new File(dir, "values").getPath)
    val ranks = tr.span("graph.page_rank") {
      tr.exchange("graph.page_rank",
        GraphOps.pageRank(edges, "src", "dst", iterations = Iterations, scale = Scale)).collect()
    }
    val comps = tr.span("graph.connected_components") {
      tr.exchange("graph.connected_components",
        GraphOps.connectedComponents(edges, "src", "dst")).collect()
    }
    val feats = tr.span("graph.neighborhood_agg") {
      tr.exchange("graph.neighborhood_agg", GraphOps.neighborhoodAgg(edges, "src", "dst",
        values, "node", "val", hops = 2, maxDegree = MaxDegree)).collect()
    }
    results = (ranks, comps, feats)
  }

  override def after(i: Int): Unit = {
    val (ranks, comps, feats) = results
    val (eRank, eComp, eFeat) = expected
    matches(i) =
      ranks.map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap == eRank &&
      comps.map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap == eComp &&
      feats.map(r => r.getAs[Long]("node") -> ((r.getAs[Long]("n_neighbors"),
        r.getAs[Double]("sum_val"), r.getAs[Double]("avg_val")))).toMap == eFeat
    results = null
  }

  def check(n: Int): Verdict = {
    val bad = (0 to n).filterNot(matches.getOrElse(_, false))
    Verdict(n + 1, bad.toSet,
      Seq(s"rounds mismatching the driver replay: ${bad.mkString(",")}"))
  }

  /** The stated PageRank iteration count, to divide the span's jobs by. */
  override def layerFigures(traced: Set[Int]): Map[String, Double] =
    Map("graph.pagerank_iterations" -> Iterations.toDouble)

  /** Driver-side replay of the three operators' documented semantics. */
  private object Reference {
    def apply(trade: Seq[(Long, Long)], value: Map[Long, Double])
    : (Map[Long, Long], Map[Long, Long], Map[Long, (Long, Double, Double)]) = {
      val e = trade.flatMap { case (s, c) => Seq((s, c), (c, s)) }.distinct
      val out = e.groupMap(_._1)(_._2).map { case (k, v) => k -> v.sorted.toVector }
      val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
      val n = nodes.size.toLong
      // rank' = (scale·3/20)/n + (85 · Σ_in (rank_src div outdeg_src)) div 100
      var rank = nodes.map(_ -> Scale / n).toMap
      (1 to Iterations).foreach { _ =>
        val in = mutable.Map.empty[Long, Long].withDefaultValue(0L)
        e.foreach { case (s, d) => in(d) += rank(s) / out(s).size }
        rank = nodes.map(v => v -> ((Scale * 3L / 20L) / n + (85L * in(v)) / 100L)).toMap
      }
      val parent = mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val root = find(p); parent(x) = root; root }
      }
      e.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
      }
      val comp = nodes.map(v => v -> find(v)).toMap
      val capped = out.map { case (m, ns) => m -> ns.take(MaxDegree) }
      val feats = out.map { case (u, ns) =>
        val set = (ns ++ ns.flatMap(m => capped(m)).filter(_ != u)).distinct
        val sum = set.map(v => BigDecimal(value(v)).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
        u -> ((set.size.toLong, sum.toDouble, sum.toDouble / set.size))
      }
      (rank, comp, feats)
    }
  }
}
