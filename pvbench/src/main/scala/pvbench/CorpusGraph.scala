package pvbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The rebuild's two analytics jobs in one closed loop: each step runs
  * one [[CorpusDedup]] day (probe → append → maybe-consolidate against
  * the at-rest dedup index), then one [[GraphAnalytics]] round
  * (PageRank, connected components, capped 2-hop aggregation) over the
  * trade graph. The two halves share nothing but the session; each keeps
  * its own inputs, reference and check. They run as one workload so
  * that a run can measure long enough on a noisy four-core host (see
  * METRICS.md, "Why two workloads"). */
final class CorpusGraph(seed: Long, scale: Double) extends Workload {
  val dedup = new CorpusDedup(seed, scale)
  val graph = new GraphAnalytics(seed, scale)
  private val parts = Seq(dedup, graph)

  val prefix = "corpus_graph"
  val items = "records"
  /** Documents probed plus directed edges of the trade graph. */
  def itemsPerStep: Long = dedup.itemsPerStep + graph.itemsPerStep
  val ops = Seq(
    "dedup_day" -> dedup.ops.flatMap(_._2),
    "graph_round" -> Seq("graph.page_rank", "graph.connected_components", "graph.neighborhood_agg"))
  def params: Map[String, Any] = Map("dedup" -> dedup.params, "graph" -> graph.params)

  def generate(spark: SparkSession, dir: File, tr: Tracer): Unit = {
    dedup.generate(spark, new File(dir, "corpus"), tr)
    graph.generate(spark, new File(dir, "graph"), tr)
  }
  def warm(): Unit = parts.foreach(_.warm())
  override def prepare(i: Int): Unit = parts.foreach(_.prepare(i))
  def step(i: Int): Unit = parts.foreach(_.step(i))
  override def after(i: Int): Unit = parts.foreach(_.after(i))

  /** A step fails when either of its halves does. */
  def check(n: Int): Verdict = {
    val vs = parts.map(_.check(n))
    Verdict(n + 1, vs.flatMap(_.bad).toSet, vs.flatMap(_.notes))
  }
  override def figures: Map[String, (Double, String)] = dedup.figures ++ graph.figures
  override def layerFigures(traced: Set[Int]): Map[String, Double] =
    dedup.layerFigures(traced) ++ graph.layerFigures(traced)
}
