package pvbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Self-test of the benchmark's measuring stick: span attribution, and
  * three planted faults that the metrics must catch. */
class TracerSpec extends AnyFunSuite {
  private val root = new File("target/selftest").getAbsoluteFile

  private def args(fault: Option[Fault], trace: Boolean) = Main.Args(
    workload = "corpus_graph", seed = 7, seconds = 0, trace = trace, root = root,
    commit = "selftest", fault = fault, scale = 0.3, setupReps = 1)

  private def run(fault: Option[Fault], trace: Boolean): Main.Run = {
    val work = new File(root, s"work-${System.nanoTime()}")
    try {
      val r = Main.run(args(fault, trace), work)
      assert(r.verdict.failed == 0, r.verdict.notes.mkString("; "))
      r
    } finally {
      org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
      Files.delete(work)
    }
  }

  /** Per traced call of `span`: its listener counters. */
  private def countersOf(r: Main.Run, span: String): Seq[SpanCounters] = {
    val c = r.tracer.counters()
    r.tracer.spans.filter(s => s.traced && s.name == span).map(s => c(s.id)).toSeq
  }

  private def bound(metric: String): Double = {
    val text = scala.io.Source.fromFile(new File("../BENCHMARK.json")).mkString
    val at = text.indexOf("\"" + metric + "\"")
    assert(at >= 0, s"$metric not in BENCHMARK.json")
    "\"bound\":\\s*([0-9.]+)".r.findFirstMatchIn(text.substring(at)).get.group(1).toDouble
  }

  test("jobs started on graft.util.Par worker threads land in the calling span") {
    val dir = new File(root, s"attr-${System.nanoTime()}")
    val spark = Main.session(new File(dir, "local"))
    try {
      val tr = new Tracer(spark, new File(dir, "local"), None)
      tr.start()
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      tr.span("one") { spark.range(1000).selectExpr("sum(id)").collect() }
      spark.range(1000).selectExpr("sum(id)").collect() // outside every span
      tr.span("par") {
        graft.util.Par.jobs(
          () => { seen.add(spark.sparkContext.getLocalProperty(Tracer.SpanProp)); spark.range(1000).selectExpr("sum(id)").collect() },
          () => { seen.add(spark.sparkContext.getLocalProperty(Tracer.SpanProp)); spark.range(1000).selectExpr("sum(id)").collect() })
      }
      tr.stop()
      val c = tr.counters()
      val one = tr.spans.find(_.name == "one").get
      val par = tr.spans.find(_.name == "par").get
      assert(c(one.id).jobs >= 1)
      assert(c(par.id).jobs == 2 * c(one.id).jobs, "both worker-thread jobs belong to the calling span")
      assert(c(par.id).tasks == 2 * c(one.id).tasks)
      assert(seen.toArray.toSet == Set(par.id.toString))
      assert(c.values.map(_.jobs).sum == 3 * c(one.id).jobs, "the job outside every span is not attributed")
    } finally {
      spark.stop()
      Files.delete(dir)
    }
  }

  test("planted faults: a 2x slow op breaks its end-to-end bound; an extra job and an extra exchange show as exact counts") {
    val base = run(None, trace = true)

    // one extra job inside the components call: +1 job on that span, every traced call
    val job = run(Some(Fault("job", "graph.connected_components")), trace = true)
    val (bj, fj) = (countersOf(base, "graph.connected_components"), countersOf(job, "graph.connected_components"))
    assert(bj.nonEmpty && fj.size == bj.size)
    fj.zip(bj).foreach { case (f, b) => assert(f.jobs == b.jobs + 1, s"jobs ${b.jobs} -> ${f.jobs}") }
    val layer = (r: Main.Run, n: String) => Metrics(r).perLayer.find(_._1 == n).get._2
    assert(layer(job, "sched.jobs") == layer(base, "sched.jobs") + 1)

    // one extra exchange on the ranks PageRank returns: shuffle records grow by exactly one per node
    val ex = run(Some(Fault("exchange", "graph.page_rank")), trace = true)
    val rows = ex.workload.asInstanceOf[CorpusGraph].graph.nodeCount
    val be = countersOf(base, "graph.page_rank")
    val fe = countersOf(ex, "graph.page_rank")
    assert(be.nonEmpty && fe.size == be.size)
    fe.zip(be).foreach { case (f, b) =>
      assert(f.shuffleWriteRecords == b.shuffleWriteRecords + rows,
        s"shuffle records ${b.shuffleWriteRecords} -> ${f.shuffleWriteRecords}, nodes $rows")
    }
    assert(layer(ex, "shuffle.write_records") == layer(base, "shuffle.write_records") + rows)

    // a 2x slowdown of PageRank: the graph round's end-to-end metric moves
    // past its bound. Later runs in one JVM run faster (the JIT keeps
    // compiling), so the baseline runs just before the slowed run.
    val baseUntraced = run(None, trace = false)
    val slow = run(Some(Fault("slow", "graph.page_rank")), trace = false)
    val e2e = (r: Main.Run, n: String) => Metrics(r).endToEnd.find(_._1 == n).get._3
    val ratio = e2e(slow, "op2_p50_s") / e2e(baseUntraced, "op2_p50_s")
    assert(ratio > 1 + bound("op2_p50_s"), s"op2_p50_s ratio $ratio")
  }
}
