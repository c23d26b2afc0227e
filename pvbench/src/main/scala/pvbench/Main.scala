package pvbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1>` (plus `--root` and `--commit`, which `run.py` passes).
  * Prints every metric by name with its
  * unit and the output-check verdict, writes the full result (host
  * stamp, per-step times, per-span counters) under
  * `pvbench/results/`, and ends stdout with one JSON line:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end
  * metrics untraced, the per-layer metrics traced. */
object Main {
  /** Spark runs `local[Cores]`: one client, four task slots. */
  val Cores = 4

  /** `fault`, `scale` and `setupReps` keep their defaults in benchmark
    * runs; only the self-test plants faults and shrinks the inputs. */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: File, commit: String, fault: Option[Fault] = None,
                        scale: Double = 1.0, setupReps: Int = 3)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      new File(m.getOrElse("root", ".")).getAbsoluteFile, m.getOrElse("commit", "unknown"))
  }

  def session(localDir: File): SparkSession = {
    localDir.mkdirs()
    System.setProperty("spark.local.dir", localDir.getPath)
    System.setProperty("spark.ui.enabled", "false")
    val s = graft.Graft.session(master = s"local[$Cores]")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Everything one run measured, before it is printed. `sessionS` are
    * the repeated session start + input generation times, `warmS` the
    * warm pass; set-up time is their median plus the warm pass. */
  final case class Run(args: Args, workload: Workload, tracer: Tracer, sessionS: Seq[Double], warmS: Double,
                       steps: Seq[(Int, Double, Boolean)], heapMb: Double, verdict: Verdict,
                       error: Option[Throwable])

  /** Set-up (session start + input generation repeated, then the warm
    * pass), closed loop for `seconds`, check. */
  def run(a: Args, work: File): Run = {
    var spark: SparkSession = null
    var w: Workload = null
    var tr: Tracer = null
    val sessionS = (1 to a.setupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(new File(work, s"local$rep"))
      w = Workload(a.workload, a.seed, a.scale)
      tr = new Tracer(spark, new File(work, s"local$rep"), a.fault)
      w.generate(spark, new File(work, s"data$rep"), tr)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - w0) / 1e9
    tr.spans.clear()
    val steps = Vector.newBuilder[(Int, Double, Boolean)]
    var error: Option[Throwable] = None
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // a traced run alternates traced and untraced steps, so it needs two;
    // an untraced run needs one (a corpus_graph step is longer than a run)
    val minSteps = if (a.trace) 2 else 1
    // start a step only if a step of the median length so far still fits
    def fits = System.nanoTime() + (Stats.median(steps.result().map(_._2)) * 1e9).toLong <= deadline
    var i = w.warmSteps - 1
    while (error.isEmpty && (i - w.warmSteps + 1 < minSteps || fits)) {
      i += 1
      val traced = a.trace && i % 2 == 1
      if (traced) tr.start() else tr.stop()
      tr.batch = i
      try {
        w.prepare(i)
        val t0 = System.nanoTime()
        w.step(i)
        steps += ((i, (System.nanoTime() - t0) / 1e9, traced))
        w.after(i)
      } catch { case e: Exception => error = Some(e) }
    }
    tr.stop()
    val heapMb = retainedHeapMb()
    val done = if (error.isEmpty) i else i - 1
    val v = w.check(done)
    val verdict = if (error.isEmpty) v else v.copy(attempted = v.attempted + 1, bad = v.bad + i,
      notes = v.notes :+ s"step $i threw: ${error.get}")
    Run(a, w, tr, sessionS, warmS, steps.result(), heapMb, verdict, error)
  }

  /** Heap in use after a forced GC, the least of five GCs: Spark's
    * context cleaner releases objects asynchronously, so a single GC
    * sometimes still counts garbage that the next one frees. */
  def retainedHeapMb(): Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workload.Names.mkString(", ")})")
    val work = new File(a.root, s"pvbench/work/${a.workload}-${ProcessHandle.current().pid()}")
    Files.delete(work)
    try {
      val m = Metrics(run(a, work))
      val text = Json(m.detail)
      val out = new File(a.root, "pvbench/results")
      out.mkdirs()
      val file = new File(out, s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}.json")
      val pw = new PrintWriter(file)
      try pw.println(text) finally pw.close()
      m.summary.foreach(println)
      println(s"result file: ${a.root.toPath.relativize(file.toPath)}")
      println(Json(m.line))
      SparkSession.getActiveSession.foreach(_.stop())
    } finally Files.delete(work)
  }
}
