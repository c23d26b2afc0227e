package pvbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PvbenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A fault planted in `span` by the benchmark's own wrapper, never in
  * the program. `kind` is one of
  *   - `slow`     the span's body takes twice as long (the wrapper
  *                sleeps for the body's own duration);
  *   - `job`      one extra single-task job runs inside the span;
  *   - `exchange` the workload routes a frame the span consumes or
  *                produces through one extra round-robin exchange.
  * The self-test plants each one and checks that the metric meant to
  * catch it does. */
final case class Fault(kind: String, span: String)

/** One public module call as the client saw it. Counter fields are
  * filled only for traced spans; `seconds` is always measured. */
final case class Span(id: Long, name: String, batch: Int, traced: Boolean,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      gcMs: Long, gcCount: Long, codegenNs: Long,
                      persistentRdds: Int, cachedRelations: Int, shuffleDirBytes: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listener counters attributed to one traced span. */
final case class SpanCounters(jobs: Int, stages: Int, tasks: Int, taskS: Double, cpuS: Double,
                              shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                              shuffleReadBytes: Long, spillBytes: Long, reducePartitions: Int,
                              outputBytes: Long, outputRecords: Long,
                              maxConcurrentJobs: Int, planningS: Double, queries: Int)

/** Records one span per public module call, from the benchmark's side of
  * the API. When tracing is on, every job the call starts carries the
  * span id as a Spark local property (inherited by driver threads the
  * call spawns, e.g. `graft.util.Par` workers), and a listener files
  * stage/task counters under the job's span. Query planning phases are
  * filed by time interval (spans never overlap: one client, closed
  * loop). Residue (persistent RDDs, cached relations, bytes under the
  * shuffle/spill dir) is read after every traced call and never reset. */
final class Tracer(spark: SparkSession, localDir: File, fault: Option[Fault]) {
  import Tracer._

  private val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var tracing = false
  var batch: Int = -1

  private final case class JobRec(span: Long, startMs: Long, var endMs: Long)
  private final case class TaskRec(stageId: Int, durMs: Long, cpuNs: Long,
                                   swBytes: Long, swRecs: Long, srBytes: Long, srBlocks: Long,
                                   spill: Long, outBytes: Long, outRecs: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stagesRun = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[(Long, Double)]() // (first phase start ms, planning s)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
      sp.foreach { id =>
        jobs.put(e.jobId, JobRec(id, e.time, e.time))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageJob.containsKey(e.stageInfo.stageId)) stagesRun.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        val sr = m.shuffleReadMetrics
        tasks.add(TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          sr.totalBytesRead, sr.localBlocksFetched + sr.remoteBlocksFetched,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        queries.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1000.0))
    }
  }

  /** Attach the listeners; spans from now on are traced. */
  def start(): Unit = if (!tracing) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    tracing = true
  }

  /** Deliver pending events, then detach: later spans are untraced. */
  def stop(): Unit = if (tracing) {
    PvbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    tracing = false
  }

  def span[A](name: String)(body: => A): A = {
    nextId += 1
    val id = nextId
    val traced = tracing
    if (traced) sc.setLocalProperty(SpanProp, id.toString)
    val (gc0, gcn0) = gc()
    val cg0 = CodeGenerator.compileTime
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      fault.filter(_.span == name).foreach {
        case Fault("slow", _) => Thread.sleep((System.nanoTime() - t0) / 1000000L)
        case Fault("job", _) => sc.parallelize(Seq(1), 1).count()
        case _ => ()
      }
      out
    } finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      if (traced) sc.setLocalProperty(SpanProp, null)
      val (gc1, gcn1) = gc()
      val res = if (traced) Residue.read(spark, localDir) else Residue.Zero
      spans += Span(id, name, batch, traced, t0, t1, ms0, ms1,
        gc1 - gc0, gcn1 - gcn0, CodeGenerator.compileTime - cg0,
        res.persistentRdds, res.cachedRelations, res.shuffleDirBytes)
    }
  }

  /** A frame the span consumes or produces, through one extra
    * round-robin exchange when the `exchange` fault targets the span. */
  def exchange(name: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (fault.contains(Fault("exchange", name))) df.repartition(cores) else df

  /** Counters per traced span id; call after [[stop]]. */
  def counters(): Map[Long, SpanCounters] = {
    val jobBySpan = jobs.asScala.toSeq.groupBy(_._2.span)
    val spanOfStage = (s: Int) => Option(jobs.get(stageJob.get(s))).map(_.span)
    val stagesBySpan = stagesRun.asScala.toSeq.flatMap(s => spanOfStage(s)).groupBy(identity)
    val tasksBySpan = tasks.asScala.toSeq.flatMap(t => spanOfStage(t.stageId).map(_ -> t))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val traced = spans.filter(_.traced)
    val qBySpan = queries.asScala.toSeq.flatMap { case (ms, s) =>
      traced.find(sp => ms >= sp.startMs && ms <= sp.endMs).map(_.id -> s)
    }.groupBy(_._1)
    traced.map { sp =>
      val js = jobBySpan.getOrElse(sp.id, Nil).map(_._2)
      val ts = tasksBySpan.getOrElse(sp.id, Nil)
      val edges = js.flatMap(j => Seq((j.startMs, 1), (j.endMs, -1))).sortBy(e => (e._1, e._2))
      val maxConc = edges.scanLeft(0)(_ + _._2).max
      val q = qBySpan.getOrElse(sp.id, Nil)
      sp.id -> SpanCounters(js.size, stagesBySpan.getOrElse(sp.id, Nil).size, ts.size,
        ts.map(_.durMs).sum / 1000.0, ts.map(_.cpuNs).sum / 1e9,
        ts.map(_.swBytes).sum, ts.map(_.swRecs).sum, ts.map(_.srBytes).sum, ts.map(_.spill).sum,
        ts.count(_.srBlocks > 0), ts.map(_.outBytes).sum, ts.map(_.outRecs).sum,
        maxConc, q.map(_._2).sum, q.size)
    }.toMap
  }
}

object Tracer {
  val SpanProp = "pvbench.span"

  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.max(0L)).sum, beans.map(_.getCollectionCount.max(0L)).sum)
  }
}

final case class Residue(persistentRdds: Int, cachedRelations: Int, shuffleDirBytes: Long)

object Residue {
  val Zero = Residue(0, 0, 0L)

  def read(spark: SparkSession, localDir: File): Residue = {
    Residue(spark.sparkContext.getPersistentRDDs.size, PvbenchBridge.cachedRelations(spark),
      Files.du(localDir))
  }
}
