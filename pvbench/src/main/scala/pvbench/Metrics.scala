package pvbench

import java.lang.management.ManagementFactory

/** Turns a [[Main.Run]] into the printed metrics and the result file. */
final case class Metrics(r: Main.Run) {
  private val a = r.args
  private val w = r.workload
  private val prefix = w.prefix

  private val steps = r.steps.filter(!_._3)
  private val tracedSteps = r.steps.filter(_._3).map(_._1).toSet
  private val spansByStep = r.tracer.spans.groupBy(_.batch)

  private def opSeconds(spans: Seq[String]): Double =
    Stats.median(steps.map(s => spansByStep.getOrElse(s._1, Nil).filter(sp => spans.contains(sp.name)).map(_.seconds).sum))

  /** End-to-end figures, from untraced steps: generic names (the
    * benchmark contract) and the workload's own names. */
  lazy val endToEnd: Seq[(String, String, Double, String)] = if (steps.isEmpty) Nil else {
    val secs = steps.map(_._2)
    val items = s"${w.items}_per_s"
    val opNames = w.ops.map(_._1)
    Seq(
      ("setup_s", "setup_s", Stats.median(r.sessionS) + r.warmS, "s"),
      ("batch_p50_s", s"$prefix.batch_p50_s", Stats.median(secs), "s"),
      ("items_per_s", s"$prefix.$items", secs.size * w.itemsPerStep / secs.sum, "1/s"),
      ("op1_p50_s", s"$prefix.${opNames(0)}_s", opSeconds(w.ops(0)._2), "s"),
      ("op2_p50_s", s"$prefix.${opNames(1)}_s", opSeconds(w.ops(1)._2), "s"),
      ("retained_heap_mb", "retained_heap_mb", r.heapMb, "MB"))
  }

  /** Per-layer figures from traced steps: per-step sums over the
    * layer's spans, median over traced steps (residue: after the last
    * traced call; trace overhead: traced against untraced calls). */
  lazy val perLayer: Seq[(String, Double, String)] = if (tracedSteps.isEmpty) Nil else {
    val counters = r.tracer.counters()
    val traced = tracedSteps.toSeq.sorted
    val zero = SpanCounters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    def perStep(pick: Span => Boolean)(f: (Span, SpanCounters) => Double): Double =
      Stats.median(traced.map(i => spansByStep.getOrElse(i, Nil).filter(pick)
        .map(s => f(s, counters.getOrElse(s.id, zero))).sum))
    val all = (_: Span) => true
    def named(ns: String*) = (s: Span) => ns.exists(n => s.name == n || s.name.startsWith(n + "."))
    def secs(p: Span => Boolean) = perStep(p)((s, _) => s.seconds)
    def count(p: Span => Boolean)(f: SpanCounters => Double) = perStep(p)((_, c) => f(c))
    val extra = w.layerFigures(tracedSteps)
    val prJobs = count(named("graph.page_rank"))(_.jobs)
    val merged = count(named("merge"))(_.outputRecords)
    val last = r.tracer.spans.filter(_.traced).lastOption
    // like for like: per span name, the median traced call against the
    // median untraced one
    val both = r.tracer.spans.filter(_.batch >= 1).groupBy(_.name)
      .values.flatMap { ss =>
        val (t, u) = ss.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None else Some((Stats.median(t.map(_.seconds)), Stats.median(u.map(_.seconds))))
      }
    Seq(
      ("extract.watermark_s", secs(named("extract")), "s"),
      ("transform.build_s", secs(named("schema", "clean", "meta")), "s"),
      ("relational.strict_join_s", secs(named("relational")), "s"),
      ("relational.check_jobs", count(named("relational"))(_.jobs), "count"),
      ("merge.upsert_s", secs(named("merge.upsert")), "s"),
      ("merge.append_s", secs(named("merge.append")), "s"),
      ("merge.bytes_written", count(named("merge"))(_.outputBytes), "bytes"),
      ("merge.rows_written", merged, "count"),
      ("merge.partitions_rewritten", extra.getOrElse("merge.partitions_rewritten", 0.0), "count"),
      ("merge.useful_row_frac", if (merged > 0) w.itemsPerStep / merged else 0.0, "frac"),
      ("merge.write_amp", extra.getOrElse("merge.write_amp", 0.0), "ratio"),
      ("dedup.probe_s", secs(named("dedup.dedup_against_index")), "s"),
      ("dedup.append_s", secs(named("dedup.append_to_dedup_index")), "s"),
      ("dedup.consolidate_s", secs(named("dedup.maybe_consolidate_dedup_index")), "s"),
      ("dedup.consolidations", extra.getOrElse("dedup.consolidations", 0.0), "count"),
      ("dedup.index_files", extra.getOrElse("dedup.index_files", 0.0), "count"),
      ("dedup.survivor_frac", extra.getOrElse("dedup.survivor_frac", 0.0), "frac"),
      ("graph.pagerank_s", secs(named("graph.page_rank")), "s"),
      ("graph.components_s", secs(named("graph.connected_components")), "s"),
      ("graph.nbr_agg_s", secs(named("graph.neighborhood_agg")), "s"),
      ("graph.jobs_per_iter", extra.get("graph.pagerank_iterations").fold(0.0)(prJobs / _), "count"),
      ("sql.planning_s", count(all)(_.planningS), "s"),
      ("sql.codegen_compile_s", perStep(all)((s, _) => s.codegenNs / 1e9), "s"),
      ("sql.queries", count(all)(_.queries), "count"),
      ("sched.jobs", count(all)(_.jobs), "count"),
      ("sched.stages", count(all)(_.stages), "count"),
      ("sched.tasks", count(all)(_.tasks), "count"),
      ("sched.idle_core_s", perStep(all)((s, c) => s.seconds * r.tracer.cores - c.taskS), "s"),
      ("sched.core_util", perStep(all)((_, c) => c.taskS) /
        math.max(1e-9, perStep(all)((s, _) => s.seconds * r.tracer.cores)), "frac"),
      ("par.max_concurrent_jobs", traced.map(i => spansByStep.getOrElse(i, Nil)
        .map(s => counters.getOrElse(s.id, zero).maxConcurrentJobs).maxOption.getOrElse(0)).max.toDouble, "count"),
      ("exec.task_s", count(all)(_.taskS), "s"),
      ("exec.task_cpu_s", count(all)(_.cpuS), "s"),
      ("shuffle.write_bytes", count(all)(_.shuffleWriteBytes), "bytes"),
      ("shuffle.write_records", count(all)(_.shuffleWriteRecords), "count"),
      ("shuffle.read_bytes", count(all)(_.shuffleReadBytes), "bytes"),
      ("shuffle.spill_bytes", count(all)(_.spillBytes), "bytes"),
      ("shuffle.reduce_partitions", count(all)(_.reducePartitions), "count"),
      ("jvm.gc_s", perStep(all)((s, _) => s.gcMs / 1000.0), "s"),
      ("jvm.gc_count", perStep(all)((s, _) => s.gcCount.toDouble), "count"),
      ("residue.persistent_rdds", last.fold(0.0)(_.persistentRdds.toDouble), "count"),
      ("residue.cached_relations", last.fold(0.0)(_.cachedRelations.toDouble), "count"),
      ("residue.shuffle_dir_bytes", last.fold(0.0)(_.shuffleDirBytes.toDouble), "bytes"),
      ("trace.overhead_frac", if (both.isEmpty) 0.0 else both.map(_._1).sum / both.map(_._2).sum - 1, "frac"))
  }

  /** Per span name: calls, median seconds, median counters (traced). */
  private def spanTable: Map[String, Map[String, Any]] = {
    val counters = r.tracer.counters()
    r.tracer.spans.filter(_.batch >= 1).groupBy(_.name).map { case (name, ss) =>
      val cs = ss.flatMap(s => counters.get(s.id))
      def med(f: SpanCounters => Double) = if (cs.isEmpty) None else Some(Stats.median(cs.map(f)))
      name -> Map("calls" -> ss.size, "p50_s" -> Stats.median(ss.map(_.seconds)),
        "jobs" -> med(_.jobs), "stages" -> med(_.stages), "tasks" -> med(_.tasks),
        "task_s" -> med(_.taskS), "shuffle_write_records" -> med(_.shuffleWriteRecords.toDouble),
        "planning_s" -> med(_.planningS), "queries" -> med(_.queries))
    }
  }

  /** `cores` is what the host gave this JVM (its CPU affinity);
    * `compare.py` never compares results that differ in it or in
    * `spark_cores`, the `local[n]` slots. */
  def host: Map[String, Any] = Map(
    "cores" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> Main.Cores,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "input" -> "synthetic: generated in-JVM from the seed", "seed" -> a.seed, "commit" -> a.commit,
    "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
    "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq.map(_.toString)
      .filterNot(_.startsWith("--add-opens")))

  private def failedFrac = r.verdict.failed.toDouble / math.max(1, r.verdict.attempted)

  def detail: Map[String, Any] = Map(
    "host" -> host, "workload" -> a.workload, "trace" -> a.trace, "seconds" -> a.seconds,
    "fault" -> a.fault.map(f => s"${f.kind}:${f.span}"), "scale" -> a.scale, "params" -> w.params,
    "setup" -> Map("session_and_inputs_s" -> r.sessionS, "warm_pass_s" -> r.warmS),
    "steps" -> r.steps.map { case (i, s, t) => Map("step" -> i, "seconds" -> s, "traced" -> t) },
    "end_to_end" -> endToEnd.map { case (g, n, v, u) => Map("name" -> g, "workload_name" -> n, "value" -> v, "unit" -> u) },
    "figures" -> w.figures.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) },
    "per_layer" -> perLayer.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
    "spans" -> spanTable,
    "verdict" -> Map("correct" -> (r.verdict.failed == 0), "attempted" -> r.verdict.attempted,
      "failed" -> r.verdict.failed, "failed_frac" -> failedFrac, "notes" -> r.verdict.notes))

  def summary: Seq[String] =
    Seq(s"host: ${Json(host)}") ++
      endToEnd.map { case (g, n, v, u) => f"$n%-28s $v%14.6f $u%-6s ($g)" } ++
      w.figures.toSeq.sorted.map { case (n, (v, u)) => f"$n%-28s $v%14.6f $u" } ++
      (if (a.trace) perLayer.map { case (n, v, u) => f"$n%-28s $v%14.6f $u" } else Nil) ++
      Seq(f"failed_frac                  $failedFrac%14.6f frac",
        s"check: ${if (r.verdict.failed == 0) "PASS" else "FAIL"} " +
          s"(${r.verdict.attempted} attempted, ${r.verdict.failed} failed; ${r.verdict.notes.mkString("; ")})")

  def line: Map[String, Any] = {
    val ms = if (a.trace) perLayer.map { case (n, v, u) => n -> (v, u) }
      else endToEnd.map { case (g, _, v, u) => g -> (v, u) }
    Map("correct" -> (r.verdict.failed == 0 && r.error.isEmpty), "attempted" -> r.verdict.attempted,
      "failed" -> r.verdict.failed,
      "metrics" -> scala.collection.immutable.ListMap(ms.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }: _*))
  }
}
