package pvbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Outcome of checking a workload's outputs against its reference: the
  * `bad` steps of the `attempted` ones (warm pass included) threw or
  * mismatched. */
final case class Verdict(attempted: Int, bad: Set[Int], notes: Seq[String]) {
  def failed: Int = bad.size
}

/** A seeded, closed-loop workload driven by one client. Main calls
  * `generate` (input generation, repeated per set-up), `warm` (the warm
  * pass: steps `0 until warmSteps`, counted in set-up), then
  * `prepare(i)` / `step(i)` / `after(i)` from `i = warmSteps` until the
  * run's time is up, then `check`. Only `step` is timed;
  * everything the upstream world or the benchmark does around it
  * (landing inputs, listing written files, collecting results for the
  * check) happens in `prepare` and `after`. */
trait Workload {
  /** Prefix of the workload's own metric names, e.g. `etl`. */
  def prefix: String
  /** What one item is (`rows`, `docs`, ...), for `<prefix>.<items>_per_s`. */
  def items: String
  /** Items one step processes. */
  def itemsPerStep: Long

  /** The two parts of a step whose medians are reported as `op1_p50_s`
    * and `op2_p50_s`: a name and the spans that make it up. */
  def ops: Seq[(String, Seq[String])]

  /** Generate the inputs under `dir` (the program sees only these). */
  def generate(spark: SparkSession, dir: File, tr: Tracer): Unit
  /** Steps the warm pass runs. */
  def warmSteps: Int = 1
  /** The warm pass; it may leave state later steps build on. */
  def warm(): Unit
  def prepare(i: Int): Unit = ()
  def step(i: Int): Unit
  def after(i: Int): Unit = ()
  /** Checks steps `0..n` (the warm pass included). */
  def check(n: Int): Verdict
  /** Workload-specific figures for the result file, name → (value, unit). */
  def figures: Map[String, (Double, String)] = Map.empty
  /** Per-step layer figures the listener cannot see (file listings,
    * check-side counts), per-layer name → values over traced steps. */
  def layerFigures(tracedSteps: Set[Int]): Map[String, Double] = Map.empty
  def params: Map[String, Any]
}

object Workload {
  val Names = Seq("etl_merge", "corpus_graph")

  def apply(name: String, seed: Long, scale: Double): Workload = name match {
    case "etl_merge" => new EtlMerge(seed, scale)
    case "corpus_graph" => new CorpusGraph(seed, scale)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}
