package pvbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.DedupOps

/** The at-rest dedup-index lifecycle. Setup builds the index from a
  * seeded first tranche of documents; each day a batch lands that mixes
  * fresh documents with exact and near copies of documents already
  * indexed, and the day runs probe → append(survivors) →
  * maybe-consolidate. With at most one live tranche the index folds
  * every day: a run measures one or two days, too few for a fold every
  * few days to show in a tail, so every measured day does the same
  * work, fold included.
  *
  * Ground truth comes from the generator, not from the modules: fresh
  * documents draw their words uniformly from a large vocabulary (no
  * shared 3-shingles in practice), exact copies repeat an indexed
  * document's text, and near copies replace 4 of its 60-100 words,
  * which keeps word-3-shingle Jaccard above 0.65 against the 0.5
  * threshold. The expected survivors of a day are exactly its fresh
  * documents. */
final class CorpusDedup(seed: Long, scale: Double) extends Workload {
  private val tranche = math.max(200, (500 * scale).toInt)
  private val perDay = math.max(20, (50 * scale).toInt)
  private val freshPerDay = perDay * 6 / 10
  private val exactPerDay = perDay * 2 / 10
  private val maxLive = 1
  private val vocab: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.fill(20000)(Array.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }

  val prefix = "dedup"
  val items = "docs"
  val itemsPerStep: Long = perDay
  val ops = Seq(
    "probe" -> Seq("dedup.dedup_against_index"),
    "index" -> Seq("dedup.append_to_dedup_index", "dedup.maybe_consolidate_dedup_index"))
  def params: Map[String, Any] = Map("tranche_docs" -> tranche, "docs_per_day" -> perDay,
    "fresh_per_day" -> freshPerDay, "exact_copies_per_day" -> exactPerDay,
    "near_copies_per_day" -> (perDay - freshPerDay - exactPerDay), "max_live_tranches" -> maxLive,
    "shingle_n" -> 3, "threshold" -> 0.5)

  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var dir: File = _
  private def index = new File(dir, "index")
  private def dayDir(d: Int) = new File(dir, s"day$d")
  /** Texts of every indexed document, by id, in index order. */
  private val indexed = mutable.ArrayBuffer.empty[(Long, String)]
  private val expected = mutable.Map.empty[Int, Set[Long]]
  private val survived = mutable.Map.empty[Int, Set[Long]]
  private val folds = mutable.Map.empty[Int, Boolean]
  private val writtenBytes = mutable.Map.empty[Int, Long]
  private val dayBytes = mutable.Map.empty[Int, Long]
  private var files = Map.empty[String, Long]
  private var survivors: DataFrame = _

  private def freshText(r: SplittableRandom): String =
    Array.fill(60 + r.nextInt(41))(vocab(r.nextInt(vocab.length))).mkString(" ")

  private def frame(docs: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    spark.sparkContext.parallelize(docs, 4).toDF("doc_id", "text")
  }

  def generate(s: SparkSession, d: File, t: Tracer): Unit = {
    spark = s; tr = t; dir = d
    val r = new SplittableRandom(seed)
    indexed ++= (1 to tranche).map(i => i.toLong -> freshText(r))
  }

  /** Builds the index from the first tranche, then runs day 0. */
  def warm(): Unit = {
    val first = indexed.toSeq
    tr.span("dedup.write_dedup_index") {
      DedupOps.writeDedupIndex(frame(first), index.getPath, "doc_id", "text")
    }
    files = Files.sizes(index)
    prepare(0); step(0); after(0)
  }

  /** Day `d`'s batch: fresh documents, then exact and near copies of
    * documents indexed before the day, in a seeded order. */
  override def prepare(d: Int): Unit = {
    val r = new SplittableRandom(seed * 31 + d)
    val base = tranche.toLong + d.toLong * perDay
    val docs = (0 until perDay).map { j =>
      val id = base + j + 1
      if (j < freshPerDay) id -> freshText(r)
      else {
        val words = indexed(r.nextInt(indexed.size))._2.split(' ')
        if (j < freshPerDay + exactPerDay) id -> words.mkString(" ")
        else {
          (1 to 4).foreach(_ => words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length)))
          id -> words.mkString(" ")
        }
      }
    }
    val shuffled = docs.map(r.nextLong() -> _).sortBy(_._1).map(_._2)
    expected(d) = docs.take(freshPerDay).map(_._1).toSet
    frame(shuffled).coalesce(1).write.parquet(dayDir(d).getPath)
    dayBytes(d) = Files.du(dayDir(d))
    indexed ++= docs.take(freshPerDay)
  }

  def step(d: Int): Unit = {
    val batch = spark.read.parquet(dayDir(d).getPath)
    // the probe is lazy: materialize it inside its own span so its work
    // is not billed to the append, and so the survivor set stays frozen
    // once the append mutates the index its lineage reads
    survivors = tr.span("dedup.dedup_against_index") {
      val s = DedupOps.dedupAgainstIndex(tr.exchange("dedup.dedup_against_index", batch),
        index.getPath, "doc_id", "text").persist()
      s.count()
      s
    }
    tr.span("dedup.append_to_dedup_index") {
      DedupOps.appendToDedupIndex(survivors, index.getPath, "doc_id", "text", tag = s"day$d")
    }
    folds(d) = tr.span("dedup.maybe_consolidate_dedup_index") {
      DedupOps.maybeConsolidateDedupIndex(spark, index.getPath, maxLive)
    }
  }

  override def after(d: Int): Unit = {
    survived(d) = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    survivors.unpersist() // the benchmark's own materialization, not the program's
    val now = Files.sizes(index)
    writtenBytes(d) = now.filter { case (p, _) => !files.contains(p) && !p.endsWith(".crc") }.values.sum
    files = now
    Files.delete(dayDir(d))
  }

  def check(n: Int): Verdict = {
    val badDays = (0 to n).filter(d => survived.get(d) != expected.get(d))
    val wantDocs = tranche.toLong + (0 to n).map(expected(_).size).sum
    val sig = DedupOps.dedupIndexStats(spark, index.getPath).where("artifact = 'sig'").collect()
    val gotDocs = if (sig.isEmpty) -1L else sig.head.getAs[Long]("n_docs")
    val indexBad = gotDocs != wantDocs
    // an index that lost or gained documents is charged to the last day
    Verdict(n + 1, badDays.toSet ++ (if (indexBad) Set(n) else Set.empty),
      Seq(s"days with wrong survivors: ${badDays.mkString(",")}",
        s"index docs $gotDocs (expected $wantDocs)"))
  }

  private def days(from: Iterable[Int]) = from.filter(d => d >= 1 && survived.contains(d)).toSeq

  override def figures: Map[String, (Double, String)] = {
    val ds = days(survived.keys)
    Map("dedup.write_amp" -> (ds.map(writtenBytes).sum.toDouble / ds.map(dayBytes).sum, "ratio"),
      "dedup.consolidations" -> (ds.count(folds).toDouble, "count"))
  }

  override def layerFigures(traced: Set[Int]): Map[String, Double] = {
    val ds = days(traced)
    if (ds.isEmpty) Map.empty
    else Map(
      "dedup.consolidations" -> ds.count(folds).toDouble,
      "dedup.index_files" -> Files.count(index).toDouble,
      "dedup.survivor_frac" -> ds.map(survived(_).size).sum.toDouble / (ds.size * perDay))
  }
}
