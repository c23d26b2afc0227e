package pvbench

import java.io.File

object Files {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else if (f.isFile) Iterator(f)
    else Iterator.empty

  /** Regular files under `dir`, with their sizes, keyed by path. */
  def sizes(dir: File): Map[String, Long] = walk(dir).map(f => f.getPath -> f.length()).toMap

  def du(dir: File): Long = walk(dir).map(_.length()).sum

  def count(dir: File): Int = walk(dir).size

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON writer for the result files: maps, sequences, strings,
  * numbers, booleans. Doubles print with all their digits. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
