package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result line, the run record and the spans. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  /** Already-encoded JSON. */
  final case class Raw(json: String)

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above it:
    * the (n-10)th smallest of n samples, at percentile 100·(n-10)/n. With
    * fewer than 20 samples that would fall below the median, so the
    * median itself is reported (percentile 50).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 20) (median(xs), 50.0)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Files under a directory tree with their sizes and modification times;
  * two listings give the bytes and files written and deleted in between,
  * as seen on storage from outside the library.
  */
final case class Listing(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.valuesIterator.map(_._1).sum

  /** (bytes written, files written, files deleted) since `before`. */
  def since(before: Listing): (Long, Int, Int) = {
    val written = files.filter { case (p, v) => !before.files.get(p).contains(v) }
    (written.valuesIterator.map(_._1).sum, written.size,
      before.files.keysIterator.count(p => !files.contains(p)))
  }
}

object Listing {
  def of(root: Path): Listing =
    if (!Files.exists(root)) Listing(Map.empty)
    else {
      val s = Files.walk(root)
      try Listing(s.iterator.asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }.toMap)
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
