package perfbench

import java.math.MathContext
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Order-insensitive result fingerprint: columns sorted by name, each
  * cell rendered canonically (doubles to 10 significant digits, so a
  * different summation order cannot flip the hash), rows sorted, then
  * SHA-256. */
object Canon {
  private val mc = new MathContext(10)

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).round(mc).bigDecimal.stripTrailingZeros
        .toPlainString
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => cell(b.doubleValue)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case other => other.toString
  }

  def hash(df: DataFrame, onRows: Array[Row] => Unit = _ => ())
      : (Long, String) = {
    val names = df.columns.map(_.toLowerCase)
    val order = names.indices.sortBy(names(_))
    val collected = df.collect()
    onRows(collected)
    val rows = collected.map(r => order.map(i => cell(r.get(i)))
      .mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}

/** Registry queries by name, with the module each comes from. */
object Registry {
  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("Relational" -> graft.ops.Relational.queries,
      "ScalarParity" -> graft.ops.ScalarParity.queries,
      "WindowOps" -> graft.ops.WindowOps.queries,
      "TextOps" -> graft.ops.TextOps.queries,
      "DedupOps" -> graft.ops.DedupOps.queries,
      "VectorOps" -> graft.ops.VectorOps.queries,
      "MartOps" -> graft.ops.MartOps.queries,
      "EventOps" -> graft.ops.EventOps.queries,
      "DomainParity" -> graft.ops.DomainParity.queries,
      "CorpusOps" -> graft.ops.CorpusOps.queries,
      "InsightOps" -> graft.ops.InsightOps.queries)

  def module(name: String): String =
    modules.find(_._2.contains(name)).map(_._1)
      .getOrElse(sys.error(s"no registry query $name"))

  def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(name)
}

/** Expected (rows, hash) per query, one `name rows hash` line each. */
object Expected {
  def read(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, h) = l.split("\\s+")
        n -> (r.toLong, h)
      }.toMap
}
