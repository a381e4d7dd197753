package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** One operation of a workload's seeded sequence.
  *
  * `kind` is `query` or `update`; `cls` names the template or registry
  * query (the latency class); `key` identifies the distinct operation
  * (same key, same answer on an unchanged store); `text` is the SPARQL
  * text or the registry query name.
  */
final case class Op(idx: Int, kind: String, cls: String, key: String,
    text: String)

/** The answer of one executed op, as the benchmark checks it. */
final case class Answer(rows: Long, digest: String, bytes: Long)

object Ops {

  /** Reads the op file written by run.py: one op per line, tab-separated
    * `kind, cls, key, text`, in execution order.
    */
  def read(path: String): IndexedSeq[Op] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().zipWithIndex.map { case (line, i) =>
      val f = line.split("\t", 4)
      require(f.length == 4, s"malformed op line ${i + 1} in $path")
      Op(i, f(0), f(1), f(2), f(3))
    }.toIndexedSeq
    finally src.close()
  }

  /** Canonical text of one cell. Doubles are rounded to 9 decimals, as
    * the oracle comparison does, so summation order cannot flip a digest.
    */
  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d.isInfinite) d.toString
      else java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case b: Boolean => if (b) "1" else "0"
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Order-insensitive digest of a result: columns sorted by name, each
    * row rendered cell by cell, rows sorted, then sha256. run.py renders
    * its string-valued expectations the same way.
    */
  def digest(cols: Seq[String], rows: Iterable[Seq[String]]): Answer = {
    val order = cols.indices.sortBy(i => cols(i).toLowerCase)
    val lines = rows.iterator
      .map(r => order.map(r(_)).mkString("\u001f")).toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    lines.iterator.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) md.update(0x1e.toByte)
      val b = l.getBytes(UTF_8)
      bytes += b.length
      md.update(b)
    }
    Answer(lines.length.toLong,
      md.digest().take(16).map("%02x".format(_)).mkString, bytes)
  }

  def digestRows(cols: Seq[String], rows: Array[Row]): Answer =
    digest(cols, rows.toSeq.map(r => r.toSeq.map(cell)))
}
