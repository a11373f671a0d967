package perfbench

import org.apache.spark.sql.Row

/** The one output checker every workload uses.
  *
  * Cells are canonicalized by the protocol of the frozen reference corpus
  * (src/test/resources/reference_queries.tsv, written by
  * tools/extract_ref_queries.py and replayed by ReferenceQueriesSpec):
  * NULL→"NULL", bool→1/0, float/decimal→"%.6e" (0→"0", NaN→"NaN"),
  * date→ISO, timestamp→ISO without trailing fractional zeros,
  * array→[…], struct→{field:value sorted by name}. Columns are taken in
  * the order of their lower-cased names, as tools/oracle_compare.py does;
  * cells join with \u0001; rows compare sorted, and on a string mismatch
  * cells re-compare with relative tolerance 1e-6 for numbers.
  * perfbench/workloads.py writes expected rows for DuckDB results by the
  * same protocol.
  */
object Check {

  /** What one operation must return: exactly these canonical rows, sorted. */
  final case class Expected(nRows: Int, nCols: Int, rows: Seq[String])

  def canonCell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => canonCell(d.doubleValue())
    case d: BigDecimal => canonCell(d.toDouble)
    case f: Float => canonCell(f.toDouble)
    case d: Double =>
      if (d == 0.0) "0"
      else if (d.isNaN) "NaN"
      else String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))
    case t: java.sql.Timestamp =>
      val s = t.toString
      if (s.contains(".")) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    case t: java.time.LocalDateTime => canonCell(java.sql.Timestamp.valueOf(t))
    case t: java.time.Instant => canonCell(java.sql.Timestamp.from(t))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case seq: scala.collection.Seq[_] => seq.map(canonCell).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(canonCell).mkString("[", ",", "]")
    case r: Row =>
      val names = r.schema.fieldNames
      names.indices.map(i => names(i) -> canonCell(r.get(i)))
        .sortBy(_._1).map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case x => x.toString
  }

  def canonRow(r: Row): String =
    r.schema.fieldNames.zipWithIndex.sortBy(_._1.toLowerCase)
      .map { case (_, i) => canonCell(r.get(i)) }.mkString("\u0001")

  private val Num = """-?\d+(\.\d+)?([eE][+-]?\d+)?""".r.pattern

  private def cellsMatch(a: String, b: String): Boolean =
    a == b || (Num.matcher(a).matches() && Num.matcher(b).matches() && {
      val (x, y) = (a.toDouble, b.toDouble)
      math.abs(x - y) <= math.abs(y) * 1e-6 + 1e-9
    })

  private def rowsMatch(got: Seq[String], want: Seq[String]): Boolean =
    got == want || (got.length == want.length &&
      got.zip(want).forall { case (g, w) =>
        val (gc, wc) = (g.split('\u0001'), w.split('\u0001'))
        gc.length == wc.length && gc.zip(wc).forall { case (a, b) => cellsMatch(a, b) }
      })

  /** None when `rows` is what `e` asks for, else the reason it is not. */
  def check(e: Expected, rows: Array[Row]): Option[String] =
    if (rows.length != e.nRows) Some(s"rows ${rows.length} != ${e.nRows}")
    else if (rows.nonEmpty && rows.head.length != e.nCols)
      Some(s"cols ${rows.head.length} != ${e.nCols}")
    else {
      val got = rows.toSeq.map(canonRow).sorted
      if (rowsMatch(got, e.rows)) None
      else {
        val i = got.zip(e.rows).indexWhere { case (g, w) => !rowsMatch(Seq(g), Seq(w)) }
        Some(s"row $i: got=${got.lift(i).getOrElse("")} want=${e.rows.lift(i).getOrElse("")}")
      }
    }

  /** How many of the expected rows the output holds, cells compared as
    * `check` compares them. */
  def matched(e: Expected, rows: Array[Row]): Int = {
    val got = rows.toSeq.map(canonRow)
    val exact = got.toSet
    e.rows.count(w => exact(w) || got.exists(g => rowsMatch(Seq(g), Seq(w))))
  }

  /** Decodes a corpus-style expected-rows cell: base64 of gzip of the
    * canonical rows joined by newlines ("" when there are none). */
  def decodeRows(b64: String, nRows: Int): Seq[String] =
    if (b64.isEmpty || nRows == 0) Vector.empty
    else {
      val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(b64)))
      // a single empty-string row serializes as "" and must decode as one row
      new String(gz.readAllBytes(), "UTF-8").split("\n", -1).toVector
    }
}
