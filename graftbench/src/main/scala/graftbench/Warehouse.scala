package graftbench

import java.sql.{Connection, DriverManager, SQLException}
import scala.collection.mutable

/** Reads a finished ETL warehouse back through plain JDBC — no graft or
  * Spark code — and reduces it to what the checker compares: the table
  * columns, per (day, source file) row counts and exact column sums,
  * timestamp mismatches, and the audit rows. */
object Warehouse {
  private def columns(c: Connection, table: String): Seq[String] = {
    val rs = c.getMetaData.getColumns(null, null, table, null)
    val buf = mutable.ArrayBuffer.empty[(Int, String)]
    try while (rs.next()) buf += ((rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME")))
    finally rs.close()
    buf.sortBy(_._1).map(_._2).toSeq
  }

  private def quoted(cols: Seq[String], name: String): String =
    "\"" + cols.find(_.equalsIgnoreCase(name)).getOrElse(name) + "\""

  def dump(url: String, table: String, logTable: String,
           intCol: String, decCol: String, tsCol: String): Map[String, Any] = {
    val c = DriverManager.getConnection(url, "app", "app")
    try {
      val cols = columns(c, table.toUpperCase)
      val perFile = mutable.TreeMap.empty[(String, String), Array[Any]]
      if (cols.nonEmpty) {
        val q = Seq("source_date", "source_file", intCol, decCol, tsCol, s"${tsCol}_datetime")
          .map(quoted(cols, _)).mkString(", ")
        val st = c.createStatement()
        val rs = st.executeQuery(s"SELECT $q FROM ${table.toUpperCase}")
        try while (rs.next()) {
          val key = (rs.getString(1), rs.getString(2))
          // [rows, integer sum, decimal sum, timestamp mismatches, null cells]
          val a = perFile.getOrElseUpdate(key, Array[Any](0L, 0L, BigDecimal(0), 0L, 0L))
          a(0) = a(0).asInstanceOf[Long] + 1
          val i = rs.getLong(3)
          if (rs.wasNull()) a(4) = a(4).asInstanceOf[Long] + 1
          else a(1) = a(1).asInstanceOf[Long] + i
          val d = rs.getDouble(4)
          if (rs.wasNull()) a(4) = a(4).asInstanceOf[Long] + 1
          else a(2) = a(2).asInstanceOf[BigDecimal] +
            BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_EVEN)
          val us = rs.getLong(5)
          val ts = rs.getTimestamp(6)
          val tsUs =
            if (ts == null) Long.MinValue
            else Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
          if (tsUs != us) a(3) = a(3).asInstanceOf[Long] + 1
        } finally { rs.close(); st.close() }
      }
      val logCols = columns(c, logTable.toUpperCase)
      val audit = mutable.ArrayBuffer.empty[Seq[Any]]
      if (logCols.nonEmpty) {
        val q = Seq("date_of_data", "total_row_count", "files_processed", "source_files")
          .map(quoted(logCols, _)).mkString(", ")
        val st = c.createStatement()
        val rs = st.executeQuery(s"SELECT $q FROM ${logTable.toUpperCase}")
        try while (rs.next())
          audit += Seq(rs.getString(1), rs.getLong(2), rs.getLong(3), rs.getString(4))
        finally { rs.close(); st.close() }
      }
      Map("columns" -> cols,
        "per_file" -> perFile.toSeq.map { case ((day, file), a) =>
          Seq(day, file, a(0), a(1),
            a(2).asInstanceOf[BigDecimal].bigDecimal.toPlainString, a(3), a(4)) },
        "audit" -> audit.sortBy(_.head.toString).toSeq)
    } finally c.close()
  }

  /** Drops an in-memory Derby database; Derby reports success as an
    * exception. */
  def drop(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: SQLException => () }
}
