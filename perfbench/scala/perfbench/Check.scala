package perfbench

import java.sql.DriverManager
import perfbench.Workbooks._

/** Output checks for the ETL workload: the loaded table's `COUNT(*)` and
  * per-column checksums, computed by DuckDB over JDBC, must equal the
  * generator's [[Expected]] values. Returns the mismatches (empty = ok). */
object Check {
  private def q(id: String) = "\"" + id.replace("\"", "\"\"") + "\""

  /** Order-independent SQL checksum; [[Workbooks.expected]] is its twin. */
  def sumExpr(c: Col): String = {
    val x = q(c.name)
    val s = c.kind match {
      case Key | Amount | Count => s"CAST(ROUND($x * 100) AS BIGINT)"
      case Label | Text => s"LENGTH($x)"
      case Day => s"date_diff('day', TIMESTAMP '1970-01-01 00:00:00', $x)"
      case Flag => s"CASE WHEN $x THEN 1 ELSE 0 END"
    }
    s"CAST(COALESCE(SUM($s), 0) AS BIGINT)"
  }

  def table(jdbcUrl: String, e: Expected): Seq[String] = {
    val aggs = "COUNT(*)" +: e.sums.flatMap { case (c, _, _) => Seq(s"COUNT(${q(c.name)})", sumExpr(c)) }
    val conn = DriverManager.getConnection(jdbcUrl)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT ${aggs.mkString(", ")} FROM ${q(e.table)}")
      rs.next()
      val want = e.rows +: e.sums.flatMap { case (_, n, s) => Seq(n, s) }
      val labels = "rows" +: e.sums.flatMap { case (c, _, _) => Seq(s"${c.name}.count", s"${c.name}.sum") }
      want.indices.flatMap { i =>
        val got = rs.getLong(i + 1)
        if (got == want(i)) None else Some(s"${e.table}.${labels(i)}: got $got, expected ${want(i)}")
      }
    } finally conn.close()
  }
}
