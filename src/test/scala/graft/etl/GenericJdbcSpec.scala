package graft.etl

import graft.TestSpark
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The non-DuckDB branch of the ETL writes (Spark's JDBC sink), on Derby:
  * a database that folds unquoted identifiers to upper case, the way
  * Spark's sink names the tables it creates. */
class GenericJdbcSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def freshUrl(): String =
    s"jdbc:derby:memory:generic_${java.util.UUID.randomUUID().toString.replace("-", "")};create=true"

  private def df(n: Int, offset: Int = 0) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong + offset, s"v${i + offset}")).toDF("id", "s")
  }

  private def query(url: String, sql: String): Seq[String] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (rs.next()) out += rs.getString(1)
      out.toSeq
    } finally c.close()
  }

  test("write counts the rows it loaded: Overwrite, Append delta, Ignore over an existing table") {
    val url = freshUrl()
    DuckDbBulkLoad.write(df(2), url, "t", SaveMode.Overwrite) shouldBe 2L
    DuckDbBulkLoad.write(df(3, 10), url, "t", SaveMode.Append) shouldBe 3L
    DuckDbBulkLoad.write(df(5, 50), url, "t", SaveMode.Ignore) shouldBe 0L
    // Spark's sink quotes column names, but not the table name
    query(url, """SELECT "id" FROM t ORDER BY "id"""") shouldBe Seq("1", "2", "11", "12", "13")
  }

  test("a failed upsert drops the staging table it created") {
    val url = freshUrl()
    // Derby has no information_schema, so the merge's target probe fails
    // after the staging table is written
    val e = the[java.sql.SQLException] thrownBy XlsxToDatabase.upsert(df(2), url, "u", Seq("id"))
    e.getMessage should include("INFORMATION_SCHEMA")
    query(url, "SELECT tablename FROM sys.systables WHERE tablename LIKE '%UPSERT%'") shouldBe empty
  }
}
