package graft.xlsx

import java.nio.file.Files
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The documented xlsx corner-case semantics (XlsxDataSource scaladoc),
  * one pin each: merged cells read as stored (anchor value, nulls
  * elsewhere), formula cells read their cached `<v>`, `skipRows`
  * drops banner rows of a multi-row header before the real header, and
  * schema inference parses only its `sampleRows` sample. */
class XlsxCornerCaseSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def tmp(name: String): String =
    Files.createTempDirectory("xlsxcorner").resolve(name).toString

  test("inference reads only its sample: a sheet malformed past the sample still infers") {
    // header + 10 sampled data rows + 10 rows past the sample; row 16
    // holds a string in the double column, row 19 a third column
    val rows = (2 to 21).map { r =>
      val b = if (r == 16) s"""<c r="B$r" t="s"><v>2</v></c>""" else s"""<c r="B$r"><v>${r * 1.5}</v></c>"""
      val c = if (r == 19) s"""<c r="C$r"><v>99</v></c>""" else ""
      s"""<row r="$r"><c r="A$r"><v>$r</v></c>$b$c</row>"""
    }.mkString("\n")
    val header = """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>"""
    val shared = "<si><t>id</t></si><si><t>amount</t></si><si><t>oops</t></si>"
    val good = tmp("sample-good.xlsx")
    RawXlsx.workbook(good, header + rows, shared)
    // same rows, then a well-formedness error inside the (valid) zip entry
    val bad = tmp("sample-bad.xlsx")
    RawXlsx.workbook(bad, header + rows + """<row r="22"><c r="A22"><v>22</v></c><<</row>""", shared)
    def reader(sample: Int) = spark.read.format("xlsx").option("sampleRows", sample)
    def read(path: String, sample: Int) = reader(sample).load(path)

    val expected = org.apache.spark.sql.types.StructType.fromDDL("id DOUBLE, amount DOUBLE")
    read(bad, 10).schema shouldBe expected
    read(good, 10).schema shouldBe expected
    // the same sheet fails once inference or the scan parses past row 21
    an[Exception] should be thrownBy read(bad, 100)
    an[Exception] should be thrownBy reader(10).schema(expected).load(bad).collect()

    val back = read(good, 10).orderBy("id").collect()
    back.length shouldBe 20
    back.map(_.length).distinct.toSeq shouldBe Seq(2) // column C stays out
    back.find(_.getDouble(0) == 16.0).get.isNullAt(1) shouldBe true // PERMISSIVE
    back.find(_.getDouble(0) == 17.0).get.getDouble(1) shouldBe 25.5
  }

  test("merged cells: value lands in the anchor cell only, rest of the region is null") {
    val path = tmp("merged.xlsx")
    // A2:B3 merged with anchor value "wide"; Excel stores the value at A2
    // and emits the other region cells EMPTY (B2) or absent (A3, B3)
    RawXlsx.workbook(path,
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"/></row>
        |<row r="3"/>
        |<row r="4"><c r="A4" t="s"><v>3</v></c><c r="B4" t="s"><v>3</v></c></row>""".stripMargin,
      "<si><t>a</t></si><si><t>b</t></si><si><t>wide</t></si><si><t>x</t></si>",
      afterSheetData = """<mergeCells count="1"><mergeCell ref="A2:B3"/></mergeCells>""")
    val rows = spark.read.format("xlsx").option("inferSchema", false).load(path)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // row 3 (all cells absent) does not surface; the anchor row keeps its
    // value in column a with null in b — the value is NOT replicated
    rows.toSeq shouldBe Seq(("wide", null), ("x", "x"))
  }

  test("formula cells: the cached <v> result is read; uncached formulas are null") {
    val path = tmp("formula.xlsx")
    RawXlsx.workbook(path,
      // C2 is a numeric formula WITH cached result; C3's result was never
      // cached by the producer; C4 is a string-typed formula (t="str")
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2"><v>2</v></c><c r="B2"><v>3</v></c><c r="C2"><f>A2*B2</f><v>6</v></c></row>
        |<row r="3"><c r="A3"><v>4</v></c><c r="B3"><v>5</v></c><c r="C3"><f>A3*B3</f></c></row>
        |<row r="4"><c r="A4"><v>7</v></c><c r="B4"><v>8</v></c><c r="C4" t="str"><f>CONCAT(A4,B4)</f><v>78</v></c></row>""".stripMargin,
      "<si><t>x</t></si><si><t>y</t></si><si><t>prod</t></si>")
    val df = spark.read.format("xlsx").option("inferSchema", false).load(path)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    rows.toSeq shouldBe Seq(("2", "3", "6"), ("4", "5", null), ("7", "8", "78"))
  }

  test("skipRows drops multi-row-header banner rows before the real header") {
    val path = tmp("banner.xlsx")
    // a title banner and a units row above the actual header — the
    // classic hand-authored report layout
    RawXlsx.workbook(path,
      """<row r="1"><c r="A1" t="s"><v>0</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2" t="s"><v>2</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3" t="s"><v>4</v></c></row>
        |<row r="4"><c r="A4" t="s"><v>5</v></c><c r="B4"><v>12.5</v></c></row>
        |<row r="5"><c r="A5" t="s"><v>6</v></c><c r="B5"><v>40</v></c></row>""".stripMargin,
      "<si><t>Quarterly Report</t></si><si><t>(name)</t></si><si><t>(kg)</t></si>" +
        "<si><t>item</t></si><si><t>weight</t></si><si><t>bolt</t></si><si><t>nut</t></si>")
    val df = spark.read.format("xlsx").option("skipRows", 2).load(path)
    df.schema.fieldNames.toSeq shouldBe Seq("item", "weight") // real header found
    df.schema.fields(1).dataType.typeName shouldBe "double"   // inference saw data rows only
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1)))
    rows.toSeq.sortBy(_._1) shouldBe Seq(("bolt", 12.5), ("nut", 40.0))
    // skipRows=0 keeps today's behavior: the banner becomes the header
    spark.read.format("xlsx").load(path)
      .schema.fieldNames.head shouldBe "quarterly_report"
  }
}
