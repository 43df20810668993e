package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Render.MapperContext
import graft.sinks.{XmlOptions, XmlSink}
import graft.sources.Slice

/** The reference's only unit tests — the 8 scenarios of
  * `/root/reference/codec/xml/xml_test.go` — ported against the Spark
  * XML sink with `Slice.fromData` fixtures. */
class XmlParitySpec extends SparkTestBase {

  // xml_test.go:27-54 — custom type mapper applied (int → "custom:42")
  test("custom type mapper applied to int column") {
    val df = Slice.fromData(spark, Seq(Seq(42)))
    val mapper: (DataType, (MapperContext, Column) => Column) =
      IntegerType -> ((_: MapperContext, c: Column) => concat(lit("custom:"), c.cast(StringType)))
    val out = XmlSink.writeString(df, XmlOptions(mappers = Seq(mapper)))
    assert(out.contains("custom:42"), out)
  }

  // xml_test.go:56-89 — preprocessor drops the row whose col1 == "second"
  test("preprocessor filters rows") {
    val df = Slice.fromData(spark,
      Seq(Seq(1, "first"), Seq(2, "second"), Seq(3, "third")))
    val pre: sinks.SinkTypes.PreProcessor =
      (_, row) => if (row(1) == "second") (row, false) else (row, true)
    val out = XmlSink.writeString(df, XmlOptions(preProcessor = Some(pre)))
    assert(!out.contains("second"))
    assert(out.contains("first") && out.contains("third"))
  }

  // xml_test.go:91-117 — limit=2 truncates
  test("limit truncates rows") {
    val df = Slice.fromData(spark,
      Seq(Seq(1, "first"), Seq(2, "second"), Seq(3, "third")))
    val out = XmlSink.writeString(df, XmlOptions(limit = 2))
    assert("<row>".r.findAllIn(out).length == 2, out)
    assert(!out.contains("third"))
  }

  // xml_test.go:119-162 — full write: declaration/root, row count, NULL
  // omission, escaping, RFC3339Nano timestamps
  test("full write") {
    val now = java.sql.Timestamp.valueOf("2024-03-01 12:30:45.123456")
    val df = Slice.fromData(spark, Seq(
      Seq(1, 2, now, 5, "text", 3.14),
      Seq(4, 5, now, null, "<text>", 3.14),
      Seq(7, 8, now, 5, "text", 3.14)))
    val out = XmlSink.writeString(df)
    assert(out.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<data>"), out.take(80))
    assert("<row>".r.findAllIn(out).length == 3)
    assert(!out.contains("nil"), "NULL values should be omitted")
    assert(!out.contains("<column_3></column_3>") &&
      "<column_3>5</column_3>".r.findAllIn(out).length == 2,
      "NULL element must be omitted entirely")
    assert(out.contains("&lt;text&gt;"), "XML specials must be escaped")
    assert(out.contains("2024-03-01T12:30:45.123456Z"), "RFC3339Nano timestamp")
    assert(out.endsWith("</data>\n"))
  }

  // xml_test.go:164-184 + 232-259 — empty and nil input → empty output
  test("empty input produces empty output") {
    assert(XmlSink.writeString(Slice.fromData(spark, Seq.empty)) == "")
    assert(XmlSink.writeString(Slice.fromData(spark, null)) == "")
  }

  // xml_test.go:244-258 — limit 0 produces no output (source never framed)
  test("limit 0 produces no output") {
    val df = Slice.fromData(spark, Seq(Seq(1, "test")))
    assert(XmlSink.writeString(df, XmlOptions(limit = 0)) == "")
  }

  // xml_test.go:186-230 — NULL / custom / default toString paths
  test("toString paths: custom string mapper and default conversion") {
    val custom: (DataType, (MapperContext, Column) => Column) =
      StringType -> ((_: MapperContext, c: Column) => concat(lit("CUSTOM:"), c))
    val out = XmlSink.writeString(
      Slice.fromData(spark, Seq(Seq("test"))),
      XmlOptions(mappers = Seq(custom)))
    assert(out.contains("CUSTOM:test"), out)

    val out2 = XmlSink.writeString(Slice.fromData(spark, Seq(Seq(42))))
    assert(out2.contains("42"), out2)
  }

  // scanner.go:27-31 — the mapper Metadata surface: plan-time context
  // (column name + driver) reaches the mapper; RowID stays a driver-path
  // PreProcessor concept (SURVEY §1)
  test("context mapper receives column name and driver") {
    val df = Slice.fromData(spark, Seq(Seq(1, 2)))
    val ctxMapper: (DataType, (MapperContext, Column) => Column) =
      IntegerType -> ((ctx: MapperContext, c: Column) =>
        concat(lit(s"${ctx.driver}/${ctx.columnName}="), c.cast(StringType)))
    val out = XmlSink.writeString(df, XmlOptions(mappers = Seq(ctxMapper)))
    assert(out.contains("<column_0>spark/column_0=1</column_0>"), out)
    assert(out.contains("<column_1>spark/column_1=2</column_1>"), out)
  }

  // xml.EscapeText writes U+FFFD for every rune outside XML's Char
  // production, so the document stays well-formed
  test("control characters become U+FFFD and the output parses") {
    val bad = Seq('\u0000', '\u0001', '\u0008', '\u000B', '\u001F', '\uFFFE')
    val cell = bad.mkString("a", "b", "c") + "\t\n\r"
    val out = XmlSink.writeString(Slice.fromData(spark, Seq(Seq(cell))))
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(out.getBytes("UTF-8")))
    assert(doc.getElementsByTagName("column_0").item(0).getTextContent ==
      cell.map(c => if (bad.contains(c)) '\uFFFD' else c))
  }

  // xml_test.go preprocessor + null interplay (xml.go:94-96): a NULL cell
  // stays omitted even if the preprocessor rewrites the row
  test("preprocessor rewrite does not resurrect NULL cells") {
    val df = Slice.fromData(spark, Seq(Seq(1, "a"), Seq(2, null)))
    val pre: sinks.SinkTypes.PreProcessor =
      (_, row) => (row.map(_.toUpperCase), true)
    val out = XmlSink.writeString(df, XmlOptions(preProcessor = Some(pre)))
    assert(out.contains("<column_1>A</column_1>"))
    assert(!out.contains("<column_1></column_1>"),
      "rewritten NULL must stay omitted")
  }
}
