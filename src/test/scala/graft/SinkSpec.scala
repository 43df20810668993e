package graft

import graft.sinks._
import graft.sources.Slice

/** Option-matrix parity tests for the CSV/JSON/HTML sinks against the
  * reference codecs (`codec/csv/csv.go`, `codec/json/json.go`,
  * `codec/html/html.go`). */
class SinkSpec extends SparkTestBase {

  private def df3 = Slice.fromData(spark,
    Seq(Seq(1, "first"), Seq(2, "second"), Seq(3, "third")))

  // ---- CSV (csv.go:124-190) ----

  test("csv: default options — header + rows, LF line endings") {
    assert(CsvSink.writeString(df3) ==
      "column_0,column_1\n1,first\n2,second\n3,third\n")
  }

  test("csv: custom delimiter and CRLF (csv.go:140-144)") {
    val out = CsvSink.writeString(df3,
      CsvOptions(delimiter = ';', useCRLF = true))
    assert(out == "column_0;column_1\r\n1;first\r\n2;second\r\n3;third\r\n")
  }

  test("csv: header off (csv.go:88-92)") {
    assert(CsvSink.writeString(df3, CsvOptions(writeHeader = false)) ==
      "1,first\n2,second\n3,third\n")
  }

  test("csv: header-when-empty eager vs lazy (csv.go:147-151, 175-179)") {
    val empty = Slice.fromData(spark, Seq.empty)
    // eager (default): header even with zero columns is skipped (len==0)
    assert(CsvSink.writeString(empty) == "")
    val emptyTyped = df3.limit(0)
    assert(CsvSink.writeString(emptyTyped) == "column_0,column_1\n")
    // lazy: header only before the first data row → empty input → nothing
    assert(CsvSink.writeString(emptyTyped,
      CsvOptions(writeHeaderWhenNoData = false)) == "")
    assert(CsvSink.writeString(df3,
      CsvOptions(writeHeaderWhenNoData = false)) ==
      "column_0,column_1\n1,first\n2,second\n3,third\n")
  }

  test("csv: custom header + arity error (csv.go:134-139)") {
    val out = CsvSink.writeString(df3,
      CsvOptions(customHeader = Some(Seq("id", "word"))))
    assert(out == "id,word\n1,first\n2,second\n3,third\n")
    val err = intercept[IllegalArgumentException] {
      CsvSink.writeString(df3, CsvOptions(customHeader = Some(Seq("only-one"))))
    }
    assert(err.getMessage == "invalid header length")
  }

  test("csv: custom NULL string (csv.go:109-113, 196-198)") {
    val df = Slice.fromData(spark, Seq(Seq(1, "a"), Seq(2, null)))
    assert(CsvSink.writeString(df, CsvOptions(nullValue = "NULL")) ==
      "column_0,column_1\n1,a\n2,NULL\n")
    // default NULL renders empty
    assert(CsvSink.writeString(df) == "column_0,column_1\n1,a\n2,\n")
  }

  test("csv: limit counts post-filter rows; limit 0 → header only (csv.go:152-154,183-186)") {
    assert(CsvSink.writeString(df3, CsvOptions(limit = 2)) ==
      "column_0,column_1\n1,first\n2,second\n")
    assert(CsvSink.writeString(df3, CsvOptions(limit = 0)) ==
      "column_0,column_1\n")
    val pre: SinkTypes.PreProcessor =
      (_, row) => (row, row(1) != "first")
    assert(CsvSink.writeString(df3,
      CsvOptions(limit = 1, preProcessor = Some(pre))) ==
      "column_0,column_1\n2,second\n",
      "limit must count KEPT rows")
  }

  test("csv: quoting — delimiter/quote/newline/leading-space (Go encoding/csv)") {
    val df = Slice.fromData(spark, Seq(
      Seq("a,b", "he said \"hi\"", "line1\nline2", " lead", "plain")))
    val out = CsvSink.writeString(df, CsvOptions(writeHeader = false))
    assert(out == "\"a,b\",\"he said \"\"hi\"\"\",\"line1\nline2\",\" lead\",plain\n")
  }

  test("csv: preprocessor rowID increments on kept rows only (csv.go:170-186)") {
    var seen = List.empty[Int]
    val pre: SinkTypes.PreProcessor = (rowID, row) => {
      seen = rowID :: seen
      (row, row(1) != "second")
    }
    CsvSink.writeString(df3, CsvOptions(preProcessor = Some(pre)))
    // rows: first(keep,id1) second(drop,id2) third(keep,id2)
    assert(seen.reverse == List(1, 2, 2), seen.reverse.toString)
  }

  // ---- JSON (json.go:83-156) ----

  test("json: array mode framing; empty input → empty output, not [] (json.go:94-98)") {
    val out = JsonSink.writeString(df3)
    assert(out ==
      "[\n{\"column_0\":1,\"column_1\":\"first\"}," +
      "\n{\"column_0\":2,\"column_1\":\"second\"}," +
      "\n{\"column_0\":3,\"column_1\":\"third\"}\n]\n")
    assert(JsonSink.writeString(df3.limit(0)) == "")
    assert(JsonSink.writeString(df3, JsonOptions(limit = 0)) == "")
  }

  test("json: NDJSON mode (json.go:51-55,144-147)") {
    val out = JsonSink.writeString(df3, JsonOptions(newlineDelimited = true))
    assert(out ==
      "{\"column_0\":1,\"column_1\":\"first\"}\n" +
      "{\"column_0\":2,\"column_1\":\"second\"}\n" +
      "{\"column_0\":3,\"column_1\":\"third\"}\n")
  }

  test("json: NULL passes through as native null (json.go:110)") {
    val df = Slice.fromData(spark, Seq(Seq(1, "a"), Seq(2, null)))
    val out = JsonSink.writeString(df, JsonOptions(newlineDelimited = true))
    assert(out.contains("{\"column_0\":2,\"column_1\":null}"), out)
  }

  test("json: limit (json.go:149-151)") {
    val out = JsonSink.writeString(df3, JsonOptions(limit = 1))
    assert(out == "[\n{\"column_0\":1,\"column_1\":\"first\"}\n]\n")
  }

  test("json: keys sorted alphabetically like Go map marshal") {
    val df = Slice.fromData(spark, Seq(Seq("v", 1))) // column_0 string, column_1 int
      .toDF("zeta", "alpha")
    val out = JsonSink.writeString(df, JsonOptions(newlineDelimited = true))
    assert(out == "{\"alpha\":1,\"zeta\":\"v\"}\n")
  }

  test("json: map-based preprocessor filters/rewrites with kept-row rowIDs (json.go:44-48)") {
    var seen = List.empty[Int]
    val hook: (Int, Map[String, Any]) => (Map[String, Any], Boolean) =
      (rowID, row) => {
        seen = rowID :: seen
        if (row("column_1") == "second") (row, false)
        else (row.updated("column_1", row("column_1").toString.toUpperCase), true)
      }
    val out = JsonSink.writeString(df3,
      JsonOptions(newlineDelimited = true, preProcessor = Some(hook)))
    assert(out ==
      "{\"column_0\":1,\"column_1\":\"FIRST\"}\n" +
      "{\"column_0\":3,\"column_1\":\"THIRD\"}\n", out)
    assert(seen.reverse == List(1, 2, 2), "rowID counts kept rows")
  }

  test("json: identity hook emits the same bytes as the distributed path") {
    val now = java.sql.Timestamp.valueOf("2024-03-01 12:30:45.12")
    val df = Slice.fromData(spark, Seq(
      Seq(1, "a", 3.14, now), Seq(2, null, 2.0, now)))
    val plain = JsonSink.writeString(df, JsonOptions(newlineDelimited = true))
    val hooked = JsonSink.writeString(df, JsonOptions(newlineDelimited = true,
      preProcessor = Some((_, row) => (row, true))))
    assert(hooked == plain, s"hooked=$hooked plain=$plain")
  }

  test("json: identity hook matches distributed bytes on date + struct columns") {
    // the round-2/3 gap: the driver-path GoJson writer lacked Date and
    // nested-Row cases the distributed to_json path handles
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("d", DateType),
      StructField("s", StructType(Seq(
        StructField("z_last", IntegerType),   // schema order != sorted order:
        StructField("a_first", StringType),   // nested structs keep SCHEMA order
        StructField("t", TimestampType)))),   // nested ts: to_json's default form
      StructField("arr", ArrayType(TimestampType)) // array-nested ts: same form
    ))
    val rows = Seq(
      Row(1, java.sql.Date.valueOf("2024-03-01"),
        Row(7, "x", java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456")),
        Seq(java.sql.Timestamp.valueOf("2024-03-01 11:00:00.5"))),
      Row(2, java.sql.Date.valueOf("1999-12-31"), null, Seq.empty),
      Row(3, null, Row(null, "<y>", null), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val plain = JsonSink.writeString(df.orderBy("id"), JsonOptions(newlineDelimited = true))
    val hooked = JsonSink.writeString(df.orderBy("id"), JsonOptions(newlineDelimited = true,
      preProcessor = Some((_, row) => (row, true))))
    assert(plain.contains("\"d\":\"2024-03-01\""), plain)
    // nested timestamps (struct fields AND array elements) render in
    // to_json's default form (millis, Z) on BOTH paths — micros truncate
    assert(plain.contains(
      "{\"z_last\":7,\"a_first\":\"x\",\"t\":\"2024-03-01T10:00:00.123Z\"}"), plain)
    assert(plain.contains("[\"2024-03-01T11:00:00.500Z\"]"), plain)
    assert(hooked == plain, s"hooked=$hooked plain=$plain")
  }

  test("json: identity hook matches distributed bytes on NTZ + fraction edges") {
    // pins the '.000Z' whole-second and '.001Z' nested-timestamp bytes
    // (sparkJsonTs's exactly-3-digit assumption) and the TimestampNTZ
    // path: top-level NTZ renders RFC3339Nano with Z, nested NTZ renders
    // to_json's default (3 digits, NO zone suffix)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("ntz", TimestampNTZType),
      StructField("s", StructType(Seq(
        StructField("t", TimestampType),
        StructField("n", TimestampNTZType))))))
    val rows = Seq(
      Row(1, java.time.LocalDateTime.parse("2024-03-01T10:00:00"),
        Row(java.sql.Timestamp.valueOf("2024-03-01 10:00:00"),
          java.time.LocalDateTime.parse("2024-03-01T10:00:00"))),
      Row(2, java.time.LocalDateTime.parse("2024-03-01T10:00:00.001"),
        Row(java.sql.Timestamp.valueOf("2024-03-01 10:00:00.001"),
          java.time.LocalDateTime.parse("2024-03-01T10:00:00.001"))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema).orderBy("id")
    val plain = JsonSink.writeString(df, JsonOptions(newlineDelimited = true))
    val hooked = JsonSink.writeString(df, JsonOptions(newlineDelimited = true,
      preProcessor = Some((_, row) => (row, true))))
    assert(plain.contains("\"ntz\":\"2024-03-01T10:00:00Z\""), plain)
    assert(plain.contains("\"ntz\":\"2024-03-01T10:00:00.001Z\""), plain)
    assert(plain.contains("{\"t\":\"2024-03-01T10:00:00.000Z\",\"n\":\"2024-03-01T10:00:00.000\"}"), plain)
    assert(plain.contains("{\"t\":\"2024-03-01T10:00:00.001Z\",\"n\":\"2024-03-01T10:00:00.001\"}"), plain)
    assert(hooked == plain, s"hooked=$hooked plain=$plain")
  }

  test("json: <>& escape like the Go std encoder on both paths") {
    val df = Slice.fromData(spark, Seq(Seq("<b>&x</b>")))
    val want = "{\"column_0\":\"\\u003cb\\u003e\\u0026x\\u003c/b\\u003e\"}\n"
    assert(JsonSink.writeString(df, JsonOptions(newlineDelimited = true)) == want)
    assert(JsonSink.writeString(df, JsonOptions(newlineDelimited = true,
      preProcessor = Some((_, r) => (r, true)))) == want)
  }

  // ---- HTML (html.go:96-171) ----

  test("html: typed sticky header + tbody + closers (html.go:102-120)") {
    val df = Slice.fromData(spark, Seq(Seq(1, "a")))
    val out = HtmlSink.writeString(df)
    assert(out.startsWith("<!DOCTYPE html><html><head>"))
    assert(out.contains(
      "<th><p>column_0</p><p class=typ>int</p></th>" +
      "<th><p>column_1</p><p class=typ>string</p></th>"), out)
    assert(out.contains("<tbody><tr><td>1</td><td>a</td></tr>"))
    assert(out.endsWith("</tbody></table></body></html>"))
  }

  test("html: NULL renders as styled span (html.go:36)") {
    val df = Slice.fromData(spark, Seq(Seq(1, "a"), Seq(2, null)))
    val out = HtmlSink.writeString(df)
    assert(out.contains("<td><span style=\"color:#aaaaaa;\">[NULL]</span></td>"))
    val custom = HtmlSink.writeString(df, HtmlOptions(nullValue = "-"))
    assert(custom.contains("<td>-</td>"))
  }

  test("html: header-only when no data (eager); nothing when lazy (html.go:113-120,146-154)") {
    val empty = Slice.fromData(spark, Seq(Seq(1, "a"))).limit(0)
    val out = HtmlSink.writeString(empty)
    assert(out.contains("<thead") && out.endsWith("</table></body></html>"))
    assert(!out.contains("<tbody>"))
    assert(HtmlSink.writeString(empty,
      HtmlOptions(writeHeaderWhenNoData = false)) == "")
  }

  test("html: limit and limit-0 (html.go:122-124,163-165)") {
    val df = df3
    val out = HtmlSink.writeString(df, HtmlOptions(limit = 2))
    assert("<tr>".r.findAllIn(out).length == 2)
    val zero = HtmlSink.writeString(df, HtmlOptions(limit = 0))
    assert(zero.contains("<thead") && !zero.contains("<tr>") &&
      zero.endsWith("</table></body></html>"))
  }

  // ---- single-file coordinator (exporter.go:36-48) ----

  test("writeFile: single local file with exact content") {
    val path = java.nio.file.Files.createTempDirectory("graft").toString + "/out.csv"
    CsvSink.writeFile(df3, path)
    val content = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    assert(content == CsvSink.writeString(df3))
  }

  test("csv quoting round-trips through Spark's own CSV reader") {
    val nasty = Slice.fromData(spark, Seq(
      Seq("plain", "a,b", "say \"hi\""),
      Seq("line1\nline2", " lead", "tab\there"),
      Seq("\\.", "trail ", "quote\"comma,mix")))
    val dir = java.nio.file.Files.createTempDirectory("graft_rt").toString
    CsvSink.writeFile(nasty, s"$dir/rt.csv")
    val back = spark.read
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .csv(s"$dir/rt.csv")
      .collect().map(r => (0 until 3).map(r.getString)).toSet
    val want = nasty.collect().map(r => (0 until 3).map(r.getString)).toSet
    assert(back == want)
  }

  test("json: binary renders as base64, timestamps as RFC3339Nano") {
    val now = java.sql.Timestamp.valueOf("2024-03-01 12:30:45.12")
    val df = Slice.fromData(spark, Seq(Seq("bin".getBytes("UTF-8"), now)))
    val out = JsonSink.writeString(df, JsonOptions(newlineDelimited = true))
    val b64 = java.util.Base64.getEncoder.encodeToString("bin".getBytes("UTF-8"))
    assert(out == s"""{"column_0":"$b64","column_1":"2024-03-01T12:30:45.12Z"}\n""", out)
  }

  test("csv: per-DataType custom mapper applies (csv.go:52-63)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.IntegerType
    val df = Slice.fromData(spark, Seq(Seq(7, "x")))
    val out = CsvSink.writeString(df, CsvOptions(writeHeader = false,
      mappers = Seq(IntegerType -> ((c: org.apache.spark.sql.Column) =>
        concat(lit("int:"), c.cast("string"))))))
    assert(out == "int:7,x\n")
  }

  // ---- exporter facade (exporter.go:17-48) ----

  test("Exporter facade: codec binding + writeString/writeFile") {
    val e = graft.Exporter(df3)
    assert(e.csv().writeString == CsvSink.writeString(df3))
    assert(e.xml().writeString == XmlSink.writeString(df3))
    val path = java.nio.file.Files.createTempDirectory("graft").toString + "/e.json"
    e.json(JsonOptions(newlineDelimited = true)).writeFile(path)
    val content = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    assert(content == JsonSink.writeString(df3, JsonOptions(newlineDelimited = true)))
  }

  // ---- distributed paths return the same rows ----

  test("distributed lines() matches driver-stream content modulo order") {
    val expect = CsvSink.writeString(df3, CsvOptions(writeHeader = false))
      .split("\n").toSet
    val got = CsvSink.lines(df3, CsvOptions()).collect().toSet
    assert(got == expect)
  }

  test("distributed writeDir paths read back complete (csv + ndjson)") {
    val base = java.nio.file.Files.createTempDirectory("graft_dir").toString
    CsvSink.writeDir(df3, s"$base/csv")
    val csvBack = spark.read.option("header", "true").csv(s"$base/csv")
    assert(csvBack.count() == 3 &&
      csvBack.columns.toSeq == Seq("column_0", "column_1"))
    JsonSink.writeDir(df3, s"$base/json")
    val jsonBack = spark.read.json(s"$base/json")
    assert(jsonBack.count() == 3)
    // distributed XML row fragments carry every non-null cell
    val xmlRows = XmlSink.rows(df3).collect()
    assert(xmlRows.length == 3 && xmlRows.forall(_.startsWith("<row>")))
  }

  // ---- the framing law shared by every codec and both write paths ----

  test("a drop-all hook leaves exactly each codec's empty law, on both write paths") {
    import org.apache.spark.sql.functions.lit
    val dropAll: SinkTypes.PreProcessor = (_, row) => (row, false)
    val dropAllJson = Some((_: Int, m: Map[String, Any]) => (m, false))
    val htmlHead = HtmlSink.headerBlock(df3)
    val cases = Seq(
      "csv eager" -> (CsvSink.writeString(df3, CsvOptions(preProcessor = Some(dropAll))),
        "column_0,column_1\n"),
      "csv lazy" -> (CsvSink.writeString(df3,
        CsvOptions(writeHeaderWhenNoData = false, preProcessor = Some(dropAll))), ""),
      "json array" -> (JsonSink.writeString(df3, JsonOptions(preProcessor = dropAllJson)), ""),
      "ndjson" -> (JsonSink.writeString(df3,
        JsonOptions(newlineDelimited = true, preProcessor = dropAllJson)), ""),
      "xml" -> (XmlSink.writeString(df3, XmlOptions(preProcessor = Some(dropAll))), ""),
      "html eager" -> (HtmlSink.writeString(df3, HtmlOptions(preProcessor = Some(dropAll))),
        htmlHead + "</table></body></html>"),
      "html lazy" -> (HtmlSink.writeString(df3,
        HtmlOptions(writeHeaderWhenNoData = false, preProcessor = Some(dropAll))), ""))
    cases.foreach { case (name, (got, want)) => assert(got == want, name) }

    // the distributed twins frame zero rows the same way
    import DsvWriteSpec.{concatenated, outDir}
    val none = df3.filter(lit(false))
    XmlSink.writeDirFramed(none, outDir("law_xml"))
    assert(concatenated(outDir("law_xml")) ==
      XmlSink.writeString(df3, XmlOptions(preProcessor = Some(dropAll))))
    for (eager <- Seq(true, false)) {
      val dir = outDir(s"law_html_$eager")
      HtmlSink.writeDirFramed(none, dir, HtmlOptions(writeHeaderWhenNoData = eager))
      assert(concatenated(dir) == HtmlSink.writeString(df3,
        HtmlOptions(writeHeaderWhenNoData = eager, preProcessor = Some(dropAll))), s"html eager=$eager")
    }
  }

  test("csv and html: the first chunk is the eager header, produced without reading the source") {
    import org.apache.spark.sql.functions._
    // evaluating any row of this source throws
    val boom = spark.range(0, 8, 1, 2)
      .select(when(col("id") >= 0, raise_error(lit("source read"))).cast("string").as("v"))
    val csv = CsvSink.contentIterator(boom, CsvOptions())
    assert(csv.next() == "v\n")
    val html = HtmlSink.contentIterator(boom)
    assert(html.next() == HtmlSink.headerBlock(boom))
    // ... and the rows really are unreadable
    intercept[Exception](csv.next())
    intercept[Exception](html.next())
  }

  test("json: the hook path stops reading the source once limit rows are kept") {
    import org.apache.spark.sql.functions._
    // four partitions of ten ids; every row past the first partition throws
    val src = spark.range(0, 40, 1, 4)
      .select(col("id"), when(col("id") >= 10, raise_error(lit("read past the limit")))
        .otherwise(col("id")).as("v"))
    val keepAll = (_: Int, m: Map[String, Any]) => (m, true)
    assert(JsonSink.writeString(src, JsonOptions(limit = 1, preProcessor = Some(keepAll))) ==
      "[\n{\"id\":0,\"v\":0}\n]\n")
  }
}
