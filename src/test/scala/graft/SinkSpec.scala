package graft

import scala.jdk.CollectionConverters._

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

    // control characters: `\u00` plus lowercase hex except \n, \r, \t;
    // an escaped backslash before `b` stays a backslash and a `b`
    val ctl = Slice.fromData(spark, Seq(Seq(
      "a\bb\fc\u000By\u001Bz \u0000\u0001\u000E\u000F\u0010\u001A\u001C\u001D\u001E\u001F \\b\\f")))
    val wantCtl = "{\"column_0\":\"a\\u0008b\\u000cc\\u000by\\u001bz " +
      "\\u0000\\u0001\\u000e\\u000f\\u0010\\u001a\\u001c\\u001d\\u001e\\u001f \\\\b\\\\f\"}\n"
    assert(JsonSink.writeString(ctl, JsonOptions(newlineDelimited = true)) == wantCtl)
    assert(JsonSink.writeString(ctl, JsonOptions(newlineDelimited = true,
      preProcessor = Some((_, r) => (r, true)))) == wantCtl)
  }

  test("json: objects escapes <>& byte for byte beside quotes and multibyte UTF-8") {
    val text = "a<b>&\"c\" é€😀 \\u0026 <</>>&&"
    val df = Slice.fromData(spark, Seq(Seq(text), Seq("plain é")))
    val want = Seq(
      "{\"column_0\":\"a\\u003cb\\u003e\\u0026\\\"c\\\" é€😀 \\\\u0026 " +
        "\\u003c\\u003c/\\u003e\\u003e\\u0026\\u0026\"}",
      "{\"column_0\":\"plain é\"}")
    assert(JsonSink.objects(df).collect().toSeq == want)
  }

  test("json: the hook path renders timestamps in the session zone, like the plain path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    withConf("spark.sql.session.timeZone" -> "America/New_York") {
      val schema = StructType(Seq(
        StructField("id", IntegerType),
        StructField("t", TimestampType),
        StructField("ntz", TimestampNTZType),
        StructField("s", StructType(Seq(StructField("t", TimestampType))))))
      val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:00:00.5Z"))
      val rows = Seq(
        Row(1, t, java.time.LocalDateTime.parse("2024-03-10T02:30:00"), Row(t)),
        Row(2, java.sql.Timestamp.from(java.time.Instant.parse("1850-06-01T12:00:00Z")),
          java.time.LocalDateTime.parse("2024-11-03T01:30:00.25"), null))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema).orderBy("id")
      val plain = JsonSink.writeString(df, JsonOptions(newlineDelimited = true))
      val hooked = JsonSink.writeString(df, JsonOptions(newlineDelimited = true,
        preProcessor = Some((_, row) => (row, true))))
      assert(plain.contains("\"t\":\"2024-03-01T05:00:00.5-05:00\""), plain)
      assert(plain.contains("\"ntz\":\"2024-03-10T03:30:00-04:00\""), plain)
      assert(plain.contains("\"t\":\"1850-06-01T07:03:58-04:56\""), plain)
      assert(hooked == plain, s"hooked=$hooked plain=$plain")
    }
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

  test("writeFile: every codec writes UTF-8 whatever the JVM's default charset") {
    val df = Slice.fromData(spark, Seq(Seq("é", "日本", "😀")))
    val dir = java.nio.file.Files.createTempDirectory("graft_utf8").toString
    val e = graft.Exporter(df)
    for ((name, bound) <- Seq("csv" -> e.csv(), "json" -> e.json(), "xml" -> e.xml(), "html" -> e.html())) {
      bound.writeFile(s"$dir/out.$name")
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/out.$name"))
      assert(bytes.sameElements(bound.writeString.getBytes("UTF-8")), name)
    }
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
      mappers = Seq(IntegerType -> ((_: graft.functions.Render.MapperContext,
        c: org.apache.spark.sql.Column) => concat(lit("int:"), c.cast("string"))))))
    assert(out == "int:7,x\n")
  }

  test("a context mapper reaches every codec's cells, with and without a hook") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.IntegerType
    import graft.functions.Render.MapperContext
    val df = Slice.fromData(spark, Seq(Seq(1, "a"), Seq(2, null)))
    val m: SinkTypes.Mappers = Seq(IntegerType -> ((ctx: MapperContext, c: Column) =>
      concat(lit(s"<${ctx.driver}/${ctx.columnName}>"), c.cast("string"))))
    val keep: SinkTypes.PreProcessor = (_, row) => (row, true)

    val csv = CsvSink.writeString(df, CsvOptions(mappers = m))
    assert(csv == "column_0,column_1\n<spark/column_0>1,a\n<spark/column_0>2,\n", csv)
    assert(CsvSink.writeString(df, CsvOptions(mappers = m, preProcessor = Some(keep))) == csv)
    assert(CsvSink.lines(df, CsvOptions(mappers = m)).collect().toSeq ==
      Seq("<spark/column_0>1,a", "<spark/column_0>2,"))

    val html = HtmlSink.writeString(df, HtmlOptions(mappers = m))
    assert(html.contains("<tr><td><spark/column_0>1</td><td>a</td></tr>"), html)
    assert(html.contains(s"<tr><td><spark/column_0>2</td><td>${HtmlOptions().nullValue}</td></tr>"), html)
    assert(HtmlSink.writeString(df, HtmlOptions(mappers = m, preProcessor = Some(keep))) == html)

    val xml = XmlSink.writeString(df, XmlOptions(mappers = m))
    assert(xml.contains("<row><column_0>&lt;spark/column_0&gt;1</column_0><column_1>a</column_1></row>"), xml)
    assert(xml.contains("<row><column_0>&lt;spark/column_0&gt;2</column_0></row>"), xml)
    assert(XmlSink.writeString(df, XmlOptions(mappers = m, preProcessor = Some(keep))) == xml)

    // JSON: the distributed objects and the map hook emit the same bytes
    for (nd <- Seq(true, false)) {
      val plain = JsonSink.writeString(df, JsonOptions(newlineDelimited = nd, mappers = m))
      val hooked = JsonSink.writeString(df, JsonOptions(newlineDelimited = nd, mappers = m,
        preProcessor = Some((_, row) => (row, true))))
      assert(plain.contains("\"column_0\":\"\\u003cspark/column_0\\u003e1\""), plain)
      assert(hooked == plain, s"newlineDelimited=$nd hooked=$hooked plain=$plain")
    }
  }

  test("csv: writeDir keeps cells' leading and trailing whitespace") {
    val df = Slice.fromData(spark, Seq(Seq(" lead", "trail "), Seq(" both ", "none")))
    val dir = java.nio.file.Files.createTempDirectory("graft_ws").toString + "/csv"
    CsvSink.writeDir(df, dir)
    val back = spark.read.option("header", "true").csv(dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set((" lead", "trail "), (" both ", "none")), back)
  }

  test("csv: writeDir part files hold writeString's bytes, Go quoting included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import DsvWriteSpec.outDir
    val rnd = new scala.util.Random(20261018)
    val tokens = IndexedSeq(" ", "\t", "\u00A0", "\u0085", "\"", ",", ";", "\r", "\n",
      "\r\n", "\"\"", "x", "ab", "é", "\\")
    def cell(): String = rnd.nextInt(10) match {
      case 0 => null
      case 1 => "\\."
      case 2 => ""
      case 3 => "\"\""
      case _ => Seq.fill(1 + rnd.nextInt(4))(tokens(rnd.nextInt(tokens.length))).mkString
    }
    val rows = (0 until 40).map(i => Row(i, cell(), cell(), cell()))
    val schema = StructType(StructField("id", IntegerType) +:
      Seq("a", "b", "c").map(StructField(_, StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val one = df.coalesce(1)
    val four = df.repartitionByRange(4, col("id")).sortWithinPartitions("id")
    def parts(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
        .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toSeq
    for (d <- Seq(',', ';'); crlf <- Seq(false, true)) {
      val opts = CsvOptions(delimiter = d, useCRLF = crlf, nullValue = " N,A;")
      val tag = s"${if (d == ',') "comma" else "semi"}_$crlf"
      val header = StringFormat.csvLine(schema.fieldNames.toIndexedSeq, d, crlf) + opts.eol
      CsvSink.writeDir(one, outDir(s"go_one_$tag"), opts)
      assert(parts(outDir(s"go_one_$tag")) == Seq(CsvSink.writeString(one, opts)), tag)
      // a session cap on records per file must not split a partition's file
      withConf("spark.sql.files.maxRecordsPerFile" -> "3") {
        CsvSink.writeDir(four, outDir(s"go_four_$tag"), opts)
      }
      val files = parts(outDir(s"go_four_$tag"))
      assert(files.length == 4 && files.forall(_.startsWith(header)), tag)
      assert((files.head +: files.tail.map(_.stripPrefix(header))).mkString ==
        CsvSink.writeString(four, opts), tag)
    }
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
    // ... and so do the part-file writers, also where the plan has no
    // partitions at all
    for ((how, src, limit) <- Seq(("filter", none, -1), ("limit0", df3, 0))) {
      for (eager <- Seq(true, false)) {
        val dir = outDir(s"law_csv_${how}_$eager")
        val opts = CsvOptions(writeHeaderWhenNoData = eager, limit = limit)
        CsvSink.writeDir(src, dir, opts)
        assert(concatenated(dir) == CsvSink.writeString(src, opts), s"csv $how eager=$eager")
      }
      val dir = outDir(s"law_ndjson_$how")
      val opts = JsonOptions(newlineDelimited = true, limit = limit)
      JsonSink.writeDir(src, dir, opts)
      assert(concatenated(dir) == JsonSink.writeString(src, opts), s"ndjson $how")
    }
    assert(CsvSink.writeString(none) == "column_0,column_1\n")
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

  // ---- byte-chunk delivery against the String encoders it replaced ----

  private def fileBytes(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  /** The directory's non-hidden files' bytes, concatenated in name order. */
  private def dirBytes(dir: String): Array[Byte] =
    new java.io.File(dir).listFiles().filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName).flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))

  private def bound(codec: String, df: org.apache.spark.sql.DataFrame, limit: Int): Exporter.Bound = {
    val e = Exporter(df)
    codec match {
      case "csv" => e.csv(CsvOptions(limit = limit))
      case "json" => e.json(JsonOptions(limit = limit))
      case "xml" => e.xml(XmlOptions(limit = limit))
      case "html" => e.html(HtmlOptions(limit = limit))
    }
  }

  /** What the String encoders made of `df` under `limit`, with default
    * options: the rendered rows (JSON: the objects) pulled through a
    * local iterator, each encoded by [[StringFormat]], then framed. */
  private def stringExport(codec: String, df: org.apache.spark.sql.DataFrame, limit: Int): String = {
    val names = df.schema.fieldNames.toIndexedSeq
    def rendered = graft.functions.Render.renderAll(SinkIO.limited(df, limit)).toLocalIterator().asScala
      .map(r => Array.tabulate(r.length)(i => if (r.isNullAt(i)) null else r.getString(i))).toSeq
    def filled(cells: Array[String], nullAs: String) = cells.map(c => if (c == null) nullAs else c).toIndexedSeq
    def framed(rows: Seq[String], open: String, sep: String, close: String, empty: String = "") =
      if (rows.isEmpty) empty else open + rows.mkString(sep) + close
    codec match {
      case "csv" => StringFormat.csvLine(names, ',', useCRLF = false) + "\n" +
        rendered.map(c => StringFormat.csvLine(filled(c, ""), ',', useCRLF = false) + "\n").mkString
      case "json" => framed(JsonSink.objects(df, JsonOptions(limit = limit)).toLocalIterator().asScala.toSeq,
        "[\n", ",\n", "\n]\n")
      case "xml" => framed(rendered.map(c => StringFormat.xmlRow(names, c, filled(c, ""))),
        Format.xmlDeclaration + "\n<data>\n", "\n", "\n</data>\n")
      case "html" => HtmlSink.headerBlock(df) + framed(rendered.map(c => StringFormat.htmlRow(filled(c, Format.htmlNullValue))),
        "<tbody>", "", "</tbody></table></body></html>", "</table></body></html>")
    }
  }

  /** Ids of the jobs started while `body` ran. */
  private def jobsOf(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull, e.jobId))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-watched", "watched")
      try body finally sc.clearJobGroup()
      // the bus delivers events in order: once this marker job is seen,
      // every job the body started has been seen too
      sc.setJobGroup("graft-marker", "marker")
      try spark.range(1).queryExecution.toRdd.count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._1 == "graft-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == "graft-marker"), "the marker job was never seen")
      seen.asScala.collect { case ("graft-watched", id) => id }.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("byte chunks: every codec and limit gives the String encoders' bytes, across chunks and an empty partition") {
    import org.apache.spark.sql.functions._
    // four partitions of 1000 ids; the second is empty, the first holds
    // about 1.5 MB of cells, more than one chunk
    val df = spark.range(0, 4000, 1, 4).where(col("id") < 1000 || col("id") >= 2000)
      .select(col("id"),
        when(col("id") < 1000, repeat(lit("é<&\"x,\t😀"), 120)).otherwise(concat(lit("r "), col("id").cast("string"))).as("text"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 1.5).as("d"))
    assert(df.rdd.getNumPartitions == 4)
    assert(SinkIO.chunks(CsvSink.lines(df, CsvOptions()), "\n", -1).length >= 4,
      "the first partition must span two chunks")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunks").toString
    for (codec <- Seq("csv", "json", "xml", "html"); limit <- Seq(-1, 0, 1, 700, 1500, 3000, 5000)) {
      val want = stringExport(codec, df, limit).getBytes("UTF-8")
      val b = bound(codec, df, limit)
      assert(b.writeString.getBytes("UTF-8").sameElements(want), s"$codec writeString limit=$limit")
      b.writeFile(s"$dir/out.$codec")
      assert(fileBytes(s"$dir/out.$codec").sameElements(want), s"$codec writeFile limit=$limit")
    }
    // limit 0: the frame alone, and no job
    val jobs = jobsOf(Seq("csv", "json", "xml", "html").foreach(c => bound(c, df, 0).writeFile(s"$dir/zero.$c")))
    assert(jobs.isEmpty, s"limit = 0 started jobs $jobs")
  }

  test("invalid UTF-8 cells export as their U+FFFD decoding on every path") {
    import org.apache.spark.sql.functions._
    val raw = Seq(1 -> Array(0x61, 0xC3, 0x28, 0x62), 2 -> Array(0xFF), 3 -> Array(0x78, 0xE2, 0x82))
    val bin = spark.createDataFrame(raw.map { case (id, b) => (id, b.map(_.toByte)) }).toDF("id", "b")
    // a parquet string column holding the same malformed bytes
    val pq = java.nio.file.Files.createTempDirectory("graft_badutf8").toString + "/t"
    bin.select(col("id"), col("b"), col("b").cast("string").as("s")).write.parquet(pq)
    val df = spark.read.parquet(pq).orderBy("id").coalesce(1)
    assert(df.schema.map(_.dataType.typeName) == Seq("integer", "binary", "string"))

    val (r1, r2, r3) = ("a\uFFFD(b", "\uFFFD", "x\uFFFD")
    val rows = Seq((1, r1), (2, r2), (3, r3))
    val csv = "id,b,s\n" + rows.map { case (i, t) => s"$i,$t,$t\n" }.mkString
    val b64 = Seq("YcMoYg==", "/w==", "eOKC")
    val objects = rows.zip(b64).map { case ((i, t), b) => s"""{"b":"$b","id":$i,"s":"$t"}""" }
    val json = objects.mkString("[\n", ",\n", "\n]\n")
    val ndjson = objects.map(_ + "\n").mkString
    val xml = Format.xmlDeclaration + "\n<data>\n" +
      rows.map { case (i, t) => s"<row><id>$i</id><b>$t</b><s>$t</s></row>" }.mkString("\n") + "\n</data>\n"
    val html = HtmlSink.headerBlock(df) + "<tbody>" +
      rows.map { case (i, t) => s"<tr><td>$i</td><td>$t</td><td>$t</td></tr>" }.mkString +
      "</tbody></table></body></html>"

    val dir = java.nio.file.Files.createTempDirectory("graft_badutf8_out").toString
    val e = Exporter(df)
    for ((name, b, want) <- Seq(("csv", e.csv(), csv), ("json", e.json(), json), ("xml", e.xml(), xml),
        ("html", e.html(), html))) {
      assert(b.writeString == want, name)
      b.writeFile(s"$dir/out.$name")
      assert(fileBytes(s"$dir/out.$name").sameElements(want.getBytes("UTF-8")), name)
    }
    CsvSink.writeDir(df, s"$dir/csv")
    assert(dirBytes(s"$dir/csv").sameElements(csv.getBytes("UTF-8")))
    JsonSink.writeDir(df, s"$dir/ndjson")
    assert(dirBytes(s"$dir/ndjson").sameElements(ndjson.getBytes("UTF-8")))
    XmlSink.writeDirFramed(df, s"$dir/xml")
    assert(dirBytes(s"$dir/xml").sameElements(xml.getBytes("UTF-8")))
    HtmlSink.writeDirFramed(df, s"$dir/html")
    assert(dirBytes(s"$dir/html").sameElements(html.getBytes("UTF-8")))
  }
}
