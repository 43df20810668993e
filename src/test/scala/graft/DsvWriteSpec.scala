package graft

import org.apache.spark.sql.functions._

import graft.sinks.JsonSink
import graft.sources.Tables

/** DSv2 write path (graft-framed): the reference's global-array
  * framing produced distributedly must match the single-writer driver
  * path byte for byte, including the zero-rows → empty-output law. */
object DsvWriteSpec {
  def outDir(tag: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_dsvw_$tag"

  /** The directory's NON-HIDDEN files concatenated in name order ARE
    * the output byte stream (framing files interleave with data files
    * by name; `.`/`_`-prefixed entries are Hadoop metadata — local-FS
    * `.crc` sidecars, `_SUCCESS`). */
  def concatenated(dir: String): String = {
    val d = new java.io.File(dir)
    val fs = Option(d.listFiles()).getOrElse(Array.empty)
    fs.filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString
  }
}

class DsvWriteSpec extends SparkTestBase {
  import spark.implicits._
  import DsvWriteSpec._

  test("distributed JSON-array write is byte-identical to the driver path") {
    val src = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id").limit(50)
    // range-partition + in-partition sort: partition order == global
    // order, so the concatenated distributed bytes can be compared to
    // the globally-ordered driver render
    val parts = src.repartitionByRange(3, $"doc_id").sortWithinPartitions($"doc_id")
    val dir = outDir("parity")
    JsonSink.objects(parts).write.format("graft-framed")
      .mode("overwrite").save(dir)
    assert(concatenated(dir) == JsonSink.writeString(src))
    assert(new java.io.File(dir, "_SUCCESS").exists())
  }

  test("zero rows produce EMPTY output (reference empty->empty law)") {
    val none = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang").filter(lit(false))
    val dir = outDir("empty")
    JsonSink.objects(none).write.format("graft-framed")
      .mode("overwrite").save(dir)
    assert(concatenated(dir) == "")
    assert(JsonSink.writeString(none) == "")
  }

  test("overwrite truncates prior contents") {
    val dir = outDir("trunc")
    val big = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang").orderBy($"doc_id").limit(40)
    val small = big.limit(7)
    JsonSink.objects(big).write.format("graft-framed").mode("overwrite").save(dir)
    JsonSink.objects(small).write.format("graft-framed").mode("overwrite").save(dir)
    // parse the concatenation: exactly the 7 rows of the second write
    val rows = spark.read.json(Seq(concatenated(dir)).toDS())
    assert(rows.count() == 7)
  }

  test("XML framed write matches the driver path byte for byte") {
    import graft.sinks.XmlSink
    val src = Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey").limit(30)
    val parts = src.repartitionByRange(3, $"c_custkey").sortWithinPartitions($"c_custkey")
    val dir = outDir("xml")
    XmlSink.writeDirFramed(parts, dir)
    assert(concatenated(dir) == XmlSink.writeString(src))
    // and the empty→empty law holds for the XML framing too
    val none = src.filter(lit(false))
    val dirE = outDir("xml_empty")
    XmlSink.writeDirFramed(none, dirE)
    assert(concatenated(dirE) == "")
    assert(XmlSink.writeString(none) == "")
  }

  test("HTML framed write matches the driver path byte for byte") {
    import graft.sinks.{HtmlOptions, HtmlSink}
    val src = Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey").limit(30)
    val parts = src.repartitionByRange(3, $"c_custkey").sortWithinPartitions($"c_custkey")
    val dir = outDir("html")
    HtmlSink.writeDirFramed(parts, dir)
    assert(concatenated(dir) == HtmlSink.writeString(src))
    // HTML's empty law is NOT empty: eager header → header + closers
    // (the `empty` framing option), matching the driver path exactly
    val none = src.filter(lit(false))
    val dirE = outDir("html_empty")
    HtmlSink.writeDirFramed(none, dirE)
    assert(concatenated(dirE) == HtmlSink.writeString(none))
    assert(concatenated(dirE).nonEmpty)
    // ... and with the lazy header (writeHeaderWhenNoData = false),
    // zero rows really do produce zero bytes
    val lazyOpts = HtmlOptions(writeHeaderWhenNoData = false)
    val dirL = outDir("html_lazy_empty")
    HtmlSink.writeDirFramed(none, dirL, lazyOpts)
    assert(concatenated(dirL) == "")
    assert(HtmlSink.writeString(none, lazyOpts) == "")
    // lazy header WITH rows: header still appears before the first row
    val dirLR = outDir("html_lazy_rows")
    HtmlSink.writeDirFramed(parts, dirLR, lazyOpts)
    assert(concatenated(dirLR) == HtmlSink.writeString(src, lazyOpts))
  }

  test("non-string or multi-column input is rejected up front") {
    val bad = Tables.documents(spark, sf0001).select($"doc_id", $"lang")
    val e = intercept[Exception] {
      bad.write.format("graft-framed").mode("overwrite").save(outDir("bad"))
    }
    assert(e.getMessage.contains("one string column"), e.getMessage)
  }
}
