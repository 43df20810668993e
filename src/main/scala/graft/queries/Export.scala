package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Render
import graft.sinks.{CsvOptions, CsvSink}
import graft.sources.Tables

/** End-to-end export queries: the reference's product surface (render →
  * serialize → file) exercised as oracle-checkable entries. The DuckDB
  * oracle reproduces the render semantics in SQL (Go-style shortest
  * floats via `format('{}')` with `.0` trim, RFC3339Nano timestamps via
  * strftime + trailing-zero trim). */
object Export {

  /** A graft-framed output directory's document: its non-hidden files
    * concatenated in name order. */
  private def framedDocument(out: String): String =
    Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // render layer as a query: every lineitem column → reference string form
    "q19_export_render" -> ((s, dir) => {
      import s.implicits._
      val src = Tables.lineitem(s, dir)
        .orderBy($"l_orderkey", $"l_linenumber").limit(100)
      Render.renderAll(src)
    }),

    // full pipeline: render → distributed CSV write → read back as strings
    "q20_export_csv_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val src = Tables.lineitem(s, dir)
        .orderBy($"l_orderkey", $"l_linenumber").limit(100)
      // fixed per-source-dir scratch path, overwritten per invocation
      // (graft.ops.Scratch — a fresh createTempDirectory per closure
      // call would leak a copy every bench/verify run)
      val tmp = graft.ops.Scratch.dir("graft_csv", dir) + "/out"
      CsvSink.writeDir(src, tmp, CsvOptions())
      s.read.option("header", "true").csv(tmp)
        .orderBy($"l_orderkey".cast("long"), $"l_linenumber".cast("int"))
    }),

    // NDJSON roundtrip: the library's distributed JSON sink writes
    // native-typed objects; Spark's json source reads them back under
    // an EXPLICIT schema (no inference pass — at 100 TB schema
    // inference is a full extra scan). Proves the sink's output is a
    // valid Spark/JSON-lines interchange format, not just bytes.
    "q43_export_jsonl_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val src = Tables.documents(s, dir).orderBy($"doc_id").limit(100)
      val tmp = graft.ops.Scratch.dir("graft_jsonl", dir) + "/out"
      graft.sinks.JsonSink.writeDir(src, tmp,
        graft.sinks.JsonOptions(newlineDelimited = true))
      s.read.schema(src.schema).json(tmp).orderBy($"doc_id")
    }),

    // DSv2 WRITE roundtrip: the reference's global JSON-ARRAY format
    // written DISTRIBUTED through the custom BatchWrite
    // ([[graft.sinks.v2.FramedTextSink]] — commit protocol lays the
    // [ , ] framing down as name-interleaved files; built-in sinks
    // cannot express global framing). Rows are range-partitioned so
    // file-name order == global order; the read-back concatenates the
    // non-hidden files (tiny, driver-side — the array spans files, so
    // no per-file reader can parse it) and parses the single JSON array
    // under an explicit schema.
    "g3_dsv2_array_sink" -> ((s, dir) => {
      import s.implicits._
      val out = graft.ops.Scratch.dir("graft_v2arr", dir)
      val src = Tables.documents(s, dir).orderBy($"doc_id").limit(100)
        .repartitionByRange(4, $"doc_id").sortWithinPartitions($"doc_id")
      graft.sinks.JsonSink.objects(src)
        .write.format("graft-framed").mode("overwrite").save(out)
      val whole = framedDocument(out)
      import org.apache.spark.sql.Dataset
      val oneDoc: Dataset[String] = Seq(whole).toDS()
      s.read.schema(src.schema).option("multiLine", "true").json(oneDoc)
        .orderBy($"doc_id")
    }),

    // DSv2 HTML roundtrip: the whole-document HTML format (CSS + sticky
    // thead + <tbody> wrap) written DISTRIBUTED through the same framed
    // commit protocol as g3 — the last sink family that was driver-path
    // only. Range partitioning makes file-name order == global order;
    // the read-back concatenates the files, strips the framing, and
    // re-parses the raw <tr>/<td> fragments (cells are unescaped by
    // reference contract, and the projected columns cannot contain
    // markup). Driver-side parse of a 100-row document — the parse is
    // the gate's harness, not a data path.
    "g5_dsv2_html_sink" -> ((s, dir) => {
      import s.implicits._
      val out = graft.ops.Scratch.dir("graft_v2html", dir)
      val src = Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"source", $"n_chars")
        .orderBy($"doc_id").limit(100)
        .repartitionByRange(4, $"doc_id").sortWithinPartitions($"doc_id")
      graft.sinks.HtmlSink.writeDirFramed(src, out)
      val whole = framedDocument(out)
      val body = whole.substring(whole.indexOf("<tbody>") + "<tbody>".length,
        whole.indexOf("</tbody>"))
      val cell = "<td>(.*?)</td>".r
      val parsed = "<tr>(.*?)</tr>".r.findAllMatchIn(body).map { m =>
        val c = cell.findAllMatchIn(m.group(1)).map(_.group(1)).toIndexedSeq
        // harness loudness: the parse assumes exactly 4 plain-text cells.
        // A NULL would render as the styled <span>[NULL]</span> markup and
        // silently parse back as that literal; fail loudly instead so a
        // future corpus change surfaces as a harness error, not a
        // confusing oracle hash mismatch.
        require(c.length == 4, s"g5 read-back: expected 4 cells, got ${c.length} in '${m.group(1)}'")
        c.foreach(v => require(!v.contains("<"),
          s"g5 read-back: unexpected markup (NULL render or nested tag) in cell '$v'"))
        (c(0).toLong, c(1), c(2), c(3).toLong)
      }.toSeq
      parsed.toDF("doc_id", "lang", "source", "n_chars").orderBy($"doc_id")
    }),

    // JDBC SINK roundtrip: the write-side twin of FromSQL
    // (scanner/sql.go:20 reads; a full integration also SERVES results
    // back to a warehouse). An aggregate lands in embedded Derby via
    // Spark's JDBC writer and is read back through the same FromSQL
    // path the reference's scanner semantics live behind — roundtrip
    // identity, so the oracle is the direct aggregate. The write is
    // the k-row RESULT, never the corpus: at 100 TB the pattern is
    // "aggregate in Spark, publish the summary to the serving DB",
    // and only the summary crosses the JDBC boundary. toDF rename:
    // Derby uppercases unquoted identifiers, the gate compares by
    // name — positional rename is immune to dialect case policy.
    "g6_jdbc_sink_roundtrip" -> ((s, dir) => {
      val url = "jdbc:derby:memory:graftg6;create=true"
      val agg = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          graft.ops.Num.dsum(col("o_totalprice")).as("total_price"))
      agg.write.mode("overwrite").format("jdbc")
        .option("url", url)
        .option("dbtable", "ordstats")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .save()
      graft.sources.Slice.fromSql(s, url,
          "SELECT * FROM ordstats",
          driver = Some("org.apache.derby.jdbc.EmbeddedDriver"),
          sourceMeta = false)
        .toDF("o_orderpriority", "n_orders", "total_price")
        .orderBy(col("o_orderpriority"))
    }),
  )

  /** Shared render-to-SQL fragment for the lineitem columns. */
  private val renderedLineitemSql =
    """SELECT
      |  CAST(l_orderkey AS VARCHAR) AS l_orderkey,
      |  CAST(l_partkey AS VARCHAR) AS l_partkey,
      |  CAST(l_suppkey AS VARCHAR) AS l_suppkey,
      |  CAST(l_linenumber AS VARCHAR) AS l_linenumber,
      |  regexp_replace(format('{}', l_quantity), '\.0$', '') AS l_quantity,
      |  regexp_replace(format('{}', l_extendedprice), '\.0$', '') AS l_extendedprice,
      |  regexp_replace(format('{}', l_discount), '\.0$', '') AS l_discount,
      |  regexp_replace(format('{}', l_tax), '\.0$', '') AS l_tax,
      |  l_returnflag, l_linestatus,
      |  regexp_replace(strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S.%f'), '\.?0+$', '') || 'Z' AS l_shipdate
      |FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100) t
      |""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q19_export_render" ->
      (renderedLineitemSql + "ORDER BY CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INT)"),
    "q20_export_csv_roundtrip" ->
      (renderedLineitemSql + "ORDER BY CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INT)"),
    // typed roundtrip: the NDJSON read-back must equal the source rows
    "q43_export_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id LIMIT 100""".stripMargin,

    // the distributed JSON-ARRAY roundtrip must also equal the source
    "g3_dsv2_array_sink" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id LIMIT 100""".stripMargin,

    // the HTML roundtrip re-parses <td> cells as strings, so the
    // numeric columns come back via CAST (doc_id/n_chars are integral —
    // the string form is exact)
    "g5_dsv2_html_sink" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
        |  CAST(n_chars AS BIGINT) AS n_chars FROM documents
        |ORDER BY doc_id LIMIT 100""".stripMargin,

    // the Derby roundtrip is identity on BIGINT/DOUBLE, so the oracle
    // is the direct aggregate (q1's decimal-stabilized sum posture)
    "g6_jdbc_sink_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  )
}
