package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.Exporter
import graft.functions.Render
import graft.sinks._
import graft.sources.Tables

/** An export's bytes: MD5, size and a count of row markers. */
final case class Out(md5: String, bytes: Long, marks: Long)

object Out {
  /** Row markers per codec: CSV records and JSON lines (newlines),
    * `<row>` elements, `<tr>` rows. The generated table holds no newline
    * and no `<` in a cell, so a plain scan counts them exactly. */
  def read(path: String, codec: String): Out = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val pat = (codec match { case "xml" => "<row>"; case "html" => "<tr>"; case _ => "\n" }).getBytes("UTF-8")
    var bytes, marks = 0L
    var j = 0
    val buf = new Array[Byte](1 << 16)
    val in = Files.newInputStream(Paths.get(path))
    try {
      var n = in.read(buf)
      while (n > 0) {
        md.update(buf, 0, n)
        bytes += n
        var i = 0
        while (i < n) {
          val b = buf(i)
          if (b == pat(j)) {
            j += 1
            if (j == pat.length) { j = 0; marks += 1 }
          } else j = if (b == pat(0)) 1 else 0
          i += 1
        }
        n = in.read(buf)
      }
    } finally in.close()
    Out(md.digest().map("%02x".format(_)).mkString, bytes, marks)
  }
}

/** `export_stream`: the driver-stream `writeFile` of the four codecs
  * back to back on one table, timed per codec. */
object Exports {
  val codecs = Seq("csv", "json", "xml", "html")

  private def write(c: String, df: DataFrame, path: String): Unit = c match {
    case "csv" => Exporter(df).csv().writeFile(path)
    case "json" => Exporter(df).json().writeFile(path)
    case "xml" => Exporter(df).xml().writeFile(path)
    case "html" => Exporter(df).html().writeFile(path)
  }

  private def builder(c: String, df: DataFrame): Dataset[String] = c match {
    case "csv" => CsvSink.lines(df, CsvOptions())
    case "json" => JsonSink.objects(df)
    case "xml" => XmlSink.rows(df)
    case "html" => HtmlSink.rows(df)
  }

  private def content(c: String, df: DataFrame): Iterator[String] = c match {
    case "csv" => CsvSink.contentIterator(df, CsvOptions())
    case "json" => JsonSink.contentIterator(df)
    case "xml" => XmlSink.contentIterator(df)
    case "html" => HtmlSink.contentIterator(df)
  }

  /** Seconds from asking for the content until the first data-row chunk;
    * CSV and HTML emit their header eagerly, so that chunk is skipped. */
  private def firstRow(c: String, df: DataFrame): Double = {
    val t0 = System.nanoTime()
    val it = content(c, df)
    if (c == "csv" || c == "html") it.next()
    it.next()
    (System.nanoTime() - t0) / 1e9
  }

  /** Row markers a correct export of `rows` rows holds (see [[Out.read]]). */
  private def expectedMarks(c: String, rows: Long): Long = c match {
    case "csv" => rows + 1 // the header
    case "json" => rows + 2 // array mode: "[" and "]" lines
    case _ => rows
  }

  def run(ctx: Ctx): Seq[(String, Any)] = {
    import ctx.{a, spark, tmp}
    val table = "lineitem"
    val rows = a.rows(table)
    val in = s"$tmp/input"
    val (df, resolveS) = Time { val d = Tables.table(spark, in, table); d.schema; d }
    Files.createDirectories(Paths.get(s"$tmp/out"))
    def path(c: String) = s"$tmp/out/$c"

    def pass(tag: String): Map[String, (Double, Out)] = codecs.flatMap { c =>
      ctx.op(s"$tag.$c") {
        val (_, t) = Time(ctx.span(s"sinks.write.$c", tag)(write(c, df, path(c))))
        c -> (t, Out.read(path(c), c))
      }
    }.toMap

    var warm = Map.empty[String, (Double, Out)]
    def same(tag: String, c: String, o: Out): Unit =
      ctx.expect(s"$tag.$c", warm.get(c).forall(_._2 == o), s"output differs from the warm pass")

    /** The four writes, checked against the warm pass, then (untraced
      * passes only) four first-row probes: a probe varies twice as much
      * as a pass, so it takes more of them for a steady median. */
    def timedPass(tag: String): (Map[String, (Double, Out)], Seq[Double]) = {
      val p = pass(tag)
      p.foreach { case (c, (_, o)) => same(tag, c, o) }
      val probes =
        if (tag.startsWith("traced")) Nil
        else (1 to 4).flatMap(j => ctx.op(s"$tag.first_row$j")(firstRow("csv", df)))
      (p, probes)
    }

    // set-up ends with six untimed passes: the first one's outputs are
    // the reference every later pass must reproduce byte for byte; the
    // others, probes included, let the JIT settle. With four, pass times
    // still fell by up to a third across a 25 s window in some runs.
    val (_, warmS) = Time {
      warm = pass("warm")
      (2 to 6).foreach(j => timedPass(s"warm$j"))
    }
    warm.foreach { case (c, (_, o)) =>
      val want = expectedMarks(c, rows)
      ctx.expect(s"warm.$c", o.marks == want, s"${o.marks} row markers, expected $want")
    }

    // Layers come from timing successive prefixes of each codec's op:
    // drain the scan; drain Render.renderAll; drain the row builder;
    // drain contentIterator. Each metric is the whole
    // prefix's time, so it includes the layers before it and a layer's
    // own share is its difference from the previous prefix. The full
    // write is the traced replica's.
    val (untraced, traced) = ctx.measure(minPasses = 5)(timedPass)(_._1.values.map(_._1).sum) {
      case (op, (writes, _), m) =>
        var scanS = 0.0
        m("sources.scan_tasks") = ctx.tasksIn { scanS = Time(ctx.span("sources.scan", op)(Drain.count(df)))._2 }
        m("sources.scan_s") = scanS
        m("functions.render_s") = Time(ctx.span("functions.render", op)(Drain.count(Render.renderAll(df))))._2
        codecs.foreach { c =>
          m(s"sinks.encode_s.$c") = Time(ctx.span(s"sinks.encode.$c", op)(Drain.count(builder(c, df))))._2
          m(s"exporter.stream_s.$c") = Time(ctx.span(s"exporter.stream.$c", op)(content(c, df).foreach(_ => ())))._2
          m(s"exporter.first_row_s.$c") = ctx.span(s"exporter.first_row.$c", op)(firstRow(c, df))
          writes.get(c).foreach { case (t, o) =>
            m(s"sinks.write_s.$c") = t
            m(s"sinks.bytes_out.$c") = o.bytes.toDouble
          }
        }
    }

    // outputs of a fixed input, compared with the digests recorded at the
    // seed commit (perfbench/golden.json)
    val goldenOut = ctx.golden(codecs) { c =>
      write(c, Tables.table(spark, s"$tmp/golden", table), path(c))
      Out.read(path(c), c).md5
    }

    val wallS = Time.median(untraced.map(_._1.values.map(_._1).sum))
    Seq(
      "setup" -> Json.obj("session_s" -> ctx.sessionS, "resolve_s" -> resolveS,
        "warm_s" -> warmS),
      "end_to_end" -> Map(
        "setup_s" -> (ctx.sessionS + resolveS + warmS),
        "rows_per_s" -> codecs.size * rows / wallS,
        "wall_s" -> wallS,
        "first_row_s" -> Time.median(untraced.flatMap(_._2))),
      "per_layer" -> traced,
      "passes" -> untraced.map { case (p, f) =>
        Json.obj("wall_s" -> p.values.map(_._1).sum, "first_row_s" -> f,
          "codec_s" -> p.map { case (c, (t, _)) => c -> t }) },
      "bytes_out" -> warm.map { case (c, (_, o)) => c -> o.bytes },
      "golden" -> goldenOut)
  }
}
