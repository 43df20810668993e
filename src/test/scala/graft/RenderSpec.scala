package graft

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GoFormat, GoTime, Render}

/** Parity tests for the tostring render layer against the semantics of
  * `/root/reference/tostring/tostring.go:34-98`. */
class RenderSpec extends SparkTestBase {
  import spark.implicits._

  // ---- GoFormat (float 'f' -1 semantics, tostring.go:71-74) ----

  test("double formatting: table of Go strconv.FormatFloat('f',-1,64) cases") {
    val cases = Seq(
      0.0 -> "0",
      1.0 -> "1",
      -1.0 -> "-1",
      3.14 -> "3.14",
      -2.5 -> "-2.5",
      0.001 -> "0.001",
      1e7 -> "10000000",
      1e21 -> "1000000000000000000000",
      1.5e-7 -> "0.00000015",
      1.0e-7 -> "0.0000001",
      123456.789 -> "123456.789",
      Double.NaN -> "NaN",
      Double.PositiveInfinity -> "+Inf",
      Double.NegativeInfinity -> "-Inf",
      -0.0 -> "-0")
    cases.foreach { case (d, want) =>
      assert(GoFormat.formatDouble(d) == want, s"for $d")
    }
  }

  test("float formatting matches 32-bit shortest form") {
    assert(GoFormat.formatFloat(3.14f) == "3.14")
    assert(GoFormat.formatFloat(1.0f) == "1")
    assert(GoFormat.formatFloat(-0.5f) == "-0.5")
    assert(GoFormat.formatFloat(1e10f) == "10000000000")
  }

  test("double formatting properties: never scientific, always round-trips") {
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      // mix of magnitudes, including ones where JVM toString goes scientific
      val d = rnd.nextDouble() * math.pow(10, rnd.nextInt(61) - 30) *
        (if (rnd.nextBoolean()) 1 else -1)
      val s = GoFormat.formatDouble(d)
      assert(!s.contains("E") && !s.contains("e"), s"scientific for $d: $s")
      assert(java.lang.Double.parseDouble(s) == d, s"round-trip for $d: $s")
    }
  }

  test("GoFormatDouble expression works in a plan (codegen path)") {
    val df = Seq(3.14, 1.0, 1e21, 0.001).toDF("x")
      .select(Render.goDouble($"x").as("s"))
    assert(df.as[String].collect().toSeq ==
      Seq("3.14", "1", "1000000000000000000000", "0.001"))
    val withNull = Seq[Option[Double]](Some(2.5), None).toDF("x")
      .select(Render.goDouble($"x").as("s"))
    assert(withNull.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("2.5"), None))
  }

  // ---- timestamps (RFC3339Nano, zero-time→NULL; tostring.go:65-70) ----

  test("rfc3339Nano: trims fractional zeros, Z at UTC, zero time is NULL") {
    val rows = Seq(
      "2024-03-01 12:30:45.123456" -> "2024-03-01T12:30:45.123456Z",
      "2024-03-01 12:30:45.120000" -> "2024-03-01T12:30:45.12Z",
      "2024-03-01 12:30:45.000000" -> "2024-03-01T12:30:45Z",
      "2024-03-01 00:00:00"        -> "2024-03-01T00:00:00Z")
    val df = rows.map(_._1).toDF("s")
      .select(Render.rfc3339Nano(to_timestamp($"s")).as("r"))
    assert(df.as[String].collect().toSeq == rows.map(_._2))

    val zero = Seq("0001-01-01 00:00:00").toDF("s")
      .select(Render.rfc3339Nano(to_timestamp($"s")).as("r"))
    assert(zero.collect()(0).isNullAt(0))
  }

  /** Reference RFC3339Nano built from Spark's own `date_format`: three
    * calls, a `regexp_replace` and a `concat`. */
  private def treeRfc3339NanoRaw(c: Column): Column = {
    val base = date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
    val frac = regexp_replace(date_format(c, "SSSSSS"), "0+$", "")
    concat(base, when(frac === lit(""), lit("")).otherwise(concat(lit("."), frac)),
      date_format(c, "XXX"))
  }

  /** Epoch micros → the NTZ value with that UTC wall clock. */
  private def wall(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L).toInt * 1000, ZoneOffset.UTC)

  private def micros(ldt: String): Long = {
    val t = LocalDateTime.parse(ldt)
    t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000
  }

  /** Rows of (micros, the NTZ wall clock of the same number) in one
    * partition of an RDD, so the projection over them runs in the
    * configured codegen mode rather than being folded by the optimizer. */
  private def timeRows(us: Seq[Long]) =
    spark.createDataFrame(spark.sparkContext.parallelize(us.map(u => Row(u, wall(u))), 1),
      StructType(Seq(StructField("us", LongType), StructField("ntz", TimestampNTZType))))

  test("rfc3339Nano: the kernel emits the old Column tree's bytes in every zone and codegen mode") {
    val lo = GoTime.ZeroMicros                  // 0001-01-01T00:00:00Z
    val hi = micros("9999-12-31T23:59:59.999999")
    val rnd = new java.util.SplittableRandom(20241017L)
    val edges = Seq(0L, -1L, 1L, 100000L, lo, hi) ++ Seq(
      "2024-03-01T23:59:59.999999", "2000-02-29T12:00:00.5", "1900-03-01T00:00:00",
      "0999-12-31T23:59:59.25", "1000-01-01T00:00:00", "9999-01-01T00:00:00.000001",
      "9999-12-31T23:00:00.5", // year 10000 in Kolkata: `date_format` signs it
      // New York 2024: the spring-forward gap and fall-back overlap as
      // wall clocks (NTZ) and as instants, and an LMT (-04:56:02) instant
      "2024-03-10T02:30:00", "2024-03-10T07:30:00", "2024-11-03T01:30:00",
      "2024-11-03T05:30:00", "2024-11-03T06:30:00", "1850-06-01T12:00:00.123"
    ).map(micros)
    val inputs = edges ++ Seq.fill(2000)(rnd.nextLong(lo, hi + 1))
    val zeroNtz = to_timestamp(lit("0001-01-01 00:00:00"))
    val modes = Seq(
      "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (zone <- Seq("UTC", "America/New_York", "Asia/Kolkata", "+05:45");
         (mode, confs) <- modes) withConf(confs :+ ("spark.sql.session.timeZone" -> zone): _*) {
      val ts = timestamp_micros($"us")
      val out = timeRows(inputs).select(
        Render.rfc3339NanoRaw(ts), treeRfc3339NanoRaw(ts),
        Render.rfc3339Nano(ts),
        when($"us" === lit(GoTime.ZeroMicros), lit(null)).otherwise(treeRfc3339NanoRaw(ts)),
        Render.rfc3339NanoRaw($"ntz"), treeRfc3339NanoRaw($"ntz"),
        Render.rfc3339Nano($"ntz"),
        when($"ntz" === zeroNtz, lit(null)).otherwise(treeRfc3339NanoRaw($"ntz")))
      val wholeStage = out.queryExecution.executedPlan.collectFirst {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
      assert(wholeStage.isDefined == (mode == "whole-stage"), s"$zone/$mode plan")
      out.collect().zip(inputs).foreach { case (r, us) =>
        Seq(0, 2, 4, 6).foreach { i =>
          assert(r.getString(i) == r.getString(i + 1),
            s"$zone/$mode column $i for $us µs (${wall(us)})")
        }
      }
    }
  }

  test("rfc3339Nano: Go's zero time is NULL in every session zone; wall clocks keep their offsets") {
    withConf("spark.sql.session.timeZone" -> "America/New_York") {
      val rows = Seq(
        GoTime.ZeroMicros,              // the zero instant: NULL, shown in any zone
        micros("0001-01-01T04:56:02"),  // New York's own 0001-01-01 00:00 wall clock
        micros("1850-06-01T12:00:00"))  // LMT: -04:56:02 prints as -04:56
      val out = timeRows(rows).select(Render.rfc3339Nano(timestamp_micros($"us")))
        .collect().map(r => Option(r.getString(0))).toSeq
      assert(out == Seq(None, Some("0001-01-01T00:00:00-04:56"), Some("1850-06-01T07:03:58-04:56")))
      // an NTZ wall clock in the DST gap moves forward, as the zone cast does
      val gap = timeRows(Seq(micros("2024-03-10T02:30:00"))).select(Render.rfc3339Nano($"ntz"))
      assert(gap.as[String].collect().toSeq == Seq("2024-03-10T03:30:00-04:00"))
    }
  }

  // ---- full render dispatch (type switch, tostring.go:38-97) ----

  test("render: primitives, binary raw string, bool, decimal") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("b", BinaryType),
      StructField("f", BooleanType), StructField("i", LongType),
      StructField("d", DecimalType(10, 2))))
    val data = Seq(Row("txt", "raw-bytes".getBytes("UTF-8"), true, 42L,
      new java.math.BigDecimal("12.50")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data), schema)
    val out = Render.renderAll(df).collect()(0)
    assert(out.getString(0) == "txt")
    assert(out.getString(1) == "raw-bytes")
    assert(out.getString(2) == "true")
    assert(out.getString(3) == "42")
    assert(out.getString(4) == "12.50")
  }

  test("render: empty array/map and 'null' JSON coerce to NULL (tostring.go:79-83)") {
    val df = Seq(
      (Seq(1, 2), Map("a" -> 1)),
      (Seq.empty[Int], Map.empty[String, Int])
    ).toDF("arr", "m")
    val out = Render.renderAll(df).collect()
    assert(out(0).getString(0) == "[1,2]")
    assert(out(0).getString(1) == """{"a":1}""")
    assert(out(1).isNullAt(0), "empty array renders as NULL")
    assert(out(1).isNullAt(1), "empty map renders as NULL")
  }

  test("render: complex cells are escaped as Go's json.Marshal writes them (tostring.go:89-96)") {
    val u = "\\" + "u"
    val df = Seq(Tuple1(Seq("<b>&", "x\by"))).toDF("arr")
    val out = Render.renderAll(df).collect()(0).getString(0)
    assert(out == s"""["${u}003cb${u}003e${u}0026","x${u}0008y"]""")
  }

  test("render: SQL NULL stays NULL for every type") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("i", IntegerType),
      StructField("x", DoubleType), StructField("t", TimestampType),
      StructField("a", ArrayType(IntegerType))))
    val data = Seq(Row(null, null, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data), schema)
    val out = Render.renderAll(df).collect()(0)
    (0 until 5).foreach(i => assert(out.isNullAt(i), s"col $i"))
  }
}
