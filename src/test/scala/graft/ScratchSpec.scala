package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import graft.ops.Scratch

/** `Scratch.artifact`'s staged, locked, published protocol and the
  * stamps its key is built from. */
class ScratchSpec extends SparkTestBase {

  /** A fresh input dir holding one `t.parquet` file, removed afterwards
    * with every artifact keyed on it. */
  private def withInput[T](body: String => T): T = {
    val in = Files.createTempDirectory("graft_scratchspec")
    Files.write(in.resolve("t.parquet"), Array[Byte](1, 2, 3))
    val prefix = "graft_spec_" + Scratch.key8(in.toString)
    try body(in.toString) finally {
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles)
        .foreach(_.filter(_.getName.startsWith(prefix)).foreach(f => Scratch.deleteRecursively(f.toPath)))
      Scratch.deleteRecursively(in)
    }
  }

  private def put(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  test("write runs once across two calls in one JVM") {
    withInput { in =>
      var writes = 0
      def get() = Scratch.artifact(spark, "graft_spec", in, 1) { stage =>
        writes += 1
        put(Paths.get(stage, "part-0"), "x")
      }
      val a = get()
      val b = get()
      assert(a == b && writes == 1)
      assert(Files.exists(Paths.get(a, "_SUCCESS")))
      assert(new String(Files.readAllBytes(Paths.get(a, "part-0")), "UTF-8") == "x")
    }
  }

  test("a torn destination, one without _SUCCESS, is derived again") {
    withInput { in =>
      var writes = 0
      def get() = Scratch.artifact(spark, "graft_spec", in) { stage =>
        writes += 1
        put(Paths.get(stage, s"part-$writes"), "x")
      }
      val dest = get()
      Files.delete(Paths.get(dest, "_SUCCESS"))
      assert(get() == dest && writes == 2)
      assert(Files.exists(Paths.get(dest, "_SUCCESS")))
      assert(!Files.exists(Paths.get(dest, "part-1")) && Files.exists(Paths.get(dest, "part-2")))
    }
  }

  test("a multi-table artifact gets its root marker only after every table is written") {
    withInput { in =>
      def tables(stage: String, fail: Boolean): Unit = {
        for (t <- Seq("a", "b")) {
          put(Paths.get(stage, t, "part-0"), t)
          put(Paths.get(stage, t, "_SUCCESS"), "")
          assert(!Files.exists(Paths.get(stage, "_SUCCESS")), s"root marker after table $t")
          if (fail) throw new IllegalStateException("writer died after table a")
        }
      }
      val err = intercept[IllegalStateException](
        Scratch.artifact(spark, "graft_spec", in, "multi")(tables(_, fail = true)))
      assert(err.getMessage.contains("table a"))
      // the failed derivation published nothing and left no stage behind
      val dest = Scratch.artifactDir("graft_spec", in, Seq("multi"), spark.sparkContext.defaultParallelism)
      val name = Paths.get(dest).getFileName.toString
      assert(Option(Paths.get(dest).getParent.toFile.list).get
        .filter(_.startsWith(name)).forall(_.endsWith(".lock")))
      val root = Scratch.artifact(spark, "graft_spec", in, "multi")(tables(_, fail = false))
      assert(root == dest)
      for (f <- Seq("_SUCCESS", "a/part-0", "b/part-0")) assert(Files.exists(Paths.get(root, f)), f)
    }
  }

  test("the key differs per parallelism, params and input content, and is stable otherwise") {
    withInput { in =>
      def key(cores: Int, params: Any*) = Scratch.artifactDir("graft_spec", in, params, cores)
      assert(key(4, 1) == key(4, 1))
      assert(key(4, 1) != key(8, 1))
      assert(key(4, 1) != key(4, 2))
      assert(Paths.get(key(4, 1)).getFileName.toString.startsWith(s"graft_spec_${Scratch.key8(in)}_"))
      val before = key(4, 1)
      val t = Paths.get(in, "t.parquet")
      Files.setLastModifiedTime(t, FileTime.fromMillis(Files.getLastModifiedTime(t).toMillis + 5000))
      assert(key(4, 1) != before)
    }
  }

  test("the build stamp follows class bytes, not modification times, for a directory and a jar") {
    val root = Files.createTempDirectory("graft_scratchspec_classes")
    try {
      val classes = root.resolve("classes")
      put(classes.resolve("graft/A.class"), "alpha")
      put(classes.resolve("graft/B.class"), "beta")
      def jar(name: String, entryTime: Long): Path = {
        val p = root.resolve(name)
        val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
        try for (c <- Seq("graft/A.class", "graft/B.class")) {
          val e = new java.util.zip.ZipEntry(c)
          e.setTime(entryTime)
          out.putNextEntry(e)
          out.write(Files.readAllBytes(classes.resolve(c)))
          out.closeEntry()
        } finally out.close()
        p
      }
      val dir0 = Scratch.classesStamp(classes)
      val jar0 = Scratch.classesStamp(jar("a.jar", 1000000000000L))

      val b = classes.resolve("graft/B.class")
      Files.setLastModifiedTime(b, FileTime.fromMillis(Files.getLastModifiedTime(b).toMillis + 60000))
      assert(Scratch.classesStamp(classes) == dir0)
      assert(Scratch.classesStamp(jar("b.jar", 1600000000000L)) == jar0)

      Files.write(b, "betb".getBytes("UTF-8"))
      assert(Scratch.classesStamp(classes) != dir0)
      assert(Scratch.classesStamp(jar("c.jar", 1000000000000L)) != jar0)
    } finally Scratch.deleteRecursively(root)
  }
}
