package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Scratch paths under `java.io.tmpdir`: fixed per (tag, source key)
  * outputs that queries overwrite on every call (layout demos,
  * roundtrips, stream staging), and the derived corpus artifacts
  * ([[artifact]]) that are written once and read by every later call. */
object Scratch {

  /** 8-hex-digit md5 of `key` — the stable discriminator used in
    * scratch paths and per-source table names. */
  def key8(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** `tmpdir/<tag>_<key8(key)>`. */
  def dir(tag: String, key: String): String =
    s"${System.getProperty("java.io.tmpdir")}/${tag}_${key8(key)}"

  /** The directory of a derived artifact, published once and then read
    * by every caller, in this JVM and in any other. Returns the
    * published directory; a multi-table artifact's tables are its
    * subdirectories.
    *
    * The path is `tmpdir/<tag>_<key8(input)>_<key8(rest)>`, where `rest`
    * folds in everything the derivation reads: `params`, the build
    * stamp (a content hash of the main classes, so any change to them
    * misses the cache: a derivation's code or layout, but also an edit
    * elsewhere that moves line numbers), the input stamp
    * (the newest file under `input`, so a corpus rewritten in place
    * misses it) and the session's `defaultParallelism` (artifacts
    * written at one file per core are derived again for another core
    * count). An artifact can therefore never be served to a build, a
    * corpus or a posture other than the one that derived it.
    *
    * The protocol: under the per-path in-JVM lock, a `_SUCCESS` marker
    * at the root is trusted as a complete artifact. Otherwise `write`
    * fills a process-unique stage directory, the root `_SUCCESS` is
    * added when the writer left none (so a multi-table artifact is
    * certified only after all its tables are written), and the stage
    * is renamed into place ([[publish]]). Readers in any process thus
    * see either nothing or a complete directory. A failed `write`
    * leaves no stage behind. */
  def artifact(s: SparkSession, tag: String, input: String, params: Any*)
              (write: String => Unit): String = {
    val dest = artifactDir(tag, input, params, s.sparkContext.defaultParallelism)
    dest.intern.synchronized {
      if (!Files.exists(Paths.get(dest, "_SUCCESS"))) {
        val stage = Paths.get(dest + ".stage-" + java.util.UUID.randomUUID().toString.take(8))
        try {
          write(stage.toString)
          val marker = stage.resolve("_SUCCESS")
          if (!Files.exists(marker)) Files.createFile(marker)
        } catch { case e: Throwable => deleteRecursively(stage); throw e }
        publish(stage, Paths.get(dest))
      }
    }
    dest
  }

  /** The path [[artifact]] publishes to for this key. */
  private[graft] def artifactDir(tag: String, input: String, params: Seq[Any],
                                 parallelism: Int): String = {
    val rest = params ++ Seq(buildStamp, inputStamp(input), parallelism)
    s"${dir(tag, input)}_${key8(rest.mkString("|"))}"
  }

  /** Content hash of the main classes, computed once per JVM. */
  lazy val buildStamp: String = orJvmUnique("build") {
    classesStamp(Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI))
  }

  /** Hash of the classes at `p`, a directory or a jar. It covers their
    * content only, not their modification times: an interrupted sbt
    * run leaves zinc's state torn, and the next run recompiles
    * identical sources with new mtimes, which scalac turns into
    * identical bytes.
    *  - A directory: every `.class` file's relative path and bytes, in
    *    sorted path order.
    *  - A jar (`sbt runMain` packages one under a fresh path on every
    *    invocation): every entry's name, CRC and size. The CRC covers
    *    the bytes but not the zip timestamps. */
  private[graft] def classesStamp(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try {
        val classes = new java.util.ArrayList[Path]()
        s.forEach(q => if (q.toString.endsWith(".class")) classes.add(q))
        classes.sort(java.util.Comparator.comparing[Path, String](_.toString))
        classes.forEach { q =>
          md.update(p.relativize(q).toString.getBytes("UTF-8"))
          md.update(Files.readAllBytes(q))
        }
      } finally s.close()
    } else {
      val zf = new java.util.zip.ZipFile(p.toFile)
      try {
        import scala.jdk.CollectionConverters._
        zf.entries.asScala.toSeq.sortBy(_.getName).foreach { e =>
          md.update(e.getName.getBytes("UTF-8"))
          md.update(java.nio.ByteBuffer.allocate(16)
            .putLong(e.getCrc).putLong(e.getSize).array())
        }
      } finally zf.close()
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** The newest modification time (ms) of the `.parquet` and `_SUCCESS`
    * files and directories under `dir`: any rewrite of a table in place
    * moves it. */
  def inputStamp(dir: String): String = orJvmUnique("input") {
    val s = Files.walk(Paths.get(dir))
    try {
      var mx = 0L
      s.forEach { q =>
        val qs = q.toString
        if (qs.endsWith(".parquet") || qs.endsWith("_SUCCESS"))
          mx = math.max(mx, Files.getLastModifiedTime(q).toMillis)
      }
      mx.toString
    } finally s.close()
  }

  private lazy val jvmUnique = java.util.UUID.randomUUID().toString
  private val warned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** `stamp`, or a value unique to this JVM when it cannot be computed:
    * nothing keyed on it is then reused across JVMs, never served stale. */
  private def orJvmUnique(what: String)(stamp: => String): String =
    try stamp catch { case e: Exception =>
      if (warned.compareAndSet(false, true))
        System.err.println(s"[scratch] WARNING: $what stamp unavailable ($e); " +
          "derived artifacts and bench resumes are not reused across JVMs")
      jvmUnique
    }

  /** Atomically rename `stage` into `dest`; the caller holds `dest`'s
    * in-JVM lock.
    *
    * Serialized ACROSS PROCESSES by a FileLock on a sibling lockfile:
    * without it, the check for a torn `dest` (exists without its
    * _SUCCESS marker), the recursive delete, and the rename are a
    * TOCTOU window in which a concurrent publisher's just-completed
    * artifact could be deleted out from under readers that already
    * observed _SUCCESS. Under the lock: a complete `dest` wins and our
    * stage is discarded; a torn `dest` (crashed writer) is cleared and
    * replaced. Any OTHER rename failure (atomic move unsupported,
    * permissions) is rethrown after cleanup — swallowing it would leave
    * dest unpublished, the derivation lost, and the caller's parquet
    * read failing far from the cause. */
  private def publish(stage: Path, dest: Path): Unit = {
    import java.nio.file._
    val ch = java.nio.channels.FileChannel.open(Paths.get(dest.toString + ".lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        if (Files.exists(dest.resolve("_SUCCESS"))) {
          // a concurrent publisher won the derivation race: their
          // complete artifact stands, ours is redundant
          deleteRecursively(stage)
        } else {
          if (Files.exists(dest)) deleteRecursively(dest) // torn: no marker
          try Files.move(stage, dest, StandardCopyOption.ATOMIC_MOVE)
          catch { case e: FileSystemException =>
            deleteRecursively(stage)
            // only the lost-the-race case may be swallowed; under the
            // lock that cannot happen, so surface the real failure
            if (!Files.exists(dest.resolve("_SUCCESS"))) throw e
          }
        }
      } finally lock.release()
    } finally ch.close()
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }
  }
}
