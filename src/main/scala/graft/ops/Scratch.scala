package graft.ops

/** Shared scratch-path scheme for queries that must write somewhere
  * (layout demos, roundtrips, stream staging): FIXED per (tag, source
  * key) so repeated bench/verify invocations overwrite instead of
  * leaking a fresh temp dir per call. */
object Scratch {

  /** Derivation-logic revision, folded into every scratch key: derived
    * artifacts (shingles, knn, wavs, edges, bpe) are trusted forever
    * once their _SUCCESS marker exists, so an artifact written by an
    * OLDER build whose derivation logic differed would otherwise be
    * silently served to correctness gates and benches. BUMP THIS on any
    * change to any artifact's derivation logic or layout — stale-format
    * artifacts then miss the cache by construction. (Bump it even for
    * WITHIN-session derivation changes: r13a briefly coexisted with two
    * generations of the knn layout and served the old one to 9 specs.) */
  val Rev = "r18a"

  /** 8-hex-digit md5 of `key` — the stable discriminator used in
    * scratch paths and per-source table names. */
  def key8(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** `tmpdir/<tag>_<key8(Rev|key)>`. */
  def dir(tag: String, key: String): String =
    s"${System.getProperty("java.io.tmpdir")}/${tag}_${key8(s"$Rev|$key")}"

  /** Process-unique staging path for an atomic publish into `dest`:
    * write the artifact under the returned path, then [[publish]] it.
    * Closes the cross-process race on shared derived artifacts (two
    * JVMs — e.g. bench and verify — both deriving while a third reads
    * a half-overwritten directory): readers only ever observe either
    * nothing or a COMPLETE directory, because the publish is a single
    * same-filesystem rename. */
  def stageFor(dest: String): String =
    dest + ".stage-" + java.util.UUID.randomUUID().toString.take(8)

  /** Atomically rename `stage` into `dest`.
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
  def publish(stage: String, dest: String): Unit = {
    import java.nio.file._
    val d = Paths.get(dest)
    val lockPath = Paths.get(dest + ".lock")
    // dest.intern: two threads of ONE JVM would otherwise hit
    // OverlappingFileLockException on the shared channel lock (callers
    // normally hold a per-path lock already; this makes publish safe on
    // its own)
    dest.intern.synchronized {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (Files.exists(d.resolve("_SUCCESS"))) {
            // a concurrent publisher won the derivation race: their
            // complete artifact stands, ours is redundant
            deleteRecursively(Paths.get(stage))
          } else {
            if (Files.exists(d)) deleteRecursively(d) // torn: no marker
            try Files.move(Paths.get(stage), d, StandardCopyOption.ATOMIC_MOVE)
            catch { case e: FileSystemException =>
              deleteRecursively(Paths.get(stage))
              // only the lost-the-race case may be swallowed; under the
              // lock that cannot happen, so surface the real failure
              if (!Files.exists(d.resolve("_SUCCESS"))) throw e
            }
          }
        } finally lock.release()
      } finally ch.close()
    }
  }

  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file._
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }
  }
}
