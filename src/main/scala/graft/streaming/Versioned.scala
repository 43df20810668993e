package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

/** The one store behind every batchId-versioned streaming state here
  * (the monitors' [[Summary]] states and s12's novelty index). Batch
  * `id` writes the directory `v<id>`; the `_CURRENT` marker names the
  * last committed id and flips only after that version is fully
  * written, so no reader ever sees a torn version: a writer killed
  * mid-job leaves a `v<id>` above the marker, which nothing reads and
  * the redelivered batch overwrites. A batch id at or below the
  * committed one is a replay (foreachBatch is at-least-once) and writes
  * nothing — idempotent by construction, the contract exactly-once
  * foreachBatch sinks must implement. On a cluster the marker flip is
  * a rename on a DFS; a transactional table format replaces the store
  * unchanged. */
object Versioned {

  private def marker(dir: String) = Paths.get(dir, "_CURRENT")

  private def committedId(dir: String): Option[Long] =
    Some(marker(dir)).filter(Files.exists(_))
      .map(m => new String(Files.readAllBytes(m), "UTF-8").trim.toLong)

  /** The committed version's directory, if any batch has committed. */
  def committed(dir: String): Option[String] =
    committedId(dir).map(v => s"$dir/v$v")

  /** Commit batch `batchId`: `write(prev, out)` fills `out` (`v<batchId>`)
    * given the committed version `prev`, then the marker flips by
    * write-to-temp + ATOMIC_MOVE (a truncate-in-place write would leave a
    * partial marker on a crash, and every later batch and read would
    * fail to parse it). A replayed id calls nothing. */
  def commit(dir: String, batchId: Long)(write: (Option[String], String) => Unit): Unit = {
    val prev = committedId(dir)
    if (prev.forall(_ < batchId)) {
      write(prev.map(v => s"$dir/v$v"), s"$dir/v$batchId")
      val tmp = Paths.get(dir, s"._CURRENT.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.write(tmp, batchId.toString.getBytes("UTF-8"))
      Files.move(tmp, marker(dir), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The committed versions with an id below `below`, ascending — the
    * reads of an append log, whose every version holds one batch's rows. */
  def versions(dir: String, below: Long = Long.MaxValue): Seq[String] = {
    val last = committedId(dir).fold(-1L)(c => math.min(c, below - 1))
    Option(new java.io.File(dir).list()).toSeq.flatten
      .collect { case n if n.matches("v\\d+") && n.drop(1).toLong <= last => n.drop(1).toLong }
      .sorted.map(v => s"$dir/v$v")
  }
}
