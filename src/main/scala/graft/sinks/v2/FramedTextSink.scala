package graft.sinks.v2

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.{Frame, JsonSink}

/** DataSource V2 WRITE showcase: GLOBALLY-FRAMED text output as a
  * distributed batch sink — the [[graft.sinks.Frame]] law the
  * driver-stream loop (`SinkIO.stream`) follows: `open` + rows joined
  * by `sep` + `close`, or `empty` for zero rows.
  *
  * Spark's built-in file sinks cannot express this family: the framing
  * is GLOBAL state (one opener, a separator between every adjacent pair
  * of rows ACROSS partitions, one closer, and the empty law needs
  * the global row count), which is why these formats previously existed
  * only on the single-`io.Writer` driver path. The DSv2 commit protocol
  * is exactly the right hook:
  *
  *   - each task writes its rows INTERNALLY sep-joined to
  *     `b-<pid>-rows` (lazily — a task with no rows writes nothing) and
  *     reports `(pid, rowCount)` in its commit message;
  *   - the driver-side `BatchWrite.commit` sees every count and lays the
  *     global framing down as tiny files whose NAMES interleave
  *     lexicographically with the data files: `a-open`,
  *     `b-<pid>-sep` (after each non-empty part except the last),
  *     `z-close` — plus `_SUCCESS`. Zero total rows → `empty` as
  *     `a-open` when it is non-empty, and `_SUCCESS`.
  *
  * Options `open`, `sep`, `close` and `empty` (all optional) default to
  * the reference's JSON-ARRAY frame (`json/json.go:83-156`) with `empty`
  * = `""`. `XmlSink.writeDirFramed` and `HtmlSink.writeDirFramed` pass
  * the very `Frame` their `contentIterator` streams with; a frame's
  * eager `head` has no file of its own and rides in `open` and `empty`.
  *
  * The directory's NON-HIDDEN files concatenated in NAME order are
  * byte-identical to the corresponding driver path (`JsonSink.
  * writeString` / `XmlSink.writeString`), asserted in DsvWriteSpec
  * (`.`/`_`-prefixed entries are Hadoop metadata — the standard
  * hidden-file convention every Hadoop consumer applies). Input
  * contract: ONE string column of pre-rendered rows — compose with
  * `JsonSink.objects` / `XmlSink.rows`, which own rendering/escaping;
  * this sink owns framing and the commit protocol. Hadoop `FileSystem`
  * IO throughout, so the same code runs against HDFS/S3A on a cluster.
  * Write-only (`inferSchema` throws; `supportsExternalMetadata` feeds
  * the input schema in), `append` and `overwrite` (TRUNCATE) modes.
  */
class FramedTextSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-framed"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft-framed is write-only; it has no schema to infer")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    require(schema.fields.length == 1 && schema.fields(0).dataType == StringType,
      s"graft-framed expects exactly one string column of pre-rendered " +
        s"rows (use JsonSink.objects / XmlSink.rows); got ${schema.simpleString}")
    def opt(key: String, default: String) = Option(properties.get(key)).getOrElse(default)
    val d = JsonSink.arrayFrame
    val frame = Frame(opt("open", d.open), opt("sep", d.sep), opt("close", d.close), opt("empty", d.empty))
    new FramedTable(properties.get("path"), schema, frame)
  }
}

private class FramedTable(path: String, writeSchema: StructType, frame: Frame)
    extends Table with SupportsWrite {
  require(path != null, "graft-framed requires a path (…write.save(path))")
  override def name(): String = s"graft-framed:$path"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FramedWriteBuilder(path, frame, truncate = false)
}

private class FramedWriteBuilder(path: String, frame: Frame, truncate: Boolean)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new FramedWriteBuilder(path, frame, truncate = true)
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new FramedBatchWrite(path, frame, truncate)
  }
}

private case class PartCommit(pid: Int, rows: Long) extends WriterCommitMessage

private class FramedBatchWrite(dir: String, frame: Frame, truncate: Boolean)
    extends BatchWrite {

  // the SESSION'S Hadoop configuration (fs.defaultFS, s3a credentials,
  // spark.hadoop.* overrides) — a bare `new Configuration()` would only
  // see classpath defaults and silently resolve scheme-less paths to
  // each JVM's LOCAL filesystem on a real cluster. Driver-side here;
  // shipped to executors as a plain Map (Configuration itself is not
  // Java-serializable and Spark's SerializableConfiguration is
  // spark-private).
  private def driverConf: Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // file names zero-pad to 5 digits; beyond that, lexicographic order
    // would no longer equal partition order and the concatenation
    // contract silently breaks — fail loudly instead
    require(info.numPartitions <= 99999,
      s"graft-framed supports at most 99999 partitions (got ${info.numPartitions}): " +
        "the name-interleaved framing relies on fixed-width lexicographic order")
    // driver-side, before any task runs: clear prior contents on
    // overwrite; always ensure the directory exists
    val conf = driverConf
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (truncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    import scala.jdk.CollectionConverters._
    val confMap = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toMap
    new FramedWriterFactory(dir, frame.sep, confMap)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(driverConf)
    def put(name: String, content: String): Unit = {
      val out = fs.create(new Path(p, name), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    val nonEmpty = messages.collect { case PartCommit(pid, n) if n > 0 => pid }.sorted
    if (nonEmpty.nonEmpty) {
      put("a-open", frame.open)
      nonEmpty.dropRight(1).foreach(pid => put(f"b-$pid%05d-sep", frame.sep))
      put("z-close", frame.close)
    } else if (frame.empty.nonEmpty) put("a-open", frame.empty)
    put("_SUCCESS", "")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(driverConf)
    messages.collect { case PartCommit(pid, n) if n > 0 =>
      fs.delete(new Path(p, f"b-$pid%05d-rows"), false)
    }
  }
}

private class FramedWriterFactory(dir: String, sep: String, confMap: Map[String, String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FramedWriter(dir, sep, partitionId, taskId, confMap)
}

/** Per-task writer with attempt-unique staging: rows stream sep-joined
  * into the HIDDEN `.b-<pid>-rows.<taskId>.tmp` (opened lazily — an
  * empty partition stages nothing), and the task-level commit() —
  * granted to exactly ONE attempt per partition by Spark's commit
  * coordinator — renames it to the final `b-<pid>-rows`. A speculative
  * or zombie attempt therefore never touches a committed file, and its
  * abort() drops only its own staging file. */
private class FramedWriter(dir: String, sep: String, pid: Int, taskId: Long,
                           confMap: Map[String, String])
    extends DataWriter[InternalRow] {
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var rows = 0L
  private lazy val fs: FileSystem = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    new Path(dir).getFileSystem(conf)
  }
  private def tmpPath = new Path(dir, f".b-$pid%05d-rows.$taskId.tmp")
  private def finalPath = new Path(dir, f"b-$pid%05d-rows")

  override def write(record: InternalRow): Unit = {
    if (out == null) out = fs.create(tmpPath, true)
    else out.write(sep.getBytes("UTF-8"))
    out.write(record.getUTF8String(0).getBytes)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    close()
    if (rows > 0) {
      fs.delete(finalPath, false) // stale file from a prior append job
      if (!fs.rename(tmpPath, finalPath))
        throw new java.io.IOException(s"rename $tmpPath -> $finalPath failed")
    }
    PartCommit(pid, rows)
  }

  override def abort(): Unit = { close(); fs.delete(tmpPath, false); () }
  override def close(): Unit = if (out != null) { out.close(); out = null }
}
