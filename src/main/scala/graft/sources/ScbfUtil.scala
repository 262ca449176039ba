package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.scbf._

/** Hadoop-filesystem plumbing shared by the scan and write paths, so the
 * connector works against any Hadoop-compatible store (local, HDFS,
 * object stores), not just `java.io`. */
object ScbfUtil {

  /** Test hook: data files opened for decode (local-mode specs assert a
   * stats-answered aggregate opens ZERO data files). */
  val dataFileOpens = new java.util.concurrent.atomic.AtomicLong(0)

  /** RandomInput over FSDataInputStream's positioned reads. */
  final class HadoopInput(
      stream: org.apache.hadoop.fs.FSDataInputStream) extends ScbfReader.RandomInput {
    def readFully(offset: Long, length: Int): Array[Byte] = {
      val out = new Array[Byte](length)
      stream.readFully(offset, out, 0, length)
      out
    }
    def close(): Unit = stream.close()
  }

  def open(path: Path, conf: Configuration): ScbfReader.RandomInput =
    new HadoopInput(path.getFileSystem(conf).open(path))

  def readHeader(file: FileStatus, conf: Configuration): ScbfHeader = {
    val in = open(file.getPath, conf)
    try ScbfReader.readHeader(in) finally in.close()
  }

  /** A 0-row data file with the given schema, published atomically
   * (dot-temp + rename) straight through the codec — no Spark job, no
   * manifest entry, but WITH a 0-row stats sidecar (published after
   * the keeper; a crash between the two only costs the header
   * fallback) so the aggregate-pushdown path keeps its every-file-
   * trusted invariant across ADD/TRUNCATE PARTITION and all-rows
   * rewrites. The KEEPER the empty-table contract relies on: a directory
   * that would otherwise hold no data file stays a readable standalone
   * SCBF table (schema lives in file headers). Used by the row-level
   * commit (all-rows rewrites) and partition management (ADD/TRUNCATE
   * PARTITION). With `announceRoot` set (the table root whose
   * discovery log should learn of the file), the keeper is announced
   * as a PLAIN entry — root-relative name, real length — exactly like
   * any published file, so a log-path stream admits it promptly (it
   * delivers zero rows) instead of discovering it at the next
   * reconcile; gated on the log existing, best-effort like every
   * announcement. Returns the published path. */
  def writeEmptyScbf(fs: org.apache.hadoop.fs.FileSystem, parent: Path,
      schema: org.apache.spark.sql.types.StructType, prefix: String,
      announceRoot: Option[Path] = None): Path = {
    val name = s"$prefix${java.util.UUID.randomUUID().toString.take(8)}-000" +
      Scbf.FileExtension
    val scbfSchema = ScbfDataSource.sparkToScbf(schema)
    val cols: Seq[ColumnData] = scbfSchema.columns.map(_.tpe match {
      case ScbfType.Int32   => IntColumnData(Array.empty[Int])
      case ScbfType.Float64 => DoubleColumnData(Array.empty[Double])
      case ScbfType.Utf8    => Utf8ColumnData(Array.empty[Array[Byte]])
    })
    val tmp = new Path(parent, s".$name.tmp")
    val out = fs.create(tmp, true)
    try ScbfWriter.write(out, scbfSchema, cols) finally out.close()
    val dest = new Path(parent, name)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new ScbfFormatException(s"could not publish keeper file $name in $parent")
    }
    // best-effort like the announcement below: the sidecar is an
    // optimization (header fallback covers a stats-less keeper; the
    // aggregate pushdown just declines), so a failed publish must not
    // abort a partition operation whose keeper is already live
    try ScbfStats.write(dest, fs.getConf, ScbfStats.FileStats(0L, Map.empty),
      fs.getFileStatus(dest).getLen)
    catch { case scala.util.control.NonFatal(_) => () }
    announceRoot.foreach { root =>
      val qroot = fs.makeQualified(root)
      if (ScbfDiscovery.exists(qroot, fs.getConf)) {
        val rel = qroot.toUri.relativize(fs.makeQualified(dest).toUri)
          .getPath.stripPrefix("/")
        ScbfDiscovery.append(qroot, fs.getConf, Seq(ScbfDiscovery.Entry(
          rel, fs.getFileStatus(dest).getLen, System.currentTimeMillis())))
      }
    }
    dest
  }

  /** The filesystem settings for tasks, shipped once per factory rather
   * than inside every task binary. Serializes the conf: call it only
   * where a reader/writer factory ships. A COPY, so per-write options
   * on the task-bound conf still reach the writers and local-mode tasks
   * never share the driver's live `hadoopConfiguration`. */
  def broadcastConf(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(
      new SerializableConfiguration(new Configuration(conf)))
}
