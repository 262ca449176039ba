package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
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

  /** RandomInput over an FSDataInputStream, by `seek` + `readFully` on
   * the stream itself. Each input has one owner (one reader per file
   * per task, or one header read on the driver), so the stream's
   * position is never shared; positioned reads would instead reopen
   * the file (and its `.crc`) on every call on `LocalFileSystem`. A
   * read past the end is a truncated file, reported as the format
   * error `ScbfReader.ChannelInput` raises, not a bare EOF. */
  final class HadoopInput(
      stream: org.apache.hadoop.fs.FSDataInputStream, path: Path)
    extends ScbfReader.RandomInput {
    def readFully(offset: Long, length: Int): Array[Byte] = {
      if (length < 0 || offset < 0)
        throw new ScbfFormatException(s"invalid read [$offset, +$length) in $path")
      val out = new Array[Byte](length)
      try {
        stream.seek(offset)
        stream.readFully(out)
      } catch {
        case e: java.io.EOFException =>
          val err = new ScbfFormatException(
            s"Truncated file: need bytes [$offset, ${offset + length}) of $path")
          err.initCause(e)
          throw err
      }
      out
    }
    def close(): Unit = stream.close()
  }

  def open(path: Path, conf: Configuration): ScbfReader.RandomInput =
    new HadoopInput(path.getFileSystem(conf).open(path), path)

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

  /** The filesystem settings for tasks, as a broadcast handle each
   * reader/writer factory ships instead of the conf itself. Serializes
   * the conf only on a miss: call it only where a factory ships.
   *
   * Reused across queries. The key is the conf's full key/value
   * content (exactly the string properties a `SerializableConfiguration`
   * ships), compared entry by entry, together with the SparkContext
   * that made the broadcast: a key set on the live
   * `hadoopConfiguration` between queries, or a per-write option riding
   * a copy of the conf, yields a new broadcast, and a copy equal to the
   * table's conf shares the read's. A miss broadcasts a COPY, so later
   * changes to `conf` never reach tasks through an earlier broadcast,
   * and local-mode tasks never share the driver's live conf.
   *
   * Bounded: [[MaxConfBroadcasts]] entries, least recently used
   * evicted. An evicted broadcast is never destroyed or unpersisted (a
   * running job may still hold it); Spark's ContextCleaner reclaims it
   * once nothing references it. A broadcast of a stopped or different
   * SparkContext is never returned, and the first lookup from another
   * context drops every entry of the previous one.
   *
   * Tasks share one deserialized conf per broadcast, within a query
   * and across queries: task-side code reads `conf.value.value` and
   * must never mutate it. */
  def broadcastConf(conf: Configuration): Broadcast[SerializableConfiguration] = {
    val sc = SparkSession.active.sparkContext
    confBroadcasts.get(sc, contentOf(conf)).getOrElse {
      val copy = new Configuration(conf)
      val b = sc.broadcast(new SerializableConfiguration(copy))
      confBroadcasts.put(sc, contentOf(copy), b)
      b
    }
  }

  private val MaxConfBroadcasts = 8

  private def contentOf(conf: Configuration): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    conf.iterator().forEachRemaining(e => m.put(e.getKey, e.getValue))
    m
  }

  /** [[broadcastConf]]'s LRU, holding the broadcasts of one
   * SparkContext at a time. */
  private object confBroadcasts {
    private var owner: SparkContext = _
    private val lru = new java.util.LinkedHashMap[
        java.util.Map[String, String], Broadcast[SerializableConfiguration]](
        16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          java.util.Map[String, String], Broadcast[SerializableConfiguration]]): Boolean =
        size() > MaxConfBroadcasts
    }

    def get(sc: SparkContext, key: java.util.Map[String, String])
        : Option[Broadcast[SerializableConfiguration]] = synchronized {
      if ((owner ne sc) || sc.isStopped) {
        lru.clear()
        owner = if (sc.isStopped) null else sc
      }
      Option(lru.get(key))
    }

    def put(sc: SparkContext, key: java.util.Map[String, String],
        b: Broadcast[SerializableConfiguration]): Unit = synchronized {
      if (owner eq sc) lru.put(key, b)
    }
  }
}
