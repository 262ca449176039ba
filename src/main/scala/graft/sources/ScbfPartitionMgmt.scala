package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Partition-identifier plumbing for [[ScbfTable]]'s
 * `SupportsPartitionManagement` surface: `SHOW PARTITIONS`,
 * `ALTER TABLE ... ADD/DROP PARTITION`, `TRUNCATE TABLE ... PARTITION`.
 *
 * A partition IS its `k=v` directory — there is no metastore entry to
 * keep in sync (the hive-layout directory tree is the single source of
 * truth, same as the scan/write paths). Identifier↔path conversion
 * reuses the write path's exact cell formatting
 * ([[ScbfPartitions.dirName]]/escape and the same value rendering as
 * `cellString`), so a partition created by INSERT and one created by
 * ADD PARTITION are indistinguishable on disk.
 *
 * Listing walks the tree one level per partition column — cost is the
 * number of directories, never a leaf-file LIST — and parses each
 * component's value back through [[ScbfPartitions.unescape]]; a
 * component whose name doesn't match the expected column or whose
 * value doesn't parse to the column type (foreign directory) is
 * skipped, mirroring the conservative reads elsewhere.
 */
private[sources] object ScbfPartitionMgmt {

  /** Render one identifier field exactly as the write path renders the
   * same value into a directory name (ScbfWrite.cellString) — including
   * its -0.0→0.0 normalization, so `ALTER TABLE ... PARTITION (db=-0.0)`
   * targets the `db=0.0` directory the writer actually creates. */
  def cell(pSchema: StructType, ident: InternalRow, i: Int): String =
    pSchema.fields(i).dataType match {
      case IntegerType => ident.getInt(i).toString
      case DoubleType  =>
        val d = ident.getDouble(i)
        (if (d == 0.0) 0.0 else d).toString
      case _ => if (ident.isNullAt(i)) "" else ident.getUTF8String(i).toString
    }

  /** The partition directory a (full) identifier denotes. */
  def dirOf(qroot: Path, pSchema: StructType, ident: InternalRow): Path =
    pSchema.fields.indices.foldLeft(qroot) { (d, i) =>
      new Path(d, ScbfPartitions.dirName(pSchema.fields(i).name,
        cell(pSchema, ident, i)))
    }

  /** Typed identifier from raw (already-unescaped) cell strings; None
   * when a cell does not parse to its column type. */
  def identOf(pSchema: StructType, values: Seq[String]): Option[InternalRow] = {
    val out = new Array[Any](values.length)
    var ok = true
    values.indices.foreach { i =>
      pSchema.fields(i).dataType match {
        case IntegerType => values(i).toIntOption match {
          case Some(v) => out(i) = v
          case None    => ok = false
        }
        case DoubleType => values(i).toDoubleOption match {
          case Some(v) => out(i) = v
          case None    => ok = false
        }
        case _ => out(i) = UTF8String.fromString(values(i))
      }
    }
    if (ok) Some(new GenericInternalRow(out)) else None
  }

  /** All partitions matching a (possibly partial) spec: `names` are
   * the constrained columns, `ident` their values in that order —
   * Spark's listPartitionIdentifiers contract. One directory listing
   * per visited directory, leaf files never listed. */
  def listIdents(qroot: Path, fs: FileSystem, pSchema: StructType,
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    // constrained column → its rendered value, for string comparison
    // against the walked components (rendering matches dir naming)
    val constraint: Map[String, String] = names.zipWithIndex.map {
      case (nm, k) =>
        val i = pSchema.fieldIndex(nm)
        val v = pSchema.fields(i).dataType match {
          case IntegerType => ident.getInt(k).toString
          case DoubleType  => // -0.0→0.0, mirroring cell()/cellString
            val d = ident.getDouble(k)
            (if (d == 0.0) 0.0 else d).toString
          case _ =>
            if (ident.isNullAt(k)) "" else ident.getUTF8String(k).toString
        }
        nm -> v
    }.toMap
    def walk(d: Path, depth: Int, acc: Vector[String]): Seq[Seq[String]] =
      if (depth == pSchema.length) Seq(acc)
      else {
        val col = pSchema.fields(depth).name
        val children =
          try fs.listStatus(d).toSeq
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        children.flatMap { c =>
          val n = c.getPath.getName
          val i = n.indexOf('=')
          if (!c.isDirectory || ScbfPartitions.isHidden(n) || i <= 0 ||
              n.substring(0, i) != col) Seq.empty
          else {
            val v = ScbfPartitions.unescape(n.substring(i + 1))
            if (constraint.get(col).forall(_ == v))
              walk(c.getPath, depth + 1, acc :+ v)
            else Seq.empty
          }
        }
      }
    walk(qroot, 0, Vector.empty)
      .flatMap(vs => identOf(pSchema, vs))
      .toArray
  }

  /** Announce every live data file under `dir` as removed to the ROOT
   * discovery log (subdir-qualified removal entry, C:1) — the same
   * record a metadata-only DELETE leaves, so streams keep their
   * onChangeCommit semantics across DROP/TRUNCATE PARTITION. Gated on
   * the root log existing; announce-then-remove order is the caller's
   * contract. */
  def announceRemoval(qroot: Path, dir: Path, conf: Configuration): Unit =
    if (ScbfDiscovery.exists(qroot, conf)) {
      val fs = qroot.getFileSystem(conf)
      val live = ScbfDataSource.resolveFiles(Seq(dir.toString), conf)
      if (live.nonEmpty) {
        def rel(p: Path): String =
          qroot.toUri.relativize(fs.makeQualified(p).toUri)
            .getPath.stripPrefix("/")
        val sub = rel(dir)
        ScbfDiscovery.append(qroot, conf, Seq(ScbfDiscovery.Entry(
          s"$sub/pm-${java.util.UUID.randomUUID().toString.take(8)}${ScbfDiscovery.RemovalSuffix}",
          ScbfDiscovery.RemovedLen, System.currentTimeMillis(),
          rewriteOf = live.map(f => rel(f.getPath)).sorted,
          rowsChanged = true)))
      }
    }
}
