package graft.sources

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/**
 * [[StreamChaosSpec]]'s model, run against a PARTITIONED table root:
 * random hive-partitioned appends, table-level cluster/zorder sweeps
 * (serial and parallel) and vacuums interleave with a root-reading
 * consumer's triggers and restarts. This is the layout where the
 * sweep's ROOT-LOG re-announcement mechanics carry the transparency
 * story (each partition's own commit announces only to the partition's
 * log, which a root stream never consumes), so the chaos drives
 * subdir-qualified rewrite marks, the per-partition rewrite prefixes,
 * and restarts' full-listing coverage across partition directories.
 *
 * The admission model applies PER PARTITION: a table sweep is one op
 * but N independent rewrites — a caught-up partition's outputs are
 * covered (silent) in the same trigger where a lagging partition's
 * outputs are uncovered (delivered, replacing its folded-in pending
 * files). The observed (removed, added) diff grouped by partition
 * subdir IS that decision, file-exact.
 */
object PartitionedStreamChaosSpec {
  case class R(id: Int, n: Int)
}

class PartitionedStreamChaosSpec extends AnyFunSuite with SparkTestBase {

  import PartitionedStreamChaosSpec.R

  // data-file schema: the partition column lives in the directory name
  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false)))

  private def sorted(rows: Seq[R]): Seq[R] = rows.sortBy(r => (r.id, r.n))

  private def runSeed(seed: Int, steps: Int): Seq[String] = {
    val rnd = new Random(seed)
    val dir = tmpDir(s"scbf-pchaos-$seed")
    val ckpt = Files.createTempDirectory(s"scbf-pchaos-ckpt-$seed").toString
    val conf = new Configuration()
    val qroot = new Path(dir).getFileSystem(conf)
      .makeQualified(new Path(dir))

    def relName(p: Path): String =
      qroot.toUri.relativize(p.toUri).getPath
    def liveFiles(): Set[String] =
      ScbfDataSource.resolveFiles(Seq(dir), conf).map(f => relName(f.getPath)).toSet
    def rowsOf(names: Set[String]): Seq[R] =
      if (names.isEmpty) Seq.empty
      else spark.read.format("scbf")
        .load(names.map(n => s"$dir/$n").toSeq: _*)
        .collect().map(r => R(r.getAs[Int]("id"), r.getAs[Int]("n"))).toSeq

    var nextId = 0
    def fresh(k: Int): Seq[(R, String)] = (0 until k).map { _ =>
      val id = nextId; nextId += 1
      (R(id, rnd.nextInt(1000)), s"g${rnd.nextInt(4)}")
    }
    def writeRows(rows: Seq[(R, String)]): Unit = {
      import spark.implicits._
      rows.map { case (r, g) => (r.id, r.n, g) }.toDF("id", "n", "grp")
        .repartition(2)
        .write.format("scbf").partitionBy("grp").mode("append").save(dir)
    }

    val pendingFiles = mutable.Set.empty[String]
    val seenModel = mutable.Set.empty[String]
    val deliveredModel = mutable.ArrayBuffer.empty[R]
    val deliveredActual = mutable.ArrayBuffer.empty[R]
    val history = mutable.ArrayBuffer.empty[String]
    var tableRows: Seq[R] = Seq.empty

    def mutate(op: => Unit): (Set[String], Set[String]) = {
      val pre = liveFiles(); op; val post = liveFiles()
      (pre -- post, post -- pre)
    }
    /** The per-partition admission rule: group an op's diff by subdir
     * and decide coverage independently — a table sweep is N rewrites. */
    def applyRewrite(removed: Set[String], added: Set[String]): String = {
      def part(n: String) = n.takeWhile(_ != '/')
      val parts = (removed ++ added).map(part)
      val verdicts = parts.toSeq.sorted.map { g =>
        val rm = removed.filter(part(_) == g)
        val ad = added.filter(part(_) == g)
        if (rm.isEmpty) "no-op"
        else if (rm.subsetOf(seenModel)) {
          seenModel ++= ad
          s"$g:covered"
        } else {
          pendingFiles --= rm
          pendingFiles ++= ad
          s"$g:uncovered"
        }
      }
      verdicts.mkString(",")
    }

    val first = fresh(80)
    tableRows = first.map(_._1)
    val (_, firstAdded) = mutate(writeRows(first))
    pendingFiles ++= firstAdded

    def mkStream() = new ScbfMicroBatchStream(schema, Seq(dir), conf, ckpt,
      reconcileEvery = 0)
    var stream = mkStream()
    var off = ScbfOffset(0)
    val fs = qroot.getFileSystem(conf)

    def trig(label: String): Unit = {
      val expected = rowsOf(pendingFiles.toSet)
      val next = stream.latestOffset(off, ReadLimit.allAvailable())
        .asInstanceOf[ScbfOffset]
      val (plannedNames, rows): (Set[String], Seq[R]) =
        if (next.batch == off.batch) (Set.empty, Seq.empty)
        else {
          val planned = stream.planInputPartitions(off, next)
            .map(_.asInstanceOf[ScbfFilePartition].path)
          planned.foreach(p => assert(fs.exists(new Path(p)),
            s"[$label] planned a maintenance-deleted file: $p\n${history.mkString("\n")}"))
          val r = if (planned.isEmpty) Seq.empty[R]
            else spark.read.format("scbf").load(planned: _*).collect()
              .map(x => R(x.getAs[Int]("id"), x.getAs[Int]("n"))).toSeq
          (planned.map(p => relName(new Path(p))).toSet, r)
        }
      off = next
      assert(plannedNames == pendingFiles.toSet,
        s"[$label] planned $plannedNames, model expects ${pendingFiles.toSet}\n" +
          history.mkString("\n"))
      assert(sorted(rows) == sorted(expected),
        s"[$label] delivered ${rows.size} rows, model expected ${expected.size}\n" +
          history.mkString("\n"))
      deliveredActual ++= rows
      deliveredModel ++= expected
      seenModel ++= pendingFiles
      pendingFiles.clear()
    }

    trig("baseline")

    val tableSchema = StructType(schema.fields :+
      StructField("grp", StringType, nullable = false))
    // partition-management surface under chaos: DROP/TRUNCATE route
    // through the real SupportsPartitionManagement entry points
    val pmTable = new ScbfTable(Seq(dir), tableSchema, conf,
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .identity("grp")))
    def pmIdent(g: String): org.apache.spark.sql.catalyst.InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(g)))
    // static partition overwrite needs the catalog route
    // (OverwriteByExpression): register a table over the same root
    val catName = s"pchaos_ow_$seed"
    spark.sql(s"DROP TABLE IF EXISTS $catName")
    spark.sql(s"CREATE TABLE $catName (id INT, n INT, grp STRING) " +
      s"USING scbf PARTITIONED BY (grp) LOCATION '$dir'")
    for (step <- 1 to steps) {
      val label = rnd.nextInt(16) match {
        case 0 | 1 | 2 | 3 => // partitioned append (rows fan across grps)
          val rows = fresh(8 + rnd.nextInt(30))
          tableRows ++= rows.map(_._1)
          val (_, added) = mutate(writeRows(rows))
          pendingFiles ++= added
          s"append ${rows.size} across ${rows.map(_._2).distinct.size} grps"
        case 4 | 5 => // table-level OPTIMIZE sweep
          val par = 1 + rnd.nextInt(4)
          val (rm, ad) = mutate(ScbfMaintenance.clusterTable(
            spark, dir, Seq("id"), 1 + rnd.nextInt(2), parallelism = par))
          s"clusterTable(par=$par) [${applyRewrite(rm, ad)}]"
        case 6 => // table-level zorder sweep
          val (rm, ad) = mutate(ScbfMaintenance.zorderTable(
            spark, dir, Seq("id", "n"), 1 + rnd.nextInt(2), bits = 4))
          s"zorderTable [${applyRewrite(rm, ad)}]"
        case 7 => // vacuum every partition: never visible
          val parts = ScbfPartitions.walk(new Path(dir), conf)
            .filter(_.holdsData).map(_.dir).toSeq
          val (rm, ad) = mutate(parts.foreach(p =>
            ScbfMaintenance.vacuum(spark, p.toString, olderThanMs = 0L)))
          assert(rm.isEmpty && ad.isEmpty, "vacuum must not touch live data files")
          s"vacuum ${parts.size} partitions"
        case 8 | 9 => // table-level DELETE (spans partitions)
          val lo = rnd.nextInt(math.max(1, nextId))
          val hi = lo + rnd.nextInt(60)
          val par = 1 + rnd.nextInt(3) // concurrent per-partition rewrites too
          val (rm, ad) = mutate(ScbfDelete.deleteWhereTable(spark, dir, conf,
            tableSchema, Array(
              org.apache.spark.sql.sources.GreaterThanOrEqual("id", lo),
              org.apache.spark.sql.sources.LessThan("id", hi)),
            parallelism = par))
          tableRows = tableRows.filterNot(r => r.id >= lo && r.id < hi)
          s"deleteTable(par=$par) id in [$lo,$hi) [${applyRewrite(rm, ad)}]"
        case 10 => // DROP PARTITION: O(files) metadata takedown, the
          // removal-entry announcement carries the whole record — a
          // caught-up partition stays silent, a lagging partition's
          // pending victims are dropped from admission (nothing
          // replaces them: their rows are gone)
          val g = s"g${rnd.nextInt(4)}"
          val victims = liveFiles().filter(_.startsWith(s"grp=$g/"))
          val victimIds = rowsOf(victims).map(_.id).toSet
          val (rm, ad) = mutate { pmTable.dropPartition(pmIdent(g)); () }
          assert(ad.isEmpty && rm == victims,
            s"drop must remove exactly grp=$g's files: rm=$rm ad=$ad")
          tableRows = tableRows.filterNot(r => victimIds.contains(r.id))
          s"dropPartition($g) ${victims.size} files [${applyRewrite(rm, ad)}]"
        case 11 => // TRUNCATE PARTITION: same takedown + an announced
          // 0-row keeper, which any consumer admits as a (rowless)
          // new file — pending regardless of the victims' coverage
          val g = s"g${rnd.nextInt(4)}"
          val existed = liveFiles().exists(_.startsWith(s"grp=$g/"))
          if (!existed) s"truncatePartition($g) skipped (absent)"
          else {
            val victims = liveFiles().filter(_.startsWith(s"grp=$g/"))
            val victimIds = rowsOf(victims).map(_.id).toSet
            val (rm, ad) = mutate { pmTable.truncatePartition(pmIdent(g)); () }
            assert(rm == victims && ad.size == 1 &&
              ad.head.startsWith(s"grp=$g/"),
              s"truncate must swap grp=$g's files for one keeper: rm=$rm ad=$ad")
            tableRows = tableRows.filterNot(r => victimIds.contains(r.id))
            val verdict = applyRewrite(rm, Set.empty)
            pendingFiles ++= ad
            s"truncatePartition($g) ${victims.size} files [$verdict]"
          }
        case 12 | 13 => // static partition INSERT OVERWRITE: replace
          // grp=g's files with fresh rows — victims follow the
          // removal-entry coverage rule, the new files are plain
          // entries (new data: delivered to every consumer)
          val g = s"g${rnd.nextInt(4)}"
          val victims = liveFiles().filter(_.startsWith(s"grp=$g/"))
          val victimIds = rowsOf(victims).map(_.id).toSet
          val k = 3 + rnd.nextInt(8)
          val newRows = (0 until k).map { _ =>
            val id = nextId; nextId += 1; R(id, rnd.nextInt(1000))
          }
          import spark.implicits._
          newRows.map(r => (r.id, r.n)).toDF("id", "n")
            .createOrReplaceTempView("pchaos_ow_src")
          val (rm, ad) = mutate(spark.sql(
            s"INSERT OVERWRITE $catName PARTITION (grp='$g') " +
              "SELECT CAST(id AS INT), CAST(n AS INT) FROM pchaos_ow_src"))
          assert(rm == victims && ad.forall(_.startsWith(s"grp=$g/")),
            s"overwrite must swap exactly grp=$g: rm=$rm victims=$victims ad=$ad")
          tableRows = tableRows.filterNot(r => victimIds.contains(r.id)) ++ newRows
          val verdict = applyRewrite(rm, Set.empty)
          pendingFiles ++= ad
          s"overwrite($g) ${victims.size}->${ad.size} files [$verdict]"
        case _ => // table-level UPDATE (no-CDC under skip, per partition)
          val lo = rnd.nextInt(math.max(1, nextId))
          val hi = lo + rnd.nextInt(80)
          val par = 1 + rnd.nextInt(3)
          val (rm, ad) = mutate(ScbfDelete.updateWhereTable(spark, dir, conf,
            tableSchema, Seq("grp"), Array(
              org.apache.spark.sql.sources.GreaterThanOrEqual("id", lo),
              org.apache.spark.sql.sources.LessThan("id", hi)),
            Map("n" -> org.apache.spark.sql.functions.col("n").plus(
              org.apache.spark.sql.functions.lit(1000))),
            parallelism = par))
          tableRows = tableRows.map(r =>
            if (r.id >= lo && r.id < hi) r.copy(n = r.n + 1000) else r)
          s"updateTable(par=$par) id in [$lo,$hi) [${applyRewrite(rm, ad)}]"
      }
      history += s"step $step: $label"
      if (rnd.nextInt(6) == 0) {
        stream = mkStream()
        history += s"step $step: restart"
      }
      if (rnd.nextInt(3) != 0) trig(s"step $step after [$label]")
    }

    trig("final")
    assert(sorted(deliveredActual.toSeq) == sorted(deliveredModel.toSeq),
      s"cumulative delivery diverged\n${history.mkString("\n")}")
    val got = spark.read.format("scbf").load(dir)
      .selectExpr("id", "n").collect()
      .map(r => R(r.getInt(0), r.getInt(1))).toSeq
    assert(sorted(got) == sorted(tableRows),
      s"final table contents diverged\n${history.mkString("\n")}")
    spark.sql(s"DROP TABLE IF EXISTS $catName")
    history.toSeq
  }

  test("partitioned-root maintenance interleavings deliver exactly the model (seed 21)") {
    runSeed(21, 12)
  }
  test("partitioned-root maintenance interleavings deliver exactly the model (seed 22)") {
    runSeed(22, 12)
  }
  test("the op mix covers DROP/TRUNCATE PARTITION and static OVERWRITE under chaos (seed 23)") {
    val h = runSeed(23, 26)
    assert(h.exists(_.contains("dropPartition")) &&
      h.exists(_.contains("truncatePartition(")) &&
      h.exists(_.contains("overwrite(")),
      s"seed must exercise partition management + overwrite:\n${h.mkString("\n")}")
  }

  test("ONE sweep, mixed coverage: the lagging partition delivers, the caught-up ones stay silent") {
    // deterministic pin of the per-partition verdict split inside a
    // single clusterTable call: grp=g1 has an undelivered append when
    // the sweep runs, so ITS rewrite outputs are uncovered (delivered
    // in full, replacing the folded-in pending files) while g0/g2's
    // outputs ride the silent sentinel — one op, two admission rules.
    import spark.implicits._
    val dir = tmpDir("scbf-pchaos-mixed")
    val ckpt = Files.createTempDirectory("scbf-pchaos-mixed-ckpt").toString
    val conf = new Configuration()
    def write(rows: Seq[(Int, Int, String)]): Unit =
      rows.toDF("id", "n", "grp").repartition(2)
        .write.format("scbf").partitionBy("grp").mode("append").save(dir)
    write((0 until 60).map(i => (i, i * 2, s"g${i % 3}")))
    val stream = new ScbfMicroBatchStream(schema, Seq(dir), conf, ckpt,
      reconcileEvery = 0)
    def trig(from: ScbfOffset): ScbfOffset =
      stream.latestOffset(from, ReadLimit.allAvailable()).asInstanceOf[ScbfOffset]
    val o1 = trig(ScbfOffset(0))
    assert(stream.planInputPartitions(ScbfOffset(0), o1).nonEmpty)
    val o2 = trig(o1) // caught up, incremental from here
    write((100 until 120).map(i => (i, i, "g1"))) // g1 lags
    ScbfMaintenance.clusterTable(spark, dir, Seq("id"), 2, parallelism = 3)
    val o3 = trig(o2)
    val planned = stream.planInputPartitions(o2, o3)
      .map(_.asInstanceOf[ScbfFilePartition].path)
    assert(planned.nonEmpty && planned.forall(_.contains("grp=g1")),
      s"only g1's uncovered outputs may deliver: ${planned.toSeq}")
    val got = spark.read.format("scbf").load(planned: _*)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    // g1's outputs carry its WHOLE partition: the re-delivered old g1
    // rows (ids ≡ 1 mod 3; completeness beats dedup) + the lagging 20
    val oldG1 = (0 until 60).filter(_ % 3 == 1)
    assert(got == (oldG1 ++ (100 until 120)).sorted,
      s"g1 must deliver its full post-sweep contents exactly once: $got")
  }
}
