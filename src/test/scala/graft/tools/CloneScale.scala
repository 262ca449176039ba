package graft.tools

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources._

/**
 * SHALLOW CLONE at metadata scale: clone an n-file table (the
 * [[PlanningScale]] fixture — real readable files, honest manifest)
 * and measure what the zero-copy claim costs at the file counts a
 * 100 TB table has: creation (one listing + one ref-file write, ZERO
 * data opens), ref resolution (pooled length-guarded stats — the
 * planning bill every clone read pays), the first read, and the
 * dangling-ref detection (delete one source file → the next clone read
 * must refuse loudly, and the refusal must not cost more than the
 * resolution that found it).
 *
 * Usage: Test/runMain graft.tools.CloneScale [nFiles] [rowsPerFile]
 */
object CloneScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 100000
    val rows = if (args.length > 1) args(1).toInt else 10
    val dir = s"/tmp/graft_clone_scale_$n"
    val cloneDir = s"$dir.branch"
    val d = new java.io.File(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cloneDir))
    val conf = new Configuration()

    println(s"[clone100k] generating $n files x $rows rows at $dir")
    PlanningScale.generate(dir, n, rows)

    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("DROP TABLE IF EXISTS clone_scale_src")
    spark.sql("DROP TABLE IF EXISTS clone_scale_br")
    spark.sql("CREATE TABLE clone_scale_src (id INT, v DOUBLE) USING scbf " +
      s"LOCATION '$dir'")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[clone100k] $label: ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      r
    }

    ScbfUtil.dataFileOpens.set(0)
    val r = timed(s"SHALLOW CLONE of $n files (create)") {
      spark.sql("CREATE TABLE clone_scale_br SHALLOW CLONE clone_scale_src " +
        s"LOCATION '$cloneDir'").head()
    }
    require(ScbfUtil.dataFileOpens.get == 0, "clone creation must open no data")
    require(r.getInt(0) == n, s"refs: $r")
    println(s"[clone100k]   refs=${r.getInt(0)} bytes=${r.getLong(1)} dataOpens=0")

    // the planning bill every clone read pays: pooled length-guarded
    // stats over all refs
    timed(s"ref resolution ($n pooled stats)") {
      val got = ScbfClone.resolvePruned(new Path(cloneDir), conf,
        new org.apache.spark.sql.types.StructType(), Seq.empty)
      require(got.size == n, s"resolved ${got.size}")
    }
    val cnt = timed("first clone COUNT(*)") {
      spark.table("clone_scale_br").count()
    }
    require(cnt == n.toLong * rows, s"count: $cnt")

    // dangling detection: kill ONE referenced file — the next read
    // refuses loudly at resolution cost, never a silent partial table
    val victim = new java.io.File(d, f"part-${n / 2}%06d${graft.scbf.Scbf.FileExtension}")
    require(victim.delete(), s"could not delete $victim")
    val t0 = System.nanoTime()
    val e = try { spark.table("clone_scale_br").count(); null }
      catch { case ex: Exception => ex }
    println(f"[clone100k] dangling-ref refusal in ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    require(msgs.contains("shallow clone") && msgs.contains("no longer exists"),
      s"expected the dangling-ref contract, got: $msgs")

    spark.sql("DROP TABLE IF EXISTS clone_scale_br")
    spark.sql("DROP TABLE IF EXISTS clone_scale_src")

    // ---- PARTITIONED variant (round 12: partition-grade branches) ----
    // clone a parts × filesPerPart hive layout and measure the claims:
    // creation still zero-open, a partition-scoped branch read stats
    // ONLY that partition's refs (pure path arithmetic on the ref
    // list), and planning rides ONE source manifest — the same bill
    // the source's own partition-pruned scan pays.
    val parts = 20
    val fpp = math.max(n / parts, 1)
    val proot = s"/tmp/graft_clone_scale_part_${parts}_$fpp"
    val pclone = s"$proot.branch"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pclone))
    val existing = Option(new java.io.File(s"$proot/pk=p00").list())
      .map(_.count(_.endsWith(".scbf"))).getOrElse(0)
    if (existing != fpp) {
      println(s"[clonepart] generating $parts x $fpp files at $proot")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(proot))
      PlanningScalePartitioned.generate(proot, parts, fpp, rows)
    } else println(s"[clonepart] reusing $proot")
    val prootP = new Path(proot)
    val qproot = prootP.getFileSystem(conf).makeQualified(prootP)
    val plisting = ScbfDataSource.resolveFiles(Seq(proot), conf)
    require(plisting.size == parts * fpp, s"fixture: ${plisting.size}")
    ScbfUtil.dataFileOpens.set(0)
    timed(s"SHALLOW CLONE of partitioned ${parts}x$fpp (ref write)") {
      ScbfClone.write(new Path(pclone), conf, qproot, plisting)
    }
    require(ScbfUtil.dataFileOpens.get == 0, "partitioned clone creation opened data")
    import org.apache.spark.sql.sources.EqualTo
    ScbfClone.refStats.set(0)
    val sel = timed(s"branch resolve, 1 of $parts partitions (pruned stats)") {
      ScbfClone.resolvePruned(new Path(pclone), conf,
        PlanningScalePartitioned.schemaP, Seq(EqualTo("pk", "p07")))
    }
    require(sel.size == fpp && ScbfClone.refStats.get == fpp,
      s"pruned resolve must stat only the selected partition: " +
        s"${sel.size} files, ${ScbfClone.refStats.get} stats (want $fpp)")
    timed(s"branch resolve, ALL $parts partitions (full stats)") {
      require(ScbfClone.resolvePruned(new Path(pclone), conf,
        new org.apache.spark.sql.types.StructType(), Seq.empty).size == parts * fpp)
    }
    // plan a partition-scoped branch scan: ONE source manifest, fpp files
    ScbfStats.manifestReads.set(0)
    val planned = timed("branch plan: pk=p07 (1 manifest expected)") {
      val b = new ScbfScanBuilder(PlanningScalePartitioned.schemaP,
        Seq.empty, conf, Seq(pclone),
        listFilesOpt = Some(fs => ScbfDataSource.resolveFilesPruned(
          Seq(pclone), conf, PlanningScalePartitioned.schemaP, fs)))
      b.pushFilters(Array(EqualTo("pk", "p07")))
      b.build().asInstanceOf[ScbfScan].planInputPartitions().length
    }
    require(planned == fpp, s"planned $planned, want $fpp")
    require(ScbfStats.manifestReads.get <= 1,
      s"a 1-partition branch plan must ride ≤1 source manifest, " +
        s"read ${ScbfStats.manifestReads.get}")
    println(s"[clonepart] planned=$planned files manifestReads=${ScbfStats.manifestReads.get}")

    // ---- grouped APPEND on the branch (round 12, second half) ----
    // the catalog route: the clone's entry records the source's
    // partitioning, so a branch INSERT lands under the clone root's
    // k=v layout and a partition-scoped read keeps its bill (pruned
    // ref stats + the local file). Needs a CONNECTOR-written source
    // (partition columns live in the data files too — every subdir is
    // a standalone SCBF directory); the raw probe fixture above is a
    // cell-only layout whose appends refuse identically on the SOURCE.
    val appRoot = "/tmp/graft_clone_scale_app"
    val appClone = s"$appRoot.branch"
    Seq(appRoot, appClone).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    spark.sql("DROP TABLE IF EXISTS clone_scale_psrc")
    spark.sql("DROP TABLE IF EXISTS clone_scale_pbr")
    spark.sql("CREATE TABLE clone_scale_psrc (id INT, v DOUBLE, pk STRING) " +
      s"USING scbf PARTITIONED BY (pk) LOCATION '$appRoot'")
    spark.sql(s"INSERT INTO clone_scale_psrc SELECT /*+ REPARTITION(8, pk) */ * " +
      s"FROM (SELECT CAST(id AS INT) AS id, id * 0.5 AS v, " +
      s"concat('p', CAST(id % $parts AS INT)) AS pk " +
      s"FROM range(0, ${parts * 200}))")
    val appRefsAll = ScbfDataSource.resolveFiles(Seq(appRoot), conf)
    val appRefsSel = appRefsAll.count(_.getPath.toString.contains("pk=p7"))
    require(appRefsSel > 0 && appRefsSel < appRefsAll.size,
      s"append fixture: $appRefsSel of ${appRefsAll.size}")
    ScbfUtil.dataFileOpens.set(0)
    timed(s"SHALLOW CLONE via SQL (partitioned catalog entry)") {
      spark.sql("CREATE TABLE clone_scale_pbr SHALLOW CLONE clone_scale_psrc " +
        s"LOCATION '$appClone'")
    }
    require(ScbfUtil.dataFileOpens.get == 0, "SQL clone creation opened data")
    timed("branch INSERT (partition-grouped append)") {
      spark.sql("INSERT INTO clone_scale_pbr VALUES (999999, 1.0, 'p7')")
    }
    val localApp = ScbfDataSource.resolveFiles(Seq(appClone), conf)
      .filter(_.getPath.toString.startsWith(
        new Path(appClone).getFileSystem(conf)
          .makeQualified(new Path(appClone)).toString))
    require(localApp.nonEmpty && localApp.forall(
        _.getPath.toString.contains("pk=p7")),
      s"branch append must land under pk=p7: ${localApp.map(_.getPath)}")
    val srcCnt = spark.sql(
      "SELECT COUNT(*) FROM clone_scale_psrc WHERE pk = 'p7'").head().getLong(0)
    ScbfClone.refStats.set(0)
    val appCnt = timed("appended-branch pk=p7 COUNT (pruned refs + local)") {
      spark.sql("SELECT COUNT(*) FROM clone_scale_pbr WHERE pk = 'p7'")
        .head().getLong(0)
    }
    require(appCnt == srcCnt + 1, s"appended-branch count: $appCnt vs $srcCnt")
    require(ScbfClone.refStats.get == appRefsSel,
      s"the append must not widen the ref scope: ${ScbfClone.refStats.get} " +
        s"!= $appRefsSel")
    println(s"[clonepart] appended-branch refStats=${ScbfClone.refStats.get} " +
      s"(of ${appRefsAll.size} refs) localFiles=${localApp.size}")
    spark.sql("DROP TABLE IF EXISTS clone_scale_pbr")
    spark.sql("DROP TABLE IF EXISTS clone_scale_psrc")
    Seq(appRoot, appClone).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cloneDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pclone))
    println("[clone100k] OK")
  }
}
