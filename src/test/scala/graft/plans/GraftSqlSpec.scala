package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.{ScbfDataSource, ScbfStats, ScbfUtil}

/**
 * The maintenance SQL surface (GraftSqlParser via GraftExtensions):
 * OPTIMIZE CLUSTER/ZORDER and VACUUM as pure SQL, resolving through
 * the session catalog and running the same maintenance engine the API
 * exposes — closing the last API-only gap in the "a SQL-only user
 * needs nothing from graft.*" contract.
 */
class GraftSqlSpec extends AnyFunSuite with SparkTestBase {

  private def hconf = spark.sessionState.newHadoopConf()

  test("OPTIMIZE ... CLUSTER BY compacts and enables range skipping, pure SQL") {
    val dir = tmpDir("scbf-sql-opt")
    spark.sql("DROP TABLE IF EXISTS sqlopt_t")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE sqlopt_t (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
      // unclustered ingest: every file spans the id domain
      spark.sql("""INSERT INTO sqlopt_t
        SELECT /*+ REPARTITION(4) */ CAST(id AS INT), CAST(id AS DOUBLE)
        FROM range(0, 1000)""")
      val pre = ScbfDataSource.resolveFiles(Seq(dir), hconf).size
      assert(pre >= 4)
      val rewritten = spark.sql("OPTIMIZE sqlopt_t CLUSTER BY (id) FILES 2")
        .head().getInt(0)
      assert(rewritten == pre, s"all $pre originals fold in, got $rewritten")
      assert(ScbfDataSource.resolveFiles(Seq(dir), hconf).size == 2)
      // post-OPTIMIZE, a range predicate prunes to one file
      ScbfUtil.dataFileOpens.set(0)
      assert(spark.sql("SELECT COUNT(*) FROM sqlopt_t WHERE id < 100")
        .head().getLong(0) == 100L)
      assert(ScbfUtil.dataFileOpens.get <= 1,
        s"clustered layout must range-skip: ${ScbfUtil.dataFileOpens.get} opens")
      assert(spark.sql("SELECT COUNT(*), SUM(v) FROM sqlopt_t").head()
        == org.apache.spark.sql.Row(1000L, 499500.0))
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_t")
  }

  test("OPTIMIZE ... ZORDER BY works on a flat table; partitioned tables sweep per partition") {
    val flat = tmpDir("scbf-sql-optz")
    spark.sql("DROP TABLE IF EXISTS sqlopt_z")
    new Path(flat).getFileSystem(hconf).delete(new Path(flat), true)
    try {
      spark.sql(s"CREATE TABLE sqlopt_z (a INT, b INT) USING scbf LOCATION '$flat'")
      spark.sql("""INSERT INTO sqlopt_z
        SELECT /*+ REPARTITION(4) */ CAST(id % 100 AS INT), CAST(id / 100 AS INT)
        FROM range(0, 10000)""")
      assert(spark.sql("OPTIMIZE sqlopt_z ZORDER BY (a, b) FILES 4")
        .head().getInt(0) >= 4, "the unclustered originals fold in")
      assert(spark.sql("SELECT COUNT(*) FROM sqlopt_z").head().getLong(0) == 10000L)
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_z")

    val part = tmpDir("scbf-sql-optp")
    spark.sql("DROP TABLE IF EXISTS sqlopt_p")
    new Path(part).getFileSystem(hconf).delete(new Path(part), true)
    try {
      spark.sql("CREATE TABLE sqlopt_p (id INT, grp STRING) USING scbf " +
        s"PARTITIONED BY (grp) LOCATION '$part'")
      (0 until 2).foreach { _ =>
        spark.sql("""INSERT INTO sqlopt_p
          SELECT CAST(id AS INT), concat('g', CAST(id % 3 AS INT)) FROM range(0, 300)""")
      }
      spark.sql("OPTIMIZE sqlopt_p CLUSTER BY (id)")
      // each partition compacted to one file, rows preserved
      val files = ScbfDataSource.resolveFiles(Seq(part), hconf)
      val perDir = files.groupBy(_.getPath.getParent.getName).view.mapValues(_.size)
      assert(perDir.toMap.values.forall(_ == 1), s"one file per partition: $perDir")
      assert(spark.sql("SELECT COUNT(*) FROM sqlopt_p").head().getLong(0) == 600L)
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_p")
  }

  test("plain OPTIMIZE (no BY clause) bin-packs small files, values identical") {
    val dir = tmpDir("scbf-sql-optp")
    spark.sql("DROP TABLE IF EXISTS sqlopt_plain")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE sqlopt_plain (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
      (0 until 4).foreach { k =>
        spark.sql(s"""INSERT INTO sqlopt_plain
          SELECT CAST(id AS INT), CAST(id AS DOUBLE)
          FROM range(${k * 100}, ${(k + 1) * 100})""")
      }
      val pre = ScbfDataSource.resolveFiles(Seq(dir), hconf).size
      assert(pre >= 4)
      val folded = spark.sql("OPTIMIZE sqlopt_plain").head().getInt(0)
      assert(folded == pre, s"all $pre small files fold in, got $folded")
      assert(ScbfDataSource.resolveFiles(Seq(dir), hconf).size == 1)
      assert(spark.sql("SELECT COUNT(*), SUM(v) FROM sqlopt_plain").head()
        == org.apache.spark.sql.Row(400L, 79800.0))
      // FILES n respected on the partitioned table form too
      spark.sql("OPTIMIZE sqlopt_plain FILES 2")
      assert(ScbfDataSource.resolveFiles(Seq(dir), hconf).size == 2)
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_plain")
  }

  test("OPTIMIZE is idempotent: empty tables and already-packed layouts are no-ops") {
    val dir = tmpDir("scbf-sql-optn")
    spark.sql("DROP TABLE IF EXISTS sqlopt_noop")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE sqlopt_noop (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
      // a freshly-created table has zero data files: OPTIMIZE must be a
      // quiet no-op, not a crash from loading an empty path list
      assert(spark.sql("OPTIMIZE sqlopt_noop").head().getInt(0) == 0)
      spark.sql("""INSERT INTO sqlopt_noop
        SELECT /*+ REPARTITION(3) */ CAST(id AS INT), CAST(id AS DOUBLE)
        FROM range(0, 300)""")
      assert(spark.sql("OPTIMIZE sqlopt_noop").head().getInt(0) > 0)
      val files = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      assert(files.size == 1)
      val before = files.head.getPath.getName
      // re-running on the already-1-file layout: no rewrite, no log
      // churn — the SAME file stays on disk
      assert(spark.sql("OPTIMIZE sqlopt_noop").head().getInt(0) == 0)
      assert(ScbfDataSource.resolveFiles(Seq(dir), hconf)
        .map(_.getPath.getName) == Seq(before), "no-op must not rewrite the file")
      assert(spark.sql("SELECT COUNT(*) FROM sqlopt_noop").head().getLong(0) == 300L)
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_noop")
  }

  test("a partitioned OPTIMIZE returns the files it folded, summed over partitions") {
    val dir = tmpDir("scbf-sql-optcount")
    spark.sql("DROP TABLE IF EXISTS sqlopt_count")
    try {
      spark.sql("CREATE TABLE sqlopt_count (id INT, grp STRING) USING scbf " +
        s"PARTITIONED BY (grp) LOCATION '$dir'")
      // two single-task inserts: 2 files in each of 3 partitions
      (0 until 2).foreach { k =>
        spark.sql(s"""INSERT INTO sqlopt_count SELECT /*+ COALESCE(1) */
          CAST(id AS INT), concat('g', CAST(id % 3 AS INT))
          FROM range(${k * 90}, ${k * 90 + 90})""")
      }
      val perDir = ScbfDataSource.resolveFiles(Seq(dir), hconf)
        .groupBy(_.getPath.getParent.getName).view.mapValues(_.size).toMap
      assert(perDir == Map("grp=g0" -> 2, "grp=g1" -> 2, "grp=g2" -> 2), perDir.toString)
      assert(spark.sql("OPTIMIZE sqlopt_count CLUSTER BY (id)").head().getInt(0) == 6)
      // every partition is now one file at the one-file target
      assert(spark.sql("OPTIMIZE sqlopt_count CLUSTER BY (id)").head().getInt(0) == 0)
      assert(spark.sql("SELECT COUNT(*), SUM(id) FROM sqlopt_count").head() ==
        org.apache.spark.sql.Row(180L, (0L until 180L).sum))
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_count")
  }

  test("VACUUM sweeps aged temps and orphan sidecars across partitions, pure SQL") {
    val dir = tmpDir("scbf-sql-vac")
    spark.sql("DROP TABLE IF EXISTS sqlvac_t")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql("CREATE TABLE sqlvac_t (id INT, grp STRING) USING scbf " +
        s"PARTITIONED BY (grp) LOCATION '$dir'")
      spark.sql("""INSERT INTO sqlvac_t
        SELECT CAST(id AS INT), concat('g', CAST(id % 2 AS INT)) FROM range(0, 100)""")
      val fs = new Path(dir).getFileSystem(hconf)
      // plant aged litter in a partition dir: a dead-attempt temp and
      // an orphan stats sidecar for a data file that no longer exists
      val pdir = new Path(dir, "grp=g0")
      val temp = new Path(pdir, ".dead.scbf.tmp")
      fs.create(temp).close()
      val orphan = ScbfStats.sidecarPath(new Path(pdir, "gone.scbf"))
      fs.create(orphan).close()
      // litter OUTSIDE any data-holding directory: the partitioned
      // root holds no data files, and a crashed first write can leave
      // a partition directory with ONLY temps — both must be swept,
      // which a data-holding-directories walk would miss
      val rootTemp = new Path(dir, ".dead-root.scbf.tmp")
      fs.create(rootTemp).close()
      val emptyPart = new Path(dir, "grp=gnew")
      fs.mkdirs(emptyPart)
      val emptyPartTemp = new Path(emptyPart, ".dead-new.scbf.tmp")
      fs.create(emptyPartTemp).close()
      val old = System.currentTimeMillis() - 48L * 3600 * 1000
      Seq(temp, orphan, rootTemp, emptyPartTemp).foreach(p => fs.setTimes(p, old, old))
      // fully-qualified session-catalog name resolves like the bare one
      val r = spark.sql("VACUUM spark_catalog.default.sqlvac_t RETAIN 24 HOURS").head()
      assert(r.getInt(0) >= 3 && r.getInt(1) >= 1,
        s"expected >=3 temps (partition, root, temp-only dir) and >=1 orphan removed, got $r")
      assert(!fs.exists(temp) && !fs.exists(orphan) &&
        !fs.exists(rootTemp) && !fs.exists(emptyPartTemp))
      assert(spark.sql("SELECT COUNT(*) FROM sqlvac_t").head().getLong(0) == 100L)
    } finally spark.sql("DROP TABLE IF EXISTS sqlvac_t")
  }

  test("delegation is transparent; non-scbf tables are refused") {
    // ordinary SQL — including the word OPTIMIZE inside a query — is
    // untouched by the injected parser
    assert(spark.sql("SELECT 'OPTIMIZE t CLUSTER BY (x)' AS s").head().getString(0)
      .startsWith("OPTIMIZE"))
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) == 2)
    spark.sql("DROP TABLE IF EXISTS sqlopt_foreign")
    try {
      spark.range(5).write.saveAsTable("sqlopt_foreign") // parquet provider
      val e = intercept[Exception] {
        spark.sql("OPTIMIZE sqlopt_foreign CLUSTER BY (id)")
      }
      assert(e.getMessage.contains("not an SCBF table"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_foreign")
    // unknown table: the catalog error surfaces, not a sweep of nothing
    intercept[Exception] { spark.sql("OPTIMIZE no_such_table CLUSTER BY (id)") }
  }

  test("DESCRIBE HISTORY renders the discovery log's version chain") {
    val dir = tmpDir("scbf-sql-hist")
    spark.sql("DROP TABLE IF EXISTS sqlhist_t")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE sqlhist_t (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
      spark.sql("""INSERT INTO sqlhist_t
        SELECT /*+ REPARTITION(2) */ CAST(id AS INT), CAST(id AS DOUBLE)
        FROM range(0, 100)""")
      val appends = spark.sql("DESCRIBE HISTORY sqlhist_t").collect()
      assert(appends.length >= 2 && appends.forall(_.getString(1) == "append"),
        appends.mkString("; "))
      assert(appends.forall(r => r.getLong(3) > 0 && !r.getBoolean(4)))
      // a row-changing rewrite shows up as action=rewrite, rows_changed
      spark.sql("DELETE FROM sqlhist_t WHERE id < 10")
      val hist = spark.sql("DESCRIBE HISTORY sqlhist_t").collect()
      val rewrites = hist.filter(_.getString(1) == "rewrite")
      assert(rewrites.nonEmpty && rewrites.forall(r =>
        r.getBoolean(4) && r.getString(5) != null), hist.mkString("; "))
      // newest first, and the chain agrees with AS OF's physics: the
      // pre-DELETE point needs the replaced originals — gone, refused
      assert(hist.map(_.getTimestamp(0).getTime).sliding(2)
        .forall(w => w.length < 2 || w(0) >= w(1)))
      val preRewriteTs = hist.filter(_.getString(1) == "append")
        .map(_.getTimestamp(0).getTime).max
      if (rewrites.map(_.getTimestamp(0).getTime).min > preRewriteTs) {
        val eGone = intercept[Exception] {
          spark.read.format("scbf")
            .option("asOfTimestamp", preRewriteTs).load(dir).count()
        }
        assert(eGone.getMessage.contains("physically removed"), eGone.getMessage)
      }
      // DESC shorthand works; a table with no log refuses loudly
      assert(spark.sql("DESC HISTORY sqlhist_t").count() == hist.length.toLong)
      val bare = tmpDir("scbf-sql-hist-bare")
      spark.sql("DROP TABLE IF EXISTS sqlhist_bare")
      new Path(bare).getFileSystem(hconf).delete(new Path(bare), true)
      spark.sql(s"CREATE TABLE sqlhist_bare (id INT) USING scbf LOCATION '$bare'")
      spark.sql("INSERT INTO sqlhist_bare VALUES (1)")
      new Path(bare).getFileSystem(hconf)
        .delete(graft.sources.ScbfDiscovery.dir(new Path(bare)), true)
      val e = intercept[Exception] { spark.sql("DESCRIBE HISTORY sqlhist_bare").collect() }
      assert(e.getMessage.contains("no discovery log"), e.getMessage)
      spark.sql("DROP TABLE IF EXISTS sqlhist_bare")
    } finally spark.sql("DROP TABLE IF EXISTS sqlhist_t")
  }

  test("DESCRIBE HISTORY resolves graft-catalog tables through their own catalog") {
    val wh = tmpDir("graft-hist-wh")
    spark.conf.set("spark.sql.catalog.ghist", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ghist.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ghist.db")
    spark.sql("DROP TABLE IF EXISTS ghist.db.ht")
    spark.sql("CREATE TABLE ghist.db.ht (id INT) USING scbf")
    spark.sql("INSERT INTO ghist.db.ht SELECT CAST(id AS INT) FROM range(0, 10)")
    val hist = spark.sql("DESCRIBE HISTORY ghist.db.ht").collect()
    assert(hist.nonEmpty && hist.forall(_.getString(1) == "append"),
      hist.mkString("; "))
    spark.sql("DROP TABLE IF EXISTS ghist.db.ht")
  }

  test("DESCRIBE HISTORY LIMIT + COMMITS: bounded views over the chain; RESTORE by version") {
    val dir = tmpDir("scbf-sql-histlim")
    spark.sql("DROP TABLE IF EXISTS sqlhist_lim")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE sqlhist_lim (id INT) USING scbf LOCATION '$dir'")
      // three commits, strictly separated on the millisecond axis
      for (w <- 0 until 3) {
        spark.sql(s"INSERT INTO sqlhist_lim SELECT CAST(id AS INT) " +
          s"FROM range(${w * 100}, ${w * 100 + 100})")
        Thread.sleep(5)
      }
      val full = spark.sql("DESCRIBE HISTORY sqlhist_lim").collect().toSeq
      assert(full.size >= 3)
      // LIMIT n = the n newest rows of the full per-file view, exactly
      val lim = spark.sql("DESCRIBE HISTORY sqlhist_lim LIMIT 2").collect().toSeq
      assert(lim == full.take(2), s"LIMIT view diverged:\n$lim\nvs\n${full.take(2)}")
      // the bounded replay reads FEWER deltas than the full one (early
      // stop at the first delta older than the heap's n-th newest)
      graft.sources.ScbfDiscovery.deltaReads.set(0)
      spark.sql("DESCRIBE HISTORY sqlhist_lim LIMIT 1").collect()
      val boundedReads = graft.sources.ScbfDiscovery.deltaReads.get
      assert(boundedReads < 3, s"LIMIT 1 read $boundedReads deltas of a 3-commit chain")
      // COMMITS: one row per delta, newest first, versions oldest = 0
      val com = spark.sql("DESCRIBE HISTORY sqlhist_lim COMMITS").collect().toSeq
      assert(com.size == 3, com.mkString("; "))
      assert(com.map(_.getInt(0)) == Seq(2, 1, 0), com.mkString("; "))
      assert(com.forall(_.getString(2) == "commit"), com.mkString("; "))
      assert(com.forall(r => r.getInt(3) > 0 && r.getLong(4) > 0), com.mkString("; "))
      // newest-first on the time axis too
      val ts = com.map(_.getTimestamp(1).getTime)
      assert(ts == ts.sorted.reverse, ts.toString)
      assert(spark.sql("DESCRIBE HISTORY sqlhist_lim COMMITS LIMIT 1")
        .collect().toSeq == com.take(1))
      // VERSION AS OF n ≡ TIMESTAMP AS OF that commit's ts — and
      // RESTORE accepts the same ordinals
      assert(spark.sql(s"RESTORE TABLE sqlhist_lim TO VERSION AS OF 1")
        .head().getInt(0) > 0)
      assert(spark.table("sqlhist_lim").count() == 200L)
      // the restore's commit row is a TAKEDOWN, not a one-file append:
      // its sentinel is no data file — files=0, removed counts victims
      val rest = spark.sql("DESCRIBE HISTORY sqlhist_lim COMMITS LIMIT 1").head()
      assert(rest.getInt(3) == 0 && rest.getLong(7) > 0, rest.toString)
    } finally spark.sql("DROP TABLE IF EXISTS sqlhist_lim")
  }

  test("DESCRIBE HISTORY BETWEEN: the file-level change feed — exact sets per window") {
    val dir = tmpDir("scbf-sql-feed")
    spark.sql("DROP TABLE IF EXISTS sqlhist_feed")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE sqlhist_feed (id INT) USING scbf LOCATION '$dir'")
      // five commits: A, B, C appends; a metadata-only DELETE of C
      // (removal entry); an OPTIMIZE folding A+B (rewrite entry)
      def names() = ScbfDataSource.resolveFiles(Seq(dir), hconf)
        .map(_.getPath.getName).toSet
      var waveFiles = Seq.empty[Set[String]] // files ADDED by each wave
      for (w <- 0 until 3) {
        val before = names()
        spark.sql("INSERT INTO sqlhist_feed SELECT /*+ REPARTITION(1) */ " +
          s"CAST(id AS INT) FROM range(${w * 50}, ${w * 50 + 50})")
        waveFiles :+= (names() -- before)
        Thread.sleep(5)
      }
      spark.sql("DELETE FROM sqlhist_feed WHERE id >= 100") // drops C whole
      Thread.sleep(5)
      spark.sql("OPTIMIZE sqlhist_feed FILES 1")            // folds A+B
      // commits 0..4; the feed is exclusive-start/inclusive-end, so
      // BETWEEN VERSION v1 AND v2 = commits v1+1..v2 exactly
      val seg01 = spark.sql(
        "DESCRIBE HISTORY sqlhist_feed BETWEEN VERSION 0 AND VERSION 2").collect()
      assert(seg01.forall(_.getString(1) == "append"), seg01.mkString("; "))
      assert(seg01.map(_.getString(2)).toSet == (waveFiles(1) ++ waveFiles(2)),
        s"(v0, v2] must be exactly waves B+C's files: ${seg01.mkString("; ")}")
      // the DELETE window: exactly one remove row naming C's victims
      val segDel = spark.sql(
        "DESCRIBE HISTORY sqlhist_feed BETWEEN VERSION 2 AND VERSION 3").collect()
      assert(segDel.length == 1 && segDel.head.getString(1) == "remove",
        segDel.mkString("; "))
      assert(Option(segDel.head.getString(5)).exists(_.nonEmpty),
        "the remove row must enumerate its victims")
      // the OPTIMIZE window: rewrite rows carrying A+B as victims,
      // rows_changed = false (pure compaction)
      val segOpt = spark.sql(
        "DESCRIBE HISTORY sqlhist_feed BETWEEN VERSION 3 AND VERSION 4").collect()
      assert(segOpt.nonEmpty && segOpt.forall(_.getString(1) == "rewrite"),
        segOpt.mkString("; "))
      assert(segOpt.forall(!_.getBoolean(4)), "compaction is rowsChanged=false")
      // the whole recorded span = the unwindowed per-file view
      val t0 = spark.sql("DESCRIBE HISTORY sqlhist_feed COMMITS").collect()
        .map(_.getTimestamp(1).getTime).min - 1
      val all = spark.sql(s"DESCRIBE HISTORY sqlhist_feed BETWEEN $t0 AND " +
        s"${System.currentTimeMillis()}").collect().toSeq
      assert(all == spark.sql("DESCRIBE HISTORY sqlhist_feed").collect().toSeq,
        "a window covering everything must equal the full view")
      // LIMIT composes (newest first), and the bracketed replay reads
      // only the bracketed deltas (plus the two version resolutions)
      graft.sources.ScbfDiscovery.deltaReads.set(0)
      val lim = spark.sql("DESCRIBE HISTORY sqlhist_feed " +
        "BETWEEN VERSION 2 AND VERSION 4 LIMIT 1").collect()
      assert(lim.length == 1 && lim.head.getString(1) == "rewrite",
        lim.mkString("; "))
      assert(graft.sources.ScbfDiscovery.deltaReads.get <= 4,
        s"bracketed feed must not replay the whole chain: " +
          s"${graft.sources.ScbfDiscovery.deltaReads.get} delta reads")
      // reversed points refuse with the window contract
      val e = intercept[Exception](spark.sql(
        "DESCRIBE HISTORY sqlhist_feed BETWEEN VERSION 3 AND VERSION 1").collect())
      assert(e.getMessage.contains("exclusive-start"), e.getMessage)
      // timestamp-literal points resolve like RESTORE/TIMESTAMP AS OF
      val litRows = spark.sql("DESCRIBE HISTORY sqlhist_feed BETWEEN " +
        s"'1970-01-01 00:00:01' AND ${System.currentTimeMillis()}").collect()
      assert(litRows.length == all.length, s"${litRows.length} != ${all.length}")
    } finally spark.sql("DROP TABLE IF EXISTS sqlhist_feed")
  }

  test("DESCRIBE DETAIL: one row from dirsum head-reads — zero manifest parses, zero opens") {
    val dir = tmpDir("scbf-sql-detail")
    spark.sql("DROP TABLE IF EXISTS sqldetail")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql("CREATE TABLE sqldetail (id INT, grp STRING) USING scbf " +
        s"PARTITIONED BY (grp) LOCATION '$dir'")
      spark.sql("""INSERT INTO sqldetail
        SELECT /*+ REPARTITION(3, grp) */ * FROM (
          SELECT CAST(id AS INT) AS id,
            concat('g', CAST(id % 3 AS INT)) AS grp FROM range(0, 600))""")
      val files = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      ScbfStats.manifestReads.set(0)
      ScbfStats.summaryReads.set(0)
      ScbfUtil.dataFileOpens.set(0)
      val d = spark.sql("DESCRIBE DETAIL sqldetail").head()
      assert(ScbfStats.manifestReads.get == 0 && ScbfUtil.dataFileOpens.get == 0,
        s"DETAIL must be head-reads only: manifests=${ScbfStats.manifestReads.get} " +
          s"opens=${ScbfUtil.dataFileOpens.get}")
      assert(ScbfStats.summaryReads.get >= 3, "rows must come from dirsums")
      assert(d.getInt(2) == files.size && d.getLong(3) == files.map(_.getLen).sum, d.toString)
      assert(d.getLong(4) == 600L, d.toString)
      assert(d.getString(5) == "grp" && !d.getBoolean(6) && d.getBoolean(7), d.toString)
      assert(d.getInt(8) >= 1, d.toString)
      // an out-of-band file the manifests never met: num_files counts
      // it and rows stays EXACT through the bounded fallback — ONE
      // manifest parse (the dirty directory only), one header read
      // (the unmanifested file only); clean directories keep their
      // zero-parse dirsum bill
      val stray = new Path(new Path(dir, "grp=g0"),
        "stray" + graft.scbf.Scbf.FileExtension)
      val w = files.head // copy a real file's bytes under a new name
      val strayRows = ScbfUtil.readHeader(w, hconf).totalRows
      val fsys = stray.getFileSystem(hconf)
      org.apache.hadoop.fs.FileUtil.copy(fsys, w.getPath, fsys, stray, false, hconf)
      ScbfStats.manifestReads.set(0)
      ScbfStats.summaryReads.set(0)
      val d2 = spark.sql("DESCRIBE DETAIL sqldetail").head()
      assert(d2.getInt(2) == files.size + 1, d2.toString)
      assert(d2.getLong(4) == 600L + strayRows,
        s"dirty-dir fallback must stay exact: ${d2.toString} (stray=$strayRows)")
      assert(ScbfStats.manifestReads.get == 1,
        s"manifest parses == dirty directories (1): ${ScbfStats.manifestReads.get}")
      assert(ScbfStats.summaryReads.get >= 3,
        "clean directories must still answer from dirsum head-reads")
      // a file unreadable by EVERY route (manifest, sidecar, header)
      // is the one honest NULL left
      val junk = new Path(new Path(dir, "grp=g1"),
        "junk" + graft.scbf.Scbf.FileExtension)
      val out = fsys.create(junk, true)
      out.write("not an scbf file".getBytes("UTF-8")); out.close()
      val d2b = spark.sql("DESCRIBE DETAIL sqldetail").head()
      assert(d2b.isNullAt(4), d2b.toString)
      fsys.delete(junk, false)
      // a clone's DETAIL says so
      val cl = tmpDir("scbf-sql-detail-cl") + "/c"
      spark.sql("DROP TABLE IF EXISTS sqldetail_c")
      spark.sql(s"CREATE TABLE sqldetail_c SHALLOW CLONE sqldetail LOCATION '$cl'")
      val d3 = spark.sql("DESCRIBE DETAIL sqldetail_c").head()
      assert(d3.getBoolean(6) && d3.getInt(2) == files.size + 1, d3.toString)
      // graft-catalog tables report their partition transforms too
      // (resolved through their OWN catalog, not a swallowed error)
      spark.conf.set("spark.sql.catalog.gdet", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gdet.warehouse", tmpDir("graft-detail-wh"))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gdet.db")
      spark.sql("DROP TABLE IF EXISTS gdet.db.dt")
      spark.sql("CREATE TABLE gdet.db.dt (id INT, grp STRING) USING scbf " +
        "PARTITIONED BY (grp)")
      spark.sql("INSERT INTO gdet.db.dt SELECT CAST(id AS INT), " +
        "concat('g', CAST(id % 2 AS INT)) FROM range(0, 20)")
      val d4 = spark.sql("DESCRIBE DETAIL gdet.db.dt").head()
      assert(d4.getString(5) == "grp" && d4.getInt(2) > 0, d4.toString)
      spark.sql("DROP TABLE IF EXISTS gdet.db.dt")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sqldetail_c")
      spark.sql("DROP TABLE IF EXISTS sqldetail")
    }
  }

  test("SHOW CREATE TABLE round-trips: flat, partitioned, graft-catalog bucketed, clone") {
    val dirF = tmpDir("scbf-sql-sct-flat")
    val dirP = tmpDir("scbf-sql-sct-part")
    val dirC = tmpDir("scbf-sql-sct-clone") + "/c"
    Seq("sct_flat", "sct_part", "sct_clone").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq(dirF, dirP).foreach(d =>
      new Path(d).getFileSystem(hconf).delete(new Path(d), true))
    try {
      // flat: the statement re-registers the same directory
      spark.sql(s"CREATE TABLE sct_flat (id INT, v DOUBLE) USING scbf LOCATION '$dirF'")
      spark.sql("INSERT INTO sct_flat SELECT CAST(id AS INT), 0.5 FROM range(0, 100)")
      val sF = spark.sql("SHOW CREATE TABLE sct_flat").head().getString(0)
      assert(sF.contains("USING scbf") && sF.contains(s"LOCATION") &&
        sF.contains("id INT") && sF.contains("v DOUBLE"), sF)
      spark.sql("DROP TABLE sct_flat")
      spark.sql(sF)
      assert(spark.table("sct_flat").count() == 100L, "flat round-trip")
      // partitioned: PARTITIONED BY survives the round-trip
      spark.sql("CREATE TABLE sct_part (id INT, grp STRING) USING scbf " +
        s"PARTITIONED BY (grp) LOCATION '$dirP'")
      spark.sql("INSERT INTO sct_part SELECT CAST(id AS INT), " +
        "concat('g', CAST(id % 2 AS INT)) FROM range(0, 40)")
      val sP = spark.sql("SHOW CREATE TABLE sct_part").head().getString(0)
      assert(sP.contains("PARTITIONED BY (grp)"), sP)
      spark.sql("DROP TABLE sct_part")
      spark.sql(sP)
      assert(spark.table("sct_part").count() == 40L)
      assert(GraftSqlParser.resolveScbfMeta(spark, "sct_part")
        ._2.partitionColumnNames == Seq("grp"), "partitioning must survive")
      // graft-catalog: transforms render, bucket included, no LOCATION
      spark.conf.set("spark.sql.catalog.gsct", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gsct.warehouse", tmpDir("graft-sct-wh"))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gsct.db")
      spark.sql("DROP TABLE IF EXISTS gsct.db.bt")
      spark.sql("CREATE TABLE gsct.db.bt (id INT, grp STRING) USING scbf " +
        "PARTITIONED BY (grp, bucket(4, id))")
      val sB = spark.sql("SHOW CREATE TABLE gsct.db.bt").head().getString(0)
      assert(sB.contains("PARTITIONED BY (grp, bucket(4, id))") &&
        !sB.contains("LOCATION"), sB)
      spark.sql("DROP TABLE gsct.db.bt")
      spark.sql(sB)
      val reT = spark.sessionState.catalogManager.catalog("gsct")
        .asInstanceOf[graft.sources.GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("db"), "bt"))
      assert(reT.partitioning().length == 2, reT.partitioning().mkString(", "))
      spark.sql("DROP TABLE IF EXISTS gsct.db.bt")
      // clone: renders the SHALLOW CLONE spelling from the recorded
      // source name; re-executing re-branches off the current source
      spark.sql(s"CREATE TABLE sct_clone SHALLOW CLONE sct_flat LOCATION '$dirC'")
      val sC = spark.sql("SHOW CREATE TABLE sct_clone").head().getString(0)
      assert(sC.contains("SHALLOW CLONE sct_flat") && sC.contains("LOCATION"), sC)
      spark.sql("DROP TABLE sct_clone")
      new Path(dirC).getFileSystem(hconf).delete(new Path(dirC), true)
      spark.sql(sC)
      assert(spark.table("sct_clone").count() == 100L, "clone round-trip")
      // non-scbf tables delegate to Spark's own SHOW CREATE TABLE
      spark.sql("DROP TABLE IF EXISTS sct_pq")
      spark.sql(s"CREATE TABLE sct_pq (id INT) USING parquet LOCATION " +
        s"'${tmpDir("scbf-sql-sct-pq")}'")
      val sPq = spark.sql("SHOW CREATE TABLE sct_pq").head().getString(0)
      assert(sPq.toLowerCase.contains("parquet"), sPq)
      spark.sql("DROP TABLE IF EXISTS sct_pq")
    } finally Seq("sct_clone", "sct_part", "sct_flat").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("OPTIMIZE rebalances an equal-count skewed layout; balanced re-runs converge") {
    val dir = tmpDir("scbf-sql-skew")
    spark.sql("DROP TABLE IF EXISTS sqlopt_skew")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE sqlopt_skew (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
      // one huge file plus two tiny ones: the target count (3) is
      // already met, but none of the balance a pack exists to give
      spark.sql("""INSERT INTO sqlopt_skew
        SELECT /*+ COALESCE(1) */ CAST(id AS INT), CAST(id AS DOUBLE)
        FROM range(0, 20000)""")
      spark.sql("INSERT INTO sqlopt_skew VALUES (20000, 1.0)")
      spark.sql("INSERT INTO sqlopt_skew VALUES (20001, 2.0)")
      def lens = ScbfDataSource.resolveFiles(Seq(dir), hconf).map(_.getLen)
      assert(lens.size == 3 && lens.max > 2L * (lens.sum / 3), lens.toString)
      // count equality must NOT suppress the rebalance
      assert(spark.sql("OPTIMIZE sqlopt_skew FILES 3").head().getInt(0) == 3)
      val after = lens
      assert(after.size == 3 && after.max <= 2L * (after.sum / 3),
        s"rebalanced layout still skewed: $after")
      // the rewrite commit's `removed` counts DISTINCT victims (every
      // output file repeats the same victim list — 3 outputs × 3
      // victims must read 3, not 9); its 3 outputs are the files count
      val rw = spark.sql("DESCRIBE HISTORY sqlopt_skew COMMITS LIMIT 1").head()
      assert(rw.getInt(3) == 3 && rw.getLong(7) == 3L, rw.toString)
      // …and the balanced result converges: the re-run is a no-op
      assert(spark.sql("OPTIMIZE sqlopt_skew FILES 3").head().getInt(0) == 0)
      assert(spark.sql("SELECT COUNT(*), SUM(id) FROM sqlopt_skew").head() ==
        org.apache.spark.sql.Row(20002L, (0L until 20002L).sum))
    } finally spark.sql("DROP TABLE IF EXISTS sqlopt_skew")
  }

  test("DROP/RENAME COLUMN roll back when an append commits mid-rewrite (lateFiles guard)") {
    for ((stmt, tag) <- Seq(
        ("ALTER TABLE %s DROP COLUMN v", "drop"),
        ("ALTER TABLE %s RENAME COLUMN v TO w", "rename"))) {
      val dir = tmpDir(s"scbf-latefiles-$tag")
      val tbl = s"laterace_$tag"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
      try {
        spark.sql(s"CREATE TABLE $tbl (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
        spark.sql(s"INSERT INTO $tbl SELECT CAST(id AS INT), CAST(id AS DOUBLE) FROM range(0, 100)")
        // the racing append COMMITS between the snapshot and the swap —
        // files the successor never folded in; destroying them with the
        // retired directory would lose committed rows
        var fired = false
        GraftSchemaRewrite.preRetireHook = () => if (!fired) {
          fired = true
          spark.sql(s"INSERT INTO $tbl SELECT CAST(id AS INT), 9.0 FROM range(100, 150)")
        }
        val e =
          try intercept[Exception] { spark.sql(stmt.format(tbl)) }
          finally GraftSchemaRewrite.preRetireHook = () => ()
        assert(e.getMessage.contains("appended concurrently"), e.getMessage)
        // the table is unchanged INCLUDING the racer's committed rows
        assert(spark.table(tbl).columns.toSeq == Seq("id", "v"))
        assert(spark.table(tbl).count() == 150L)
        // and the statement runs to completion once ingest settles
        spark.sql(stmt.format(tbl))
        val cols = spark.table(tbl).columns.toSeq
        assert(if (tag == "drop") cols == Seq("id") else cols == Seq("id", "w"),
          cols.toString)
        assert(spark.table(tbl).count() == 150L)
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("RESTORE racing an append: the new file survives (append serializes after)") {
    val dir = tmpDir("scbf-restore-race")
    spark.sql("DROP TABLE IF EXISTS restrace")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE restrace (id INT) USING scbf LOCATION '$dir'")
      spark.sql("INSERT INTO restrace SELECT CAST(id AS INT) FROM range(0, 100)")
      Thread.sleep(5)
      val t1 = System.currentTimeMillis()
      Thread.sleep(5)
      spark.sql("INSERT INTO restrace SELECT CAST(id AS INT) FROM range(100, 300)")
      var fired = false
      GraftRestoreTableCommand.raceHook = () => if (!fired) {
        fired = true
        spark.sql("INSERT INTO restrace SELECT CAST(id AS INT) FROM range(1000, 1050)")
      }
      val r =
        try spark.sql(s"RESTORE TABLE restrace TO TIMESTAMP AS OF $t1").head()
        finally GraftRestoreTableCommand.raceHook = () => ()
      assert(r.getInt(0) > 0, r.toString)
      // wave 2 removed; wave 1 AND the mid-restore append both live —
      // the legal linearization is restore-then-append
      val ids = spark.table("restrace").select("id").collect().map(_.getInt(0)).sorted
      assert(ids.length == 150 && ids.take(100).toSeq == (0 until 100) &&
        ids.drop(100).toSeq == (1000 until 1050), s"${ids.length} rows")
      // the log stays coherent: time travel to now sees the same 150
      Thread.sleep(5)
      assert(spark.read.format("scbf")
        .option("asOfTimestamp", System.currentTimeMillis())
        .load(dir).count() == 150L)
    } finally spark.sql("DROP TABLE IF EXISTS restrace")
  }

  test("an aborted swap on a LOG-LESS table must not implant the successor's fresh log") {
    val dir = tmpDir("scbf-swaplogless")
    spark.sql("DROP TABLE IF EXISTS swaplogless")
    val fs = new Path(dir).getFileSystem(hconf)
    fs.delete(new Path(dir), true)
    try {
      spark.sql(s"CREATE TABLE swaplogless (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
      spark.sql("INSERT INTO swaplogless SELECT CAST(id AS INT), 1.0 FROM range(0, 50)")
      // make the table LOG-LESS (the foreign/reference-tool shape):
      // the rewrite's own successor WRITE creates a fresh log — an
      // abort must not move that log into the restored table, where
      // it would announce only files the abort deletes (phantom
      // entries poisoning DESCRIBE HISTORY and time travel)
      fs.delete(graft.sources.ScbfDiscovery.dir(
        fs.makeQualified(new Path(dir))), true)
      GraftSchemaRewrite.swapRaceHook = p => if (p == 0) {
        fs.mkdirs(new Path(dir))
        val out = fs.create(new Path(dir, ".racer.tmp"), true)
        out.write(1); out.close()
      }
      val e =
        try intercept[Exception] {
          spark.sql("ALTER TABLE swaplogless ADD COLUMN flag INT DEFAULT 0")
        } finally GraftSchemaRewrite.swapRaceHook = _ => ()
      assert(e.getMessage.contains("concurrent writer re-created"), e.getMessage)
      assert(spark.table("swaplogless").count() == 50L)
      assert(!graft.sources.ScbfDiscovery.exists(
        fs.makeQualified(new Path(dir)), hconf),
        "the abort implanted the successor's fresh log into a log-less table")
    } finally spark.sql("DROP TABLE IF EXISTS swaplogless")
  }

  test("ALTER TABLE swap aborts when a concurrent writer re-creates the root (both phases)") {
    for (phase <- Seq(0, 1)) {
      val dir = tmpDir(s"scbf-swaprace$phase")
      val tbl = s"swaprace$phase"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val fs = new Path(dir).getFileSystem(hconf)
      fs.delete(new Path(dir), true)
      try {
        spark.sql(s"CREATE TABLE $tbl (id INT, v DOUBLE) USING scbf LOCATION '$dir'")
        spark.sql(s"INSERT INTO $tbl SELECT CAST(id AS INT), CAST(id AS DOUBLE) FROM range(0, 100)")
        // the racing writer: re-creates the (retired) root mid-swap and
        // drops half-committed litter into it — phase 0 exercises the
        // pre-rename exists check, phase 1 the nested-rename backstop
        GraftSchemaRewrite.swapRaceHook = p => if (p == phase) {
          fs.mkdirs(new Path(dir))
          val out = fs.create(new Path(dir, ".racer.scbf.tmp"), true)
          out.write(1); out.close()
        }
        val e =
          try intercept[Exception] {
            spark.sql(s"ALTER TABLE $tbl ADD COLUMN flag INT DEFAULT 0")
          } finally GraftSchemaRewrite.swapRaceHook = _ => ()
        assert(e.getMessage.contains("concurrent writer re-created"), e.getMessage)
        // the table is byte-identical: same schema, same rows
        assert(spark.table(tbl).columns.toSeq == Seq("id", "v"))
        assert(spark.table(tbl).count() == 100L)
        // the racer's output was set aside, never destroyed
        val parent = new Path(dir).getParent
        val base = new Path(dir).getName
        val strays = fs.listStatus(parent).map(_.getPath.getName)
          .filter(_.startsWith(s"$base.concurrent-"))
        assert(strays.length == 1, strays.mkString(", "))
        // the aborted successor announcement was scrubbed from the log:
        // time travel at now must neither refuse nor see phantom files
        Thread.sleep(5)
        val now = System.currentTimeMillis()
        assert(spark.read.format("scbf").option("asOfTimestamp", now)
          .load(dir).count() == 100L)
        // with the racer gone, the SAME statement runs to completion
        spark.sql(s"ALTER TABLE $tbl ADD COLUMN flag INT DEFAULT 7")
        assert(spark.table(tbl).columns.toSeq == Seq("id", "v", "flag"))
        assert(spark.table(tbl).where("flag = 7").count() == 100L)
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
