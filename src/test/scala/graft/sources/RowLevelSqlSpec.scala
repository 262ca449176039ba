package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/**
 * Pure-SQL row-level operations through SupportsRowLevelOperations
 * (ScbfRowLevelOp): UPDATE (flat, partitioned, partition-column),
 * MERGE INTO, and subquery-conditioned DELETE — plus the scoping,
 * routing and stream-announcement properties that make them safe at
 * 100 TB:
 *  - copy-on-write touches only files that can hold matching rows
 *    (stats-scoped group selection), everything else stays
 *    byte-identical under its original name;
 *  - filter-translatable DELETE still plans the metadata path
 *    (OptimizeMetadataOnlyDeleteFromTable → ScbfDelete), not a
 *    full-group rewrite;
 *  - replacements announce to the discovery log with root-relative
 *    rewriteOf names and the row-changing tag, so streams keep their
 *    onChangeCommit semantics.
 */
class RowLevelSqlSpec extends AnyFunSuite with SparkTestBase {

  private def hconf = spark.sessionState.newHadoopConf()

  private def dataFiles(dir: String): Map[String, Long] =
    ScbfDataSource.resolveFiles(Seq(dir), hconf)
      .map(f => f.getPath.toUri.getPath -> f.getLen).toMap

  /** Clustered source table: doc_id range-partitioned so a narrow
   * doc_id predicate scopes to few files. */
  private def mkTable(name: String, dir: String, parts: Int = 8): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    spark.sql(s"CREATE TABLE $name (id INT, grp STRING, v INT) " +
      s"USING scbf LOCATION '$dir'")
    spark.range(0, 800)
      .select(col("id").cast("int").as("id"),
        concat(lit("g"), (col("id") % 4).cast("int")).as("grp"),
        (col("id") * 10).cast("int").as("v"))
      .repartitionByRange(parts, col("id"))
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"INSERT INTO $name SELECT /*+ REPARTITION_BY_RANGE($parts, id) */ * FROM ${name}_src")
  }

  test("SQL UPDATE on a flat table: exact rows, stats-scoped file rewrite") {
    val dir = tmpDir("scbf-sql-upd")
    mkTable("scbf_upd", dir)
    try {
      val before = dataFiles(dir)
      assert(before.size >= 4, s"need a multi-file table, got ${before.size}")
      spark.sql("UPDATE scbf_upd SET v = v + 1000, grp = 'touched' " +
        "WHERE id >= 100 AND id < 150")
      // values: exactly the banded rows updated, everything else intact
      val got = spark.sql(
        "SELECT COUNT(*), SUM(v), SUM(CASE WHEN grp = 'touched' THEN 1 ELSE 0 END) FROM scbf_upd")
        .head()
      val expSum = (0 until 800).map(i =>
        if (i >= 100 && i < 150) i * 10 + 1000 else i * 10).sum.toLong
      assert(got == org.apache.spark.sql.Row(800L, expSum, 50L))
      // scoping: files that cannot hold id∈[100,150) survive byte-identical
      val after = dataFiles(dir)
      val survivors = before.keySet.intersect(after.keySet)
      assert(survivors.nonEmpty, "a narrow-band UPDATE must not rewrite every file")
      survivors.foreach(p => assert(before(p) == after(p)))
      // no-match UPDATE: pure metadata no-op (zero groups planned)
      val preNoop = dataFiles(dir)
      spark.sql("UPDATE scbf_upd SET v = 0 WHERE id >= 10000")
      assert(dataFiles(dir) == preNoop, "no-match UPDATE must rewrite nothing")
    } finally spark.sql("DROP TABLE IF EXISTS scbf_upd")
  }

  test("SQL UPDATE announces a row-changing rewrite to the discovery log") {
    val dir = tmpDir("scbf-sql-upd-log")
    mkTable("scbf_updlog", dir)
    try {
      val replaced = dataFiles(dir).keySet
      spark.sql("UPDATE scbf_updlog SET v = -1 WHERE id >= 700")
      val root = new Path(dir)
      val entries = ScbfDiscovery.listDeltas(root, hconf)
        .flatMap(n => ScbfDiscovery.readDelta(root, hconf, n))
      val rewrites = entries.filter(_.rewriteOf.nonEmpty)
      assert(rewrites.nonEmpty, "UPDATE replacements must announce rewriteOf")
      assert(rewrites.forall(_.rowsChanged), "UPDATE rewrites carry the C:1 tag")
      // rewriteOf names are real replaced file names (root-relative)
      val replacedNames = replaced.map(p => p.substring(p.lastIndexOf('/') + 1))
      rewrites.flatMap(_.rewriteOf).foreach(n =>
        assert(replacedNames.contains(n), s"unknown rewriteOf name $n"))
    } finally spark.sql("DROP TABLE IF EXISTS scbf_updlog")
  }

  test("SQL UPDATE on a partitioned table; partition-column UPDATE moves rows") {
    val dir = tmpDir("scbf-sql-updp")
    spark.sql("DROP TABLE IF EXISTS scbf_updp")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql("CREATE TABLE scbf_updp (id INT, grp STRING, v INT) " +
        s"USING scbf PARTITIONED BY (grp) LOCATION '$dir'")
      spark.range(0, 400)
        .select(col("id").cast("int").as("id"),
          concat(lit("g"), (col("id") % 4).cast("int")).as("grp"),
          col("id").cast("int").as("v"))
        .createOrReplaceTempView("scbf_updp_src")
      spark.sql("INSERT INTO scbf_updp SELECT /*+ REPARTITION(2, grp) */ * FROM scbf_updp_src")
      // data-column UPDATE under a partition predicate: other
      // partitions' files stay byte-identical
      val before = dataFiles(dir)
      spark.sql("UPDATE scbf_updp SET v = 0 WHERE grp = 'g1'")
      val after = dataFiles(dir)
      val untouched = before.keySet.filterNot(_.contains("grp=g1"))
      assert(untouched.nonEmpty && untouched.forall(p => after.get(p).contains(before(p))),
        "partitions outside the predicate must not rewrite")
      assert(spark.sql("SELECT SUM(v) FROM scbf_updp WHERE grp = 'g1'").head().getLong(0) == 0L)
      // partition-column UPDATE: rows MOVE to the new directory (the
      // API path refuses this; SQL copy-on-write handles it)
      spark.sql("UPDATE scbf_updp SET grp = 'g9' WHERE grp = 'g2' AND id < 100")
      val moved = spark.sql("SELECT COUNT(*) FROM scbf_updp WHERE grp = 'g9'").head().getLong(0)
      assert(moved == 25L, s"expected 25 rows moved to grp=g9, got $moved")
      assert(spark.sql("SELECT COUNT(*) FROM scbf_updp WHERE grp = 'g2' AND id < 100")
        .head().getLong(0) == 0L)
      assert(dataFiles(dir).keySet.exists(_.contains("grp=g9")),
        "moved rows must land in a real grp=g9/ directory")
      assert(spark.sql("SELECT COUNT(*) FROM scbf_updp").head().getLong(0) == 400L)
    } finally spark.sql("DROP TABLE IF EXISTS scbf_updp")
  }

  test("MERGE INTO: matched update, matched delete, not-matched insert") {
    val dir = tmpDir("scbf-sql-merge")
    mkTable("scbf_mrg", dir, parts = 4)
    try {
      // ids 0,20,...,780 — every one matches a target row (800..1180
      // would silently become not-matched inserts and skew the counts)
      spark.range(0, 40)
        .select((col("id") * 20).cast("int").as("id"),
          lit("merged").as("grp"), lit(7).cast("int").as("v"))
        .union(spark.range(0, 5).select(
          (col("id") + 10000).cast("int").as("id"),
          lit("fresh").as("grp"), lit(1).cast("int").as("v")))
        .createOrReplaceTempView("mrg_src")
      spark.sql("""MERGE INTO scbf_mrg t USING mrg_src s ON t.id = s.id
        WHEN MATCHED AND t.id < 400 THEN UPDATE SET t.v = s.v, t.grp = s.grp
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, s.grp, s.v)""")
      // ids 0,20,...,780 matched: <400 → v=7 (20 rows), >=400 → deleted (20 rows)
      // ids 10000..10004 inserted
      val r = spark.sql(
        """SELECT COUNT(*),
           SUM(CASE WHEN grp = 'merged' THEN 1 ELSE 0 END),
           SUM(CASE WHEN grp = 'fresh' THEN 1 ELSE 0 END) FROM scbf_mrg""").head()
      assert(r == org.apache.spark.sql.Row(800L - 20L + 5L, 20L, 5L), s"got $r")
      assert(spark.sql("SELECT SUM(v) FROM scbf_mrg WHERE grp = 'merged'")
        .head().getLong(0) == 140L)
    } finally spark.sql("DROP TABLE IF EXISTS scbf_mrg")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: sync-to-source shapes work") {
    // the mirror-a-feed shape: rows the change feed no longer carries
    // are retired (DELETE) or flagged (UPDATE) — Spark 4 clause,
    // group-based rewrite underneath
    val dir = tmpDir("scbf-sql-mrgsrc")
    mkTable("scbf_mrgsrc", dir, parts = 4)
    try {
      // the feed holds only ids 0..99, re-scored
      spark.range(0, 100).select(col("id").cast("int").as("id"),
        lit(5).cast("int").as("v")).createOrReplaceTempView("mrgsrc_feed")
      spark.sql("""MERGE INTO scbf_mrgsrc t USING mrgsrc_feed s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET t.v = s.v
        WHEN NOT MATCHED BY SOURCE AND t.id >= 700 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.grp = 'stale'""")
      val r = spark.sql(
        """SELECT COUNT(*), SUM(CASE WHEN grp = 'stale' THEN 1 ELSE 0 END),
           SUM(CASE WHEN id < 100 THEN v ELSE 0 END) FROM scbf_mrgsrc""").head()
      // 800 - 100 deleted (ids 700..799); 600 stale (100..699); fed rows v=5
      assert(r == org.apache.spark.sql.Row(700L, 600L, 500L), s"got $r")
    } finally spark.sql("DROP TABLE IF EXISTS scbf_mrgsrc")
  }

  test("DELETE with a subquery condition routes through copy-on-write") {
    val dir = tmpDir("scbf-sql-subdel")
    mkTable("scbf_subdel", dir, parts = 4)
    try {
      spark.range(0, 50).select(col("id").cast("int").as("vid"))
        .createOrReplaceTempView("victims")
      // untranslatable for SupportsDelete (subquery) — before
      // SupportsRowLevelOperations this failed; now it rewrites groups
      spark.sql("DELETE FROM scbf_subdel WHERE id IN (SELECT vid FROM victims)")
      assert(spark.sql("SELECT COUNT(*), MIN(id) FROM scbf_subdel").head()
        == org.apache.spark.sql.Row(750L, 50))
    } finally spark.sql("DROP TABLE IF EXISTS scbf_subdel")
  }

  test("an ALL-rows copy-on-write DELETE leaves a readable table and announces the removal") {
    // the empty-replacement shape: every row of every scanned group is
    // deleted, so the rewrite publishes NOTHING (emitEmptyFiles=false)
    // — the table must keep a 0-row data file (path reads need a
    // header to infer schema from) and the log must record the change
    // (no replacement entry exists to carry the rewriteOf, and the
    // stale live entries would otherwise crash a lagging consumer and
    // mute every onChangeCommit policy)
    val dir = tmpDir("scbf-sql-delall")
    mkTable("scbf_delall", dir, parts = 3)
    val preNames = dataFiles(dir).keySet
    // subquery condition: untranslatable, must take the ReplaceData path
    spark.sql(
      "DELETE FROM scbf_delall WHERE id IN (SELECT CAST(id AS INT) FROM range(0, 800))")
    try {
      assert(spark.sql("SELECT COUNT(*) FROM scbf_delall").head().getLong(0) == 0L)
      // path-based readers (no catalog schema) still work: the keeper
      val files = dataFiles(dir)
      assert(files.size == 1 && !preNames.exists(files.contains),
        s"one fresh 0-row keeper, all originals gone: $files")
      assert(spark.read.format("scbf").load(dir).count() == 0L,
        "a schema-less path read must survive the emptied table")
      val root = new Path(dir)
      val removals = ScbfDiscovery.listDeltas(root, hconf)
        .flatMap(n => ScbfDiscovery.readDelta(root, hconf, n))
        .filter(_.name.endsWith(ScbfDiscovery.RemovalSuffix))
      assert(removals.size == 1 && removals.head.rowsChanged &&
        removals.head.len == ScbfDiscovery.RemovedLen &&
        removals.head.rewriteOf.toSet == preNames.map(p => new Path(p).getName),
        s"the removal entry must carry every replaced group: $removals")
    } finally spark.sql("DROP TABLE IF EXISTS scbf_delall")
  }

  test("a whole-partition MOVE keeps the emptied source partition readable") {
    val dir = tmpDir("scbf-sql-mvall")
    spark.sql("DROP TABLE IF EXISTS scbf_mvall")
    new Path(dir).getFileSystem(hconf).delete(new Path(dir), true)
    try {
      spark.sql("CREATE TABLE scbf_mvall (id INT, grp STRING, v INT) " +
        s"USING scbf PARTITIONED BY (grp) LOCATION '$dir'")
      spark.range(0, 100)
        .select(col("id").cast("int").as("id"),
          concat(lit("g"), (col("id") % 2).cast("int")).as("grp"),
          col("id").cast("int").as("v"))
        .createOrReplaceTempView("scbf_mvall_src")
      spark.sql("INSERT INTO scbf_mvall SELECT /*+ REPARTITION(2, grp) */ * FROM scbf_mvall_src")
      // move EVERY g1 row to g9: replacements land in grp=g9 only, so
      // grp=g1 loses its last data file and needs the keeper
      spark.sql("UPDATE scbf_mvall SET grp = 'g9' WHERE grp = 'g1'")
      assert(spark.sql("SELECT COUNT(*) FROM scbf_mvall WHERE grp = 'g9'")
        .head().getLong(0) == 50L)
      assert(spark.sql("SELECT COUNT(*) FROM scbf_mvall").head().getLong(0) == 100L)
      // the emptied partition stays a readable standalone SCBF table
      assert(spark.read.format("scbf").load(s"$dir/grp=g1").count() == 0L,
        "the emptied source partition must keep a readable keeper file")
    } finally spark.sql("DROP TABLE IF EXISTS scbf_mvall")
  }

  test("a caught-up root stream is undisturbed by a partitioned SQL UPDATE (onChangeCommit default)") {
    // the end-to-end stream contract for the SQL path: replacements
    // announce to the ROOT discovery log with subdir-qualified
    // rewriteOf names and the C:1 tag, so a caught-up log-path
    // consumer applies the default skip (with a warning) — no
    // re-delivery, no listings — and later appends still flow
    val dir = tmpDir("scbf-sql-updstream")
    spark.sql("DROP TABLE IF EXISTS scbf_updstream")
    new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val ckpt = tmpDir("scbf-sql-updstream-ckpt")
    try {
      spark.sql("CREATE TABLE scbf_updstream (id INT, grp STRING, v INT) " +
        s"USING scbf PARTITIONED BY (grp) LOCATION '$dir'")
      spark.sql("""INSERT INTO scbf_updstream
        SELECT /*+ REPARTITION(2, grp) */ * FROM (
          SELECT CAST(id AS INT) AS id,
            concat('g', CAST(id % 3 AS INT)) AS grp, CAST(id AS INT) AS v
          FROM range(0, 120))""")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
      val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
      val q = spark.readStream.format("scbf").schema(schema)
        .option("reconcileEvery", "0").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getInt(0)).toSeq
          seen.synchronized { seen += ids }
          ()
        }.start()
      try {
        q.processAllAvailable()
        assert(seen.flatten.sorted == (0 until 120), s"baseline: $seen")
        // spans partitions; rewrites via copy-on-write
        spark.sql("UPDATE scbf_updstream SET v = 0 WHERE id % 4 = 0")
        ScbfDataSource.listings.set(0)
        q.processAllAvailable()
        assert(seen.flatten.size == 120,
          s"default onChangeCommit=skip must not re-deliver: $seen")
        assert(ScbfDataSource.listings.get == 0,
          "the skip must ride the discovery log, not a listing")
        spark.sql("INSERT INTO scbf_updstream VALUES (1000, 'g9', 1)")
        q.processAllAvailable()
        assert(seen.flatten.sorted == ((0 until 120) :+ 1000),
          s"post-update append must flow: $seen")
      } finally q.stop()
    } finally spark.sql("DROP TABLE IF EXISTS scbf_updstream")
  }

  test("a failing UPDATE aborts cleanly: originals intact, no replacements leak") {
    // the copy-on-write failure contract at the SQL layer: the
    // replacement append never committed, so abort removes the staged
    // outputs and the scanned originals are untouched — the statement
    // simply didn't happen
    val dir = tmpDir("scbf-sql-updfail")
    mkTable("scbf_updfail", dir, parts = 4)
    try {
      val before = dataFiles(dir)
      val sum = spark.sql("SELECT SUM(v) FROM scbf_updfail").head().getLong(0)
      intercept[Exception] {
        // ANSI cast of 'g0'-style strings to INT throws at runtime,
        // mid-write-job — after tasks have staged output files
        spark.sql("UPDATE scbf_updfail SET v = CAST(grp AS INT) WHERE id < 400")
      }
      assert(dataFiles(dir) == before,
        "a failed UPDATE must leave every original file byte-identical and publish nothing")
      assert(spark.sql("SELECT SUM(v) FROM scbf_updfail").head().getLong(0) == sum)
    } finally spark.sql("DROP TABLE IF EXISTS scbf_updfail")
  }

  test("MERGE plans a real join, never a cartesian/nested-loop blowup") {
    val dir = tmpDir("scbf-sql-mrgplan")
    mkTable("scbf_mrgplan", dir, parts = 4)
    try {
      spark.range(0, 50).select(col("id").cast("int").as("id"),
        lit(1).cast("int").as("v")).createOrReplaceTempView("mrgplan_src")
      val plan = spark.sql("""EXPLAIN MERGE INTO scbf_mrgplan t
        USING mrgplan_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET t.v = s.v
        WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, 'new', s.v)""")
        .head().getString(0)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"MERGE must plan an equi-join on the ON clause:\n$plan")
      assert(plan.contains("MergeRows"), s"expected the MergeRows exec:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS scbf_mrgplan")
  }

  test("filter-translatable DELETE still plans the metadata path") {
    val dir = tmpDir("scbf-sql-metadel")
    mkTable("scbf_metadel", dir, parts = 4)
    try {
      val plan = spark.sql("EXPLAIN DELETE FROM scbf_metadel WHERE id < 50")
        .head().getString(0)
      assert(plan.contains("DeleteFromTable"),
        s"translatable DELETE must stay on the SupportsDelete path, got:\n$plan")
      assert(!plan.contains("ReplaceData"),
        s"translatable DELETE must not plan a group rewrite:\n$plan")
      spark.sql("DELETE FROM scbf_metadel WHERE id < 50")
      assert(spark.sql("SELECT COUNT(*), MIN(id) FROM scbf_metadel").head()
        == org.apache.spark.sql.Row(750L, 50))
    } finally spark.sql("DROP TABLE IF EXISTS scbf_metadel")
  }

  test("SQL UPDATE and MERGE remove their victims' sidecars and manifest entries") {
    val dir = tmpDir("scbf-sql-victims")
    mkTable("scbf_victims", dir, parts = 4)
    val fs = new Path(dir).getFileSystem(hconf)
    def sidecars(p: String): Seq[Path] =
      Seq(ScbfStats.sidecarPath(new Path(p)), ScbfBloom.bloomPath(new Path(p)))
    def checkVictims(op: String)(run: => Unit): Unit = {
      val before = dataFiles(dir).keySet
      before.foreach(p => sidecars(p).foreach(sc =>
        assert(fs.exists(sc), s"$op: the fixture lacks $sc")))
      run
      val gone = before -- dataFiles(dir).keySet
      assert(gone.nonEmpty, s"$op must replace at least one file")
      gone.foreach(p => sidecars(p).foreach(sc =>
        assert(!fs.exists(sc), s"$op left the victim's $sc behind")))
      val manifest = ScbfStats.readManifest(new Path(dir), hconf).keySet
      gone.foreach(p => assert(!manifest.contains(new Path(p).getName),
        s"$op left the victim $p in the manifest"))
    }
    try {
      checkVictims("UPDATE")(
        spark.sql("UPDATE scbf_victims SET v = v + 1 WHERE id < 100"))
      spark.range(0, 10)
        .select((col("id") * 50).cast("int").as("id"),
          lit("m").as("grp"), lit(3).cast("int").as("v"))
        .createOrReplaceTempView("victims_src")
      checkVictims("MERGE")(spark.sql(
        """MERGE INTO scbf_victims t USING victims_src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET t.v = s.v"""))
    } finally spark.sql("DROP TABLE IF EXISTS scbf_victims")
  }
}
