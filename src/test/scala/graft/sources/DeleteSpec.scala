package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, In}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** DELETE FROM ... WHERE over SCBF tables (ScbfDelete via DSv2
 * SupportsDelete): stats-scoped rewrite — provably-unaffected files
 * stay byte-identical, affected files are rewritten without the
 * matching rows through the connector's own append path. */
class DeleteSpec extends AnyFunSuite with SparkTestBase {

  private def writeRanged(dir: String): Unit =
    spark.range(0, 1000)
      .select(col("id").cast("int").as("id"),
        concat(lit("src_"), (col("id") % 4).cast("int")).as("source"))
      .repartitionByRange(4, col("id"))
      .write.format("scbf").mode("overwrite").save(dir)

  private def files(dir: String): Map[String, Long] = {
    val p = new Path(dir)
    p.getFileSystem(new Configuration()).listStatus(p).toSeq
      .filter(f => f.getPath.getName.endsWith(".scbf") && !f.getPath.getName.startsWith("."))
      .map(f => f.getPath.getName -> f.getLen).toMap
  }

  private def delete(dir: String, fs: Filter*): Unit =
    ScbfDelete.deleteWhere(spark, dir, new Configuration(), fs.toArray)

  test("delete rewrites only the files that can hold matches") {
    val dir = tmpDir("scbf-del")
    writeRanged(dir)
    val before = files(dir)
    assert(before.size == 4)
    delete(dir, GreaterThan("id", 899)) // victims live in the last range file only
    val after = files(dir)
    // the three unaffected range files are byte-identical (same name AND length)
    assert(before.count { case (n, len) => after.get(n).contains(len) } == 3,
      s"3 of 4 originals must survive untouched: before=$before after=$after")
    assert(spark.read.format("scbf").load(dir)
      .agg(count(lit(1)), max(col("id"))).head()
      == org.apache.spark.sql.Row(900L, 899))
  }

  test("a delete that provably matches nothing rewrites nothing") {
    val dir = tmpDir("scbf-del-noop")
    writeRanged(dir)
    val before = files(dir)
    ScbfUtil.dataFileOpens.set(0)
    delete(dir, EqualTo("id", 100000)) // outside every file's range
    assert(ScbfUtil.dataFileOpens.get == 0, "no-op delete must not read data")
    assert(files(dir) == before, "no file may change")
    assert(spark.read.format("scbf").load(dir).count() == 1000)
  }

  test("whole-file fast path: victims that are ENTIRE files are dropped without a read") {
    // the partition-takedown shape generalized: a range-clustered
    // table, a band that wholly covers one file's range — trusted
    // stats PROVE every row of that file matches (mustMatchAll), so
    // it is deleted outright; zero data files are opened, the other
    // files stay byte-identical, and no replacement is published
    // (the directory keeps its other live files). The one record of
    // the change is a REMOVAL entry in the discovery log — sentinel
    // length, R:victim, C:1 — so log-path streams keep their
    // onChangeCommit semantics (RewriteTransparencySpec pins those).
    val dir = tmpDir("scbf-del-fast")
    // four disjoint, exactly-known ranges, one file each
    (0 until 4).foreach { k =>
      spark.range(k * 250, (k + 1) * 250)
        .select(col("id").cast("int").as("id"),
          concat(lit("src_"), (col("id") % 4).cast("int")).as("source"))
        .coalesce(1)
        .write.format("scbf").mode("append").save(dir)
    }
    val before = files(dir)
    assert(before.size == 4)
    ScbfUtil.dataFileOpens.set(0)
    delete(dir,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 250),
      org.apache.spark.sql.sources.LessThan("id", 500))
    assert(ScbfUtil.dataFileOpens.get == 0,
      "a whole-file victim must be dropped without reading any data file")
    val after = files(dir)
    assert(after.size == 3 && after.forall { case (n, len) => before.get(n).contains(len) },
      s"exactly the covered file goes, others byte-identical: before=$before after=$after")
    val root = new org.apache.hadoop.fs.Path(dir)
    val hconf = spark.sessionState.newHadoopConf()
    val removals = ScbfDiscovery.listDeltas(root, hconf)
      .flatMap(n => ScbfDiscovery.readDelta(root, hconf, n))
      .filter(_.name.endsWith(ScbfDiscovery.RemovalSuffix))
    assert(removals.size == 1 && removals.head.len == ScbfDiscovery.RemovedLen &&
      removals.head.rowsChanged &&
      removals.head.rewriteOf == (before.keySet -- after.keySet).toSeq.sorted,
      s"the drop must announce itself as a removal entry: $removals")
    assert(spark.read.format("scbf").load(dir)
      .agg(count(lit(1)), min(col("id")), max(col("id"))).head()
      == org.apache.spark.sql.Row(750L, 0, 999))
    // a STRADDLING band still rewrites exactly the straddling files
    ScbfUtil.dataFileOpens.set(0)
    delete(dir,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 700),
      org.apache.spark.sql.sources.LessThan("id", 800))
    assert(ScbfUtil.dataFileOpens.get > 0, "a partial victim needs the exact rewrite")
    assert(spark.read.format("scbf").load(dir).count() == 650L)
  }

  test("IN-victim delete over an UNCLUSTERED table scopes via blooms") {
    val dir = tmpDir("scbf-del-bloom")
    spark.range(0, 1000)
      .select(col("id").cast("int").as("id"),
        concat(lit("src_"), (col("id") % 4).cast("int")).as("source"))
      .repartition(4) // round-robin: min/max can scope nothing
      .write.format("scbf").mode("overwrite").save(dir)
    val before = files(dir)
    delete(dir, In("id", Array[Any](500))) // one victim → bloom scopes to its file
    val after = files(dir)
    assert(before.count { case (n, len) => after.get(n).contains(len) } >= 2,
      s"bloom scoping must leave most files untouched: before=${before.keySet} after=${after.keySet}")
    val got = spark.read.format("scbf").load(dir).agg(count(lit(1)),
      sum(when(col("id") === 500, 1).otherwise(0))).head()
    assert(got == org.apache.spark.sql.Row(999L, 0L))
  }

  test("SQL DELETE FROM works end-to-end on a catalog table") {
    val dir = tmpDir("scbf-del-sql")
    writeRanged(dir)
    spark.sql("DROP TABLE IF EXISTS scbf_del")
    spark.sql(s"CREATE TABLE scbf_del USING scbf LOCATION '$dir'")
    try {
      spark.sql("DELETE FROM scbf_del WHERE source = 'src_2'")
      val left = spark.sql(
        "SELECT COUNT(*) AS c, SUM(CASE WHEN source = 'src_2' THEN 1 ELSE 0 END) AS s " +
          "FROM scbf_del").head()
      assert(left == org.apache.spark.sql.Row(750L, 0L))
      // the rewrite went through the connector: stats + blooms exist for
      // every live file, so post-delete queries still prune
      val p = new Path(dir)
      val fs = p.getFileSystem(new Configuration())
      files(dir).keySet.foreach { n =>
        assert(fs.exists(ScbfStats.sidecarPath(new Path(dir, n))))
        assert(fs.exists(ScbfBloom.bloomPath(new Path(dir, n))))
      }
    } finally spark.sql("DROP TABLE IF EXISTS scbf_del")
  }

  test("update rewrites only affected files and applies SET to matching rows only") {
    val dir = tmpDir("scbf-upd")
    writeRanged(dir)
    val before = files(dir)
    ScbfDelete.updateWhere(spark, dir, new Configuration(),
      Array(GreaterThan("id", 899)),
      Map("source" -> lit("redacted"), "id" -> (col("id") + 10000)))
    val after = files(dir)
    assert(before.count { case (n, len) => after.get(n).contains(len) } == 3,
      "3 of 4 originals untouched")
    val got = spark.read.format("scbf").load(dir)
    assert(got.count() == 1000, "update never changes row count")
    assert(got.filter(col("source") === "redacted").count() == 100)
    assert(got.agg(max(col("id"))).head().getInt(0) == 10999)
    // non-matching rows byte-identical
    assert(got.filter(col("id") < 900)
      .filter(col("source") === "redacted").count() == 0)
  }

  test("update with a provably-unmatched predicate is a metadata no-op") {
    val dir = tmpDir("scbf-upd-noop")
    writeRanged(dir)
    val before = files(dir)
    ScbfUtil.dataFileOpens.set(0)
    ScbfDelete.updateWhere(spark, dir, new Configuration(),
      Array(EqualTo("id", 100000)), Map("source" -> lit("x")))
    assert(ScbfUtil.dataFileOpens.get == 0 && files(dir) == before)
  }

  test("update SET expressions all see the OLD row (simultaneous assignment)") {
    val dir = tmpDir("scbf-upd-swap")
    spark.range(0, 10)
      .select(col("id").cast("int").as("a"), (col("id") + 100).cast("int").as("b"))
      .coalesce(1)
      .write.format("scbf").mode("overwrite").save(dir)
    // SQL UPDATE semantics: SET a = b, b = a SWAPS — a sequential
    // withColumn chain would instead set both to the old b
    ScbfDelete.updateWhere(spark, dir, new Configuration(),
      Array(EqualTo("a", 5)), Map("a" -> col("b"), "b" -> col("a")))
    val row = spark.read.format("scbf").load(dir)
      .filter(col("b") === 5).head()
    assert(row.getInt(0) == 105 && row.getInt(1) == 5,
      s"expected swapped (105, 5), got $row")
  }

  test("update rejects unknown SET columns and keeps column types") {
    val dir = tmpDir("scbf-upd-bad")
    writeRanged(dir)
    intercept[IllegalArgumentException] {
      ScbfDelete.updateWhere(spark, dir, new Configuration(),
        Array(GreaterThan("id", 0)), Map("nope" -> lit(1)))
    }
    // int column assigned an arithmetic result stays int32 on disk
    ScbfDelete.updateWhere(spark, dir, new Configuration(),
      Array(EqualTo("id", 5)), Map("id" -> (col("id") * 2)))
    val sch = spark.read.format("scbf").load(dir).schema
    assert(sch("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(spark.read.format("scbf").load(dir)
      .filter(col("id") === 10).count() == 2) // original 10 + updated 5*2
  }

  test("SQL TRUNCATE TABLE works via the SupportsDelete default") {
    val dir = tmpDir("scbf-trunc")
    writeRanged(dir)
    spark.sql("DROP TABLE IF EXISTS scbf_trunc")
    spark.sql(s"CREATE TABLE scbf_trunc USING scbf LOCATION '$dir'")
    try {
      spark.sql("TRUNCATE TABLE scbf_trunc")
      assert(spark.sql("SELECT COUNT(*) FROM scbf_trunc").head().getLong(0) == 0L)
    } finally spark.sql("DROP TABLE IF EXISTS scbf_trunc")
  }

  test("delete agrees with the DataFrame-computed expectation across predicate shapes") {
    import org.apache.spark.sql.sources._
    // predicate shapes spanning the translator: ranges, IN, string
    // prefix, OR, AND, NOT (NOT is untranslatable to the STATS pruner
    // — everything stays affected — but must still delete exactly)
    val shapes: Seq[(String, Array[Filter])] = Seq(
      "range" -> Array(GreaterThanOrEqual("id", 200), LessThan("id", 400)),
      "in" -> Array(In("id", Array[Any](1, 500, 999, 123456))),
      "prefix-or-range" -> Array(
        Or(StringStartsWith("source", "src_1"), GreaterThan("id", 950))),
      "not" -> Array(Not(EqualTo("source", "src_2"))),
      "contains-and" -> Array(
        And(StringContains("source", "_3"), LessThanOrEqual("id", 700))))
    for (((label, fs), i) <- shapes.zipWithIndex; clustered <- Seq(true, false)) {
      val dir = tmpDir(s"scbf-del-fuzz-$i-$clustered")
      val base = spark.range(0, 1000)
        .select(col("id").cast("int").as("id"),
          concat(lit("src_"), (col("id") % 4).cast("int")).as("source"))
      (if (clustered) base.repartitionByRange(4, col("id")) else base.repartition(4))
        .write.format("scbf").mode("overwrite").save(dir)
      val cond = fs.map(f => ScbfDelete.filterToColumn(f).get).reduce(_ && _)
      val expect = base.filter(!cond)
        .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      ScbfDelete.deleteWhere(spark, dir, new Configuration(), fs)
      val got = spark.read.format("scbf").load(dir)
        .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      assert(got == expect, s"shape '$label' clustered=$clustered diverged: " +
        s"got ${got.size} rows, expected ${expect.size}")
    }
  }

  test("delete everything leaves a readable empty table; manifest is compacted") {
    val dir = tmpDir("scbf-del-all")
    writeRanged(dir)
    delete(dir) // no filters = delete all rows
    assert(spark.read.format("scbf").load(dir).count() == 0)
    // dead manifest entries for removed files are compacted away
    val man = ScbfStats.readManifest(new Path(dir), new Configuration())
    val live = files(dir).keySet
    assert(man.keySet.subsetOf(live), s"manifest keys ${man.keySet} vs live $live")
  }

  test("a `_`-prefixed file in a partition directory is not the table's: DELETE leaves it byte-identical") {
    val dir = tmpDir("scbf-del-hidden")
    spark.sql("DROP TABLE IF EXISTS scbf_del_hidden")
    spark.sql(s"CREATE TABLE scbf_del_hidden (id INT, grp STRING) " +
      s"USING scbf PARTITIONED BY (grp) LOCATION '$dir'")
    try {
      spark.sql("INSERT INTO scbf_del_hidden SELECT CAST(id AS INT), " +
        "CONCAT('g', CAST(id % 2 AS STRING)) FROM range(0, 100)")
      val part = new java.io.File(dir, "grp=g0")
      val data = part.listFiles().filter(f =>
        f.getName.endsWith(".scbf") && !f.getName.startsWith(".")).head
      // a copy of a data file the scan hides (`_` prefix): not part of
      // the table, so no rewrite may take it as a victim
      val foreign = new java.io.File(part, "_" + data.getName)
      java.nio.file.Files.copy(data.toPath, foreign.toPath)
      val bytes = java.nio.file.Files.readAllBytes(foreign.toPath)
      spark.sql("DELETE FROM scbf_del_hidden WHERE id < 10")
      assert(foreign.isFile, "a file outside the table must survive the DELETE")
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(foreign.toPath), bytes))
      assert(spark.sql("SELECT COUNT(*) FROM scbf_del_hidden").head().getLong(0) == 90L)
    } finally spark.sql("DROP TABLE IF EXISTS scbf_del_hidden")
  }
}
