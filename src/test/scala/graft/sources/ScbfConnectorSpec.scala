package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class ScbfConnectorSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def sampleDf = Seq(
    (1, 1.5, "alpha"), (2, 2.5, "beta"), (3, 3.5, "日本語"), (4, -0.25, "")
  ).toDF("id", "score", "name")

  test("write + read roundtrip through format(\"scbf\")") {
    val dir = tmpDir("scbf-rt")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    val back = spark.read.format("scbf").load(dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", IntegerType), ("score", DoubleType), ("name", StringType)))
    assert(back.collect().toSet == sampleDf.collect().toSet)
  }

  test("graft.scbf.deflateLevel session conf reaches the task writer") {
    // the knob rides the task-bound Hadoop conf (newHadoopConf copies
    // session confs); level 1 must change the stream bytes while the
    // rows read back identical — and the DEFAULT path stays untouched
    val big = (0 until 2000).map(i => (i, i * 0.5, s"text body $i lorem"))
      .toDF("id", "score", "name").coalesce(1)
    val dirD = tmpDir("scbf-dfl-default")
    big.write.format("scbf").mode("overwrite").save(dirD)
    val dir1 = tmpDir("scbf-dfl-l1")
    spark.conf.set(graft.GraftConf.ScbfDeflateLevel, "1")
    try big.write.format("scbf").mode("overwrite").save(dir1)
    finally spark.conf.unset(graft.GraftConf.ScbfDeflateLevel)
    def dataLen(d: String): Long =
      new java.io.File(d).listFiles.filter(_.getName.endsWith(".scbf"))
        .map(_.length).sum
    assert(dataLen(dirD) != dataLen(dir1),
      "level 1 must change the compressed size (else the conf is dead)")
    assert(spark.read.format("scbf").load(dir1).collect().toSet ==
      spark.read.format("scbf").load(dirD).collect().toSet)
  }

  test("column pruning reaches the scan (readSchema contains only selected columns)") {
    val dir = tmpDir("scbf-prune")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    val pruned = spark.read.format("scbf").load(dir).select("name")
    assert(pruned.collect().map(_.getString(0)).toSet == Set("alpha", "beta", "日本語", ""))
    val scanDesc = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.contains("columns [name]"), s"scan not pruned: $scanDesc")
    assert(!scanDesc.contains("score"))
  }

  test("count(*) works with zero required columns") {
    val dir = tmpDir("scbf-count")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    assert(spark.read.format("scbf").load(dir).count() == 4)
  }

  test("reads a reference-written file directly by path") {
    val df = spark.read.format("scbf").load("/root/reference/examples/sample.scbf")
    assert(df.columns.toSeq == Seq("id", "name", "score "))
    assert(df.select("score ").as[Double].collect().sorted.toSeq == Seq(79.25, 88.0, 91.5))
  }

  test("unknown column is an AnalysisException") {
    val dir = tmpDir("scbf-unknown")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    val e = intercept[Exception] {
      spark.read.format("scbf").load(dir).select("nope").collect()
    }
    assert(e.getMessage.toLowerCase.contains("nope"))
  }

  test("overwrite replaces previous contents") {
    val dir = tmpDir("scbf-ow")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    Seq((9, 9.0, "only")).toDF("id", "score", "name")
      .write.format("scbf").mode("overwrite").save(dir)
    val back = spark.read.format("scbf").load(dir)
    assert(back.collect().toSeq == Seq(Row(9, 9.0, "only")))
  }

  test("append adds files") {
    val dir = tmpDir("scbf-app")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    sampleDf.write.format("scbf").mode("append").save(dir)
    assert(spark.read.format("scbf").load(dir).count() == 8)
  }

  test("multi-partition write produces one file per non-empty partition") {
    val dir = tmpDir("scbf-multi")
    spark.range(0, 1000).select($"id".cast("int").as("id"))
      .repartition(3).write.format("scbf").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".scbf"))
    assert(files.length == 3)
    val back = spark.read.format("scbf").load(dir)
    assert(back.agg(sum("id")).as[Long].head() == 499500L)
    assert(back.rdd.getNumPartitions == 3) // one partition per file
  }

  test("unsupported column type fails fast with a helpful message") {
    val dir = tmpDir("scbf-badtype")
    val e = intercept[Exception] {
      Seq((1L, "x")).toDF("big", "s").write.format("scbf").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("big") && e.getMessage.contains("int32"))
  }

  test("null in numeric column aborts the write; null string becomes empty string") {
    val dir = tmpDir("scbf-null")
    val nullInt = spark.sql("SELECT cast(null as int) AS id, 'x' AS name")
    val e = intercept[Exception] { nullInt.write.format("scbf").mode("overwrite").save(dir) }
    assert(e.getMessage.contains("NULL in int32") ||
      e.getCause != null && e.getCause.getMessage.contains("NULL in int32"))
    val nullStr = spark.sql("SELECT 1 AS id, cast(null as string) AS name")
    nullStr.write.format("scbf").mode("overwrite").save(dir)
    assert(spark.read.format("scbf").load(dir).collect().toSeq == Seq(Row(1, "")))
  }

  test("SQL INSERT INTO appends through the DSv2 write path") {
    val dir = tmpDir("scbf-insert")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    spark.sql("DROP TABLE IF EXISTS scbf_ins")
    spark.sql(s"CREATE TABLE scbf_ins USING scbf LOCATION '$dir'")
    try {
      spark.sql("INSERT INTO scbf_ins VALUES (9, 9.5, 'ins')")
      val got = spark.sql("SELECT name FROM scbf_ins ORDER BY id")
        .as[String].collect().toSeq
      assert(got == Seq("alpha", "beta", "日本語", "", "ins"))
    } finally spark.sql("DROP TABLE IF EXISTS scbf_ins")
  }

  test("SQL DDL surface: CREATE TABLE ... USING scbf") {
    val dir = tmpDir("scbf-ddl")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    spark.sql("DROP TABLE IF EXISTS scbf_ddl")
    spark.sql(s"CREATE TABLE scbf_ddl USING scbf LOCATION '$dir'")
    try {
      val got = spark.sql(
        "SELECT name, score FROM scbf_ddl WHERE id >= 2 ORDER BY id")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == Seq(("beta", 2.5), ("日本語", 3.5), ("", -0.25)))
    } finally spark.sql("DROP TABLE IF EXISTS scbf_ddl")
  }

  test("zero-column write preserves the row count") {
    val dir = tmpDir("scbf-zerocol")
    spark.range(0, 7).select().write.format("scbf").mode("overwrite").save(dir)
    assert(spark.read.format("scbf").load(dir).count() == 7)
  }

  test("a failed overwrite leaves the previous table contents intact") {
    val dir = tmpDir("scbf-failow")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    intercept[Exception] {
      // NULL in an int column aborts mid-job
      spark.sql("SELECT cast(null as int) AS id, 1.0D AS score, 'x' AS name")
        .write.format("scbf").mode("overwrite").save(dir)
    }
    assert(spark.read.format("scbf").load(dir).count() == 4,
      "old data must survive a failed overwrite")
  }

  test("a directory mixing Spark-written and reference-written files reads as one table") {
    val dir = tmpDir("scbf-mixed")
    // our writer's file
    Seq((10, "ours", 1.0)).toDF("id", "name", "score")
      .write.format("scbf").mode("overwrite").save(dir)
    // reference-written fixture with the same column names (score has a
    // trailing space there, so build a matching-schema file via codec)
    import graft.scbf._
    ScbfWriter.write(s"$dir/ref-style.scbf",
      ScbfSchema(Seq(ScbfColumn("id", ScbfType.Int32),
        ScbfColumn("name", ScbfType.Utf8), ScbfColumn("score", ScbfType.Float64))),
      Seq(IntColumnData(Array(20)),
        Utf8ColumnData(Array("codec".getBytes("UTF-8"))),
        DoubleColumnData(Array(2.0))))
    val back = spark.read.format("scbf").load(dir).orderBy("id")
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((10, "ours"), (20, "codec")))
  }

  test("one task rolls to multiple files under maxBufferedBytes and reads back whole") {
    val dir = tmpDir("scbf-roll")
    // ~16 KiB of int+string data in ONE partition with a 2 KiB cap —
    // the task must roll to many part files instead of buffering it all
    spark.range(0, 1000)
      .select($"id".cast("int").as("id"), concat(lit("row-"), $"id").as("name"))
      .coalesce(1)
      .write.format("scbf").option("maxBufferedBytes", 2048)
      .mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles()
    val parts = files.filter(_.getName.endsWith(".scbf"))
    assert(parts.length > 3, s"expected rolled files, got ${parts.length}")
    assert(!files.exists(f => ScbfWrite.isTemp(f.getName)), "no temps may survive commit")
    val back = spark.read.format("scbf").load(dir)
    assert(back.count() == 1000)
    assert(back.agg(sum("id")).as[Long].head() == 499500L)
    assert(back.select("name").as[String].collect().toSet ==
      (0 until 1000).map(i => s"row-$i").toSet)
  }

  test("a crashed task's staged temps are invisible to readers and swept by the next overwrite") {
    val dir = tmpDir("scbf-tempsweep")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    // simulate a hard-crashed attempt: a staged temp nobody renamed
    val orphan = new java.io.File(dir, ".part-99999-0-deadbeef-000.scbf.tmp")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    assert(spark.read.format("scbf").load(dir).count() == 4,
      "truncated temp must not break reads")
    // APPEND must NOT sweep: a concurrent append job's staged temps
    // would be deleted out from under it
    sampleDf.write.format("scbf").mode("append").save(dir)
    assert(orphan.exists(), "append must leave foreign temps alone")
    assert(spark.read.format("scbf").load(dir).count() == 8)
    // overwrite replaces the directory contents — it sweeps
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    assert(!orphan.exists(), "overwrite commit must sweep orphaned temps")
    assert(spark.read.format("scbf").load(dir).count() == 4)
  }

  test("filter evaluates correctly above the scan") {
    val dir = tmpDir("scbf-filter")
    sampleDf.write.format("scbf").mode("overwrite").save(dir)
    val got = spark.read.format("scbf").load(dir)
      .filter($"score" > 2.0).select($"id").as[Int].collect().sorted
    assert(got.toSeq == Seq(2, 3))
  }

  test("a data file cut short inside its last block fails the read as a truncated file") {
    val dir = tmpDir("scbf-truncated")
    sampleDf.coalesce(1).write.format("scbf").mode("overwrite").save(dir)
    val data = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".scbf") && !f.getName.startsWith(".")).head
    val in = graft.scbf.ScbfReader.open(data.getPath)
    val lastBlock = try {
      val hdr = graft.scbf.ScbfReader.readHeader(in)
      graft.scbf.ScbfReader.readMeta(in, hdr, data.length())
        .flatMap(m => m.data +: m.strings.toSeq).maxBy(_.offset)
    } finally in.close()
    val raf = new java.io.RandomAccessFile(data, "rw")
    try raf.setLength(lastBlock.offset + lastBlock.compSize / 2) finally raf.close()
    // the local filesystem would otherwise report a checksum mismatch
    java.nio.file.Files.deleteIfExists(
      new java.io.File(dir, s".${data.getName}.crc").toPath)
    val err = intercept[Exception](spark.read.format("scbf").load(dir).collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[graft.scbf.ScbfFormatException] &&
      t.getMessage.contains("Truncated")),
      s"no truncated-file format error in ${chain.map(_.toString).mkString(" <- ")}")
  }
}
