package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Native DSv2 streaming sink: `writeStream.format("scbf")` appends
 * per-epoch files with deterministic names, published at epoch commit —
 * and a replayed epoch converges on the same files instead of
 * duplicating rows. */
class ScbfStreamSinkSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  test("writeStream.format(scbf) works first-class and restarts exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("scbf-sink-e2e").toString
    val ckpt = Files.createTempDirectory("scbf-sink-e2e-ckpt").toString
    val input = MemoryStream[(Int, String)]
    def run(data: Seq[(Int, String)]): Unit = {
      val q = input.toDF().toDF("id", "name")
        .writeStream.format("scbf")
        .option("checkpointLocation", ckpt).start(out)
      try { input.addData(data: _*); q.processAllAvailable() } finally q.stop()
    }
    run(Seq((1, "a"), (2, "b")))
    run(Seq((3, "c"))) // second query instance, same checkpoint
    val back = spark.read.format("scbf").load(out)
    assert(back.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  private def runEpoch(dir: String, epochId: Long, rows: Seq[(Int, String)],
      publish: Boolean = true): Unit = {
    val write = new ScbfStreamingWrite(dir, schema,
      spark.sparkContext.hadoopConfiguration, ScbfWrite.DefaultMaxBufferedBytes)
    val factory = write.createStreamingWriterFactory(
      new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
    val writer = factory.createWriter(0, 0L, epochId)
    rows.foreach { case (i, n) =>
      writer.write(InternalRow(i, UTF8String.fromString(n)))
    }
    val msg = writer.commit()
    if (publish) write.commit(epochId, Array(msg))
    else write.abort(epochId, Array(msg))
  }

  test("a replayed epoch republishes the same files — no duplicate rows") {
    val dir = Files.createTempDirectory("scbf-sink-replay").toString
    runEpoch(dir, 7L, Seq((1, "a"), (2, "b")))
    val filesAfterFirst = new java.io.File(dir).list().toSeq.filterNot(_.startsWith("."))
    // crash-before-engine-commit: the whole epoch runs again
    runEpoch(dir, 7L, Seq((1, "a"), (2, "b")))
    val filesAfterReplay = new java.io.File(dir).list().toSeq.filterNot(_.startsWith("."))
    assert(filesAfterReplay.sorted == filesAfterFirst.sorted,
      s"replay changed the published file set: $filesAfterFirst -> $filesAfterReplay")
    val back = spark.read.format("scbf").load(dir)
    assert(back.count() == 2, "replayed epoch duplicated rows")
    assert(back.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("a replay staging divergent content fails loudly (not length-fooled)") {
    val dir = Files.createTempDirectory("scbf-sink-divergent").toString
    runEpoch(dir, 3L, Seq((1, "a"), (2, "b")))
    // same LENGTH, different bytes: reordered rows — exactly the shape
    // a nondeterministic shuffle produces on an epoch replay; a
    // length-only check would silently keep the stale file
    val e = intercept[graft.scbf.ScbfFormatException] {
      runEpoch(dir, 3L, Seq((2, "b"), (1, "a")))
    }
    assert(e.getMessage.contains("different content"), e.getMessage)
    // the previously published file survives untouched
    val back = spark.read.format("scbf").load(dir)
    assert(back.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("abort removes staged temps and leaves published epochs intact") {
    val dir = Files.createTempDirectory("scbf-sink-abort").toString
    runEpoch(dir, 1L, Seq((1, "a")))
    runEpoch(dir, 2L, Seq((9, "z")), publish = false) // aborted epoch
    val names = new java.io.File(dir).list().toSeq
    // (ignore Hadoop local-FS .crc sidecars; ours are .<name>.<uuid>.tmp)
    assert(!names.exists(_.endsWith(".tmp")), s"temps survived abort: $names")
    val back = spark.read.format("scbf").load(dir)
    assert(back.select("id").as[Int].collect().toSeq == Seq(1),
      "aborted epoch leaked rows or clobbered a committed one")
  }

  test("empty triggers publish no files") {
    val dir = Files.createTempDirectory("scbf-sink-empty").toString
    runEpoch(dir, 1L, Seq.empty)
    assert(new java.io.File(dir).list().toSeq.isEmpty)
  }

  test("scbf -> transform -> scbf pipeline is exact across a restart") {
    val in = Files.createTempDirectory("scbf-pipe-in").toString
    val out = Files.createTempDirectory("scbf-pipe-out").toString
    val ckpt = Files.createTempDirectory("scbf-pipe-ckpt").toString
    def writeIn(ids: Range): Unit =
      ids.toDF("id").withColumn("name",
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("n"),
            $"id".cast("string")))
        .coalesce(1).write.format("scbf").mode("append").save(in)
    def run(): Unit = {
      val q = spark.readStream.format("scbf").schema(schema).load(in)
        .filter($"id" % 2 === 0) // the transform: keep evens
        .writeStream.format("scbf")
        .option("checkpointLocation", ckpt).start(out)
      try q.processAllAvailable() finally q.stop()
    }
    writeIn(0 until 6)
    run()
    writeIn(6 until 12)
    run() // restart: source resumes from its logs, sink appends new epochs
    val got = spark.read.format("scbf").load(out)
      .select("id").as[Int].collect().sorted.toSeq
    assert(got == (0 until 12 by 2), s"got $got")
  }
}
