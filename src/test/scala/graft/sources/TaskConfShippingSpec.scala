package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkEnv
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The factories the connector ships to tasks carry a broadcast handle
 * for the Hadoop conf, never the conf itself: their serialized size
 * does not grow with the conf. A conf inlined into each factory would
 * put every entry into every task binary and rebuild it in every task.
 * The broadcast is reused across queries while the conf's content is
 * the same, and only then. */
class TaskConfShippingSpec extends AnyFunSuite with SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private val writeInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }

  // far below the padding alone (5 000 entries, well over 100 KB)
  private val MaxFactoryBytes = 8 * 1024

  private def paddedConf(): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    (0 until 5000).foreach(i => c.set(s"graft.test.padding.$i", s"value-$i"))
    c
  }

  /** Bytes the closure serializer writes for `o`, as it would into a
   * task binary. */
  private def shippedBytes(o: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).remaining()

  test("the scan's reader factory does not carry the conf") {
    val factory = new ScbfScan(schema, schema, Seq.empty, paddedConf())
      .createReaderFactory()
    val n = shippedBytes(factory)
    assert(n < MaxFactoryBytes, s"reader factory serializes to $n bytes")
  }

  test("the batch writer factory does not carry the conf") {
    val write = new ScbfBatchWrite(tmpDir("scbf-ship-batch"), schema,
      truncate = false, paddedConf(), ScbfWrite.DefaultMaxBufferedBytes)
    val n = shippedBytes(write.createBatchWriterFactory(writeInfo))
    assert(n < MaxFactoryBytes, s"batch writer factory serializes to $n bytes")
  }

  test("the streaming writer factory does not carry the conf") {
    val write = new ScbfStreamingWrite(tmpDir("scbf-ship-stream"), schema,
      paddedConf(), ScbfWrite.DefaultMaxBufferedBytes)
    val n = shippedBytes(write.createStreamingWriterFactory(writeInfo))
    assert(n < MaxFactoryBytes, s"streaming writer factory serializes to $n bytes")
  }

  private def scanBroadcast(conf: Configuration) =
    new ScbfScan(schema, schema, Seq.empty, conf).createReaderFactory()
      .asInstanceOf[ScbfPartitionReaderFactory].conf

  test("two scans over the same conf share one broadcast") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(scanBroadcast(conf).id == scanBroadcast(conf).id)
  }

  test("a key set on the live conf gets a new broadcast that tasks read") {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "graft.test.broadcast.reuse"
    val before = scanBroadcast(conf)
    try {
      conf.set(key, "v1")
      val after = scanBroadcast(conf)
      assert(after.id != before.id)
      val seen = spark.sparkContext.parallelize(Seq(0), 1)
        .map(_ => after.value.value.get(key)).collect().toSeq
      assert(seen == Seq("v1"))
    } finally conf.unset(key)
  }

  test("a per-write option does not leak into the next write through a shared broadcast") {
    def bloomSidecars(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".bloom"))
    def write(dir: String, opts: Map[String, String]): Unit =
      spark.range(0, 100).selectExpr("CAST(id AS INT) AS id")
        .write.format("scbf").options(opts).mode("overwrite").save(dir)
    val off = tmpDir("scbf-ship-nobloom")
    write(off, Map("bloomMaxBytes" -> "0"))
    assert(bloomSidecars(off) == 0, "bloomMaxBytes=0 must write no bloom sidecar")
    val on = tmpDir("scbf-ship-bloom")
    write(on, Map.empty)
    assert(bloomSidecars(on) > 0, "a default write must write bloom sidecars")
  }

  test("a conf with different content gets a broadcast of its own") {
    val live = scanBroadcast(spark.sparkContext.hadoopConfiguration)
    assert(scanBroadcast(paddedConf()).id != live.id)
  }
}
