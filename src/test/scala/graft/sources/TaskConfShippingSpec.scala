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
 * put every entry into every task binary and rebuild it in every task. */
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
}
