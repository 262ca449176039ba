package graft.perfbench

import java.io.OutputStream
import java.nio.file.{Files, Path}

import graft.scbf._

/** The `scbf` layer timed on its own: direct single-thread
 * `ScbfReader`/`ScbfWriter` calls on a workload's SCBF files, three
 * rounds, each round's figures taken over every file, medians reported.
 * Bytes are raw encoded bytes: 4 per int32, 8 per float64, a 4-byte
 * offset plus the string bytes per utf8 value. */
object CodecProbe {
  private val Rounds = 3
  private val MaxFiles = 2

  private object Sink extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  def run(files: Seq[Path], tracer: Tracer): Seq[(String, Double, String)] = {
    val picked = files.sortBy(_.toString).take(MaxFiles)
    val rounds = (1 to Rounds).map(_ => round(picked, tracer))
    def med(f: Round => Double) = Stats.quantile(rounds.map(f), 0.5)
    Seq(
      ("scbf.decode_mb_per_s", med(r => r.raw / 1e6 / (r.decodeNs / 1e9)), "MB/s"),
      ("scbf.encode_mb_per_s", med(r => r.raw / 1e6 / (r.encodeNs / 1e9)), "MB/s"),
      ("scbf.header_meta_ms", med(r => r.headerNs / 1e6 / math.max(1, picked.size)), "ms"),
      ("scbf.compressed_ratio", med(r => r.compressed / r.raw), "ratio"),
      ("trace.self_ms.scbf", med(r => (r.headerNs + r.decodeNs + r.encodeNs) / 1e6), "ms"))
  }

  private final case class Round(raw: Double, compressed: Double, headerNs: Double,
      decodeNs: Double, encodeNs: Double)

  private def round(files: Seq[Path], tracer: Tracer): Round = {
    var raw, compressed, headerNs, decodeNs, encodeNs = 0.0
    files.foreach { f =>
      val in = ScbfReader.open(f.toString)
      try {
        val t0 = System.nanoTime()
        val header = ScbfReader.readHeader(in)
        val metas = ScbfReader.readMeta(in, header, Files.size(f))
        val t1 = System.nanoTime()
        // utf8 stays in the reader's raw layout inside the timed decode
        // (as the connector reads it) and is sliced for the writer after
        val cols: Seq[Either[Utf8Raw, ColumnData]] = metas.map { m =>
          m.tpe match {
            case ScbfType.Int32 => Right(IntColumnData(ScbfReader.readIntColumn(in, m)))
            case ScbfType.Float64 => Right(DoubleColumnData(ScbfReader.readDoubleColumn(in, m)))
            case ScbfType.Utf8 => Left(ScbfReader.readUtf8Column(in, m))
          }
        }
        val t2 = System.nanoTime()
        val data = cols.map {
          case Left(r) => Utf8ColumnData(Array.tabulate(r.count) { i =>
            java.util.Arrays.copyOfRange(r.blob, r.offsets(i), r.offsets(i + 1))
          })
          case Right(c) => c
        }
        val t3 = System.nanoTime()
        ScbfWriter.write(Sink, header.schema, data)
        val t4 = System.nanoTime()
        tracer.codecSpan("scbf.header_meta", t0, t1)
        tracer.codecSpan("scbf.decode", t1, t2)
        tracer.codecSpan("scbf.encode", t3, t4)
        raw += cols.map {
          case Right(IntColumnData(v)) => 4.0 * v.length
          case Right(DoubleColumnData(v)) => 8.0 * v.length
          case Left(r) => 4.0 * r.count + r.blob.length
          case _ => 0.0
        }.sum
        compressed += Files.size(f)
        headerNs += t1 - t0
        decodeNs += t2 - t1
        encodeNs += t4 - t3
      } finally in.close()
    }
    Round(raw, compressed, headerNs, decodeNs, encodeNs)
  }
}
