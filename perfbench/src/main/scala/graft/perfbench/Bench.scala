package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options: run.py passes its own
 * `--workload --seed --seconds --trace` plus the working directories. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    out: Path,
    small: Boolean,
    wrongAnswer: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      out = Paths.get(need("out")).toAbsolutePath,
      small = kv.get("scale").contains("small"),
      wrongAnswer = kv.get("wrong-answer").contains("1"))
  }
}

/** A wrong answer or a failed call inside an op. */
final class Mismatch(msg: String) extends Exception(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, want $want")
}

/** What a finished op hands back: the rows it returned or wrote, the
 * raw bytes of user data it added or changed, and the untimed check of
 * its answer, which throws [[Mismatch]] on a wrong one. */
final case class Done(rows: Long, userBytes: Long, check: () => Unit)

/** One client operation. `kind` is "read" or "write"; `workLayer` names
 * the layer the executor work inside its Spark jobs belongs to
 * ("sources.scan", "sources.commit" or "operators"); `agg` marks
 * aggregate reads; `variant` tells apart ops of one name that do
 * different work every pass (the column a projection reads). `prepare`
 * runs untimed: it picks the op's parameters and builds its inputs, and
 * returns the timed call. */
final case class Op(
    name: String,
    kind: String,
    workLayer: String,
    agg: Boolean = false,
    variant: String = "")(val prepare: () => (() => Done)) {
  /** What the latency quantiles group by: an op kind that occurs the
   * same number of times in every pass. */
  def key: String = if (variant.isEmpty) name else s"$name:$variant"
  /** Prepares, runs and checks the op, untimed (warm-up and checked
   * passes); throws on a failure or a wrong answer. */
  def runChecked(): Unit = prepare()().check()
}

/** A workload: a fixture built at set-up, then passes of ops. Each pass
 * holds the same multiset of ops; the seed orders them and picks their
 * parameters. */
trait Workload {
  /** Wall time of one pass on a quiet 4-core box; sets the pass count. */
  def nominalPassS: Double
  /** The fewest timed passes a run makes: enough for a median of each
   * op kind over the passes. */
  def minPasses: Int = 3
  /** Build the fixture and warm up; nothing here is timed as an op. */
  def setup(): Unit
  def pass(n: Int): Seq[Op]
  /** Called once after the timed window; may run untimed verification
   * ops, reported as (attempted, failures). */
  def finish(): (Int, Seq[String]) = (0, Nil)
  /** Bytes on disk under the workload's table directories. */
  def storedBytes: Long
  /** Raw encoded bytes of the rows those directories hold. */
  def userBytes: Long
  /** SCBF data files the codec probe may read. */
  def scbfFiles: Seq[Path]
  /** Live data files in the workload's SCBF table (0 when it has none). */
  def liveFiles: Int
  /** Directories the workload's writes go to. */
  def writeDirs: Seq[Path] = Nil
  /** Every file under [[writeDirs]] with its size. */
  def writtenFiles: Map[Path, Long] =
    writeDirs.flatMap(d => Fs.walk(d).map(p => p -> Files.size(p))).toMap
  /** Workload-specific per-layer metrics, given the traced ops. */
  def extraMetrics(traced: Seq[Tracer.OpRecord]): Seq[(String, Double, String)] = Nil
}

object Bench {
  /** The seed of every generated table. Fixed, so that every `--seed`
   * reads the same data; `--seed` orders the ops and picks their
   * parameters and appended rows. */
  val DataSeed = 42L

  /** The box's cores: `SPARK_GRAFT_CPUS`, else the cores the process may use. */
  def boxCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Spark's task slots: half the box, so the client thread, the JIT
   * compilers and the garbage collector run beside the tasks instead of
   * taking turns with them. On a 4-core box, four slots spread the
   * middle half of five `scan` runs' figures 2-3 times as wide as two
   * did. */
  def sparkCpus: Int = math.max(1, boxCpus / 2)

  def session(work: Path): SparkSession = {
    val cpus = sparkCpus.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    val spark = session(args.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl: Workload = args.workload match {
      case "scan" => new ScanWorkload(spark, args)
      case "mutate" => new MutateWorkload(spark, args)
      case "pipeline" => new PipelineWorkload(spark, args)
      case other => sys.error(s"unknown workload $other")
    }
    val setupT0 = System.nanoTime()
    wl.setup()
    // one more untimed pass of exactly the timed ops: the set-up's own
    // pass leaves the JIT still speeding them up by 10-20% a pass
    Log.step("plain warm-up") { wl.pass(Loop.WarmUpPass).foreach(_.runChecked()) }
    val fixtureS = (System.nanoTime() - setupT0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark, spark.sparkContext.defaultParallelism)
    val loop = new Loop(spark, wl, tracer, args)
    val res = loop.run()
    val (finAttempted, finFailures) = wl.finish()

    val out = new Report
    val reads = res.latencies("read")
    val writes = res.latencies("write")
    out.e2e("setup_s", setupS, "s", 1)
    out.e2e("ops_per_s", res.opsPerS, "ops/s", res.completed)
    out.e2e("read_p50_ms", Stats.quantile(reads, 0.5), "ms", reads.size)
    out.e2e("read_p90_ms", Stats.quantile(reads, 0.9), "ms", reads.size)
    out.e2e("write_p50_ms", Stats.quantile(writes, 0.5), "ms", writes.size)
    out.e2e("write_p90_ms", Stats.quantile(writes, 0.9), "ms", writes.size)
    out.e2e("pass_s", Stats.quantile(res.passSeconds, 0.5), "s", res.passSeconds.size)
    out.e2e("bytes_per_user_byte", wl.storedBytes.toDouble / wl.userBytes, "ratio", 1)
    if (args.trace) {
      out.layer("peak_rss_mb", Stats.peakRssMb(), "MB")
      out.layer("sources.commit.log_bytes", wl.writtenFiles.collect {
        case (p, n) if p.toString.contains("/.scbf.discovery/") => n }.sum.toDouble, "bytes")
      tracer.layerMetrics(res, wl).foreach { case (n, v, u) => out.layer(n, v, u) }
      CodecProbe.run(wl.scbfFiles, tracer).foreach { case (n, v, u) => out.layer(n, v, u) }
      wl.extraMetrics(tracer.tracedOps).foreach { case (n, v, u) => out.layer(n, v, u) }
      tracer.writeSpans(args.out.resolveSibling("spans.jsonl"))
    }
    out.info("session_s", sessionS)
    out.info("fixture_s", fixtureS)
    out.info("box_cpus", Bench.boxCpus)
    out.info("cpus", spark.sparkContext.defaultParallelism)
    out.info("heap_max_mb", Runtime.getRuntime.maxMemory / (1 << 20))
    out.info("passes", res.passes.size)
    out.info("passes_measured", res.measured.map(_.n).mkString(" "))
    out.info("pass_steal", res.passes.map(p => f"${p.steal}%.4f").mkString(" "))
    out.write(args.out, args, res.attempted + finAttempted,
      (res.failures ++ finFailures).toSeq)
    spark.stop()
  }
}

/** One pass of the timed window: its ops with their latency keys, the
 * time inside them, and the share of the box's CPU time the hypervisor
 * stole while it ran. */
final case class PassRec(n: Int, traced: Boolean, seconds: Double, steal: Double,
    ops: Seq[(Tracer.OpRecord, String)])

/** What the timed window measured. */
final class LoopResult {
  val passes = ArrayBuffer.empty[PassRec]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  /** The passes the end-to-end figures come from: a traced run's traced
   * passes, an untraced run's planned number of passes of least steal
   * (see [[Loop]]). */
  var measured: Seq[PassRec] = Nil
  def passSeconds: Seq[Double] = measured.map(_.seconds)
  /** The untraced passes of a traced run, for the tracing overhead. */
  var untracedPassSeconds: Seq[Double] = Nil
  def completed: Int = measured.map(_.ops.count(_._1.ok)).sum
  /** Completed ops per second of a median pass: every pass holds the
   * same ops, so one pass slowed by the box does not move it. */
  def opsPerS: Double = completed.toDouble / measured.size / Stats.quantile(passSeconds, 0.5)
  /** One figure per op key of a kind ("read" or "write"): the median of
   * its latencies over the measured passes. A pass holds every key the
   * same number of times, so the quantiles over these figures weigh the
   * same op kinds in every run, and a minority of slow passes moves none
   * of them. */
  def latencies(kind: String): Seq[Double] =
    measured.flatMap(_.ops).collect { case (r, k) if r.kind == kind && r.ok => k -> r.ms }
      .groupBy(_._1).values.map(v => Stats.quantile(v.map(_._2), 0.5)).toSeq
}

/** The closed loop: one client runs ops back to back, in whole passes.
 *
 * An untraced run measures a planned number of passes: `--seconds` over
 * the workload's nominal pass time, rounded, at least the workload's
 * minimum. Other tenants of a shared host take the guest's CPUs away
 * in episodes of a minute or two (hypervisor steal of 20-40% of the
 * box's CPU time, against under 2% otherwise), and a pass inside one
 * runs up to twice as slowly. So the loop reads the steal counter of
 * /proc/stat around each pass, runs further passes while fewer than the
 * planned number ran with at most [[Loop.QuietSteal]] stolen, up to
 * twice the planned number in all, and then measures the planned number
 * of passes of least steal. Which passes count depends only on the host's
 * counter, never on the latencies measured.
 *
 * A traced run makes at least four passes, untraced, traced, traced,
 * untraced and so on, so the tracing overhead is measured on like table
 * states and JIT drift cancels out; it keeps every pass. */
final class Loop(spark: SparkSession, wl: Workload, tracer: Tracer, args: Args) {
  def run(): LoopResult = {
    val res = new LoopResult
    val target = math.max(if (args.trace) 4 else wl.minPasses,
      math.round(args.seconds / wl.nominalPassS).toInt)
    def quiet = res.passes.count(_.steal <= Loop.QuietSteal)
    var n = 0
    while (n < target || (!args.trace && quiet < target && n < 2 * target)) {
      // untraced, traced, traced, untraced, ...: drift cancels out
      val traced = args.trace && (n % 4 == 1 || n % 4 == 2)
      if (traced) tracer.start() else tracer.stop()
      val steal0 = Loop.cpuTicks()
      val ops = wl.pass(n).map { op =>
        val rec = runOp(op, n, traced)
        res.attempted += 1
        rec.error.foreach(e => res.failures += s"${op.name}: $e")
        System.err.println(f"[perfbench] pass $n ${op.name}%-16s ${rec.ms}%9.1f ms${rec.error.fold("")(" " + _)}")
        rec -> op.key
      }
      val steal1 = Loop.cpuTicks()
      val steal = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)
      val s = ops.map { case (r, _) => r.end - r.start }.sum / 1e9
      System.err.println(f"[perfbench] pass $n: $s%.2f s, steal ${steal * 100}%.1f%%")
      res.passes += PassRec(n, traced, s, steal, ops)
      n += 1
    }
    tracer.stop()
    if (args.trace) {
      res.measured = res.passes.filter(_.traced).toSeq
      res.untracedPassSeconds = res.passes.filterNot(_.traced).map(_.seconds).toSeq
    } else
      res.measured = res.passes.sortBy(p => (p.steal, p.n)).take(target).sortBy(_.n).toSeq
    res
  }

  private var opSeq = 0

  private def runOp(op: Op, pass: Int, traced: Boolean): Tracer.OpRecord = {
    opSeq += 1
    val id = opSeq
    val commits = traced && op.kind == "write" && op.workLayer == Tracer.Commit
    val filesBefore = if (commits) wl.writtenFiles else Map.empty[Path, Long]
    var error: Option[String] = None
    var done = Done(0L, 0L, () => ())
    // parameters and inputs are the benchmark's own work: untimed
    val timed = try op.prepare() catch {
      case e: Throwable =>
        error = Some(s"failed: ${firstLine(e)}")
        () => done
    }
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
    Tracer.currentOp = if (traced) id else 0
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    if (error.isEmpty) {
      try done = timed()
      catch { case e: Throwable => error = Some(s"failed: ${firstLine(e)}") }
    }
    val end = System.nanoTime()
    val endMs = System.currentTimeMillis()
    Tracer.currentOp = 0
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
    if (error.isEmpty) {
      try done.check()
      catch { case e: Throwable => error = Some(s"wrong answer: ${firstLine(e)}") }
    }
    val live = if (traced && op.workLayer != Tracer.Operators) wl.liveFiles else 0
    // what the write left on disk: new or changed files, and data
    // files it replaced or removed
    val filesAfter = if (commits) wl.writtenFiles else Map.empty[Path, Long]
    val written = filesAfter.collect { case (p, n) if !filesBefore.get(p).contains(n) => n }.sum
    val removed = filesBefore.keys.count(p => p.toString.endsWith(".scbf") && !filesAfter.contains(p))
    val rec = Tracer.OpRecord(id, pass, op.name, op.kind, op.workLayer, op.agg, traced, start, end, startMs, endMs, error, done.rows,
      done.userBytes, live, removed, written)
    if (traced) tracer.record(rec)
    rec
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("")
}

object Loop {
  /** The most hypervisor steal, as a share of the box's CPU time, that
   * a pass may see and count as quiet. */
  val QuietSteal = 0.03

  /** The number of the untimed pass Bench runs after the workload's
   * set-up; the set-up's own warm-up pass is -1. */
  val WarmUpPass = -2

  /** (steal, total) jiffies of all CPUs, from /proc/stat; (0, 0) where
   * there is none. */
  def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val t = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    }
  }
}

object Log {
  /** Runs a set-up step and logs its wall time to stderr. */
  def step[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    val it = lines.iterator()
    var kb = 0L
    while (it.hasNext) {
      val l = it.next()
      if (l.startsWith("VmHWM:")) kb = l.split("\\s+")(1).toLong
    }
    kb / 1024.0
  }

}

/** Local-filesystem helpers for the benchmark's own directories. */
object Fs {
  def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      finally s.close()
    }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: Path): Long = walk(dir).map(p => Files.size(p)).sum

  /** SCBF data files under a table directory: hidden sidecars and the
   * discovery log's directory excluded. */
  def dataFiles(dir: Path): Seq[Path] = walk(dir).filter { p =>
    p.getFileName.toString.endsWith(".scbf") &&
      dir.relativize(p).iterator().asScala.forall { c =>
        val n = c.toString
        !n.startsWith(".") && !n.startsWith("_")
      }
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** Collects metrics and writes the JSON run.py reads. */
final class Report {
  private val e2eM = ArrayBuffer.empty[(String, Double, String, Int)]
  private val layerM = ArrayBuffer.empty[(String, Double, String)]
  private val infoM = ArrayBuffer.empty[(String, Any)]

  def e2e(name: String, v: Double, unit: String, n: Int): Unit = e2eM += ((name, v, unit, n))
  def layer(name: String, v: Double, unit: String): Unit = layerM += ((name, v, unit))
  def info(name: String, v: Any): Unit = infoM += ((name, v))

  def write(path: Path, args: Args, attempted: Int, failures: Seq[String]): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val sb = new StringBuilder("{")
    sb ++= s""""workload": ${Json.str(args.workload)}, "seed": ${args.seed}, """
    sb ++= s""""attempted": $attempted, "failed": ${failures.size}, """
    sb ++= s""""failures": ${failures.take(20).map(Json.str).mkString("[", ", ", "]")}, """
    sb ++= e2eM.map { case (n, v, u, c) =>
      s"""${Json.str(n)}: {"value": ${num(v)}, "unit": ${Json.str(u)}, "samples": $c}"""
    }.mkString(""""end_to_end": {""", ", ", "}, ")
    sb ++= layerM.map { case (n, v, u) =>
      s"""${Json.str(n)}: {"value": ${num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(""""per_layer": {""", ", ", "}, ")
    sb ++= infoM.map { case (n, v) =>
      val js = v match {
        case d: Double => num(d)
        case x: Int => x.toString
        case x: Long => x.toString
        case x => Json.str(x.toString)
      }
      s"${Json.str(n)}: $js"
    }.mkString(""""info": {""", ", ", "}")
    sb ++= "}"
    Files.writeString(path, sb.toString)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
