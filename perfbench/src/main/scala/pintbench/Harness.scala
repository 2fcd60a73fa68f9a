package pintbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.WebDocGen

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      workDir: String)

/** Shared state of one run: the host-sized session, the tracer, the op
  * samples and the failure count. One client (the driver thread) issues
  * one op at a time. */
final class Harness(val args: Args) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  /** table partitions and shuffle partitions, both derived from nproc */
  val parts: Int = 2 * nproc
  val rng = new scala.util.Random(args.seed ^ 0x5DEECE66DL)
  /** the seed picks the row-id window; ids keep ten digits for every seed,
    * so row sizes do not depend on the seed */
  val rowOffset: Long = 1000000000L + java.lang.Math.floorMod(args.seed, 1000000L) * 1000L

  private var session: SparkSession = _
  def spark: SparkSession = session
  var tracer: Tracer = _

  /** false during warm-up: ops are checked and counted, not sampled */
  var recording = true
  /** latencies (ms) of successful ops, by kind */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** (re)start the session: local[nproc], one JVM */
  def startSession(): Unit = {
    if (session != null) {
      session.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"pintbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.default.parallelism", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${args.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.workDir}/warehouse")
    if (args.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    session = b.getOrCreate()
    session.sparkContext.setLogLevel("WARN")
  }

  def stop(): Unit = if (session != null) session.stop()

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** run one op: time it, check its answer, and record a latency sample
    * only when it succeeded with the right answer. Returns the latency (ms)
    * or None for a failed op. */
  def op[T](kind: String, iter: Long, traced: Boolean)(body: => T)(check: T => Option[String]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(kind, iter, traced)(body))
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val problem = res match {
      case Left(err) => Some(s"error: $err")
      case Right(v)  => try check(v) catch { case e: Exception => Some(s"check error: $e") }
    }
    problem match {
      case Some(why) =>
        failed += 1
        if (failures.size < 20) failures += s"$kind #$iter: $why"
        None
      case None =>
        if (recording) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        Some(ms)
    }
  }

  def p50(kind: String): Double = Stats.median(samples.getOrElse(kind, Nil).toSeq)

  def freshDir(name: String): String = {
    val d = new java.io.File(args.workDir, name)
    Files.deleteTree(d)
    d.getPath
  }

  /** the generated input rows [from, from + n) as a DataFrame */
  def docs(from: Long, n: Long): DataFrame = {
    val s = spark
    import s.implicits._
    spark.range(from, from + n, 1, parts).map(i => WebDocGen.make(i)).toDF()
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** bytes on disk of every regular file under `dir` (data and metadata) */
  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
}

/** Generator-side oracles: the raw size of a row and aggregate checks. */
object Oracle {
  /** raw bytes of one row: UTF-8 strings, html bytes, 8 for the timestamp */
  val rawBytesCol = octet_length(col("url")) + lit(8L) + octet_length(col("html")) +
    octet_length(col("text")) + octet_length(col("lang"))

  /** row count, raw bytes and an order-independent hash per column: the
    * sum of the low 32 bits of each value's xxhash64 */
  val fullAggs = count(lit(1)).as("rows") +: sum(rawBytesCol).as("raw") +:
    Seq("url", "warc_ts", "html", "text", "lang").map(c =>
      sum(xxhash64(col(c)).bitwiseAND(lit(0xffffffffL))).as(s"h_$c"))

  def fullRead(df: DataFrame): Seq[Long] = {
    val r = df.agg(fullAggs.head, fullAggs.tail: _*).head()
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  def rawBytes(i: Long): Long = {
    val d = WebDocGen.make(i)
    d.url.getBytes("UTF-8").length + 8L + d.html.length +
      d.text.getBytes("UTF-8").length + d.lang.getBytes("UTF-8").length
  }
}
