package pintbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileRange, FileStatus, FileSystem,
  LocatedFileStatus, Path, PositionedReadable, RemoteIterator, Seekable, StreamCapabilities}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Local file system that counts the listings, file opens and bytes read
  * made through it, and otherwise behaves exactly as Hadoop's default
  * `file:` system. A traced session installs it with
  * `spark.hadoop.fs.file.impl`; the counters are process-wide because
  * driver and executors share one JVM in local mode. Bytes are counted on
  * the opened streams because Hadoop's `FileSystem` statistics miss the
  * vectored reads parquet makes on local files. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = {
    listings.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    listings.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    listings.incrementAndGet(); super.listStatusIterator(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    new FSDataInputStream(new CountingStream(super.open(f, bufferSize)))
  }
}

object CountingLocalFileSystem {
  val listings = new AtomicLong
  val opens = new AtomicLong
  val bytesRead = new AtomicLong
}

/** Delegates every read of `in` and adds the bytes it returns to
  * [[CountingLocalFileSystem.bytesRead]]. Like the local checksum stream
  * it wraps, it offers no byte-buffer reads, so readers take the same
  * code path as without it. */
final class CountingStream(in: FSDataInputStream) extends java.io.InputStream
    with Seekable with PositionedReadable with StreamCapabilities {
  import CountingLocalFileSystem.bytesRead
  private def counted(n: Int): Int = { if (n > 0) bytesRead.addAndGet(n); n }
  override def read(): Int = { val b = in.read(); if (b >= 0) bytesRead.incrementAndGet(); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = counted(in.read(b, off, len))
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    counted(in.read(position, b, off, len))
  override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(position, b, off, len); bytesRead.addAndGet(len)
  }
  override def readFully(position: Long, b: Array[Byte]): Unit = readFully(position, b, 0, b.length)
  override def minSeekForVectorReads(): Int = in.minSeekForVectorReads()
  override def maxReadSizeForVectorReads(): Int = in.maxReadSizeForVectorReads()
  override def readVectored(ranges: java.util.List[_ <: FileRange],
                            allocate: java.util.function.IntFunction[java.nio.ByteBuffer]): Unit = {
    ranges.forEach(r => bytesRead.addAndGet(r.getLength))
    in.readVectored(ranges, allocate)
  }
  override def hasCapability(capability: String): Boolean = in.hasCapability(capability)
}

/** I/O counters read around each traced call: listings, opens and bytes
  * read through the counting delegate, and the bytes Hadoop's `file:`
  * statistics saw. */
final case class IoCounts(bytesRead: Long, listings: Long, opens: Long, statsBytesRead: Long) {
  def -(o: IoCounts): IoCounts = IoCounts(bytesRead - o.bytesRead, listings - o.listings,
    opens - o.opens, statsBytesRead - o.statsBytesRead)
}

object IoCounts {
  def now(): IoCounts = {
    val stats = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    IoCounts(CountingLocalFileSystem.bytesRead.get, CountingLocalFileSystem.listings.get,
      CountingLocalFileSystem.opens.get, stats)
  }
}

/** One benchmark span: a call into a public entry point of the library.
  * `op` is the workload iteration the call belongs to. Spark jobs started
  * while the span is open become its children. */
final class Span(val id: Long, val name: String, val parent: Long, val op: Long,
                 val startMs: Double) {
  var endMs: Double = startMs
  var io: IoCounts = IoCounts(0, 0, 0, 0)
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def durMs: Double = endMs - startMs
}

/** A Spark job seen by the listener, with the span that caused it. */
final class JobRec(val id: Int, val span: Long, val startMs: Double) {
  var endMs: Double = startMs
}

/** Per-task totals, kept for the whole measured phase and per span. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Attaches Spark jobs and their tasks to the benchmark span named by the
  * job's `SpanProperty` local property. */
final class SpanListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val perSpan = new ConcurrentHashMap[Long, TaskTotals]()
  @volatile var total = new TaskTotals
  val jobCount = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time.toDouble))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    jobCount.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    total.add(e.taskMetrics)
    val span = stageSpan.getOrDefault(e.stageId, -1L)
    if (span >= 0) perSpan.computeIfAbsent(span, _ => new TaskTotals).add(e.taskMetrics)
  }
}

/** Span recorder for the traced run. Spans live in memory and are written
  * as JSON when the run ends. A disabled tracer only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  /** wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same axis as the listener's job times */
  def nowMs(): Double = t0EpochMs + (System.nanoTime() - t0Nanos) / 1e6

  /** run `body` as span `name` of iteration `op`; when `on` is false the
    * body runs untraced */
  def span[T](name: String, op: Long, on: Boolean = true)(body: => T): T =
    if (!enabled || !on) body
    else {
      val sc = spark.sparkContext
      val parent = open.headOption.map(_.id).getOrElse(0L)
      val s = new Span(nextId.getAndIncrement(), name, parent, op, nowMs())
      val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
      val io0 = IoCounts.now()
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(Tracer.SpanProperty, prevProp)
        open = open.tail
        s.endMs = nowMs()
        s.io = IoCounts.now() - io0
        spans += s
      }
    }

  /** attach a measured value to the innermost open span */
  def attr(key: String, v: Double): Unit = open.headOption.foreach(_.attrs(key) = v)

  /** wait until the listener has seen every event so far */
  def drain(): Unit = if (enabled) org.apache.spark.pintbenchshim.ListenerDrain(spark.sparkContext)

  def jobsOf(s: Span): Seq[JobRec] =
    listener.toSeq.flatMap(_.jobs.values().asScala.filter(_.span == s.id))

  def tasksOf(s: Span): TaskTotals =
    listener.flatMap(l => Option(l.perSpan.get(s.id))).getOrElse(new TaskTotals)

  /** driver self time: the span's duration minus the part its jobs cover */
  def selfMs(s: Span): Double = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    math.max(0.0, s.durMs - covered)
  }

  /** the span tree with child jobs, as one JSON document */
  def toJson: String = {
    val sb = new StringBuilder
    sb.append("{\"spans\":[")
    spans.sortBy(_.startMs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val t = tasksOf(s)
      val fields = Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "op" -> Json.num(s.op), "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "self_ms" -> Json.num(selfMs(s)), "fs_bytes_read" -> Json.num(s.io.bytesRead),
        "fs_list_calls" -> Json.num(s.io.listings), "fs_opens" -> Json.num(s.io.opens),
        "hadoop_stats_bytes_read" -> Json.num(s.io.statsBytesRead),
        "tasks" -> Json.num(t.tasks),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "jobs" -> Json.arr(jobsOf(s).sortBy(_.id).map(j => Json.obj(Seq(
          "id" -> Json.num(j.id), "start_ms" -> Json.num(j.startMs),
          "end_ms" -> Json.num(j.endMs))))))
      sb.append(Json.obj(fields))
    }
    sb.append("]}")
    sb.toString
  }
}

object Tracer {
  val SpanProperty = "pintbench.span"
}
