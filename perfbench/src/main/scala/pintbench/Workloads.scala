package pintbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.EncodePipeline
import graft.sources.{WebDoc, WebDocGen}

/** One workload: a set-up that is repeated to time it, then a closed loop
  * of identical units of work ("iterations") run one at a time. */
abstract class Workload(val h: Harness) {
  /** session start is timed by the caller; this builds inputs and tables */
  def setup(): Unit
  /** untimed preparation after the last set-up: oracles */
  def prepare(): Unit
  /** one unit of work; its latency (ms), or None if any of its ops failed */
  def iteration(i: Long, traced: Boolean): Option[Double]
  /** untimed iterations before the measured loop, so that it does not time
    * the JVM's first passes through the code */
  def warmups: Int = 1
  /** whether the measured loop may stop after `done` iterations; traced
    * runs need a first iteration, then a traced and an untraced one */
  def enough(done: Long): Boolean = done >= (if (h.args.trace) 3 else 1)
  /** iterations the loop runs whatever --seconds says, for a workload whose
    * work must not depend on how many iterations fit */
  def fixedIterations: Option[Long] = None
  /** raw MB/s of each full read of the workload's table */
  val readMbS = mutable.ArrayBuffer.empty[Double]
  /** raw bytes / on-disk bytes of the workload's table (data and metadata) */
  var compressionRatio: Double = Double.NaN
  /** rows the traced run feeds to `EncodePipeline.encode` alone */
  def encodeProbeInput(): DataFrame
  /** closes what `encodeProbeInput` opened */
  def encodeProbeDone(): Unit = ()
  /** traced runs only, after the loop: call once each public entry point
    * the loop does not, on the workload's own table, so every layer metric
    * is measured on every workload */
  def layerProbe(): Unit

  protected def spark = h.spark

  /** one full read of `dir`; its (rows, raw bytes, column hashes) must
    * start with `expect`. Records a read-throughput sample. */
  protected def fullRead(i: Long, traced: Boolean, dir: String, expect: Seq[Long]): Option[Double] = {
    val ms = h.op("full", i, traced)(Oracle.fullRead(Workload.table(h, dir))) { got =>
      if (got.take(expect.length) == expect) None
      else Some(s"full read ${got.mkString(",")} != ${expect.mkString(",")}")
    }
    if (h.recording) ms.foreach(t => readMbS += expect(1) / 1e6 / (t / 1000.0))
    ms
  }

  protected def ratioOf(rawBytes: Long, dir: String): Double =
    rawBytes.toDouble / Files.treeBytes(new java.io.File(dir))

  /** a table build in set-up, traced as a `run` span */
  protected def build(df: DataFrame, dir: String, bloomCols: Seq[String] = Nil): Unit =
    h.tracer.span("run", -1) {
      EncodePipeline.run(df, "url", dir, h.parts, Workload.BlockSize,
        useHostPartitioner = true, bloomCols = bloomCols)
    }

  /** the sources probe: one point hit, one point miss and one range on
    * `model`'s table */
  protected def queryProbe(model: TableModel): Unit = {
    val i = Workload.ProbeIter
    Queries.point(h, model.dir, i, traced = true, model.unmodifiedLiveId(), hit = true)
    Queries.point(h, model.dir, i, traced = true, model.nextId + 1000000L, hit = false)
    Queries.range(h, model, i, traced = true, model.liveIds(h.rng.nextInt(model.liveIds.length)))
  }
}

object Workload {
  val Schema = Encoders.product[WebDoc].schema
  val BlockSize = 4096
  /** op id of the layer probe's spans */
  val ProbeIter = -100L

  def table(h: Harness, dir: String): DataFrame = h.spark.read.format("graft").load(dir)

  def apply(name: String, h: Harness): Option[Workload] = name match {
    case "ingest" => Some(new Ingest(h))
    case "scan"   => Some(new Scan(h))
    case "churn"  => Some(new Churn(h))
    case _        => None
  }
}

/** The live rows of one table, as the harness expects them after each
  * commit, and the churn ops checked against that expectation. */
final class TableModel(h: Harness, val dir: String, firstRow: Long, rows: Long) {
  // live row ids: swap-remove array plus index
  val liveIds = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  private val updated = mutable.HashSet.empty[Long]
  var liveRaw = 0L
  var nextId: Long = firstRow + rows
  private var nextBatch = EncodePipeline.nextBatchId(h.spark, dir)
  private var gen = EncodePipeline.currentGen(h.spark, dir)
  private val rowsAtGen = mutable.LinkedHashMap.empty[Int, Long]
  (firstRow until firstRow + rows).foreach(add)
  rowsAtGen(gen) = rows

  private def add(id: Long): Unit = {
    slot(id) = liveIds.length; liveIds += id; liveRaw += Oracle.rawBytes(id)
  }

  private def remove(id: Long): Unit = {
    val k = slot.remove(id).get
    val last = liveIds.remove(liveIds.length - 1)
    if (last != id) { liveIds(k) = last; slot(last) = k }
    liveRaw -= Oracle.rawBytes(id)
  }

  def isLive(id: Long): Boolean = slot.contains(id)

  private def pickLive(n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) picked += liveIds(h.rng.nextInt(liveIds.length))
    picked.toSeq
  }

  /** a live row that still equals `WebDocGen.make(id)` */
  def unmodifiedLiveId(): Long = {
    var id = liveIds(h.rng.nextInt(liveIds.length))
    while (updated.contains(id)) id = liveIds(h.rng.nextInt(liveIds.length))
    id
  }

  private def commitGen(): Unit = { gen += 1; rowsAtGen(gen) = liveIds.length.toLong }

  private def urls(ids: Seq[Long]) = col("url").isin(ids.map(WebDocGen.url): _*)

  def append(i: Long, traced: Boolean, n: Int): Option[Double] = {
    val first = nextId
    val ms = h.op("commit", i, traced) {
      EncodePipeline.appendCommit(h.docs(first, n), "url", dir, h.parts,
        Workload.BlockSize, batchId = nextBatch)
    }(ok => if (ok) None else Some(s"batch $nextBatch was not committed"))
    (first until first + n).foreach(add)
    nextId += n; nextBatch += 1; commitGen()
    ms
  }

  def delete(i: Long, traced: Boolean, n: Int): Option[Double] = {
    val ids = pickLive(n)
    val ms = h.op("dml", i, traced) {
      EncodePipeline.deleteWhereLazy(h.spark, dir, Workload.Schema, urls(ids))
    }(got => if (got == n) None else Some(s"delete removed $got rows, expected $n"))
    ids.foreach(remove); commitGen()
    ms
  }

  def update(i: Long, traced: Boolean, n: Int): Option[Double] = {
    val ids = pickLive(n)
    val ms = h.op("dml", i, traced) {
      EncodePipeline.updateWhereLazy(h.spark, dir, Workload.Schema, "url", urls(ids),
        Map("lang" -> lit("xx")), h.parts, Workload.BlockSize)
    }(got => if (got == n) None else Some(s"update changed $got rows, expected $n"))
    updated ++= ids; nextBatch += 1; commitGen()
    ms
  }

  /** upsert of `n` rows: half replace live keys, half insert new ones */
  def merge(i: Long, traced: Boolean, n: Int): Option[Double] = {
    val s = h.spark
    import s.implicits._
    val replaced = pickLive(n / 2)
    val inserted = (nextId until nextId + n / 2).toSeq
    val ms = h.op("dml", i, traced) {
      val updates = (replaced ++ inserted).toDS().map(WebDocGen.make(_)).toDF()
      EncodePipeline.mergeByKeyLazy(h.spark, dir, Workload.Schema, "url", updates, h.parts,
        Workload.BlockSize)
    }(r => if (r == ((n / 2).toLong, (n / 2).toLong)) None
      else Some(s"merge replaced/inserted $r, expected ${n / 2} each"))
    updated --= replaced
    inserted.foreach(add); nextId += n / 2; nextBatch += 1; commitGen()
    ms
  }

  /** row count of a seeded earlier generation */
  def timeTravel(i: Long, traced: Boolean): Option[Double] = {
    val gens = rowsAtGen.keys.toIndexedSeq
    val g = gens(h.rng.nextInt(gens.length))
    h.op("time_travel", i, traced) {
      h.spark.read.format("graft").option("gen", g.toString).load(dir).count()
    }(n => if (n == rowsAtGen(g)) None else Some(s"gen $g has $n rows, expected ${rowsAtGen(g)}"))
  }

  /** one churn cycle; the latencies of its ops */
  def cycle(i: Long, traced: Boolean): Seq[Option[Double]] = Seq(
    append(i, traced, Churn.AppendRows),
    delete(i, traced, Churn.DmlRows),
    update(i, traced, Churn.DmlRows),
    merge(i, traced, Churn.DmlRows),
    timeTravel(i, traced))
}

/** `format("graft")` point and range queries, checked against the
  * generator. */
object Queries extends AdaptiveSparkPlanHelper {
  /** rows the scan node produced: the waste a pruned read still decodes */
  private def scannedRows(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum

  /** `url = ?` lookup: a hit must return exactly `WebDocGen.make(id)`, a
    * miss nothing */
  def point(h: Harness, dir: String, i: Long, traced: Boolean, id: Long, hit: Boolean): Option[Double] = {
    val url = WebDocGen.url(id)
    h.op("point", i, traced) {
      val df = Workload.table(h, dir).filter(col("url") === url)
      val got = df.collect()
      if (traced) {
        h.tracer.attr("rows_scanned", scannedRows(df).toDouble)
        h.tracer.attr("rows_returned", got.length.toDouble)
        h.tracer.attr("miss", if (hit) 0.0 else 1.0)
      }
      got
    } { got =>
      if (!hit) { if (got.isEmpty) None else Some(s"miss $id returned ${got.length} rows") }
      else if (got.length != 1) Some(s"hit $id returned ${got.length} rows")
      else {
        val r = got(0)
        val d = WebDocGen.make(id)
        val same = r.getAs[String]("url") == d.url && r.getAs[java.sql.Timestamp]("warc_ts") == d.warc_ts &&
          java.util.Arrays.equals(r.getAs[Array[Byte]]("html"), d.html) &&
          r.getAs[String]("text") == d.text && r.getAs[String]("lang") == d.lang
        if (same) None else Some(s"hit $id returned a different row")
      }
    }
  }

  /** id steps per range: 1 % of the scan table */
  val RangeRows = 600L

  /** `warc_ts` range over `RangeRows` id steps from `first`: must return
    * exactly the urls of the live rows whose `tsMicros` falls inside */
  def range(h: Harness, model: TableModel, i: Long, traced: Boolean, first: Long): Option[Double] = {
    val lo = WebDocGen.BaseMicros + first * WebDocGen.StepMicros
    val hi = lo + RangeRows * WebDocGen.StepMicros
    // jitter is below 50 steps, so only ids within 50 steps of the window qualify
    val expect = ((first - 60) until (first + RangeRows + 60))
      .filter(model.isLive)
      .filter { j => val t = WebDocGen.tsMicros(j); t >= lo && t < hi }
      .map(WebDocGen.url).toSet
    h.op("range", i, traced) {
      val df = Workload.table(h, model.dir).filter(
        col("warc_ts") >= lit(WebDocGen.microsToTimestamp(lo)) &&
          col("warc_ts") < lit(WebDocGen.microsToTimestamp(hi))).select("url")
      val got = df.collect().map(_.getString(0))
      if (traced) {
        h.tracer.attr("rows_scanned", scannedRows(df).toDouble)
        h.tracer.attr("rows_returned", got.length.toDouble)
      }
      got
    } { got =>
      if (got.length == expect.size && got.toSet == expect) None
      else Some(s"range at $first returned ${got.length} rows, expected ${expect.size}")
    }
  }
}

/** Bulk load of a fixed input into a fresh table with `EncodePipeline.run`,
  * then a full read that must return the input's rows and column hashes. */
final class Ingest(h: Harness) extends Workload(h) {
  val rows = 100000L
  private var input: DataFrame = _
  private var oracle: Seq[Long] = Nil
  private var lastDir: Option[String] = None

  def setup(): Unit = {
    input = h.docs(h.rowOffset, rows).persist(StorageLevel.MEMORY_AND_DISK)
    input.count()
  }

  def prepare(): Unit = oracle = Oracle.fullRead(input)

  def iteration(i: Long, traced: Boolean): Option[Double] = {
    lastDir.foreach(d => Files.deleteTree(new java.io.File(d)))
    val dir = h.freshDir(s"ingest/t$i")
    lastDir = Some(dir)
    val ms = h.op("run", i, traced) {
      EncodePipeline.run(input, "url", dir, h.parts, Workload.BlockSize, useHostPartitioner = true)
    }(_ => None)
    val read = if (ms.isEmpty) None else fullRead(i, traced, dir, oracle)
    if (ms.nonEmpty && compressionRatio.isNaN) compressionRatio = ratioOf(oracle(1), dir)
    if (read.isEmpty) None else ms
  }

  def encodeProbeInput(): DataFrame = input

  def layerProbe(): Unit = lastDir.foreach { dir =>
    val model = new TableModel(h, dir, h.rowOffset, rows)
    queryProbe(model)
    model.cycle(Workload.ProbeIter, traced = true)
  }
}

/** Read path on a table that never changes: rounds of a fixed, interleaved
  * mix of all-column full reads, `url = ?` point lookups (4 hits to 1
  * miss) and `warc_ts` range scans at 1 % selectivity, through
  * `format("graft")`. */
final class Scan(h: Harness) extends Workload(h) {
  val rows = 60000L
  val fullPerRound = 1
  val pointsPerRound = 5
  val rangesPerRound = 1
  private var input: DataFrame = _
  private var dir: String = _
  private var oracle: Seq[Long] = Nil
  private var model: TableModel = _

  def setup(): Unit = {
    input = h.docs(h.rowOffset, rows).persist(StorageLevel.MEMORY_AND_DISK)
    input.count()
    dir = h.freshDir("scan/table")
    build(input, dir, bloomCols = Seq("url"))
  }

  def prepare(): Unit = {
    oracle = Oracle.fullRead(input)
    compressionRatio = ratioOf(oracle(1), dir)
    model = new TableModel(h, dir, h.rowOffset, rows)
    if (!h.args.trace) input.unpersist()
  }

  def encodeProbeInput(): DataFrame = input
  override def encodeProbeDone(): Unit = input.unpersist()

  def iteration(i: Long, traced: Boolean): Option[Double] = {
    val rng = h.rng
    val steps: Seq[() => Option[Double]] =
      Seq.fill(fullPerRound)(() => fullRead(i, traced, dir, oracle)) ++
        (0 until pointsPerRound).map { k =>
          // every fifth lookup asks for an id outside the table
          val hit = k % 5 != 4
          val id = h.rowOffset + (if (hit) 0L else rows) + (rng.nextDouble() * rows).toLong
          () => Queries.point(h, dir, i, traced, id, hit)
        } ++
        (0 until rangesPerRound).map { _ =>
          val first = h.rowOffset + (rng.nextDouble() * (rows - Queries.RangeRows)).toLong
          () => Queries.range(h, model, i, traced, first)
        }
    val results = rng.shuffle(steps).map(_())
    if (results.forall(_.nonEmpty)) Some(results.flatten.sum) else None
  }

  def layerProbe(): Unit = model.cycle(Workload.ProbeIter, traced = true)
}

object Churn {
  val AppendRows = 2000
  /** rows each delete and update touches; merges upsert this many rows,
    * half replacing live keys and half inserting new ones */
  val DmlRows = 40
}

/** History-heavy write path on one table: a fixed cycle of a small
  * `appendCommit`, merge-on-read delete, update and merge on seeded keys,
  * and a `option("gen", n)` time-travel read; each op's row count is
  * checked against an in-harness model of the table. */
final class Churn(h: Harness) extends Workload(h) {
  val baseRows = 10000L
  /** a cycle takes 8-16 s on a 4-vCPU host, so a time-bounded loop
    * would do one cycle on a slow host and two on a fast one, and the two
    * sides of an A/B would build different histories. Every run does two
    * cycles instead. Traced runs need a traced and an untraced cycle after
    * the first, and trace a second cycle so commits late in the history can
    * be compared with early ones */
  override def fixedIterations: Option[Long] = Some(if (h.args.trace) 4L else 2L)
  private var dir: String = _
  private var model: TableModel = _

  def setup(): Unit = {
    dir = h.freshDir("churn/table")
    build(h.docs(h.rowOffset, baseRows), dir)
  }

  def prepare(): Unit = model = new TableModel(h, dir, h.rowOffset, baseRows)

  private var probeInput: DataFrame = _
  def encodeProbeInput(): DataFrame = {
    probeInput = h.docs(h.rowOffset, baseRows).persist(StorageLevel.MEMORY_AND_DISK)
    probeInput.count()
    probeInput
  }
  override def encodeProbeDone(): Unit = probeInput.unpersist()

  /** a warm-up cycle would cost as much as a timed one; both timed cycles
    * are checked, and the first, colder one is one of the two samples */
  override def warmups: Int = 0

  /** full reads after each cycle: one read of this small table with its
    * history takes about 1 s, and one per cycle left too few samples */
  val readsPerCycle = 2

  def iteration(i: Long, traced: Boolean): Option[Double] = {
    val lat = model.cycle(i, traced)
    val expect = Seq(model.liveIds.length.toLong, model.liveRaw)
    val reads = (1 to readsPerCycle).map(_ => fullRead(i, traced, dir, expect))
    // measured after the first cycle, which every run completes
    if (i == 0) compressionRatio = ratioOf(model.liveRaw, dir)
    if (lat.forall(_.nonEmpty) && reads.forall(_.nonEmpty)) Some(lat.flatten.sum) else None
  }

  def layerProbe(): Unit = queryProbe(model)
}
