package pintbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.{BitPack, Codecs}
import graft.sources.WebDocGen

/** Single-thread kernel rates of the `core` module on one 4096-row block
  * cut from the workload's own rows: each codec forced through
  * `Codecs.encodeStrsAs` / `encodeLongsAs`, plus auto-selection and the
  * bit-packing kernel. MB are raw input bytes (8 per long). */
object CoreProbe {
  val Rows = 4096
  /** time each kernel for this long after warm-up */
  val SecondsPerKernel = 0.25

  /** (metric -> value, round-trip failures) */
  def run(firstRow: Long): (Map[String, Double], Seq[String]) = {
    val docs = (0 until Rows).map(k => WebDocGen.make(firstRow + k))
    val text = docs.map(_.text.getBytes(UTF_8)).toArray
    val html = docs.map(_.html).toArray
    val url = docs.map(_.url.getBytes(UTF_8)).toArray
    val lang = docs.map(_.lang.getBytes(UTF_8)).toArray
    val ts = (0 until Rows).map(k => WebDocGen.tsMicros(firstRow + k)).toArray
    val packed = (0 until Rows).map(k => WebDocGen.mix(firstRow + k) & ((1L << 20) - 1)).toArray
    def bytes(vs: Array[Array[Byte]]): Long = vs.map(_.length.toLong).sum
    val failures = Seq.newBuilder[String]

    /** MB/s of `f` over `mb` raw MB per call */
    def rate(mb: Double)(f: => Any): Double = {
      var k = 0
      while (k < 3) { f; k += 1 }
      val t0 = System.nanoTime()
      var n = 0L
      var el = 0.0
      while (el < SecondsPerKernel) { f; n += 1; el = (System.nanoTime() - t0) / 1e9 }
      mb * n / el
    }

    def strCodec(name: String, id: Int, cols: Seq[Array[Array[Byte]]]): Seq[(String, Double)] = {
      val mb = cols.map(bytes).sum / 1e6
      val blobs = cols.map(Codecs.encodeStrsAs(_, id))
      cols.zip(blobs).foreach { case (c, b) =>
        val back = Codecs.decodeStrs(b)
        if (back.length != c.length || !back.indices.forall(i => java.util.Arrays.equals(back(i), c(i))))
          failures += s"core.$name round trip"
      }
      Seq(s"core.$name.encode_mb_s" -> rate(mb)(cols.foreach(Codecs.encodeStrsAs(_, id))),
        s"core.$name.decode_mb_s" -> rate(mb)(blobs.foreach(Codecs.decodeStrs)))
    }

    val tsMb = ts.length * 8 / 1e6
    val tsBlob = Codecs.encodeLongsAs(ts, Codecs.DeltaId)
    if (!java.util.Arrays.equals(Codecs.decodeLongs(tsBlob), ts)) failures += "core.delta round trip"
    val packedBytes = BitPack.pack(packed, 20)
    if (!java.util.Arrays.equals(BitPack.unpack(packedBytes, 20, Rows), packed))
      failures += "core.bitpack round trip"

    val strCols = Seq(text, html, url, lang)
    val autoBlobs = strCols.map(Codecs.encodeStrs) :+ Codecs.encodeLongs(ts)
    val rawAll = strCols.map(bytes).sum + ts.length * 8L

    val m = strCodec("fsst", Codecs.FsstId, Seq(text, html)) ++
      strCodec("prefix", Codecs.PrefixStr, Seq(url)) ++
      strCodec("dict", Codecs.DictId, Seq(lang)) ++
      Seq("core.delta.encode_mb_s" -> rate(tsMb)(Codecs.encodeLongsAs(ts, Codecs.DeltaId)),
        "core.delta.decode_mb_s" -> rate(tsMb)(Codecs.decodeLongs(tsBlob)),
        "core.bitpack.pack_mb_s" -> rate(tsMb)(BitPack.pack(packed, 20)),
        "core.bitpack.unpack_mb_s" -> rate(tsMb)(BitPack.unpack(packedBytes, 20, Rows)),
        // five blocks (one per column) per call
        "core.autoselect.blocks_per_s" -> 5 * rate(1.0) {
          strCols.foreach(Codecs.encodeStrs); Codecs.encodeLongs(ts)
        },
        "core.block_ratio" -> rawAll.toDouble / autoBlobs.map(_.length.toLong).sum)
    (m.toMap, failures.result())
  }
}
