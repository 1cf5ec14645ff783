package graft.perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.file.Files

import scala.collection.mutable

import graft.sources.colf.{ColfCodec, ColfField, ColfHeader, ColfType}
import graft.sources.colf.ColfCodec._

/** Format layer measured from outside: files replayed on one thread
  * through the codec's public calls, with no Spark in the loop.
  */
object FormatProbe {
  private def now = System.nanoTime()

  private def block(bytes: Array[Byte], h: ColfHeader, i: Int): Array[Byte] = {
    val m = h.metas(i)
    java.util.Arrays.copyOfRange(bytes, m.offset.toInt, (m.offset + m.compSize).toInt)
  }

  private def decode(bytes: Array[Byte], h: ColfHeader, i: Int): DecodedColumn = {
    val m = h.metas(i)
    val f = h.schema.fields(i)
    val rows = h.schema.numRows.toInt
    if (m.compSize == 0) allNullColumn(f.tpe, rows)
    else decodeColumn(decompress(block(bytes, h, i), m.uncompSize.toInt), f.tpe, rows, m.hasNulls)
  }

  private def builder(d: DecodedColumn): ColumnBuilder = {
    val b = builderFor(d.tpe)
    var r = 0
    while (r < d.numRows) {
      if (d.isNullAt(r)) b.appendNull()
      else b match {
        case x: IntColumnBuilder    => x.append(d.ints(r))
        case x: DoubleColumnBuilder => x.append(d.doubles(r))
        case x: StringColumnBuilder => x.append(d.strBlob, d.strStarts(r), d.strEnds(r) - d.strStarts(r))
      }
      r += 1
    }
    b
  }

  /** Replays `files` (capped at `maxBytes` of file per pass) until
    * `minSeconds` have been spent, and returns throughput per step in
    * uncompressed MB/s, the header parse time, and the compressed /
    * uncompressed size per column type.
    */
  def replay(files: Seq[File], maxBytes: Long, minSeconds: Double): Map[String, Double] = {
    var taken = 0L
    val pick = files.sortBy(_.getName).takeWhile { f => taken += f.length; taken - f.length < maxBytes }
    val data = pick.map(f => Files.readAllBytes(f.toPath))
    var inflNs, decNs, encNs, defNs = 0L
    var uncompBytes = 0L
    val headerNs = mutable.ArrayBuffer.empty[Long]
    val comp = mutable.Map.empty[ColfType, Long].withDefaultValue(0L)
    val uncomp = mutable.Map.empty[ColfType, Long].withDefaultValue(0L)
    val t0 = now
    var pass = 0
    while (pass == 0 || (now - t0) < minSeconds * 1e9) {
      data.foreach { bytes =>
        val a = now
        val h = readHeader(new ByteArrayInputStream(bytes))
        headerNs += now - a
        val rows = h.schema.numRows.toInt
        h.schema.fields.indices.foreach { i =>
          val m = h.metas(i)
          val tpe = h.schema.fields(i).tpe
          if (m.compSize > 0) {
            val blk = block(bytes, h, i)
            val b = now
            val payload = decompress(blk, m.uncompSize.toInt)
            val c = now
            val col = decodeColumn(payload, tpe, rows, m.hasNulls)
            val d = now
            val p = builder(col).payload()
            val e = now
            ColfCodec.compress(p)
            val f = now
            inflNs += c - b; decNs += d - c; encNs += e - d; defNs += f - e
            uncompBytes += m.uncompSize
            if (pass == 0) { comp(tpe) += m.compSize; uncomp(tpe) += m.uncompSize }
          }
        }
      }
      pass += 1
    }
    def mbps(ns: Long) = if (ns == 0) 0.0 else uncompBytes / 1e6 / (ns / 1e9)
    def ratio(t: ColfType) = if (uncomp(t) == 0) 0.0 else comp(t).toDouble / uncomp(t)
    Map(
      "format.inflate_mb_per_s" -> mbps(inflNs), "format.decode_mb_per_s" -> mbps(decNs),
      "format.encode_mb_per_s" -> mbps(encNs), "format.deflate_mb_per_s" -> mbps(defNs),
      "format.header_parse_us" -> Stats.median(headerNs.map(_ / 1e3).toSeq),
      "format.ratio_int32" -> ratio(ColfType.Int32), "format.ratio_float64" -> ratio(ColfType.Float64),
      "format.ratio_utf8" -> ratio(ColfType.Utf8))
  }

  /** The reference's in-process measurements on one file: full read,
    * single-column reads of `name` (utf8) and `id` (int32), and a full
    * write of the decoded columns, each the median of repeats in ms.
    */
  def reference(file: File, minSeconds: Double): Map[String, Double] = {
    val bytes = Files.readAllBytes(file.toPath)
    def h = readHeader(new ByteArrayInputStream(bytes))
    def idx(name: String) = h.schema.fields.indexWhere(_.name == name)
    val readAll = () => { val hh = h; hh.schema.fields.indices.map(i => decode(bytes, hh, i)) }
    val nameI = idx("name"); val idI = idx("id")
    require(nameI >= 0 && idI >= 0, s"${file.getName} lacks the reference's name/id columns")
    val cols = readAll()
    val fields: IndexedSeq[ColfField] = h.schema.fields.toIndexedSeq
    val write = () => {
      val out = new ByteArrayOutputStream(bytes.length)
      writeFile(out, fields, cols.map(builder))
      out.size()
    }
    def med(f: () => Any): Double = {
      val ts = mutable.ArrayBuffer.empty[Double]
      val t0 = now
      while (ts.size < 5 || (now - t0) < minSeconds * 1e9) {
        val a = now; f(); ts += (now - a) / 1e6
      }
      Stats.median(ts.toSeq)
    }
    Map("format.ref_read_all_ms" -> med(readAll),
      "format.ref_read_name_ms" -> med(() => { val hh = h; decode(bytes, hh, nameI) }),
      "format.ref_read_id_ms" -> med(() => { val hh = h; decode(bytes, hh, idI) }),
      "format.ref_write_ms" -> med(write))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
