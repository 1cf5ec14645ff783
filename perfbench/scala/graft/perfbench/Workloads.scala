package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.colf.{ColfMaintenance, ColfVersions}

/** One client operation: an optional commit (`write`), then an optional
  * read whose frame `plan` builds and `sink` consumes. `before` runs
  * untimed first; `verify` inspects the read's result afterwards,
  * untimed. `rows` is the user rows a commit submits; a read without it
  * counts the rows its colf scans delivered (`numOutputRows`).
  */
final class Op(val kind: String, val root: String, val before: () => Unit,
    val write: Option[() => Unit], val plan: Option[() => DataFrame],
    val sink: DataFrame => AnyRef, val verify: AnyRef => Option[String], val rows: Option[Long])

object Op {
  def noop(df: DataFrame): AnyRef = { df.write.format("noop").mode("overwrite").save(); null }
  def collect(df: DataFrame): AnyRef = df.collect()
  def read(kind: String, build: () => DataFrame, sink: DataFrame => AnyRef,
      verify: AnyRef => Option[String]): Op =
    new Op(kind, "op." + kind, () => (), None, Some(build), sink, verify, None)
}

/** A workload: inputs built from the seed, then a fixed cycle of ops
  * repeated by a single closed-loop client. Whole cycles only, so every
  * run has the same op mix.
  */
trait Workload {
  /** Build the inputs into fresh directories; called several times. */
  def setup(rep: Int): Unit
  /** Untimed bookkeeping after the last setup: expected answers, model. */
  def prepare(): Unit = ()
  def cycle(c: Int): Seq[Op]
  /** End-of-run checks; each string is a failure. */
  def finalCheck(): Seq[String]
  /** Live stored bytes and the CSV bytes of the same rows. */
  def storedBytes: Long
  def userBytes: Long
  /** Bytes created under the workload's tables (last setup + run) and
    * CSV bytes submitted for them.
    */
  def writtenBytes: Long
  def submittedBytes: Long
  /** Colf files for the single-thread format replay. */
  def colfFiles: Seq[File]
  def hasWrites: Boolean = false
  /** Table directories whose new files a traced commit counts. */
  def tableDirs: Seq[File] = Nil
}

object Fs {
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil) else Seq(f)
  def bytes(f: File): Long = walk(f).map(_.length).sum
  /** Data files a reader sees: no dot/underscore temp or metadata files. */
  def dataFiles(dir: File): Seq[File] = walk(dir).filter { f =>
    val n = f.getName
    n.endsWith(".colf") && !n.startsWith(".") && !f.getPath.contains("/_")
  }
}

/** The lineitem-shaped table every file of which a scan must open. */
final class ScanWorkload(spark: SparkSession, root: File, seed: Long, rows: Int, cores: Int)
    extends Workload {
  val space = new Gen.LineSpace(seed, rows)
  private def dir(rep: Int) = new File(root, s"scan/rep$rep")
  private var cur: File = _
  private def path = cur.getAbsolutePath
  private var expectedAgg: Map[String, Row] = _
  private var partCounts: Map[Int, Long] = _
  private var expectedChecksum: Row = _
  private val parts = 4 * cores
  private var csv = 0L

  def setup(rep: Int): Unit = {
    if (cur != null) Fs.rm(cur)
    cur = dir(rep)
    // the layout is pinned, one file per generator partition (4 per core);
    // the reader's bin-packing, not the file count, decides how many tasks
    // decode them
    space.frame(spark, parts).write.format("colf").mode("overwrite").save(path)
  }

  private def agg(df: DataFrame): DataFrame =
    df.groupBy("returnflag").agg(sum("quantity"), sum("price"), sum("discount"), count(lit(1)))

  /** Row count and a sum of per-row hashes over every column, in the
    * generator's column order: a lost, duplicated or altered value in any
    * column changes it. The hashes are reduced mod 2^40 so the sum of
    * 600k of them cannot overflow.
    */
  private def checksum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(pmod(xxhash64(space.columns.map(col): _*), lit(1L << 40))))

  /** Expected answers from the generated source: one parallel pass over
    * the generator, and the checksum over the generator's own frame.
    * Neither touches the colf reader or writer.
    */
  override def prepare(): Unit = {
    val sp = space
    val nf = Gen.Flags.length
    val acc = spark.sparkContext.range(0, rows, 1, parts).mapPartitions { it =>
      val sums = Array.ofDim[Double](nf, 3)
      val counts = new Array[Long](nf)
      val perPart = new Array[Long](20001)
      var csvLen = 0L
      it.foreach { i =>
        val l = sp.row(i)
        val f = Gen.Flags.indexOf(l.returnflag)
        sums(f)(0) += l.quantity; sums(f)(1) += l.price; sums(f)(2) += l.discount; counts(f) += 1
        perPart(l.partkey) += 1; csvLen += Gen.csvBytes(l)
      }
      Iterator((sums, counts, perPart, csvLen))
    }.collect()
    def sum3(f: Int, j: Int) = acc.map(_._1(f)(j)).sum
    expectedAgg = Gen.Flags.indices.map { f =>
      Gen.Flags(f) -> Row(Gen.Flags(f), sum3(f, 0), sum3(f, 1), sum3(f, 2), acc.map(_._2(f)).sum)
    }.toMap
    partCounts = (1 to 20000).map(k => k -> acc.map(_._3(k)).sum).toMap
    csv = acc.map(_._4).sum
    expectedChecksum = checksum(space.frame(spark, parts)).head()
  }

  private def table = spark.read.format("colf").load(path)

  def cycle(c: Int): Seq[Op] = {
    val pk = 1 + Gen.uni(seed, c, 100, 20000)
    // the noop sink returns nothing to check; the final checksum covers
    // every column these ops read
    val full = Op.read("full_scan", () => table, Op.noop, _ => None)
    val proj = Op.read("project", () => table.select("price", "comment"), Op.noop, _ => None)
    val ag = Op.read("aggregate", () => agg(table), Op.collect, r => {
      val got = r.asInstanceOf[Array[Row]].map(x => x.getString(0) -> x).toMap
      if (got == expectedAgg) None else Some(s"aggregate: got $got, expected $expectedAgg")
    })
    val filt = Op.read("filter_eq", () => table.where(col("partkey") === pk), Op.collect, r => {
      val n = r.asInstanceOf[Array[Row]].length.toLong
      val want = partCounts.getOrElse(pk, 0L)
      if (n == want) None else Some(s"filter partkey=$pk: got $n rows, expected $want")
    })
    // full scans are four of seven ops, so the median is a full scan's
    Seq(full, ag, full, proj, full, filt, full)
  }

  def finalCheck(): Seq[String] = {
    val r = checksum(table).head()
    if (r == expectedChecksum) Nil else Seq(s"scan table checksum $r != generated $expectedChecksum")
  }

  def storedBytes: Long = Fs.dataFiles(cur).map(_.length).sum
  def userBytes: Long = csv
  def writtenBytes: Long = Fs.bytes(cur)
  def submittedBytes: Long = csv
  def colfFiles: Seq[File] = Fs.dataFiles(cur)
}

/** Writes beside reads on two versioned tables, one copy-on-write and one
  * merge-on-read. Every op is a commit followed by a count/checksum read;
  * a model of each table (live keys and their update version) gives the
  * answer that read must return.
  */
final class IngestWorkload(spark: SparkSession, root: File, seed: Long, rows: Int,
    appendRows: Int, mergeRows: Int, insertRows: Int) extends Workload {
  override def hasWrites: Boolean = true

  final class Model(val tag: String) {
    var ver: Array[Int] = Array.emptyIntArray // -1 = absent
    var next = 0
    var count = 0L; var sumK = 0L; var sumA = 0L
    def put(k: Int, v: Int): Unit = {
      if (k >= ver.length) {
        val n = java.util.Arrays.copyOf(ver, math.max(ver.length * 2, k + 1))
        java.util.Arrays.fill(n, ver.length, n.length, -1)
        ver = n
      }
      if (ver(k) >= 0) delete(k)
      ver(k) = v; count += 1; sumK += k; sumA += Gen.ingA(seed, k, v)
    }
    def delete(k: Int): Unit = if (ver(k) >= 0) {
      count -= 1; sumK -= k; sumA -= Gen.ingA(seed, k, ver(k)); ver(k) = -1
    }
    def live: Iterator[Int] = Iterator.range(0, next).filter(k => ver(k) >= 0)
    def reset(): Unit = {
      ver = Array.fill(rows * 2)(-1); next = 0; count = 0; sumK = 0; sumA = 0
      var k = 0
      while (k < rows) { put(k, 0); k += 1 }
      next = rows
    }
  }

  val cow = new Model("cow")
  val mor = new Model("mor")
  private var cur: File = _
  private def dirOf(m: Model) = new File(cur, m.tag).getAbsolutePath
  private var submitted = 0L

  def setup(rep: Int): Unit = {
    if (cur != null) Fs.rm(cur)
    cur = new File(root, s"ingest/rep$rep")
    import spark.implicits._
    val sd = seed
    for (m <- Seq(cow, mor)) {
      spark.range(0, rows, 1, 4).as[Long].map(k => Gen.ing(sd, k.toInt, 0)).toDF()
        .write.format("colf").option("manifest", "true").mode("overwrite").save(dirOf(m))
    }
    spark.sql(s"ALTER TABLE colf.`${dirOf(mor)}` SET TBLPROPERTIES ('dmlMode' = 'merge-on-read')")
  }

  override def prepare(): Unit = {
    cow.reset(); mor.reset()
    submitted = 2 * (0 until rows).map(k => Gen.csvBytes(Gen.ing(seed, k, 0))).sum
  }

  private def table(m: Model) = spark.read.format("colf").load(dirOf(m))
    .agg(count(lit(1)), sum(col("k").cast("long")), sum(col("a").cast("long")))

  /** A commit on `m`, then the checksum read the model must match.
    * `prep` runs untimed and returns the model update and the CSV bytes
    * submitted; the update applies once the commit has returned.
    */
  private def commit(kind: String, m: Model, rowsIn: Long)(prep: () => (() => Unit, Long))(
      call: () => Unit): Op = {
    var apply: () => Unit = null
    new Op(kind, "op." + kind, () => { val (a, b) = prep(); apply = a; submitted += b },
      Some(call), Some(() => table(m)), Op.collect, r => {
        apply()
        val x = r.asInstanceOf[Array[Row]].head
        val got = (x.getLong(0), x.getLong(1), x.getLong(2))
        val want = (m.count, m.sumK, m.sumA)
        if (got == want) None else Some(s"$kind: (count, sum k, sum a) = $got, expected $want")
      }, Some(rowsIn))
  }

  private def append(m: Model): Op = {
    var batch: DataFrame = null
    commit("append_" + m.tag, m, appendRows) { () =>
      val keys = m.next until m.next + appendRows
      val rowsIn = keys.map(k => Gen.ing(seed, k, 0))
      batch = spark.createDataFrame(rowsIn)
      m.next += appendRows
      (() => keys.foreach(k => m.put(k, 0)), rowsIn.map(r => Gen.csvBytes(r)).sum)
    } { () => batch.write.format("colf").mode("append").save(dirOf(m)) }
  }

  private def merge(m: Model, c: Long): Op = {
    val view = s"src_${m.tag}"
    commit("merge_" + m.tag, m, mergeRows + insertRows) { () =>
      // ~1% updates of distinct live keys, plus fresh inserts
      val upd = Iterator.from(0).map(j => Gen.uni(seed, c * 100000L + j, 300 + m.tag.length, m.next))
        .filter(k => m.ver(k) >= 0).distinct.take(mergeRows).toVector
      val ins = m.next until m.next + insertRows
      m.next += insertRows
      val src = upd.map(k => Gen.ing(seed, k, m.ver(k) + 1)) ++ ins.map(k => Gen.ing(seed, k, 0))
      spark.createDataFrame(src).createOrReplaceTempView(view)
      (() => { upd.foreach(k => m.put(k, m.ver(k) + 1)); ins.foreach(k => m.put(k, 0)) },
        src.map(r => Gen.csvBytes(r)).sum)
    } { () =>
      spark.sql(s"""MERGE INTO colf.`${dirOf(m)}` t USING $view s ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  private def delete(m: Model, c: Long): Op = {
    val g = Gen.uni(seed, c, 400 + m.tag.length, 1000)
    commit("delete_" + m.tag, m, 0L) { () =>
      (() => m.live.toVector.foreach(k => if (Gen.ingG(seed, k, m.ver(k)) == g) m.delete(k)), 0L)
    } { () => spark.sql(s"DELETE FROM colf.`${dirOf(m)}` WHERE g = $g") }
  }

  private def compact(m: Model): Op =
    commit("compact_" + m.tag, m, 0L)(() => (() => (), 0L)) { () => ColfMaintenance.compact(spark, dirOf(m)) }

  /** Fifteen commits, then one compaction: six appends to each table, a
    * MERGE into each, and the delete and the compaction alternating tables
    * by cycle. Appends are three quarters of the ops, so the median is an
    * append's, well inside their cluster.
    */
  def cycle(c: Int): Seq[Op] = {
    val x = if (c % 2 == 0) cow else mor
    Seq(append(cow), append(mor), merge(cow, c), append(cow), append(mor), append(cow),
      append(mor), delete(x, c), append(cow), append(mor), merge(mor, c), append(cow),
      append(mor), append(cow), append(mor), compact(x))
  }

  /** Every row of each table, all columns, against the generator's row
    * for its key at the model's version.
    */
  def finalCheck(): Seq[String] = Seq(cow, mor).flatMap { m =>
    import spark.implicits._
    val got = spark.read.format("colf").load(dirOf(m)).as[Gen.Ing].collect().sortBy(_.k).toSeq
    val want = m.live.map(k => Gen.ing(seed, k, m.ver(k))).toSeq
    if (got == want) None
    else Some(s"${m.tag}: final state differs from the model (${got.size} rows vs ${want.size}; " +
      s"first difference ${got.zipAll(want, null, null).find(p => p._1 != p._2)})")
  }

  /** Live bytes: the latest snapshot's data and delete files. */
  def storedBytes: Long = Seq(cow, mor).map { m =>
    val rootP = new org.apache.hadoop.fs.Path(dirOf(m))
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    ColfVersions.latest(fs, rootP).map(_._2).getOrElse(Nil).map { e =>
      e.size + Option(e.dv).map(d => new File(dirOf(m), d).length).getOrElse(0L)
    }.sum
  }.sum
  def userBytes: Long =
    Seq(cow, mor).map(m => m.live.map(k => Gen.csvBytes(Gen.ing(seed, k, m.ver(k)))).sum).sum
  def writtenBytes: Long = Fs.bytes(cur) // nothing is vacuumed, so this is all bytes created
  def submittedBytes: Long = submitted
  def colfFiles: Seq[File] = Fs.dataFiles(new File(dirOf(cow)))
  override def tableDirs: Seq[File] = Seq(cow, mor).map(m => new File(dirOf(m)))
}

/** Registry queries over TPC-H-shaped parquet generated from the seed:
  * the traced run's probe of the query layer. The queries write no
  * scratch files, and each has oracle SQL that the results are checked
  * against after the run.
  */
final class QueryProbe(spark: SparkSession, root: File, seed: Long, orders: Int, cores: Int) {
  /** Seven queries (odd), so a pass's median falls inside one query's runs. */
  val Queries: Seq[String] = Seq("q1_agg", "q_filter_pushdown", "q_join_broadcast",
    "q_join_large", "q_window", "q_kcore", "q_item_cf")
  val dataDir: String = new File(root, "tpch").getAbsolutePath
  val resultsDir: File = new File(root, "tpch-results")

  def setup(): Unit = Gen.tpch(spark, seed, orders, cores).foreach { case (t, df) =>
    df.write.mode("overwrite").parquet(s"$dataDir/$t.parquet")
  }

  /** One pass over the queries in a seeded order. A pass that keeps its
    * results writes each to parquet, with the query's oracle SQL beside
    * it, for the comparison after the run; otherwise the sink is `noop`.
    */
  def pass(c: Int, keep: Boolean): Seq[Op] = {
    if (keep) {
      Fs.rm(resultsDir)
      resultsDir.mkdirs()
      val json = Queries.map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q))).mkString("{", ",", "}")
      java.nio.file.Files.write(new File(resultsDir, "oracle.json").toPath, json.getBytes("UTF-8"))
    }
    Queries.sortBy(q => Gen.h(seed, c, q.hashCode)).map { q =>
      val sink: DataFrame => AnyRef =
        if (keep) df => { df.write.parquet(new File(resultsDir, q).getAbsolutePath); null } else Op.noop
      new Op(q, "query." + q, () => (), None, Some(() => SparkEntry.queries(q)(spark, dataDir)),
        sink, _ => { spark.sharedState.cacheManager.clearCache(); None }, Some(0L))
    }
  }
}
