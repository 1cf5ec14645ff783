package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.colf.{ColfCatalog, ColfCodec, ColfHeaderCache}

/** What one op did: its latency, and under tracing the layer counters
  * attributed to it through its Spark job group.
  */
final class OpRec(val id: String, val kind: String, val root: String, val traced: Boolean,
    val probe: Boolean) {
  var ms = 0.0
  var rows = 0L
  var error: Option[String] = None
  val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
}

/** Runs ops, untraced (timing only) or traced (spans + listener). Both
  * keep each finished query's plan, to read its scan metrics after the
  * op's timer has stopped.
  */
final class Runner(spark: SparkSession, tracing: Boolean) {
  val tracer = new Tracer
  val listener = new StageListener
  val recs = mutable.ArrayBuffer.empty[OpRec]
  private val sc = spark.sparkContext
  spark.listenerManager.register(listener)
  if (tracing) sc.addSparkListener(listener)

  private def snapshot(dirs: Seq[File]): Map[String, Long] =
    dirs.flatMap(Fs.walk).map(f => f.getPath -> f.length).toMap

  def run(op: Op, traced: Boolean, probe: Boolean, dirs: Seq[File]): OpRec = {
    val rec = new OpRec(s"op-${recs.size}", op.kind, op.root, traced, probe)
    recs += rec
    op.before()
    val before = if (traced && op.write.isDefined) snapshot(dirs) else null
    val jobs0 = listener.jobs.size
    val qes0 = listener.qes.size
    val fetches0 = ColfHeaderCache.fetches.get
    var res: AnyRef = null
    var df: org.apache.spark.sql.DataFrame = null
    val t0 = System.nanoTime()
    try {
      if (!traced) {
        op.write.foreach(_())
        op.plan.foreach { p => df = p(); res = op.sink(df) }
      } else {
        sc.setJobGroup(rec.id, op.kind)
        try tracer.span(0, op.root, rec.id) { root =>
          op.write.foreach(w => tracer.span(root, "write." + op.kind, rec.id)(_ => w()))
          op.plan.foreach { p =>
            df = tracer.span(root, "connector.plan", rec.id) { _ =>
              val d = p(); d.queryExecution.executedPlan; d
            }
            res = tracer.span(root, "exec", rec.id)(_ => op.sink(df))
          }
        } finally sc.clearJobGroup()
      }
    } catch { case e: Exception => rec.error = Some(s"${op.kind}: $e") }
    rec.ms = (System.nanoTime() - t0) / 1e6
    PerfbenchBridge.drain(sc)
    if (traced) attribute(rec, op, df, jobs0, qes0, fetches0, before, dirs)
    if (rec.error.isEmpty) {
      rec.error = try op.verify(res) catch { case e: Exception => Some(s"${op.kind} check: $e") }
      rec.rows = op.rows.getOrElse(colfRowsOut(qes0))
      res match {
        case rows: Array[_] => rec.m("returned") = rows.length.toDouble
        case _              =>
      }
    }
    listener.synchronized(listener.qes.clear())
    rec
  }

  /** Rows out of the colf scans of the queries finished since `qes0`. */
  private def colfRowsOut(qes0: Int): Long =
    listener.synchronized(listener.qes.drop(qes0).toVector)
      .flatMap(qe => Plans.scans(qe.executedPlan)).filter(Plans.isColf)
      .map(Plans.metric(_, "numOutputRows")).sum

  /** Listener events and scan metrics of one traced op, as spans and counters. */
  private def attribute(rec: OpRec, op: Op, df: org.apache.spark.sql.DataFrame, jobs0: Int,
      qes0: Int, fetches0: Long, before: Map[String, Long], dirs: Seq[File]): Unit = {
    val m = rec.m
    val mine = tracer.spans.reverseIterator.takeWhile(_.op == rec.id).toVector
    def spanOf(name: String) = mine.find(_.name == name)
    val rootId = mine.find(_.parent == 0).map(_.id).getOrElse(0)
    spanOf("connector.plan").foreach(s => m("plan_ms") = s.dur / 1e6)
    m("header_fetches") = (ColfHeaderCache.fetches.get - fetches0).toDouble
    val jobs = listener.synchronized(listener.jobs.drop(jobs0).filter(_.op == rec.id).toVector)
    val inner = mine.filter(_.parent == rootId)
    val stagesSeen = mutable.Set.empty[Int]
    jobs.foreach { j =>
      val s = tracer.fromEpochMs(j.startMs)
      val parent = inner.find(x => x.start <= s && s <= x.end).map(_.id).getOrElse(rootId)
      val jid = tracer.add(parent, "stage.job", rec.id, s, tracer.fromEpochMs(j.endMs))
      m("jobs") += 1
      j.stages.foreach { sid =>
        listener.stages.get(sid).filter(a => a.tasks > 0 && stagesSeen.add(sid)).foreach { a =>
          tracer.add(jid, "stage.stage", rec.id, tracer.fromEpochMs(a.submitMs), tracer.fromEpochMs(a.doneMs))
          m("tasks") += a.tasks; m("run_ms") += a.runMs; m("cpu_ns") += a.cpuNs; m("gc_ms") += a.gcMs
          m("sched_ms") += a.schedMs; m("shuffle_bytes") += a.shuffleBytes
          m("spill_bytes") += a.spillBytes; m("input_bytes") += a.inputBytes
          m("peak_exec") = math.max(m("peak_exec"), a.peakExec.toDouble)
        }
      }
    }
    // The read's plan: the frame itself when the op also committed (the
    // commit's own plans scan the table too), else every finished query.
    if (op.plan.isDefined && rec.error.isEmpty) {
      val plans = if (op.write.isDefined) Seq(df.queryExecution.executedPlan)
        else listener.synchronized(listener.qes.drop(qes0).map(_.executedPlan).toVector)
      val scans = plans.flatMap(Plans.scans).filter(Plans.isColf)
      m("files_listed") = scans.map(Plans.metric(_, "colfFilesListed")).sum.toDouble
      m("files_planned") = scans.map(Plans.metric(_, "colfFilesPlanned")).sum.toDouble
      m("scan_rows_out") = scans.map(Plans.metric(_, "numOutputRows")).sum.toDouble
    }
    spanOf("write." + op.kind).foreach { w =>
      val inWrite = jobs.filter { j =>
        val s = tracer.fromEpochMs(j.startMs); s >= w.start - 1000000L && s <= w.end
      }
      val ivs = inWrite.map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var busy = 0L; var s0 = Long.MinValue; var e0 = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > e0) { if (e0 > s0) busy += e0 - s0; s0 = a; e0 = b } else e0 = math.max(e0, b)
      }
      if (e0 > s0) busy += e0 - s0
      m("write_ms") = w.dur / 1e6
      m("job_ms") = busy.toDouble
      val lastEnd = if (ivs.isEmpty) w.start else tracer.fromEpochMs(ivs.map(_._2).max)
      m("commit_ms") = math.max(0L, w.end - lastEnd) / 1e6
      val created = snapshot(dirs).filter { case (p, _) => !before.contains(p) }
      val data = created.keys.filter(p => p.endsWith(".colf") && !p.contains("/_") &&
        !new File(p).getName.startsWith("."))
      m("files") = data.size.toDouble
      m("bytes") = created.values.sum.toDouble
      m("dv_files") = created.keys.count(p => p.contains("/_graft_deletes/") &&
        !new File(p).getName.startsWith(".")).toDouble
      m("rows_written") = data.toSeq.map { p =>
        val in = new java.io.FileInputStream(p)
        try ColfCodec.readHeader(in).schema.numRows finally in.close()
      }.sum.toDouble
    }
  }
}

object Main {
  private val Reps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = new File(opts("work")).getAbsoluteFile
    val golden = new File(opts("golden"))
    val out = new File(opts("out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      System.err.println(f"perfbench phase $name at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.catalog.colf", classOf[ColfCatalog].getName)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 10000000L, 1, cores).select(sum(hash(col("id")).cast("long"))).collect()
      (System.nanoTime() - t0) / 1e6
    }

    val root = new File(work, "data")
    def make(name: String): Workload = name match {
      case "scan"     => new ScanWorkload(spark, root, seed, 600000, cores)
      case "ingest"   => new IngestWorkload(spark, root, seed, 60000, 3000, 600, 150)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val w = make(workload)
    val runner = new Runner(spark, tracing)

    // ---- set-up: inputs built several times, the median is reported
    val setupS = (0 until Reps).map { r =>
      val t0 = System.nanoTime(); w.setup(r); (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    w.prepare()
    phase("prepare")
    val warm0 = System.nanoTime()
    warmup(w, runner)
    val warmS = (System.nanoTime() - warm0) / 1e9
    phase("warmup")
    val sentinels = mutable.ArrayBuffer.fill(Reps)(sentinel())
    phase("sentinel")

    // ---- measured loop: whole cycles. A traced run alternates plain and
    // traced cycles and ends on a plain one, so every traced cycle has a
    // plain cycle on both sides to compare with.
    // The size ratios and peak RSS are taken after the first cycle, so
    // they do not depend on how many cycles a run's time allows.
    val loop0 = System.nanoTime()
    val cycles = mutable.ArrayBuffer.empty[Vector[OpRec]]
    def c = cycles.size
    var sizes: (Double, Double) = null
    var rssMb = 0.0
    while ((System.nanoTime() - loop0) / 1e9 < seconds || (tracing && (c < 3 || c % 2 == 0))) {
      val traced = tracing && c % 2 == 1
      cycles += w.cycle(c).map(op => runner.run(op, traced, probe = false, w.tableDirs)).toVector
      if (c == 1) {
        sizes = (w.storedBytes.toDouble / w.userBytes, w.writtenBytes.toDouble / w.submittedBytes)
        rssMb = peakRssMb()
      }
    }
    phase("loop")
    sentinels ++= Seq.fill(Reps)(sentinel())
    val finalErrors = try w.finalCheck() catch { case e: Exception => Seq(s"final check: $e") }
    phase("final check")

    val loop = cycles.flatten.toVector
    val plain = loop.filterNot(_.traced)
    val ms = plain.map(_.ms)
    val busyS = ms.sum / 1e3
    val e2e = Map(
      "setup_s" -> (sessionS + Stats.median(setupS) + warmS),
      "ops_per_s" -> plain.size / busyS,
      "op_p50_ms" -> Stats.median(ms),
      "rows_per_s" -> plain.map(_.rows).sum / busyS,
      "bytes_stored_per_user_byte" -> sizes._1,
      "write_amp" -> sizes._2,
      "peak_rss_mb" -> rssMb)

    val queries = new QueryProbe(spark, new File(root, "probe"), seed, 5000, cores)
    val layers: Map[String, Double] =
      if (!tracing) Map.empty
      else perLayer(spark, w, runner, cycles.toVector, queries, seed, root, golden, sentinels.toSeq, cores)
    phase("metrics")
    if (tracing) runner.tracer.writeJsonl(new File(work, s"trace-$workload.jsonl").toPath)

    val errors = runner.recs.flatMap(_.error) ++ finalErrors
    val attempted = runner.recs.size
    val failed = runner.recs.count(_.error.nonEmpty)
    val json = new StringBuilder
    json.append("{\"correct\":").append(errors.isEmpty)
      .append(",\"attempted\":").append(attempted).append(",\"failed\":").append(failed)
      .append(",\"ops_measured\":").append(plain.size)
      .append(",\"cycles\":").append(c)
      .append(",\"setup_parts_s\":").append(Json.obj(Map("session" -> sessionS, "warmup" -> warmS) ++
        setupS.zipWithIndex.map { case (t, i) => s"rep$i" -> t }))
      .append(",\"op_ms_by_kind\":").append(Json.obj(plain.groupBy(_.kind).map { case (k, rs) =>
        k -> Stats.median(rs.map(_.ms)) }))
      .append(",\"errors\":").append(errors.take(20).map(Json.str).mkString("[", ",", "]"))
      .append(",\"sentinel_ms\":").append(sentinels.map(Json.num).mkString("[", ",", "]"))
      .append(",\"end_to_end\":").append(Json.obj(e2e))
      .append(",\"per_layer\":").append(Json.obj(layers))
      .append(",\"oracle\":").append(
        if (!tracing) "null"
        else s"""{"results":${Json.str(queries.resultsDir.getPath)},"data":${Json.str(queries.dataDir)}}""")
      .append("}")
    java.nio.file.Files.write(out.toPath, json.toString.getBytes("UTF-8"))
    spark.stop()
    phase("stopped")
  }

  /** One untraced op of each kind the workload's cycles have (two
    * cycles: some ops alternate by cycle).
    */
  def warmup(w: Workload, runner: Runner): Unit = {
    val seen = mutable.Set.empty[String]
    (w.cycle(-2) ++ w.cycle(-1)).filter(op => seen.add(op.kind)).foreach(op =>
      runner.run(op, traced = false, probe = true, w.tableDirs))
  }

  /** Per-layer metrics of a traced run. Layers the workload's own loop
    * does not reach (commits on scan, registry queries on both) are
    * measured by small fixed probes run after the loop, so every traced
    * run reports every layer.
    */
  private def perLayer(spark: SparkSession, w: Workload, runner: Runner,
      cycles: Vector[Vector[OpRec]], queries: QueryProbe, seed: Long, root: File, golden: File,
      sentinels: Seq[Double], cores: Int): Map[String, Double] = {
    val loop = cycles.flatten
    // each probe runs once untraced to warm up, then once traced
    if (!w.hasWrites) {
      val p = new IngestWorkload(spark, new File(root, "probe"), seed, 20000, 2000, 200, 50)
      p.setup(0); p.prepare()
      Main.warmup(p, runner)
      p.cycle(0).foreach(op => runner.run(op, traced = true, probe = true, p.tableDirs))
    }
    queries.setup()
    for (c <- 0 to 1) queries.pass(c, keep = c == 1).foreach(op =>
      runner.run(op, traced = c == 1, probe = true, Nil))
    val all = runner.recs.toVector
    val traced = loop.filter(_.traced)
    val out = mutable.LinkedHashMap.empty[String, Double]

    // format
    out ++= FormatProbe.replay(w.colfFiles, 64L << 20, 0.5)
    out ++= FormatProbe.reference(golden, 0.25)

    // connector: the loop's reads
    val reads = traced.filter(_.m.contains("plan_ms"))
    def per(xs: Seq[OpRec], k: String) = if (xs.isEmpty) 0.0 else xs.map(_.m(k)).sum / xs.size
    val listed = reads.map(_.m("files_listed")).sum
    out("connector.plan_ms") = Stats.median(reads.map(_.m("plan_ms")))
    out("connector.files_listed_per_op") = per(reads, "files_listed")
    out("connector.files_planned_per_op") = per(reads, "files_planned")
    out("connector.prune_frac") = if (listed == 0) 0.0 else 1.0 - reads.map(_.m("files_planned")).sum / listed
    out("connector.header_fetches_per_op") = per(reads, "header_fetches")
    out("connector.scan_rows_out_per_op") = per(reads, "scan_rows_out")
    // collected reads only: a noop sink consumes every row it is given
    val collected = reads.filter(_.m.contains("returned"))
    val collectedOut = collected.map(_.m("scan_rows_out")).sum
    out("connector.rows_useful_frac") =
      if (collectedOut == 0) 0.0 else collected.map(_.m("returned")).sum / collectedOut
    out("connector.bytes_read_per_op") = per(reads, "input_bytes")

    // write: the loop's commits, or the commit probe's when the loop makes none
    val commits = all.filter(r => r.traced && r.m.contains("write_ms") && r.probe == !w.hasWrites)
    def p50(kind: String => Boolean) = Stats.median(commits.filter(r => kind(r.kind)).map(_.m("write_ms")))
    out("write.append_ms") = p50(_.startsWith("append"))
    out("write.merge_cow_ms") = p50(_ == "merge_cow")
    out("write.merge_mor_ms") = p50(_ == "merge_mor")
    out("write.delete_ms") = p50(_.startsWith("delete"))
    out("write.compact_ms") = p50(_.startsWith("compact"))
    out("write.job_ms") = Stats.median(commits.map(_.m("job_ms")))
    out("write.commit_ms") = Stats.median(commits.map(_.m("commit_ms")))
    out("write.files_per_commit") = per(commits, "files")
    out("write.bytes_per_commit") = per(commits, "bytes")
    val manifests = (if (w.hasWrites) w.tableDirs else Seq(new File(root, "probe")))
      .flatMap(Fs.walk).filter(_.getPath.contains("/_graft_versions/"))
    out("write.manifest_bytes") = manifests.map(_.length).sum.toDouble
    val cowMerges = commits.filter(_.kind == "merge_cow")
    out("write.rows_rewritten_per_row_changed") =
      cowMerges.map(_.m("rows_written")).sum / math.max(1L, cowMerges.map(_.rows).sum)
    out("write.dv_files") = commits.map(_.m("dv_files")).sum

    // stage: the loop's traced ops as the listener saw them
    val wallMs = traced.map(_.ms).sum
    def tot(k: String) = traced.map(_.m(k)).sum
    val n = math.max(1, traced.size)
    out("stage.jobs_per_op") = tot("jobs") / n
    out("stage.tasks_per_op") = tot("tasks") / n
    out("stage.run_s_per_op") = tot("run_ms") / 1e3 / n
    out("stage.cpu_s_per_op") = tot("cpu_ns") / 1e9 / n
    out("stage.gc_frac") = if (tot("run_ms") == 0) 0.0 else tot("gc_ms") / tot("run_ms")
    out("stage.sched_delay_ms_per_op") = tot("sched_ms") / n
    out("stage.shuffle_mb_per_op") = tot("shuffle_bytes") / 1e6 / n
    out("stage.spill_mb_per_op") = tot("spill_bytes") / 1e6 / n
    out("stage.peak_exec_mb") = traced.map(_.m("peak_exec")).foldLeft(0.0)(math.max) / 1e6
    out("stage.idle_core_frac") = if (wallMs == 0) 0.0 else 1.0 - tot("run_ms") / (wallMs * cores)

    // query: the registry queries of the query probe
    queries.Queries.foreach { q =>
      out(s"query.${q}_ms") = Stats.median(all.filter(r => r.traced && r.kind == q).map(_.ms))
    }

    // self time per layer, per op that reached the layer, over the ops
    // the layer metrics above come from
    val queryOps = all.filter(r => r.traced && r.root.startsWith("query."))
    val used = (traced ++ commits ++ queryOps).map(_.id).toSet
    val byOp = runner.tracer.spans.filter(s => used(s.op)).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(_.op).distinct.size }
    val self = runner.tracer.selfNsByLayer(s => used(s.op))
    Seq("op", "query", "connector", "exec", "write", "stage").foreach { l =>
      out(s"self.${l}_ms_per_op") = self.getOrElse(l, 0L) / 1e6 / math.max(1, byOp.getOrElse(l, 1))
    }

    out("env.cpu_sentinel_ms") = Stats.median(sentinels)
    // Each traced cycle's ops against the same op kinds in the plain
    // cycles on both sides of it, so tables that grow from cycle to cycle
    // do not count as overhead. Kinds missing from either neighbour (the
    // ingest delete and compaction, which alternate tables by cycle) are
    // left out.
    def byKind(rs: Seq[OpRec]) = rs.groupBy(_.kind).map { case (k, xs) => k -> Stats.mean(xs.map(_.ms)) }
    val pairs = for {
      i <- 1 until cycles.size - 1 by 2
      (t, a, b) = (byKind(cycles(i)), byKind(cycles(i - 1)), byKind(cycles(i + 1)))
      k <- t.keys if a.contains(k) && b.contains(k)
    } yield (t(k), (a(k) + b(k)) / 2)
    out("trace_overhead_frac") = pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0
    out.toMap
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case ch if ch < ' ' => sb.append(f"\\u${ch.toInt}%04x")
      case ch   => sb.append(ch)
    }
    sb.append('"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
}
