package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

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
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** The benchmark's JVM: runs one workload, writes `result.json` (and, for
  * a traced run, the spans) into the work dir. `perfbench/run.py` starts
  * it, checks query results against the oracle and prints the metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --work DIR --sf DIR --trace-out FILE
  */
object PerfBench {

  /** Sizes of the ETL zones (see README.md for why). */
  val dailySpec = Zone.Spec(accounts = 10, days = 2, adsPerCell = 30, dayDirs = true,
    rejectColumn = "date_stop")
  // Rejects lack ad_name here: a null date_stop survives the CSV round trip
  // as a null DATE, and loadCsv then fails building its row-error sample
  // (see README.md, "Known defect").
  val backfillSpec = Zone.Spec(accounts = 20, days = 20, adsPerCell = 25, dayDirs = false,
    rejectColumn = "ad_name")

  /** Self-test sizes. */
  val tinyDaily = dailySpec.copy(accounts = 3, days = 4, adsPerCell = 6)
  val tinyBackfill = backfillSpec.copy(accounts = 3, days = 4, adsPerCell = 6)

  /** Self-test: the tiny zones, generated twice from one seed. */
  private def generateTwice(seed: Long, work: File): Unit =
    for (copy <- Seq("a", "b"); (kind, spec) <- Seq("daily" -> tinyDaily, "backfill" -> tinyBackfill)) {
      val dir = new File(work, s"$copy/$kind")
      Files.writeString(new File(dir, "expect.json"), Zone.expectJson(Zone.generate(seed, spec, new File(dir, "zone"))))
    }

  /** Short enough for two passes per run, and chosen so their latencies
    * stay ordered run to run: with a near-tie at the middle, `op_p50_s`
    * would flip between two queries.
    */
  val queryPack: Seq[String] = Seq(
    "a1_count", "e1_schema_evolution", "p2_flatten_json", "j1_broadcast_join",
    "lp1_label_propagation")

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val work = new File(opt("work"))
    if (workload == "generate") return generateTwice(seed, work)
    val tiny = opt.get("scale").contains("tiny")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val spark = graft.GraftSession.build("perfbench", cores)
    val wl: Workload = workload match {
      case "etl_daily" => new EtlDaily(spark, work, seed, if (tiny) tinyDaily else dailySpec)
      case "etl_backfill" => new EtlBackfill(spark, work, seed, if (tiny) tinyBackfill else backfillSpec)
      case "query_pack" => new QueryPack(spark, work, seed, opt("sf"), queryPack)
      case w => sys.error(s"unknown workload $w")
    }
    val warmStart = System.nanoTime()
    wl.setup()
    val warmS = (System.nanoTime() - warmStart) / 1e9
    System.err.println(f"[perfbench] setup $warmS%.2f s")
    val readyUs = System.currentTimeMillis() * 1000L

    val plain = new Tracer(spark, on = false)
    // a traced run first measures untraced passes for half the time, so the
    // tracing overhead is the difference of two medians from one process
    val budget = if (traced) seconds / 2 else seconds
    val passes = runPasses(spark, wl, plain, budget, 0)
    val tracedOut =
      if (!traced) None
      else {
        val rec = new JobRecorder
        spark.sparkContext.addSparkListener(rec)
        val t = new Tracer(spark, on = true)
        val outs = runPasses(spark, wl, t, budget, passes.size, Some((rec, t)))
        Some((outs, t, rec))
      }

    def passJson(o: PassOut, isTraced: Boolean) = Json.obj(Seq(
      "pass_s" -> Json.num(o.span.seconds), "records" -> o.records.toString,
      "traced" -> isTraced.toString,
      "latencies" -> Json.arr(o.latencies.map(Json.num)),
      "ops" -> Json.arr(o.ops.map(op => Json.obj(Seq("name" -> Json.str(op.name),
        "s" -> Json.num(op.seconds), "rows" -> op.rows.toString, "ok" -> op.ok.toString,
        "note" -> Json.str(op.note)))))))
    val layerJson = tracedOut.fold("{}") { case (outs, t, _) =>
      val perPass = outs.map(_._2)
      val keys = perPass.flatMap(_.keys).distinct.sorted
      val untracedMed = median(passes.map(_._1.span.seconds))
      val tracedMed = median(outs.map(_._1.span.seconds))
      Json.obj(keys.map(k => k -> Json.num(perPass.map(_.getOrElse(k, 0.0)).sum / perPass.size)) :+
        ("trace.overhead_s" -> Json.num(tracedMed - untracedMed)))
    }
    tracedOut.foreach { case (_, t, rec) => writeTrace(new File(opt("trace-out")), workload, seed, t, rec, spark) }
    val all = passes.map(p => passJson(p._1, false)) ++
      tracedOut.toSeq.flatMap(_._1.map(p => passJson(p._1, true)))
    Files.writeString(new File(work, "result.json"), Json.obj(Seq(
      "workload" -> Json.str(workload), "ready_us" -> readyUs.toString,
      "warmup_s" -> Json.num(warmS), "cores" -> cores.toString,
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "passes" -> Json.arr(all), "layers" -> layerJson)))
    spark.stop()
    System.err.println("[perfbench] stopped")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Closed loop, one caller: passes back to back while at least half of
    * the next one is expected to fit in the budget (at least one). Checks
    * and cleanup run between passes, outside the timed region.
    */
  private def runPasses(
      spark: SparkSession, wl: Workload, t: Tracer, budgetS: Double, from: Int,
      rec: Option[(JobRecorder, Tracer)] = None): Seq[(PassOut, Map[String, Double])] = {
    val out = collection.mutable.ArrayBuffer.empty[(PassOut, Map[String, Double])]
    var used = 0.0
    while (out.isEmpty || used + median(out.map(_._1.span.seconds).toSeq) / 2 <= budgetS) {
      val p = from + out.size
      System.gc()
      val gc0 = gcMillis()
      val o = wl.pass(p, t)
      val gcS = (gcMillis() - gc0) / 1e3
      used += o.span.seconds
      val c0 = System.nanoTime()
      wl.check(p, o)
      System.err.println(f"[perfbench] pass $p: ${o.span.seconds}%.2f s, check ${(System.nanoTime() - c0) / 1e9}%.2f s")
      val layers = rec.fold(Map.empty[String, Double]) { case (r, tr) =>
        val jobs = r.under(spark, tr, o.span.id)
        sparkLayers(spark, o, jobs, tr, gcS) ++ wl.layerMetrics(p, o, tr)
      }
      wl.cleanup(p)
      graft.queries.TextQueries.clearCaches()
      spark.catalog.clearCache()
      out += o -> layers
    }
    out.toSeq
  }

  /** Per-layer metrics derived from a traced pass's jobs. */
  private def sparkLayers(spark: SparkSession, o: PassOut, jobs: Seq[JobRec], t: Tracer, gcS: Double): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    val layered = jobs.map(j => j -> Layers.layerOf(j, t))
    def jobS(p: ((JobRec, String)) => Boolean) = layered.filter(p).map(_._1.seconds).sum
    def inCall(j: JobRec, names: Set[String]) =
      t.chain(j.span).exists(s => s.kind == "call" && names(s.name))
    def inPhase(j: JobRec, name: String) = t.chain(j.span).exists(s => s.kind == "phase" && s.name == name)
    val pipeline = Set("Pipelines.dailySync", "Pipelines.backfill")
    val source = jobs.filter(j => inCall(j, pipeline) && j.recordsRead > 0)
    val records = o.records.toDouble
    val stages = jobs.map(_.stages).sum
    val taskS = jobs.map(_.taskMs).sum / 1e3
    val wall = o.span.seconds
    // driver time: pass wall time not covered by any running job
    val intervals = jobs.map(j => (j.start, j.end)).sortBy(_._1)
    val covered = intervals.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
    }._1 / 1e3
    val totalJobS = jobS(_ => true)
    Map(
      "ads.source.jobs" -> source.size.toDouble,
      "ads.source.records_scanned" -> source.map(_.recordsRead).sum.toDouble,
      "ads.source.read_amplification" -> source.map(_.recordsRead).sum / records,
      "ads.ops.collect_s" -> jobS(_._2 == "ads.ops"),
      "ads.ops.shuffle_bytes" -> jobs.filter(inCall(_, pipeline)).map(_.shuffleWrite).sum.toDouble,
      "ads.sinks.audit_s" -> jobS { case (j, l) => l == "ads.sinks" && j.callSite.startsWith("csv at") },
      "ads.sinks.append_s" -> jobS { case (j, l) => l == "ads.sinks" && !j.callSite.startsWith("csv at") },
      "ads.sinks.bytes_written" -> layered.filter(_._2 == "ads.sinks").map(_._1.bytesWritten).sum.toDouble,
      "ads.schema_evolution.s" -> jobS(_._2 == "ads.schema_evolution"),
      "ads.monitoring.s" -> t.spans.filter(s => s.kind == "call" && s.layer == "ads.monitoring" &&
        t.chain(s.id).exists(_.id == o.span.id)).map(_.seconds).sum,
      "ads.pipelines.csv_infer_s" -> jobS { case (j, _) =>
        inCall(j, Set("Pipelines.loadCsv")) && j.callSite.startsWith("csv at Pipelines.scala") },
      "queries.build_jobs" -> jobs.count(inPhase(_, "build")).toDouble,
      "queries.exec_jobs" -> jobs.count(inPhase(_, "exec")).toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.tasks_per_stage" -> (if (stages == 0) 0.0 else jobs.map(_.tasks).sum.toDouble / stages),
      "spark.task_s" -> taskS,
      "spark.cores_busy" -> taskS / (wall * cores),
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "spark.gc_s" -> gcS,
      "spark.driver_s" -> (wall - covered),
      "trace.unattributed_frac" ->
        (if (totalJobS == 0) 0.0 else jobS(_._2 == "unattributed") / totalJobS))
  }

  /** Spans and jobs of the traced passes, written when the run ends. */
  private def writeTrace(f: File, workload: String, seed: Long, t: Tracer, rec: JobRecorder,
      spark: SparkSession): Unit = {
    val passes = t.spans.filter(_.kind == "pass")
    val jobs = passes.flatMap(p => rec.under(spark, t, p.id))
    val spans = t.spans.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "start_us" -> s.start.toString, "end_us" -> s.end.toString)))
    val jobJson = jobs.map(j => Json.obj(Seq("job" -> j.id.toString, "span" -> j.span.toString,
      "layer" -> Json.str(Layers.layerOf(j, t)), "call_site" -> Json.str(j.callSite),
      "start_ms" -> j.start.toString, "end_ms" -> j.end.toString, "stages" -> j.stages.toString,
      "tasks" -> j.tasks.toString, "task_ms" -> j.taskMs.toString,
      "records_read" -> j.recordsRead.toString, "shuffle_write" -> j.shuffleWrite.toString,
      "shuffle_read" -> j.shuffleRead.toString, "spill" -> j.spill.toString,
      "bytes_written" -> j.bytesWritten.toString)))
    Files.writeString(f, Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "layer_of_file" -> Json.obj(Layers.byFile.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "spans" -> Json.arr(spans.toSeq), "jobs" -> Json.arr(jobJson.toSeq))) + "\n")
  }
}
