package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ads.{AdSchema, JobResult, Monitoring, Pipelines, Sinks}

/** One timed operation. `ok` turns false when it throws or its output
  * fails a check.
  */
final case class Op(name: String, seconds: Double, rows: Long, var ok: Boolean, var note: String = "") {
  def fail(why: String): Unit = { ok = false; note = (if (note.isEmpty) why else s"$note; $why") }
}

/** One timed pass. `latencies` are the per-operation samples. */
final case class PassOut(span: Span, ops: Seq[Op], records: Long, latencies: Seq[Double])

trait Workload {
  /** Inputs and warm-up; runs before timing starts. */
  def setup(): Unit
  def pass(p: Int, t: Tracer): PassOut
  /** Untimed correctness checks of pass `p`; marks failed operations. */
  def check(p: Int, out: PassOut): Unit
  /** Layer metrics this workload measures itself, for a traced pass. */
  def layerMetrics(p: Int, out: PassOut, t: Tracer): Map[String, Double]
  def cleanup(p: Int): Unit
}

object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Data files (not checksums or markers) under `dir`. */
  def dataFiles(dir: File): Int =
    walk(dir).count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))

  def writeString(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, s): Unit
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}

/** Checks a table's rows against a generated zone's expectation. */
object TableCheck {
  private val videoFlat = Seq("video_2sec_views", "video_30sec_views", "video_avg_watch_time",
    "video_p25_views", "video_p50_views", "video_p75_views", "video_p100_views")
  val static: Set[String] = AdSchema.staticFlatCols.map(_.name).toSet + "p_date"

  def actionColumns(cols: Seq[String]): Set[String] = cols.filterNot(static).toSet

  private def num(v: Any): Double = v match {
    case null => 0.0
    case n: java.lang.Number => n.doubleValue
    case s => s.toString.toDouble
  }

  /** (rows, order-insensitive digest) of a table; see [[Zone.rowDigest]]. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toSeq
    val idx = cols.zipWithIndex.toMap
    val actions = actionColumns(cols).toSeq.sorted
    var n, sum = 0L
    df.toLocalIterator().asScala.foreach { r: Row =>
      def s(c: String) = String.valueOf(r.get(idx(c)))
      def l(c: String) = math.round(num(r.get(idx(c))))
      sum += Zone.rowDigest(
        Seq(s("campaign_name"), s("ad_name"), s("publisher_platform"), s("date_start"), s("date_stop")),
        Seq(l("impressions"), l("clicks")),
        num(r.get(idx("spend"))),
        videoFlat.map(c => if (c == "video_avg_watch_time") math.round(num(r.get(idx(c))) * 10) else l(c)),
        actions.map(c => c -> l(c)))
      n += 1
    }
    (n, sum)
  }
}

object EtlParse {
  private val Rejected = """rejected (\d+) rows""".r.unanchored
  private val FailedAccounts = """\(failed accounts: ([^)]*)\)""".r.unanchored

  def rejected(r: JobResult): Long = r.message match {
    case Rejected(n) => n.toLong
    case _ => 0L
  }
  def failedAccounts(r: JobResult): Seq[String] = r.message match {
    case FailedAccounts(s) => s.split(", ").toSeq
    case _ => Nil
  }
}

/** `etl_daily`: D consecutive daily syncs appending to one fresh table,
  * each followed by the four documented monitoring queries.
  */
final class EtlDaily(spark: SparkSession, work: File, seed: Long, spec: Zone.Spec) extends Workload {
  private val zone = new File(work, "zone")
  private var exp: Zone.Expect = _
  /** One listed account has no file: the reference isolates its failure. */
  val missingAccount = "9999"
  private def accounts = exp.accountIds :+ missingAccount
  private def dir(p: Int) = new File(work, s"pass_$p")
  // per pass: results of each sync and the table's columns after day 1
  private val results = collection.mutable.Map.empty[Int, Seq[JobResult]]
  private val firstCols = collection.mutable.Map.empty[Int, Seq[String]]
  // traced passes only: the table's data files before and after each sync
  private val fileCounts = collection.mutable.Map.empty[Int, Seq[(Int, Int)]]

  def setup(): Unit = {
    exp = Zone.generate(seed, spec, zone)
    Files.writeString(new File(work, "expect.json"), Zone.expectJson(exp))
    // warm-up: one untimed pass; a smaller zone would leave the JIT cold
    pass(-1, new Tracer(spark, on = false))
    cleanup(-1)
  }

  def pass(p: Int, t: Tracer): PassOut = {
    val table = s"${dir(p)}/table"
    val syncs = collection.mutable.ArrayBuffer.empty[JobResult]
    val counts = collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def files() = if (t.on) Files.dataFiles(new File(table)) else 0
    val (ops, passSpan) = t.span("pass", s"pass_$p") {
      exp.days.zipWithIndex.map { case (d, i) =>
        t.span("op", s"day_${d.date}") {
          val before = files()
          val (res, call) = t.span("call", "Pipelines.dailySync", "ads.pipelines") {
            Pipelines.dailySync(spark, s"$zone/day_${d.date}", accounts, table,
              s"${dir(p)}/audit_${d.date}")
          }
          syncs += res
          counts += before -> files()
          val op = Op(d.date, call.seconds, res.rowsProcessed, ok = true)
          if (res.status != "success") op.fail(s"status ${res.status}")
          if (res.rowsProcessed != d.appended) op.fail(s"appended ${res.rowsProcessed} != ${d.appended}")
          if (EtlParse.rejected(res) != d.rejected) op.fail(s"rejected ${EtlParse.rejected(res)} != ${d.rejected}")
          if (EtlParse.failedAccounts(res) != Seq(missingAccount)) op.fail(s"failed accounts ${EtlParse.failedAccounts(res)}")
          monitor(t, table, p, i, op)
          op
        }._1
      }
    }
    results(p) = syncs.toSeq
    fileCounts(p) = counts.toSeq
    PassOut(passSpan, ops, exp.days.map(_.raw).sum, ops.map(_.seconds))
  }

  /** Monitoring after day `i`, checked against the cumulative expectation. */
  private def monitor(t: Tracer, table: String, p: Int, i: Int, op: Op): Unit = {
    val d = exp.days(i)
    val today = java.time.LocalDate.parse(d.date).plusDays(1).toString
    def mon[T](name: String)(body: DataFrame => T): T =
      t.span("call", s"Monitoring.$name", "ads.monitoring")(body(Sinks.readTable(spark, table)))._1
    val rows = mon("rowCount") { tbl =>
      if (i == 0) firstCols(p) = tbl.columns.toSeq
      Monitoring.rowCount(tbl)
    }
    val latest = mon("freshness")(Monitoring.freshness(_).collect().head.getString(0))
    val rollup = mon("dailyRollup")(Monitoring.dailyRollup(_, today).collect())
    val health = mon("healthCheck")(Monitoring.healthCheck(_, today).collect().head)
    val cum = exp.days.take(i + 1).map(_.appended).sum
    if (rows != cum) op.fail(s"rowCount $rows != $cum")
    if (latest != d.date) op.fail(s"freshness $latest != ${d.date}")
    val window = exp.days.slice(math.max(0, i - 6), i + 1).reverse
    val got = rollup.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = window.map(w => (w.date, w.appended, w.impressions))
    if (got != want) op.fail(s"dailyRollup $got != $want")
    if (health.getString(2) != "OK") op.fail(s"healthCheck ${health.getString(2)}")
  }

  def check(p: Int, out: PassOut): Unit = {
    val tbl = Sinks.readTable(spark, s"${dir(p)}/table")
    val (n, digest) = TableCheck.digest(tbl)
    val cols = TableCheck.actionColumns(tbl.columns.toSeq)
    val added = cols -- firstCols.getOrElse(p, Nil)
    val deduped = results(p).map(r => r.rowsProcessed + EtlParse.rejected(r)).sum
    val problems = Seq(
      (n != exp.appended) -> s"table rows $n != ${exp.appended}",
      (digest != exp.digest) -> "table digest differs",
      (cols != exp.columns) -> s"action columns ${cols.toSeq.sorted}",
      (added != exp.addedAfterFirstDay) -> s"added columns ${added.toSeq.sorted}",
      (exp.rawTotal - deduped != exp.duplicates) -> s"duplicates dropped ${exp.rawTotal - deduped}"
    ).collect { case (true, why) => why }
    problems.foreach(why => out.ops.foreach(_.fail(why)))
  }

  def layerMetrics(p: Int, out: PassOut, t: Tracer): Map[String, Double] = {
    val res = results(p)
    val tableDir = new File(dir(p), "table")
    val tableFiles = Files.dataFiles(tableDir)
    val cols = TableCheck.actionColumns(Sinks.readTable(spark, tableDir.getPath).columns.toSeq)
    val counts = fileCounts(p)
    Map(
      "ads.source.failed_accounts" -> res.map(EtlParse.failedAccounts(_).size).sum.toDouble,
      "ads.ops.duplicates_dropped" ->
        (exp.rawTotal - res.map(r => r.rowsProcessed + EtlParse.rejected(r)).sum).toDouble,
      "ads.ops.action_types" -> cols.size.toDouble,
      "ads.sinks.rows_appended" -> res.map(_.rowsProcessed).sum.toDouble,
      "ads.sinks.rows_rejected" -> res.map(EtlParse.rejected).sum.toDouble,
      "ads.sinks.files_written" -> Files.dataFiles(dir(p)).toDouble,
      "ads.sinks.table_files" -> tableFiles.toDouble,
      "ads.schema_evolution.columns_added" -> (cols -- firstCols.getOrElse(p, Nil)).size.toDouble,
      // each sync merges the footers of every file the table had before it
      "ads.schema_evolution.footers_read" -> counts.map(_._1).sum.toDouble,
      // none of the four queries can prune (date_start is not the partition
      // column), so each reads every file the table has after that day
      "ads.monitoring.files_scanned" -> 4.0 * counts.map(_._2).sum)
  }

  def cleanup(p: Int): Unit = {
    Files.delete(dir(p)); results -= p; firstCols -= p; fileCounts -= p
  }
}

/** `etl_backfill`: one ranged backfill to CSV, then a load of that CSV into
  * a fresh table.
  */
final class EtlBackfill(spark: SparkSession, work: File, seed: Long, spec: Zone.Spec) extends Workload {
  private val zone = new File(work, "zone")
  private var exp: Zone.Expect = _
  private def dir(p: Int) = new File(work, s"pass_$p")
  private val results = collection.mutable.Map.empty[Int, (JobResult, JobResult)]

  def setup(): Unit = {
    exp = Zone.generate(seed, spec, zone)
    Files.writeString(new File(work, "expect.json"), Zone.expectJson(exp))
    // warm-up: one untimed pass; a smaller zone would leave the JIT cold
    pass(-1, new Tracer(spark, on = false))
    cleanup(-1)
  }

  def pass(p: Int, t: Tracer): PassOut = {
    val (start, end) = (exp.days.head.date, exp.days.last.date)
    val ((bf, bfS, ld, ldS), passSpan) = t.span("pass", s"pass_$p") {
      val ((csv, bf), bfSpan) = t.span("op", "backfill") {
        t.span("call", "Pipelines.backfill", "ads.pipelines") {
          Pipelines.backfill(spark, zone.getPath, exp.accountIds, start, end, s"${dir(p)}/csv")
        }._1
      }
      val (ld, ldSpan) = t.span("op", "load") {
        t.span("call", "Pipelines.loadCsv", "ads.pipelines") {
          Pipelines.loadCsv(spark, csv, s"${dir(p)}/table")
        }._1
      }
      (bf, bfSpan.seconds, ld, ldSpan.seconds)
    }
    results(p) = (bf, ld)
    val bfOp = Op("backfill", bfS, bf.rowsProcessed, ok = true)
    val ldOp = Op("load", ldS, ld.rowsProcessed, ok = true)
    if (bf.rowsProcessed != exp.unique) bfOp.fail(s"backfilled ${bf.rowsProcessed} != ${exp.unique}")
    if (ld.rowsProcessed != exp.appended) ldOp.fail(s"loaded ${ld.rowsProcessed} != ${exp.appended}")
    if (!ld.message.endsWith(s"table now ${exp.appended} rows")) ldOp.fail(ld.message)
    // the pass is the operation: its two calls are unlike, so per-call
    // percentiles would mix two distributions
    PassOut(passSpan, Seq(bfOp, ldOp), exp.rawTotal, Seq(passSpan.seconds))
  }

  def check(p: Int, out: PassOut): Unit = {
    val tbl = Sinks.readTable(spark, s"${dir(p)}/table")
    val (n, digest) = TableCheck.digest(tbl)
    val cols = TableCheck.actionColumns(tbl.columns.toSeq)
    val problems = Seq(
      (n != exp.appended) -> s"table rows $n != ${exp.appended}",
      (digest != exp.digest) -> "table digest differs",
      (cols != exp.columns) -> s"action columns ${cols.toSeq.sorted}",
      (exp.rawTotal - exp.outOfRange - results(p)._1.rowsProcessed != exp.duplicates) -> "duplicates dropped"
    ).collect { case (true, why) => why }
    problems.foreach(why => out.ops.foreach(_.fail(why)))
  }

  def layerMetrics(p: Int, out: PassOut, t: Tracer): Map[String, Double] = {
    val (bf, ld) = results(p)
    val tableDir = new File(dir(p), "table")
    val cols = TableCheck.actionColumns(Sinks.readTable(spark, tableDir.getPath).columns.toSeq)
    def call(name: String) = t.spans.filter(s => s.kind == "call" && s.name == name &&
      t.chain(s.id).exists(_.id == out.span.id)).map(_.seconds).sum
    Map(
      "ads.source.failed_accounts" -> EtlParse.failedAccounts(bf).size.toDouble,
      "ads.ops.duplicates_dropped" -> (exp.rawTotal - exp.outOfRange - bf.rowsProcessed).toDouble,
      "ads.ops.action_types" -> cols.size.toDouble,
      "ads.sinks.rows_appended" -> ld.rowsProcessed.toDouble,
      "ads.sinks.rows_rejected" -> (bf.rowsProcessed - ld.rowsProcessed).toDouble,
      "ads.sinks.files_written" -> Files.dataFiles(dir(p)).toDouble,
      "ads.sinks.table_files" -> Files.dataFiles(tableDir).toDouble,
      "ads.schema_evolution.columns_added" -> 0.0, // a fresh table: nothing to evolve
      "ads.schema_evolution.footers_read" -> 0.0,
      "ads.pipelines.backfill_s" -> call("Pipelines.backfill"),
      "ads.pipelines.load_csv_s" -> call("Pipelines.loadCsv"))
  }

  def cleanup(p: Int): Unit = { Files.delete(dir(p)); results -= p }
}

/** `query_pack`: fixed queries at a scale-factor dir, in a seeded order per
  * pass. Each query's results are written once during warm-up for the
  * oracle comparison, which runs outside this process.
  */
final class QueryPack(spark: SparkSession, work: File, seed: Long, sfDir: String, names: Seq[String])
    extends Workload {
  private val fns = graft.SparkEntry.queries

  private def clearCaches(): Unit = {
    graft.queries.TextQueries.clearCaches()
    spark.catalog.clearCache()
  }

  def setup(): Unit = {
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val oracle = graft.SparkEntry.oracleSql
    names.foreach { n =>
      try fns(n)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $n failed: $e") }
      clearCaches()
    }
    Files.writeString(new File(work, "oracle_sql.json"), names.flatMap(n => oracle.get(n).map(n -> _))
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))
  }

  def pass(p: Int, t: Tracer): PassOut = {
    val order = new scala.util.Random(seed * 7919L + p).shuffle(names)
    val (ops, passSpan) = t.span("pass", s"pass_$p") {
      order.map { n =>
        val (op, _) = t.span("op", n) {
          val t0 = System.nanoTime()
          try {
            val df = t.span("phase", "build", "queries")(fns(n)(spark, sfDir))._1
            t.span("phase", "plan", "queries")(df.queryExecution.executedPlan)
            val rows = t.span("phase", "exec", "queries")(df.queryExecution.toRdd.count())._1
            Op(n, (System.nanoTime() - t0) / 1e9, rows, ok = true)
          } catch {
            case e: Exception => Op(n, (System.nanoTime() - t0) / 1e9, -1, ok = false, e.toString)
          }
        }
        clearCaches()
        op
      }
    }
    PassOut(passSpan, ops, ops.map(_.rows.max(0L)).sum, ops.map(_.seconds))
  }

  def check(p: Int, out: PassOut): Unit = () // row counts and digests: oracle side

  def layerMetrics(p: Int, out: PassOut, t: Tracer): Map[String, Double] = {
    val phases = t.spans.filter(s => s.kind == "phase" && t.chain(s.id).exists(_.id == out.span.id))
    Seq("build", "plan", "exec").map(ph => s"queries.${ph}_s" -> phases.filter(_.name == ph).map(_.seconds).sum).toMap
  }

  def cleanup(p: Int): Unit = ()
}
