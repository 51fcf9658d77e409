package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ads.{AdOps, AdSchema, Fixtures, InsightsSource}

class InsightsV2SourceSpec extends SparkSpec {

  private lazy val fixtureDir = Fixtures.write()

  test("V2 source returns the same rows as the driver-side JSON read") {
    // oracle: Spark's built-in JSON reader, one file per account, unioned
    val v1 = Seq("a1", "a2").zipWithIndex.map { case (a, i) =>
      spark.read.schema(AdSchema.rawSchema).json(s"$fixtureDir/account_$a.jsonl")
        .withColumn("account_id", lit(a)).withColumn("account_idx", lit(i))
    }.reduce(_ unionByName _)
    val v2 = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2")).data
    assert(v2.count() == v1.count())
    val key = Seq("campaign_name", "ad_name", "date_start", "publisher_platform",
      "impressions", "account_id", "account_idx", "ingest_idx")
    assert(v2.select(key.map(col): _*).collect().toSet ==
      v1.select(key.map(col): _*).collect().toSet)
  }

  test("column pruning and date filters are pushed into the reader") {
    val pruned = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2"),
      dateStart = Some("2024-03-01"), dateStop = Some("2024-03-02")).data
      .select("campaign_name", "date_start")
    val plan = pruned.queryExecution.executedPlan.toString
    // the between bounds must be ABSENT as plan-side filters (they were
    // absorbed by the source; only the isnotnull guard remains)
    assert(!plan.contains(">= 2024-03-01") && !plan.contains("<= 2024-03-02"),
      s"date bounds still filtered plan-side:\n$plan")
    // and the scan itself must be pruned to the 2 requested columns
    assert(plan.contains("[campaign_name") && plan.contains("date_start#"),
      s"scan not pruned:\n$plan")
    // the out-of-range 2024-03-09 record never leaves the reader
    assert(pruned.count() == 6)
    // full pipeline over the V2 source: dedup + pivot still work
    val deduped = AdOps.dedupFirstWins(InsightsSource.read(
      spark, fixtureDir, Seq("a1", "a2")).data)
    assert(deduped.count() == 5)
  }

  test("each account is its own input partition") {
    val v2 = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2")).data
    assert(v2.rdd.getNumPartitions == 2)
  }

  // ── pagination + retry + error taxonomy (reference main.py:294-339) ──────

  private def rec(camp: String, date: String): String =
    s"""{"campaign_name": "$camp", "ad_name": "ad", "publisher_platform": "facebook",
       | "impressions": "1", "clicks": "1", "spend": "1.0",
       | "date_start": "$date", "date_stop": "$date"}""".stripMargin.replaceAll("\n", "")

  private def pagedDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-paged").toString
    def w(name: String, lines: String*) =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    // pg: three pages walked in cursor order
    w("account_pg.page1.jsonl", rec("c1", "2024-03-01"), rec("c2", "2024-03-01"))
    w("account_pg.page2.jsonl", rec("c3", "2024-03-01"))
    w("account_pg.page3.jsonl", rec("c4", "2024-03-01"))
    // es: empty page 2 short-circuits the walk; page 3 must never be read
    w("account_es.page1.jsonl", rec("e1", "2024-03-01"))
    w("account_es.page2.jsonl", "")
    w("account_es.page3.jsonl", rec("e3", "2024-03-01"))
    // tr: two injected transient failures, then success (3 attempts allowed)
    w("account_tr.page1.jsonl", rec("t1", "2024-03-01"))
    w("account_tr.page1.jsonl.transient", "2")
    // tx: more failures than attempts
    w("account_tx.page1.jsonl", rec("x1", "2024-03-01"))
    w("account_tx.page1.jsonl.transient", "9")
    // ft: fatal token error body
    w("account_ft.page1.jsonl",
      """{"error": {"code": 190, "type": "OAuthException", "message": "token expired"}}""")
    dir
  }

  test("pages are walked in cursor order with a continuous ingest index") {
    val rows = InsightsSource.read(spark, pagedDir(), Seq("pg")).data
      .select("campaign_name", "ingest_idx").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    assert(rows.toSeq == Seq(("c1", 0L), ("c2", 1L), ("c3", 2L), ("c4", 3L)))
  }

  test("an empty page stops the cursor walk (later pages are not read)") {
    val camps = InsightsSource.read(spark, pagedDir(), Seq("es")).data
      .select("campaign_name").collect().map(_.getString(0)).toSet
    assert(camps == Set("e1"), s"page past the empty one was read: $camps")
  }

  test("transient failures are retried up to 3 attempts and recover") {
    val dir = pagedDir()
    val rows = InsightsSource.read(spark, dir, Seq("tr")).data.collect()
    assert(rows.length == 1)
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/account_tr.page1.jsonl.transient"))).trim
    assert(marker == "0") // both injected failures were consumed by retries
  }

  test("persistent transient failure surfaces after 3 attempts") {
    val e = intercept[Exception] {
      InsightsSource.read(spark, pagedDir(), Seq("tx")).data.collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(_.contains("failed after 3 attempts")), s"got: ${chain(e)}")
  }

  test("unparseable lines, even a first line, read as null raw rows with lineage set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/account_bd.page1.jsonl"),
      Seq("""{"campaign_name": "cut""", rec("b1", "2024-03-01"), "{oops")
        .mkString("\n").getBytes("UTF-8"))
    // "zz" has no file: skipped, and bd keeps its list position as account_idx
    val read = InsightsSource.read(spark, dir, Seq("zz", "bd"))
    assert(read.failedAccounts.map(_._1) == Seq("zz"))
    val rows = read.data
      .select("campaign_name", "date_start", "account_id", "account_idx", "ingest_idx")
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getString(2), r.getInt(3), r.getLong(4))).sortBy(_._5)
    assert(rows.toSeq == Seq(
      (None, None, "bd", 1, 0L),
      (Some("b1"), Some("2024-03-01"), "bd", 1, 1L),
      (None, None, "bd", 1, 2L)))
    // a ranged read drops them: their date_start is null
    assert(InsightsSource.read(spark, dir, Seq("bd"), dateStop = Some("2024-03-05"))
      .data.count() == 1)
  }

  test("token errors (190) are fatal: classified and never retried") {
    val dir = pagedDir()
    val e = intercept[Exception] {
      InsightsSource.read(spark, dir, Seq("ft")).data.collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    val api = chain(e).collectFirst { case a: AdsApiError => a }
    assert(api.isDefined, s"no AdsApiError in: ${chain(e).map(_.getMessage)}")
    assert(api.get.fatal && api.get.code == 190)
    assert(api.get.getMessage.contains("[fatal - not retried]"))
  }
}
