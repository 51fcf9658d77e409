package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.InsightsV2Source

/** Fixture-backed insights source (reference `main.py:262-342`,
  * `backfill.py:49-119`). The environment is zero-egress, so the remote API
  * is modeled as JSON-lines files per ad account — `account_<id>.jsonl`, or
  * the paged form `account_<id>.page1.jsonl`, `.page2.jsonl`, … — read by the
  * DataSource V2 reader [[graft.sources.InsightsV2Source]] with the declared
  * nested schema (no inference: the API contract is the schema). That reader
  * walks the pages, retries transient failures, classifies API error bodies,
  * and runs each account as its own partition on executors.
  *
  * Semantics carried over from the reference:
  *  - per-account failure isolation (`main.py:471-498`): an account with no
  *    landed file is recorded and skipped (checked on the driver before the
  *    scan); only if ALL accounts fail does the read raise;
  *  - explicit ingest order: (account list position, ingest_idx within the
  *    account's page stream) — the deterministic replacement for the
  *    reference's Python arrival order;
  *  - optional date-range options (`backfill.py:82-83`) applied as plain
  *    filters that Catalyst pushes into the reader.
  *
  * An unparseable line reads as a row of null raw columns (with its lineage
  * columns set), which the sink's REQUIRED check then rejects.
  *
  * Scale: one file stream per account here; at 100 TB this is the same code
  * over a partitioned landing zone (`.../account=<id>/date=<d>/` jsonl files),
  * where the account/date predicates become partition pruning.
  */
object InsightsSource {

  final case class ReadResult(data: DataFrame, failedAccounts: Seq[(String, String)])

  def read(
      spark: SparkSession,
      fixtureDir: String,
      accounts: Seq[String],
      dateStart: Option[String] = None,
      dateStop: Option[String] = None): ReadResult = {
    require(accounts.nonEmpty, "at least one account required")
    val failures = accounts.filterNot(InsightsV2Source.landed(fixtureDir, _)).map { a =>
      a -> s"no account_$a.jsonl or account_$a.page1.jsonl in $fixtureDir"
    }
    if (failures.size == accounts.size)
      throw new IllegalStateException(
        s"all ${accounts.size} accounts failed: ${failures.map(_._1).mkString(", ")}")
    val df = spark.read.format("graft.sources.InsightsV2Source")
      .option("path", fixtureDir)
      .option("accounts", accounts.mkString(","))
      .load()
    val ranged = (dateStart, dateStop) match {
      case (Some(s0), Some(s1)) => df.filter(col("date_start").between(s0, s1))
      case (Some(s0), None)     => df.filter(col("date_start") >= s0)
      case (None, Some(s1))     => df.filter(col("date_start") <= s1)
      case _                    => df
    }
    ReadResult(ranged, failures)
  }
}
