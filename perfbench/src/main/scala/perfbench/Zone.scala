package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.LocalDate
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable.ArrayBuffer

/** Seeded landing-zone generator for the ETL workloads.
  *
  * It writes what the insights API would return, one `account_<id>.jsonl`
  * file per ad account, and knows the pipeline's expected outputs by
  * construction: every (campaign, ad, day, platform) key has one canonical
  * record, which is always the first in ingest order (account list
  * position, then line number). Everything else is injected around it:
  *  - within-account duplicates: the same key later in the same file;
  *  - cross-account duplicates: the key in a later account's file;
  *  - `[]` and missing video wrappers, null `actions`;
  *  - dotted action types, and novel types that first appear mid-range;
  *  - rejects: canonical records without one REQUIRED column, at most one
  *    per (account, platform, day, campaign) so null keys never collide;
  *  - (backfill) out-of-range records dated the day before the range.
  */
object Zone {

  val platforms: Seq[String] = Seq("facebook", "instagram", "audience_network")

  val baseTypes: Seq[String] = Seq(
    "link_click", "post_engagement", "page_engagement", "video_view",
    "offsite_conversion.fb_pixel_purchase", "offsite_conversion.fb_pixel_lead",
    "onsite_conversion.messaging_first_reply")

  val novelTypes: Seq[String] = Seq(
    "onsite_conversion.post_save", "offsite_conversion.fb_pixel_add_to_cart",
    "app_install", "landing_page_view")

  val videoCols: Seq[String] = Seq(
    "video_continuous_2_sec_watched_actions", "video_30_sec_watched_actions",
    "video_avg_time_watched_actions", "video_p25_watched_actions",
    "video_p50_watched_actions", "video_p75_watched_actions",
    "video_p100_watched_actions")

  /** Sizes of one landing zone. `adsPerCell` ads per (account, platform,
    * day); `dayDirs` writes one directory per day (daily syncs) instead
    * of one directory holding every day (backfill). `rejectColumn` is the
    * REQUIRED column the rejected records lack.
    */
  final case class Spec(
      accounts: Int, days: Int, adsPerCell: Int, dayDirs: Boolean,
      rejectColumn: String, start: LocalDate = LocalDate.of(2024, 3, 1))

  /** Expected outcome of one day's batch after dedup and REQUIRED checks. */
  final case class DayExpect(
      date: String, raw: Long, unique: Long, rejected: Long,
      impressions: Long, types: Set[String], digest: Long) {
    def appended: Long = unique - rejected
  }

  final case class Expect(
      accountIds: Seq[String], days: Seq[DayExpect], outOfRange: Long,
      rawTotal: Long) {
    def unique: Long = days.map(_.unique).sum
    def rejected: Long = days.map(_.rejected).sum
    def appended: Long = days.map(_.appended).sum
    def duplicates: Long = days.map(d => d.raw - d.unique).sum
    def digest: Long = days.map(_.digest).sum
    /** Normalized action columns of the whole range. */
    def columns: Set[String] = days.flatMap(_.types).map(norm).toSet
    /** Columns schema evolution must add after the first day's table. */
    def addedAfterFirstDay: Set[String] = columns -- days.head.types.map(norm)
  }

  def norm(actionType: String): String = actionType.replace(".", "_")

  /** Day index from which novel type `i` appears (spread over the range). */
  private def novelFrom(i: Int, days: Int): Int =
    if (days < 2) 0 else math.max(1, (i + 1) * days / (novelTypes.size + 1))

  /** One record as generated: numeric fields as the table will hold them. */
  private final case class Rec(
      campaign: String, ad: String, platform: String, date: String,
      missing: Option[String], impressions: Long, clicks: Long, spendCents: Long,
      video: Seq[Option[Long]], // Some(v) = [{value}], else `[]` or missing;
                                // avg watch time (index 2) is in tenths
      videoShape: Seq[Int],     // 0 = wrapper, 1 = `[]`, 2 = missing
      actions: Option[Seq[(String, Long)]]) {

    def json(ingestIdx: Long): String = {
      val sb = new StringBuilder(512)
      sb.append('{')
      Seq("campaign_name" -> campaign, "ad_name" -> ad, "publisher_platform" -> platform,
          "impressions" -> impressions.toString, "clicks" -> clicks.toString,
          "spend" -> cents(spendCents), "date_start" -> date, "date_stop" -> date)
        .filterNot(kv => missing.contains(kv._1))
        .foreach { case (k, v) => sb.append('"').append(k).append("\":\"").append(v).append("\",") }
      sb.setLength(sb.length - 1)
      videoCols.indices.foreach { i =>
        videoShape(i) match {
          case 0 =>
            val v = video(i).get
            val s = if (i == 2) s"${v / 10}.${v % 10}" else v.toString
            sb.append(",\"").append(videoCols(i)).append("\":[{\"value\":\"")
              .append(s).append("\"}]")
          case 1 => sb.append(",\"").append(videoCols(i)).append("\":[]")
          case _ => ()
        }
      }
      actions match {
        case None => sb.append(",\"actions\":null")
        case Some(as) =>
          sb.append(",\"actions\":[").append(as.map { case (t, v) =>
            s"""{"action_type":"$t","value":"$v"}"""
          }.mkString(",")).append(']')
      }
      sb.append(",\"ingest_idx\":").append(ingestIdx).append('}').toString
    }

    def rejected: Boolean = missing.nonEmpty
    def types: Set[String] = actions.getOrElse(Nil).map(_._1).toSet

    def digestRow: Long = rowDigest(
      Seq(campaign, ad, platform, date, date),
      Seq(impressions, clicks),
      spendCents / 100.0,
      videoCols.indices.map(i => video(i).getOrElse(0L)),
      actions.getOrElse(Nil).map { case (t, v) => norm(t) -> v })
  }

  private def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  /** Order-insensitive row digest shared by the generator and the checker:
    * identity strings, integer metrics, spend and avg watch time at 2 dp,
    * and the non-zero action columns sorted by name. The table digest is
    * the wrap-around sum of its rows' digests.
    */
  def rowDigest(
      ids: Seq[String], counts: Seq[Long], spend: Double, video: Seq[Long],
      actions: Seq[(String, Long)]): Long =
    hash64((ids ++ counts.map(_.toString) ++ Seq(fmt2(spend)) ++
      video.zipWithIndex.map { case (v, i) => if (i == 2) fmt2(v / 10.0) else v.toString } ++
      actions.filter(_._2 != 0).sortBy(_._1).map { case (k, v) => s"$k=$v" })
      .mkString("|"))

  def fmt2(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))

  def hash64(s: String): Long = {
    val b = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    (0 until 8).foldLeft(0L)((h, i) => (h << 8) | (b(i) & 0xffL))
  }

  /** Generates the zone under `dir` and returns what the pipeline must
    * produce from it. Same seed and spec → byte-identical files.
    */
  def generate(seed: Long, spec: Spec, dir: File): Expect = {
    val ids = (0 until spec.accounts).map(a => (1001 + a).toString)
    val dates = (0 until spec.days).map(d => spec.start.plusDays(d.toLong).toString)
    // per (day, account): the lines of that account's file for that day
    val files = Array.fill(spec.days, spec.accounts)(ArrayBuffer.empty[Rec])
    val dayExpect = dates.indices.map { d =>
      val rng = new SplittableRandom(seed * 1000003L + d)
      val active = baseTypes ++ novelTypes.zipWithIndex
        .collect { case (t, i) if d >= novelFrom(i, spec.days) => t }
      def metrics(campaign: String, ad: String, platform: String,
          missing: Option[String], types: Seq[String], forceAll: Boolean): Rec = {
        val shape = videoCols.map { _ =>
          val r = rng.nextInt(100); if (r < 15) 1 else if (r < 25) 2 else 0
        }
        val actions =
          if (forceAll) Some(types.map(t => t -> (1L + rng.nextInt(500))))
          else if (rng.nextInt(10) == 0) None
          else {
            val picked = types.filter(_ => rng.nextInt(3) == 0)
            Some(picked.map(t => t -> (1L + rng.nextInt(500))))
          }
        Rec(campaign, ad, platform, dates(d), missing,
          100L + rng.nextInt(100000), rng.nextInt(2000).toLong,
          rng.nextInt(500000).toLong,
          shape.map(s => if (s == 0) Some(1L + rng.nextInt(5000)) else None),
          shape, actions)
      }
      val canon = ArrayBuffer.empty[(Int, Rec)] // (owner account, record)
      var rejected = 0L
      for (a <- 0 until spec.accounts; p <- platforms; k <- 0 until spec.adsPerCell) {
        val campaign = s"acct${ids(a)}_camp${k % 3}"
        val first = canon.isEmpty
        // ads 1-3 of a cell (one per campaign) may be rejects, so a null
        // key column never makes two rejects collide in dedup; the day's
        // first record carries every active type, so each is a column
        val reject = k >= 1 && k <= 3 && rng.nextInt(4) == 0
        if (reject) rejected += 1
        canon += a -> metrics(campaign, s"ad_${p.take(2)}_$k", p,
          if (reject) Some(spec.rejectColumn) else None,
          if (reject) baseTypes else active, forceAll = first)
      }
      canon.foreach { case (a, r) => files(d)(a) += r }
      // duplicates only shadow non-rejected keys (so rejects stay exact)
      val dupable = canon.filterNot(_._2.rejected)
      val nDup = canon.size * 6 / 100
      (0 until nDup).foreach { i =>
        val (owner, r) = dupable(rng.nextInt(dupable.size))
        val copy = metrics(r.campaign, r.ad, r.platform, None, baseTypes, false)
        // every third duplicate lands in a later account's file; the rest
        // later in the owner's own file (after the canonical record)
        val target =
          if (i % 3 == 0 && owner + 1 < spec.accounts)
            owner + 1 + rng.nextInt(spec.accounts - owner - 1)
          else owner
        files(d)(target) += copy
      }
      val good = canon.map(_._2).filterNot(_.rejected)
      DayExpect(dates(d), raw = canon.size + nDup, unique = canon.size,
        rejected = rejected, impressions = good.map(_.impressions).sum,
        types = good.flatMap(_.types).toSet,
        digest = good.map(_.digestRow).sum)
    }
    // out-of-range records (backfill only): the day before the range
    var outOfRange = 0L
    dir.mkdirs()
    def write(f: File, recs: Seq[Rec]): Unit = {
      val w = new BufferedWriter(new FileWriter(f, StandardCharsets.UTF_8), 1 << 16)
      try recs.zipWithIndex.foreach { case (r, i) => w.write(r.json(i.toLong)); w.write('\n') }
      finally w.close()
    }
    if (spec.dayDirs) {
      dates.indices.foreach { d =>
        val dd = new File(dir, s"day_${dates(d)}"); dd.mkdirs()
        ids.indices.foreach(a => write(new File(dd, s"account_${ids(a)}.jsonl"), files(d)(a).toSeq))
      }
    } else {
      val before = spec.start.minusDays(1).toString
      ids.indices.foreach { a =>
        val recs = dates.indices.flatMap(d => files(d)(a))
        // one stray record per platform from the day before the range
        val strays = platforms.map(p => recs.head.copy(date = before, platform = p))
        outOfRange += strays.size
        write(new File(dir, s"account_${ids(a)}.jsonl"), strays ++ recs)
      }
    }
    Expect(ids, dayExpect, outOfRange, dayExpect.map(_.raw).sum + outOfRange)
  }

  /** Expected outcome as JSON, for the self-test's independent recount. */
  def expectJson(e: Expect): String = {
    def days = e.days.map(d =>
      s"""{"date":"${d.date}","raw":${d.raw},"unique":${d.unique},"rejected":${d.rejected},"types":[${d.types.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
    s"""{"accounts":[${e.accountIds.map("\"" + _ + "\"").mkString(",")}],"raw":${e.rawTotal},"out_of_range":${e.outOfRange},"duplicates":${e.duplicates},"rejected":${e.rejected},"days":[${days.mkString(",")}]}"""
  }
}
