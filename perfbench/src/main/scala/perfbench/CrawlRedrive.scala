package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.driver.{Crawl, Windows}
import graft.sources.Resilience

/** A virtual clock: `sleep` advances time and never sleeps for real, and
  * each request advances it by a latency, so a rate-limited crawl of hours
  * runs in the time its Spark jobs take. */
final class VirtualClock(startMs: Long, seed: Long) {
  private var now = startMs
  var sleptMs = 0L
  private val rnd = new java.util.SplittableRandom(seed)
  val clock: Resilience.Clock = Resilience.Clock(
    () => now,
    ms => if (ms > 0) { now += ms; sleptMs += ms },
    () => rnd.nextDouble())
  def nowMs: Long = now
  def advance(ms: Long): Unit = now += ms
  def moveTo(ms: Long): Unit = now = math.max(now, ms)
}

/** In-memory Riot API: a tier ladder, per-player match lists that overlap,
  * and match/timeline documents from [[LolCorpus]]. Exact shares of each
  * window's matches and players fail, placed by the seed: transiently (429
  * or 503, then 200), persistently (503 on every attempt) or with no data
  * (404), so every seed gives the crawl the same amount of work. The stubs
  * count what they serve. */
final class CrawlStubs(spark: SparkSession, seed: Long, vc: VirtualClock,
    contentWindows: Seq[Windows.WindowState], idsPerWindow: Int) {
  import CrawlStubs._
  private val corpus = new LolCorpus(seed, playerPool = Players)
  private val rnd = new scala.util.Random(seed)

  /** Match ids of each content window, by window start. */
  private val windowIds: Map[Long, IndexedSeq[String]] = contentWindows.zipWithIndex.map { case (w, k) =>
    w.startEpoch -> (0 until idsPerWindow).map(j => corpus.game(k * 100000L + j, w.startEpoch * 1000L, 0).id)
  }.toMap
  private val games: Map[String, LolCorpus.Game] = contentWindows.zipWithIndex.flatMap { case (w, k) =>
    (0 until idsPerWindow).map(j => corpus.game(k * 100000L + j, w.startEpoch * 1000L, 0))
  }.map(g => g.id -> g).toMap

  /** Failure class of each (endpoint, key): the first keys of a seeded
    * shuffle take each class in turn. */
  private def classes(keys: Seq[String], shares: Seq[(String, Double)]): Map[String, String] = {
    val shuffled = rnd.shuffle(keys)
    var at = 0
    shares.flatMap { case (cls, share) =>
      val n = math.round(keys.size * share).toInt
      val picked = shuffled.slice(at, at + n).map(_ -> cls)
      at += n
      picked
    }.toMap
  }
  private val matchClass = windowIds.values.flatMap(ids =>
    classes(ids, Seq("persistent" -> PersistentShare, "429" -> TransientShare / 2,
      "503" -> TransientShare / 2))).toMap
  private val timelineClass = windowIds.values.flatMap(ids =>
    classes(ids, Seq("404" -> NoDataShare, "429" -> TransientShare / 2,
      "503" -> TransientShare / 2))).toMap
  /** Capped players, in ladder order: 50 high-elo, then the first page. */
  private val playerIds: IndexedSeq[Int] = (0 until 50) ++ (100 until 110)
  private val playerClass = classes(playerIds.map(corpus.puuid),
    Seq("persistent" -> 1.0 / playerIds.size, "429" -> TransientShare))

  var calls = 0L
  var call = 0
  /** (call, endpoint, key) -> attempts served. */
  val attempts = mutable.Map.empty[(Int, String, String), Int]
  /** Match ids of every match list the crawl received. */
  val listed = mutable.Set.empty[String]
  val matchOk = mutable.Set.empty[String]
  val timelineOk = mutable.Set.empty[String]

  private def request(endpoint: String, k: String): Int = {
    calls += 1
    vc.advance(150 + rnd.nextInt(250))
    val n = attempts.getOrElse((call, endpoint, k), 0)
    attempts((call, endpoint, k)) = n + 1
    n
  }

  private def outcome[A](cls: Option[String], attempt: Int)(body: => A): Resilience.Outcome[A] =
    cls match {
      case Some("404") => Resilience.Status(404)
      case Some("persistent") => Resilience.Status(503)
      case Some("429") if attempt == 0 =>
        Resilience.Status(429, retryAfterSec = Some(1), rateLimitType = Some("method"))
      case Some("503") if attempt == 0 => Resilience.Status(503)
      case _ => Resilience.Ok(body)
    }

  /** `n` ladder entries for players `first until first + n`. */
  private def ladder(tier: String, first: Int, n: Int): DataFrame = {
    import spark.implicits._
    (first until first + n).map { p =>
      (corpus.puuid(p), "I", 100L + p * 13 % 1400, 50L + p * 7 % 300, 50L + p * 11 % 300,
        tier.toUpperCase)
    }.toDF("puuid", "rank", "leaguePoints", "wins", "losses", "tier")
  }

  val sources: Crawl.Sources = Crawl.Sources(
    fetchRank = rank => {
      request("rank", rank)
      val i = HighRanks.indexOf(rank)
      Some(ladder(rank, i * 20, if (i < 0) 0 else HighRankSizes(i)))
    },
    fetchPage = (tier, division, page) => {
      request("page", s"$tier-$division-$page")
      val first = 100 + Crawl.LowDivisions.indexOf(division) * 2 * PageSize + (page - 1) * PageSize
      Some(ladder(tier, first, if (page <= 2) PageSize else 0))
    },
    fetchMatchList = (puuid, w) => {
      val a = request("matchlist", s"$puuid@${w.startEpoch}")
      // player q's list is ListSize consecutive ids from position 2q, so
      // neighbouring lists overlap and together cover the whole window
      outcome(playerClass.get(puuid), a) {
        val ids = windowIds.getOrElse(w.startEpoch, IndexedSeq.empty)
        val q = playerIds.indexOf(puuid.takeRight(4).toInt)
        if (ids.isEmpty) Nil else (0 until ListSize).map(j => ids((2 * q + j) % ids.size))
      } match {
        case ok @ Resilience.Ok(ids) => listed ++= ids; ok
        case other => other
      }
    },
    fetchMatch = id => {
      val a = request("match", id)
      outcome(matchClass.get(id), a)(corpus.matchJson(games(id))) match {
        case ok: Resilience.Ok[String] => matchOk += id; ok
        case other => other
      }
    },
    fetchTimeline = id => {
      val a = request("timeline", id)
      outcome(timelineClass.get(id), a)(corpus.timelineJson(games(id))) match {
        case ok: Resilience.Ok[String] => timelineOk += id; ok
        case other => other
      }
    })
}

object CrawlStubs {
  val Players = 400
  val HighRanks: Seq[String] = Crawl.HighRanks
  val HighRankSizes: Seq[Int] = Seq(20, 20, 10)
  val PageSize = 10
  val ListSize = 12
  val NoDataShare = 0.04
  val PersistentShare = 0.02
  val TransientShare = 0.08
}

/** `crawl_redrive`: `Crawl.run` once per 2-day window over the stub API on
  * the virtual clock, under the reference's limits (100 requests per 120 s
  * and 500 per 600 s). A virtual deadline cuts each run's walk, so
  * leftovers land; the third window lists no new matches and only
  * re-drives the leftovers, which must drain. Every run uses the same
  * root, where the leftovers it re-drives live. After each run the batches
  * it landed are handed to the ETL: moved to `raw/w<k>/matches` and
  * `raw/w<k>/timelines`, the per-window layout `etl_backfill` reads.
  * Left in place, they would be overwritten: `Crawl.run` numbers its
  * batches from 1 in every call (METRICS.md, "Known defects"). */
final class CrawlRedrive(spark: SparkSession, o: Main.Opts, spans: Spans) extends Main.Workload {
  import CrawlRedrive._

  private val idsPerWindow = 10 * math.max(1, o.seconds)
  private val windows = (0 until Calls).map(k =>
    Windows.WindowState(T0 + k * Windows.NormalStepSec, T0 + (k + 1) * Windows.NormalStepSec))

  final case class Result(stubs: CrawlStubs, vc: VirtualClock, apiMs: Long, calls: Seq[Double],
      reports: Seq[(Option[String], Option[Crawl.ProcessorReport], Seq[Crawl.LeftoverReport])],
      failed: Int)

  def setup(): Unit = {
    val warm = new CrawlRedrive(spark, o.copy(seed = o.seed + 7919, seconds = 1), spans)
    // warm-up: the first window of a small crawl of another seed
    warm.crawl(o.runDir.resolve("warm"), 1)
    Main.deleteTree(o.runDir.resolve("warm"))
  }

  private def crawl(out: Path, n: Int): Result = {
    val vc = new VirtualClock(windows.head.endEpoch * 1000L, o.seed)
    val stubs = new CrawlStubs(spark, o.seed, vc, windows.take(ContentWindows), idsPerWindow)
    val root = out.resolve("crawl")
    var apiMs = 0L
    var failed = 0
    val results = (0 until n).map { k =>
      val w = windows(k)
      stubs.call = k
      // each run starts two hours after its window closes
      vc.moveTo((w.endEpoch + 7200) * 1000L)
      val start = vc.nowMs
      val limiter = new Resilience.SlidingWindowRateLimiter(Limits, vc.clock)
      val breaker = new Resilience.CircuitBreaker(clock = vc.clock)
      val r = try {
        val (report, s) = Main.timed(spans(s"Crawl.run window $k") {
          Crawl.run(spark, root.toString, w, MaxPlayers, w.endEpoch, stubs.sources, limiter,
            breaker, deadlineEpoch = start / 1000 + BudgetS, clock = vc.clock)
        })
        (report, Some(s))
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] crawl window $k failed: $e")
        ((None, None, Nil), None)
      }
      apiMs += vc.nowMs - start
      Landed.foreach { case (kind, to) =>
        val from = root.resolve(kind)
        if (Files.exists(from)) {
          Files.createDirectories(out.resolve(s"raw/w$k"))
          Files.move(from, out.resolve(s"raw/w$k/$to"))
        }
      }
      r
    }
    Result(stubs, vc, apiMs, results.flatMap(_._2), results.map(_._1), failed)
  }

  def pass(out: Path, tracer: Option[Tracer]): Main.Pass = {
    tracer.foreach(_.begin())
    val t0 = System.currentTimeMillis()
    val (r, runS) = Main.timed(crawl(out, Calls))
    val t1 = System.currentTimeMillis()
    val traced = tracer.map(_.end(t0, t1))
    val landedMatches = r.reports.flatMap(_._2).map(_.total).sum +
      r.reports.flatMap(_._3).map(_.total).sum
    val walked = landedMatches + r.reports.flatMap(_._2).map(_.noData).sum +
      r.reports.flatMap(_._3).map(_.noData).sum
    val s = r.stubs
    val served = s.attempts.keys
    val guardedSeen = served.count(k => k._2 != "rank" && k._2 != "page")
    val guardedMade = MaxPlayers * Calls + 2 * walked
    val leftovers = r.reports.flatMap(_._2).flatMap(_.leftoverKey)
      .map(_.split("_").reverse(1).toDouble).sum
    val docs = 2.0 * landedMatches
    val layer = Map(
      "driver.windows" -> Calls.toDouble,
      "sources.fetch_calls" -> s.calls.toDouble,
      "sources.fetch_retries" -> (s.calls - served.size).toDouble,
      "sources.breaker_rejects" -> (guardedMade - guardedSeen).toDouble,
      "sources.api_wait_s" -> r.vc.sleptMs / 1000.0,
      "sources.matches_per_api_hour" -> landedMatches / (r.apiMs / 3600000.0),
      "driver.useful_fetch_ratio" -> docs / s.calls,
      "driver.leftover_ids" -> leftovers,
      "driver.redrive_runs" -> r.reports.map(_._3.size).sum.toDouble,
      "sinks.bytes_per_doc" -> Main.treeBytes(out.resolve("raw")) / math.max(1.0, docs))
    Main.Pass(runS, r.calls, Calls, r.failed, layer, traced, () => check(out, r))
  }

  private def check(out: Path, r: Result): (Int, Int, Seq[String]) = {
    val s = r.stubs
    def ids(kind: String): Seq[String] =
      if (!Files.exists(out.resolve("raw"))) Nil
      else spark.read.json(out.resolve(s"raw/*/$kind/*").toString)
        .select(col("metadata.matchId")).collect().map(_.getString(0)).toSeq
    val Seq(matches, timelines) = Landed.map(l => ids(l._2))
    val succeeded = s.listed.filter(id => s.matchOk(id) && s.timelineOk(id)).toSet
    val noData = r.reports.flatMap(_._2).map(_.noData).sum + r.reports.flatMap(_._3).map(_.noData).sum
    val leftoverDir = out.resolve("crawl/backfill/leftovers")
    val remaining = if (!Files.exists(leftoverDir)) Nil else {
      val st = Files.list(leftoverDir)
      try st.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("leftovers_")).toSeq
      finally st.close()
    }
    val checks = Seq(
      "leftovers drained" -> (remaining.isEmpty, s"leftover files left: ${remaining.size}"),
      "landed once" -> (matches.size == matches.distinct.size &&
        timelines.size == timelines.distinct.size,
        s"match docs ${matches.size} (${matches.distinct.size} ids), timeline docs ${timelines.size}"),
      "landed = succeeded" -> (matches.toSet == succeeded && timelines.toSet == succeeded,
        s"landed ${matches.toSet.size}, stub fetch pairs that succeeded ${succeeded.size}"),
      "every id accounted" -> (matches.size + noData == s.listed.size,
        s"listed ${s.listed.size} = landed ${matches.size} + no-data $noData"))
    val detail = checks.map { case (name, (ok, d)) => s"${if (ok) "ok" else "FAILED"} $name: $d" }
    (checks.size, checks.count(!_._2._1), detail)
  }
}

object CrawlRedrive {
  /** 2025-07-01 00:00 UTC. */
  val T0: Long = 1751328000L
  val Calls = 3
  val ContentWindows = 2
  val MaxPlayers = 60
  val BudgetS = 200L
  val Limits: Seq[(Int, Long)] = Seq((100, 120L), (500, 600L))
  /** The directories `Crawl.run` lands documents in, under its root, and
    * the name each takes in the ETL's per-window input. */
  val Landed: Seq[(String, String)] = Seq("match" -> "matches", "match_timeline" -> "timelines")
}
