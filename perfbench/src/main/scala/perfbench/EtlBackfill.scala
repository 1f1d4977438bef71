package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.driver.{Pipeline, Windows}

/** `etl_backfill`: a seeded corpus spread over 10 days, landed as one raw
  * batch directory per window, then one `Pipeline.run` per window through
  * `Windows.step`. The runs follow the reference's accelerated cadence, one
  * run per daily cron tick, with the first tick 13 days after the corpus
  * start: far enough behind that the first two windows take the
  * accelerated 4-day step and the third the normal 2-day step. Each window
  * holds one crawl batch of matches (200 at `--seconds 10`). `player_data`
  * accumulates across windows, so each window's read-back scans more than
  * the one before. */
final class EtlBackfill(spark: SparkSession, o: Main.Opts, spans: Spans) extends Main.Workload {
  import EtlBackfill._

  private val corpus = new LolCorpus(o.seed)
  /** Matches per window; the pass scales with `--seconds`. */
  private val perWindow = 20 * math.max(1, o.seconds)
  private val raw = o.runDir.resolve("raw")
  private val bootstrap = Windows.WindowState(StartS - 2 * Day, StartS)

  /** The windows `Windows.step` must choose, replayed independently. */
  val schedule: Seq[Windows.WindowState] = {
    var end = bootstrap.endEpoch
    (0 until Runs).map { k =>
      val step = if (nowOf(k) - end > 7 * Day) 4 * Day else 2 * Day
      val w = Windows.WindowState(end, end + step)
      end += step
      w
    }
  }

  /** Games of window `k`: its own days, plus late games from window k-1. */
  private def games(k: Int): (Seq[LolCorpus.Game], Seq[LolCorpus.Game]) = {
    val w = schedule(k)
    val firstDay = ((w.startEpoch - StartS) / Day).toInt
    val days = ((w.endEpoch - w.startEpoch) / Day).toInt
    // the window's matches, spread over its days; the first match of
    // every other day has an empty participants array
    val inWindow = (0 until perWindow).map { j =>
      val d = firstDay + j % days
      corpus.game(k * 100000L + j, StartS * 1000L, d, empty = j < days && d % 2 == 1)
    }
    val late =
      if (k == 0) Nil
      else {
        val prev = schedule(k - 1)
        val prevFirst = ((prev.startEpoch - StartS) / Day).toInt
        val prevDays = ((prev.endEpoch - prev.startEpoch) / Day).toInt
        (0 until math.max(1, math.round(inWindow.size * LateShare).toInt)).map { j =>
          corpus.game(900000L + k * 1000L + j, StartS * 1000L, prevFirst + j % prevDays)
        }
      }
    (inWindow, late)
  }

  private var inputDocs = 0L

  private def generate(dir: Path): Unit = {
    Main.deleteTree(dir)
    var docs = 0L
    (0 until Runs).foreach { k =>
      val (in, late) = games(k)
      val all = in ++ late
      LolCorpus.writeArrays(dir.resolve(s"w$k/matches"), all.map(corpus.matchJson), FilesPerBatch)
      LolCorpus.writeArrays(dir.resolve(s"w$k/timelines"), all.map(corpus.timelineJson), FilesPerBatch)
      java.nio.file.Files.writeString(dir.resolve(s"w$k/player_map.json"), corpus.playerMapJson(k))
      docs += 2L * all.size + 1
    }
    inputDocs = docs
  }

  def setup(): Unit = {
    // the corpus is written three times and the first copy kept; set-up
    // time counts one generation, at the median of the three
    val gens = (0 until 3).map { i =>
      val dir = if (i == 0) raw else o.runDir.resolve(s"raw_$i")
      Main.timed(generate(dir))._2
    }
    (1 until 3).foreach(i => Main.deleteTree(o.runDir.resolve(s"raw_$i")))
    repeated = gens.sum - Stats.quantile(gens, 0.5)
    // warm-up: the first window of a small corpus of another seed
    val warm = new EtlBackfill(spark, o.copy(seed = o.seed + 7919, seconds = 1,
      runDir = o.runDir.resolve("warm")), spans)
    warm.generate(warm.raw)
    warm.runWindows(o.runDir.resolve("warm/out"), 1)
    Main.deleteTree(o.runDir.resolve("warm"))
  }
  private var repeated = 0.0
  override def repeatedSetupS: Double = repeated

  /** The windows each call chose, and the wall time of each call that
    * returned; a call that throws is a failed operation. */
  private def runWindows(out: Path, n: Int): (Seq[Option[Windows.WindowState]], Seq[Double], Int) = {
    val results = (0 until n).map { k =>
      val w = raw.resolve(s"w$k")
      try {
        val (state, s) = Main.timed(spans(s"Pipeline.run window $k") {
          Pipeline.run(spark, w.resolve("matches").toString, w.resolve("timelines").toString,
            w.resolve("player_map.json").toString, out.resolve("tables").toString,
            out.resolve("state.json").toString, nowOf(k), bootstrap)
        })
        (state, Some(s))
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] window $k failed: $e")
        (None, None)
      }
    }
    (results.map(_._1), results.flatMap(_._2), results.count(_._2.isEmpty))
  }

  def pass(out: Path, tracer: Option[Tracer]): Main.Pass = {
    tracer.foreach(_.begin())
    val t0 = System.currentTimeMillis()
    val ((windows, calls, failed), runS) = Main.timed(runWindows(out, Runs))
    val t1 = System.currentTimeMillis()
    val traced = tracer.map(_.end(t0, t1))
    val layer = Map(
      "driver.windows" -> windows.count(_.isDefined).toDouble,
      "sinks.bytes_per_doc" -> Main.treeBytes(out.resolve("tables")).toDouble / inputDocs)
    Main.Pass(runS, calls, Runs, failed, layer, traced, () => check(out, windows))
  }

  private def check(out: Path, windows: Seq[Option[Windows.WindowState]]): (Int, Int, Seq[String]) = {
    val expected = (0 until Runs).map(games(_)._1)
    val players = expected.flatten.flatMap(corpus.playerRows)
    val timelines = expected.flatten.flatMap(corpus.timelineRows)
    val tables = out.resolve("tables")
    def landed(table: String, cols: Seq[String]): Seq[String] = {
      val df = spark.read.option("mergeSchema", "true").parquet(tables.resolve(table).toString)
      df.select(concat_ws("|", cols.map { c =>
        if (df.columns.contains(c)) coalesce(col(c).cast("string"), lit(LolCorpus.Null))
        else lit(LolCorpus.Null)
      }: _*)).collect().map(_.getString(0)).toSeq
    }
    val checks = Seq(
      "windows" -> (windows == schedule.map(Some(_)),
        s"windows ${windows.flatten.map(w => s"[${w.startEpoch},${w.endEpoch})").mkString(" ")}"),
      compare("player_data", players, landed("player_data", PlayerCols)),
      compare("timeline_data", timelines, landed("timeline_data", TimelineCols)),
      {
        val n = spark.read.json(tables.resolve("player_ranks_data").toString).count()
        "player_ranks_data" -> (n == PlayerPool, s"player_ranks_data rows $n")
      })
    val detail = checks.map { case (name, (ok, d)) => s"${if (ok) "ok" else "FAILED"} $name: $d" }
    (checks.size, checks.count(!_._2._1), detail)
  }
}

object EtlBackfill {
  val Day: Long = 86400L
  /** 2025-07-01 00:00 UTC. */
  val StartS: Long = 1751328000L
  /** The clock of run `k`: the reference's cron fires daily while the
    * window lags (`functions.sh:12-13`), from 13 days after the corpus start. */
  def nowOf(k: Int): Long = StartS + (13 + k) * Day
  val Runs = 3
  val FilesPerBatch = 4
  val LateShare = 0.03
  val PlayerPool = 200
  val PlayerCols: Seq[String] = Seq("matchId", "puuid", "gameCreation", "championName",
    "kills", "deaths", "assists", "goldEarned", "win", "soloKills", "abilityUses")
  val TimelineCols: Seq[String] = Seq("matchId", "participantId", "timestamp",
    "currentGold", "puuid")

  /** Row count and an order-independent hash of both sides. */
  def compare(name: String, expected: Seq[String], landed: Seq[String]): (String, (Boolean, String)) = {
    def hash(xs: Seq[String]) = xs.foldLeft(0L)((acc, s) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(s).toLong * 0x9E3779B97F4A7C15L)
    val (he, hl) = (hash(expected), hash(landed))
    name -> (expected.size == landed.size && he == hl,
      f"$name rows ${landed.size} (expected ${expected.size}), hash $hl%016x (expected $he%016x)")
  }
}
