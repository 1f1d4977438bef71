package perfbench

/** Seeded Riot match-v5-shaped documents: matches, timelines and player
  * maps. Every value is a pure function of (seed, entity, field), so the
  * benchmark can write the documents and, independently, compute the rows
  * the pipeline must land from them.
  *
  * Shape: 10 participants per match (or an empty participants array, the
  * edge `Pipeline.run` drops), one timeline frame
  * per minute of `gameDuration`, a few events per frame, and challenge
  * fields that appear as the patch advances every five days. */
final class LolCorpus(seed: Long, playerPool: Int = 200) {
  import LolCorpus._

  private def h(xs: Long*): Long = {
    var z = seed * 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      z = (z ^ x) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
    }
    z
  }
  private def u(xs: Long*): Double = (h(xs: _*) >>> 11) * (1.0 / (1L << 53))
  private def int(lo: Int, hi: Int, xs: Long*): Int = lo + (u(xs: _*) * (hi - lo + 1)).toInt

  def puuid(p: Int): String = f"pu-$seed%x-$p%04d"

  /** One match. `ordinal` names it and draws its values; `day` (counted
    * from `startMs`) places its `gameCreation` and picks its patch; an
    * `empty` match has no participants. */
  def game(ordinal: Long, startMs: Long, day: Int, empty: Boolean = false): Game = {
    val creation = startMs + day * DayMs + (u(ordinal, 1) * (DayMs - 3600000L)).toLong
    val patch = day / PatchDays
    val duration = int(1200, 2400, ordinal, 2)
    val teamWin = u(ordinal, 4) < 0.5
    // ten distinct players from the pool
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Int]
    var k = 0L
    while (chosen.size < 10) { chosen += int(0, playerPool - 1, ordinal, 5, k); k += 1 }
    val parts =
      if (empty) Vector.empty
      else chosen.toVector.zipWithIndex.map { case (p, i) =>
        val id = i + 1
        Player(id, puuid(p), Champions(int(0, Champions.size - 1, ordinal, 6, id)),
          win = (id <= 5) == teamWin,
          kills = int(0, 15, ordinal, 7, id), deaths = int(0, 12, ordinal, 8, id),
          assists = int(0, 20, ordinal, 9, id), gold = int(5000, 20000, ordinal, 10, id),
          soloKills = int(0, 3, ordinal, 11, id),
          abilityUses = if (patch >= 1) Some(int(50, 900, ordinal, 12, id)) else None,
          takedowns = if (patch >= 2) Some(int(0, 6, ordinal, 13, id)) else None,
          dpm = int(2000, 120000, ordinal, 14, id) / 100.0)
      }
    Game(f"NA1_${seed % 100000}%05d${ordinal}%07d", creation, duration, s"15.${14 + patch}.1", parts)
  }

  def matchJson(g: Game): String = {
    val sb = new StringBuilder
    sb ++= s"""{"metadata":{"dataVersion":"2","matchId":"${g.id}","participants":["""
    sb ++= g.players.map(p => "\"" + p.puuid + "\"").mkString(",")
    sb ++= s"""]},"info":{"gameCreation":${g.creationMs},"gameDuration":${g.durationS},"""
    sb ++= s""""gameVersion":"${g.version}","mapId":11,"queueId":420,"participants":["""
    var first = true
    g.players.foreach { p =>
      if (!first) sb += ','
      first = false
      val o = p.id.toLong
      sb ++= s"""{"participantId":${p.id},"puuid":"${p.puuid}","championName":"${p.champion}","""
      sb ++= s""""teamId":${if (p.id <= 5) 100 else 200},"win":${p.win},"kills":${p.kills},"""
      sb ++= s""""deaths":${p.deaths},"assists":${p.assists},"goldEarned":${p.gold},"""
      sb ++= s""""totalMinionsKilled":${int(20, 300, o, 20, g.creationMs)},"visionScore":${int(0, 90, o, 21, g.creationMs)},"""
      sb ++= s""""challenges":{"kda":${"%.2f".formatLocal(java.util.Locale.ROOT, (p.kills + p.assists) / math.max(1.0, p.deaths))},"""
      sb ++= s""""soloKills":${p.soloKills},"damagePerMinute":${p.dpm},"""
      sb ++= s""""legendaryItemUsed":[${3000 + p.id},${3100 + p.id}]"""
      p.abilityUses.foreach(v => sb ++= s""","abilityUses":$v""")
      p.takedowns.foreach(v => sb ++= s""","takedownsFirstXMinutes":$v""")
      sb ++= s"""},"missions":{"playerScore0":${p.kills},"playerScore1":${p.assists}},"""
      sb ++= s""""perks":{"statPerks":{"defense":5001,"flex":5008,"offense":${5005 + p.id % 3}},"""
      sb ++= s""""styles":[{"style":8100,"selections":[{"perk":8112},{"perk":8126},{"perk":8138},{"perk":${8100 + p.id}}]},"""
      sb ++= s"""{"style":8300,"selections":[{"perk":8345},{"perk":${8300 + p.id}}]}]}}"""
    }
    sb ++= """]},"source":"prod"}"""
    sb.toString
  }

  def frames(g: Game): Int = g.durationS / 60

  def gold(g: Game, frame: Int, pid: Int): Long = 500L + frame * 310L + int(0, 250, g.creationMs, frame, pid)

  def timelineJson(g: Game): String = {
    val sb = new StringBuilder
    sb ++= s"""{"metadata":{"matchId":"${g.id}"},"info":{"endOfGameResult":"GameComplete","""
    sb ++= s""""frameInterval":60000,"participants":["""
    sb ++= g.players.map(p => s"""{"participantId":${p.id},"puuid":"${p.puuid}"}""").mkString(",")
    sb ++= """],"frames":["""
    (1 to frames(g)).foreach { f =>
      if (f > 1) sb += ','
      sb ++= s"""{"timestamp":${f * 60000L},"events":["""
      val nEvents = int(1, 4, g.creationMs, f, 99)
      sb ++= (0 until nEvents).map { e =>
        val t = f * 60000L + int(0, 59999, g.creationMs, f, e)
        s"""{"type":"${EventTypes(int(0, EventTypes.size - 1, g.creationMs, f, e, 1))}","timestamp":$t,""" +
          s""""realTimestamp":${g.creationMs + t},"participantId":${int(1, 10, g.creationMs, f, e, 2)}}"""
      }.mkString(",")
      sb ++= """],"participantFrames":{"""
      sb ++= (1 to 10).map { pid =>
        val lvl = math.min(18, 1 + f / 2)
        s""""$pid":{"championStats":{"abilityPower":${int(0, 400, g.creationMs, f, pid, 1)},""" +
          s""""armor":${30 + f},"attackDamage":${int(50, 300, g.creationMs, f, pid, 2)},"health":${600 + 80 * lvl}},""" +
          s""""damageStats":{"totalDamageDone":${f * int(300, 900, g.creationMs, pid, 3)},""" +
          s""""totalDamageTaken":${f * int(200, 700, g.creationMs, pid, 4)}},""" +
          s""""position":{"x":${int(0, 14800, g.creationMs, f, pid, 5)},"y":${int(0, 14800, g.creationMs, f, pid, 6)}},""" +
          s""""currentGold":${gold(g, f, pid)},"level":$lvl,"xp":${f * 280},""" +
          s""""minionsKilled":${f * 6},"jungleMinionsKilled":${f % 4}}"""
      }.mkString(",")
      sb ++= "}}"
    }
    sb ++= "]}}"
    sb.toString
  }

  /** One rank snapshot of every pool player, as a puuid-keyed document. */
  def playerMapJson(snapshot: Int): String =
    (0 until playerPool).map { p =>
      s""""${puuid(p)}":{"tier":"${Tiers(int(0, Tiers.size - 1, p, 30))}","player_rank":"I",""" +
        s""""leaguePoints":${int(0, 1500, p, 31, snapshot)},"wins":${int(50, 400, p, 32) + snapshot},""" +
        s""""losses":${int(50, 400, p, 33)},"time_stamp":${1753700000L + snapshot}}"""
    }.mkString("{", ",", "}")

  /** The `player_data` key columns the pipeline must land for `g`. */
  def playerRows(g: Game): Seq[String] = g.players.map { p =>
    Seq(g.id, p.puuid, g.creationMs, p.champion, p.kills, p.deaths, p.assists,
      p.gold, p.win, p.soloKills, p.abilityUses.getOrElse(Null)).mkString("|")
  }

  /** The `timeline_data` key columns the pipeline must land for `g`. */
  def timelineRows(g: Game): Seq[String] =
    if (g.players.isEmpty) Nil
    else for (f <- 1 to frames(g); p <- g.players)
      yield Seq(g.id, p.id, f * 60000L, gold(g, f, p.id), p.puuid).mkString("|")
}

object LolCorpus {
  val DayMs: Long = 86400000L
  val PatchDays = 5
  val Null = "<null>"
  val Champions: IndexedSeq[String] = IndexedSeq("Ahri", "Garen", "Lux", "Jinx", "Thresh",
    "LeeSin", "Yasuo", "Ezreal", "Leona", "Darius", "Ornianna", "Kaisa", "Sett",
    "Vi", "Zed", "Nami", "Sejuani", "Viego", "Jhin", "Maokai")
  val EventTypes: IndexedSeq[String] = IndexedSeq("CHAMPION_KILL", "ITEM_PURCHASED",
    "SKILL_LEVEL_UP", "WARD_PLACED", "LEVEL_UP", "ELITE_MONSTER_KILL")
  val Tiers: IndexedSeq[String] = IndexedSeq("CHALLENGER", "GRANDMASTER", "MASTER", "DIAMOND")

  final case class Player(id: Int, puuid: String, champion: String, win: Boolean,
      kills: Int, deaths: Int, assists: Int, gold: Int, soloKills: Int,
      abilityUses: Option[Int], takedowns: Option[Int], dpm: Double)
  final case class Game(id: String, creationMs: Long, durationS: Int, version: String,
      players: Vector[Player])

  /** Writes `docs` as `files` JSON-array files (the multiLine shape
    * `Pipeline.run` reads). */
  def writeArrays(dir: java.nio.file.Path, docs: Seq[String], files: Int): Unit = {
    java.nio.file.Files.createDirectories(dir)
    val per = math.max(1, (docs.size + files - 1) / files)
    docs.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      java.nio.file.Files.writeString(dir.resolve(f"part-$i%05d.json"),
        chunk.mkString("[", ",\n", "]"))
    }
  }
}
