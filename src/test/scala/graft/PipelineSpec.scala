package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.driver.{Pipeline, Windows}

/** End-to-end pipeline over the LoL fixtures: the full §3.2 Lambda ETL
  * chain, composed, against real nested documents. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("matchEtl: participants → wide player_data rows, reference layout") {
    val out = Pipeline.matchEtl(readLol("match.json"))
    assert(out.count() == 3) // 2 + 1 participants
    val cols = out.columns.toSet
    // enrichment + identity columns
    assert(Set("matchId", "gameCreation", "gameVersion", "mapId", "source",
      "championName", "puuid", "win", "kills").subsetOf(cols))
    // perks unnest + prefix strip + blacklist
    assert(cols.contains("Primary_slot_1_perk") && cols.contains("Secondary_style"))
    assert(cols.contains("kda") && cols.contains("playerScore0"))
    assert(cols.contains("challenges_deep")) // replace-first kept one prefix
    assert(!out.columns.exists(_.contains("legendaryItemUsed")))
    assert(!cols.contains("perks"))
    val ahri = out.filter($"championName" === "Ahri").head()
    assert(ahri.getAs[String]("matchId") == "NA1_5200190036")
    assert(ahri.getAs[Long]("Primary_slot_1_perk") == 8112L)
    assert(ahri.getAs[Double]("kda") == 3.5)
  }

  test("timelineEtl: frames × participantFrames with hoist and puuid join") {
    val out = Pipeline.timelineEtl(readLol("timeline.json"))
    assert(out.count() == 6) // 2 frames × 3 participants
    val cols = out.columns.toSet
    assert(Set("matchId", "participantId", "puuid", "timestamp", "currentGold",
      "abilityPower", "armor", "totalDamageDone", "position_x").subsetOf(cols))
    val r = out.filter($"participantId" === 10 && $"timestamp" === 60000).head()
    assert(r.getAs[String]("puuid") == "p-010")
    assert(r.getAs[Long]("currentGold") == 610L)
  }

  test("matchEtl/timelineEtl: empty batch lands zero rows, no crash") {
    assert(Pipeline.matchEtl(readLol("match.json").filter(lit(false))).count() == 0)
    assert(Pipeline.timelineEtl(readLol("timeline.json").filter(lit(false))).count() == 0)
  }

  test("timelineEtl: a batch holding one timeline twice lands each row once per document") {
    val dir = Files.createTempDirectory("graft_tl_dup")
    val in = java.nio.file.Paths.get(new java.net.URI(TestSpark.fixture("timeline.json")))
    Files.copy(in, dir.resolve("a.json"))
    Files.copy(in, dir.resolve("b.json"))
    val out = Pipeline.timelineEtl(
      spark.read.option("multiLine", true).json(dir.toString))
    // the reference's per-document puuid dict: 2 documents × 6 rows, never
    // the 4× of a (matchId, participantId) join across the documents
    assert(out.count() == 12)
    val perRow = out.groupBy("participantId", "timestamp", "puuid").count()
    assert(perRow.count() == 6 && perRow.filter($"count" =!= 2).isEmpty)
  }

  test("timelineEtl: a participant missing from info.participants gets a null puuid") {
    val doc =
      """{"metadata": {"matchId": "NA1_MISSING"},
        | "info": {"endOfGameResult": "GameComplete",
        |   "participants": [{"participantId": 1, "puuid": "p-001"}],
        |   "frames": [{"timestamp": 60000, "participantFrames": {
        |     "1": {"currentGold": 500, "level": 1, "xp": 0,
        |       "championStats": {"armor": 30}, "damageStats": {"totalDamageDone": 5},
        |       "position": {"x": 1, "y": 2}},
        |     "3": {"currentGold": 450, "level": 1, "xp": 0,
        |       "championStats": {"armor": 28}, "damageStats": {"totalDamageDone": 7},
        |       "position": {"x": 3, "y": 4}}}}]}}""".stripMargin
    val out = Pipeline.timelineEtl(spark.read.json(Seq(doc).toDS()))
    assert(out.columns.head == "matchId" && out.columns(1) == "participantId" &&
      out.columns.last == "puuid")
    val puuids = out.select($"participantId", $"puuid").as[(Long, Option[String])]
      .collect().toMap
    assert(puuids == Map(1L -> Some("p-001"), 3L -> None))
  }

  /** The player-map stage's inputs for the document(s) at `path`: the whole
    * text and the inferred per-puuid schema. */
  private def playerMap(path: String) = Pipeline.playerMapEtl(
    spark.read.option("wholetext", true).text(path),
    spark.read.option("multiLine", true).json(path).schema)

  test("playerMapEtl: puuid map → ranked rows") {
    val out = playerMap(TestSpark.fixture("player_map.json"))
    assert(out.count() == 3)
    assert(out.filter($"puuid" === "p-003").select("leaguePoints")
      .head().getLong(0) == 1201L)
  }

  test("playerMapEtl: the plan does not grow with the player count") {
    val dir = Files.createTempDirectory("graft_pm_wide")
    val doc = (1 to 1000).map(i =>
      f"""  "p-$i%04d": { "tier": "MASTER", "player_rank": "I", "leaguePoints": $i, """ +
        s""""wins": ${100 + i}, "losses": 90, "time_stamp": 1753700000 }""")
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(dir.resolve("player_map.json"), doc.getBytes("UTF-8"))
    val small = playerMap(TestSpark.fixture("player_map.json"))
    val wide = playerMap(dir.resolve("player_map.json").toString)
    assert(wide.count() == 1000)
    assert(wide.columns.toSeq == small.columns.toSeq)
    def expressions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.map(_.expressions.map(_.collect { case e => e }.size).sum).sum
    assert(expressions(wide) == expressions(small))
  }

  test("run: full batch lands partitioned outputs and advances the window") {
    val dir = Files.createTempDirectory("graft_pipe").toString
    val state = s"$dir/state.json"
    val day = 24 * 3600L
    val now = 1754000000L
    def fx(n: String) = TestSpark.fixture(n)
    // bootstrap (now-6d, now-4d) → processed window [now-4d, now-2d),
    // covering both fixture matches (gameCreation 2025-07-28/29 12:00)
    val w = Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
      fx("player_map.json"), s"$dir/out", state, now,
      Windows.WindowState(now - 6 * day, now - 4 * day))
    assert(w.isDefined)
    // player_data partitioned by gameCreation event date (2025-07-28/29)
    val players = spark.read.parquet(s"$dir/out/player_data")
    assert(players.count() == 3)
    assert(players.select("year").distinct().as[Int].collect().toSet == Set(2025))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/out/player_data/year=2025/month=07/day=28")))
    assert(spark.read.parquet(s"$dir/out/timeline_data").count() == 6)
    assert(spark.read.json(s"$dir/out/player_ranks_data").count() == 3)
    // state advanced and persisted
    assert(graft.sinks.Writers.readState(state).exists(_._1 == now - 4 * day))
  }

  test("run: the processed window FILTERS the batch, not just cadences it") {
    val dir = Files.createTempDirectory("graft_pipe_w").toString
    val day = 24 * 3600L
    val now = 1754000000L
    def fx(n: String) = TestSpark.fixture(n)
    // bootstrap (now-7d, now-5d) → window [now-5d, now-3d): covers ONLY
    // NA1_5200190036 (07-28 12:00); 037 (07-29 12:00) is out-of-window
    val w = Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
      fx("player_map.json"), s"$dir/out", s"$dir/state.json", now,
      Windows.WindowState(now - 7 * day, now - 5 * day))
    assert(w.isDefined)
    val players = spark.read.parquet(s"$dir/out/player_data")
    assert(players.count() == 2) // only match 036's two participants
    assert(players.select("matchId").distinct().as[String].collect().toSet ==
      Set("NA1_5200190036"))
    // timeline semi-join keeps only windowed matchIds (036 IS the fixture)
    assert(spark.read.parquet(s"$dir/out/timeline_data").count() == 6)
  }

  test("run: incremental second run does NOT re-land prior windows' timelines") {
    val dir = Files.createTempDirectory("graft_pipe_inc").toString
    val state = s"$dir/state.json"
    val day = 24 * 3600L
    val now = 1754000000L
    def fx(n: String) = TestSpark.fixture(n)
    // run 1: window [now-5d, now-3d) covers only 036 → 2 players, 6 timeline rows
    assert(Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
      fx("player_map.json"), s"$dir/out", state, now,
      Windows.WindowState(now - 7 * day, now - 5 * day)).isDefined)
    assert(spark.read.parquet(s"$dir/out/timeline_data").count() == 6)
    // run 2 (clock +2d): window [now-3d, now-1d) covers only 037, whose
    // timeline isn't in the fixture. The read-back of player_data now sees
    // BOTH runs' partitions — without re-applying the window, 036's
    // timeline would be re-landed under run 2's ingest_ts partition.
    assert(Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
      fx("player_map.json"), s"$dir/out", state, now + 2 * day,
      sys.error("state must exist")).isDefined)
    val players = spark.read.parquet(s"$dir/out/player_data")
    assert(players.count() == 3) // 036's two + 037's one, accumulated
    val tl = spark.read.parquet(s"$dir/out/timeline_data")
    assert(tl.count() == 6, "second run duplicated prior-window timelines")
  }

  test("run: an empty first window lands nothing and does not crash") {
    val dir = Files.createTempDirectory("graft_pipe_empty").toString
    val day = 24 * 3600L
    val now = 1754000000L
    def fx(n: String) = TestSpark.fixture(n)
    // first window [now-7d, now-5d) predates the fixtures → zero matches;
    // the player_data read-back must not die on parquet schema inference
    val w = Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
      fx("player_map.json"), s"$dir/out", s"$dir/state.json", now,
      Windows.WindowState(now - 9 * day, now - 7 * day))
    assert(w.isDefined)
    val tlDir = java.nio.file.Paths.get(s"$dir/out/timeline_data")
    assert(!Files.exists(tlDir) ||
      spark.read.option("multiLine", true).schema("matchId STRING")
        .parquet(tlDir.toString).count() == 0)
    // and the NEXT run, whose window [now-5d, now-3d) covers match 036,
    // proceeds normally over the same output dirs
    assert(Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
      fx("player_map.json"), s"$dir/out", s"$dir/state.json", now,
      sys.error("state must exist")).isDefined)
    assert(spark.read.parquet(s"$dir/out/player_data").count() == 2)
  }

  test("run: empty-participants match lands no players; its timeline is dropped (documented edge)") {
    val dir = Files.createTempDirectory("graft_pipe_nop").toString
    def copyPlus(fixture: String, sub: String, extraDoc: String): String = {
      val in = java.nio.file.Paths.get(new java.net.URI(TestSpark.fixture(fixture)))
      val d = java.nio.file.Paths.get(dir, sub)
      Files.createDirectories(d)
      Files.copy(in, d.resolve(fixture))
      Files.write(d.resolve("extra.json"), extraDoc.getBytes("UTF-8"))
      d.toString
    }
    // a match document whose participants array is EMPTY (in-window date)
    val matchesDir = copyPlus("match.json", "matches",
      """[{"metadata": {"dataVersion": "2", "matchId": "NA1_EMPTYP"},
        |  "info": {"gameCreation": 1753704000000, "gameDuration": 90,
        |           "gameVersion": "15.14.x", "mapId": 11, "participants": []},
        |  "source": "prod"}]""".stripMargin)
    // …and a timeline FOR that match, which has frames but no player rows
    val timelinesDir = copyPlus("timeline.json", "timelines",
      """[{"metadata": {"matchId": "NA1_EMPTYP"},
        |  "info": {"endOfGameResult": "GameComplete", "frameInterval": 60000,
        |    "participants": [],
        |    "frames": [{"timestamp": 60000, "events": [],
        |      "participantFrames": {"1": {"currentGold": 77, "level": 1, "xp": 0,
        |        "championStats": {"abilityPower": 0, "armor": 1},
        |        "damageStats": {"totalDamageDone": 0},
        |        "position": {"x": 1, "y": 2}}}}]}}]""".stripMargin)
    val day = 24 * 3600L
    val now = 1754000000L
    assert(Pipeline.run(spark, matchesDir, timelinesDir,
      TestSpark.fixture("player_map.json"), s"$dir/out", s"$dir/state.json",
      now, Windows.WindowState(now - 7 * day, now - 5 * day)).isDefined)
    val players = spark.read.parquet(s"$dir/out/player_data")
    assert(players.filter($"matchId" === "NA1_EMPTYP").count() == 0)
    val tl = spark.read.parquet(s"$dir/out/timeline_data")
    // deliberate semantics: no attributable players ⇒ the timeline is dropped
    assert(tl.filter($"matchId" === "NA1_EMPTYP").count() == 0)
    assert(tl.filter($"matchId" === "NA1_5200190036").count() == 6)
  }

  test("run: matches JSON scanned exactly 2× (fused stats + write), timelines JSON once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.foreach {
          case lr: LogicalRelation => lr.relation match {
            case rel: HadoopFsRelation =>
              rel.location.rootPaths.foreach(p => scans.add(p.toString))
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = Files.createTempDirectory("graft_pipe_scan").toString
      val day = 24 * 3600L
      val now = 1754000000L
      def fx(n: String) = TestSpark.fixture(n)
      assert(Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
        fx("player_map.json"), s"$dir/out", s"$dir/state.json", now,
        Windows.WindowState(now - 6 * day, now - 4 * day)).isDefined)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val matchScans = scans.toArray.count(_.toString.endsWith("match.json"))
      // 1 = Flatten.statsWith (array lengths and the perks slot counts in
      // one aggregation), 2 = the player_data write; a THIRD scan means the
      // slot probe split off again or the windowed-matchId derivation
      // regressed to re-parsing the raw JSON instead of reading the landed
      // parquet
      assert(matchScans == 2, s"matches JSON scanned $matchScans times:\n$scans")
      // the puuid lookup is in-row: the timeline_data write is the only
      // scan, no self-join re-parses the document
      val timelineScans = scans.toArray.count(_.toString.endsWith("timeline.json"))
      assert(timelineScans == 1, s"timelines JSON scanned $timelineScans times:\n$scans")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs one window over the match/timeline fixtures and a player map
    * written from `doc`; returns the output dir and the processed window. */
  private def runWithPlayerMap(doc: String): (String, Option[Windows.WindowState]) = {
    val dir = Files.createTempDirectory("graft_pipe_pm").toString
    val pm = java.nio.file.Paths.get(dir, "player_map.json")
    Files.write(pm, doc.getBytes("UTF-8"))
    val day = 24 * 3600L
    val now = 1754000000L
    def fx(n: String) = TestSpark.fixture(n)
    (dir, Pipeline.run(spark, fx("match.json"), fx("timeline.json"), pm.toString,
      s"$dir/out", s"$dir/state.json", now, Windows.WindowState(now - 6 * day, now - 4 * day)))
  }

  test("run: an empty player map lands zero rank rows and the window advances") {
    val (dir, w) = runWithPlayerMap("{}\n")
    assert(w.isDefined)
    assert(graft.sinks.Writers.readState(s"$dir/state.json").isDefined)
    assert(spark.read.schema("puuid STRING").json(s"$dir/out/player_ranks_data").count() == 0)
    assert(spark.read.parquet(s"$dir/out/player_data").count() == 3)
  }

  test("run: players whose stats carry different fields share the union row type") {
    // Riot's optional miniSeries: present for one player only
    val (dir, w) = runWithPlayerMap(
      """{
        |  "p-001": { "tier": "MASTER", "player_rank": "I", "leaguePoints": 100, "wins": 30, "losses": 25,
        |             "miniSeries": { "losses": 1, "progress": "WLN", "target": 3, "wins": 1 } },
        |  "p-002": { "tier": "DIAMOND", "player_rank": "II", "leaguePoints": 7, "wins": 15, "losses": 14 }
        |}""".stripMargin)
    assert(w.isDefined)
    val ranks = spark.read.json(s"$dir/out/player_ranks_data")
    assert(ranks.count() == 2)
    assert(ranks.columns.toSet == Set("puuid", "tier", "player_rank", "leaguePoints",
      "wins", "losses", "miniSeries"))
    val series = ranks.select($"puuid", $"miniSeries.progress").as[(String, Option[String])]
      .collect().toMap
    assert(series == Map("p-001" -> Some("WLN"), "p-002" -> None))
  }

  test("processFiles: corrupt/missing files yield typed errors; good files still land") {
    val dir = Files.createTempDirectory("graft_perfile").toString
    val good = TestSpark.fixture("match.json")
    val corrupt = s"$dir/corrupt.json"
    Files.write(java.nio.file.Paths.get(corrupt), "{ this is ] not json".getBytes("UTF-8"))
    val missing = s"$dir/nope/does_not_exist.json"
    val schema = readLol("match.json").schema
    val outcomes = Pipeline.processFiles(spark, Seq(good, corrupt, missing), schema,
      Pipeline.matchEtl,
      (f, df) => {
        val n = df.count()
        df.write.mode("overwrite").parquet(s"$dir/out/${new java.io.File(f).getName}")
        n
      })
    val byFile = outcomes.map(o => o.file -> o).toMap
    // the good file landed despite the bad neighbors (the Lambda's
    // continue-past-the-bad-file contract)
    assert(byFile(good).ok && byFile(good).rows == 3 && byFile(good).statusCode == 200)
    assert(spark.read.parquet(s"$dir/out/match.json").count() == 3)
    // malformed JSON → the KeyError analog: structure, 400, don't retry
    val c = byFile(corrupt)
    assert(!c.ok && c.errorType.contains("data_structure_error") &&
      c.statusCode == 400 && !c.retryable, s"corrupt classified as $c")
    // missing object → the NoSuchKey analog: source, 404, don't retry
    val m = byFile(missing)
    assert(!m.ok && m.errorType.contains("source_error") &&
      m.statusCode == 404 && !m.retryable, s"missing classified as $m")
  }

  test("processFiles: sink failures classify retryable-500; unexpected classify 500") {
    val good = TestSpark.fixture("match.json")
    val schema = readLol("match.json").schema
    val sink = Pipeline.processFiles(spark, Seq(good), schema, identity,
      (_, _) => throw new java.sql.SQLException("deadlock")).head
    assert(!sink.ok && sink.errorType.contains("sink_error") &&
      sink.statusCode == 500 && sink.retryable)
    val boom = Pipeline.processFiles(spark, Seq(good), schema,
      _ => throw new IllegalStateException("wat"), (_, df) => df.count()).head
    assert(!boom.ok && boom.errorType.contains("unexpected_error") &&
      boom.statusCode == 500 && !boom.retryable)
  }

  test("RunConfig: mode defaults, env overrides, test_ batch keys, leftover skip") {
    import graft.driver.{Pipeline, RunConfig}
    // run.sh:162-168 defaults + config_loader.py PLAYER_LIMIT override
    assert(RunConfig.prod.playerLimit == 20000 && !RunConfig.prod.isTest)
    assert(RunConfig.test.playerLimit == 10 && RunConfig.test.isTest)
    assert(RunConfig.fromEnv(Map("RUN_MODE" -> "test", "PLAYER_LIMIT" -> "3",
      "start_epoch" -> "100", "end_epoch" -> "200")) ==
      RunConfig("test", 3, Some(100L), Some(200L)))
    // Utils/S3.py:107-110 key layout, test_-prefixed in test mode
    assert(RunConfig.test.batchKey(2025, 7, 28, "20250728_120000", 40, "match") ==
      "matches/year=2025/month=07/day=28/test_batch_20250728_120000_40_matches.json")
    assert(RunConfig.prod.batchKey(2025, 7, 28, "20250728_120000", 40, "match_timeline") ==
      "matches/year=2025/month=07/day=28/batch_20250728_120000_40_match_timelines.json")
    // EC2/leftover.py:30-31: test mode skips without evaluating the body
    var ran = false
    assert(Pipeline.runLeftovers(RunConfig.test) { ran = true; 42 }.isEmpty && !ran)
    assert(Pipeline.runLeftovers(RunConfig.prod) { ran = true; 42 }.contains(42) && ran)
  }

  test("run: test-mode config caps the landed player snapshot at the player limit") {
    val dir = Files.createTempDirectory("graft_pipe_cfg").toString
    val day = 24 * 3600L
    val now = 1754000000L
    def fx(n: String) = TestSpark.fixture(n)
    // fixture has 3 players; a limit-2 config must land exactly 2
    val cfg = graft.driver.RunConfig.fromEnv(
      Map("RUN_MODE" -> "test", "PLAYER_LIMIT" -> "2"))
    assert(Pipeline.run(spark, fx("match.json"), fx("timeline.json"),
      fx("player_map.json"), s"$dir/out", s"$dir/state.json", now,
      Windows.WindowState(now - 6 * day, now - 4 * day), cfg).isDefined)
    assert(spark.read.json(s"$dir/out/player_ranks_data").count() == 2)
  }

  test("pipeline ETL plans have no single-task stage (no coalesce/repartition(1))") {
    Seq(Pipeline.matchEtl(readLol("match.json")),
      Pipeline.timelineEtl(readLol("timeline.json")),
      playerMap(TestSpark.fixture("player_map.json"))).foreach { df =>
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("Repartition 1"), s"single-task stage in plan:\n$p")
    }
  }
}
