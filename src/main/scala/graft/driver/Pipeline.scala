package graft.driver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}
import graft.operators.{Evolve, Flatten, Normalize}
import graft.sinks.Writers

/** The reference's end-to-end ETL (SURVEY §3.2 — `Lambda/
  * lambda_function.py:27-446`) as one composable module: route a batch of
  * documents by kind, run the kind's transform chain, land partitioned
  * parquet, advance the window state. Each stage is a pure
  * DataFrame→DataFrame function — testable alone, composed in [[run]].
  *
  * Scale: every stage is a narrow projection/generator over one scan
  * (plus Flatten's bounded stats pass); the only shuffle in the whole
  * pipeline is the sink's partitioning. */
object Pipeline {

  /** `matches` branch (`lambda_function.py:211-283`): explode
    * participants (E1), positional perks unnest (E4), BFS flatten with
    * blacklist (P1), prefix strip (P2), match-level enrichment (P6).
    * Output = the reference's `player_data` wide rows. */
  def matchEtl(matches: DataFrame): DataFrame = {
    val parts = matches.select(
      col("metadata.matchId").as("matchId"),
      col("info.gameCreation").as("gameCreation"),
      col("info.gameDuration").as("gameDuration"),
      col("info.gameVersion").as("gameVersion"),
      col("info.mapId").as("mapId"),
      col("source"),
      explode(col("info.participants")).as("p"))

    val pType = parts.schema("p").dataType.asInstanceOf[StructType]
    val perksType = pType("perks").dataType.asInstanceOf[StructType]

    val keep = pType.fieldNames.filterNot(_ == "perks") // P9: del perks
    val base = Seq("matchId", "gameCreation", "gameDuration", "gameVersion", "mapId", "source")
      .map(col) ++ keep.map(f => col(s"p.$f").as(f))

    // observed selections length per style side (reference emits one
    // column per observed slot, `Utils/json.py:39-50`), maxed in the
    // flatten's own stats pass. Exact: the perk columns compile with
    // emptyStats (no arrays or maps), so the stats of the non-perk columns
    // are the stats of the whole flat input.
    def slots(side: Int) =
      coalesce(size(try_element_at(col("p.perks.styles"), lit(side)).getField("selections")), lit(0))
    val (st, Seq(primary, secondary)) = Flatten.statsWith(
      parts.select(base :+ slots(1).as("_slots_primary") :+ slots(2).as("_slots_secondary"): _*),
      Seq(col("_slots_primary"), col("_slots_secondary")))
    val perkCols = Flatten.flattenPerksColumns(col("p.perks"), perksType, (primary, secondary))

    val flatInput = parts.select(base ++ perkCols: _*)
    Normalize.stripPrefixes(Flatten.flatten(flatInput, precomputed = Some(st)),
      Seq("challenges_", "missions_"))
  }

  /** `match_timelines` branch (`lambda_function.py:110-202`), INTENDED
    * semantics: all frames × participantFrames (E3), struct hoist (E5),
    * puuid lookup (E6). Output = `timeline_data` rows.
    *
    * The puuid lookup reads the SAME document's `info.participants` in-row
    * (the reference's per-document dict, `lambda_function.py:136,148`), so
    * a batch holding one timeline twice lands each row once per document,
    * and a participant missing from the list gets a null puuid. */
  def timelineEtl(timeline: DataFrame): DataFrame = {
    val frames = timeline.select(
      col("metadata.matchId").as("matchId"),
      col("info.endOfGameResult").as("endOfGameResult"),
      col("info.participants").as("participants"),
      explode(col("info.frames")).as("f"))
    val pfType = frames.schema("f").dataType.asInstanceOf[StructType]("participantFrames")
      .dataType.asInstanceOf[StructType]
    val pfRows = frames.select(col("matchId"), col("endOfGameResult"), col("participants"),
      col("f.timestamp").as("timestamp"),
      explode(Normalize.structToMap(col("f.participantFrames"), pfType))
        .as(Seq("participantId", "pf")))
      .withColumn("participantId", col("participantId").cast("long"))
    val hoisted = pfRows.select(col("matchId"), col("participantId"),
      col("endOfGameResult"), col("timestamp"),
      col("pf.currentGold").as("currentGold"), col("pf.level").as("level"),
      col("pf.xp").as("xp"),
      col("pf.championStats.*"), col("pf.damageStats.*"),
      col("pf.position.x").as("position_x"), col("pf.position.y").as("position_y"),
      explode_outer(filter(col("participants"),
        p => p.getField("participantId") === col("participantId"))).as("pp"))
    hoisted.withColumn("puuid", col("pp.puuid")).drop("pp")
  }

  /** `player-maps` branch (`lambda_function.py:100-108`): puuid-keyed
    * stats document → rows. Output = `player_ranks_data`.
    *
    * `docs` holds one whole document per row in a string column `value`
    * (`spark.read.option("wholetext", true).text(path)`); `docType` is the
    * document's inferred schema, one struct field per puuid. The document
    * is parsed as `map<string, stats>` (SURVEY §E7), so the plan's size does
    * not grow with the player count. `stats` is the union of the players'
    * struct types, missing fields null, as JSON inference merges records:
    * players whose stats carry different fields (Riot's optional
    * `miniSeries`) share one row type, and an empty map lands zero rows. */
  def playerMapEtl(docs: DataFrame, docType: StructType): DataFrame = {
    val stats = docType.fields.map(_.dataType).collect { case s: StructType => s }
      .foldLeft(new StructType())(mergeRecords(_, _).asInstanceOf[StructType])
    docs.select(explode(from_json(col("value"), MapType(StringType, stats)))
        .as(Seq("puuid", "stats")))
      .select(col("puuid"), col("stats.*"))
  }

  /** JSON inference's merge of two record types: fields unioned and
    * sorted by name, records merged recursively, scalars widened by
    * [[Evolve.widen]]. */
  private def mergeRecords(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (x: StructType, y: StructType) =>
      val fields = (x.fields ++ y.fields).groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, fs) => StructField(n, fs.map(_.dataType).reduce(mergeRecords))
      }
      StructType(fields)
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(mergeRecords(x, y))
    case _ => Evolve.widen(a, b)
  }

  /** Full batch run (§3.1/§3.2): ETL the three document kinds, land each
    * as hive-partitioned parquet keyed by its event date, advance the
    * window state document. Returns the processed window, if the clock
    * allowed one.
    *
    * The processed window is APPLIED, not just advanced: matches are
    * filtered to `gameCreation ∈ [start, end)` and timelines to the
    * matchIds that survived (a broadcast semi-join — the timeline document
    * carries no creation epoch of its own). The player map is a
    * point-in-time rank snapshot and lands unwindowed, as in the reference
    * (`lambda_function.py:100-108` stores the whole map each run).
    *
    * Deliberate edge (pinned by PipelineSpec): a match whose
    * `participants` array is empty explodes to zero player rows, so its
    * timeline fails the semi-join and is dropped. A timeline none of whose
    * rows can be attributed to a player carries no training signal, so the
    * drop is the intended semantics, not an accident of the read-back.
    *
    * Per window, 11 Spark jobs, each input parsed once per job that reads it:
    *  - JSON schema inference of the matches, timelines and player map (3);
    *  - the matches' stats: array lengths and perk slot counts in one
    *    aggregation (2, map stage and result);
    *  - the player_data write (1);
    *  - the timeline_data write with its broadcast of the windowed
    *    matchIds read back from player_data (3);
    *  - the player map: the player_ranks_data write (2).
    * No plan grows with the player count of the map. */
  def run(spark: org.apache.spark.sql.SparkSession,
      matchesPath: String, timelinesPath: String, playerMapPath: String,
      outDir: String, statePath: String, nowEpoch: Long,
      bootstrap: => Windows.WindowState,
      config: RunConfig = RunConfig.prod): Option[Windows.WindowState] = {
    def readJson(p: String) = spark.read.option("multiLine", true).json(p)
    // state advances only AFTER the batch lands (Windows.step contract):
    // a failed run re-drives the same window next time
    Windows.step(statePath, nowEpoch, bootstrap) { w =>
      val inWindow = col("gameCreation") >= w.startEpoch * 1000L &&
        col("gameCreation") < w.endEpoch * 1000L
      val players = matchEtl(readJson(matchesPath))
        .filter(inWindow)
        .withColumn("event_ts", timestamp_millis(col("gameCreation")))
      Writers.partitionedByEventTime(players, "event_ts", s"$outDir/player_data")
      // the windowed matchIds come from the parquet we just landed — a
      // two-column pruned columnar scan — NOT a second full parse of the
      // raw JSON input (at 100 TB that second pass over the largest input
      // would double the pipeline's scan cost). Two constraints on the
      // read-back:
      //  - player_data accumulates partitions across incremental runs
      //    (dynamic overwrite only replaces the dates THIS batch touched),
      //    so the window predicate must be RE-APPLIED or every run after
      //    the first re-lands all prior windows' timelines;
      //  - a window matching zero rows lands no parquet files, and schema
      //    inference over an empty directory throws — read with an
      //    explicit schema (and fall back to an empty frame if the write
      //    never created the path).
      val playerPath = new org.apache.hadoop.fs.Path(s"$outDir/player_data")
      val fs = playerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val readBack = StructType(Seq(
        players.schema("matchId"), players.schema("gameCreation")))
      val windowedMatchIds =
        (if (fs.exists(playerPath))
           spark.read.schema(readBack).parquet(playerPath.toString)
         else players.select(col("matchId"), col("gameCreation")).limit(0))
          .filter(inWindow)
          .select(col("matchId")).distinct()
      val tl = timelineEtl(readJson(timelinesPath))
        .join(broadcast(windowedMatchIds), Seq("matchId"), "left_semi")
      Writers.partitionedByDate(
        tl.withColumn("ingest_ts", lit(new java.sql.Timestamp(nowEpoch * 1000L))),
        "ingest_ts", s"$outDir/timeline_data")
      // parallel partitioned write — the e2e pipeline must have no
      // single-task stage (jsonDump's coalesce(1) is K7 debug-only).
      // The player snapshot is capped at the configured limit — the
      // reference's MAX_PLAYER_COUNT cut of the fetched list
      // (`EC2/fetcher.py:94`; test mode caps at 10)
      playerMapEtl(spark.read.option("wholetext", true).text(playerMapPath),
          readJson(playerMapPath).schema)
        .limit(config.playerLimit)
        .write.mode("overwrite").json(s"$outDir/player_ranks_data")
    }
  }

  /** Per-file batch ingestion with typed error isolation (VERDICT r06
    * item 6; `lambda_function.py:397-446`): each file is read FAILFAST,
    * transformed, and landed independently — a malformed or missing file
    * yields one classified [[Errors.FileOutcome]] (source/sink/structure/
    * unexpected, with the reference's status codes and retry hints) and
    * the loop CONTINUES to the next file; good files always land.
    * `land` returns the landed row count for the outcome record. */
  def processFiles(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], schema: StructType,
      etl: DataFrame => DataFrame,
      land: (String, DataFrame) => Long): Seq[Errors.FileOutcome] =
    files.map { f =>
      try {
        val df = spark.read.schema(schema)
          .option("multiLine", true).option("mode", "FAILFAST").json(f)
        val rows = land(f, etl(df))
        Errors.FileOutcome(f, ok = true, rows, None, 200, retryable = false, None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          val c = Errors.classify(e)
          Errors.FileOutcome(f, ok = false, 0L,
            Some(c.errorType), c.statusCode, c.retryable, Some(c.message))
      }
    }

  /** Leftover re-drive guard (`EC2/leftover.py:30-31`): test mode skips
    * leftover processing entirely ("prevents processing thousands of
    * leftovers during development"); prod runs `process`. */
  def runLeftovers[A](config: RunConfig)(process: => A): Option[A] =
    if (config.isTest) None else Some(process)
}
