package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Flatten

/** Unit semantics of the flatten compiler (`Utils/json.py:3-33` parity). */
class FlattenSpec extends SparkSpec {
  import spark.implicits._

  test("scalars and structs flatten to _-joined paths, BFS order") {
    val df = Seq((1, ("a", (2.5, "x")))).toDF("id", "s")
      .select($"id", struct($"s._1".as("name"),
        struct($"s._2._1".as("v"), $"s._2._2".as("w")).as("inner")).as("s"))
    val out = Flatten.flatten(df)
    // BFS: level-1 leaves (id, s_name surfaces after id), nested leaves last
    assert(out.columns.toSeq == Seq("id", "s_name", "s_inner_v", "s_inner_w"))
    assert(out.head() == Row(1, "a", 2.5, "x"))
  }

  test("blacklist drops any leaf whose full path contains a keyword") {
    val df = Seq((1, 2, 3)).toDF("ok", "playerAugment1", "x_SWARM_y")
    assert(Flatten.flatten(df).columns.toSeq == Seq("ok"))
    // blacklist is case-sensitive like the reference's `in` check
    val df2 = Seq((1, 2)).toDF("playerscore_lower", "PlayerScore_upper")
    assert(Flatten.flatten(df2).columns.toSeq == Seq("playerscore_lower"))
  }

  test("arrays emit max-observed-length columns with null padding") {
    val df = Seq(
      (1, Seq(10, 20, 30)),
      (2, Seq(40))).toDF("id", "xs")
    val out = Flatten.flatten(df).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "xs_0", "xs_1", "xs_2"))
    assert(out.collect().toSeq == Seq(Row(1, 10, 20, 30), Row(2, 40, null, null)))
  }

  test("statsWith: the stats of stats() plus extra maxima from the same aggregation") {
    val df = Seq((1, Seq(10, 20, 30), Map("a" -> 1)), (7, Seq(40), Map("b" -> 2)))
      .toDF("id", "xs", "m")
    val (st, extra) = Flatten.statsWith(df, Seq($"id", size($"xs")))
    assert(st == Flatten.stats(df))
    assert(st.arrayLens == Map("xs" -> 3) && st.mapKeys == Map("m" -> Seq("a", "b")))
    assert(extra == Seq(7, 3))
    // an empty frame reads every maximum as 0, not null
    assert(Flatten.statsWith(df.filter(lit(false)), Seq($"id")) ==
      ((Flatten.NestedStats(Map("xs" -> 0), Map("m" -> Nil)), Seq(0))))
  }

  test("array<array<_>> with asymmetric lengths: outer and inner stats stay distinct") {
    // Regression for the canonical-path collision: outer has max length 3,
    // inner max length 2 — without [] markers the inner stat (2) would
    // overwrite the outer (3) and xs_2_* would silently vanish.
    val df = Seq(
      (1, Seq(Seq(1, 2), Seq(3))),
      (2, Seq(Seq(4), Seq(5), Seq(6)))).toDF("id", "xs")
    val out = Flatten.flatten(df).orderBy("id")
    assert(out.columns.toSeq ==
      Seq("id", "xs_0_0", "xs_0_1", "xs_1_0", "xs_1_1", "xs_2_0", "xs_2_1"))
    assert(out.collect().toSeq == Seq(
      Row(1, 1, 2, 3, null, null, null),
      Row(2, 4, null, 5, null, 6, null)))
  }

  test("map keys union across rows, numeric-aware sort, null-padded") {
    val df = Seq(
      (1, Map("2" -> 20, "10" -> 100)),
      (2, Map("1" -> 11))).toDF("id", "m")
    val out = Flatten.flatten(df).orderBy("id")
    // "1","2" numerically before "10" (reference dict order is per-row;
    // sorted union is our documented deterministic superset)
    assert(out.columns.toSeq == Seq("id", "m_1", "m_2", "m_10"))
    assert(out.collect().toSeq == Seq(Row(1, null, 20, 100), Row(2, 11, null, null)))
  }

  test("map of maps: outer and inner key sets stay distinct") {
    val df = Seq(
      (1, Map("a" -> Map("x" -> 1)), 0),
      (2, Map("b" -> Map("y" -> 2)), 0)).toDF("id", "m", "pad")
    val out = Flatten.flatten(df)
    assert(out.columns.toSet ==
      Set("id", "pad", "m_a_x", "m_a_y", "m_b_x", "m_b_y"))
  }

  test("flatten_perks emits the reference's Primary/Secondary/statPerks layout") {
    val matches = readLol("match.json")
    val p = matches.select(explode($"info.participants").as("p")).select($"p.*")
    val perksType = p.schema("perks").dataType.asInstanceOf[StructType]
    val out = p.select(($"championName" +:
      Flatten.flattenPerksColumns($"perks", perksType, (4, 2))): _*)
    val cols = out.columns.toSeq
    assert(cols.head == "championName")
    // statPerks scalars surface before slot-struct children (BFS levels)
    assert(cols.indexOf("statPerks_defense") < cols.indexOf("Primary_slot_1_perk"))
    assert(cols.toSet.contains("Primary_slot_4_perk"))
    assert(cols.toSet.contains("Secondary_slot_2_perk"))
    val ahri = out.filter($"championName" === "Ahri").head()
    assert(ahri.getAs[Long]("Primary_style") == 8100L)
    assert(ahri.getAs[Long]("Primary_slot_1_perk") == 8112L)
    assert(ahri.getAs[Long]("Secondary_slot_2_perk") == 8347L)
    assert(ahri.getAs[Long]("statPerks_flex") == 5008L)
  }

  test("end-to-end match ETL slice: explode → flatten → blacklist → prefix strip") {
    val matches = readLol("match.json")
    val parts = matches.select(
      $"metadata.matchId".as("matchId"),
      $"info.gameCreation".as("gameCreation"),
      $"source",
      explode($"info.participants").as("p"))
    val flat = Flatten.flatten(parts.select($"matchId", $"gameCreation", $"source", $"p.*"))
    // legendaryItemUsed blacklisted away; challenges_kda survives
    assert(!flat.columns.exists(_.contains("legendaryItemUsed")))
    assert(flat.columns.contains("challenges_kda"))
    val stripped = graft.operators.Normalize.stripPrefixes(flat,
      Seq("challenges_", "missions_"))
    // replace-first: challenges_challenges_deep keeps one prefix
    assert(stripped.columns.contains("kda"))
    assert(stripped.columns.contains("challenges_deep"))
    assert(stripped.columns.contains("playerScore0")) // case-sensitive blacklist keeps it
    assert(stripped.count() == 3) // 2 + 1 participants
  }
}
