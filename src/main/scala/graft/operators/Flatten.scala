package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Schema-driven flatten compiler (SURVEY §2.3 P1, §2.9).
  *
  * Re-expresses the reference's `flatten_json` (`Utils/json.py:3-33`):
  * BFS over the nested document, `_`-joined path names, list indices as path
  * segments, and a substring blacklist applied to the full leaf path.
  *
  * Spark-first: instead of a row-at-a-time UDF, the *schema* is compiled once
  * on the driver into a flat `select` of nested-field accessor Columns —
  * pure Catalyst expressions, codegen'd, prunable, no shuffle. Two dynamic
  * aspects of the dict world need data statistics:
  *
  *  - array lengths (the reference emits one column per observed index) —
  *    we take max(size) per array path;
  *  - map key sets (`participantFrames` keyed "1".."10",
  *    `lambda_function.py:145-148`) — we take the distinct key union,
  *    numerically-aware sorted (the reference's per-row dict order is
  *    nondeterministic across rows; sorting is the deterministic superset —
  *    documented divergence).
  *
  * Rows whose array is shorter than the observed max (or missing a map key)
  * get NULL columns — relational null-padding, = the reference's
  * `align_row_data` P8 semantics (`Utils/sql.py:21-22`).
  *
  * Stats are keyed by *canonical* path: the `_`-joined path where array
  * indices / map keys are replaced by the markers `[]` / `{}`. The markers
  * keep a container nested directly inside a same-kind container (e.g.
  * `array<array<int>>`) on a DISTINCT stat key from its parent — without
  * them both levels would share one key and the inner stat would silently
  * overwrite the outer one.
  */
object Flatten {

  /** `Utils/json.py:28` — leaf paths containing any of these are dropped. */
  val defaultBlacklist: Seq[String] =
    Seq("legendaryItemUsed", "SWARM", "playerAugment", "PlayerScore")

  /** Data statistics a flatten plan needs, keyed by canonical path. */
  final case class NestedStats(
      arrayLens: Map[String, Int],
      mapKeys: Map[String, Seq[String]])

  val emptyStats: NestedStats = NestedStats(Map.empty, Map.empty)

  private val strArr = ArrayType(StringType)

  /** Collect every array length / map key set the schema mentions.
    *
    * Scale notes (100 TB design point):
    *  - array max-lengths: ONE aggregation pass, single-row result — max()
    *    partial-aggregates map-side, nothing unbounded crosses the shuffle;
    *  - map key sets: a second pass that explodes (path, key) pairs and
    *    takes a DISTRIBUTED distinct before the per-path collect_set — the
    *    per-reducer state is bounded by the number of DISTINCT keys, never
    *    by row count (collect_list-of-all-rows would OOM one reducer).
    */
  def stats(df: DataFrame): NestedStats = statsWith(df, Nil)._1

  /** [[stats]] plus `max(e)` of each integer `extraMax` column (null → 0),
    * folded into the same array-length aggregation: a caller that needs a
    * few more maxima over the same rows pays no extra pass. */
  def statsWith(df: DataFrame, extraMax: Seq[Column]): (NestedStats, Seq[Int]) = {
    val lenExprs = mutable.ArrayBuffer.empty[(String, Column)]
    val keyExprs = mutable.ArrayBuffer.empty[(String, Column)]

    // Row-scope walk: `c` is a single value of type `dt`.
    def walk(path: Seq[String], dt: DataType, c: Column): Unit = dt match {
      case st: StructType =>
        st.fields.foreach(f => walk(path :+ f.name, f.dataType, c.getField(f.name)))
      case ArrayType(et, _) =>
        lenExprs += ((path.mkString("_"), coalesce(size(c), lit(0))))
        lifted(path :+ "[]", et, c)
      case MapType(_, vt, _) =>
        keyExprs += ((path.mkString("_"),
          coalesce(map_keys(c).cast(strArr), array().cast(strArr))))
        lifted(path :+ "{}", vt, map_values(c))
      case _ => ()
    }

    // Lifted scope: `c` is an ARRAY of `dt` values (we're inside a container).
    def lifted(path: Seq[String], dt: DataType, c: Column): Unit = dt match {
      case st: StructType =>
        st.fields.foreach(f =>
          lifted(path :+ f.name, f.dataType, transform(c, e => e.getField(f.name))))
      case ArrayType(et, _) =>
        lenExprs += ((path.mkString("_"),
          coalesce(array_max(transform(c, e => coalesce(size(e), lit(0)))), lit(0))))
        lifted(path :+ "[]", et, F.flatten(c))
      case MapType(_, vt, _) =>
        keyExprs += ((path.mkString("_"),
          coalesce(F.flatten(transform(c, e => coalesce(map_keys(e).cast(strArr), array().cast(strArr)))),
            array().cast(strArr))))
        lifted(path :+ "{}", vt, F.flatten(transform(c, e => map_values(e))))
      case _ => ()
    }

    df.schema.fields.foreach(f => walk(Seq(f.name), f.dataType, col(f.name)))

    val maxima: Seq[Int] =
      if (lenExprs.isEmpty && extraMax.isEmpty) Nil
      else {
        val aggs = (lenExprs.map(_._2) ++ extraMax).zipWithIndex.map { case (e, i) => max(e).as(s"l$i") }
        val row = df.agg(aggs.head, aggs.tail.toSeq: _*).head()
        // max over an EMPTY frame is null — read it as 0
        aggs.indices.map(i => if (row.isNullAt(i)) 0 else row.getInt(i))
      }
    val lens = lenExprs.map(_._1).zip(maxima).toMap

    val keys: Map[String, Seq[String]] =
      if (keyExprs.isEmpty) Map.empty
      else {
        // (pathIdx, keyArray) structs → explode twice → distributed distinct
        // on (pathIdx, key) → tiny per-path collect_set.
        val tagged = keyExprs.zipWithIndex.map { case ((_, e), i) =>
          struct(lit(i).as("pi"), e.as("ks"))
        }
        val rows = df
          .select(explode(array(tagged.toSeq: _*)).as("x"))
          .select(col("x.pi").as("pi"), explode(col("x.ks")).as("k"))
          .distinct()
          .groupBy("pi").agg(collect_set("k").as("ks"))
          .collect()
        val found = rows.map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
        keyExprs.zipWithIndex.map { case ((p, _), i) =>
          p -> sortKeys(found.getOrElse(i, Seq.empty))
        }.toMap
      }
    (NestedStats(lens, keys), maxima.drop(lenExprs.size))
  }

  /** Numeric-aware deterministic key order: all-digit keys sort numerically
    * ("2" before "10"), others lexicographically after. */
  private def sortKeys(ks: Seq[String]): Seq[String] = {
    val (nums, rest) = ks.partition(k => k.nonEmpty && k.forall(_.isDigit))
    nums.sortBy(_.toLong) ++ rest.sorted
  }

  /** A queue entry: display path (with indices/keys), canonical path
    * (container markers), type, accessor. */
  private[graft] type Node = (Seq[String], Seq[String], DataType, Column)

  /** BFS-flatten arbitrary roots into aliased leaf Columns — the core
    * compiler, reference emission order. `try_element_at` (not
    * `element_at`) so rows shorter than the observed max length / missing
    * a map key null-pad instead of raising under ANSI mode (Spark 4
    * default). */
  private def bfs(
      roots: Seq[Node],
      blacklist: Seq[String],
      st: NestedStats): Seq[Column] = {
    val out = mutable.ArrayBuffer.empty[Column]
    val queue = mutable.Queue.empty[Node]
    roots.foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val (path, canon, dt, c) = queue.dequeue()
      dt match {
        case s: StructType =>
          s.fields.foreach(f =>
            queue.enqueue((path :+ f.name, canon :+ f.name, f.dataType, c.getField(f.name))))
        case ArrayType(et, _) =>
          val n = st.arrayLens.getOrElse(canon.mkString("_"), 0)
          (0 until n).foreach(i =>
            queue.enqueue((path :+ i.toString, canon :+ "[]", et, try_element_at(c, lit(i + 1)))))
        case MapType(_, vt, _) =>
          st.mapKeys.getOrElse(canon.mkString("_"), Nil).foreach(k =>
            queue.enqueue((path :+ k, canon :+ "{}", vt, try_element_at(c, lit(k)))))
        case _ =>
          val pathStr = path.mkString("_")
          if (!blacklist.exists(pathStr.contains)) {
            val leaf = dt match {
              case NullType => c.cast(StringType) // reference maps None→TEXT
              case _ => c
            }
            out += leaf.as(pathStr)
          }
      }
    }
    out.toSeq
  }

  /** Compile the flatten of `schema` into aliased Columns. */
  def compile(
      schema: StructType,
      blacklist: Seq[String] = defaultBlacklist,
      st: NestedStats = emptyStats): Seq[Column] =
    bfs(schema.fields.map(f => (Seq(f.name), Seq(f.name), f.dataType, col(f.name))).toSeq,
      blacklist, st)

  /** Flatten a whole DataFrame; collects [[stats]] automatically when the
    * schema contains arrays/maps (skip the pass by precomputing). */
  def flatten(
      df: DataFrame,
      blacklist: Seq[String] = defaultBlacklist,
      precomputed: Option[NestedStats] = None): DataFrame = {
    val s = precomputed.getOrElse(if (hasDynamic(df.schema)) stats(df) else emptyStats)
    df.select(compile(df.schema, blacklist, s): _*)
  }

  private def hasDynamic(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f => hasDynamic(f.dataType))
    case _: ArrayType | _: MapType => true
    case _ => false
  }

  /** `flatten_perks` (`Utils/json.py:35-54`, E4): positional unnest of the
    * two rune styles into `Primary_slot_{i}`/`Secondary_slot_{i}`/`*_style`
    * columns + `statPerks`, then the generic flatten.
    *
    * @param perksCol   struct column with
    *                   `styles: array<struct<style, selections: array<_>>>`
    *                   and `statPerks: struct<_>`
    * @param perksType  its StructType
    * @param slotCounts observed selections length for (Primary, Secondary)
    * @return flat perk Columns to splice into a select
    */
  def flattenPerksColumns(
      perksCol: Column,
      perksType: StructType,
      slotCounts: (Int, Int)): Seq[Column] = {
    val stylesType = perksType("styles").dataType.asInstanceOf[ArrayType]
    val styleStruct = stylesType.elementType.asInstanceOf[StructType]
    val selElem = styleStruct("selections").dataType
      .asInstanceOf[ArrayType].elementType
    val statPerksType = perksType("statPerks").dataType

    // Build Primary/Secondary as real struct columns so the shared BFS
    // reproduces the reference's level-by-level emission order exactly
    // (statPerks scalars surface BEFORE the slot structs' children).
    def side(idx: Int, n: Int): (StructType, Column) = {
      val style = try_element_at(perksCol.getField("styles"), lit(idx + 1))
      val fields = (0 until n).map(i => StructField(s"slot_${i + 1}", selElem)) :+
        StructField("style", styleStruct("style").dataType)
      val cols = (0 until n).map(i =>
        try_element_at(style.getField("selections"), lit(i + 1)).as(s"slot_${i + 1}")) :+
        style.getField("style").as("style")
      (StructType(fields), struct(cols: _*))
    }

    val (pT, pC) = side(0, slotCounts._1)
    val (sT, sC) = side(1, slotCounts._2)
    val roots: Seq[Node] = Seq(
      (Seq("Primary"), Seq("Primary"), pT, pC),
      (Seq("Secondary"), Seq("Secondary"), sT, sC),
      (Seq("statPerks"), Seq("statPerks"), statPerksType, perksCol.getField("statPerks")))
    bfs(roots, defaultBlacklist, emptyStats)
  }
}
