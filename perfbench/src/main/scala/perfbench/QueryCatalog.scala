package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import graft.queries._

/** `query_catalog`: headline catalog rows over the sf0.1 tables, each
  * built with `q.run` and executed into a `noop` sink. The seed permutes
  * the row order of every pass. `run.py` chooses the rows, at least one
  * per catalog module, so that a pass stays within a run's time:
  * planning-bound rows, the ANN path (`rplsh_knn`) and a build-once
  * artifact probe; it names them in `SPARK_GRAFT_VERIFY_ONLY`, the
  * variable that also restricts `graft.Verify` to them. Set-up makes one
  * untimed pass of the measured form, which also builds the build-once
  * artifacts. The check runs `graft.Verify` over the rows after
  * the timed passes; `run.py` compares its output with DuckDB. */
final class QueryCatalog(spark: SparkSession, o: Main.Opts, spans: Spans) extends Main.Workload {
  import QueryCatalog._

  private val dir = o.testdata
  private val moduleOf: Map[String, String] = Modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  val rows: Seq[Q] = sys.env("SPARK_GRAFT_VERIFY_ONLY").split(",").toSeq.map { n =>
    val q = graft.SparkEntry.catalog.find(_.name == n)
      .getOrElse(sys.error(s"catalog row $n not found"))
    require(q.headline && q.oracle.isDefined, s"catalog row $n must be a headline row with an oracle")
    q
  }
  private val passes = math.max(1, o.seconds / 5)

  private def exec(q: Q): (Double, Double) = {
    val (df, construct) = Main.timed(q.run(spark, dir))
    val (_, run) = Main.timed(df.write.format("noop").mode("overwrite").save())
    (construct, run)
  }

  def setup(): Unit = rows.foreach(q => spans(s"warm ${q.name}")(exec(q)))

  def pass(out: Path, tracer: Option[Tracer]): Main.Pass = {
    tracer.foreach(_.begin())
    val rnd = new scala.util.Random(o.seed)
    val t0 = System.currentTimeMillis()
    var failed = 0
    val (results, runS) = Main.timed((0 until passes).flatMap { _ =>
      rnd.shuffle(rows).map { q =>
        try {
          val (c, r) = spans(s"query ${q.name}")(exec(q))
          Some((q.name, c, c + r))
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          None
        }
      }
    }.flatten)
    val t1 = System.currentTimeMillis()
    val traced = tracer.map(_.end(t0, t1))
    val perModule = results.groupBy(r => moduleOf(r._1)).map { case (m, rs) =>
      s"queries.${m}_s" -> rs.map(_._3).sum
    }
    val layer = perModule ++ Map("queries.construct_s" -> results.map(_._2).sum)
    // a row's latency is its best pass: other load on the machine slows
    // some passes, and the best one is the steadiest estimate of the row
    val best = results.groupBy(_._1).values.map(_.map(_._3).min).toSeq
    Main.Pass(runS, best, results.size + failed, failed, layer, traced, () => verify())
  }

  /** `graft.Verify` writes each row's `verifyRun` result and the rows'
    * oracle SQL under `runDir/verify` for `run.py`; it stops the session
    * when it is done. A failure here leaves the results missing, which
    * `run.py` counts as failed rows. */
  private def verify(): (Int, Int, Seq[String]) = {
    try graft.Verify.main(Array(dir, o.runDir.resolve("verify").toString))
    catch { case e: Exception => System.err.println(s"[perfbench] graft.Verify failed: $e") }
    (0, 0, Nil)
  }
}

object QueryCatalog {
  val Modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Nested" -> Nested.all, "LlmOps" -> LlmOps.all,
    "Curation" -> Curation.all, "Temporal" -> Temporal.all, "Storage" -> Storage.all,
    "Media" -> Media.all, "Ingest" -> Ingest.all, "Extensions" -> Extensions.all,
    "Joins" -> Joins.all, "StreamingOps" -> StreamingOps.all)
}
