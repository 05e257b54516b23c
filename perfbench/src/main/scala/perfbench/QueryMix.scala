package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.queries.Q

/** `query_mix`: one closed-loop client issuing a frozen list of registered
  * queries, in seeded order, over seeded testdata-shaped tables. Each query
  * runs through `impl` and then the noop sink.
  */
final class QueryMix(spark: SparkSession, dataDir: String, names: Seq[String]) {
  private val registry: Map[String, Q] = graft.SparkEntry.registry.map(q => q.name -> q).toMap
  private val segments: Seq[(String, Set[String])] = Seq(
    "relational" -> graft.queries.Relational.all.map(_.name).toSet,
    "series" -> graft.queries.Series.all.map(_.name).toSet,
    "text" -> graft.queries.Text.all.map(_.name).toSet)
  private val missing = names.filterNot(registry.contains)
  require(missing.isEmpty, s"unregistered queries: ${missing.mkString(",")}")

  /** Registry segment of a query: the `queries.<family>` span it runs under. */
  def family(name: String): String =
    segments.find(_._2(name)).map(_._1).getOrElse("other")

  def families: Map[String, Int] = names.groupBy(family).map { case (k, v) => k -> v.size }

  /** Per-family driver-side timings gathered in traced queries: eager jobs
    * inside `impl`, the df's own analysis, and the sink's execution.
    */
  val implMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val analysisMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val execMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val tracedQueries = mutable.Map.empty[String, Int].withDefaultValue(0)

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def run(name: String, t: Tracer, traced: Boolean): Unit = {
    val fam = family(name)
    t.span(s"queries.$fam") {
      val t0 = System.nanoTime()
      val df = registry(name).impl(spark, dataDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      if (traced) synchronized {
        implMs(fam) += (t1 - t0) / 1e6
        execMs(fam) += (t2 - t1) / 1e6
        analysisMs(fam) += df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs.toDouble).getOrElse(0.0)
        tracedQueries(fam) += 1
      }
    }
  }

  /** Write one query's result as parquet under `outDir/<name>`, for the
    * oracle compare that follows the run.
    */
  def dump(name: String, outDir: String): Unit =
    registry(name).impl(spark, dataDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")

  /** Write the registry's DuckDB oracle SQL of every listed query. */
  def writeOracle(outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val oracle = names.flatMap(n => registry(n).oracle.map(n -> _)).toMap
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(oracle))
  }
}
