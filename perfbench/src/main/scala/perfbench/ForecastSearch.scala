package perfbench

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ml.{Arimax, Bo, Clustering, CvObjective, RecursiveGbt}
import graft.ops.Splits
import graft.ts.Decompose

/** `forecast_search`: the paper's model-selection protocol over a seeded
  * daily table shaped like the reference `dataset.csv`.
  */
object ForecastSearch {
  val Rows = 3200
  val Start: LocalDate = LocalDate.of(2015, 1, 1)
  val Target = "consumption"
  val Exog: Seq[String] = Seq("TMAX", "TMIN")
  val Folds = 3
  val ValSize = 0.2
  /** (lags, differencing) cells searched by BO, and its iterations per cell. */
  val Grid: Seq[(Seq[Int], Int)] = Seq((Seq(1, 7), 0), (Seq(1, 2, 7), 1))
  val BoIters = 2
  val Bounds: Seq[Bo.HpBound] = Seq(
    Bo.HpBound("max_depth", 2, 3, isInt = true),
    Bo.HpBound("max_iter", 2, 3, isInt = true))
  val Clusters = 12
  val SliceDays = 28
  /** Model fits per pass, fixed by the protocol. */
  val FitsPerPass: Int = Folds + Grid.size * BoIters * Folds
  val NoiseSd = 30000.0
  /** Seed of the search itself (BO sampling, GBT, k-means init). Fixed, so
    * every input seed gets the same amount of search work.
    */
  val SearchSeed = 42L

  private val otherCols = Seq("demand", "net_generation", "total_interchange",
    "PRCP", "SNWD", "AWND", "TAVG", "WSF2", "WSF5", "WDF2", "WDF5", "RHAV",
    "ASLP", "ASTP", "PSUN", "TSUN", "WT01", "WT02", "WT03", "WT08", "cdd", "hdd")

  final case class Table(df: DataFrame, y: Array[Double], props: Map[String, Any])

  /** Consumption = trend + weekly profile + temperature response + noise;
    * 28 columns in all.
    */
  def generate(spark: SparkSession, seed: Long): Table = {
    val rnd = new scala.util.Random(seed)
    val weekly = Array(50000.0, 60000.0, 60000.0, 55000.0, 30000.0, -110000.0, -145000.0)
    val rows = (0 until Rows).map { i =>
      val date = Start.plusDays(i.toLong)
      val season = math.sin(2 * math.Pi * (date.getDayOfYear - 110) / 365.25)
      val tmax = math.rint(150 + 150 * season + 25 * rnd.nextGaussian())
      val tmin = math.rint(tmax - 110 + 20 * rnd.nextGaussian())
      val y = math.rint(1500000 + 40.0 * i + weekly(date.getDayOfWeek.getValue - 1) +
        1800.0 * math.abs(tmax - 120) + NoiseSd * rnd.nextGaussian())
      val others = otherCols.map(_ => math.rint(1000 * rnd.nextGaussian()))
      (date, y, Seq(tmax, tmin) ++ others)
    }
    val schema = StructType(Seq(StructField("date", DateType), StructField(Target, DoubleType)) ++
      (Exog ++ otherCols).map(StructField(_, DoubleType)) ++
      Seq(StructField("day_of_week", IntegerType), StructField("month", IntegerType)))
    val data = rows.map { case (d, y, xs) =>
      Row.fromSeq(Seq(java.sql.Date.valueOf(d), y) ++ xs ++
        Seq(d.getDayOfWeek.getValue, d.getMonthValue))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema).cache()
    df.count()
    Table(df, rows.map(_._2).toArray, Map(
      "rows" -> Rows, "cols" -> schema.length, "noise_sd" -> NoiseSd,
      "folds" -> Folds, "bo_cells" -> Grid.size, "bo_iters_per_cell" -> BoIters,
      "bo_objective_calls_sharing_fold_data" -> Grid.size * BoIters,
      "fits_per_pass" -> FitsPerPass, "dtw_series" -> monthCount, "dtw_k" -> Clusters))
  }

  private def monthCount: Int = {
    val last = Start.plusDays(Rows - 1L)
    (0 until 1000).map(m => Start.plusMonths(m.toLong)).takeWhile(!_.isAfter(last))
      .count(m => !m.plusDays(SliceDays - 1L).isAfter(last))
  }

  /** The month-slice matrix DTW k-means clusters: first 28 days of each month. */
  def monthSlices(table: DataFrame): DataFrame = {
    val m = Clustering.seriesMatrix(
      table.filter(dayofmonth(col("date")) <= SliceDays)
        .withColumn("id", date_format(col("date"), "yyyy-MM")),
      Seq("id"), "date", Target)
    m.filter(size(col("vec")) === SliceDays).cache()
  }

  /** Fold boundaries of `Splits.blockedFolds` over n ordered rows. */
  private def valRanges(n: Int): Seq[(Int, Int, Int)] = (0 until Folds).map { f =>
    val s = math.ceil(f.toDouble * n / Folds).toInt
    val e = math.ceil((f + 1).toDouble * n / Folds).toInt
    (s, e - math.ceil((e - s) * ValSize).toInt, e)
  }

  /** Mean over folds of the weekly seasonal-naive MAE (repeat the last
    * training week across the validation block).
    */
  def seasonalNaiveMae(y: Array[Double]): Double = {
    val maes = valRanges(y.length).map { case (_, v, e) =>
      (v until e).map(i => math.abs(y(i) - y(v - 7 + (i - v) % 7))).sum / (e - v)
    }
    maes.sum / maes.length
  }

  final case class PassResult(arimaxMae: Double, best: String, bestMae: Double,
                              clusters: Long, decompose: Long)

  def pass(table: Table, slices: DataFrame, t: Tracer): PassResult = {
    val fd = t.span("ops.blocked_folds") {
      val folds = Splits.blockedFolds(table.df, Seq("date"), Folds, ValSize).cache()
      try {
        folds.count()
        CvObjective.foldData(folds, "date", Target, Exog, Folds)
      } finally folds.unpersist()
    }
    try {
      val arimax = CvObjective.summary(CvObjective.blockedCvMaeOnFoldData(fd) { (train, steps, ex) =>
        val m = t.span("ml.arimax_fit")(Arimax.fit(train, "date", Target, Exog, 3, 1, 4))
        t.span("ml.forecast")(m.forecast(steps, ex))
      })._1
      val (_, ((lags, d), best)) = t.span("ml.bo_driver") {
        Bo.searchLagDiffGrid(Grid, Bounds, BoIters, SearchSeed) { (lags, d, p) =>
          t.span("ml.bo_objective") {
            CvObjective.summary(CvObjective.blockedCvMaeOnFoldData(fd) { (train, steps, ex) =>
              val m = t.span("ml.gbt_fit")(RecursiveGbt.fit(train, "date", Target, Exog, lags, d,
                maxIter = p("max_iter").toInt, maxDepth = p("max_depth").toInt, seed = SearchSeed))
              t.span("ml.forecast")(m.forecast(steps, ex))
            })
          }
        }
      }
      val clusters = t.span("ml.dtw_kmeans") {
        val r = Clustering.dtwKMeans(slices, "id", "vec", Clusters, seed = SearchSeed)
        r.assignments.select(bit_xor(xxhash64(col("*")))).head().getLong(0)
      }
      val decompose = t.span("ts.decompose") {
        Decompose.seasonalAdditive(table.df, "date", Target, 182, 365)
          .select(bit_xor(xxhash64(col("date"), col("trend"), col("seasonal"), col("resid"))))
          .head().getLong(0)
      }
      PassResult(arimax, s"lags=${lags.mkString("+")} d=$d " +
        best.best.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "),
        best.bestMean, clusters, decompose)
    } finally CvObjective.releaseFoldData(fd)
  }

  /** Problems with a pass: it must repeat the reference pass exactly, and
    * the selected model must beat the seasonal-naive baseline.
    */
  def check(r: PassResult, ref: PassResult, naiveMae: Double): Seq[String] =
    (if (r != ref) Seq(s"pass differs from the first pass: $r vs $ref") else Nil) ++
      (if (!(r.bestMae < naiveMae)) Seq(s"best CV MAE ${r.bestMae} >= seasonal-naive $naiveMae")
       else Nil)
}
