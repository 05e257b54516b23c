package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, YearMonth}
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.Geo
import graft.pipelines.Pipelines
import graft.sources.{Csv, FixedWidth}

/** `energy_etl`: the paper's raw-files → `dataset.csv` lifecycle (§3.1–§3.3)
  * over seeded EIA-930-shaped balance sheets, a GHCN `.dly` file with its
  * station list and a polygon, and an EIA-style monthly target export.
  */
object EnergyEtl {
  val Years: Seq[Int] = 2022 to 2023
  val FillLimit = 7
  val Elements: Seq[String] = Seq("TMAX", "TMIN", "PRCP", "SNWD")
  val Measures: Seq[String] = Seq("demand", "net_generation", "total_interchange")
  val PreambleLines = 4
  /** Balancing authorities with their region; only MISO/MIDW survives the filter. */
  val Authorities: Seq[(String, String)] = Seq(
    "MISO" -> "MIDW", "AECI" -> "MIDW", "PJM" -> "MIDA", "SWPP" -> "CENT")
  /** A MISO-like footprint, (lon, lat), closed. */
  val Footprint: Seq[(Double, Double)] = Seq(
    (-97.2, 30.1), (-89.0, 29.4), (-84.6, 41.8), (-83.1, 46.2),
    (-89.9, 48.6), (-97.4, 49.0), (-97.2, 30.1))

  /** Planted truth the output is checked against, plus input properties. */
  final case class Truth(days: Seq[LocalDate], targets: Map[YearMonth, Long],
                         nullDays: Map[String, Set[LocalDate]],
                         rawBytes: Long, props: Map[String, Any])

  final case class Inputs(balance: Seq[String], dly: String, stations: String,
                          polygon: String, targets: String)

  def files(dir: Path): Inputs = Inputs(
    Years.map(y => dir.resolve(s"EIA930_BALANCE_$y.csv").toString),
    dir.resolve("weather.dly").toString, dir.resolve("ghcnd-stations.txt").toString,
    dir.resolve("footprint.geojson").toString, dir.resolve("consumption_monthly.csv").toString)

  private def writer(p: String): BufferedWriter =
    Files.newBufferedWriter(new File(p).toPath, StandardCharsets.UTF_8)

  /** "12,345" grouping, as EIA exports write magnitudes. */
  private def grouped(v: Long): String = {
    val s = math.abs(v).toString
    val b = new StringBuilder
    s.indices.foreach { i =>
      if (i > 0 && (s.length - i) % 3 == 0) b += ','
      b += s(i)
    }
    (if (v < 0) "-" else "") + b.result()
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def generate(dir: Path, seed: Long): Truth = {
    Files.createDirectories(dir)
    val f = files(dir)
    val rnd = new scala.util.Random(seed)
    val start = LocalDateTime.of(Years.head, 1, 1, 0, 0)
    val nHours = Years.map(y => LocalDate.of(y, 1, 1).lengthOfYear * 24).sum

    // ---- MISO hourly measures with planted gaps
    val demand = Array.tabulate(nHours) { h =>
      val t = start.plusHours(h + 1)
      val season = math.cos(2 * math.Pi * (t.getDayOfYear - 200) / 365.25)
      val diurnal = math.sin(2 * math.Pi * (t.getHour - 9) / 24.0)
      math.round(75000 + 12000 * season + 8000 * diurnal + 1500 * rnd.nextGaussian())
    }
    val netgen = demand.map(d => math.round(d - 3000 + 2000 * rnd.nextGaussian()))
    val measures = Array(demand, netgen, Array.tabulate(nHours)(h => netgen(h) - demand(h)))
    val isNull = Array.fill(3)(new Array[Boolean](nHours))
    val tail = 30
    val shortRuns = 40
    for (m <- 0 until 3; _ <- 0 until shortRuns) {
      val len = 1 + rnd.nextInt(6)
      val at = 1 + rnd.nextInt(nHours - tail - 60)
      (at until at + len).foreach(isNull(m)(_) = true)
    }
    val doubleGaps = 25
    (0 until doubleGaps).foreach { _ =>
      val at = 1 + rnd.nextInt(nHours - tail - 60)
      isNull(0)(at) = true; isNull(1)(at) = true
    }
    (nHours - tail until nHours).foreach(isNull(1)(_) = true)

    // ---- yearly balance sheets: ragged columns, decoys, grouped numbers
    val baseCols = Seq("Balancing Authority", "Data Date", "Hour Number",
      "Local Time at End of Hour", "UTC Time at End of Hour", "Demand Forecast (MW)",
      "Demand (MW)", "Net Generation (MW)", "Total Interchange (MW)",
      "Demand (MW) (Imputed)", "Net Generation (MW) (Imputed)")
    val adj = Seq("Demand (MW) (Adjusted)", "Net Generation (MW) (Adjusted)",
      "Total Interchange (MW) (Adjusted)")
    val solar = "Net Generation (MW) from Solar (Adjusted)"
    // per-year order of the adjusted measures; year 1 adds a sparse solar column
    val layouts = Seq(Seq(1, 2, 0, 3), Seq(2, 0, 1))
    var rawRows = 0L
    var misoRows = 0L
    var hour0 = 0
    Years.zipWithIndex.foreach { case (year, yi) =>
      val hours = LocalDate.of(year, 1, 1).lengthOfYear * 24
      val layout = layouts(yi)
      val header = baseCols ++ layout.map(i => if (i == 3) solar else adj(i)) :+ "Region"
      val w = writer(f.balance(yi))
      w.write(header.map(h => "\"" + h + "\"").mkString(","))
      w.write("\n")
      val b = new StringBuilder(256)
      Authorities.zipWithIndex.foreach { case ((ba, region), bi) =>
        val scale = if (ba == "MISO") 1.0 else 0.15 + 0.1 * bi
        (0 until hours).foreach { hy =>
          val h = hour0 + hy
          val end = start.plusHours(h + 1)
          val dataDate = start.plusHours(h).toLocalDate
          b.setLength(0)
          b ++= ba += ',' ++= dataDate.toString += ',' ++= ((hy % 24) + 1).toString += ','
          b ++= end.format(tsFmt) += ',' ++= end.plusHours(5).format(tsFmt) += ','
          val d = math.round(demand(h) * scale)
          val n = math.round(netgen(h) * scale)
          Seq(d + 500, d, n, n - d, d, n).foreach(v => b += '"' ++= grouped(v) ++= "\",")
          layout.foreach { i =>
            if (i == 3) { if (rnd.nextBoolean()) b ++= math.round(n * 0.05).toString }
            else if (ba == "MISO") { if (!isNull(i)(h)) b ++= measures(i)(h).toString }
            else b ++= math.round(measures(i)(h) * scale).toString
            b += ','
          }
          b ++= region += '\n'
          w.write(b.toString)
          rawRows += 1
          if (ba == "MISO") misoRows += 1
        }
      }
      w.close()
      hour0 += hours
    }

    // ---- balance truth: row prune (≥2 null measures), global bfill, daily means
    val kept = (0 until nHours).filter(h => isNull.count(_(h)) <= 1)
    val filledNull = Array.fill(3)(mutable.Set.empty[Int])
    for (m <- 0 until 3) {
      var nextSeen = false
      kept.reverseIterator.foreach { h =>
        if (!isNull(m)(h)) nextSeen = true
        else if (!nextSeen) filledNull(m) += h
      }
    }
    def dateOf(h: Int): LocalDate = start.plusHours(h + 1).toLocalDate
    val keptByDay = kept.groupBy(dateOf)
    val balanceNullDays = Measures.indices.map { m =>
      Measures(m) -> keptByDay.collect {
        case (day, hs) if hs.forall(filledNull(m).contains) => day
      }.toSet
    }.toMap

    // ---- stations: most outside the footprint, some inside but not US
    val ring = Footprint.toArray
    val (lonLo, lonHi, latLo, latHi) = (-125.0, -66.0, 25.0, 50.0)
    def point(inside: Boolean): (Double, Double) = {
      var p = (0.0, 0.0)
      do {
        p = (math.rint((lonLo + rnd.nextDouble() * (lonHi - lonLo)) * 1e4) / 1e4,
          math.rint((latLo + rnd.nextDouble() * (latHi - latLo)) * 1e4) / 1e4)
      } while (Geo.pointInPolygon(p._1, p._2, ring) != inside)
      p
    }
    val nStations = 600
    val stations = (0 until nStations).map { i =>
      val kind = if (i % 30 == 0) "in_us" else if (i % 50 == 1) "in_ca" else "out"
      val country = if (kind == "in_ca") "CA" else if (i % 7 == 0) "MX" else "US"
      val id = f"$country%sC${i * 7919 % 100000000}%08d"
      val (lon, lat) = point(kind != "out")
      (id, lon, lat, kind)
    }
    val sw = writer(f.stations)
    stations.foreach { case (id, lon, lat, _) =>
      def pad(s: String, n: Int) = " " * math.max(0, n - s.length) + s
      val name = f"STATION ${id.takeRight(5)}%-30s"
      sw.write(id + " " + pad(String.format(Locale.ROOT, "%.4f", Double.box(lat)), 8) + " " +
        pad(String.format(Locale.ROOT, "%.4f", Double.box(lon)), 9) + " " +
        pad(String.format(Locale.ROOT, "%.1f", Double.box(100 + rnd.nextInt(400).toDouble)), 6) +
        " MN " + name + "            \n")
    }
    sw.close()

    // ---- .dly: in-footprint stations plus outside decoys, one earlier year
    val inUs = stations.filter(s => s._4 == "in_us" && s._1.startsWith("US")).map(_._1)
    val dlyStations = stations.filter(_._4 != "out").map(_._1) ++
      stations.filter(_._4 == "out").take(15).map(_._1)
    val longRunStart = LocalDate.of(Years.head, 1, 20).plusDays(rnd.nextInt(600).toLong)
    val longRunLen = 20
    val longRun = (0 until longRunLen).map(i => longRunStart.plusDays(i.toLong)).toSet
    val weatherNullDays = longRun.toSeq.sortBy(_.toEpochDay)
      .slice(FillLimit, longRunLen - FillLimit).toSet
    val inUsSet = inUs.toSet
    val dw = writer(f.dly)
    var dlyLines = 0L
    var shortGapDays = 0L
    val dlyYears = (Years.head - 1) to Years.last
    dlyStations.foreach { id =>
      // short -9999 runs (≤ fill limit) in the temperature series
      val gapDays = mutable.Set.empty[LocalDate]
      if (inUsSet(id)) (0 until 6).foreach { _ =>
        val s = LocalDate.of(Years.head, 2, 1).plusDays(rnd.nextInt(600).toLong)
        val len = 1 + rnd.nextInt(FillLimit)
        (0 until len).foreach(i => gapDays += s.plusDays(i.toLong))
      }
      shortGapDays += gapDays.size
      for (year <- dlyYears; month <- 1 to 12; el <- Elements) {
        val b = new StringBuilder(270)
        b ++= id ++= f"$year%04d$month%02d" ++= el
        val ym = YearMonth.of(year, month)
        (1 to 31).foreach { day =>
          val v: Long =
            if (day > ym.lengthOfMonth) -9999L
            else {
              val date = ym.atDay(day)
              val season = math.sin(2 * math.Pi * (date.getDayOfYear - 110) / 365.25)
              el match {
                case "TMAX" | "TMIN" if inUsSet(id) && gapDays(date) => -9999L
                case "SNWD" if inUsSet(id) && longRun(date) => -9999L
                case "TMAX" => math.round(150 + 150 * season + 30 * rnd.nextGaussian())
                case "TMIN" => math.round(40 + 130 * season + 30 * rnd.nextGaussian())
                case "PRCP" => math.max(0L, math.round(40 * rnd.nextGaussian()))
                case _ => math.max(0L, math.round(-200 * season + 20 * rnd.nextGaussian()))
              }
            }
          val s = v.toString
          b ++= " " * (5 - s.length) ++= s ++= "  S"
        }
        b += '\n'
        dw.write(b.toString)
        dlyLines += 1
      }
    }
    dw.close()

    Files.writeString(new File(f.polygon).toPath,
      "{\"type\":\"FeatureCollection\",\"features\":[{\"type\":\"Feature\",\"properties\":{}," +
        "\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[" +
        Footprint.map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]") + "]}}]}\n")

    // ---- monthly consumption targets, newest first, behind a preamble
    val months = (Years.head - 1 to Years.last).flatMap(y => (1 to 12).map(YearMonth.of(y, _)))
    val targets = months.map(m => m -> (40000000L + rnd.nextInt(20000000))).toMap
    val tw = writer(f.targets)
    tw.write("Retail sales of electricity, monthly\nSource: synthetic EIA-style export\n" +
      "Units: megawatthours\n\nMonth,Total Consumption\n")
    val monFmt = DateTimeFormatter.ofPattern("MMM yyyy", Locale.ENGLISH)
    months.reverse.foreach(m => tw.write(m.atDay(1).format(monFmt) + ",\"" +
      grouped(targets(m)) + "\"\n"))
    tw.close()

    val days = Years.flatMap { y =>
      (1 to LocalDate.of(y, 1, 1).lengthOfYear).map(d => LocalDate.ofYearDay(y, d))
    }
    val rawBytes = (f.balance ++ Seq(f.dly, f.stations, f.polygon, f.targets))
      .map(p => new File(p).length).sum
    val nIn = stations.count(_._4 != "out")
    val daySet = days.toSet
    Truth(days, targets.filter { case (m, _) => Years.contains(m.getYear) },
      Measures.map(m => m -> balanceNullDays(m).filter(daySet)).toMap ++
        Elements.map(e => e -> (if (e == "SNWD") weatherNullDays else Set.empty[LocalDate])),
      rawBytes,
      Map(
        "raw_mb" -> rawBytes / 1e6,
        "balance_rows" -> rawRows,
        "balance_filter_selectivity" -> misoRows.toDouble / rawRows,
        "balance_rows_dropped_by_gaps" -> (nHours - kept.size),
        "balance_trailing_null_hours" -> tail,
        "stations" -> nStations,
        "in_polygon_station_fraction" -> nIn.toDouble / nStations,
        "in_polygon_us_stations" -> inUs.size,
        "dly_lines" -> dlyLines,
        "fill_limit_days" -> FillLimit,
        "short_gap_days_total" -> shortGapDays,
        "long_gap_days" -> longRunLen,
        "long_gap_residual_null_days" -> weatherNullDays.size))
  }

  /** One raw-files → dataset.csv pass. In a traced pass every stage's
    * output is forced at its span boundary, so each span owns its jobs.
    */
  def pass(spark: SparkSession, f: Inputs, out: String, t: Tracer, traced: Boolean): Unit = {
    val pinned = mutable.ArrayBuffer.empty[DataFrame]
    def force(df: DataFrame): DataFrame =
      if (!traced) df
      else {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        pinned += p
        p
      }
    try {
      val (sheets, dly, stations, ring, targets) = t.span("sources.scan") {
        val sheets = f.balance.map(p => force(Csv.scan(spark, p)))
        val dly = force(FixedWidth.readDly(spark, f.dly))
        val stations = force(FixedWidth.readStations(spark, f.stations))
        val ring = Geo.readPolygonRing(f.polygon)
        val targets = force(Csv.skipPreamble(spark, f.targets, PreambleLines).select(
          to_date(col("Month"), "MMM yyyy").as("date"),
          regexp_replace(col("Total Consumption"), ",", "").cast("long")
            .as("total_consumption")))
        (sheets, dly, stations, ring, targets)
      }
      val balance = t.span("pipelines.balance_sheet") {
        force(Pipelines.balanceSheet(sheets))
      }
      val weather = t.span("pipelines.weather_report") {
        force(Pipelines.weatherReport(dly, stations, ring, Years.head, Years.last, FillLimit))
      }
      val dataset = t.span("pipelines.assemble_dataset") {
        val measures = balance.columns.filter(Measures.contains).toSeq
        val elements = weather.columns.drop(6).toSeq
        force(Pipelines.assembleDataset(balance, measures, weather, elements, targets))
      }
      t.span("sources.sink")(Csv.sink(dataset, out))
    } finally pinned.foreach(_.unpersist(blocking = true))
  }

  /** Check `dataset.csv` against the planted truth; returns the problems. */
  def check(out: String, truth: Truth): Seq[String] = {
    val parts = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
    if (parts.length != 1) return Seq(s"expected one part file, found ${parts.length}")
    val lines = Files.readAllLines(parts.head.toPath).toArray(new Array[String](0)).toSeq
    val header = lines.head.split(",", -1).toSeq
    val rows = lines.tail.map(_.split(",", -1).toSeq)
    val problems = mutable.ArrayBuffer.empty[String]
    val expectCols = Seq("date") ++ Measures ++ Elements :+ "consumption"
    if (header.toSet != expectCols.toSet) problems += s"columns $header != $expectCols"
    if (rows.length != truth.days.length)
      problems += s"rows ${rows.length} != ${truth.days.length}"
    if (problems.nonEmpty) return problems.toSeq
    val ix = header.zipWithIndex.toMap
    val dates = rows.map(r => LocalDate.parse(r(ix("date"))))
    if (dates != truth.days) problems += "dates differ from the planted calendar"
    (Measures ++ Elements).foreach { c =>
      val nulls = dates.zip(rows).collect { case (d, r) if r(ix(c)).isEmpty => d }.toSet
      if (nulls != truth.nullDays(c))
        problems += s"$c null on ${nulls.toSeq.sorted.take(5)}, planted ${truth.nullDays(c).toSeq.sorted.take(5)}"
    }
    val sums = dates.zip(rows).groupBy { case (d, _) => YearMonth.from(d) }.map {
      case (m, rs) => m -> (rs.map(_._2(ix("consumption")).toDouble).sum, rs.length)
    }
    truth.targets.foreach { case (m, target) =>
      sums.get(m) match {
        case None => problems += s"month $m missing"
        case Some((s, n)) =>
          if (math.abs(s - target) > 0.5 * n + 1e-6)
            problems += s"month $m sums to $s, target $target"
      }
    }
    problems.toSeq
  }
}
