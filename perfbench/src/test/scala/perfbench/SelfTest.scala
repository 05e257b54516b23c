package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own code. Run with
  * `python3 perfbench/build.py --test`; exits non-zero on any failure.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"PASS $name") }
    catch { case e: Throwable => failures += s"$name: $e"; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.list(dir).sorted().forEach { p =>
      md.update(p.getFileName.toString.getBytes)
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse(System.getProperty("java.io.tmpdir")))

    test("energy_etl generator is deterministic for one seed and differs across seeds") {
      val a = EnergyEtl.generate(work.resolve("etl-a"), 11L)
      val b = EnergyEtl.generate(work.resolve("etl-b"), 11L)
      val c = EnergyEtl.generate(work.resolve("etl-c"), 12L)
      check(digest(work.resolve("etl-a")) == digest(work.resolve("etl-b")), "same seed, different files")
      check(a == b, "same seed, different planted truth")
      check(digest(work.resolve("etl-a")) != digest(work.resolve("etl-c")), "seeds 11 and 12 gave equal files")
      check(a.nullDays("SNWD").size == a.props("long_gap_residual_null_days"),
        "planted residual gap length not recorded")
    }

    test("percentile rule reports a percentile only with >= 10 samples beyond it") {
      check(!Stats.supports(99, 90) && Stats.supports(100, 90), "p90 needs 100 samples")
      check(!Stats.supports(19, 50) && Stats.supports(20, 50), "p50 needs 20 samples")
      check(Stats.percentile((1 to 99).map(_.toDouble), 90).isEmpty, "p90 of 99 samples")
      check(Stats.percentile((1 to 100).map(_.toDouble), 90).contains(90.0), "p90 of 1..100")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even sample")
    }

    test("span self time subtracts the union of overlapping child intervals") {
      val spans = Seq(
        SpanRec(1, 0, "root", 0, 100),
        SpanRec(2, 1, "a", 10, 40),
        SpanRec(3, 1, "b", 30, 60), // overlaps a: union [10, 60]
        SpanRec(4, 1, "c", 90, 120), // clipped to the parent: [90, 100]
        SpanRec(5, 2, "leaf", 15, 25))
      val self = Tracer.selfTimes(spans)
      check(self(1) == 40, s"root self ${self(1)} != 40")
      check(self(2) == 20, s"a self ${self(2)} != 20")
      check(self(5) == 10, s"leaf self ${self(5)} != 10")
      check(Tracer.unionLength(Seq((0L, 5L), (5L, 8L), (2L, 3L)), 0, 100) == 8, "touching intervals")
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("listener attributes jobs to spans opened on concurrent driver threads") {
        val counters = SparkCounters.install(spark)
        val t = new Tracer(true)
        val barrier = new java.util.concurrent.CyclicBarrier(4)
        t.span("outer") {
          graft.ops.Par.map(0 until 4, parallelism = 4) { i =>
            t.span(s"leaf$i") {
              barrier.await() // all four spans are open at once
              (0 to i).foreach(_ => spark.sparkContext.parallelize(1 to 1000, 3).count())
            }
          }
        }
        t.span("sql") {
          spark.range(0, 100).collect()
          spark.range(0, 100).selectExpr("sum(id)").collect()
        }
        SparkCounters.drain(spark)
        val snap = counters.snapshot
        val byName = t.spans.map(s => s.name -> s).toMap
        check(snap.get(byName("outer").id).forall(_.jobs == 0), "outer span ran no job itself")
        (0 until 4).foreach { i =>
          val leaf = byName(s"leaf$i")
          check(leaf.parent == byName("outer").id, s"leaf$i parent")
          val c = snap.getOrElse(leaf.id, new Counters)
          check(c.jobs == i + 1, s"leaf$i jobs ${c.jobs} != ${i + 1}")
          check(c.tasks == 3 * (i + 1), s"leaf$i tasks ${c.tasks} != ${3 * (i + 1)}")
        }
        val sql = snap.getOrElse(byName("sql").id, new Counters)
        check(sql.queries == 2, s"sql span SQL executions ${sql.queries} != 2")
        check(sql.exchanges >= 1, s"sql span exchanges ${sql.exchanges}")
        val leaves = (0 until 4).map(i => byName(s"leaf$i"))
        check(leaves.map(_.startNs).max < leaves.map(_.endNs).min, "leaf spans did not overlap")
      }

      test("forecast_search table is deterministic for one seed and differs across seeds") {
        val a = ForecastSearch.generate(spark, 5L)
        val b = ForecastSearch.generate(spark, 5L)
        val c = ForecastSearch.generate(spark, 6L)
        check(a.y.sameElements(b.y), "same seed, different target")
        check(!a.y.sameElements(c.y), "seeds 5 and 6 gave the same target")
        check(a.df.except(b.df).isEmpty, "same seed, different table")
        Seq(a, b, c).foreach(_.df.unpersist())
      }
    } finally spark.stop()

    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
