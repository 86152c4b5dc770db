package perfbench

import java.nio.file.Paths

/** The harness's own tests (`run.py selftest`): a wrong final-table value
  * and a query checksum mismatch must each count as failed operations, and
  * correct outputs must not. Exits non-zero on the first failed test. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => System.err.println(e); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath.resolve("selftest")
    val opts = Main.Opts("pipeline_backfill", 7, 0, trace = false, work, work, "selftest")

    test("tail is the highest percentile with ten samples beyond it") {
      val xs = (1 to 40).map(_.toDouble)
      Main.tail(xs) == ((30.0, 75.0)) && Main.median(xs) == 20.5 && Main.tail(Seq(1.0, 2.0))._1 == 2.0
    }
    test("a changed final-table value fails the day, a correct one passes") {
      val d = Weather.day(7, java.time.LocalDate.of(2024, 3, 1))
      val got = d.expected
      Checks.compareDay(d, got).isEmpty &&
        Checks.compareDay(d, got.updated(2, got(2).map(_ + 1e-6))).isDefined &&
        Checks.compareDay(d, got.updated(4, None)).isDefined
    }

    val spark = graft.Graft.session("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("backfill: correct payloads give no failures") {
        val p = new Backfill(opts).pass(spark, Tracer.off)
        p.errors.foreach(System.err.println)
        p.failed == 0 && p.attempted > 0 && p.ops.size == p.attempted
      }
      test("backfill: a payload that changes one final-table value raises failed") {
        val wl = new Backfill(opts)
        val bad = new Backfill(opts, d =>
          if (d.date == wl.first) d.copy(temp = d.temp.map(_ => Some(99.9))).json else d.json)
        val p = bad.pass(spark, Tracer.off)
        p.failed >= 1 && p.errors.exists(_.contains(wl.first.toString))
      }
      test("query check: matching checksum passes, a mismatch raises failed") {
        val dir = work.resolve("data").toString
        DataGen.ensure(spark, dir, 0.001)
        val name = "q17_join_outer"
        val (rows, sum) = Checks.summary(graft.SparkEntry.queries(name)(spark, dir))
        val good = QueryLoop.check(spark, dir, Seq(Checks.Expected(name, rows, sum)))
        val bad = QueryLoop.check(spark, dir, Seq(Checks.Expected(name, rows, sum + "1")))
        val badRows = QueryLoop.check(spark, dir, Seq(Checks.Expected(name, rows + 1, sum)))
        good.failed == 0 && bad.failed == 1 && badRows.failed == 1
      }
      test("checksum ignores row order and float summation noise") {
        import spark.implicits._
        val a = Seq((1, 0.1 + 0.2), (2, 1.0)).toDF("k", "v")
        val b = Seq((2, 1.0), (1, 0.3)).toDF("k", "v")
        val c = Seq((2, 1.0), (1, 0.31)).toDF("k", "v")
        Checks.summary(a) == Checks.summary(b) && Checks.summary(a) != Checks.summary(c)
      }
    } finally spark.stop()
    if (failures > 0) { System.err.println(s"$failures test(s) failed"); sys.exit(1) }
  }
}
