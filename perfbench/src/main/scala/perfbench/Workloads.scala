package perfbench

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.pipeline._

/** `pipeline_backfill`: the paper's day pipeline. Each pass runs the five
  * stages (`Pipeline.runStage`) over a contiguous range of days into a fresh
  * file root and a fresh Derby database, then replays the same range.
  * Payloads come from [[Weather]] through the `fetch` parameter; `body`
  * renders a day's payload (tests pass a corrupted rendering). */
final class Backfill(o: Main.Opts, body: Weather.Day => String = _.json) extends Workload {
  private val days = 5
  val first: LocalDate = LocalDate.of(2024, 1, 1).plusDays(math.floorMod(o.seed, 300L))
  private val range = (0 until days).map(first.plusDays(_))
  private val payload = mutable.Map.empty[LocalDate, Weather.Day]
  private var nPass = 0

  private def dayOf(d: LocalDate) = payload.getOrElseUpdate(d, Weather.day(o.seed, d))

  private def config(root: Path): AppConfig = AppConfig(
    SourceCfg("http://localhost/v1/forecast", 39.68, -75.75, "auto", Weather.hourlyVars),
    StorageCfg(s"file:$root/bronze", s"file:$root/silver", s"file:$root/gold"),
    SparkCfg(graft.Graft.defaultCores),
    PgCfg(s"jdbc:derby:$root/db;create=true", "app", "app",
      "org.apache.derby.jdbc.EmbeddedDriver", "weather_daily_stage", "weather_daily"))

  /** A fresh root with the Derby tables created, so no day pays for it. */
  private def freshRoot(name: String): (Path, AppConfig) = {
    val root = o.work.resolve("pipeline").resolve(name)
    Files.createDirectories(root.getParent)
    Fs.delete(root)
    val cfg = config(root)
    val conn = DriverManager.getConnection(cfg.postgres.url, "app", "app")
    try Upsert.Derby.ensureTables(conn, cfg.postgres.tableStage, cfg.postgres.tableFinal)
    finally conn.close()
    (root, cfg)
  }

  private def dropRoot(root: Path): Unit = {
    try DriverManager.getConnection(s"jdbc:derby:$root/db;shutdown=true")
    catch { case _: SQLException => () } // Derby reports a clean shutdown as an exception
    Fs.delete(root)
  }

  /** Runs one day's five stages; returns its wall time and staged-row count. */
  private def runDay(spark: SparkSession, cfg: AppConfig, root: Path, d: LocalDate,
                     phase: String, t: Tracer): (Double, Long) = {
    val json = body(dayOf(d))
    val t0 = System.nanoTime()
    var staged = 0L
    t.span("day", s"$phase $d") {
      Pipeline.stages.foreach { st =>
        val n = t.span(s"pipeline.$st", d.toString)(Pipeline.runStage(spark, cfg, st, d, _ => json))
        if (st == "upsert") staged = n
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (t.enabled) {
      t.addToLast("pipeline.upsert", "staged_rows", staged.toDouble)
      Seq("silver", "gold").foreach { layer =>
        val dir = root.resolve(s"$layer/openmeteo/y=${d.getYear}/m=${d.getMonthValue}/d=${d.getDayOfMonth}")
        val files = Fs.dataFiles(dir)
        t.addToLast(s"pipeline.$layer", "files_written", files.size.toDouble)
        t.addToLast(s"pipeline.$layer", "bytes_written", files.map(Files.size(_).toDouble).sum)
      }
    }
    (wall, staged)
  }

  private def finalTable(cfg: AppConfig): Map[(Int, Int, Int), Seq[Option[Double]]] = {
    val conn = DriverManager.getConnection(cfg.postgres.url, "app", "app")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "y","m","d","min_temp_c","max_temp_c","avg_temp_c","precip_mm_sum","avg_humidity_pct" FROM weather_daily""")
      val out = mutable.Map.empty[(Int, Int, Int), Seq[Option[Double]]]
      while (rs.next()) out((rs.getInt(1), rs.getInt(2), rs.getInt(3))) = (4 to 8).map { i =>
        val v = rs.getDouble(i); if (rs.wasNull()) None else Some(v)
      }
      out.toMap
    } finally conn.close()
  }

  private def stageRows(cfg: AppConfig): Long = {
    val conn = DriverManager.getConnection(cfg.postgres.url, "app", "app")
    try { val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM weather_daily_stage"); rs.next(); rs.getLong(1) }
    finally conn.close()
  }

  def prepare(spark: SparkSession): Unit = range.foreach(dayOf)

  /** The six days before the range, on a throwaway root: day times keep
    * falling over the first ten or so days a JVM runs. */
  def warm(spark: SparkSession): Unit = {
    val (root, cfg) = freshRoot("warm")
    (1 to 6).foreach(i => runDay(spark, cfg, root, first.minusDays(i), "warm", Tracer.off))
    dropRoot(root)
  }

  def pass(spark: SparkSession, t: Tracer): Pass = {
    nPass += 1
    val (root, cfg) = freshRoot(s"pass$nPass")
    val errors = mutable.Buffer.empty[String]
    val ops = mutable.Buffer.empty[(String, Double)]
    var wall = 0.0
    def phase(name: String): Double = {
      val t0 = System.nanoTime()
      range.foreach { d =>
        try {
          val (s, staged) = runDay(spark, cfg, root, d, name, t)
          ops += s"$name $d" -> s
          if (staged != 1) errors += s"$name $d: staged $staged rows, expected 1"
        } catch { case e: Exception => errors += s"$name $d: $e" }
      }
      val s = (System.nanoTime() - t0) / 1e9
      wall += s
      s
    }
    // fresh range, then the final table against the plain-Scala reference
    val freshS = phase("fresh")
    val fresh = finalTable(cfg)
    range.foreach { d =>
      fresh.get((d.getYear, d.getMonthValue, d.getDayOfMonth)) match {
        case None => errors += s"fresh $d: no final row"
        case Some(got) => Checks.compareDay(dayOf(d), got).foreach(e => errors += s"fresh $e")
      }
    }
    if (fresh.size != days) errors += s"fresh: ${fresh.size} final rows, expected $days"
    // replay: same final table, empty stage table, one silver row per hour
    val replayS = phase("replay")
    if (finalTable(cfg) != fresh) errors += "replay: final table changed"
    val staged = stageRows(cfg)
    if (staged != 0) errors += s"replay: $staged rows left in the stage table"
    val silver = spark.read.parquet(s"${cfg.storage.silver}/openmeteo/").count()
    if (silver != days.toLong * Weather.hours)
      errors += s"replay: $silver silver rows, expected ${days * Weather.hours}"
    dropRoot(root)
    // every day run counts as one operation; each wrong output fails one
    Pass(wall, ops.toSeq, 2 * days, math.min(2 * days, errors.size), errors.toSeq,
      Map("fresh_s" -> freshS, "replay_s" -> replayS, "days" -> days.toDouble))
  }

  def check(spark: SparkSession): Check = Check(0, 0, Nil)

  def summary(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    def sum(k: String) = passes.map(_.extra(k)).sum
    val all = passes.flatMap(_.ops.map(_._2))
    val (tail, pct) = Main.tail(all)
    Seq(("backfill_days_per_s", sum("days") / sum("fresh_s"), "1/s"),
      ("replay_days_per_s", sum("days") / sum("replay_s"), "1/s"),
      ("day_p50_s", Main.median(all), "s"),
      ("day_tail_s", tail, "s"), ("day_tail_pct", pct, "%"), ("days", all.size.toDouble, "count"))
  }
}

/** Runs named library queries the way users do: plan, materialize to the
  * `noop` sink, release query-scoped caches. */
object QueryLoop {
  def run(spark: SparkSession, dir: String, names: Seq[String], t: Tracer,
          ops: mutable.Buffer[(String, Double)], errors: mutable.Buffer[String]): Unit = {
    val fns = graft.SparkEntry.queries
    names.foreach { n =>
      val t0 = System.nanoTime()
      try t.span("query", n) {
        val df = t.span("queries.plan", n)(fns(n)(spark, dir))
        // before the drain, which releases the query's own persisted frames
        if (t.enabled) t.addToLast("queries.plan", "cached_scan", if (scansCache(df)) 1 else 0)
        t.span("queries.exec", n)(df.write.format("noop").mode("overwrite").save())
        t.span("operators.CacheScope.drain", n)(graft.operators.CacheScope.drain())
        ops += n -> (System.nanoTime() - t0) / 1e9
        Main.log(f"query $n ${ops.last._2}%.3f s")
      } catch { case e: Exception => errors += s"$n: $e"; graft.operators.CacheScope.drain() }
    }
  }

  def scansCache(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.find(_.isInstanceOf[InMemoryRelation]).isDefined

  /** Untimed: each expected query's row count and checksum. */
  def check(spark: SparkSession, dir: String, expected: Seq[Checks.Expected]): Check = {
    val errors = expected.flatMap { e =>
      val r = try Checks.compare(e, Checks.summary(graft.SparkEntry.queries(e.name)(spark, dir)))
        catch { case x: Exception => Some(s"${e.name}: $x") }
      graft.operators.CacheScope.drain()
      r
    }
    Check(expected.size, errors.size, errors)
  }
}

/** Shared input handling of the two query workloads. */
abstract class QueryWorkload(o: Main.Opts) extends Workload {
  protected val scale: Double
  protected def dataDir = o.work.resolve(s"data/sf$scale").toString
  protected def warmDir = o.work.resolve("data/sf0.001").toString
  protected lazy val expected: Seq[Checks.Expected] =
    Checks.load(o.expected.resolve(s"${o.workload}.tsv"))
  /** The fixed query set, in an order drawn from the seed. */
  protected lazy val order: Seq[String] =
    new scala.util.Random(o.seed).shuffle(expected.map(_.name))

  def prepare(spark: SparkSession): Unit = {
    DataGen.ensure(spark, dataDir, scale)
    DataGen.ensure(spark, warmDir, 0.001)
  }

  protected def suitePass(spark: SparkSession, dir: String, t: Tracer,
                          before: => Map[String, Double]): Pass = {
    val ops = mutable.Buffer.empty[(String, Double)]
    val errors = mutable.Buffer.empty[String]
    val t0 = System.nanoTime()
    val extra = before
    val t1 = System.nanoTime()
    QueryLoop.run(spark, dir, order, t, ops, errors)
    val t2 = System.nanoTime()
    Pass((t2 - t0) / 1e9, ops.toSeq, order.size, errors.size, errors.toSeq,
      extra + ("suite_s" -> (t2 - t1) / 1e9))
  }

  protected def querySummary(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val all = passes.flatMap(_.ops.map(_._2))
    val (tail, pct) = Main.tail(all)
    Seq(("suite_s", Main.median(passes.map(_.extra("suite_s"))), "s"),
      ("query_p50_s", Main.median(all), "s"), ("query_tail_s", tail, "s"),
      ("query_tail_pct", pct, "%"), ("queries", all.size.toDouble, "count"))
  }
}

/** `tpch_scan`: library queries whose plans read only the TPC-H tables. */
final class TpchScan(o: Main.Opts) extends QueryWorkload(o) {
  protected val scale = 0.1
  def warm(spark: SparkSession): Unit =
    QueryLoop.run(spark, warmDir, order, Tracer.off, mutable.Buffer.empty, mutable.Buffer.empty)
  def pass(spark: SparkSession, t: Tracer): Pass = suitePass(spark, dataDir, t, Map.empty)
  def check(spark: SparkSession): Check = QueryLoop.check(spark, dataDir, expected)
  def summary(passes: Seq[Pass]): Seq[(String, Double, String)] = querySummary(passes)
}

/** `shared_cache`: the first [[SharedCache.builders]] `SharedCaches` builders
  * cold, in declared order, then the queries that read only those caches once
  * they exist. Each pass uses a new session (the builders memoize per
  * session) on a cleared cache. */
final class SharedCache(o: Main.Opts) extends QueryWorkload(o) {
  protected val scale = 0.01
  private var last: SparkSession = null

  private def builds(s: SparkSession, dir: String, t: Tracer): Double = {
    val t0 = System.nanoTime()
    SharedCache.builders.foreach { case (n, b) =>
      val t1 = System.nanoTime()
      t.span("shared_caches.build", n)(b(s, dir).write.format("noop").mode("overwrite").save())
      Main.log(f"build $n ${(System.nanoTime() - t1) / 1e9}%.3f s")
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def cacheMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Two passes on the warm tables: one leaves the builds' JIT state
    * visibly short of steady. */
  def warm(spark: SparkSession): Unit = (1 to 2).foreach { _ =>
    val s = spark.newSession()
    builds(s, warmDir, Tracer.off)
    QueryLoop.run(s, warmDir, order, Tracer.off, mutable.Buffer.empty, mutable.Buffer.empty)
    spark.catalog.clearCache()
  }

  def pass(spark: SparkSession, t: Tracer): Pass = {
    spark.catalog.clearCache()
    last = spark.newSession()
    suitePass(last, dataDir, t, {
      val s = builds(last, dataDir, t)
      val mb = cacheMb(last)
      if (t.enabled) t.addToLast("pass", "cache_mb", mb) // the open pass span
      Map("cache_build_s" -> s, "cache_mb" -> mb)
    })
  }

  def check(spark: SparkSession): Check = QueryLoop.check(last, dataDir, expected)

  def summary(passes: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("cache_build_s", Main.median(passes.map(_.extra("cache_build_s"))), "s"),
      ("cache_mb", Main.median(passes.map(_.extra("cache_mb"))), "MB")) ++ querySummary(passes)
}

object SharedCache {
  /** A prefix of the declared order, which is dependency order, so the
    * prefix is closed under "memoizes through". All 26 builds take about
    * 21 s warm on four cores, more than one run can hold; the first four
    * (the text pair graphs: minhash, n-gram Jaccard, winnowing, ppjoin)
    * take about 4.5 s and include the two heaviest builds. */
  val builders: Seq[(String, (SparkSession, String) => DataFrame)] =
    graft.queries.SharedCaches.builders.take(4)
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Data files (not markers or checksums) under `dir`. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      } finally s.close()
    }
}
