package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, one closed-loop client.
  *
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR --expected DIR`
  *
  * 1. Set-up: JVM start, `Graft.session`, then the workload's warm pass.
  *    Inputs are generated once per checkout, outside the timing.
  * 2. Timed passes, back to back, until `--seconds` have elapsed.
  *    With `--trace 1` passes alternate untraced / traced; layer metrics
  *    come from the traced ones, and the difference of the two medians is
  *    the tracing overhead.
  * 3. An untimed check pass; every wrong output counts as a failed operation.
  *
  * The last stdout line is the result object; the full record (environment,
  * every pass, every span) goes to `DIR/results/`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, expected: Path, commit: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("expected")).toAbsolutePath,
      m.getOrElse("commit", "unknown"))
  }

  /** Progress lines go to stderr, which run.py keeps in the run's log. */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile; the maximum when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0.0)
    else if (n < 11) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = parse(args)
    Files.createDirectories(o.work)
    val wl: Workload = o.workload match {
      case "pipeline_backfill" => new Backfill(o)
      case "tpch_scan" => new TpchScan(o)
      case "shared_cache" => new SharedCache(o)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up, as a user pays it: first session, then the warm pass
    val t0 = System.nanoTime()
    val spark = graft.Graft.session("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    wl.prepare(spark) // input generation, not timed
    val t1 = System.nanoTime()
    wl.warm(spark)
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = jvmS + sessionS + warmS
    log(f"setup: jvm $jvmS%.3f s, session $sessionS%.3f s, warm $warmS%.3f s")

    // timed passes
    val tracer = if (o.trace) Tracer.on(spark.sparkContext) else Tracer.off
    val untraced = mutable.Buffer.empty[Pass]
    val traced = mutable.Buffer.empty[Pass]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // traced runs alternate untraced / traced passes and end on an untraced
    // one, so the overhead compares a traced pass with passes on both sides
    while (elapsed < o.seconds || (o.trace && (traced.isEmpty || untraced.size <= traced.size))) {
      val tracedPass = o.trace && untraced.size > traced.size
      val p = if (tracedPass) tracer.span("pass")(wl.pass(spark, tracer)) else wl.pass(spark, Tracer.off)
      (if (tracedPass) traced else untraced) += p
      log(f"pass ${untraced.size + traced.size}${if (tracedPass) " (traced)" else ""}: ${p.wallS}%.3f s")
    }
    tracer.settle()
    val check = wl.check(spark)
    val passes = (untraced ++ traced).toSeq
    val attempted = passes.map(_.attempted).sum + check.attempted
    val failed = passes.map(_.failed).sum + check.failed
    val errors = passes.flatMap(_.errors) ++ check.errors

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace)
        Seq(("setup_s", setupS, "s"), ("pass_s", median(untraced.map(_.wallS).toSeq), "s"))
      else
        Layers.metrics(tracer, traced.size) ++ Seq(
          ("Graft.session_s", sessionS, "s"),
          ("warm_s", warmS, "s"),
          ("trace.pass_s", median(traced.map(_.wallS).toSeq), "s"),
          ("trace.untraced_pass_s", median(untraced.map(_.wallS).toSeq), "s"))

    val summary = wl.summary(untraced.toSeq) ++ Seq(
      ("setup_s", setupS, "s"),
      ("failed_frac", failed.toDouble / math.max(1, attempted), "1"))
    val env = Env.snapshot(spark, o)
    def mjson(ms: Seq[(String, Double, String)]) =
      Json.obj(ms.map { case (k, v, u) => k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })
    val record = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString, "trace" -> o.trace.toString,
      "env" -> env, "summary" -> mjson(summary), "metrics" -> mjson(metrics),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "setup" -> Json.obj(Seq("jvm_s" -> Json.num(jvmS), "session_s" -> Json.num(sessionS),
        "warm_s" -> Json.num(warmS))),
      "passes" -> passes.map(_.json).mkString("[", ",", "]"),
      "spans" -> (if (o.trace) tracer.spansJson else "[]")))
    val out = o.work.resolve("results")
    Files.createDirectories(out)
    Files.write(out.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      record.getBytes(StandardCharsets.UTF_8))
    tracer.detach()
    spark.stop()

    errors.take(20).foreach(e => System.err.println(s"FAILED $e"))
    println("env " + env)
    println("summary " + summary.map { case (k, v, u) => s"$k=${Json.num(v)} $u" }.mkString(", "))
    println(Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> mjson(metrics))))
  }
}

/** One timed pass: its wall time, each operation's time, and what failed. */
final case class Pass(wallS: Double, ops: Seq[(String, Double)], attempted: Int, failed: Int,
                      errors: Seq[String], extra: Map[String, Double] = Map.empty) {
  def json: String = Json.obj(Seq(
    "wall_s" -> Json.num(wallS),
    "ops" -> Json.obj(ops.map { case (k, v) => k -> Json.num(v) }),
    "extra" -> Json.obj(extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
}

final case class Check(attempted: Int, failed: Int, errors: Seq[String])

trait Workload {
  /** Generate inputs (untimed). */
  def prepare(spark: SparkSession): Unit
  /** The set-up pass that warms JIT and codegen (timed as set-up). */
  def warm(spark: SparkSession): Unit
  def pass(spark: SparkSession, t: Tracer): Pass
  /** Untimed output checks after the timed passes. */
  def check(spark: SparkSession): Check
  /** The workload's own end-to-end figures, printed under their names. */
  def summary(passes: Seq[Pass]): Seq[(String, Double, String)]
}

object Env {
  def snapshot(spark: SparkSession, o: Main.Opts): String = {
    val rt = Runtime.getRuntime
    // paths relative to the checkout, so records from two checkouts compare
    val root = Paths.get("").toAbsolutePath.toString
    val conf = spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v.replace(root, ".")) }
    Json.obj(Seq(
      "nproc" -> rt.availableProcessors.toString,
      "spark_cores" -> graft.Graft.defaultCores.toString,
      "os_arch" -> Json.str(System.getProperty("os.arch")),
      "heap_max_mb" -> (rt.maxMemory / (1 << 20)).toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "commit" -> Json.str(o.commit),
      "seed" -> o.seed.toString,
      "seconds" -> Json.num(o.seconds),
      "session_conf" -> Json.obj(conf)))
  }
}
