package graft

/** Diagnostic main: write the formatted physical plan of selected queries
  * (or `cache:<name>` SharedCaches builders) to files — the evidence dumps
  * the optimization rounds commit under plans/rNN/.
  * Usage: runMain graft.PlanDump <outDir> <suffix> --sf <sfDir> <name...>
  * Fails before starting Spark if `sfDir` is not a directory or a name is
  * neither a query nor `cache:` plus a registered cache name.
  */
object PlanDump {

  final case class Args(outDir: String, suffix: String, sfDir: String, names: Seq[String])

  private val usage = "usage: PlanDump <outDir> <suffix> --sf <sfDir> <name...>"

  def parse(args: Seq[String]): Args = args match {
    case outDir +: suffix +: "--sf" +: sfDir +: names if names.nonEmpty =>
      require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir)),
        s"--sf $sfDir is not a directory")
      val caches = graft.queries.SharedCaches.builders.map(_._1)
      names.foreach { n =>
        if (n.startsWith("cache:"))
          require(caches.contains(n.stripPrefix("cache:")),
            s"unknown $n; valid caches: ${caches.mkString(", ")}")
        else require(SparkEntry.queries.contains(n), s"unknown query $n")
      }
      Args(outDir, suffix, sfDir, names)
    case _ => throw new IllegalArgumentException(usage)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = Graft.session("graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(a.outDir).mkdirs()
    a.names.foreach { n =>
      val df =
        if (n.startsWith("cache:"))
          graft.queries.SharedCaches.builders.toMap
            .apply(n.stripPrefix("cache:"))(spark, a.sfDir)
        else SparkEntry.queries(n)(spark, a.sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val fname = n.stripPrefix("cache:").replace(":", "_")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"${a.outDir}/${fname}_${a.suffix}.txt"),
        plan.getBytes("UTF-8"))
      println(s"dumped $n -> ${a.outDir}/${fname}_${a.suffix}.txt")
    }
    spark.stop()
  }
}
