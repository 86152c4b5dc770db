package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Records the query workloads' expectations from the library as it stands:
  * `record WORK OUT_DIR` classifies every `SparkEntry.queries` entry on the
  * generated tables and writes, per workload, each member's row count,
  * checksum and materialization time. A query whose checksum differs between
  * two evaluations is left out (its output is not deterministic).
  *
  *  - `tpch_scan` members: the analyzed plan reads only TPC-H tables and no
  *    persisted relation.
  *  - `shared_cache` members: once the workload's shared caches are built,
  *    the plan scans only materialized persisted relations, no parquet file.
  */
object Record {

  private def inputs(df: DataFrame): Set[String] = df.queryExecution.analyzed.collect {
    case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
      r.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
  }.flatten.toSet

  /** Scans only persisted relations that are already materialized: the
    * shared caches built beforehand, or ones the query fills eagerly. */
  private def cachedOnly(df: DataFrame): Boolean = {
    val p = df.queryExecution.withCachedData
    val cached = p.collect { case r: InMemoryRelation => r }
    cached.nonEmpty && cached.forall(_.cacheBuilder.isCachedColumnBuffersLoaded) &&
      p.collectFirst { case r: LogicalRelation => r }.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val out = Paths.get(args(1)).toAbsolutePath
    Files.createDirectories(out)
    val spark = graft.Graft.session("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    val fns = graft.SparkEntry.queries.toSeq.sortBy(_._1)

    def record(workload: String, sf: Double, member: DataFrame => Boolean): Unit = {
      val dir = work.resolve(s"data/sf$sf").toString
      DataGen.ensure(spark, dir, sf)
      if (workload == "shared_cache")
        SharedCache.builders.foreach { case (_, b) =>
          b(spark, dir).write.format("noop").mode("overwrite").save() }
      val lines = fns.flatMap { case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val keep = member(df)
          val line = if (!keep) None else {
            val t0 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val s = (System.nanoTime() - t0) / 1e9
            val a = Checks.summary(df)
            graft.operators.CacheScope.drain()
            val b = Checks.summary(fn(spark, dir))
            if (a != b) { System.err.println(s"unstable $name: $a vs $b"); None }
            else Some(f"$name\t${a._1}\t${a._2}\t$s%.3f")
          }
          graft.operators.CacheScope.drain()
          System.err.println(s"[record] $workload $name ${line.getOrElse("-")}")
          line
        } catch { case e: Exception =>
          System.err.println(s"error $name: $e"); graft.operators.CacheScope.drain(); None }
      }
      Files.write(out.resolve(s"$workload.tsv"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      println(s"$workload: ${lines.size} queries")
    }

    val wanted = args.drop(2).toSet
    if (wanted.isEmpty || wanted("tpch_scan"))
      record("tpch_scan", 0.1, df => {
        val in = inputs(df)
        in.nonEmpty && in.subsetOf(DataGen.tpchTables) &&
          df.queryExecution.withCachedData.find(_.isInstanceOf[InMemoryRelation]).isEmpty
      })
    if (wanted.isEmpty || wanted("shared_cache"))
      record("shared_cache", 0.01, cachedOnly)
    spark.stop()
  }
}
