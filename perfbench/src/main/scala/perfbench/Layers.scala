package perfbench

/** Per-layer metrics of a traced run, per traced pass. The layers are the
  * library's modules; a workload that does not enter a layer reports 0 for
  * it. */
object Layers {

  def metrics(t: Tracer, nPass: Int): Seq[(String, Double, String)] = {
    val per = 1.0 / math.max(1, nPass)
    def named(n: String) = t.spans.filter(_.name == n).toSeq
    def wall(ss: Seq[Span]) = ss.map(_.wallS).sum
    def incl(ss: Seq[Span], k: String) = ss.map(t.inclusive(_, k)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val pipeline = Seq("bronze", "silver", "gold", "stage", "upsert").flatMap { st =>
      val ss = named(s"pipeline.$st")
      Seq((s"pipeline.$st.s", wall(ss) * per, "s"),
        (s"pipeline.$st.driver_s", ss.map(t.driverS).sum * per, "s"),
        (s"pipeline.$st.jobs", incl(ss, "jobs") * per, "count"),
        (s"pipeline.$st.tasks", incl(ss, "tasks") * per, "count"))
    } ++ Seq("silver", "gold").flatMap { st =>
      val ss = named(s"pipeline.$st")
      Seq((s"pipeline.$st.bytes_written", incl(ss, "bytes_written") * per, "bytes"),
        (s"pipeline.$st.files_written", incl(ss, "files_written") * per, "count"))
    } ++ {
      val up = named("pipeline.upsert")
      Seq(("pipeline.upsert.staged_rows", ratio(incl(up, "staged_rows"), up.size), "rows/day"))
    }

    val q = named("query")
    val exec = named("queries.exec")
    val execS = wall(exec)
    val queries = Seq(
      ("queries.plan_s", wall(named("queries.plan")) * per, "s"),
      ("queries.driver_s", q.map(t.driverS).sum * per, "s"),
      ("queries.exec_s", execS * per, "s"),
      ("queries.task_s", incl(q, "task_s") * per, "s"),
      ("queries.cpu_s", incl(q, "cpu_s") * per, "s"),
      ("queries.parallelism", ratio(incl(exec, "task_s"), execS), "1"),
      ("queries.jobs", incl(q, "jobs") * per, "count"),
      ("queries.stages", incl(q, "stages") * per, "count"),
      ("queries.tasks", incl(q, "tasks") * per, "count"),
      ("queries.input_mb", incl(q, "input_mb") * per, "MB"),
      ("queries.shuffle_read_mb", incl(q, "shuffle_read_mb") * per, "MB"),
      ("queries.shuffle_write_mb", incl(q, "shuffle_write_mb") * per, "MB"),
      ("queries.spill_mb", incl(q, "spill_mb") * per, "MB"),
      ("queries.gc_s", incl(q, "gc_s") * per, "s"),
      ("queries.cached_scan_frac", ratio(incl(q, "cached_scan"), q.size), "1"))

    val b = named("shared_caches.build")
    val buildS = wall(b)
    val caches = Seq(
      ("shared_caches.build_s", buildS * per, "s"),
      ("shared_caches.jobs", incl(b, "jobs") * per, "count"),
      ("shared_caches.tasks", incl(b, "tasks") * per, "count"),
      ("shared_caches.parallelism", ratio(incl(b, "task_s"), buildS), "1"),
      ("shared_caches.shuffle_write_mb", incl(b, "shuffle_write_mb") * per, "MB"),
      ("shared_caches.spill_mb", incl(b, "spill_mb") * per, "MB"),
      ("shared_caches.mb", named("pass").map(_.counters("cache_mb")).sum * per, "MB"))

    pipeline ++ queries ++ caches ++
      Seq(("operators.CacheScope.drain_s", wall(named("operators.CacheScope.drain")) * per, "s"))
  }
}
