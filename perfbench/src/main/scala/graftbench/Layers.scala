package graftbench

/** The per-layer metrics of a traced run. Every workload reports the
  * full set, so a layer a workload leaves idle reads 0 calls and 0 ms. */
object Layers {
  val timed: Seq[String] = Seq("ingest.pipe_run", "cdc.has_data", "cdc.consume", "orchestrate.cycle",
    "store.merge", "store.append", "store.overwrite", "store.truncate", "store.read",
    "sql.plan", "sql.exec", "ops.dedup_latest", "ops.fact_rebuild")
  val counted: Seq[String] = Seq("ingest.files", "ingest.rows", "cdc.has_data_calls",
    "orchestrate.tasks_run", "orchestrate.tasks_skipped", "orchestrate.tasks_failed")
  val layers: Seq[String] = Seq("bench", "ingest", "cdc", "orchestrate", "store", "sql", "ops")

  /** @param spans  the spans of the traced window
    * @param spark  Spark counter deltas over the traced window
    * @param wallMs wall time of the traced window
    * @param units  workload operations completed in the traced window
    * @param extra  workload-measured metrics (store sizes, overhead, …) */
  def metrics(ctx: Ctx, spans: Seq[Trace.Span], spark: Map[String, Long], wallMs: Double,
      units: Int, extra: Map[String, M]): Map[String, M] = {
    val p50 = Stats.p50ByName(spans)
    val names = timed ++ spans.map(_.name).filter(_.startsWith("ops.")).distinct.diff(timed)
    val timedM = names.map(n => s"${n}_ms" -> M(p50.getOrElse(n, 0.0), "ms"))
    val countM = counted.map(n => n -> M(Trace.counter(n).toDouble, "count"))
    val calls = Trace.counter("cdc.has_data_calls")
    val self = Trace.selfTimeByLayer(spans)
    val selfM = layers.map(l => s"self.${l}_ms" -> M(self.getOrElse(l, 0.0), "ms"))
    val sparkM = Seq(
      "spark.jobs" -> M(spark("jobs").toDouble, "count"),
      "spark.tasks" -> M(spark("tasks").toDouble, "count"),
      "spark.jobs_per_op" -> M(spark("jobs").toDouble / math.max(1, units), "count"),
      "spark.task_busy_ratio" -> M(spark("run_ms") / (wallMs * ctx.cores), "ratio"),
      "spark.shuffle_bytes" -> M(spark("shuffle_bytes").toDouble, "bytes"),
      "spark.input_bytes" -> M(spark("input_bytes").toDouble, "bytes"),
      "spark.spill_bytes" -> M(spark("spill_bytes").toDouble, "bytes"),
      "spark.gc_ms" -> M(spark("gc_ms").toDouble, "ms"))
    val defaults = Map(
      "cdc.gate_hit_ratio" -> M(if (calls == 0) 0.0 else Trace.counter("cdc.gate_hits").toDouble / calls, "ratio"),
      "orchestrate.overhead_ms" -> M(0.0, "ms"),
      "store.commits" -> M(0.0, "count"),
      "store.bytes_written" -> M(0.0, "bytes"),
      "store.files_live" -> M(0.0, "count"),
      "store.files_scanned_ratio" -> M(0.0, "ratio"),
      "trace.spans" -> M(spans.size.toDouble, "count"),
      "trace.overhead_ms" -> M(0.0, "ms"),
      "trace.overhead_ratio" -> M(0.0, "ratio"))
    (timedM ++ countM ++ selfM ++ sparkM).toMap ++ defaults ++ extra
  }

  /** Difference of two Spark counter snapshots. */
  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** Tracing overhead from the untraced and traced halves of a traced run. */
  def overhead(untracedP50: Double, tracedP50: Double): Map[String, M] = Map(
    "trace.overhead_ms" -> M(tracedP50 - untracedP50, "ms"),
    "trace.overhead_ratio" -> M(tracedP50 / untracedP50 - 1, "ratio"))
}
