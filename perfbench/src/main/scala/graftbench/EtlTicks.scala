package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.GraftSession
import graft.cdc.ChangeStream
import graft.ops.{DedupLatest, FactRebuild}
import graft.orchestrate.Task

/** The reference pipeline under its own traffic. Per entity, one DAG:
  *
  *   pipe (Pipe.runOnce) → [stage stream has data] dedup latest + MERGE
  *   into raw → [raw stream has data] MERGE into the dimension, or for
  *   orders the star-join fact rebuild + INSERT OVERWRITE → truncate stage
  *
  * The three DAGs share one schedule, as in the reference: every
  * scheduler tick lands one delta file per entity and runs the three DAG
  * cycles concurrently, one client thread each, on one store; the next
  * tick starts when all three finished (a closed loop). A delta's
  * freshness is the time from its file landing until its DAG's last task
  * (the truncate) committed. */
final class EtlTicks extends Workload {
  import EtlTicks._

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = generator(ctx)
    val data = s"${ctx.work}/data"
    Loop.phase("generate")(writeHistory(spark, gen, data))

    // set-up: several fresh stores, the last one serves the run
    val setups = (1 to Loop.SetupReps).map(k =>
      Loop.phase("setup")(Loop.seconds(Pipeline(ctx, data, s"${ctx.work}/etl_$k"))))
    setups.init.foreach { case (p, _) => p.close() }
    val p = setups.last._1

    val deltas = Entities.all.map { e =>
      e.name -> new gen.Deltas(e, ctx.scale.get("rows_per_file").get(e.name).asInt)
    }.toMap
    val landed = Entities.all.map(e => e.name -> ArrayBuffer.empty[Delta]).toMap
    def tick(e: Entity): Double = {
      val (text, recs) = deltas(e.name).next()
      landed(e.name) ++= recs
      Trace.span("bench.tick") {
        val landedAt = p.land(e, text)
        Trace.count("ingest.files")
        Trace.count("ingest.rows", recs.size)
        (p.cycle(e) - landedAt) / 1e6
      }
    }
    Loop.phase("warm-up")(for (_ <- 1 to WarmupTicks) {
      val ws = Entities.all.map(e => new Thread(() => { tick(e); () }))
      ws.foreach(_.start()); ws.foreach(_.join())
    })

    // space amplification after a fixed amount of work (history + warm-up
    // ticks), so it does not depend on how many ticks the window fits
    val spaceAmp = Stats.bytesUnder(p.root).toDouble /
      p.liveFiles().map(f => Files.size(Paths.get(f))).sum
    val storeBytes0 = Stats.bytesUnder(p.root)
    val versions0 = p.versions()
    val (plain, traced) = Loop.phase("measure")(
      Loop.measure(ctx, Entities.all.size, MinTicks)(c => tick(Entities.all(c))))
    val perLayer = traced.map { w =>
      val selfPerCycle = Trace.selfTimes(w.spans).collect { case (s, ms) if s.name == "orchestrate.cycle" => ms }
      Layers.metrics(ctx, w.spans, w.spark, w.wallMs, w.units, Map(
        "orchestrate.overhead_ms" -> M(Stats.median(selfPerCycle), "ms"),
        "store.commits" -> M((p.versions() - versions0).toDouble, "count"),
        "store.bytes_written" -> M((Stats.bytesUnder(p.root) - storeBytes0).toDouble, "bytes"),
        "store.files_live" -> M(p.liveFiles().size.toDouble, "count")) ++
        Layers.overhead(Stats.median(plain.latenciesMs), Stats.median(w.latenciesMs)))
    }.getOrElse(Map.empty)

    val checks = Loop.phase("check")(Oracle.check(ctx, p, data, landed))
    val windows = plain +: traced.toSeq
    val failedTicks = windows.map(_.failed).sum +
      (if (checks.exists(!_._2)) windows.map(_.units).sum else 0) // a wrong table fails the ticks
    p.close()
    // delta rows of the window's ticks over the time the ticks took
    val rowsPerTick = Entities.all.map(e => ctx.scale.get("rows_per_file").get(e.name).asInt).sum
    val rowsPerS = rowsPerTick * plain.roundsMs.size / (plain.roundsMs.sum / 1000)
    Outcome(
      setupS = setups.map(_._2),
      latenciesMs = plain.latenciesMs,
      throughputPerS = rowsPerS,
      spaceAmp = spaceAmp,
      attempted = windows.map(_.attempted).sum,
      failed = failedTicks,
      checks = checks,
      report = Map(
        "freshness_p50_s" -> M(Stats.median(plain.latenciesMs) / 1000, "s"),
        "freshness_tail_s" -> M(Stats.tail(plain.latenciesMs) / 1000, "s"),
        "rows_per_s" -> M(rowsPerS, "1/s")),
      perLayer = perLayer)
  }
}

object EtlTicks {
  /** Ticks run before the measured window. */
  val WarmupTicks = 1
  /** Ticks a measured window runs at least, however long they take. */
  val MinTicks = 3

  /** The seeded entity generator with the parameters of workloads.json. */
  def generator(ctx: Ctx): EntityGen = {
    val g = ctx.wl("etl_ticks").get("generator")
    val q = g.get("quirks")
    val params = GenParams(g.get("update_share").asDouble, g.get("insert_share").asDouble,
      g.get("duplicate_share").asDouble, g.get("zipf_exponent").asDouble,
      q.get("null_share").asDouble, q.get("empty_share").asDouble,
      q.get("short_row_share").asDouble, q.get("headerless_blank_first_line_share").asDouble)
    val hist = Entities.all.map(e => e.name -> ctx.scale.get("history_rows").get(e.name).asInt).toMap
    new EntityGen(ctx.seed, hist, params)
  }

  /** The generator's history, typed, as the parquet files set-up loads. */
  def writeHistory(spark: SparkSession, gen: EntityGen, dir: String): Unit =
    Entities.all.foreach { e =>
      val rows = gen.history(e).map(r => Row.fromSeq(r.toSeq))
      e.typed(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), e.stageSchema))
        .write.mode("overwrite").parquet(s"$dir/hist_${e.name}.parquet")
    }

  /** The fact rebuild of the reference's order DAG: orders ⋈ customer ⋈
    * item, grouped per (date, customer, item) with 8 aggregates. */
  val factTables: Seq[String] = Seq("raw_order", "dim_customer", "dim_item")
  val factAggs: Seq[String] = Seq("ORDER_QUANTITY", "SALE_PRICE", "DISOUNT_AMT", "COUPON_AMT",
    "NET_PAID", "NET_PAID_TAX", "NET_PROFIT")
  def factSql(prefix: String): String =
    "SELECT o.ORDER_DATE, c.CUSTOMER_ID, i.ITEM_ID, count(1) AS ORDER_COUNT, " +
      factAggs.map(a => s"sum(o.$a) AS TOTAL_$a").mkString(", ") +
      s" FROM ${prefix}raw_order o JOIN ${prefix}dim_customer c ON o.CUSTOMER_ID = c.CUSTOMER_ID" +
      s" JOIN ${prefix}dim_item i ON o.ITEM_ID = i.ITEM_ID" +
      " GROUP BY o.ORDER_DATE, c.CUSTOMER_ID, i.ITEM_ID"
}

/** One set-up store with its session, streams, pipes and task DAGs. */
final class Pipeline(ctx: Ctx, val root: String, landing: String) {
  import EtlTicks._
  private val spark = ctx.spark
  val g: GraftSession = GraftSession(spark, root, ctx.cores)
  private val store = g.store
  private val stageStm = scala.collection.mutable.Map.empty[String, ChangeStream]
  private val rawStm = scala.collection.mutable.Map.empty[String, ChangeStream]
  private val lastCommit = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val fileSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** The versions of raw_order, dim_customer and dim_item the current
    * fact was built from. */
  @volatile var factInputs: Map[String, Long] = Map.empty

  /** The fact rebuild over the inputs' current versions, pinned so the
    * check can recompute it from the same versions. */
  def fact(): (DataFrame, Map[String, Long]) = {
    val v = factTables.map(t => t -> store.currentVersion(t)).toMap
    def at(t: String) = Trace.span("store.read")(store.readVersion(t, v(t)))
    (FactRebuild.rebuild(
      at("raw_order").as("o"),
      Seq((at("dim_customer").as("c"), col("o.CUSTOMER_ID") === col("c.CUSTOMER_ID"), true),
        (at("dim_item").as("i"), col("o.ITEM_ID") === col("i.ITEM_ID"), true)),
      Seq(col("o.ORDER_DATE").as("ORDER_DATE"), col("c.CUSTOMER_ID").as("CUSTOMER_ID"),
        col("i.ITEM_ID").as("ITEM_ID")),
      count(lit(1)).as("ORDER_COUNT") +: factAggs.map(a => sum(col(s"o.$a")).as(s"TOTAL_$a")),
      Seq(col("ORDER_DATE"), col("CUSTOMER_ID"), col("ITEM_ID"))), v)
  }

  private def gate(s: ChangeStream): () => Boolean = () =>
    Trace.span("cdc.has_data") {
      val has = s.hasData
      Trace.count("cdc.has_data_calls")
      if (has) Trace.count("cdc.gate_hits")
      has
    }

  /** The delta batch, latest version per key, computed once: the merge
    * reads its source more than once. */
  private def latest(e: Entity, df: DataFrame): DataFrame = Trace.span("ops.dedup_latest") {
    DedupLatest(df.drop("__action"), e.keys, e.latestOrder)
      .localCheckpoint(eager = true)
  }

  def setup(data: String): Unit = {
    Entities.all.foreach { e =>
      g.createTable(e.stage, e.stageSchema)
      g.createTable(e.raw, e.rawSchema, e.keys)
      val h = spark.read.parquet(s"$data/hist_${e.name}.parquet")
      Trace.span("store.append")(store.append(e.raw, h))
      if (e.hasDim) {
        g.createTable(e.dim, e.rawSchema, e.keys)
        Trace.span("store.append")(store.append(e.dim, h))
      }
    }
    // the fact table starts empty; the order DAG's first cycle fills it
    g.createTable("fact_order", fact()._1.schema)

    Entities.all.foreach { e =>
      Files.createDirectories(Paths.get(landing, e.name))
      stageStm(e.name) = g.createStream(e.stage, s"${e.stage}_stm")
      rawStm(e.name) = g.createStream(e.raw, s"${e.raw}_stm")
      val pipe = g.createPipe(s"${e.name}_pipe", s"$landing/${e.name}", e.stage, e.stageSchema)
      val n = e.name
      // a stream task's body: read the changes, run `f`, commit the offset
      def consume(s: ChangeStream)(f: DataFrame => Unit): () => Unit =
        () => Trace.span("cdc.consume")(s.consume(f))
      val tasks = Seq(
        Task(s"${n}_pipe_tsk", () => Trace.span("ingest.pipe_run")(pipe.runOnce())),
        Task(s"${n}_raw_tsk", consume(stageStm(n)) { df =>
          val src = latest(e, df)
          Trace.span("store.merge")(store.merge(e.raw, src))
        }, after = Seq(s"${n}_pipe_tsk"), when = gate(stageStm(n))),
        if (e.hasDim)
          Task(s"${n}_dim_tsk", consume(rawStm(n)) { df =>
            val src = latest(e, df)
            Trace.span("store.merge")(store.merge(e.dim, src))
          }, after = Seq(s"${n}_raw_tsk"), when = gate(rawStm(n)))
        else
          Task(s"${n}_fact_tsk", consume(rawStm(n)) { _ =>
            val (f, v) = fact()
            val rows = Trace.span("ops.fact_rebuild")(f.localCheckpoint(eager = true))
            Trace.span("store.overwrite")(store.overwrite("fact_order", rows))
            factInputs = v
          }, after = Seq(s"${n}_raw_tsk"), when = gate(rawStm(n))),
        Task(s"${n}_truncate_tsk", () => {
          Trace.span("store.truncate")(store.truncate(e.stage))
          lastCommit.put(n, System.nanoTime())
        }, after = Seq(s"${n}_${if (e.hasDim) "dim" else "fact"}_tsk")))
      tasks.foreach { t => g.tasks.createTask(t); g.tasks.resume(t.name) }
    }
  }

  /** Land one delta file atomically (write hidden, then rename); returns
    * the landing time. */
  def land(e: Entity, text: String): Long = {
    val dir = Paths.get(landing, e.name)
    val name = f"delta_${fileSeq.incrementAndGet()}%06d.csv"
    val tmp = dir.resolve("." + name + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, dir.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    System.nanoTime()
  }

  /** One scheduler tick of the entity's DAG; returns when its last task
    * committed. A failed or skipped-by-failure task fails the tick. */
  def cycle(e: Entity): Long = {
    val states = Trace.span("orchestrate.cycle")(g.tasks.runCycle(s"${e.name}_pipe_tsk"))
    states.values.foreach {
      case "SUCCEEDED" => Trace.count("orchestrate.tasks_run")
      case "SKIPPED"   => Trace.count("orchestrate.tasks_skipped")
      case _           => Trace.count("orchestrate.tasks_failed")
    }
    val bad = states.filter { case (_, s) => s != "SUCCEEDED" && s != "SKIPPED" }
    if (bad.nonEmpty) sys.error(s"${e.name} cycle: $bad")
    lastCommit.get(e.name)
  }

  def streams: Seq[ChangeStream] = stageStm.values.toSeq ++ rawStm.values

  /** Σ committed versions over the store's tables. */
  def versions(): Long = store.listTables().map(store.currentVersion).sum

  /** Data files of the current version of every table. */
  def liveFiles(): Seq[String] =
    store.listTables().flatMap(t => store.read(t).inputFiles.toSeq)
      .map(f => Paths.get(new java.net.URI(f)).toString)

  def close(): Unit = Entities.all.foreach(e => g.pipeOpt(s"${e.name}_pipe").foreach(_.pause()))
}

object Pipeline {
  def apply(ctx: Ctx, data: String, dir: String): Pipeline = {
    val p = new Pipeline(ctx, s"$dir/store", s"$dir/landing")
    p.setup(data)
    p
  }
}

/** Output checks of etl_ticks: every raw and dimension table equals the
  * latest version per key over history ∪ landed deltas, recomputed with
  * plain Spark from the generator's records; the fact equals a fresh
  * recompute over the table versions it was built from; stages are empty
  * and no stream has pending changes. */
object Oracle {
  def check(ctx: Ctx, p: Pipeline, data: String,
      landed: Map[String, ArrayBuffer[Delta]]): Seq[(String, Boolean, String)] = {
    val spark = ctx.spark
    val store = p.g.store
    val expected = Entities.all.map { e =>
      // the generator's order of the rows: history first, then the deltas
      val deltas = spark.createDataFrame(
        landed(e.name).map(d => Row.fromSeq(d.values.toSeq :+ d.seq)).asJava,
        e.stageSchema.add("__seq", LongType))
      val all = spark.read.parquet(s"$data/hist_${e.name}.parquet").withColumn("__seq", lit(0L))
        .unionByName(e.typed(deltas, "__seq"))
      val w = Window.partitionBy(e.keys.map(col): _*).orderBy(col("__seq").desc)
      var latest = all.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__rn", "__seq")
      if (ctx.corrupt && e.name == "customer")
        latest = latest.withColumn("LAST_NAME",
          when(col("CUSTOMER_ID") === EntityGen.alphaId(0, 'C'), lit("corrupted"))
            .otherwise(col("LAST_NAME")))
      e.name -> latest.cache()
    }.toMap
    def same(name: String, got: DataFrame, want: DataFrame): (String, Boolean, String) = {
      def bag(df: DataFrame) = df.collect().groupMapReduce(_.toString)(_ => 1)(_ + _)
      val (g, w) = (bag(got), bag(want))
      val extra = g.map { case (r, n) => (n - w.getOrElse(r, 0)).max(0) }.sum
      val missing = w.map { case (r, n) => (n - g.getOrElse(r, 0)).max(0) }.sum
      val example = g.keys.find(r => !w.contains(r)).map(r => s"; e.g. unexpected $r").getOrElse("") +
        w.keys.find(r => !g.contains(r)).map(r => s"; e.g. missing $r").getOrElse("")
      (name, extra == 0 && missing == 0, s"$extra unexpected rows, $missing missing rows$example")
    }
    val tables = Entities.all.flatMap { e =>
      val want = expected(e.name)
      Seq(same(s"${e.name}.raw", store.read(e.raw), want)) ++
        (if (e.hasDim) Seq(same(s"${e.name}.dim", store.read(e.dim), want)) else Nil)
    }
    EtlTicks.factTables.foreach(t => store.readVersion(t, p.factInputs(t)).createOrReplaceTempView(s"want_$t"))
    val fact = same("order.fact", store.read("fact_order"), spark.sql(EtlTicks.factSql("want_"))
      .select(store.read("fact_order").columns.map(col).toIndexedSeq: _*))
    val drained = Entities.all.map { e =>
      val n = store.read(e.stage).count()
      val pending = p.streams.filter(s => s.table.endsWith(e.name) && s.hasData).map(_.name)
      (s"${e.name}.drained", n == 0 && pending.isEmpty, s"$n stage rows, pending streams ${pending.mkString(",")}")
    }
    expected.values.foreach(_.unpersist())
    tables ++ Seq(fact) ++ drained
  }
}
