package graftbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

import graft.GraftSession

/** The read path: one client runs a seeded mix of statements over the
  * store (point lookups by Zipf-drawn key, through SQL and through the
  * store's pruned scan; date-range aggregates over orders; the star-join
  * aggregate), each collected before the next is sent. */
final class StoreReads extends Workload {
  import StoreReads._

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val cfg = ctx.wl("store_reads")
    val gen = EtlTicks.generator(ctx) // the same history as etl_ticks
    val data = s"${ctx.work}/data"
    Loop.phase("generate")(EtlTicks.writeHistory(spark, gen, data))

    val setups = (1 to Loop.SetupReps).map(k =>
      Loop.phase("setup")(Loop.seconds(setup(ctx, data, s"${ctx.work}/reads_$k/store"))))
    val g = setups.last._1
    val liveFiles = tables.map(t => t -> g.store.read(t).inputFiles.length).toMap

    val mix = cfg.get("mix")
    val kinds = Seq("sql_point", "store_point", "sql_range", "sql_star")
    val weights = kinds.map(k => mix.get(k).asDouble)

    val r = new SplittableRandom(ctx.seed * 7919 + 17)
    // statements are dealt from shuffled decks holding the mix's exact
    // proportions, so every window runs the same mix
    val deck = kinds.zip(weights).flatMap { case (k, w) => Seq.fill(math.round(w * DeckSize).toInt)(k) }
    val dealt = mutable.Queue.empty[String]
    def nextStatement(): Statement = {
      if (dealt.isEmpty) dealt ++= new scala.util.Random(r.nextLong()).shuffle(deck)
      val kind = dealt.dequeue()
      kind match {
        case "sql_point" | "store_point" =>
          val e = if (r.nextBoolean()) Entities.customer else Entities.item
          val id = EntityGen.alphaId(gen.hotIndex(e.name, r), if (e == Entities.customer) 'C' else 'I')
          Statement(kind, s"SELECT * FROM ${e.dim} WHERE ${e.keys.head} = '$id'", Seq(e.dim),
            Some((e, id)))
        case "sql_range" =>
          val from = EntityGen.Base.plusDays(r.nextInt(RangeStarts) * 730L / RangeStarts)
          val to = from.plusDays(RangeDays(r.nextInt(RangeDays.size)) - 1L)
          Statement(kind, "SELECT count(*) AS n, sum(NET_PAID) AS paid, sum(ORDER_QUANTITY) AS qty, " +
            s"min(ORDER_TIME) AS first_time FROM raw_order WHERE ORDER_DATE BETWEEN DATE'$from' AND DATE'$to'",
            Seq("raw_order"), None)
        case _ =>
          val w = r.nextInt(StarWindows)
          val from = EntityGen.Base.plusDays(w * 730L / StarWindows)
          val to = EntityGen.Base.plusDays((w + 1) * 730L / StarWindows - 1)
          Statement(kind, "SELECT i.ITEM_CATEGORY, c.BIRTH_COUNTRY, count(*) AS n, sum(o.NET_PAID) AS paid " +
            "FROM raw_order o JOIN dim_customer c ON o.CUSTOMER_ID = c.CUSTOMER_ID " +
            "JOIN dim_item i ON o.ITEM_ID = i.ITEM_ID " +
            s"WHERE o.ORDER_DATE BETWEEN DATE'$from' AND DATE'$to' " +
            "GROUP BY i.ITEM_CATEGORY, c.BIRTH_COUNTRY ORDER BY i.ITEM_CATEGORY, c.BIRTH_COUNTRY",
            tables, None)
      }
    }

    val answers = mutable.LinkedHashMap.empty[Statement, mutable.Map[String, Int]]
    var scanned, live = 0L
    def execute(s: Statement): Double = {
      val t0 = System.nanoTime()
      val (df, rows) = s.kind match {
        case "store_point" =>
          val (e, id) = s.key.get
          Trace.span("store.read") {
            val df = g.store.scanWhere(e.dim, col(e.keys.head) === id)
            (df, df.collect())
          }
        case _ =>
          val df = Trace.span("sql.plan")(g.sql(s.text).get)
          (df, Trace.span("sql.exec")(df.collect()))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      answers.getOrElseUpdate(s, mutable.Map.empty).updateWith(digest(rows))(n => Some(n.getOrElse(0) + 1))
      if (Trace.enabled) {
        scanned += filesScanned(df)
        live += s.tables.map(liveFiles).sum
      }
      ms
    }
    Loop.phase("warm-up")((1 to DeckSize).foreach(_ => execute(nextStatement())))
    answers.clear()
    val kindMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val (plain, traced) = Loop.phase("measure")(Loop.measure(ctx, 1) { _ =>
      val s = nextStatement()
      val ms = execute(s)
      if (!Trace.enabled) kindMs.getOrElseUpdate(s.kind, mutable.ArrayBuffer.empty) += ms
      ms
    })

    val perLayer = traced.map { w =>
      Layers.metrics(ctx, w.spans, w.spark, w.wallMs, w.units, Map(
        "store.files_live" -> M(liveFiles.values.sum.toDouble, "count"),
        "store.files_scanned_ratio" -> M(scanned.toDouble / math.max(1L, live), "ratio")) ++
        Layers.overhead(Stats.median(plain.latenciesMs), Stats.median(w.latenciesMs)))
    }.getOrElse(Map.empty)

    val wrong = Loop.phase("check")(Oracle.expected(ctx, data, answers.keys.toSeq)).collect {
      case (s, want) if answers(s).keySet != Set(want) => s -> answers(s).values.sum
    }
    val windows = plain +: traced.toSeq
    val root = s"${ctx.work}/reads_${Loop.SetupReps}/store"
    val liveBytes = tables.flatMap(t => g.store.read(t).inputFiles)
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    val checks = Seq(("reads.answers", wrong.isEmpty,
      s"${answers.size - wrong.size} of ${answers.size} distinct statements answered right" +
        wrong.headOption.map { case (s, _) => s"; first wrong: ${s.text}" }.getOrElse("")))
    Outcome(
      setupS = setups.map(_._2),
      latenciesMs = plain.latenciesMs,
      throughputPerS = plain.units / (plain.wallMs / 1000),
      spaceAmp = Stats.bytesUnder(root).toDouble / liveBytes,
      attempted = windows.map(_.attempted).sum,
      failed = windows.map(_.failed).sum + wrong.values.sum,
      checks = checks,
      report = Map(
        "read_p50_ms" -> M(Stats.median(plain.latenciesMs), "ms"),
        "read_tail_ms" -> M(Stats.tail(plain.latenciesMs), "ms"),
        "reads_per_s" -> M(plain.units / (plain.wallMs / 1000), "1/s")) ++
        kindMs.map { case (k, xs) => s"read_p50_ms.$k" -> M(Stats.median(xs.toSeq), "ms") } ++
        kindMs.map { case (k, xs) => s"reads.$k" -> M(xs.size, "count") },
      perLayer = perLayer)
  }
}

object StoreReads {
  val tables: Seq[String] = Seq("dim_customer", "dim_item", "raw_order")
  /** Statements per deck; a deck holds the mix's exact proportions. */
  val DeckSize = 20
  /** Date-range scans start at one of this many points of the two years
    * of orders and span one of [[RangeDays]]. */
  val RangeStarts = 16
  val RangeDays: Seq[Int] = Seq(7, 30, 90)
  /** The star join aggregates one of this many equal date windows. */
  val StarWindows = 4

  final case class Statement(kind: String, text: String, tables: Seq[String],
      key: Option[(Entity, String)])

  /** Order-insensitive digest of a result. */
  def digest(rows: Array[Row]): String = rows.map(_.toString).sorted.mkString("\n")

  private object PlanScan extends AdaptiveSparkPlanHelper

  /** Input files the executed plan of `df` scanned. */
  def filesScanned(df: DataFrame): Long =
    PlanScan.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum

  /** The history parquet of the entity behind table `t`. */
  private def source(spark: SparkSession, data: String, t: String): DataFrame =
    spark.read.parquet(s"$data/hist_${t.dropWhile(_ != '_').tail}.parquet")

  /** Set-up: the three tables loaded through a GraftSession, with a
    * lookup bloom declared on their keys. */
  def setup(ctx: Ctx, data: String, root: String): GraftSession = {
    val g = GraftSession(ctx.spark, root, ctx.cores)
    tables.foreach { t =>
      val df = source(ctx.spark, data, t)
      val keys = Entities.all.find(x => t.endsWith(x.name)).get.keys
      g.createTable(t, df.schema, keys)
      g.store.declareLookup(t, keys)
      g.store.append(t, df)
    }
    g
  }

  /** Expected answers: the same SQL run by plain Spark over the source
    * parquet (point lookups of one table batched into one IN query). */
  object Oracle {
    def expected(ctx: Ctx, data: String, stmts: Seq[Statement]): Map[Statement, String] = {
      val plain = ctx.spark.newSession()
      tables.foreach(t => source(plain, data, t).createOrReplaceTempView(t))
      val (points, others) = stmts.partition(_.key.isDefined)
      val pointAnswers = points.groupBy(_.key.get._1).flatMap { case (e, ss) =>
        val ids = ss.map(_.key.get._2).distinct
        val df = plain.sql(s"SELECT * FROM ${e.dim} WHERE ${e.keys.head} IN (" +
          ids.map(i => s"'$i'").mkString(",") + ")")
        val idx = df.schema.fieldIndex(e.keys.head)
        val byId = df.collect().groupBy(_.getString(idx))
        ss.map(s => s -> digest(byId.getOrElse(s.key.get._2, Array.empty)))
      }
      val all = pointAnswers ++ others.map(s => s -> digest(plain.sql(s.text).collect()))
      if (ctx.corrupt) all ++ all.headOption.map { case (s, d) => s -> (d + "\ncorrupted") } else all
    }
  }
}
