package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry

/** Training-data operators: passes over a fixed list of `SparkEntry`
  * queries, each pass in a seed-shuffled order, results to a noop sink.
  *
  * Set-up points the session at a fresh artifact root and runs every op
  * once, saving its result as parquet: that builds the op's artifacts and
  * leaves the output the DuckDB oracle checks after the run. */
final class CorpusOps extends Workload {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val cfg = ctx.wl("corpus_ops")
    val ops = cfg.get("ops").elements().asScala.map(_.asText).toSeq
    val data = s"${ctx.work}/data"
    val out = s"${ctx.work}/out"
    CorpusGen.write(spark, data, ctx.seed, ctx.scale.get("documents").asInt,
      ctx.scale.get("embeddings").asInt, ctx.scale.get("events").asInt,
      ctx.scale.get("event_users").asInt)

    val setups = (1 to Loop.SetupReps).map { k =>
      spark.conf.set("spark.graft.artifactDir", s"${ctx.work}/artifacts_$k")
      Loop.seconds(ops.foreach { op =>
        SparkEntry.queries(op)(spark, data).write.mode("overwrite").parquet(s"$out/$op")
      })._2
    }
    val oracle = ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.write(oracle))

    val rnd = new Random(ctx.seed)
    val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
    var failedRuns = 0
    def pass(): Double = {
      val t0 = System.nanoTime()
      val failed = rnd.shuffle(ops).filterNot { op =>
        runs(op) += 1
        try {
          Trace.span(s"ops.$op") {
            SparkEntry.queries(op)(spark, data).write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Exception => System.err.println(s"[perfbench] $op failed: $e"); false }
      }
      failedRuns += failed.size
      if (failed.nonEmpty) sys.error(s"ops failed: ${failed.mkString(",")}")
      (System.nanoTime() - t0) / 1e6
    }
    val (plain, traced) = Loop.measure(ctx, 1)(_ => pass())
    val perLayer = traced.map { w =>
      Layers.metrics(ctx, w.spans, w.spark, w.wallMs, w.units * ops.size,
        Layers.overhead(Stats.median(plain.latenciesMs), Stats.median(w.latenciesMs)))
    }.getOrElse(Map.empty)

    val root = s"${ctx.work}/artifacts_${setups.size}"
    val artifacts = new graft.store.TableStore(spark, root)
    val live = artifacts.listTables().flatMap(t => artifacts.read(t).inputFiles)
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    Outcome(
      setupS = setups,
      latenciesMs = plain.latenciesMs,
      throughputPerS = plain.units * ops.size / (plain.wallMs / 1000),
      spaceAmp = if (live == 0) 1.0 else Stats.bytesUnder(root).toDouble / live,
      attempted = runs.values.sum,
      failed = failedRuns,
      checks = Nil, // the DuckDB oracle runs after the JVM (run.py)
      report = Map(
        "pass_s" -> M(Stats.median(plain.latenciesMs) / 1000, "s"),
        "ops_per_pass" -> M(ops.size, "count")) ++
        runs.map { case (op, n) => s"runs.$op" -> M(n, "count") },
      perLayer = perLayer)
  }
}
