package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one workload run needs: the session, its own work directory,
  * the seed, the measuring time, the configuration (workloads.json) and
  * the chosen input scale. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Double,
    trace: Boolean, conf: JsonNode, scale: JsonNode, corrupt: Boolean, cores: Int,
    counters: SparkCounters) {
  def wl(name: String): JsonNode = conf.get(name)
}

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

/** The outcome of one run, before the JSON is written. */
final case class Outcome(
    setupS: Seq[Double],
    latenciesMs: Seq[Double],
    throughputPerS: Double,
    spaceAmp: Double,
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    report: Map[String, M],
    perLayer: Map[String, M])

trait Workload { def run(ctx: Ctx): Outcome }

object Stats {
  /** Linear-interpolated percentile (0-100) of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def samplesBeyond(n: Int, p: Double): Int = (n * (1 - p / 100.0) + 1e-9).floor.toInt
  /** The tail percentile of `n` samples: the highest of 99, 95, 90 and 75
    * that leaves at least ten samples beyond it, else the median. */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(samplesBeyond(n, _) >= 10).getOrElse(50.0)
  def tail(xs: Seq[Double]): Double = pct(xs, tailPercentile(xs.size))

  /** The timed layer calls of a span set: p50 per call, by span name. */
  def p50ByName(spans: Seq[Trace.Span]): Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> median(ss.map(_.ms)) }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}

/** Entry point of the benchmark JVM: `graftbench.Main --workload <name>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --config <file>
  * [--scale default|tiny] [--corrupt 1]`. Writes `<work>/result.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsolutePath
    val conf = new ObjectMapper().readTree(new File(opt("config")))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.artifactDir", s"$work/artifacts")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val name = opt("workload")
    val ctx = Ctx(spark, work, opt("seed").toLong, opt("seconds").toDouble,
      opt.get("trace").contains("1"), conf, conf.get("scales").get(opt.getOrElse("scale", "default")),
      opt.get("corrupt").contains("1"), cores, counters)
    val wl: Workload = name match {
      case "etl_ticks"   => new EtlTicks
      case "store_reads" => new StoreReads
      case "corpus_ops"  => new CorpusOps
      case other         => sys.error(s"unknown workload $other")
    }
    val out = wl.run(ctx)
    System.err.println(s"[perfbench] latencies ms: ${out.latenciesMs.map(x => f"$x%.0f").mkString(" ")}")

    val lat = out.latenciesMs
    val tail = Stats.tailPercentile(lat.size)
    val e2e = Map(
      "setup_s" -> M(Stats.median(out.setupS), "s"),
      "latency_p50_ms" -> M(Stats.median(lat), "ms"),
      "latency_tail_ms" -> M(Stats.pct(lat, tail), "ms"),
      "throughput_per_s" -> M(out.throughputPerS, "1/s"),
      "space_amp" -> M(out.spaceAmp, "ratio"),
      "rss_peak_mb" -> M(vmHwmMb(), "MB"))
    val result = Map(
      "workload" -> name,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "correct" -> (out.failed == 0 && out.checks.forall(_._2)),
      "checks" -> out.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "end_to_end" -> (if (ctx.trace) Map.empty[String, M] else e2e),
      "per_layer" -> (if (ctx.trace) out.perLayer else Map.empty[String, M]),
      "report" -> (out.report ++ Map(
        "setup_reps" -> M(out.setupS.size, "count"),
        "samples" -> M(lat.size, "count"),
        "tail_percentile" -> M(tail, "pct"),
        "tail_samples_beyond" -> M(Stats.samplesBeyond(lat.size, tail), "count"))),
      "provenance" -> Map(
        "nproc" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "seed" -> ctx.seed,
        "scale" -> opt.getOrElse("scale", "default"),
        "setup_s_each" -> out.setupS))
    spark.stop()
    Files.writeString(Paths.get(work, "result.json"), Json.write(result))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

object Json {
  private val mapper = new ObjectMapper()
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case M(value, unit) => toJava(Map("value" -> value, "unit" -> unit))
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
  def write(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(toJava(v))
}
