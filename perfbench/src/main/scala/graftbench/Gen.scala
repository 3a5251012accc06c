package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    var acc = 0.0
    for (i <- a.indices) { acc += a(i); a(i) = acc }
    a.map(_ / acc)
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One entity of the reference pipeline, in the reference's landing
  * format: every value travels as a string (stage tables are
  * all-varchar) and `types` names the typed columns of the raw and
  * dimension tables.
  *
  * @param written   the leading columns a delta file carries (item files
  *                  never hold IS_ACTIVE; the reader pads it with NULL)
  * @param shortRows a row may omit its trailing IS_ACTIVE (customer)
  * @param version   the column that orders two versions of one key in a
  *                  batch, latest first (item: START_DATE). An entity
  *                  without one repeats a key in a file only as a
  *                  re-sent copy of the same line. */
final case class Entity(name: String, cols: Seq[String], types: Map[String, DataType],
    keys: Seq[String], nullable: Set[String], hasDim: Boolean, written: Int,
    shortRows: Boolean, version: Option[String]) {
  def stageSchema: StructType = StructType(cols.map(StructField(_, StringType)))
  def rawSchema: StructType =
    StructType(cols.map(c => StructField(c, types.getOrElse(c, StringType))))
  def stage: String = s"stg_$name"
  def raw: String = s"raw_$name"
  def dim: String = s"dim_$name"
  /** Cast a frame of landing strings to the raw table's types, keeping
    * the `keep` columns as they are. */
  def typed(df: DataFrame, keep: String*): DataFrame =
    df.select(rawSchema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)) ++
      keep.map(col): _*)
  /** DedupLatest's order: the version column descending, then the key
    * (the copies of a key without a version column are equal). */
  def latestOrder: Seq[Column] =
    version.map(c => col(c).cast(types(c)).desc).toSeq ++ keys.map(col)
}

object Entities {
  private val money = DecimalType(20, 2)
  val customer = Entity("customer",
    Seq("CUSTOMER_ID", "SALUTATION", "FIRST_NAME", "LAST_NAME", "BIRTH_DAY", "BIRTH_MONTH",
      "BIRTH_YEAR", "BIRTH_COUNTRY", "EMAIL_ADDRESS", "IS_ACTIVE"),
    Map("BIRTH_DAY" -> LongType, "BIRTH_MONTH" -> LongType, "BIRTH_YEAR" -> LongType),
    Seq("CUSTOMER_ID"),
    Set("SALUTATION", "FIRST_NAME", "LAST_NAME", "BIRTH_DAY", "BIRTH_MONTH", "BIRTH_YEAR",
      "BIRTH_COUNTRY", "EMAIL_ADDRESS"),
    hasDim = true, written = 10, shortRows = true, version = None)
  val item = Entity("item",
    Seq("ITEM_ID", "ITEM_DESC", "START_DATE", "END_DATE", "PRICE", "ITEM_CLASS",
      "ITEM_CATEGORY", "IS_ACTIVE"),
    Map("START_DATE" -> DateType, "END_DATE" -> DateType, "PRICE" -> DecimalType(7, 2)),
    Seq("ITEM_ID"),
    Set("ITEM_DESC", "PRICE", "ITEM_CLASS", "ITEM_CATEGORY"),
    hasDim = true, written = 7, shortRows = false, version = Some("START_DATE"))
  val order = Entity("order",
    Seq("ORDER_DATE", "ORDER_TIME", "ITEM_ID", "ITEM_DESC", "CUSTOMER_ID", "SALUTATION",
      "FIRST_NAME", "LAST_NAME", "STORE_ID", "STORE_NAME", "ORDER_QUANTITY", "SALE_PRICE",
      "DISOUNT_AMT", "COUPON_AMT", "NET_PAID", "NET_PAID_TAX", "NET_PROFIT"),
    Map("ORDER_DATE" -> DateType, "ORDER_QUANTITY" -> LongType, "SALE_PRICE" -> money,
      "DISOUNT_AMT" -> money, "COUPON_AMT" -> money, "NET_PAID" -> money,
      "NET_PAID_TAX" -> money, "NET_PROFIT" -> money),
    Seq("ORDER_DATE", "ORDER_TIME", "ITEM_ID", "ITEM_DESC"),
    Set("SALUTATION", "FIRST_NAME", "LAST_NAME", "STORE_ID", "STORE_NAME", "COUPON_AMT",
      "NET_PAID_TAX"),
    hasDim = false, written = 17, shortRows = false, version = None)
  val all: Seq[Entity] = Seq(customer, item, order)
}

/** Parameters of the delta generator (workloads.json, etl_ticks.generator). */
final case class GenParams(updateShare: Double, insertShare: Double, duplicateShare: Double,
    zipf: Double, nullShare: Double, emptyShare: Double, shortRowShare: Double,
    headerlessShare: Double) {
  require(math.abs(updateShare + insertShare + duplicateShare - 1) < 1e-9,
    "update, insert and duplicate shares must add up to 1")
}

/** A delta row as the generator meant it: its values after the reader's
  * NULL padding, and its place in the entity's delta stream (history
  * rows come first, then `seq` 1, 2, …). */
final case class Delta(seq: Long, values: Array[String])

/** Seeded records of the three entities. The same seed gives the same
  * history and, per entity, the same sequence of delta files. */
final class EntityGen(seed: Long, histRows: Map[String, Int], p: GenParams) {
  import EntityGen._

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rng(stream: Long, i: Long) = new SplittableRandom(mix(mix(seed, stream), i))

  private val zipfs = histRows.map { case (e, n) => e -> new Zipf(n, p.zipf) }
  /** Zipf rank → entity index, so the hot keys spread over the key space. */
  private val perms = histRows.map { case (e, n) =>
    val a = Array.range(0, n)
    val r = rng(e.hashCode, 0)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    e -> a
  }

  def hotIndex(entity: String, r: SplittableRandom): Int = perms(entity)(zipfs(entity).sample(r))

  /** Logical values of entity row `i` (key columns depend on `i` only).
    * `seq` is 0 for history rows and the row's delta number otherwise: a
    * delta version of an item starts after every earlier version. */
  def record(e: Entity, i: Int, seq: Long, r: SplittableRandom): Array[String] = {
    def pick(xs: Array[String]) = xs(r.nextInt(xs.length))
    val v: Array[String] = e.name match {
      case "customer" =>
        val (f, l) = (pick(FirstNames), pick(LastNames))
        Array(alphaId(i, 'C'), pick(Salutations), f, l, (1 + r.nextInt(28)).toString,
          (1 + r.nextInt(12)).toString, (1930 + r.nextInt(70)).toString, pick(Countries),
          s"${f.toLowerCase}.${l.toLowerCase}${r.nextInt(1000)}@${pick(Domains)}",
          if (r.nextDouble() < 0.9) "Y" else "N")
      case "item" =>
        val start = Base.plusDays(if (seq == 0) r.nextInt(HistoryDays).toLong else HistoryDays + seq)
        Array(alphaId(i, 'I'), freeText(r), start.toString,
          if (r.nextDouble() < 0.2) start.plusDays(30 + r.nextInt(300).toLong).toString else null,
          cents(100 + r.nextInt(99000)), pick(ItemClasses), pick(ItemCategories), null)
      case "order" =>
        val k = rng(21, i)
        val date = Base.plusDays((i % 730).toLong)
        val secs = ((i / 730).toLong * 397 + 11) % 86400
        val (h, m, s) = (secs / 3600, secs / 60 % 60, secs % 60)
        val item = alphaId(hotIndex("item", k), 'I')
        val cust = alphaId(hotIndex("customer", k), 'C')
        val desc = freeText(k)
        val qty = 1 + r.nextInt(100)
        val price = (100 + r.nextInt(20000)).toLong * qty
        val disc = price * r.nextInt(30) / 100
        val coupon = if (r.nextDouble() < 0.3) price * r.nextInt(10) / 100 else 0L
        val paid = price - disc - coupon
        val tax = paid * 8 / 100
        val profit = paid - price * (40 + r.nextInt(80)) / 100
        Array(date.toString, f"$h%d:$m%02d:$s%02d ${if (h >= 12) "PM" else "AM"}", item, desc, cust,
          pick(Salutations), pick(FirstNames), pick(LastNames), s"S${1 + r.nextInt(40)}",
          pick(StoreNames), qty.toString, cents(price), cents(disc), cents(coupon), cents(paid),
          cents(paid + tax), cents(profit))
    }
    e.cols.indices.foreach { c =>
      if (e.nullable(e.cols(c)) && r.nextDouble() < p.nullShare) v(c) = null
    }
    v
  }

  def history(e: Entity): Seq[Array[String]] = {
    val r = rng(100 + e.name.hashCode, 0)
    (0 until histRows(e.name)).map(i => record(e, i, 0L, r))
  }

  /** The delta file stream of one entity. Not thread-safe: one per thread. */
  final class Deltas(e: Entity, rowsPerFile: Int) {
    private val r = rng(200 + e.name.hashCode, 0)
    private val quirk = rng(300 + e.name.hashCode, 0)
    private var nextSeq = 1L
    private var nextNew = histRows(e.name)
    private val keyOf = e.keys.map(e.cols.indexOf(_))

    /** The next file: its CSV text and the rows it holds. Updates draw
      * keys the file does not hold yet, so a key repeats in a file only
      * as an in-file duplicate: a later version of an earlier row's key,
      * or, for an entity without a version column, a re-sent copy of its
      * line. */
    def next(): (String, Seq[Delta]) = {
      val rows = ArrayBuffer.empty[(Int, Delta, String)] // entity index, row, CSV line
      val inFile = scala.collection.mutable.Set.empty[Int]
      while (rows.size < rowsPerFile) {
        val u = r.nextDouble()
        if (u < p.duplicateShare && rows.nonEmpty) {
          val earlier = rows(r.nextInt(rows.size))
          rows += (if (e.version.isEmpty) earlier else row(earlier._1))
        } else if (u < p.duplicateShare + p.updateShare) {
          var i = hotIndex(e.name, r)
          while (inFile(i)) i = hotIndex(e.name, r)
          inFile += i
          rows += row(i)
        } else { rows += row(nextNew); nextNew += 1 }
      }
      val sb = new StringBuilder
      if (quirk.nextDouble() < p.headerlessShare) sb.append('\n') // skip_header eats the blank line
      else sb.append(e.cols.take(e.written).mkString(",")).append('\n')
      rows.foreach(x => sb.append(x._3).append('\n'))
      val deltas = rows.map(_._2).toSeq
      assert(deltas.forall(d => keyOf.forall(d.values(_) != null)))
      (sb.toString, deltas)
    }

    private def row(i: Int): (Int, Delta, String) = {
      val rec = record(e, i, nextSeq, r)
      val short = e.shortRows && quirk.nextDouble() < p.shortRowShare
      val shown = rec.take(if (short) e.written - 1 else e.written)
      val d = Delta(nextSeq, rec.zipWithIndex.map { case (v, c) => if (c < shown.length) v else null })
      nextSeq += 1
      (i, d, shown.map(v => field(v, quirk)).mkString(","))
    }
  }

  private def field(v: String, q: SplittableRandom): String =
    if (v == null) { if (q.nextDouble() < p.emptyShare / (p.nullShare max 1e-9)) "" else "\\N" }
    else if (v.contains(",")) "\"" + v + "\""
    else v
}

object EntityGen {
  val Base: java.time.LocalDate = java.time.LocalDate.of(1997, 1, 1)
  /** History items start within this many days of [[Base]]. */
  val HistoryDays = 1500
  def cents(c: Long): String = java.math.BigDecimal.valueOf(c, 2).toPlainString
  /** 16-letter id in the reference's style (AAAAAAAAPOJJJDAA). */
  def alphaId(i: Int, tag: Char): String = {
    val sb = new StringBuilder("AAAAAAA").append(tag)
    var x = i.toLong
    val tail = new Array[Char](8)
    for (k <- 7 to 0 by -1) { tail(k) = ('A' + (x % 26).toInt).toChar; x /= 26 }
    sb.appendAll(tail).toString
  }
  /** Free text of 12 to 30 words with a comma after every sixth, as the
    * reference's long ITEM_DESC values (quoted in the CSV). */
  def freeText(r: SplittableRandom): String = {
    val n = 12 + r.nextInt(19)
    (0 until n).map { j =>
      DescWords(r.nextInt(DescWords.length)) + (if (j % 6 == 5 && j < n - 1) "," else "")
    }.mkString(" ")
  }
  val Salutations = Array("Mr.", "Mrs.", "Ms.", "Dr.", "Sir", "Miss")
  val FirstNames = Array("James", "Mary", "John", "Linda", "Ahmed", "Mei", "Carlos", "Fatima",
    "Olga", "Kenji", "Amara", "Liam", "Sofia", "Ivan", "Priya", "Noah", "Chen", "Aisha")
  val LastNames = Array("Smith", "Garcia", "Kim", "Nguyen", "Okafor", "Muller", "Rossi",
    "Silva", "Ivanova", "Tanaka", "Khan", "Brown", "Lopez", "Cohen", "Dubois", "Haddad")
  val Countries = Array("UNITED STATES", "GERMANY", "KOREA, REPUBLIC OF", "JAPAN", "BRAZIL",
    "VIRGIN ISLANDS, U.S.", "INDIA", "FRANCE", "IRAN, ISLAMIC REPUBLIC OF", "NIGERIA", "PERU",
    "CANADA", "TANZANIA, UNITED REPUBLIC OF", "SPAIN", "EGYPT", "VIET NAM")
  val Domains = Array("example.com", "mail.net", "post.org", "inbox.io")
  val DescWords = Array("sterling", "silver", "loose", "stones", "cotton", "bright", "oak",
    "compact", "vintage", "polished", "steel", "woven", "matte", "ceramic", "linen", "only",
    "natural", "years", "small", "important", "heavy", "modern", "classic", "quality")
  val ItemClasses = Array("stones", "loose stones", "jewelry", "mens", "womens", "shirts",
    "pants", "kitchen", "tables", "lighting", "camping", "fitness")
  val ItemCategories = Array("Jewelry", "Men", "Women", "Home", "Sports", "Books", "Music",
    "Electronics", "Shoes", "Children")
  val StoreNames = Array("ought", "able", "eing, north", "anti", "cally", "ation, east",
    "bar", "ese", "pri, west", "n st")
}

/** Seeded corpus tables for the training-data operators, in the schema
  * of the engine's harness tables (documents, embeddings, events). */
object CorpusGen {
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(" ")
  private val Langs = Array("en", "zh", "es", "fr", "de")

  def write(spark: SparkSession, dir: String, seed: Long, docs: Int, embs: Int,
      events: Int, users: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](docs)
    val docRows = (0 until docs).map { i =>
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      val u = r.nextDouble()
      val lang = if (u < 0.41) "en" else Langs(1 + ((u - 0.41) / 0.1475).toInt.min(3))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(dim)(r.nextGaussian())))
    val embRows = (0 until embs).map { i =>
      val label = r.nextInt(10)
      val v = unit(Array.tabulate(dim)(d => 0.3 * centers(label)(d) + r.nextGaussian() / 8))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000
    val spanMicros = 30L * 86400 * 1000000
    val types = Array("view", "click", "purchase", "signup", "error")
    val evRows = (0 until events).map { i =>
      val micros = t0 + spanMicros * i / events + r.nextLong(spanMicros / events)
      val ts = java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(micros * 1000))
      Row(i.toLong, ts, r.nextInt(users).toLong, types(r.nextInt(5)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val evSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))

    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(docRows, docSchema, "documents")
    save(embRows, embSchema, "embeddings")
    save(evRows, evSchema, "events")
  }
}
