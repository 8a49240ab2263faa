package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

/** Seeded benchmark inputs: the ten tables `graft.Tables` reads, with
  * its schemas and the value domains of the repository's test data
  * (FIXTURES.md §2) at the sf0.01 sizes. Every table is a pure function
  * of (seed, table), so one seed always stages byte-identical inputs.
  *
  * Each table is written as ONE parquet file, as the test data ships:
  * scans arrive as a single task, which the loaders are tuned for.
  * `events.ts` is raw INT64 microseconds, which `Tables.load` and the
  * DuckDB views both normalize per row.
  */
object DataGen {

  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LineItems = 60000
  val Events = 10000
  val Users = 150
  val Documents = 500
  val Embeddings = 500

  val Vocab: Array[String] = ("join hash row batch scan column customer " +
    "filter small slow merge order vector line table data agg value key " +
    "stream window a spark part group big sort query fast the").split(" ")
  private val Adjectives = Array("small", "red", "blue", "hot", "old", "large", "new", "cold")
  private val Nouns = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
  private val Segments = Array("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
  private val PartTypes = Array("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("signup", "error", "click", "view", "purchase")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val DayMicros = 86400L * 1000000L

  private def rng(seed: Long, table: String) =
    new SplittableRandom(seed * 1000003L + table.hashCode)
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def day(epochDay: Long): Timestamp =
    new Timestamp(epochDay * 86400L * 1000L)
  private def epochDay(iso: String): Long = java.time.LocalDate.parse(iso).toEpochDay
  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  /** Only the `documents` table, `n` rows — the crawl input of curation. */
  def documentRows(seed: Long, n: Int): Array[Row] = documents(rng(seed, "documents"), n)

  /** One parquet file at `path` holding `rows` of table `table`. */
  def write(spark: SparkSession, path: String, table: String, rows: Array[Row]): Unit = {
    // TIMESTAMP_MICROS instead of the INT96 default, so the DuckDB side
    // reads the same instants without legacy-type handling
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try spark.createDataFrame(java.util.Arrays.asList(rows: _*), graft.Tables.schemas(table))
      .coalesce(1).write.mode("overwrite").parquet(path)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  def tables(seed: Long): Seq[(String, Array[Row])] = Seq(
    "region" -> Regions.indices.map(i => Row(i, Regions(i))).toArray,
    "nation" -> (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)).toArray,
    "customer" -> {
      val r = rng(seed, "customer")
      Array.tabulate(Customers)(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), cents(r, -999.99, 9999.99), pick(r, Segments)))
    },
    "supplier" -> {
      val r = rng(seed, "supplier")
      Array.tabulate(Suppliers)(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), cents(r, -999.99, 9999.99)))
    },
    "part" -> {
      val r = rng(seed, "part")
      Array.tabulate(Parts)(i => Row(i.toLong,
        pick(r, Adjectives) + " " + pick(r, Nouns), s"Brand#${1 + r.nextInt(25)}",
        pick(r, PartTypes), 1 + r.nextInt(50), (9000 + i % 1000) / 10.0))
    },
    "orders" -> {
      val r = rng(seed, "orders")
      val (d0, d1) = (epochDay("1995-01-01"), epochDay("2001-08-01"))
      Array.tabulate(Orders)(i => Row(i.toLong, r.nextInt(Customers).toLong,
        pick(r, Array("P", "O", "F")), cents(r, 1000.0, 500000.0),
        day(d0 + r.nextLong(d1 - d0 + 1)), pick(r, Priorities)))
    },
    "lineitem" -> {
      val r = rng(seed, "lineitem")
      val (d0, d1) = (epochDay("1995-01-02"), epochDay("2001-11-04"))
      Array.tabulate(LineItems)(_ => Row(r.nextInt(Orders).toLong,
        r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, cents(r, 900.0, 105000.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Array("R", "A", "N")),
        pick(r, Array("O", "F")), day(d0 + r.nextLong(d1 - d0 + 1))))
    },
    "events" -> {
      val r = rng(seed, "events")
      var ts = epochDay("2024-01-01") * DayMicros
      Array.tabulate(Events) { i =>
        ts += (-math.log(1.0 - r.nextDouble()) * 259e6).toLong + 1
        Row(i.toLong, ts, r.nextInt(Users).toLong, pick(r, EventTypes),
          math.max(0.01, math.round(-math.log(1.0 - r.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${r.nextInt(100)}}""")
      }
    },
    "documents" -> documents(rng(seed, "documents"), Documents),
    "embeddings" -> {
      val r = rng(seed, "embeddings")
      val dim = 64
      def gauss(): Array[Double] = Array.fill(dim)(r.nextGaussian())
      def unit(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      val centers = Array.fill(10)(unit(gauss()))
      Array.tabulate(Embeddings) { i =>
        val label = r.nextInt(10)
        val v = unit(centers(label).zip(unit(gauss())).map { case (c, n) => 0.15 * c + n })
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      }
    })

  /** Documents of 10–99 vocabulary tokens; one in twenty is a near
    * duplicate of another document (its text plus a trailing " dup"),
    * the planted near-dup structure of the test data's corpus.
    */
  private def documents(r: SplittableRandom, n: Int): Array[Row] = {
    val texts = Array.fill(n)(Array.fill(10 + r.nextInt(90))(pick(r, Vocab)).mkString(" "))
    for (i <- 0 until n if r.nextInt(20) == 0) texts(i) = texts(r.nextInt(n)) + " dup"
    Array.tabulate(n) { i =>
      val u = r.nextDouble()
      val lang = if (u < 0.44) "en" else if (u < 0.59) "zh" else if (u < 0.74) "es"
        else if (u < 0.88) "de" else "fr"
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }
}
