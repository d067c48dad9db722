package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything the program receives is derived from
  * the run's `--seed` through `SplittableRandom`, so one seed always yields
  * the same rows (pinned by `SelfTest` through [[Gen.digest]]). Inputs are
  * plain Scala rows: the benchmark keeps them to compute expected answers,
  * and writes them as parquet for the program to read. */
object Gen {
  val EventTypes: Vector[String] = Vector("click", "view", "error", "purchase", "signup")
  val DayMicros: Long = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z: the declared time-series rows filter on January 2024. */
  val Epoch: Long = 1704067200L * 1000000L

  final case class Point(eventId: Long, tsMicros: Long, user: Long, kind: String,
                         value: Double, props: String) {
    /** Raw size of the point as a user hands it over: four 8-byte fields
      * plus the UTF-8 bytes of the two strings (the write/space-amp base). */
    def rawBytes: Long = 32L + kind.length + props.length
    def day: Int = ((tsMicros - Epoch) / DayMicros).toInt
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `prefix` + `i` zero-padded to `width` digits, whatever the JVM locale. */
  def padded(prefix: String, i: Long, width: Int): String =
    prefix + s"%0${width}d".formatLocal(java.util.Locale.ROOT, i)

  def dayString(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString

  private def rng(seed: Long, stream: Long*): SplittableRandom =
    new SplittableRandom(stream.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, s) =>
      java.lang.Long.rotateLeft(h ^ (s * 0xBF58476D1CE4E5B9L), 27) * 0x94D049BB133111EBL))

  private def point(r: SplittableRandom, id: Long, day: Int, users: Int): Point = {
    val v = math.round(r.nextDouble() * 20000.0) / 100.0
    Point(id, Epoch + day * DayMicros + r.nextLong(DayMicros), r.nextInt(users).toLong,
      EventTypes(r.nextInt(EventTypes.size)), v, s"""{"k": ${r.nextInt(100)}}""")
  }

  /** `perDay` points on each of `days` days over `users` × 5 series. */
  def events(seed: Long, users: Int, days: Int, perDay: Int): Vector[Point] =
    (0 until days).iterator.flatMap { d =>
      val r = rng(seed, 1, d)
      Iterator.tabulate(perDay)(i => point(r, d.toLong * perDay + i, d, users))
    }.toVector

  /** Batch `batch` of day `day` in the ingest stream. */
  def ingestBatch(seed: Long, day: Int, batch: Int, batchesPerDay: Int, size: Int,
                  users: Int): Vector[Point] = {
    val r = rng(seed, 2, day, batch)
    val base = (day.toLong * batchesPerDay + batch) * size
    Vector.tabulate(size)(i => point(r, base + i, day, users))
  }

  /** The `documents` profile of the sf0.1 corpus: a 30-token vocabulary,
    * 10 to 100 tokens per document, and `dupPct` percent planted near-dups
    * (a prefix of an earlier document with a `dup` marker). */
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "the", "row", "agg", "key", "query",
    "a", "scan", "batch")
  private val Langs = Vector("en", "de", "es", "fr", "zh")

  def documents(seed: Long, n: Int, dupPct: Int = 5): Vector[Doc] = {
    val r = rng(seed, 3)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 0 && r.nextInt(100) < dupPct) {
          val src = texts(r.nextInt(i)).split(" ")
          val keep = math.max(1, src.length * (50 + r.nextInt(51)) / 100)
          src.take(keep).mkString(" ") + " dup"
        } else Vector.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      Doc(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}")
    }.toVector
  }

  /** The star tables the declared relational rows join, at a small scale. */
  final case class Star(region: Seq[Row], nation: Seq[Row], customer: Seq[Row],
                        supplier: Seq[Row], part: Seq[Row], orders: Seq[Row],
                        lineitem: Seq[Row])

  def star(seed: Long, customers: Int, orders: Int): Star = {
    val r = rng(seed, 4)
    def money(max: Double) = math.round(r.nextDouble() * max * 100) / 100.0
    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = regions.indices.map(i => Row(i, regions(i)))
    val nation = (0 until 25).map(i => Row(i, padded("NATION", i, 2), i % 5))
    val customer = (0 until customers).map(i => Row(i.toLong, padded("Customer#", i, 6),
      r.nextInt(25), money(10000), Vector("AUTO", "BUILD", "FURN", "HOUSE", "MACH")(r.nextInt(5))))
    val nSupp = math.max(5, customers / 15)
    val supplier = (0 until nSupp).map(i =>
      Row(i.toLong, padded("Supplier#", i, 4), r.nextInt(25), money(10000)))
    val nPart = math.max(20, customers + customers / 3)
    val types = Vector("PROMO BRUSHED TIN", "STANDARD POLISHED STEEL", "ECONOMY ANODIZED BRASS",
      "LARGE PLATED COPPER", "MEDIUM BURNISHED NICKEL")
    val part = (0 until nPart).map(i => Row(i.toLong, s"part ${Vocab(r.nextInt(30))} ${Vocab(r.nextInt(30))}",
      s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}", types(r.nextInt(types.size)),
      1 + r.nextInt(50), money(2000)))
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val dateBase = java.time.LocalDateTime.of(1992, 1, 1, 0, 0)
    val lineitem = Vector.newBuilder[Row]
    val order = (0 until orders).map { i =>
      // two in three customers place orders, so the anti join has survivors
      val cust = r.nextInt(customers * 2 / 3 + 1).toLong
      val date = dateBase.plusDays(r.nextInt(2400).toLong)
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        lineitem += Row(i.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, qty,
          math.round(qty * (900 + r.nextInt(1100)) * 100) / 100.0, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)), Vector("F", "O")(r.nextInt(2)),
          date.plusDays(1 + r.nextInt(120)))
      }
      Row(i.toLong, cust, Vector("F", "O", "P")(r.nextInt(3)), money(400000), date,
        prios(r.nextInt(prios.size)))
    }
    Star(region, nation, customer, supplier, part, order, lineitem.result())
  }

  // ---------------------------------------------------------------- schemas

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The schema the store API takes (`ts` as an instant, as Tables.events yields). */
  val storeSchema: StructType = StructType(eventsSchema.map(f =>
    if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  private def ldt(us: Long) =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC)

  def eventRow(p: Point): Row = Row(p.eventId, ldt(p.tsMicros), p.user, p.kind, p.value, p.props)
  def storeRow(p: Point): Row =
    Row(p.eventId, java.sql.Timestamp.from(ldt(p.tsMicros).toInstant(java.time.ZoneOffset.UTC)),
      p.user, p.kind, p.value, p.props)

  def eventsFrame(spark: SparkSession, ps: Seq[Point]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ps.map(eventRow): _*), eventsSchema)
  def storeFrame(spark: SparkSession, ps: Seq[Point]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ps.map(storeRow): _*), storeSchema)

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documentsFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)): _*), documentsSchema)

  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val starSchemas: Map[String, StructType] = Map(
    "region" -> schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType))

  def starTables(s: Star): Map[String, Seq[Row]] = Map("region" -> s.region,
    "nation" -> s.nation, "customer" -> s.customer, "supplier" -> s.supplier,
    "part" -> s.part, "orders" -> s.orders, "lineitem" -> s.lineitem)

  /** The `embeddings` table only has to exist: the catalog installs every table. */
  val embeddingsSchema: StructType = schema("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType), "label" -> IntegerType)

  def embeddings(seed: Long, n: Int): Seq[Row] = {
    val r = rng(seed, 5)
    (0 until n).map(i => Row(i.toLong, Vector.fill(8)(r.nextDouble().toFloat - 0.5f), r.nextInt(4)))
  }

  /** Write `df` as ONE parquet file at `path` (a file, not a directory), the
    * layout both Spark's table loaders and DuckDB read. */
  def writeSingle(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path))
    Files.deleteTree(new java.io.File(tmp))
  }

  // ---------------------------------------------------------------- digest

  /** SHA-256 over a canonical text rendering of generated rows: equal
    * digests mean byte-identical inputs. */
  def digest(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val s = r match {
        case row: Row => row.toSeq.map(String.valueOf).mkString("\u0001")
        case other => String.valueOf(other)
      }
      md.update(s.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of every regular file under `f`. */
  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
}
