package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, table, row id), so a dataset never depends on partitioning,
  * thread timing or the machine, and the same seed gives the same bytes.
  */
object Gen {

  /** splitmix64 finalizer: decorrelates (seed, stream, id) into one seed. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Int, id: Long): SplittableRandom =
    new SplittableRandom(mix(seed, stream.toLong, id))

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  // ---------------------------------------------------------------------
  // Star-schema tables + events + documents + embeddings, in the layout
  // graft's `Tables` reads: one single-file `<dir>/<name>.parquet` each.
  // ---------------------------------------------------------------------

  final case class Scale(sf: Double, docs: Int, vecs: Int) {
    val suppliers: Long = math.max(10L, math.round(10000 * sf))
    val customers: Long = math.max(150L, math.round(150000 * sf))
    val parts: Long = math.max(200L, math.round(200000 * sf))
    val orders: Long = math.max(1500L, math.round(1500000 * sf))
    val events: Long = math.max(1000L, math.round(1000000 * sf))
    val users: Long = math.max(15L, math.round(15000 * sf))
    def tag: String = s"sf${sf}_d${docs}_v$vecs"
  }

  val tableNames: Seq[String] = Seq("region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ptypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Array("small", "red", "blue", "hot", "cold", "green", "big", "shiny")
  private val nouns = Array("ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val langs = Array("de", "en", "es", "fr", "zh")
  private val vocab = ("a the fast slow big small key order sort table scan merge part window " +
    "hash join batch stream spark dup agg row value line customer query data column filter " +
    "group vector").split(' ')
  private val epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def L = LongType
  private def I = IntegerType
  private def D = DoubleType
  private def S = StringType
  private def T = TimestampNTZType
  private def schema(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = true) })

  private def orderDate(seed: Long, o: Long): LocalDateTime =
    epoch1995.plusDays(rng(seed, 6, o).nextInt(2400).toLong)

  /** Document text: 20% of documents are near-copies of an earlier one
    * (1-3 word substitutions), so the dedup operators find clusters.
    */
  def docText(seed: Long, i: Long): String = {
    val r = rng(seed, 9, i)
    if (i > 0 && r.nextInt(5) == 0) {
      val words = docText(seed, r.nextLong(i)).split(' ')
      for (_ <- 0 until 1 + r.nextInt(3)) words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length))
      words.mkString(" ")
    } else Array.fill(20 + r.nextInt(70))(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's gaussian is not splittable)
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def embedding(seed: Long, i: Long): (Array[Float], Int) = {
    val r = rng(seed, 10, i)
    if (i > 0 && r.nextInt(10) == 0) {
      val (v, l) = embedding(seed, r.nextLong(i))
      (v.map(x => (x + 0.001 * gauss(r)).toFloat), l)
    } else {
      val label = r.nextInt(10)
      val c = rng(seed, 11, label.toLong)
      val center = Array.fill(64)(0.15 * gauss(c))
      (center.map(x => (x + 0.05 * gauss(r)).toFloat), label)
    }
  }

  private def tableSpec(seed: Long, sc: Scale): Map[String, (StructType, Long, Long => Seq[Row])] = {
    def one(f: Long => Row): Long => Seq[Row] = i => Seq(f(i))
    Map(
      "region" -> ((schema("r_regionkey" -> I, "r_name" -> S), 5L,
        one(i => Row(i.toInt, regions(i.toInt))))),
      "nation" -> ((schema("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I), 25L,
        one(i => Row(i.toInt, s"NATION_$i", (i % 5).toInt)))),
      "supplier" -> ((schema("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I, "s_acctbal" -> D),
        sc.suppliers, one { i =>
          val r = rng(seed, 1, i)
          Row(i, Json.fmt("Supplier#%09d", i), r.nextInt(25), cents(-999.99 + r.nextDouble() * 10999.98))
        })),
      "customer" -> ((schema("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
        "c_acctbal" -> D, "c_mktsegment" -> S), sc.customers, one { i =>
          val r = rng(seed, 2, i)
          Row(i, Json.fmt("Customer#%09d", i), r.nextInt(25), cents(-999.99 + r.nextDouble() * 10999.98),
            segments(r.nextInt(5)))
        })),
      "part" -> ((schema("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
        "p_size" -> I, "p_retailprice" -> D), sc.parts, one { i =>
          val r = rng(seed, 3, i)
          Row(i, s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
            ptypes(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
        })),
      "orders" -> ((schema("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
        "o_totalprice" -> D, "o_orderdate" -> T, "o_orderpriority" -> S), sc.orders, one { i =>
          val r = rng(seed, 4, i)
          Row(i, r.nextLong(sc.customers), "FOP".charAt(r.nextInt(3)).toString,
            cents(1000.0 + r.nextDouble() * 499000.0), orderDate(seed, i), priorities(r.nextInt(5)))
        })),
      // lineitem rows are generated per ORDER (1-7 lines each), so its
      // row count is itself a seeded function of the order keys
      "lineitem" -> ((schema("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
        "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D, "l_discount" -> D,
        "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> T),
        sc.orders, { o =>
          val r = rng(seed, 5, o)
          val od = orderDate(seed, o)
          (1 to 1 + r.nextInt(7)).map { ln =>
            val pk = r.nextLong(sc.parts)
            val qty = (1 + r.nextInt(50)).toDouble
            Row(o, pk, r.nextLong(sc.suppliers), ln, qty, cents(qty * (900.0 + (pk % 1000) / 10.0)),
              r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
              "FO".charAt(r.nextInt(2)).toString, od.plusDays(1L + r.nextInt(121)))
          }
        })),
      "events" -> ((schema("event_id" -> L, "ts" -> T, "user_id" -> L, "event_type" -> S,
        "value" -> D, "props" -> S), sc.events, one { i =>
          val r = rng(seed, 7, i)
          // strictly increasing µs timestamps over 30 days (time-sorted file)
          val step = 30L * 86400L * 1000000L / sc.events
          val us = i * step + r.nextLong(math.max(1L, step))
          Row(i, epoch2024.plusNanos(us * 1000L), r.nextLong(sc.users), eventTypes(r.nextInt(5)),
            cents(0.01 + r.nextDouble() * 490.0), s"""{"k": ${r.nextInt(100)}}""")
        })),
      "documents" -> ((schema("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S,
        "n_chars" -> L), sc.docs.toLong, one { i =>
          val r = rng(seed, 8, i)
          val t = docText(seed, i)
          Row(i, t, langs(r.nextInt(5)), s"src${r.nextInt(20)}", t.length.toLong)
        })),
      "embeddings" -> ((StructType(Seq(StructField("vec_id", L), StructField("embedding",
        ArrayType(FloatType, containsNull = true)), StructField("label", I))), sc.vecs.toLong,
        one { i =>
          val (v, l) = embedding(seed, i)
          Row(i, v.toSeq, l)
        }))
    )
  }

  /** Writes every table into `dir` (one parquet FILE per table, rows in
    * id order), then drops a `_DONE` marker so a reader never sees a
    * half-written dataset.
    */
  def writeTables(spark: SparkSession, dir: File, seed: Long, sc: Scale): Unit = {
    dir.mkdirs()
    val specs = tableSpec(seed, sc)
    for (name <- tableNames) {
      val (st, n, rows) = specs(name)
      val rdd = spark.sparkContext.range(0L, n, 1L, 4).flatMap(rows)
      val tmp = new File(dir, s".$name.tmp")
      spark.createDataFrame(rdd, st).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected one part file, got ${part.length}")
      val dst = new File(dir, s"$name.parquet")
      dst.delete()
      require(part.head.renameTo(dst), s"cannot move ${part.head} to $dst")
      Fs.deleteTree(tmp)
    }
    java.nio.file.Files.writeString(new File(dir, "_DONE").toPath, sc.tag)
    ()
  }

  // ---------------------------------------------------------------------
  // The reference pipeline's input: a listings-shaped CSV (the Airbnb
  // listings schema the reference's schema.json declares) plus the
  // expected results of parsing and aggregating it.
  // ---------------------------------------------------------------------

  val listingSchemaJson: String =
    """{"fields": [
      |  {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
      |  {"name": "name", "type": "STRING"},
      |  {"name": "host_id", "type": "INTEGER"},
      |  {"name": "host_name", "type": "STRING"},
      |  {"name": "neighbourhood_group", "type": "STRING"},
      |  {"name": "neighbourhood", "type": "STRING"},
      |  {"name": "latitude", "type": "FLOAT"},
      |  {"name": "longitude", "type": "FLOAT"},
      |  {"name": "room_type", "type": "STRING"},
      |  {"name": "price", "type": "INTEGER"},
      |  {"name": "minimum_nights", "type": "INTEGER"},
      |  {"name": "number_of_reviews", "type": "INTEGER"},
      |  {"name": "last_review", "type": "STRING"},
      |  {"name": "reviews_per_month", "type": "FLOAT"},
      |  {"name": "calculated_host_listings_count", "type": "INTEGER"},
      |  {"name": "availability_365", "type": "INTEGER"}
      |]}""".stripMargin

  /** Stated share of malformed lines: exactly one line in 200. */
  val malformedPer: Int = 200

  private val groups = Array("Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island")
  private val hoods = Array("Harlem", "Chelsea", "Williamsburg", "Astoria", "Flushing",
    "Bushwick", "SoHo", "Tribeca", "Greenpoint", "Ridgewood", "Kōtō", "Ñuñoa", "Zürich-Süd",
    "東京 Shibuya", "Île-Saint-Louis", "Göteborg", "São Paulo", "Kraków", "Malmö", "Αθήνα")
  private val rooms = Array("Entire home/apt", "Private room", "Shared room", "Hotel room")
  private val hostNames = Array("John", "María", "José", "Zoë", "李", "Ahmed", "Anna", "Søren",
    "Chloé", "O'Brien")
  private val titleWords = Array("Cozy", "Sunny", "Quiet", "Spacious", "Modern", "Charming",
    "Café-side", "Bright", "Rustic", "Loft")

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Expected outcome of the reference pipeline over one generated CSV. */
  final case class EtlExpected(seed: Long, rows: Long, good: Long, malformed: Long,
                               bytes: Long, groups: Map[String, (Long, Long)]) {
    def toJson: String = {
      val gs = groups.toSeq.sortBy(_._1).map { case (k, (n, s)) =>
        s"${Json.str(k)}:[$n,$s]" }.mkString("{", ",", "}")
      s"""{"seed":$seed,"rows":$rows,"good":$good,"malformed":$malformed,"bytes":$bytes,"groups":$gs}"""
    }
  }

  /** Writes `rows` listing lines (plus a header) to `csv` and returns the
    * expected results, which are also written next to it as JSON.
    */
  def writeListings(csv: File, expectedFile: File, seed: Long, rows: Int): EtlExpected = {
    val malformed = rows / malformedPer
    val bad = {
      val r = rng(seed, 20, 0L)
      val s = new java.util.BitSet(rows)
      while (s.cardinality() < malformed) s.set(r.nextInt(rows))
      s
    }
    val agg = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    csv.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(csv), UTF_8), 1 << 16)
    try {
      out.write("id,name,host_id,host_name,neighbourhood_group,neighbourhood,latitude,longitude," +
        "room_type,price,minimum_nights,number_of_reviews,last_review,reviews_per_month," +
        "calculated_host_listings_count,availability_365\n")
      for (i <- 0 until rows) {
        val r = rng(seed, 21, i.toLong)
        // skewed key choice: low-index neighbourhoods are the hot keys
        val u = r.nextDouble()
        val hood = s"${hoods((u * u * hoods.length).toInt)} ${1 + r.nextInt(12)}"
        val quoted = r.nextInt(8) == 0
        val title = s"${titleWords(r.nextInt(titleWords.length))}, " +
          (if (quoted) "\"" + titleWords(r.nextInt(titleWords.length)) + "\" " else "") +
          s"${rooms(r.nextInt(4)).toLowerCase} near ${hood.split(' ').head}"
        val hostId = 1000L + r.nextInt(50000)
        val listings = 1 + r.nextInt(30)
        val price = 20 + r.nextInt(980)
        val nights = 1 + r.nextInt(30)
        val lat = Json.fmt("%.5f", 40.5 + r.nextDouble() * 0.4)
        val lon = Json.fmt("%.5f", -74.2 + r.nextDouble() * 0.5)
        val reviews = r.nextInt(400)
        val lastReview =
          if (reviews == 0) "" else Json.fmt("20%d-%02d-%02d", 15 + r.nextInt(5), 1 + r.nextInt(12), 1 + r.nextInt(28))
        val perMonth = if (reviews == 0) "" else Json.fmt("%.2f", r.nextDouble() * 8)
        val isBad = bad.get(i)
        // a malformed line keeps its shape but carries a value its typed
        // column cannot parse, the commonest real-world CSV defect
        val fields = Array(i.toString, title, hostId.toString,
          hostNames(r.nextInt(hostNames.length)), groups(r.nextInt(groups.length)), hood, lat, lon,
          rooms(r.nextInt(4)), price.toString, nights.toString, reviews.toString, lastReview,
          perMonth, listings.toString, r.nextInt(366).toString)
        if (isBad) (i / malformedPer) % 3 match {
          case 0 => fields(9) = s"${price}USD"
          case 1 => fields(2) = s"h$hostId"
          case _ => fields(6) = s"$lat.5"
        }
        out.write(fields.map(csvField).mkString(","))
        out.write('\n')
        if (!isBad) {
          val (n, s) = agg.getOrElse(hood, (0L, 0L))
          agg(hood) = (n + 1, s + listings)
        }
      }
    } finally out.close()
    val e = EtlExpected(seed, rows.toLong, rows.toLong - malformed, malformed.toLong, csv.length(),
      agg.toMap)
    java.nio.file.Files.writeString(expectedFile.toPath, e.toJson, UTF_8)
    e
  }
}
