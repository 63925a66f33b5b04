package perfbench

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic input tables for the benchmark, in the physical schema of
  * graft's test fixtures: a TPC-H-shaped star schema, an `events` stream
  * and an LLM corpus (`documents`, `embeddings`).
  *
  * Column domains follow the fixtures: uniform independent columns for the
  * star schema, a sorted 30-day event clock with exponential values, and
  * the corpus construction of `graft.tools.GenScale` (31-word vocabulary,
  * 10..100-token docs, planted near and exact duplicates, 64-dim unit
  * vectors around 10 centers). Timestamps are written as TIMESTAMP_NTZ,
  * which is how the fixtures' parquet `timestamp[us]` columns load.
  *
  * Row counts scale with `sf` as the fixtures do (lineitem = 6M x sf);
  * the corpus keeps the fixtures' floor of 500 docs and 500 vectors.
  * The data seed is fixed: the same `sf` always yields identical rows.
  */
object GenData {
  val Seed = 42L
  final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
                         lineitem: Int, events: Int, users: Int, docs: Int, vecs: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customer = (150000 * sf).round.toInt, supplier = (10000 * sf).round.toInt,
    part = (200000 * sf).round.toInt, orders = (1500000 * sf).round.toInt,
    lineitem = (6000000 * sf).round.toInt, events = (1000000 * sf).round.toInt,
    users = (15000 * sf).round.toInt,
    docs = math.max(500, (50000 * sf).round.toInt), vecs = math.max(500, (20000 * sf).round.toInt))

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdj = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PartNoun = Array("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")

  private def money(x: Double): Double = math.rint(x * 100) / 100
  private def pick[T](r: scala.util.Random, xs: Array[T]): T = xs(r.nextInt(xs.length))
  private def day(base: LocalDate, r: scala.util.Random, span: Int): LocalDateTime =
    base.plusDays(r.nextInt(span).toLong).atStartOfDay()

  /** Write every table as the parquet file `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    val n = sizes(sf)
    // One plain parquet file per table, as the fixtures ship.
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = new java.io.File(dir, s".$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected one part file, found ${part.length}")
      java.nio.file.Files.move(part.head.toPath, new java.io.File(dir, s"$name.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.wipe(tmp)
    }
    def rnd(table: String) = new scala.util.Random(Seed * 1000003 + table.hashCode)
    def f(name: String, t: DataType) = StructField(name, t, nullable = true)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    { val r = rnd("customer")
      save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until n.customer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(-999.99 + r.nextDouble() * 10999.98), pick(r, Segments)))) }

    { val r = rnd("supplier")
      save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until n.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(-999.99 + r.nextDouble() * 10999.98)))) }

    { val r = rnd("part")
      save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until n.part).map(i => Row(i.toLong, s"${pick(r, PartAdj)} ${pick(r, PartNoun)}",
          s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
          math.rint(9000 + i % 1000) / 10))) }

    { val r = rnd("orders")
      val base = LocalDate.of(1995, 1, 1)
      save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until n.orders).map(i => Row(i.toLong, r.nextInt(n.customer).toLong,
          pick(r, Array("F", "O", "P")), money(1000 + r.nextDouble() * 499000),
          day(base, r, 2404), pick(r, Priorities)))) }

    { val r = rnd("lineitem")
      val base = LocalDate.of(1995, 1, 2)
      save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
        (0 until n.lineitem).map(_ => Row(r.nextInt(n.orders).toLong, r.nextInt(n.part).toLong,
          r.nextInt(n.supplier).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          money(900 + r.nextDouble() * 104100), money(r.nextDouble() * 0.1),
          money(r.nextDouble() * 0.08), pick(r, Array("A", "N", "R")), pick(r, Array("F", "O")),
          day(base, r, 2499)))) }

    { val r = rnd("events")
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val offsets = Array.fill(n.events)((r.nextDouble() * 30 * 86400e6).toLong).sorted
      save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
        offsets.indices.map(i => Row(i.toLong, t0.plusNanos(offsets(i) * 1000),
          r.nextInt(n.users).toLong, pick(r, EventTypes),
          money(-50 * math.log(1 - r.nextDouble())), s"""{"k": ${r.nextInt(100)}}"""))) }

    { val r = rnd("documents")
      val vocab = graft.tools.GenScale.Vocab
      val texts = new Array[Array[String]](n.docs)
      val rows = (0 until n.docs).map { i =>
        val near = i > 10 && r.nextDouble() < 0.025
        val exact = i > 10 && !near && r.nextDouble() < 0.002
        val w =
          if (exact) texts(r.nextInt(i)).clone()
          else if (near) {
            val c = texts(r.nextInt(i)).clone()
            (0 until 1 + r.nextInt(2)).foreach(_ => c(r.nextInt(c.length)) = pick(r, vocab))
            c
          } else Array.fill(10 + r.nextInt(91))(pick(r, vocab))
        texts(i) = w
        val text = w.mkString(" ")
        val u = r.nextDouble()
        val langs = graft.tools.GenScale.Langs
        val lang = langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
          .drop(1).find(_._2 >= u).getOrElse(langs.last)._1
        Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      }
      save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), rows) }

    { val r = rnd("embeddings")
      val centers = Array.fill(10)(Array.fill(64)(r.nextGaussian()))
      save("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
        (0 until n.vecs).map { i =>
          val label = r.nextInt(10)
          val raw = centers(label).map(_ + 0.6 * r.nextGaussian())
          val norm = math.sqrt(raw.map(x => x * x).sum)
          Row(i.toLong, raw.map(x => (x / norm).toFloat).toSeq, label)
        }) }
  }
}
