package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seeded input generators. Every value is a hash of (seed, salt, row id),
  * so the same seed gives the same tables whatever the partitioning, and
  * the program under test only ever sees the staged parquet files.
  */
object Gen {
  /** uniform integer in [0, n) derived from (seed, salt, keys) */
  def u(seed: Long, salt: String, n: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(n))

  def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Brands = (1 to 25).map(i => s"Brand#$i")
  val Types = Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM")
  val Plans = Seq("free", "basic", "pro", "team")
  val EventTypes = Seq("view", "click", "search", "cart", "purchase", "signup", "share", "error")

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------- star

  final case class StarSize(customers: Long, parts: Long, suppliers: Long, orders: Long)

  /** TPC-H-shaped star sources plus one SCD2 change snapshot. The seed
    * chooses the ~10% of customers that change segment, and their change
    * dates; each change is a real change (a different segment).
    */
  def star(spark: SparkSession, seed: Long, sz: StarSize, dir: String, slices: Int): Unit = {
    val day0 = to_date(lit("1992-01-01"))
    val customer = spark.range(0, sz.customers, 1, slices).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      u(seed, "c_nat", 25, col("id")).cast("int").as("c_nationkey"),
      pick(Segments, u(seed, "c_seg", Segments.size, col("id"))).as("c_mktsegment"))
    writeParquet(customer, s"$dir/customer")

    val changes = spark.read.parquet(s"$dir/customer")
      .filter(u(seed, "chg", 100, col("c_custkey")) < 10)
      .withColumn("c_mktsegment", pick(Segments, pmod(
        array_position(array(Segments.map(lit): _*), col("c_mktsegment")) +
          u(seed, "chg_seg", Segments.size - 1, col("c_custkey")), lit(Segments.size.toLong))))
      .withColumn("change_ts", date_add(to_date(lit("1995-01-01")),
        u(seed, "chg_day", 1095, col("c_custkey")).cast("int")).cast("timestamp"))
    writeParquet(changes, s"$dir/customer_changes")

    writeParquet(spark.range(0, sz.parts, 1, slices).select(
      col("id").as("p_partkey"),
      concat(lit("part-"), col("id").cast("string")).as("p_name"),
      pick(Brands, u(seed, "p_brand", Brands.size, col("id"))).as("p_brand"),
      pick(Types, u(seed, "p_type", Types.size, col("id"))).as("p_type"),
      (u(seed, "p_size", 50, col("id")) + 1).cast("int").as("p_size")), s"$dir/part")

    writeParquet(spark.range(0, sz.suppliers, 1, slices).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      u(seed, "s_nat", 25, col("id")).cast("int").as("s_nationkey")), s"$dir/supplier")

    val orders = spark.range(0, sz.orders, 1, slices).select(
      col("id").as("o_orderkey"),
      u(seed, "o_cust", sz.customers, col("id")).as("o_custkey"),
      date_add(day0, u(seed, "o_day", 2400, col("id")).cast("int")).cast("timestamp").as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"), u(seed, "o_pri", 4, col("id"))).as("o_orderpriority"))
    writeParquet(orders, s"$dir/orders")

    val lineitem = spark.read.parquet(s"$dir/orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (u(seed, "o_lines", 7, col("o_orderkey")) + 1).cast("int"))).as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        col("l_linenumber"),
        u(seed, "l_part", sz.parts, col("o_orderkey"), col("l_linenumber")).as("l_partkey"),
        u(seed, "l_supp", sz.suppliers, col("o_orderkey"), col("l_linenumber")).as("l_suppkey"),
        (u(seed, "l_qty", 50, col("o_orderkey"), col("l_linenumber")) + 1).cast("int").as("l_quantity"),
        ((u(seed, "l_price", 9000000, col("o_orderkey"), col("l_linenumber")) + 90000) / 100)
          .cast(DecimalType(12, 2)).as("l_extendedprice"),
        (u(seed, "l_disc", 11, col("o_orderkey"), col("l_linenumber")) / 100)
          .cast(DecimalType(4, 2)).as("l_discount"),
        date_add(col("o_orderdate").cast("date"),
          (u(seed, "l_ship", 120, col("o_orderkey"), col("l_linenumber")) + 1).cast("int"))
          .cast("timestamp").as("l_shipdate"))
    writeParquet(lineitem, s"$dir/lineitem")
  }

  // ---------------------------------------------------------- micro-batch

  final case class EventSize(events: Long, users: Long, batches: Int)

  /** A time-ordered event stream cut into micro-batches. Event ids follow
    * time, and each user's plan switches at seeded instants, so the SCD2
    * user dimension gains versions as batches arrive. The seed chooses the
    * cut points: batch sizes vary between half and one and a half times
    * the mean. Each batch is staged as its own directory, `batch=<i>`.
    */
  def events(spark: SparkSession, seed: Long, sz: EventSize, dir: String, slices: Int): Unit = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val weights = Seq.fill(sz.batches)(0.5 + rnd.nextDouble())
    val cuts = weights.scanLeft(0.0)(_ + _).map(w => math.round(w / weights.sum * sz.events))
    val cutCol = cuts.tail.init.foldLeft(lit(0)) { (c, cut) =>
      c + when(col("event_id") >= cut, 1).otherwise(0)
    }
    val start = to_timestamp(lit("2024-01-01 00:00:00"))
    val stepUs = 60L * 24 * 3600 * 1000000 / sz.events // events span ~60 days
    val ev = spark.range(0, sz.events, 1, slices).select(col("id").as("event_id"))
      .withColumn("ts", timestamp_micros(unix_micros(start) + col("event_id") * stepUs +
        u(seed, "jitter", stepUs, col("event_id"))))
      .withColumn("user_id", u(seed, "user", sz.users, col("event_id")))
      // a user's plan is constant within epochs of 5-25 days
      .withColumn("plan", pick(Plans, u(seed, "plan", Plans.size, col("user_id"),
        floor(unix_seconds(col("ts")) / 86400 / (u(seed, "epoch", 21, col("user_id")) + 5)))))
      .withColumn("event_type", pick(EventTypes, u(seed, "etype", EventTypes.size, col("event_id"))))
      .withColumn("value", ((u(seed, "value", 100000, col("event_id")) + 1) / 100)
        .cast(DecimalType(10, 2)))
      .withColumn("batch", cutCol)
    ev.write.mode("overwrite").partitionBy("batch").parquet(s"$dir/events")
  }

  // -------------------------------------------------------------- corpus

  final case class CorpusSize(docs: Int, vocabulary: Int, planted: Int)
  final case class Planted(a: Long, b: Long, jaccard: Double)
  final case class Corpus(docs: Seq[(Long, String)], planted: Seq[Planted])

  /** Random documents over a pseudo-word vocabulary plus planted near
    * duplicates. The seed chooses which documents get a near duplicate and
    * the edits (1-4 token substitutions, sometimes a dropped token); ids
    * are a seeded permutation so duplicates are not adjacent. The planted
    * pairs carry their exact 3-shingle Jaccard similarity.
    */
  def corpus(seed: Long, sz: CorpusSize): Corpus = {
    val rnd = new scala.util.Random(seed ^ 0xd0c5L)
    val vocab = (0 until sz.vocabulary).map(i => "w" + Integer.toString(i * 7919 + 101, 36))
    def word(): String = vocab(rnd.nextInt(vocab.size))
    val base = Array.fill(sz.docs)(Array.fill(40 + rnd.nextInt(121))(word()))
    val chosen = rnd.shuffle((0 until sz.docs).toVector).take(sz.planted)
    val dups = chosen.map { src =>
      val toks = base(src).clone()
      (0 until 1 + rnd.nextInt(4)).foreach(_ => toks(rnd.nextInt(toks.length)) = word())
      if (rnd.nextBoolean()) toks.patch(rnd.nextInt(toks.length), Nil, 1) else toks
    }
    val texts = (base.toSeq ++ dups).map(_.mkString(" "))
    val ids = rnd.shuffle(texts.indices.map(_.toLong).toVector)
    val planted = chosen.zipWithIndex.map { case (src, i) =>
      val (a, b) = (ids(src), ids(sz.docs + i))
      Planted(math.min(a, b), math.max(a, b), Check.jaccard(texts(src), texts(sz.docs + i)))
    }
    Corpus(ids.zip(texts), planted)
  }
}
