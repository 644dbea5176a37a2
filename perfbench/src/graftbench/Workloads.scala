package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.core.EtlSession
import graft.functions.{Dedup, Events, Stats}
import graft.streaming.Streaming
import graft.tables.{Dimension, FactTable, ScdDimension}

/** Outcome of checking one pass: failed checks, the share of expected
  * matches found, and a fingerprint of the pass's outputs.
  */
final case class Verdict(failures: Seq[String], recall: Double, fingerprint: String)

/** One benchmark workload: seeded inputs, a pass over graft's public API,
  * and plain-Spark checks of what the pass produced.
  */
trait Workload {
  type Out
  def name: String
  /** generate the seeded inputs into `dir` */
  def stage(dir: String): Unit
  /** bind the staged inputs and compute check references; returns input rows */
  def prepare(dir: String): Long
  /** one full pass; commits (if it commits) under `out` */
  def pass(t: Tracer, out: String): Out
  /** the untimed pass that warms the JVM before measuring */
  def warmUp(t: Tracer, out: String): Unit = pass(t, out)
  def check(o: Out): Verdict
  /** per-pass counts reported in traced mode */
  def counts(o: Out): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, tiny: Boolean, parts: Int): Workload =
    name match {
      case "star_load" => new StarLoad(spark, seed, tiny, parts)
      case "microbatch_ingest" => new MicrobatchIngest(spark, seed, tiny, parts)
      case "dedup_corpus" => new DedupCorpus(spark, seed, tiny, parts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def ts(s: String) = lit(java.sql.Timestamp.valueOf(s))
  val NoTs = lit(null).cast(TimestampType)
}

import Workload.{NoTs, ts}

/** The pygrametl flow in bulk: ensure part, supplier and date dimensions,
  * load an SCD2 customer dimension from a snapshot and a change snapshot,
  * resolve lineitem x orders facts through lookup / lookupAsOf, insert
  * them, and commit every table to a fresh warehouse directory.
  */
final class StarLoad(spark: SparkSession, seed: Long, tiny: Boolean, parts: Int) extends Workload {
  type Out = String
  val name = "star_load"
  private val size =
    if (tiny) Gen.StarSize(customers = 150, parts = 200, suppliers = 10, orders = 1500)
    else Gen.StarSize(customers = 3000, parts = 3000, suppliers = 150, orders = 20000)
  private var in: Map[String, DataFrame] = Map.empty
  private var expected: (Long, java.math.BigDecimal, Long) = _

  def stage(dir: String): Unit = Gen.star(spark, seed, size, dir, parts)

  private def read(t: String): DataFrame = in(t)

  def prepare(dir: String): Long = {
    in = Seq("customer", "customer_changes", "part", "supplier", "orders", "lineitem")
      .map(t => t -> spark.read.parquet(s"$dir/$t")).toMap
    val li = read("lineitem").agg(count(lit(1)), sum(col("l_extendedprice"))).head()
    expected = (li.getLong(0), li.getDecimal(1), read("customer").count() + read("customer_changes").count())
    expected._1
  }

  def pass(t: Tracer, out: String): String = t.batch {
    val (customer, changes, lineitem) = (read("customer"), read("customer_changes"), read("lineitem"))
    val es = new EtlSession(spark)

    val partDim = new Dimension("part", "part_key",
      Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size"), Seq("p_partkey"))
      .initEmpty(spark, read("part").withColumn("part_key", lit(0L)))
    t.call("tables.ensure")(partDim.ensure(read("part")))

    val suppDim = new Dimension("supplier", "supp_key",
      Seq("s_suppkey", "s_name", "s_nationkey"), Seq("s_suppkey"))
      .initEmpty(spark, read("supplier").withColumn("supp_key", lit(0L)))
    t.call("tables.ensure")(suppDim.ensure(read("supplier")))

    val shipDates = lineitem.select(to_date(col("l_shipdate")).as("ship_date"))
      .select(col("ship_date"), year(col("ship_date")).as("year"),
        month(col("ship_date")).as("month"), dayofmonth(col("ship_date")).as("day"))
    val dateDim = new Dimension("date", "date_key", Seq("ship_date", "year", "month", "day"), Seq("ship_date"))
      .initEmpty(spark, shipDates.withColumn("date_key", lit(0L)))
    t.call("tables.ensure")(dateDim.ensure(shipDates))

    val custDim = new ScdDimension("customer", "cust_key",
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "version", "valid_from", "valid_to"),
      Seq("c_custkey"), "version", "valid_from", "valid_to", maxTo = NoTs)
    custDim.init(customer.select(lit(0L).as("cust_key"), col("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_mktsegment"), lit(1).as("version"),
      NoTs.as("valid_from"), NoTs.as("valid_to")).limit(0))
    t.call("tables.scdensure")(custDim.scdensure(customer, ts("1990-01-01 00:00:00")))
    t.call("tables.scdensure")(custDim.scdensure(changes, col("change_ts")))

    val li = lineitem.join(read("orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_date", to_date(col("l_shipdate")))
    val byPart = t.call("tables.lookup")(partDim.lookup(li, Map("p_partkey" -> "l_partkey")))
    val bySupp = t.call("tables.lookup")(suppDim.lookup(byPart, Map("s_suppkey" -> "l_suppkey")))
    val byDate = t.call("tables.lookup")(dateDim.lookup(bySupp))
    val keyed = t.call("tables.lookup")(custDim.lookupAsOf(byDate, col("o_orderdate"),
      namemapping = Map("c_custkey" -> "o_custkey")))

    val facts = new FactTable("lineitem_fact",
      Seq("l_orderkey", "l_linenumber", "part_key", "supp_key", "date_key", "cust_key"),
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      dependsOn = Seq("part", "supplier", "date", "customer"))
      .initEmpty(keyed)
    t.call("tables.fact_insert")(facts.insert(keyed))

    Seq(partDim, suppDim, dateDim, custDim, facts).foreach(es.register)
    t.call("core.commit")(es.commit(out))
    out
  }

  def check(out: String): Verdict = {
    val v = Check.committedVersion(out)
    val fact = spark.read.parquet(s"$out/lineitem_fact/v=$v")
    val cust = spark.read.parquet(s"$out/customer/v=$v")
    val keys = Seq("part_key", "supp_key", "date_key", "cust_key")
    val r = fact.agg(count(lit(1)),
      sum(when(keys.map(k => col(k) === -1L).reduce(_ || _), 1L).otherwise(0L)),
      sum(col("l_extendedprice"))).head()
    val (rows, defaulted, priceSum) = (r.getLong(0), r.getLong(1), r.getDecimal(2))
    // every fact's customer version was the one valid at its order date
    val asOfWrong = fact.join(read("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(cust, "cust_key")
      .filter(!(col("valid_from") <= col("o_orderdate") &&
        (col("valid_to").isNull || col("o_orderdate") < col("valid_to"))))
      .count()
    val versions = cust.count()
    val failures = Seq(
      (rows == expected._1) -> s"fact rows $rows != lineitem rows ${expected._1}",
      (defaulted == 0L) -> s"$defaulted fact rows carry the default -1 key",
      (priceSum != null && priceSum.compareTo(expected._2) == 0) ->
        s"sum(l_extendedprice) $priceSum != source ${expected._2}",
      (versions == expected._3) -> s"customer versions $versions != ${expected._3}",
      (asOfWrong == 0L) -> s"$asOfWrong facts reference a customer version not valid at the order date"
    ).collect { case (false, msg) => msg }
    Verdict(failures, if (rows == 0) 0.0 else 1.0 - defaulted.toDouble / rows,
      Check.sha256(Seq(rows.toString, String.valueOf(priceSum), versions.toString)))
  }
}

/** The foreachBatch steady state: time-ordered micro-batches, each run
  * through scdensure, ensure, lookupAsOf, fact insert and three monitors,
  * closed loop with one client; readouts and one commit follow the last.
  */
final class MicrobatchIngest(spark: SparkSession, seed: Long, tiny: Boolean, parts: Int) extends Workload {
  import MicrobatchIngest._
  type Out = Result
  val name = "microbatch_ingest"
  private val size =
    if (tiny) Gen.EventSize(events = 1200, users = 60, batches = 4)
    else Gen.EventSize(events = 12000, users = 800, batches = 9)
  private val Replicates = 16
  private val UserCols = Seq("user_id", "plan", "version", "valid_from", "valid_to")
  private var all: DataFrame = _
  private var batchFrames: IndexedSeq[DataFrame] = _

  def stage(dir: String): Unit = Gen.events(spark, seed, size, dir, parts)

  private def userDim(): ScdDimension = {
    val d = new ScdDimension("users", "user_key", UserCols, Seq("user_id"),
      "version", "valid_from", "valid_to", maxTo = NoTs)
    d.init(all.select(lit(0L).as("user_key"), col("user_id"),
      col("plan"), lit(1).as("version"), NoTs.as("valid_from"), NoTs.as("valid_to")).limit(0))
  }

  def prepare(dir: String): Long = {
    all = spark.read.parquet(s"$dir/events")
    batchFrames = (0 until size.batches).map(i => spark.read.parquet(s"$dir/events/batch=$i"))
    all.count()
  }

  // batch twins: each streamed result must equal its one-shot operator;
  // computed on first use, after timing
  private lazy val expected: Expected = {
    val twin = userDim()
    twin.scdensure(all, col("ts"))
    Expected(all.count(), twin.current.select(UserCols.map(col): _*),
      Check.rowSet(Events.dailyAnomalies(all, "event_type", "ts").collect()),
      Check.rowSet(Stats.hllRegisters(all, "user_id", 8).collect()),
      Stats.poissonBootstrap(all, "event_id", "value", Replicates)
        .orderBy(col("rep")).collect().map(_.toSeq).toSeq)
  }

  def pass(t: Tracer, out: String): Result = ingest(t, out, size.batches)

  /** the first batch, readouts and commit: every code path of a pass */
  override def warmUp(t: Tracer, out: String): Unit = ingest(t, out, 1)

  private def ingest(t: Tracer, out: String, batches: Int): Result = {
    val es = new EtlSession(spark)
    val users = userDim()
    val batch0 = batchFrames(0)
    val types = new Dimension("event_type", "etype_key", Seq("event_type"), Seq("event_type"))
      .initEmpty(spark, batch0.withColumn("etype_key", lit(0L)))
    val facts = new FactTable("event_fact", Seq("event_id", "user_key", "etype_key"), Seq("value"),
      dependsOn = Seq("users", "event_type"))
      .initEmpty(batch0.withColumn("user_key", lit(0L)).withColumn("etype_key", lit(0L)))
    val volume = new Streaming.VolumeMonitor("event_type", "ts")
    val distinctUsers = new Streaming.CardinalityMonitor("user_id", 8)
    val bootstrap = new Streaming.BootstrapMonitor("event_id", "value", Replicates)

    (0 until batches).foreach { i =>
      t.batch {
        t.op(t.span("batch") {
          val b = batchFrames(i)
          t.span("tables.scdensure")(users.scdensure(b, col("ts")))
          val typed = t.span("tables.ensure")(types.ensure(b))
          val keyed = t.span("tables.lookup")(users.lookupAsOf(typed, col("ts")))
          t.span("tables.fact_insert")(facts.insert(keyed))
          t.span("streaming.update") {
            volume.update(b); distinctUsers.update(b); bootstrap.update(b)
          }
        })
      }
    }
    def readout(body: => Array[Row]) = t.call("streaming.readout")(body)
    val anomalies = readout(volume.anomalies().collect())
    val registers = readout(distinctUsers.registers.collect())
    val boot = readout(bootstrap.readout.orderBy(col("rep")).collect())
    Seq(users, types, facts).foreach(es.register)
    t.call("core.commit")(es.commit(out))
    Result(out, anomalies, registers, boot)
  }

  def check(r: Result): Verdict = {
    val v = Check.committedVersion(r.out)
    val fact = spark.read.parquet(s"${r.out}/event_fact/v=$v")
    val users = spark.read.parquet(s"${r.out}/users/v=$v").select(UserCols.map(col): _*)
    val f = fact.agg(count(lit(1)),
      sum(when(col("user_key") === -1L || col("etype_key") === -1L, 1L).otherwise(0L))).head()
    val (rows, defaulted) = (f.getLong(0), f.getLong(1))
    val scdDiff = Check.symmetricDiff(users, expected.users)
    val failures = Seq(
      (rows == expected.events) -> s"fact rows $rows != events ${expected.events}",
      (defaulted == 0L) -> s"$defaulted fact rows carry the default -1 key",
      (scdDiff == 0L) -> s"SCD2 user state differs from one-shot scdensure in $scdDiff rows",
      (Check.rowSet(r.anomalies) == expected.anomalies) -> "VolumeMonitor.anomalies != Events.dailyAnomalies",
      (Check.rowSet(r.registers) == expected.registers) -> "CardinalityMonitor.registers != Stats.hllRegisters",
      (r.boot.map(_.toSeq).toSeq == expected.boot) -> "BootstrapMonitor.readout != Stats.poissonBootstrap"
    ).collect { case (false, msg) => msg }
    Verdict(failures, if (rows == 0) 0.0 else 1.0 - defaulted.toDouble / rows,
      Check.sha256(Seq(rows.toString) ++ r.boot.map(_.toString) ++ r.registers.map(_.toString).sorted))
  }
}

/** The training-data path: MinHash and SimHash near-duplicate pairs and
  * their connected components over a corpus with planted near duplicates,
  * plus the signature kernels alone, forced to a no-op sink.
  */
final class DedupCorpus(spark: SparkSession, seed: Long, tiny: Boolean, parts: Int) extends Workload {
  import DedupCorpus._
  type Out = Result
  val name = "dedup_corpus"
  private val Threshold = 0.7
  private val MaxHamming = 3
  private val size =
    if (tiny) Gen.CorpusSize(docs = 300, vocabulary = 1000, planted = 30)
    else Gen.CorpusSize(docs = 5000, vocabulary = 1000, planted = 250)
  private var docs: DataFrame = _
  private var texts: Map[Long, String] = _
  private var expectedPairs: Set[(Long, Long)] = _

  def stage(dir: String): Unit =
    Gen.writeParquet(spark.createDataFrame(Gen.corpus(seed, size).docs).toDF("doc_id", "text")
      .repartition(parts), s"$dir/documents")

  def prepare(dir: String): Long = {
    docs = spark.read.parquet(s"$dir/documents")
    // the planted pairs are re-derived from the seed, not read back
    val planted = Gen.corpus(seed, size).planted
    texts = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    expectedPairs = planted.filter(_.jaccard >= Threshold).map(p => (p.a, p.b)).toSet
    texts.size.toLong
  }

  def pass(t: Tracer, out: String): Result = t.batch(t.op {
    import spark.implicits._
    t.span("plans.signatures") {
      docs.select(col("doc_id"), Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64).as("sig"),
        Dedup.simhash(col("text")).as("fp")).write.format("noop").mode("overwrite").save()
    }
    val mh = t.span("functions.minhash_pairs") {
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = Threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val sh = t.span("functions.simhash_pairs") {
      Dedup.simhashPairs(docs, "doc_id", "text", MaxHamming).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSeq
    }
    val edges = (mh.map(p => (p._1, p._2)) ++ sh.map(p => (p._1, p._2))).distinct.toDF("id_a", "id_b")
    val labels = t.span("functions.components") {
      Dedup.connectedComponents(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    Result(mh, sh, labels)
  })

  override def counts(r: Result): Map[String, Double] = Map(
    "functions.minhash_pairs.pairs" -> r.minhash.size.toDouble,
    "functions.simhash_pairs.pairs" -> r.simhash.size.toDouble)

  def check(r: Result): Verdict = {
    val badJaccard = r.minhash.filterNot { case (a, b, j) =>
      val exact = Check.jaccard(texts(a), texts(b))
      a < b && exact >= Threshold && math.abs(exact - j) <= 5e-5 + 1e-12
    }
    val badHamming = r.simhash.filterNot { case (a, b, h) =>
      val exact = java.lang.Long.bitCount(Check.simhash(texts(a)) ^ Check.simhash(texts(b)))
      a < b && exact <= MaxHamming && exact == h
    }
    val expectedLabels = Check.components(
      r.minhash.map(p => (p._1, p._2)) ++ r.simhash.map(p => (p._1, p._2)))
    val found = r.minhash.map(p => (p._1, p._2)).toSet
    val failures = Seq(
      badJaccard.isEmpty -> s"${badJaccard.size} minhash pairs fail the exact Jaccard check, e.g. ${badJaccard.take(3)}",
      badHamming.isEmpty -> s"${badHamming.size} simhash pairs fail the Hamming check, e.g. ${badHamming.take(3)}",
      (r.labels == expectedLabels) -> "connected components differ from union-find over the pairs",
      (r.minhash.size == found.size) -> "duplicate minhash pairs"
    ).collect { case (false, msg) => msg }
    val recall = if (expectedPairs.isEmpty) 1.0
      else (expectedPairs intersect found).size.toDouble / expectedPairs.size
    Verdict(failures, recall, Check.sha256(
      r.minhash.sorted.map(_.toString) ++ r.simhash.sorted.map(_.toString) ++
        r.labels.toSeq.sorted.map(_.toString)))
  }
}

object MicrobatchIngest {
  final case class Result(out: String, anomalies: Array[Row], registers: Array[Row], boot: Array[Row])
  private final case class Expected(events: Long, users: DataFrame, anomalies: Set[Seq[Any]],
                                    registers: Set[Seq[Any]], boot: Seq[Seq[Any]])
}

object DedupCorpus {
  final case class Result(minhash: Seq[(Long, Long, Double)], simhash: Seq[(Long, Long, Long)],
                          labels: Map[Long, Long])
}
