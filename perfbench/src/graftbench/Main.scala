package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Runs benchmark workloads in one JVM and writes one JSON result line per
  * (workload, mode) to `--out`; a human-readable report goes to stdout.
  *
  * Per workload: stage the seeded inputs three times (set-up reports the
  * median), warm up for [[WarmUpSeconds]] of untimed passes, then run passes until
  * `--seconds` have elapsed and report medians over them. Untraced mode
  * reports the end-to-end metrics; traced mode alternates untraced and
  * traced passes and reports the per-layer metrics of the traced ones.
  * Every pass's outputs are checked after timing.
  */
object Main {
  final case class Opts(workloads: Seq[String], seed: Long, seconds: Double, modes: Seq[Boolean],
                        cpus: Int, work: String, out: String, traceDir: String, tiny: Boolean)

  final case class PassRecord(traced: Boolean, wallS: Double, d: Meter.Totals, peakBytes: Long,
                              tracer: Tracer, error: Option[Throwable], var verdict: Verdict = null,
                              var counts: Map[String, Double] = Map.empty)

  val LayerSpans = Seq("tables.ensure", "tables.scdensure", "tables.lookup", "tables.fact_insert",
    "core.commit", "streaming.update", "streaming.readout", "plans.signatures",
    "functions.minhash_pairs", "functions.simhash_pairs", "functions.components")
  val SpanMetrics = Seq("wall_s", "self_s", "jobs", "task_s", "no_job_s", "freezes", "frozen_mb", "shuffle_mb")
  val WarmUpSeconds = 10.0
  val WorkloadCounts = Seq("functions.minhash_pairs.pairs", "functions.simhash_pairs.pairs")
  val EndToEnd = Seq("setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s", "batch_p50_s" -> "s",
    "task_cpu_s" -> "s", "jobs" -> "count", "storage_peak_mb" -> "MB", "match_recall" -> "ratio")
  val PerLayer: Seq[(String, String)] =
    (for (s <- LayerSpans; m <- SpanMetrics) yield s"$s.$m" -> unitOf(m)) ++
      Seq("gc_s" -> "s", "spill_mb" -> "MB", "core_util" -> "ratio", "tracing_overhead_s" -> "s") ++
      WorkloadCounts.map(_ -> "count")

  private def unitOf(m: String): String =
    if (m.endsWith("_s")) "s" else if (m.endsWith("_mb")) "MB" else "count"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workloads = need("workloads").split(",").toSeq,
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      modes = need("trace") match {
        case "0" => Seq(false)
        case "1" => Seq(true)
        case "both" => Seq(false, true)
        case other => throw new IllegalArgumentException(s"--trace must be 0, 1 or both, not $other")
      },
      cpus = need("cpus").toInt,
      work = need("work"),
      out = need("out"),
      traceDir = need("trace-dir"),
      tiny = kv.get("size").contains("tiny"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val lines = for (name <- o.workloads; traced <- o.modes)
      yield new Run(spark, meter, o, name, traced, sessionS).result()
    Files.write(Paths.get(o.out), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    System.out.flush()
    // local mode keeps no state outside this JVM, so skip the seconds an
    // orderly SparkContext shutdown takes
    Runtime.getRuntime.halt(0)
  }

  /** one workload in one mode */
  final class Run(spark: SparkSession, meter: Meter, o: Opts, name: String, traceMode: Boolean,
                  sessionS: Double) {
    private val sc = spark.sparkContext
    private val w = Workload(name, spark, o.seed, o.tiny, o.cpus)
    private val base = s"${o.work}/$name-${if (traceMode) "traced" else "plain"}"
    private var passNo = 0
    private var spanIds = 0L

    private def runPass(traced: Boolean, warm: Boolean = false): (PassRecord, Option[w.Out]) = {
      // let the ContextCleaner release what earlier passes left unreachable;
      // no block is unpersisted by the benchmark itself
      System.gc()
      BenchBus.drain(sc)
      meter.startPass(sc.emptyRDD[Int].id)
      val before = meter.snapshot
      val tracer = new Tracer(sc, traced, spanIds)
      val out = s"$base/out-$passNo"
      passNo += 1
      val (res, wall) = seconds(Try(
        if (warm) { w.warmUp(tracer, out); None } else Some(w.pass(tracer, out))))
      BenchBus.drain(sc)
      spanIds = tracer.lastId
      res.failed.foreach(e => { System.err.println(s"[graftbench] pass failed: $e"); e.printStackTrace() })
      (PassRecord(traced, wall, meter.snapshot - before, meter.peakPassBytes, tracer, res.failed.toOption),
        res.toOption.flatten)
    }

    def result(): String = {
      val stageS = (0 until 3).map(i => seconds(w.stage(s"$base/stage$i"))._2)
      val (rows, prepareS) = seconds(w.prepare(s"$base/stage0"))
      // the cold warm-up pass counts in set-up; further untimed warm-up
      // passes give the JIT WarmUpSeconds in all before measuring
      val warm = runPass(traced = false, warm = true)._1
      val setupS = sessionS + median(stageS) + warm.wallS
      var warmS = warm.wallS
      while (warmS < WarmUpSeconds) warmS += runPass(traced = false, warm = true)._1.wallS

      val t0 = System.nanoTime()
      val runs = ArrayBuffer.empty[(PassRecord, Option[w.Out])]
      def more: Boolean = runs.isEmpty ||
        (System.nanoTime() - t0) / 1e9 < o.seconds ||
        (traceMode && !(runs.exists(_._1.traced) && runs.exists(!_._1.traced)))
      while (more && !runs.lastOption.exists(_._1.error.isDefined))
        runs += runPass(traced = traceMode && runs.size % 2 == 1)
      val measureS = (System.nanoTime() - t0) / 1e9

      // checks run after timing; a check that throws is a failed check
      val (_, checkS) = seconds(runs.foreach { case (p, out) =>
        out.foreach { r =>
          p.verdict = Try(w.check(r)).fold(e => Verdict(Seq(s"check threw $e"), 0.0, "-"), identity)
          p.counts = w.counts(r)
        }
      })
      val passes = runs.map(_._1).toSeq
      val fingerprints = passes.flatMap(p => Option(p.verdict)).map(_.fingerprint).distinct
      val perPass = (warm +: passes).map(p => p.error.map(e => s"pass threw $e").toSeq ++
        Option(p.verdict).toSeq.flatMap(_.failures))
      val failures = perPass.flatten ++
        (if (fingerprints.size > 1) Seq(s"outputs differ between passes: ${fingerprints.mkString(", ")}") else Nil)
      val attempted = passes.map(_.tracer.attempted).sum
      val failed = math.min(attempted, perPass.map(_.size).sum + (if (fingerprints.size > 1) 1 else 0))
      val correct = failures.isEmpty

      val plain = passes.filterNot(_.traced).toSeq
      val metrics: Seq[(String, String, Double)] =
        if (!traceMode) endToEnd(plain, rows, setupS)
        else perLayer(passes.filter(_.traced).toSeq, plain)

      val batches = plain.flatMap(_.tracer.batchSeconds)
      println(f"[graftbench] $name seed=${o.seed} cpus=${o.cpus} input_rows=$rows " +
        s"passes=${passes.size} traced=${passes.count(_.traced)} batch_samples=${batches.size}")
      println("[graftbench] per pass: " + passes.map(p =>
        f"${if (p.traced) "traced " else ""}${p.wallS}%.2f s/${p.d.jobs} jobs").mkString(", "))
      println("[graftbench] batch latencies: " + batches.map(x => f"$x%.2f").mkString(" "))
      println(f"[graftbench] setup: session $sessionS%.2f s + staging median ${median(stageS)}%.2f s " +
        f"(${stageS.size} samples) + warm-up pass ${warm.wallS}%.2f s; untimed: " +
        f"further warm-up ${warmS - warm.wallS}%.2f s, prepare $prepareS%.2f s, " +
        f"measuring $measureS%.2f s, checks $checkS%.2f s")
      println(s"[graftbench] output fingerprint ${fingerprints.mkString(",")}; checks " +
        (if (correct) "passed" else s"FAILED: ${failures.distinct.mkString("; ")}"))
      metrics.foreach { case (k, u, v) => println(f"  $k%-40s $v%14.4f $u") }

      val body = metrics.map { case (k, u, v) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
    }

    private def num(v: Double): String =
      if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is $v") else v.toString

    private def endToEnd(ps: Seq[PassRecord], rows: Long, setupS: Double): Seq[(String, String, Double)] = {
      val wall = median(ps.map(_.wallS))
      val values = Map(
        "setup_s" -> setupS,
        "wall_s" -> wall,
        "rows_per_s" -> rows / wall,
        "batch_p50_s" -> median(ps.flatMap(_.tracer.batchSeconds)),
        "task_cpu_s" -> median(ps.map(_.d.taskMs / 1000.0)),
        "jobs" -> median(ps.map(_.d.jobs.toDouble)),
        "storage_peak_mb" -> median(ps.map(_.peakBytes / 1e6)),
        "match_recall" -> median(ps.flatMap(p => Option(p.verdict)).map(_.recall)))
      EndToEnd.map { case (k, u) => (k, u, values(k)) }
    }

    private def perLayer(traced: Seq[PassRecord], plain: Seq[PassRecord]): Seq[(String, String, Double)] = {
      val spanValues = traced.map(spanMetrics)
      val all = traced ++ plain
      val workload = Map(
        "gc_s" -> median(all.map(_.d.gcMs / 1000.0)),
        "spill_mb" -> median(all.map(_.d.spillBytes / 1e6)),
        "core_util" -> median(all.map(p => p.d.taskMs / 1000.0 / (p.wallS * o.cpus))),
        "tracing_overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS)))) ++
        WorkloadCounts.map(k => k -> median(all.map(_.counts.getOrElse(k, 0.0))))
      writeTrace(traced)
      PerLayer.map { case (k, u) =>
        (k, u, workload.getOrElse(k, median(spanValues.map(_.getOrElse(k, 0.0)))))
      }
    }

    /** the layer spans of one traced pass, summed per span name */
    private def spanMetrics(p: PassRecord): Map[String, Double] = {
      val children = p.tracer.spans.groupBy(_.parent)
      LayerSpans.flatMap { name =>
        val ss = p.tracer.spans.filter(_.name == name).toSeq
        val accs = ss.map(s => meter.spanAcc(s.id))
        def coveredMs(s: Span, iv: Seq[(Long, Long)]) = Intervals.covered(iv, s.startMs, s.endMs)
        Seq(
          "wall_s" -> ss.map(_.wallMs).sum / 1000.0,
          "self_s" -> ss.map(s => s.wallMs - coveredMs(s,
            children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq)).sum / 1000.0,
          "jobs" -> accs.map(_.jobs).sum.toDouble,
          "task_s" -> accs.map(_.taskMs).sum / 1000.0,
          "no_job_s" -> ss.map(s => s.wallMs - coveredMs(s,
            meter.spanJobs(s.id).map(j => (j.startMs, math.max(j.startMs, j.endMs))))).sum / 1000.0,
          "freezes" -> accs.map(_.freezes).sum.toDouble,
          "frozen_mb" -> ss.map(s => meter.frozenBytes(s.id)).sum / 1e6,
          "shuffle_mb" -> accs.map(_.shuffleBytes).sum / 1e6
        ).map { case (m, v) => s"$name.$m" -> v }
      }.toMap
    }

    /** every span of the traced passes, as one JSON document */
    private def writeTrace(traced: Seq[PassRecord]): Unit = {
      val passes = traced.map { p =>
        val spans = p.tracer.spans.sortBy(_.startMs).map { s =>
          val a = meter.spanAcc(s.id)
          s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_ms": ${s.startMs}, """ +
            s""""end_ms": ${s.endMs}, "jobs": ${a.jobs}, "task_ms": ${a.taskMs}, "freezes": ${a.freezes}, """ +
            s""""frozen_bytes": ${meter.frozenBytes(s.id)}, "shuffle_bytes": ${a.shuffleBytes}}"""
        }
        s"""{"wall_s": ${p.wallS}, "spans": [${spans.mkString(",\n  ")}]}"""
      }
      val path = Paths.get(o.traceDir, s"trace-$name-seed${o.seed}.json")
      Files.createDirectories(path.getParent)
      Files.write(path, s"""{"workload": "$name", "seed": ${o.seed}, "passes": [${passes.mkString(",\n")}]}\n"""
        .getBytes(UTF_8))
      println(s"[graftbench] trace written to $path")
    }
  }
}
