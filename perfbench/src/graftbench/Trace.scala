package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side accounting for one benchmark JVM.
  *
  * Every job is attributed to the span whose id sits in the
  * [[Meter.SpanProp]] local property of the submitting thread. Helper
  * threads a library call starts inherit that property, so their jobs are
  * charged to the call that caused them even when they run later. Jobs
  * submitted with no span set are charged to span 0.
  *
  * A "freeze" is a persisted RDD (localCheckpoint, cache, persist), counted
  * the first time a job's stages carry it with a valid storage level; its
  * size is the largest size each of its blocks ever reached.
  *
  * Callers read the counters from the benchmark thread after
  * [[org.apache.spark.BenchBus.drain]]; the listener thread writes them.
  */
final class Meter extends SparkListener {
  import Meter._

  final class Acc {
    var jobs = 0L
    var taskMs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var shuffleBytes = 0L
    var freezes = 0L
  }

  final case class JobRec(span: Long, startMs: Long, var endMs: Long)

  val total = new Acc
  private val bySpan = mutable.Map.empty[Long, Acc]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobRecs = mutable.Map.empty[Int, JobRec]
  private val rddSpan = mutable.Map.empty[Int, Long]
  private val blockNow = mutable.Map.empty[(Int, Int), Long]
  private val blockMax = mutable.Map.empty[(Int, Int), Long]

  // storage held by blocks of RDDs created since the current pass began
  private var floorRdd = Int.MaxValue
  private var passBytes = 0L
  private var peakBytes = 0L

  private def acc(span: Long): Acc = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)
    Seq(total, acc(span)).foreach(_.jobs += 1)
    e.stageIds.foreach(stageSpan(_) = span)
    jobRecs(e.jobId) = JobRec(span, e.time, -1L)
    for (s <- e.stageInfos; r <- s.rddInfos if r.storageLevel.isValid && !rddSpan.contains(r.id)) {
      rddSpan(r.id) = span
      Seq(total, acc(span)).foreach(_.freezes += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val span = stageSpan.getOrElse(e.stageId, 0L)
      Seq(total, acc(span)).foreach { a =>
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.spillBytes += m.diskBytesSpilled
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val k = (b.rddId, b.splitIndex)
      val size = info.memSize + info.diskSize
      val old = blockNow.getOrElse(k, 0L)
      blockNow(k) = size
      blockMax(k) = math.max(blockMax.getOrElse(k, 0L), size)
      if (b.rddId >= floorRdd) {
        passBytes += size - old
        peakBytes = math.max(peakBytes, passBytes)
      }
    }
  }

  /** start counting storage for RDDs with ids from `firstRdd` on */
  def startPass(firstRdd: Int): Unit = synchronized {
    floorRdd = firstRdd; passBytes = 0L; peakBytes = 0L
  }

  def peakPassBytes: Long = synchronized(peakBytes)

  def snapshot: Totals = synchronized {
    Totals(total.jobs, total.taskMs, total.gcMs, total.spillBytes)
  }

  def spanAcc(span: Long): Acc = synchronized(bySpan.getOrElse(span, new Acc))

  def spanJobs(span: Long): Seq[JobRec] = synchronized(jobRecs.values.filter(_.span == span).toSeq)

  /** bytes frozen by `span`: the peak size of every block of its RDDs */
  def frozenBytes(span: Long): Long = synchronized {
    val rdds = rddSpan.collect { case (r, s) if s == span => r }.toSet
    blockMax.collect { case ((r, _), n) if rdds(r) => n }.sum
  }
}

object Meter {
  val SpanProp = "graftbench.span"
  final case class Totals(jobs: Long, taskMs: Long, gcMs: Long, spillBytes: Long) {
    def -(o: Totals): Totals =
      Totals(jobs - o.jobs, taskMs - o.taskMs, gcMs - o.gcMs, spillBytes - o.spillBytes)
  }
}

/** One timed region of benchmark code around a call into a graft layer. */
final case class Span(id: Long, name: String, parent: Long, startMs: Long, var endMs: Long = -1L) {
  def wallMs: Long = endMs - startMs
}

/** Records spans, operations and batch latencies for one pass.
  *
  * Spans always carry their start and end; only when `traced` does a span
  * also publish its id as the local property the [[Meter]] attributes jobs
  * by. An operation is the unit a workload counts as attempted: one library
  * call, one micro-batch, one readout or one pass. A batch is what one
  * closed-loop step hands to the library: a micro-batch, or a whole bulk
  * load.
  */
final class Tracer(sc: SparkContext, val traced: Boolean, firstId: Long) {
  private var nextId = firstId
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  val batchSeconds = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L

  def lastId: Long = nextId

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), System.currentTimeMillis())
    stack = s :: stack
    if (traced) sc.setLocalProperty(Meter.SpanProp, s.id.toString)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) sc.setLocalProperty(Meter.SpanProp, stack.headOption.map(_.id.toString).orNull)
      spans += s
    }
  }

  def op[T](body: => T): T = { attempted += 1; body }

  /** one library call that is also one operation */
  def call[T](name: String)(body: => T): T = op(span(name)(body))

  def batch[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    batchSeconds += (System.nanoTime() - t0) / 1e9
    r
  }
}

object Intervals {
  /** total length of the union of [s, e) intervals clipped to [lo, hi) */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
