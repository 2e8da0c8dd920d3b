package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of one span (or one job class inside a span). */
final class Sums {
  var cpuMs, shuffleWrite, spill, outBytes, outRecords, jobMs = 0L
}

/** Spans opened by the benchmark around each public call into the
  * program. A span names itself in a Spark local property, so this
  * `SparkListener` can charge the task metrics (executor CPU, shuffle,
  * spill and output) of every job of the span to it. Jobs
  * inside a span are further keyed by the kind of SQL execution they run
  * (`write` for a file write, `collect` for a collected limit, else
  * `other`), read from the execution's physical plan; this splits
  * `lake.merge` into its prune collect and its write job. (Call sites
  * cannot: inside a streaming query every job carries the query's.)
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val SpanKey = "graftbench.span"
  private val stageKey = TrieMap[Int, String]()
  private val jobStart = TrieMap[Int, (String, Long)]()
  private val execKind = TrieMap[Long, String]()
  val sums = TrieMap[String, Sums]()
  /** Span name -> (calls, total wall ms). */
  val walls = TrieMap[String, (Long, Double)]()

  spark.sparkContext.addSparkListener(this)
  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  def span[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      walls.synchronized {
        val (n, w) = walls.getOrElse(name, (0L, 0.0))
        walls.put(name, (n + 1, w + ms))
      }
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  private def sumsOf(key: String): Sums = sums.getOrElseUpdate(key, new Sums)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val plan = x.physicalPlanDescription
      execKind.put(x.executionId,
        if (plan.contains("InsertIntoHadoopFsRelationCommand")) "write"
        else if (plan.contains("CollectLimit")) "collect"
        else "other")
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { span =>
      val kind = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execKind.get(id.toLong)).getOrElse("other")
      val key = s"$span/$kind"
      e.stageIds.foreach(stageKey.put(_, key))
      jobStart.put(e.jobId, (key, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (key, t0) =>
      val s = sumsOf(key); s.synchronized { s.jobMs += e.time - t0 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (key <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = sumsOf(key)
      s.synchronized {
        s.cpuMs += m.executorCpuTime / 1000000L
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecords += m.outputMetrics.recordsWritten
      }
    }

  /** Totals of a span over all its actions, or of one action. */
  def total(span: String, action: String = ""): Sums = {
    val out = new Sums
    sums.foreach { case (k, s) =>
      val (sp, act) = k.splitAt(k.lastIndexOf('/'))
      if (sp == span && (action.isEmpty || act.drop(1) == action)) s.synchronized {
        out.cpuMs += s.cpuMs; out.shuffleWrite += s.shuffleWrite; out.spill += s.spill
        out.outBytes += s.outBytes; out.outRecords += s.outRecords
        out.jobMs += s.jobMs
      }
    }
    out
  }

  def wall(span: String): (Long, Double) = walls.getOrElse(span, (0L, 0.0))
}

/** One completed micro-batch as the engine's progress channel reports it. */
final case class BatchInfo(queryId: java.util.UUID, batchId: Long, triggerMs: Long,
                           addBatchMs: Long, inputRows: Long)

/** Collects `StreamingQueryProgress` of the queries it is attached to.
  * `numInputRows` is the engine's own count, which counts the batch once
  * per scan of it (the broadcast LWW dedupe scans it twice).
  */
final class Progress extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchInfo]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      batches.add(BatchInfo(p.id, p.batchId, d.getOrDefault("triggerExecution", 0L).longValue,
        d.getOrDefault("addBatch", 0L).longValue, p.numInputRows))
    }
  }
  /** Batches of the given queries, in order. */
  def of(queries: Set[java.util.UUID]): Seq[BatchInfo] =
    batches.asScala.toSeq.filter(b => queries(b.queryId))
}

/** Reads per-operator `SQLMetric`s of a near-dup query from its executed
  * plan: the rows entering the top-most filter (the exact-similarity
  * verify step) are the candidate pairs, and the rows of the top-most
  * operator that counts its output are the verified pairs.
  */
final class VerifyMetrics extends QueryExecutionListener {
  @volatile var last: Option[(Long, Long)] = None
  @volatile private var barriers = 0L
  private val Marker = "graftbench-barrier"

  /** Returns once this listener has seen every query that ended before the
    * call: listener events arrive in order, so a marker query's event
    * comes after theirs. Then clears `last`.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val seen = barriers
    spark.range(1).selectExpr(s"'$Marker' AS m").write.format("noop").mode("overwrite").save()
    val deadline = System.currentTimeMillis() + 10000L
    while (barriers == seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    last = None
  }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    if (qe.analyzed.toString.contains(Marker)) barriers += 1 else verify(qe)

  private def verify(qe: QueryExecution): Unit = {
    val all = nodes(qe.executedPlan)
    def rows(ns: Seq[SparkPlan]) = ns.collectFirst {
      case n if n.metrics.contains("numOutputRows") => n.metrics("numOutputRows").value
    }
    for (fe <- all.collectFirst { case fe: FilterExec => fe };
         cand <- rows(nodes(fe.child)); verified <- rows(all))
      last = Some((cand, verified))
  }

  /** Breadth-first walk that also enters adaptive plans and query stages. */
  private def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    val q = scala.collection.mutable.Queue(root)
    while (q.nonEmpty) {
      val n = q.dequeue()
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => q.enqueue(a.executedPlan)
        case s: QueryStageExec => q.enqueue(s.plan)
        case r: ReusedExchangeExec => q.enqueue(r.child)
        case _ => n.children.foreach(q.enqueue(_))
      }
    }
    out.result()
  }
}

/** Process-level counters read once per run. */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size (VmHWM) of this JVM. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** CPU probe: median wall ms of one thread hashing 256 MB with SHA-256,
    * three times. It moves with the host's speed, not with the program,
    * so a run record shows when the host itself got slower or faster.
    */
  def cpuProbeMs: Double = {
    val buf = new Array[Byte](1 << 20)
    Stats.median((1 to 3).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Stats.timeMs { (1 to 256).foreach(_ => md.update(buf)); md.digest() }._2
    })
  }

  /** Disk probe: write `mb` MB, fsync, read back; MB/s moved. */
  def diskMbps(dir: java.nio.file.Path, mb: Int = 16): Double = {
    import java.nio.file.{Files, StandardOpenOption => O}
    val p = dir.resolve("disk-probe.bin")
    val buf = new Array[Byte](1 << 20)
    new java.util.Random(7L).nextBytes(buf)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(p, O.CREATE, O.WRITE, O.TRUNCATE_EXISTING)
    try { (1 to mb).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(buf))); ch.force(true) }
    finally ch.close()
    val in = Files.newInputStream(p)
    try { while (in.read(buf) >= 0) () } finally in.close()
    val sec = (System.nanoTime() - t0) / 1e9
    Files.deleteIfExists(p)
    2.0 * mb / sec
  }
}
