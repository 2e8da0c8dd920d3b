package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.dsl.PipelineConfig
import graft.engine.{CdcEngine, Lww}
import graft.engine.CdcEngine.ReplayConfig
import graft.lake.LakeTable
import graft.model.Model
import graft.ops.Dedup
import Stats._

/** The workloads. Each one sets up its inputs and references from the
  * seed, warms up, measures for `--seconds` and checks every output. With
  * `--trace 1` a run also measures with spans and listeners for the
  * per-layer figures, next to untraced operations for the overhead figure.
  */
object Workloads {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  /** Untimed warm-up before each measured window. JIT compilation keeps
    * speeding operations up for 30-40 s after the first one on a 4-core
    * box (backfill replays: 9.0, 5.9, 5.3, 5.2, 4.6, 4.5, then flat at
    * ~4.3 s); 15 s takes the steep part, within the run-time budget.
    */
  val WarmupSeconds = 15

  // backfill_hotkey: 40 x 500 = 20k keys, so each key is rewritten often
  val HotShape = Inputs.LogShape(repos = 40, pathsPerRepo = 500)
  val HotEvents = 80000L
  val HotFiles = 4
  val HotFilesPerTrigger = 2

  /** Point lookups of the hot repo on the replayed lake in a traced run. */
  val Lookups = 20

  // neardup_docs: a fixed slice of the committed documents table plus
  // seeded perturbed copies, mirrored (ids + 100000) as in the program's gate
  val DocsBelow = 600
  val DocsEdit = 0.03

  private lazy val pipeline = PipelineConfig.parse(Inputs.pipelineYaml).transform

  private val userSchema = StructType(Model.eventSchemaWidest.fields
    .filterNot(f => f.name == "seq" || f.name == "op"))

  /** Runs `f` [[SetupRepeats]] times in fresh dirs, keeps the last result
    * and removes the others; returns it with the median wall seconds.
    */
  private def setups[A](work: Path)(f: Path => A): (A, Double) = {
    val runs = (1 to SetupRepeats).map { i =>
      val dir = work.resolve(s"setup-$i")
      Fs.delete(dir)
      Files.createDirectories(dir)
      val (res, ms) = timeMs(f(dir))
      Main.log(f"set-up $i: ${ms / 1000}%.2f s")
      (dir, res, ms / 1000.0)
    }
    runs.init.foreach(r => Fs.delete(r._1))
    (runs.last._2, median(runs.map(_._3)))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def paths(ps: Seq[Path]): Seq[String] = ps.map(_.toString)

  /** Whether a window started at `t0` still runs: at least `min` samples,
    * then until `seconds` have passed.
    */
  private def more(t0: Long, seconds: Int, samples: Int, min: Int): Boolean =
    samples < min || (System.nanoTime() - t0) / 1e9 < seconds

  /** The measured window. Untraced, it runs `op(None)` for `seconds`, at
    * least 3 times. Traced, it alternates untraced and traced operations
    * for twice as long, so both kinds see the same warm-up state and their
    * difference is the tracing overhead. Returns (untraced, traced) samples.
    */
  private def window[A](seconds: Int, t: Option[Traced])(op: Option[Traced] => A): (Seq[A], Seq[A]) = {
    val t0 = System.nanoTime()
    val (untraced, traced) = (Seq.newBuilder[A], Seq.newBuilder[A])
    var (nu, nt) = (0, 0)
    val total = if (t.isEmpty) seconds else 2 * seconds
    while (more(t0, total, math.min(nu, if (t.isEmpty) nu else nt), 3)) {
      if (t.isDefined && nt < nu) { traced += op(t); nt += 1 }
      else { untraced += op(None); nu += 1 }
    }
    (untraced.result(), traced.result())
  }

  // ------------------------------------------------------------------
  // backfill_hotkey
  // ------------------------------------------------------------------

  def backfillHotkey(spark0: SparkSession, a: Main.Args): Report = {
    var spark = spark0
    val r = Layers.report()
    val ((logDir, logFiles, expected), setupS) = setups(a.work) { dir =>
      val files = Inputs.writeLogFiles(spark, a.seed, HotShape, 0L, HotEvents, HotFiles,
        dir.resolve("log"), "log")
      (dir.resolve("log"), files,
        Oracle.expectedDigest(Inputs.events(spark, a.seed, HotShape, 0L, HotEvents, 4)))
    }
    var run = 0
    var tracedLake = a.work
    def replay(traced: Option[Traced]): Double = {
      run += 1
      val cfg = ReplayConfig(logDir.toString, a.work.resolve(s"lake-$run").toString,
        a.work.resolve(s"ckpt-$run").toString, maxFilesPerTrigger = Some(HotFilesPerTrigger))
      val (lake, ms) = timeMs(traced match {
        case None => CdcEngine.replayToEnd(spark, cfg, pipeline)
        case Some(t) => t.replayToEnd(cfg)
      })
      val got = Oracle.digest(lake.read(spark))
      r.check(got == expected, s"backfill replay $run: state $got, expected $expected")
      if (traced.isEmpty) Fs.delete(a.work.resolve(s"lake-$run"))
      else tracedLake = a.work.resolve(s"lake-$run")
      Fs.delete(a.work.resolve(s"ckpt-$run"))
      Main.log(f"replay $run: ${ms / 1000}%.2f s")
      ms
    }
    val warm = System.nanoTime()
    var warmed = 0
    while (more(warm, WarmupSeconds, warmed, 1)) { replay(None); warmed += 1 }
    val tracer = if (a.trace) Some(new Traced(spark, r)) else None
    val (untraced, traced) = window(a.seconds, tracer)(replay)
    val p50 = median(untraced)
    r.e2e("setup_s") = (setupS, "s")
    r.e2e("throughput_per_s") = (HotEvents / (p50 / 1000.0), "1/s")
    r.record("samples") = untraced.size.toString
    r.record("replay_p50_ms") = f"$p50%.1f"
    r.record("events") = HotEvents.toString

    tracer.foreach { t =>
      t.finish(traced.size)
      Layers.overhead(r, p50, median(traced))
      dslPass(spark, r, t.tracer, logFiles)
      val lake = new LakeTable(tracedLake.toString)
      r.layers("lake.files_live") = (lake.files().size.toDouble, "count")
      lookups(spark, r, t.tracer, lake)
      t.close()
      // single-core baseline of the same replay, in a fresh local[1] context
      spark.stop()
      spark = Main.session(a, 1)
      val one = replay(None)
      r.layers("engine.speedup_1_to_4") = (one / p50, "ratio")
    }
    r
  }

  /** dsl layer: parse time and the pipeline alone over the log to `noop`. */
  private def dslPass(spark: SparkSession, r: Report, t: Tracer, files: Seq[Path]): Unit = {
    val parse = (1 to 5).map(_ => timeMs(PipelineConfig.parse(Inputs.pipelineYaml))._2)
    r.layers("dsl.parse_ms") = (median(parse), "ms")
    val log = spark.read.schema(Model.eventSchemaWidest).parquet(paths(files): _*)
    val rows = log.count()
    val ms = timeMs(t.span("dsl") { noop(pipeline(log)) })._2
    val s = t.total("dsl")
    r.layers("dsl.pipeline_rows_per_s") = (rows / (ms / 1000.0), "1/s")
    r.layers("dsl.pipeline_cpu_ms") = (s.cpuMs.toDouble, "ms")
    r.layers("dsl.cpu_wall_ratio") = (s.cpuMs / ms, "ratio")
  }

  /** lake read path: point lookups of the hot repo, one at a time, on the
    * lake a traced replay left. Each is checked: every row has the hot
    * repo, no key repeats, and the row count is that of the full read.
    */
  private def lookups(spark: SparkSession, r: Report, t: Tracer, lake: LakeTable): Unit = {
    val want = lake.read(spark).where(col("repo") === Inputs.HotRepo).count()
    val ms = (1 to Lookups).map { i =>
      val (rows, ms) = timeMs(t.span("lake.lookup") {
        lake.readRepos(spark, Seq(Inputs.HotRepo)).select("repo", "path").collect()
      })
      r.check(rows.length == want && rows.forall(_.getString(0) == Inputs.HotRepo) &&
        rows.map(_.getString(1)).distinct.length == rows.length,
        s"lookup $i: ${rows.length} rows, expected $want distinct keys of ${Inputs.HotRepo}")
      ms
    }
    r.layers("lake.lookup.p50_ms") = (median(ms), "ms")
    r.layers("lake.lookup.p90_ms") = (pct(ms, 0.9), "ms")
    r.layers("lake.lookup.files_scanned") = (lake.scanFiles(Seq(Inputs.HotRepo)).size.toDouble, "count")
    r.layers("lake.lookup.rows") = (want.toDouble, "count")
    r.layers("lake.lookup.cpu_wall_ratio") = (t.total("lake.lookup").cpuMs / t.wall("lake.lookup")._2, "ratio")
  }

  // ------------------------------------------------------------------
  // neardup_docs
  // ------------------------------------------------------------------

  def neardupDocs(spark: SparkSession, a: Main.Args): Report = {
    val r = Layers.report()
    val ((docsDir, mhRef, shRef), setupS) = setups(a.work) { dir =>
      val docsDir = dir.resolve("docs")
      Inputs.documents(spark, a.seed, a.data.resolve("documents.parquet").toString,
        DocsBelow, DocsEdit).write.parquet(docsDir.toString)
      val tmp = Files.createDirectories(dir.resolve("duckdb-tmp"))
      (docsDir, Oracle.minHashPairs(docsDir.toString, tmp.toString),
        Oracle.simHashPairs(Inputs.mirrored(spark.read.parquet(docsDir.toString)), 3))
    }
    val nDocs = spark.read.parquet(docsDir.toString).count() * 2.0
    def docs = Inputs.mirrored(spark.read.parquet(docsDir.toString))
    def minHash = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.9,
      Dedup.MinHashConfig(shingleSize = 3, numHashes = 64, bands = 16))
    def simHash = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3)

    def round(t: Option[Traced]): (Double, Double) = {
      def pass(name: String, df: => DataFrame): Double = {
        val res = scala.util.Try(timeMs(t.fold(noop(df))(x => x.tracer.span(name)(noop(df))))._2)
        r.check(res.isSuccess, s"$name pass failed: ${res.failed.map(_.toString).getOrElse("")}")
        res.getOrElse(0.0)
      }
      val res = (pass("ops.minhash", minHash), pass("ops.simhash", simHash))
      Main.log(f"near-dup round: minhash ${res._1}%.0f ms, simhash ${res._2}%.0f ms")
      res
    }
    // warm-up: one pass of each, collected and checked against the
    // references, then rounds on the timed (noop) path
    val warm = System.nanoTime()
    val mh = Oracle.pairs(minHash)
    r.check(mh == mhRef, s"minhash pairs ${mh.size} != reference ${mhRef.size} " +
      s"(missing ${(mhRef -- mh).take(3)}, extra ${(mh -- mhRef).take(3)})")
    val sh = Oracle.pairs(simHash)
    r.check(sh == shRef, s"simhash pairs ${sh.size} != reference ${shRef.size} " +
      s"(missing ${(shRef -- sh).take(3)}, extra ${(sh -- shRef).take(3)})")
    while (more(warm, WarmupSeconds, 1, 1)) round(None)
    val tracer = if (a.trace) Some(new Traced(spark, r)) else None
    val (untraced, traced) = window(a.seconds, tracer)(round)
    val roundMs = untraced.map(x => x._1 + x._2)
    r.e2e("setup_s") = (setupS, "s")
    r.e2e("throughput_per_s") = (nDocs / (median(roundMs) / 1000.0), "1/s")
    r.record("samples") = roundMs.size.toString
    r.record("round_p50_ms") = f"${median(roundMs)}%.1f"
    r.record("minhash_p50_ms") = f"${median(untraced.map(_._1))}%.1f"
    r.record("simhash_p50_ms") = f"${median(untraced.map(_._2))}%.1f"
    r.record("docs") = nDocs.toLong.toString
    r.record("minhash_ref_pairs") = mhRef.size.toString
    r.record("simhash_ref_pairs") = shRef.size.toString

    tracer.foreach { t =>
      Layers.overhead(r, median(roundMs), median(traced.map(x => x._1 + x._2)))
      t.countPairs("ops.minhash", noop(minHash))
      t.countPairs("ops.simhash", noop(simHash))
      for ((name, i) <- Seq("ops.minhash" -> 0, "ops.simhash" -> 1)) {
        val s = t.tracer.total(name)
        val (n, wall) = t.tracer.wall(name)
        val (cand, ver) = t.verified.getOrElse(name, (0L, 0L))
        r.layers(s"$name.wall_ms") = (median(traced.map(x => if (i == 0) x._1 else x._2)), "ms")
        r.layers(s"$name.cpu_ms") = (s.cpuMs.toDouble / n, "ms")
        r.layers(s"$name.cpu_wall_ratio") = (s.cpuMs / wall, "ratio")
        r.layers(s"$name.candidate_pairs") = (cand.toDouble, "count")
        r.layers(s"$name.verified_pairs") = (ver.toDouble, "count")
        r.layers(s"$name.precision") = (if (cand > 0) ver.toDouble / cand else 0.0, "ratio")
        r.layers(s"$name.shuffle_bytes") = (s.shuffleWrite.toDouble / n, "bytes")
        r.layers(s"$name.spill_bytes") = (s.spill.toDouble / n, "bytes")
      }
      t.close()
    }
    r
  }

  // ------------------------------------------------------------------
  // traced replay: the default apply path composed from public calls
  // ------------------------------------------------------------------

  /** Traced runs replace `CdcEngine.applyBatch` by the same steps called
    * one by one: `Lww.dedupe(..).persist()`, then `LakeTable.merge` with
    * the winner keys as `precomputedWinners`. Spans around each call split
    * `engine.lww` from `lake.merge`; the untraced figure of the same run
    * shows any drift between this composition and the engine's own.
    */
  final class Traced(spark: SparkSession, r: Report) {
    val tracer = new Tracer(spark)
    private val progress = new Progress
    spark.streams.addListener(progress)
    private val verifyMetrics = new VerifyMetrics
    spark.listenerManager.register(verifyMetrics)
    val verified = scala.collection.mutable.Map[String, (Long, Long)]()
    private var rowsIn, winnerRows, removed, inTouched = 0L
    private var queries = Set.empty[java.util.UUID]

    def replayToEnd(cfg: ReplayConfig): LakeTable = {
      val lake = new LakeTable(cfg.lakeRoot, cfg.lakeBuckets)
      lake.initIfNeeded(userSchema)
      val src = spark.readStream.schema(cfg.schema)
      val in = cfg.maxFilesPerTrigger.fold(src)(n => src.option("maxFilesPerTrigger", n.toLong))
      val q = pipeline(in.parquet(cfg.logDir)).writeStream
        .option("checkpointLocation", cfg.checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          apply(lake, batch, batchId, Paths.get(cfg.checkpointDir)) }
        .start()
      queries += q.id
      q.awaitTermination()
      lake
    }

    /** The `engine.lww` span covers the one job that materializes the
      * winners: the batch's source scan, the dsl pipeline and the dedupe
      * together, as the engine's own `lww+materialize` step does.
      */
    private def apply(lake: LakeTable, batch: DataFrame, batchId: Long, ckpt: Path): Unit = {
      rowsIn += batchFiles(ckpt, batchId).map(fileRows).sum
      val winners = Lww.dedupe(batch, Model.keyCols, "seq").persist()
      try {
        val n = tracer.span("engine.lww")(winners.count())
        if (n > 0) {
          val before = lake.files()
          tracer.span("lake.merge") {
            lake.merge(winners, batchId, countHint = Some(n),
              precomputedWinners = Some(winners.select((Model.keyCols :+ "seq").map(col): _*)))
          }
          val after = lake.files()
          val afterPaths = after.map(_.path).toSet
          val beforePaths = before.map(_.path).toSet
          val touched = after.filterNot(f => beforePaths(f.path)).map(_.bucket).toSet
          winnerRows += n
          removed += before.count(f => !afterPaths(f.path))
          inTouched += before.count(f => touched(f.bucket))
        }
      } finally { winners.unpersist(); () }
    }

    /** Log files of a micro-batch, from the file source's own log in the
      * checkpoint (written when the batch is planned, before it runs).
      */
    private def batchFiles(ckpt: Path, batchId: Long): Seq[String] = {
      val log = ckpt.resolve("sources").resolve("0").resolve(batchId.toString)
      Files.readAllLines(log).asScala.toSeq.collect { case sourcePath(p) => p }
    }
    private val sourcePath = "\"path\":\"([^\"]*)\"".r.unanchored

    /** Row count of a log file, from its parquet footer (no Spark job). */
    private def fileRows(file: String): Long = {
      val in = HadoopInputFile.fromPath(new HadoopPath(new java.net.URI(file)),
        spark.sparkContext.hadoopConfiguration)
      val reader = ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }

    /** Runs one extra near-dup pass with predicate pushdown off, so the
      * exact-similarity verify stays a filter above the candidate frame
      * (the optimizer otherwise folds it into the join condition), and
      * records the pair counts its plan metrics show.
      */
    def countPairs(name: String, pass: => Unit): Unit = {
      val rules = "spark.sql.optimizer.excludedRules"
      verifyMetrics.drain(spark)
      spark.conf.set(rules, "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates")
      try pass finally spark.conf.unset(rules)
      val deadline = System.currentTimeMillis() + 3000L
      while (verifyMetrics.last.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
      verifyMetrics.last.foreach(v => verified(name) = v)
    }

    /** Writes the engine and lake figures over the `replays` traced
      * replays. Rows into LWW are the rows of the batch's log files; rows
      * per batch are the engine's own `numInputRows`.
      */
    def finish(replays: Int): Unit = {
      val batches = progress.of(queries)
      val nb = math.max(batches.size, 1).toDouble
      val lww = tracer.total("engine.lww")
      r.layers("engine.trigger.batches") = (batches.size / math.max(replays, 1).toDouble, "count")
      r.layers("engine.trigger.rows_per_batch") = (batches.map(_.inputRows).sum / nb, "count")
      r.layers("engine.trigger.overhead_ms") =
        (batches.map(b => b.triggerMs - b.addBatchMs).sum / nb, "ms")
      val (_, lwwWall) = tracer.wall("engine.lww")
      r.layers("engine.lww.wall_ms") = (lwwWall / nb, "ms")
      r.layers("engine.lww.cpu_ms") = (lww.cpuMs / nb, "ms")
      r.layers("engine.lww.cpu_wall_ratio") = (lww.cpuMs / lwwWall, "ratio")
      r.layers("engine.lww.rows_in") = (rowsIn / nb, "count")
      r.layers("engine.lww.winner_rows") = (winnerRows / nb, "count")
      r.layers("engine.lww.keep_ratio") = (winnerRows / math.max(rowsIn, 1L).toDouble, "ratio")
      r.layers("engine.lww.shuffle_bytes") = (lww.shuffleWrite / nb, "bytes")
      r.layers("engine.lww.spill_bytes") = (lww.spill / nb, "bytes")
      val merge = tracer.total("lake.merge")
      val (_, mergeWall) = tracer.wall("lake.merge")
      val prune = tracer.total("lake.merge", "collect")
      val write = tracer.total("lake.merge", "write")
      r.layers("lake.merge.wall_ms") = (mergeWall / nb, "ms")
      r.layers("lake.merge.driver_ms") = ((mergeWall - merge.jobMs) / nb, "ms")
      r.layers("lake.merge.cpu_wall_ratio") = (merge.cpuMs / mergeWall, "ratio")
      r.layers("lake.prune.ms") = (prune.jobMs / nb, "ms")
      r.layers("lake.prune.rewrite_frac") = (removed.toDouble / math.max(inTouched, 1L), "ratio")
      r.layers("lake.write.ms") = (write.jobMs / nb, "ms")
      r.layers("lake.write.cpu_ms") = (write.cpuMs / nb, "ms")
      r.layers("lake.write.bytes") = (write.outBytes / nb, "bytes")
      r.layers("lake.write_amp") = (write.outRecords.toDouble / math.max(winnerRows, 1L), "ratio")
      r.record("traced_samples") = replays.toString
    }

    def close(): Unit = {
      spark.streams.removeListener(progress)
      spark.listenerManager.unregister(verifyMetrics)
      tracer.close()
    }
  }
}

/** Every per-layer metric a traced run reports, with its unit. A layer
  * that does not run in a workload reports 0.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "dsl.parse_ms" -> "ms", "dsl.pipeline_rows_per_s" -> "1/s", "dsl.pipeline_cpu_ms" -> "ms",
    "dsl.cpu_wall_ratio" -> "ratio",
    "engine.lww.wall_ms" -> "ms", "engine.lww.cpu_ms" -> "ms", "engine.lww.rows_in" -> "count",
    "engine.lww.winner_rows" -> "count", "engine.lww.keep_ratio" -> "ratio",
    "engine.lww.shuffle_bytes" -> "bytes", "engine.lww.spill_bytes" -> "bytes",
    "engine.lww.cpu_wall_ratio" -> "ratio",
    "engine.trigger.overhead_ms" -> "ms", "engine.trigger.batches" -> "count",
    "engine.trigger.rows_per_batch" -> "count",
    "engine.speedup_1_to_4" -> "ratio",
    "lake.merge.wall_ms" -> "ms", "lake.merge.driver_ms" -> "ms", "lake.merge.cpu_wall_ratio" -> "ratio",
    "lake.prune.ms" -> "ms", "lake.prune.rewrite_frac" -> "ratio",
    "lake.write.ms" -> "ms", "lake.write.cpu_ms" -> "ms", "lake.write.bytes" -> "bytes",
    "lake.write_amp" -> "ratio", "lake.files_live" -> "count",
    "lake.lookup.p50_ms" -> "ms", "lake.lookup.p90_ms" -> "ms",
    "lake.lookup.files_scanned" -> "count", "lake.lookup.rows" -> "count",
    "lake.lookup.cpu_wall_ratio" -> "ratio") ++
    Seq("minhash", "simhash").flatMap(op => Seq(
      s"ops.$op.wall_ms" -> "ms", s"ops.$op.cpu_ms" -> "ms",
      s"ops.$op.candidate_pairs" -> "count", s"ops.$op.verified_pairs" -> "count",
      s"ops.$op.precision" -> "ratio", s"ops.$op.shuffle_bytes" -> "bytes",
      s"ops.$op.spill_bytes" -> "bytes", s"ops.$op.cpu_wall_ratio" -> "ratio")) ++ Seq(
    "jvm.gc_ms" -> "ms", "jvm.peak_heap_mb" -> "MB", "jvm.peak_rss_mb" -> "MB",
    "env.disk_mbps" -> "MB/s",
    "trace.untraced_p50_ms" -> "ms", "trace.traced_p50_ms" -> "ms", "trace.overhead_pct" -> "%",
    "run.failed_frac" -> "ratio")

  def report(): Report = {
    val r = new Report
    units.foreach { case (k, u) => r.layers(k) = (0.0, u) }
    r
  }

  def overhead(r: Report, untraced: Double, traced: Double): Unit = {
    r.layers("trace.untraced_p50_ms") = (untraced, "ms")
    r.layers("trace.traced_p50_ms") = (traced, "ms")
    r.layers("trace.overhead_pct") = (100.0 * (traced - untraced) / untraced, "%")
  }

  /** Process-level figures every run reports, read at its end. */
  def finish(r: Report, a: Main.Args): Unit = {
    val rss = Jvm.peakRssMb
    r.e2e("peak_rss_mb") = (rss, "MB")
    r.layers("jvm.gc_ms") = (Jvm.gcMs.toDouble, "ms")
    r.layers("jvm.peak_heap_mb") = (Jvm.peakHeapMb, "MB")
    r.layers("jvm.peak_rss_mb") = (rss, "MB")
    r.layers("env.disk_mbps") = (Jvm.diskMbps(a.work), "MB/s")
    r.layers("run.failed_frac") = (r.failed.toDouble / math.max(r.attempted, 1L), "ratio")
    r.record("disk_mbps") = f"${r.layers("env.disk_mbps")._1}%.0f"
    r.record("cpu_probe_ms") = f"${Jvm.cpuProbeMs}%.1f"
  }
}
