package graftbench

import java.io.{BufferedWriter, FileWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, ScaleGen, SparkEntry, Tables}
import graft.queries.{DataPipelineQueries, PipelineQueries, RelationalQueries, StreamingQueries}

/** JVM half of the benchmark: runs one workload closed-loop (each
  * operation starts when the previous one returns) and writes raw
  * records as JSON lines; `run.py` turns them into metrics.
  *
  * Run order: session start, corpus generation (corpus_dedup), two
  * untimed warm-up passes (a cold one that stages stream batches and
  * builds the tmpdir-keyed index caches, then one that lets the JIT
  * settle), then timed passes until `seconds` have elapsed (at least
  * three), each bracketed by a calibration loop. With `trace=1`, half
  * of the timed passes run with the Spark and query execution listeners
  * attached, and the layer records come from those passes only. The
  * streaming listener stays attached throughout, because trigger
  * durations are also end-to-end figures of the stream workload.
  * Finally one full collection measures the live heap, and each
  * operation's last result is written to parquet for the oracle check,
  * both outside the timed window.
  *
  * Usage: Runner workload seed seconds trace dataDir resultsDir rawOut
  *        cpus corpusDocs
  */
object Runner {

  /** Operation sets, fixed per workload: a seed only permutes order.
    * The sf01 sets are drawn from a traced pass over the full registry:
    * one query per wall-time stratum, nearest the registry's median
    * Catalyst share and jobs per query; on batch, with both index
    * families' reads and every query module (README.md has the rule and
    * the figures). */
  val Batch: Seq[String] = Seq(
    "q6_antijoin", "vpe_killlist", "dedup_index_clusters",
    "ann_index_filtered", "dedup_span_ngrams")
  val Stream: Seq[String] = Seq("stream_completion", "stream_session_agg")
  val Corpus: Seq[String] = Seq(
    "dedup_exact", "dedup_neardup_pairs", "dedup_clusters",
    "dedup_span_ngrams", "dedup_embed_neardup", "ann_ivf_topk",
    "text_tfidf_terms")

  private val OpKey = "graftbench.op"

  // ---- clock and raw-record sink ------------------------------------

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var out: BufferedWriter = _
  @volatile private var lastEvent = System.nanoTime()

  def emit(fields: (String, Any)*): Unit = synchronized {
    lastEvent = System.nanoTime()
    out.write(Json(fields.toMap)); out.write('\n')
  }

  object Json {
    def apply(v: Any): String = v match {
      case null => "null"
      case s: String => quote(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case m: Map[_, _] =>
        m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case o: Option[_] => o.map(apply).getOrElse("null")
      case other => quote(other.toString)
    }
    private def quote(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }

  // ---- listeners ------------------------------------------------------

  /** Jobs, stages and task metrics, keyed by the operation property the
    * runner sets on its thread (stream threads inherit it). */
  final class JobTrace extends SparkListener {
    private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val sums = scala.collection.mutable.Map[String, Array[Double]]()
    private def opOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit =
      emit("k" -> "job_start", "job" -> e.jobId, "t" -> e.time, "op" -> opOf(e.properties),
        "site" -> e.stageInfos.map(_.name).headOption
          .orElse(Option(e.properties).map(_.getProperty("spark.job.description"))).orNull,
        "stages" -> e.stageInfos.size)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("k" -> "job_end", "job" -> e.jobId, "t" -> e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageOp.put(e.stageInfo.stageId, opOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      emit("k" -> "stage", "stage" -> e.stageInfo.stageId,
        "op" -> stageOp.getOrDefault(e.stageInfo.stageId, ""), "tasks" -> e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        val a = sums.getOrElseUpdate(stageOp.getOrDefault(e.stageId, ""), new Array[Double](9))
        val add = Array[Double](1, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead)
        for (i <- a.indices) a(i) += add(i)
        lastEvent = System.nanoTime()
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        emit("k" -> "sql_start", "id" -> s.executionId, "t" -> s.time)
      case s: SparkListenerSQLExecutionEnd =>
        emit("k" -> "sql_end", "id" -> s.executionId, "t" -> s.time)
      case _ =>
    }
    def flush(): Unit = synchronized {
      val names = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write", "shuffle_read",
        "spill", "in_bytes", "in_rows")
      sums.foreach { case (op, a) => emit((("k" -> "tasks") +: ("op" -> op) +: names.zip(a.toSeq)): _*) }
      sums.clear()
    }
  }

  /** Catalyst phase spans of every action's QueryExecution. */
  final class PhaseTrace extends QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
      emit("k" -> "qe", "phases" -> ph)
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  /** Per-trigger progress of every stream query. */
  final class StreamTrace extends StreamingQueryListener {
    import StreamingQueryListener._
    private def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      emit("k" -> "progress", "run" -> p.runId.toString, "t" -> ms(p.timestamp),
        "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "rows" -> p.numInputRows, "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Wait until no listener event arrived for `quietMs` (bounded), so a
    * listener is not detached while its pass's events are still queued. */
  private def quiesce(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val start = System.nanoTime()
    while ((System.nanoTime() - lastEvent) / 1e6 < quietMs && (System.nanoTime() - start) / 1e6 < maxMs)
      Thread.sleep(25)
  }

  /** Fixed single-thread integer loop (xorshift64, 2^25 steps): its
    * elapsed time varies only with how much of a core the process got. */
  def calibrationMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 25)) { x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 0) System.err.println("unreachable")
    dt
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, resultsDir, rawOut, cpusS, docsS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val ops = workload match {
      case "sf01_batch" => Batch
      case "sf01_stream" => Stream
      case "corpus_dedup" => Corpus
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out = new BufferedWriter(new FileWriter(rawOut))
    val modules = Seq("relational" -> RelationalQueries.queries, "pipeline" -> PipelineQueries.queries,
      "datapipeline" -> DataPipelineQueries.queries, "streaming" -> StreamingQueries.queries)
      .flatMap { case (m, qs) => ops.filter(qs.contains).map(_ -> m) }.toMap
    emit("k" -> "start", "modules" -> modules)

    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    if (workload == "corpus_dedup") {
      val n = docsS.toLong
      ScaleGen.ensure(spark, dataDir, nDocs = n, nVecs = n / 2, nEvents = n * 2)
      emit("k" -> "corpus", "docs" -> n)
    }

    val streams = new StreamTrace
    spark.streams.addListener(streams)
    val jobs = new JobTrace
    val phases = new PhaseTrace

    // corpus_dedup clears the cache before each operation (as ScaleBench
    // does), so each pass pays execution; the sf01 workloads keep it (as
    // graft.Bench does)
    val clearCache = workload == "corpus_dedup"
    val last = scala.collection.mutable.Map[String, DataFrame]()
    def runOp(name: String, pass: Int): Unit = {
      val tag = s"$name#$pass"
      sc.setLocalProperty(OpKey, tag)
      sc.setJobGroup(tag, name)
      if (clearCache) spark.catalog.clearCache()
      val t0 = now()
      var tb = t0
      val err = try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        tb = now()
        df.write.format("noop").mode("overwrite").save()
        last(name) = df
        null
      } catch { case e: Throwable =>
        System.err.println(s"[graftbench] $name failed: $e")
        last.remove(name)
        String.valueOf(e.getMessage).take(300)
      }
      emit("k" -> "op", "name" -> name, "pass" -> pass, "t0" -> t0, "tb" -> tb, "t1" -> now(),
        "error" -> err)
      sc.clearJobGroup()
      sc.setLocalProperty(OpKey, null)
    }
    def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(ops)

    // untimed warm-up: pass -1 is cold (JIT, codegen, stream staging,
    // index caches); pass 0 runs about 15% slow while the JIT settles
    for (w <- Seq(-1, 0)) order(w).foreach(runOp(_, w))

    val tFirst = now()
    emit("k" -> "first_timed", "t" -> tFirst)
    var pass = 1
    // at least three timed passes; when tracing, at least four in the
    // order plain, traced, traced, plain, so that drift cancels in the
    // traced-vs-plain overhead
    while (pass <= (if (trace) 4 else 3) || now() - tFirst < seconds * 1000) {
      val traced = trace && pass % 4 / 2 == 1
      if (traced) {
        sc.addSparkListener(jobs); spark.listenerManager.register(phases)
      }
      val calPre = calibrationMs()
      val t0 = now()
      order(pass).foreach(runOp(_, pass))
      val t1 = now()
      val calPost = calibrationMs()
      if (traced) {
        quiesce()
        sc.removeSparkListener(jobs); spark.listenerManager.unregister(phases)
        jobs.flush()
      }
      emit("k" -> "pass", "pass" -> pass, "traced" -> traced, "t0" -> t0, "t1" -> t1,
        "cal_pre_ms" -> calPre, "cal_post_ms" -> calPost)
      pass += 1
    }

    // live heap after the timed passes: a full collection, so the figure
    // does not depend on where G1 grew the heap. Only once, at the end:
    // G1 shrinks the heap after a full collection, and a pass after one
    // ran up to 50% slower.
    System.gc()
    emit("k" -> "heap", "live_mb" ->
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)

    if (trace) functionTimings(spark, dataDir)

    // oracle inputs: each operation's last result, written outside the
    // timed window; run.py compares them with the DuckDB twins
    sc.setLocalProperty(OpKey, "check")
    val oracles = SparkEntry.oracleSql
    ops.foreach { name =>
      val path = Paths.get(resultsDir, name).toString
      val err = last.get(name) match {
        case None => "no result"
        case Some(df) => try { df.write.mode("overwrite").parquet(path); null }
          catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
      }
      emit("k" -> "result", "name" -> name, "path" -> path, "oracle" -> oracles.get(name).orNull,
        "error" -> err)
    }
    quiesce()
    spark.streams.removeListener(streams)
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    emit("k" -> "end", "vmhwm_kb" -> hwm)
    out.close()
    spark.stop()
  }

  /** One SQL call per engine function over the workload's documents or
    * embeddings, to the noop sink; median of three. */
  private def functionTimings(spark: SparkSession, dataDir: String): Unit = {
    Tables.documents(spark, dataDir).createOrReplaceTempView("gb_docs")
    Tables.embeddings(spark, dataDir).createOrReplaceTempView("gb_vecs")
    val calls = Seq(
      "shingle_hash32" -> "SELECT shingle_hash32(text, 5) AS h FROM gb_docs",
      "minhash_sigs" -> "SELECT minhash_sigs(shingle_hash32(text, 5)) AS s FROM gb_docs",
      "simhash64" -> "SELECT simhash64(token_hash64(text)) AS s FROM gb_docs",
      "cosine_sim" -> ("SELECT cosine_sim(CAST(v.embedding AS ARRAY<DOUBLE>), " +
        "CAST(q.embedding AS ARRAY<DOUBLE>)) AS c FROM gb_vecs v " +
        "CROSS JOIN (SELECT embedding FROM gb_vecs WHERE vec_id = 0) q"))
    calls.foreach { case (fn, sql) =>
      val times = (0 until 3).map { _ =>
        val t0 = now()
        spark.sql(sql).write.format("noop").mode("overwrite").save()
        (now() - t0) / 1000
      }.sorted
      emit("k" -> "function", "name" -> fn, "s" -> times(1))
    }
  }
}
