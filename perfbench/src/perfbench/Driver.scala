package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one driver JVM: a warm-up pass that also dumps each
  * oracle-backed result for the check, then timed closed-loop passes (one
  * client, queries back to back, each result into the `noop` sink), half of
  * them traced when asked.
  *
  * The driver only records raw observations — query windows, pass windows,
  * and in traced passes the Spark listener events — and writes them as JSON
  * lines when it ends. All arithmetic on them lives in `perfbench/metrics.py`,
  * where it is unit-tested.
  *
  * Arguments (all required, `--key value`):
  *   --data DIR       table directory handed to every query builder
  *   --run DIR        fresh per-run directory (artifacts, results, events)
  *   --queries a,b,c  the workload list
  *   --seed N         permutes the list afresh for every pass
  *   --passes N       timed passes; a traced run makes at least four
  *   --trace 0|1      1: alternate untraced and traced passes and add the
  *                    per-layer observations
  *
  * The launcher (`perfbench/run.py`) points `java.io.tmpdir` into the run
  * dir, which also holds streaming checkpoints, stage dirs and the tables
  * that write-path queries create.
  */
object Driver {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val runDir = opt("run")
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val rng = new scala.util.Random(opt("seed").toLong)

    val out = new Events
    val spark = Session.build(runDir)
    val sc = spark.sparkContext
    val registry = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql

    /** One query, timed from the builder call until the sink finishes. */
    def runQuery(phase: String, pass: Int, idx: Int, name: String): Unit = {
      val qid = s"$phase.$pass.$idx"
      sc.setLocalProperty(Recorder.QidKey, qid)
      val t0 = Clock.nowMs
      var tb = Double.NaN
      var err: String = null
      // The warm-up run of an oracle-backed query writes its result for the
      // check instead of discarding it.
      val dump = if (phase == "warm" && oracles.contains(name)) s"$runDir/results/$name" else null
      try {
        val df = registry(name)(spark, data)
        tb = Clock.nowMs
        if (dump == null) df.write.format("noop").mode("overwrite").save()
        else df.coalesce(1).write.mode("overwrite").parquet(dump)
      } catch { case e: Throwable => err = String.valueOf(e.getMessage).take(300) }
      val t1 = Clock.nowMs
      sc.setLocalProperty(Recorder.QidKey, null)
      if (dump != null)
        out.add("type" -> "check", "name" -> name, "dir" -> dump, "ok" -> (err == null), "err" -> err)
      // Queries that persist() intermediates must not leak them into later
      // measurements (the same rule graft.Bench follows).
      spark.catalog.clearCache()
      out.add("type" -> "query", "phase" -> phase, "pass" -> pass, "idx" -> idx,
        "qid" -> qid, "name" -> name, "t0" -> t0,
        "tb" -> (if (tb.isNaN) t1 else tb), "t1" -> t1,
        "ok" -> (err == null), "err" -> err)
    }

    def runPass(phase: String, pass: Int): Unit = {
      val t0 = Clock.nowMs
      rng.shuffle(names).zipWithIndex.foreach { case (n, i) => runQuery(phase, pass, i, n) }
      out.add("type" -> "pass", "phase" -> phase, "pass" -> pass, "t0" -> t0, "t1" -> Clock.nowMs)
    }

    out.add("type" -> "ready", "t" -> Clock.nowMs)
    out.add("type" -> "env", "cores" -> sc.defaultParallelism,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version, "java_version" -> sys.props("java.version"),
      "conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    names.sorted.foreach { n =>
      out.add("type" -> "oracle", "name" -> n, "sql" -> oracles.getOrElse(n, null))
    }

    // Warm-up: fills the artifact registry and the JIT, and dumps the results
    // the oracle check compares. Counts toward set-up.
    runPass("warm", 0)

    out.add("type" -> "timed", "t" -> Clock.nowMs)
    // A traced run alternates untraced and traced passes as U T T U, so JIT
    // warming between passes does not bias trace.overhead_frac.
    if (!traced) (0 until passes).foreach(runPass("timed", _))
    else (0 until passes.max(4)).foreach { i =>
      if (i % 4 == 1 || i % 4 == 2) {
        val rec = Recorder.attach(spark, out)
        runPass("traced", i)
        rec.detach()
      } else runPass("timed", i)
    }
    out.add("type" -> "timed_end", "t" -> Clock.nowMs)
    // After every timed figure, so none of them pays for the full collection.
    out.add("type" -> "heap", "live_bytes" -> Session.liveHeapBytes())
    if (traced) TableProbe.run(spark, data, out)

    out.add("type" -> "rss", "vm_hwm_kb" -> Session.vmHwmKb())
    Session.stop(spark)
    out.add("type" -> "stopped", "t" -> Clock.nowMs)
    out.write(s"$runDir/events.jsonl")
  }
}

/** Epoch milliseconds with sub-millisecond resolution (one nanoTime anchor). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory JSON-lines buffer, written once when the run ends. */
final class Events {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def add(fields: (String, Any)*): Unit = lines.add(Json.obj(fields))

  def write(path: String): Unit =
    Files.write(Paths.get(path), lines.asScala.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
}

object Json {
  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Session bootstrap with every writable location pinned under the run dir.
  * Streaming checkpoints and stage directories are temp dirs under
  * `java.io.tmpdir`, which the launcher points into the run dir; a fixed
  * `spark.sql.streaming.checkpointLocation` would make the second drain of a
  * memory-sink query try to resume the first one's checkpoint. */
object Session {
  def build(runDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/tmp/hadoop")
      .config("spark.graft.artifacts.root", s"$runDir/artifacts")
      // The oracle defaults of the refresh gates (graft.Verify pins the same).
      .config("spark.graft.ann.refreshFactorMicro", "0")
      .config("spark.graft.bpe.refreshCptMicro", Long.MaxValue.toString)
      .config("spark.graft.bpe.refreshPsiMicro", "-1")
      .config("spark.graft.lr.refreshPsiMicro", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bytes of live objects on the heap — what the program keeps — from the
    * class histogram the JVM takes after a full collection. (The collector's
    * own count of used heap is region-grained.) Each collection lets Spark's
    * ContextCleaner see shuffles, broadcasts and RDDs no query holds any
    * more; dropping one can release the next, so the histogram is retaken
    * until two readings agree. */
  def liveHeapBytes(): Long = {
    def histogramTotal(): Long = {
      val h = java.lang.management.ManagementFactory.getPlatformMBeanServer.invoke(
        new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
        "gcClassHistogram", Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName))
        .asInstanceOf[String]
      h.linesIterator.find(_.startsWith("Total")).map(_.trim.split("\\s+")(2).toLong)
        .getOrElse(sys.error("the class histogram has no Total line"))
    }
    var prev = -1L
    var cur = histogramTotal()
    var rounds = 1
    while (math.abs(cur - prev) > SettledBytes && rounds < 20) {
      Thread.sleep(500)
      prev = cur
      cur = histogramTotal()
      rounds += 1
    }
    cur
  }

  private val SettledBytes = 256L * 1024

  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

  /** Unload state stores before the session goes, so RocksDB maintenance
    * does not race the teardown. */
  def stop(spark: SparkSession): Unit = {
    org.apache.spark.sql.perfbench.Bridge.stopStateStores()
    spark.stop()
  }
}

/** `tables.read_ms`: one `graft.Tables.t` call plus schema resolution. */
object TableProbe {
  val Reps = 3

  def run(spark: SparkSession, data: String, out: Events): Unit =
    graft.Tables.names.foreach { t =>
      val ms = (1 to Reps).map { _ =>
        val t0 = Clock.nowMs
        graft.Tables.t(spark, data, t).schema
        Clock.nowMs - t0
      }
      out.add("type" -> "table", "name" -> t, "ms" -> ms)
    }
}

/** Listeners for the traced half. Every Spark job carries the query id the
  * driver thread set as a local property; streaming threads inherit it.
  */
final class Recorder(spark: SparkSession, out: Events) {
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.util.QueryExecutionListener

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()

  val scheduler: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) {
        val p = Option(s.properties)
        def prop(k: String) = p.map(_.getProperty(k)).orNull
        out.add("type" -> "job", "id" -> e.jobId, "qid" -> prop(Recorder.QidKey),
          "stream_id" -> prop("sql.streaming.queryId"),
          "t0" -> s.time.toDouble, "t1" -> e.time.toDouble,
          "stages" -> s.stageIds, "ok" -> (e.jobResult == JobSucceeded))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.taskInfo.failed || e.reason != org.apache.spark.Success
      if (m == null) out.add("type" -> "task", "stage" -> e.stageId, "failed" -> failed)
      else out.add("type" -> "task", "stage" -> e.stageId, "attempt" -> e.stageAttemptId,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> m.diskBytesSpilled, "output" -> m.outputMetrics.bytesWritten,
        "failed" -> failed)
    }
  }

  val qe: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(funcName, qe)

    private def record(funcName: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      out.add("type" -> "qe", "func" -> funcName,
        "t0" -> (if (ph.isEmpty) Clock.nowMs else ph.values.map(_.startTimeMs).min.toDouble),
        "phases" -> ph.map { case (k, v) => k -> v.durationMs })
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      out.add("type" -> "stream_start", "run_id" -> e.runId.toString,
        "qid" -> spark.sparkContext.getLocalProperty(Recorder.QidKey), "t" -> Clock.nowMs)

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      out.add("type" -> "stream_progress", "run_id" -> p.runId.toString, "batch" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }

    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      out.add("type" -> "stream_end", "run_id" -> e.runId.toString, "t" -> Clock.nowMs)
  }

  def detach(): Unit = {
    org.apache.spark.sql.perfbench.Bridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(qe)
    spark.streams.removeListener(streams)
  }
}

object Recorder {
  val QidKey = "perfbench.qid"

  def attach(spark: SparkSession, out: Events): Recorder = {
    val r = new Recorder(spark, out)
    spark.sparkContext.addSparkListener(r.scheduler)
    spark.listenerManager.register(r.qe)
    spark.streams.addListener(r.streams)
    r
  }
}
