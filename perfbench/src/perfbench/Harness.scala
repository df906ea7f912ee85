package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.sources.Sinks

/** Closed-loop benchmark driver: one client runs a workload's queries
  * one after another on `local[cpus]`, in a fresh JVM per workload.
  *
  *   --mode oracle  writes `SparkEntry.oracleSql` for every workload
  *                  query to `--out` (used to derive expected results).
  *   --mode run     set-up, then passes for `--seconds` (untraced, or
  *                  alternating untraced/traced with `--trace 1`).
  *
  * The untimed warm-up pass writes each noop query's output under
  * `<work>/check/<query>` instead of discarding it; after the timed
  * passes, each publish query's table as the last pass wrote it is read
  * back to the same place. run.py compares them with expected results.
  *
  * Protocol: every record for run.py is one stdout line starting with
  * `PERFBENCH ` followed by a JSON object; Spark logs go to stderr.
  */
object Harness {

  /** A workload query; `partitionBy` is set for publish queries, which
    * write through `Sinks` instead of materializing to a noop sink.
    */
  final case class Query(name: String, partitionBy: Option[Seq[String]] = None)

  /** Each workload's queries, one pass = each of them once. The lists
    * are sized so that set-up plus a run fits the benchmark's budget on
    * a 4-core host (see perfbench/README.md).
    */
  val workloads: Map[String, Seq[Query]] = Map(
    // The paper's ETL: harvest merge -> dedupe -> distill to a noop
    // sink, then the publish step of the publications report through
    // real writes (partitioned parquet, read back, gzipped CSV download
    // of the read-back). Short plans, so driver-side construction,
    // schema inference included, is a large share.
    "rialto_etl" -> Seq(
      Query("q_harvest_merge"), Query("q_dedupe_keep_newest"), Query("q_distill_fields"),
      Query("q_report_publications", Some(Seq("pub_year")))),
    // Driver loops with eager checkpoints: peel until stable, label
    // propagation until stable, fixed-round power iteration.
    // q_adamic_adar is left out: its oracle returns 0 rows on the
    // benchmark data, so its output check would be vacuous.
    // q_bpe_learn is left out: it has no oracle.
    "iterative_ops" -> Seq("q_kcore", "q_components", "q_hits").map(Query(_))
  )

  private implicit val formats: Formats = DefaultFormats

  private def emit(fields: (String, Any)*): Unit = {
    println("PERFBENCH " + Serialization.write(fields.toMap))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts("mode") match {
      case "oracle" =>
        val names = workloads.values.flatten.map(_.name).toSeq.distinct.sorted
        val oracles = SparkEntry.oracleSql
        Files.writeString(Paths.get(opts("out")),
          Serialization.write(names.map(n => n -> oracles.getOrElse(n, null)).toMap))
      case "run" => new Run(opts).execute()
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** Seeded query order of pass `pass`: the same seed gives the same
    * sequence of orders.
    */
  def order(queries: Seq[Query], seed: Long, pass: Int): Seq[Query] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  /** Union length of [start, end) intervals, in the intervals' unit. */
  def covered(intervals: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** One Spark job as the traced pass saw it (times in epoch ms). */
  final class JobRec(val id: Int, val pass: String, val query: String, val phase: String,
      val layer: String, val start: Double) {
    @volatile var end: Double = Double.NaN
  }

  /** Per-pass scheduler and task counters from the listener bus. */
  final class PassCounters {
    var stages = 0L
    var tasks = 0L
    var runNs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private def property(p: java.util.Properties, key: String): String =
    Option(p).flatMap(x => Option(x.getProperty(key))).orNull

  /** Scheduler and task counters of every pass, keyed by the pass's
    * `perfbench.pass` local property; listens to every pass, so it also
    * gives the untraced passes' executor CPU.
    */
  final class PassMeter extends SparkListener {
    private val counters = new ConcurrentHashMap[String, PassCounters]()
    private val stagePass = new ConcurrentHashMap[Int, String]()

    def apply(pass: String): PassCounters = Option(counters.get(pass)).getOrElse(new PassCounters)

    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
      val pass = property(ss.properties, "perfbench.pass")
      if (pass != null) {
        stagePass.put(ss.stageInfo.stageId, pass)
        val c = counters.computeIfAbsent(pass, _ => new PassCounters)
        c.synchronized { c.stages += 1 }
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val pass = stagePass.get(te.stageId)
      val m = te.taskMetrics
      if (pass != null && m != null) {
        val c = counters.computeIfAbsent(pass, _ => new PassCounters)
        c.synchronized {
          c.tasks += 1
          c.runNs += m.executorRunTime * 1000000L
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
        }
      }
    }
  }

  /** Job listener of the traced passes. Each job is attributed to
    * exactly one layer from the phase it ran in and its call site:
    * a call site in `graft.sources` goes to sources, one in
    * `graft.operators` to operators, any other job to its phase's layer.
    */
  final class Tracer extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = js.properties
      val phase = property(p, "perfbench.phase")
      val site = if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).details
      jobs.put(js.jobId, new JobRec(js.jobId, property(p, "perfbench.pass"),
        property(p, "perfbench.query"), phase, layerOf(phase, site), js.time.toDouble))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.end = je.time.toDouble)
  }

  /** Layer of the phase a job ran in, for jobs whose call site is in
    * neither `graft.sources` nor `graft.operators`. Construction-time
    * jobs (e.g. broadcasts an eager checkpoint starts) are operators.
    */
  private val phaseLayer = Map(
    "build" -> "operators", "plan" -> "plans", "exec" -> "spark",
    "write" -> "sources", "readback" -> "sources")

  def layerOf(phase: String, callSite: String): String = {
    val user = callSite.linesIterator.map(_.trim)
      .find(f => f.startsWith("graft.") || f.startsWith("perfbench."))
      .getOrElse("")
    if (phase == null) null
    else if (user.startsWith("graft.sources.")) "sources"
    else if (user.startsWith("graft.operators.")) "operators"
    else phaseLayer.getOrElse(phase, null)
  }

  /** A timed interval of the traced pass (epoch ms). */
  final case class Span(id: Int, parent: Int, name: String, query: String, start: Double, end: Double)

  private final class Run(opts: Map[String, String]) {
    private val workload = opts("workload")
    private val queries = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    private val data = opts("data")
    private val seed = opts("seed").toLong
    private val seconds = opts("seconds").toDouble
    private val traced = opts.getOrElse("trace", "0") == "1"
    private val work = Paths.get(opts("work")).toAbsolutePath
    private val cpus = opts("cpus").toInt
    private val outDir = work.resolve("out")

    private var spark: SparkSession = _
    private def sc: SparkContext = spark.sparkContext
    private val meter = new PassMeter
    private var tracer: Tracer = _
    private var attempted = 0L
    private val failures = mutable.ArrayBuffer.empty[String]
    private val queryWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    // epoch-ms clock for spans, on the same base as listener event times
    private val epochMs0 = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    private def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

    private val spans = mutable.ArrayBuffer.empty[Span]
    private def span(parent: Int, name: String, query: String, start: Double, end: Double): Int = {
      val id = spans.size + 1
      spans += Span(id, parent, name, query, start, end)
      id
    }

    def execute(): Unit = {
      val c0 = System.nanoTime()
      spark = GraftSession.builder(s"local[$cpus]", cpus)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      val createS = (System.nanoTime() - c0) / 1e9
      sc.setLogLevel("ERROR")
      sc.addSparkListener(meter)

      runPass("w0", order(queries, seed, 0), None, warmup = true)
      emit("event" -> "setup_done", "create_s" -> createS)

      val untracedWalls = mutable.ArrayBuffer.empty[Double]
      val cpuPerPass = mutable.ArrayBuffer.empty[Double]
      val tracedPasses = mutable.ArrayBuffer.empty[(String, Double, Map[String, Double])]
      if (traced) tracer = new Tracer
      val t0 = System.nanoTime()
      var pass = 1
      def elapsed = (System.nanoTime() - t0) / 1e9
      // traced runs alternate traced (odd) and untraced (even) passes and
      // end with at least two traced passes and one untraced
      while (elapsed < seconds || (traced && (tracedPasses.size < 2 || untracedWalls.isEmpty))) {
        if (traced && pass % 2 == 1) {
          val id = s"t$pass"
          val (wall, _) = runPass(id, order(queries, seed, pass), Some(id))
          tracedPasses += ((id, wall, layerMetrics(id, wall, createS)))
        } else {
          val (wall, cpu) = runPass(s"u$pass", order(queries, seed, pass), None)
          untracedWalls += wall
          cpuPerPass += cpu
        }
        pass += 1
      }
      checkPublished()

      val fields = mutable.ArrayBuffer[(String, Any)](
        "event" -> "result",
        "workload" -> workload,
        "queries" -> queries.map(_.name).sorted,
        "published" -> queries.filter(_.partitionBy.isDefined).map(_.name).sorted,
        "pass_s" -> untracedWalls.toSeq,
        "cpu_s" -> cpuPerPass.toSeq,
        "attempted" -> attempted,
        "failures" -> failures.toSeq,
        "peak_rss_mb" -> peakRssMb(),
        "spark_version" -> spark.version,
        "create_s" -> createS,
        "query_s" -> queryWalls.map { case (k, v) => k -> v.toSeq }.toMap)
      if (traced) {
        val (layers, repeatErrors) = summarize(tracedPasses.toSeq, untracedWalls.toSeq)
        fields += "layers" -> layers
        fields += "trace_errors" -> repeatErrors
        Files.writeString(work.resolve(s"trace-$workload.json"), traceJson(tracedPasses.toSeq))
      }
      emit(fields.toSeq: _*)
      spark.stop()
    }

    private def setPhase(phase: String, query: String): Unit = {
      sc.setLocalProperty("perfbench.phase", phase)
      sc.setLocalProperty("perfbench.query", query)
    }

    private def clearCaches(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Peak storage memory while the sampler runs (bytes). */
    private final class StorageSampler extends Thread("perfbench-storage-sampler") {
      setDaemon(true)
      @volatile var running = true
      val peak = new AtomicLong(0L)
      override def run(): Unit = while (running) {
        peak.accumulateAndGet(org.apache.spark.perfbridge.StorageMemory.usedBytes(), math.max)
        Thread.sleep(5)
      }
      def reset(): Unit = peak.set(org.apache.spark.perfbridge.StorageMemory.usedBytes())
    }

    private val queryStorage = mutable.Map.empty[String, mutable.Map[String, (Double, Double)]]

    /** One pass over `order`. Returns (wall s, executor cpu s). With a
      * trace id, records phase spans and per-query storage memory.
      */
    private def runPass(id: String, order: Seq[Query], traceId: Option[String],
        warmup: Boolean = false): (Double, Double) = {
      sc.setLocalProperty("perfbench.pass", id)
      org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
      // the tracer listens to traced passes only
      if (traceId.isDefined) sc.addSparkListener(tracer)
      val sampler = traceId.map(_ => new StorageSampler)
      sampler.foreach(_.start())
      val storage = mutable.Map.empty[String, (Double, Double)]
      val passStart = nowMs()
      val passSpan = traceId.map(_ => span(0, "pass", id, passStart, Double.NaN))
      val w0 = System.nanoTime()
      order.foreach { q =>
        attempted += 1
        sampler.foreach(_.reset())
        val qStart = nowMs()
        val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
        def timed[T](phase: String)(f: => T): T = {
          setPhase(phase, q.name)
          val s = nowMs()
          try f finally phases += ((phase, s, nowMs()))
        }
        try {
          val df = timed("build")(SparkEntry.queries(q.name)(spark, data))
          timed("plan")(df.queryExecution.executedPlan)
          q.partitionBy match {
            case None if warmup =>
              df.write.mode("overwrite").parquet(checkDir(q.name))
            case None => timed("exec")(df.queryExecution.toRdd.foreach(_ => ()))
            case Some(cols) =>
              // the publish step: partitioned parquet, read back, and
              // the boolean-formatted gzipped CSV download of the read-back
              timed("write")(Sinks.writePartitioned(df, tableDir(q.name), cols))
              val back = timed("readback")(spark.read.parquet(tableDir(q.name)))
              timed("write")(Sinks.writeCsvDownload(Sinks.boolFormatted(back), csvDir(q.name)))
          }
        } catch {
          case e: Throwable =>
            failures += s"$id:${q.name}"
            System.err.println(s"[perfbench] $id ${q.name} failed: $e")
        } finally {
          setPhase(null, null)
          sampler.foreach { sm =>
            val retained = org.apache.spark.perfbridge.StorageMemory.usedBytes()
            storage(q.name) = (sm.peak.get() / 1048576.0, retained / 1048576.0)
          }
          clearCaches()
          queryWalls.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += (nowMs() - qStart) / 1000
          passSpan.foreach { p =>
            val qs = span(p, "query", q.name, qStart, nowMs())
            phases.foreach { case (ph, s, e) => span(qs, ph, q.name, s, e) }
          }
        }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      passSpan.foreach(p => spans(p - 1) = spans(p - 1).copy(end = nowMs()))
      sampler.foreach(_.running = false)
      traceId.foreach(t => queryStorage(t) = storage)
      sc.setLocalProperty("perfbench.pass", null)
      org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
      if (traceId.isDefined) sc.removeSparkListener(tracer)
      (wall, meter(id).cpuNs / 1e9)
    }

    private def tableDir(name: String) = outDir.resolve(name).resolve("table").toString
    private def csvDir(name: String) = outDir.resolve(name).resolve("csv").toString

    private def checkDir(name: String) = work.resolve("check").resolve(name).toString

    /** Untimed: each publish query's table, as the last pass wrote it,
      * read back from disk and written as parquet under `<work>/check`.
      */
    private def checkPublished(): Unit =
      queries.filter(_.partitionBy.isDefined).foreach { q =>
        attempted += 1
        try spark.read.parquet(tableDir(q.name)).write.mode("overwrite").parquet(checkDir(q.name))
        catch {
          case e: Throwable =>
            failures += s"check:${q.name}"
            System.err.println(s"[perfbench] check ${q.name} failed: $e")
        } finally clearCaches()
      }

    /** Part files and their bytes under the publish output directory. */
    private def outputFiles(): (Long, Long) =
      if (!Files.exists(outDir)) (0L, 0L)
      else {
        val s = Files.walk(outDir)
        try {
          val parts = s.iterator().asScala
            .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
            .map(Files.size).toSeq
          (parts.size.toLong, parts.sum)
        } finally s.close()
      }

    /** Per-layer metrics of traced pass `id` with wall `wall` seconds. */
    private def layerMetrics(id: String, wall: Double, createS: Double): Map[String, Double] = {
      val passSpans = {
        val root = spans.find(s => s.name == "pass" && s.query == id).get
        val queriesIn = spans.filter(_.parent == root.id).map(_.id).toSet
        spans.filter(s => queriesIn(s.parent)).toSeq
      }
      val jobs = tracer.jobs.values.asScala.filter(_.pass == id).toSeq
      val unattributed = jobs.count(j => j.layer == null || j.end.isNaN)
      def iv(js: Seq[JobRec]) = js.filter(!_.end.isNaN).map(j => (j.start, j.end))
      def phaseWall(p: String) = passSpans.filter(_.name == p).map(s => s.end - s.start).sum / 1000
      val build = jobs.filter(_.phase == "build")
      val schema = build.filter(_.layer == "sources")
      val eager = build.filter(_.layer == "operators")
      val buildSelf = passSpans.filter(_.name == "build").map { s =>
        val inside = build.filter(_.query == s.query)
          .map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).filter(x => x._2 > x._1)
        (s.end - s.start) - covered(inside)
      }.sum / 1000
      val c = meter(id)
      val (files, bytes) = outputFiles()
      val storage = queryStorage(id).values
      val mb = 1048576.0
      Map(
        "GraftSession.create_s" -> createS,
        "SparkEntry.build_s" -> phaseWall("build"),
        "SparkEntry.build_self_s" -> buildSelf,
        "SparkEntry.build_jobs" -> build.size.toDouble,
        "sources.schema_jobs" -> schema.size.toDouble,
        "sources.schema_s" -> covered(iv(schema)) / 1000,
        "sources.write_s" -> phaseWall("write"),
        "sources.readback_s" -> phaseWall("readback"),
        "sources.files_written" -> (if (queries.exists(_.partitionBy.isDefined)) files.toDouble else 0.0),
        "sources.bytes_written_mb" -> (if (queries.exists(_.partitionBy.isDefined)) bytes / mb else 0.0),
        "operators.eager_jobs" -> eager.size.toDouble,
        "operators.eager_s" -> covered(iv(eager)) / 1000,
        "operators.storage_peak_mb" -> storage.map(_._1).maxOption.getOrElse(0.0),
        "operators.retained_mb" -> storage.map(_._2).maxOption.getOrElse(0.0),
        "plans.plan_s" -> phaseWall("plan"),
        "spark.exec_s" -> phaseWall("exec"),
        "spark.exec_jobs" -> jobs.count(_.layer == "spark").toDouble,
        "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.task_run_s" -> c.runNs / 1e9,
        "spark.task_wait_frac" -> (if (c.runNs > 0) 1.0 - c.cpuNs.toDouble / c.runNs else 0.0),
        "spark.busy_frac" -> c.runNs / 1e9 / (wall * cpus),
        "spark.driver_only_s" -> math.max(0.0, wall - covered(iv(jobs)) / 1000),
        "spark.shuffle_write_mb" -> c.shuffleWrite / mb,
        "spark.shuffle_read_mb" -> c.shuffleRead / mb,
        "spark.spill_mb" -> c.spill / mb,
        "spark.gc_s" -> c.gcMs / 1000.0,
        "trace.jobs" -> jobs.size.toDouble,
        "trace.unattributed_jobs" -> unattributed.toDouble)
    }

    /** Counts that must repeat exactly between traced passes. */
    private val exactCounts = Seq("SparkEntry.build_jobs", "sources.schema_jobs",
      "operators.eager_jobs", "spark.exec_jobs", "spark.stages", "spark.tasks",
      "sources.files_written", "trace.jobs")

    /** Medians over the traced passes plus the tracing overhead; also
      * returns every reason the traced run is invalid.
      */
    private def summarize(passes: Seq[(String, Double, Map[String, Double])],
        untraced: Seq[Double]): (Map[String, Double], Seq[String]) = {
      def median(xs: Seq[Double]) = { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
      val keys = passes.head._3.keys
      val med = keys.map(k => k -> median(passes.map(_._3(k)))).toMap
      val errors = mutable.ArrayBuffer.empty[String]
      exactCounts.foreach { k =>
        val vs = passes.map(_._3(k)).distinct
        if (vs.size > 1) errors += s"$k differs between traced passes: ${vs.mkString(",")}"
      }
      passes.foreach { case (id, _, m) =>
        if (m("trace.unattributed_jobs") > 0) errors += s"$id: ${m("trace.unattributed_jobs").toLong} jobs unattributed"
      }
      val overhead = median(passes.map(_._2)) - median(untraced)
      (med + ("trace.overhead_s" -> overhead), errors.toSeq)
    }

    /** Spans of the traced passes, each with its self time, and their
      * Spark jobs as children of the phase span they ran in.
      */
    private def traceJson(passes: Seq[(String, Double, Map[String, Double])]): String = {
      val ids = passes.map(_._1).toSet
      def passOf(s: Span): String = if (s.parent == 0) s.query else passOf(spans(s.parent - 1))
      val phases = spans.filter(s => s.name != "pass" && s.name != "query").toSeq
      val jobs = tracer.jobs.values.asScala.filter(j => ids(j.pass)).toSeq.sortBy(_.id)
      // job times are whole milliseconds: a job belongs to the last
      // phase span of its pass, query and phase that began before it
      val jobParent = jobs.map { j =>
        j.id -> phases.filter(s => s.name == j.phase && s.query == j.query && passOf(s) == j.pass &&
          s.start <= j.start + 1).lastOption.map(_.id).getOrElse(0)
      }.toMap
      val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(s => (s.start, s.end)).toSeq } ++
        jobs.groupBy(j => jobParent(j.id)).map { case (k, v) => k -> v.map(j => (j.start, j.end)).toSeq }
      val spanRows = spans.filter(s => ids(passOf(s))).map { s =>
        val inside = children.getOrElse(s.id, Nil)
          .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }.filter(x => x._2 > x._1)
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
          "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> ((s.end - s.start) - covered(inside)))
      }
      val jobRows = jobs.map { j =>
        Map("job" -> j.id, "pass" -> j.pass, "query" -> j.query, "phase" -> j.phase,
          "layer" -> j.layer, "parent" -> jobParent(j.id), "start_ms" -> j.start, "end_ms" -> j.end)
      }
      Serialization.write(Map("workload" -> workload, "spans" -> spanRows.toSeq, "jobs" -> jobRows))
    }

    private def peakRssMb(): Double = {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024
    }
  }
}
