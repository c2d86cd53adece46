package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Closed-loop, single-client benchmark harness for a query registry.
  *
  * Every query run takes three timed steps:
  *  1. construction — the registry call `fn(spark, dir)`;
  *  2. planning — `executedPlan` of an order-independent digest of the
  *     result (`count(*)` and the sum of `xxhash64` over every output
  *     column; maps go through `to_json`, which Spark can hash);
  *  3. execution — collecting that digest.
  * The digest is checked against the expected row count and hash, so the
  * timed result is the complete one (a bare `count()` lets Catalyst prune
  * every projection the row count does not need).
  *
  * Usage: `perfbench.Harness <config.json>`; the config is written by
  * `run.py`. The result goes to the config's `out` file as JSON. */
object Harness {
  val TagKey = "perfbench.phase"

  final case class Config(workload: String, registry: String,
      queries: Seq[String], modules: Map[String, String],
      moduleNames: Seq[String], baseDir: String,
      workDir: String, tables: Seq[(String, Int)],
      expected: Map[String, (Long, String)], record: Boolean, seed: Long,
      passes: Int, trace: Boolean, cores: Int, setupReps: Int,
      queryTimeoutS: Double, deadlineS: Double, out: String,
      traceOut: String, meta: Map[String, String])

  final case class Run(pass: Int, query: String, startNs: Long,
      constructNs: Long, planNs: Long, execNs: Long, endNs: Long,
      rows: Long, digest: String, exchanges: Int, retained: Int,
      error: Option[String]) {
    def qid: String = s"$pass:$query"
    def ok: Boolean = error.isEmpty
    def wallS: Double = (endNs - startNs) / 1e9
    def constructS: Double = (constructNs - startNs) / 1e9
    def planS: Double = (planNs - constructNs) / 1e9
    def execS: Double = (execNs - planNs) / 1e9
  }

  def readConfig(path: String): Config = {
    val j = new ObjectMapper().readTree(new File(path))
    def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    def obj(n: JsonNode): Seq[(String, JsonNode)] =
      if (n == null || n.isNull) Nil
      else n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
    Config(
      workload = j.get("workload").asText,
      registry = j.get("registry").asText,
      queries = strs(j.get("queries")),
      modules = obj(j.get("modules")).map { case (k, v) => k -> v.asText }.toMap,
      moduleNames = strs(j.get("module_names")),
      baseDir = j.get("base_dir").asText,
      workDir = j.get("work_dir").asText,
      tables = obj(j.get("tables")).map { case (k, v) => k -> v.asInt },
      expected = obj(j.get("expected")).map { case (k, v) =>
        k -> (v.get("rows").asLong, v.get("digest").asText) }.toMap,
      record = j.path("record").asBoolean(false),
      seed = j.get("seed").asLong,
      passes = j.get("passes").asInt,
      trace = j.get("trace").asBoolean,
      cores = j.get("cores").asInt,
      setupReps = j.get("setup_reps").asInt,
      queryTimeoutS = j.get("query_timeout_s").asDouble,
      deadlineS = j.get("deadline_s").asDouble,
      out = j.get("out").asText,
      traceOut = j.get("trace_out").asText,
      meta = obj(j.get("meta")).map { case (k, v) => k -> v.asText }.toMap)
  }

  def registry(name: String): Map[String, (SparkSession, String) => DataFrame] =
    name match {
      case "graft" => graft.SparkEntry.queries
      case "fixtures" => Fixtures.queries
      case other => sys.error(s"unknown registry $other")
    }

  // ------------------------------------------------------------ digest
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** `count(*)` and the sum of a per-row `xxhash64` over every output
    * column: order-independent, and every column is computed. The sum runs
    * in decimal so it cannot overflow under ANSI mode. */
  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h: Column =
      if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("n"),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(BigDecimal(0)))
        .cast(DecimalType(38, 0)).as("h"))
  }

  object PlanCount extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int =
      collectWithSubqueries(p) { case e: Exchange => e }.size
  }

  // ------------------------------------------------------------ set-up
  /** Keys offset per replica, so every replica is a disjoint key universe
    * (a table without an entry cannot be replicated). */
  val ReplicaKeys: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))
  val ReplicaOffset = 1000000000L

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** Write every input table into `dst` as one parquet file, repeated its
    * replica count times, then read every column back once. */
  def buildInputs(spark: SparkSession, cfg: Config, dst: Path): Unit = {
    deleteTree(dst)
    Files.createDirectories(dst)
    cfg.tables.foreach { case (t, replicas) =>
      val src = spark.read.parquet(s"${cfg.baseDir}/$t.parquet")
      val out = if (replicas <= 1) src else {
        val keys = ReplicaKeys(t)
        (0 until replicas).map { i =>
          keys.foldLeft(src)((d, k) =>
            d.withColumn(k, col(k) + lit(i * ReplicaOffset)))
        }.reduce(_ unionAll _)
      }
      val tmp = dst.resolve(s".$t.tmp")
      out.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dst.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      deleteTree(tmp)
      val back = spark.read.parquet(dst.resolve(s"$t.parquet").toString)
      back.agg(sum(xxhash64(back.columns.map(col): _*).cast(DecimalType(38, 0))))
        .collect()
    }
  }

  def inputHeader(spark: SparkSession, dir: Path, tables: Seq[String])
      : Map[String, Any] = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(dir.resolve(s"$t.parquet").toString)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = r.getFooter.getBlocks.asScala
        t -> Map("rows" -> blocks.map(_.getRowCount).sum,
          "row_groups" -> blocks.size)
      } finally r.close()
    }.toMap
  }

  // ------------------------------------------------------------ helpers
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** (busy, steal) CPU seconds of the whole machine, from /proc/stat. */
  def cpuTimes(): (Double, Double) = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toDouble)
      ((v(0) + v(1) + v(2) + v(5) + v(6)) / 100.0, v.lift(7).getOrElse(0.0) / 100.0)
    } finally f.close()
  }.getOrElse((0.0, 0.0))

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => scala.util.Try(Files.size(f)).getOrElse(0L)).sum

  /** Stream scratch the program leaves behind (`graft_*` directories on
    * tmpfs, or under java.io.tmpdir when tmpfs is not writable). */
  def scratchDirs(): Set[Path] = Seq(Paths.get("/dev/shm"),
      Paths.get(System.getProperty("java.io.tmpdir"))).filter(Files.isDirectory(_))
    .flatMap(d => scala.util.Try(Files.list(d).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_stream")).toSeq)
      .getOrElse(Nil)).toSet

  // ------------------------------------------------------------ main
  def main(args: Array[String]): Unit = {
    val cfg = readConfig(args(0))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.workDir}/warehouse")
      .config("spark.local.dir", s"${cfg.workDir}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${cfg.workDir}/tmp")
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamProbe].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // set-up: build the inputs several times; the median is reported
    val work = Paths.get(cfg.workDir)
    val setupTimes = (0 until cfg.setupReps.max(1)).map { i =>
      val t0 = System.nanoTime()
      buildInputs(spark, cfg, work.resolve(s"inputs-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    (0 until cfg.setupReps.max(1) - 1).foreach(i => deleteTree(work.resolve(s"inputs-$i")))
    val inputDir = work.resolve(s"inputs-${cfg.setupReps.max(1) - 1}")
    val dir = inputDir.toString
    val setupS = sessionS + median(setupTimes)

    val sc = spark.sparkContext
    val probe = if (cfg.trace) {
      val p = new TraceProbe(TagKey); sc.addSparkListener(p); Some(p)
    } else None

    val fns = registry(cfg.registry)
    val missing = cfg.queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis().toDouble
    def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

    val recorded = mutable.Map.empty[String, (Long, String)]
    def runOnce(pass: Int, q: String): Run = {
      val qid = s"$pass:$q"
      val before = sc.getPersistentRDDs.keySet
      val marks = new Array[Long](4)
      var rows = -1L
      var digest = ""
      var exchanges = 0
      val work = Future {
        sc.setJobGroup(qid, qid, interruptOnCancel = true)
        try {
          marks(0) = System.nanoTime()
          sc.setLocalProperty(TagKey, s"$qid|construct")
          StreamProbe.current = qid
          val df = try fns(q)(spark, dir) finally StreamProbe.current = ""
          marks(1) = System.nanoTime()
          sc.setLocalProperty(TagKey, s"$qid|plan")
          val dg = digestFrame(df)
          val plan = dg.queryExecution.executedPlan
          marks(2) = System.nanoTime()
          sc.setLocalProperty(TagKey, s"$qid|exec")
          val r = dg.collect()(0)
          marks(3) = System.nanoTime()
          rows = r.getLong(0)
          digest = r.getDecimal(1).toBigInteger.toString
          exchanges = PlanCount.exchanges(plan)
        } finally {
          sc.setLocalProperty(TagKey, null)
          sc.clearJobGroup()
        }
      }
      val error: Option[String] =
        try { Await.result(work, Duration(cfg.queryTimeoutS, TimeUnit.SECONDS)); None }
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(qid)
            scala.util.Try(Await.ready(work, Duration(60, TimeUnit.SECONDS)))
            Some(f"timeout after ${cfg.queryTimeoutS}%.0f s")
          case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
        }
      val end = System.nanoTime()
      // release what the query left cached so passes stay independent
      val retained = (sc.getPersistentRDDs.keySet -- before).toSeq
      retained.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
      // record mode checks every run against the query's first good run
      val checked = error.orElse {
        if (cfg.record && !recorded.contains(q)) { recorded(q) = (rows, digest); None }
        else (if (cfg.record) recorded.get(q) else cfg.expected.get(q)) match {
          case None => Some("no expected digest")
          case Some((er, ed)) if er != rows || ed != digest =>
            val of = if (cfg.record) " (first run)" else ""
            Some(s"digest mismatch: got $rows rows / $digest, expected$of $er / $ed")
          case _ => None
        }
      }
      val m = marks.map(x => if (x == 0L) end else x)
      Run(pass, q, m(0), m(1), m(2), m(3), end, rows, digest, exchanges,
        retained.size, checked)
    }

    def order(pass: Int): Seq[String] =
      new Random(cfg.seed * 1000003L + pass).shuffle(cfg.queries)

    val passSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    def runPass(pass: Int): Seq[Run] = {
      val t0 = System.nanoTime()
      val rs = order(pass).map(q => runOnce(pass, q))
      passSpans += ((pass, t0, System.nanoTime()))
      rs
    }

    val warm = runPass(0)
    val warmupS = (passSpans.head._3 - passSpans.head._2) / 1e9
    val scratch0 = scratchDirs()
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val cpu0 = cpuTimes()
    val timed = mutable.ArrayBuffer.empty[Run]
    val tStart = System.nanoTime()
    var pass = 1
    def jvmAge = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // a fixed number of timed passes, so every run does the same work at
    // the same point of JIT warm-up; the deadline only guards the exit
    def lastPassS = (passSpans.last._3 - passSpans.last._2) / 1e9
    while (pass <= cfg.passes && (pass == 1 || jvmAge + lastPassS < cfg.deadlineS)) {
      timed ++= runPass(pass)
      pass += 1
    }
    val passes = pass - 1
    val measuredS = (System.nanoTime() - tStart) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    val cpu1 = cpuTimes()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    StreamProbe.settle(10000)
    probe.foreach(_.settle(10000))
    val scratchMb = (scratchDirs() -- scratch0).toSeq.map(dirBytes).sum / 1048576.0

    // ---------------------------------------------------- end-to-end
    val ok = timed.filter(_.ok)
    val byQuery = ok.groupBy(_.query)
    def medOf(q: String, f: Run => Double): Double =
      byQuery.get(q).map(rs => median(rs.map(f).toSeq)).getOrElse(0.0)
    val okQueries = cfg.queries.filter(byQuery.contains)
    val wallS = okQueries.map(medOf(_, _.wallS)).sum
    val geomeanMs =
      if (okQueries.isEmpty) 0.0
      else math.exp(okQueries.map(q => math.log(medOf(q, _.wallS) * 1e3)).sum /
        okQueries.size)
    val failures = (warm ++ timed).filterNot(_.ok)
    val attempted = timed.size
    val failedTimed = timed.count(!_.ok)

    // stream progress, attributed to query runs by the run id → owner map
    val progress = StreamProbe.progress.asScala.toSeq.flatMap { p =>
      Option(StreamProbe.owner.get(p.runId.toString)).map(_ -> p) }
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val timedProgress = progress.filter { case (qid, _) =>
      qid.takeWhile(_ != ':').toInt >= 1 }
    val streamQueries = cfg.queries.filter(_.startsWith("q_stream_"))
    val problems = mutable.ArrayBuffer.empty[String]
    if (streamQueries.nonEmpty) (1 to passes).foreach { p =>
      val n = timedProgress.count(_._1.startsWith(s"$p:"))
      if (n < streamQueries.size)
        problems += s"pass $p saw $n stream batches for ${streamQueries.size} stream queries"
    }
    if (failures.nonEmpty) problems += s"${failures.size} failed query runs"

    val endToEnd = Map[String, Any](
      "wall_s" -> wallS,
      "geomean_ms" -> geomeanMs,
      "setup_s" -> setupS,
      "fail_ratio" -> (if (attempted == 0) 1.0 else failedTimed.toDouble / attempted))

    // ---------------------------------------------------- per layer
    val layers = mutable.LinkedHashMap.empty[String, Any]
    val spans = mutable.ArrayBuffer.empty[Span]
    probe.foreach { pr =>
      val P = passes.toDouble
      val jobsByTag = pr.jobsByTag
      val tasksByStage = pr.tasksByStage
      def timedTag(tag: String): Boolean =
        tag.nonEmpty && tag.takeWhile(_ != ':').toInt >= 1
      def phaseJobs(phase: String): Seq[JobRec] = jobsByTag.toSeq.collect {
        case (tag, js) if timedTag(tag) && tag.endsWith(s"|$phase") => js }.flatten
      def phaseStages(phase: String): Seq[Int] = {
        val js = phaseJobs(phase)
        val ids = js.map(_.jobId).toSet
        js.flatMap(_.stageIds).distinct.filter(s => pr.stageJob.get(s).exists(ids))
      }
      def phaseTasks(phase: String): Seq[TaskRec] =
        phaseStages(phase).flatMap(s => tasksByStage.getOrElse(s, Nil))
      val cTasks = phaseTasks("construct")
      val eStages = phaseStages("exec")
      val eTasks = eStages.flatMap(s => tasksByStage.getOrElse(s, Nil))
      val constructS = timed.map(_.constructS).sum / P
      val planS = timed.map(_.planS).sum / P
      val execS = timed.map(_.execS).sum / P
      val straggler = eStages.map(s => tasksByStage.getOrElse(s, Nil)).filter(_.size >= 2)
        .map(ts => ts.map(_.runMs).max - median(ts.map(_.runMs.toDouble))).sum / 1e3
      layers ++= Seq(
        "construct.s" -> constructS,
        "construct.jobs" -> phaseJobs("construct").size / P,
        "construct.task_s" -> cTasks.map(_.runMs).sum / 1e3 / P,
        "construct.retained_rdds" -> timed.map(_.retained).sum / P,
        "plan.s" -> planS,
        "plan.exchanges" -> timed.map(_.exchanges).sum / P,
        "exec.s" -> execS,
        "exec.jobs" -> phaseJobs("exec").size / P,
        "exec.tasks" -> eTasks.size / P,
        "exec.task_s" -> eTasks.map(_.runMs).sum / 1e3 / P,
        "exec.parallelism" -> (if (execS > 0)
          eTasks.map(_.runMs).sum / 1e3 / P / (execS * cfg.cores) else 0.0),
        "exec.straggler_s" -> straggler / P,
        "exec.shuffle_mb" -> eTasks.map(_.shuffleWriteBytes).sum / 1048576.0 / P,
        "exec.spill_mb" -> eTasks.map(_.spillBytes).sum / 1048576.0 / P,
        "exec.gc_s" -> eTasks.map(_.gcMs).sum / 1e3 / P)

      val tp = timedProgress.map(_._2)
      val trig = tp.map(dur(_, "triggerExecution"))
      val lastByRun = tp.groupBy(_.runId).values.map(_.maxBy(_.batchId))
      val streamRuns = timed.filter(r => timedProgress.exists(_._1 == r.qid))
      val outside = streamRuns.map { r =>
        r.constructS - timedProgress.filter(_._1 == r.qid)
          .map(x => dur(x._2, "triggerExecution")).sum / 1e3 }.sum
      layers ++= Seq(
        "stream.batches" -> tp.size / P,
        "stream.empty_batches" -> tp.count(_.numInputRows == 0) / P,
        "stream.planning_ms" -> tp.map(dur(_, "queryPlanning")).sum / P,
        "stream.add_batch_ms" -> tp.map(dur(_, "addBatch")).sum / P,
        "stream.commit_ms" -> tp.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / P,
        "stream.offsets_ms" -> tp.map(p => dur(p, "latestOffset") + dur(p, "getBatch")).sum / P,
        "stream.outside_batch_s" -> outside / P,
        "stream.state_rows" -> lastByRun.flatMap(_.stateOperators.map(_.numRowsTotal)).sum / P,
        "stream.state_mb" -> lastByRun.flatMap(_.stateOperators.map(_.memoryUsedBytes))
          .sum / 1048576.0 / P,
        "stream.scratch_mb" -> scratchMb / P,
        "stream.batch_p50_ms" -> percentile(trig, 0.5),
        "stream.batch_p90_ms" -> percentile(trig, 0.9),
        "stream.batch_samples" -> trig.size)

      cfg.moduleNames.foreach { m =>
        val qs = okQueries.filter(q => cfg.modules.get(q).contains(m))
        layers ++= Seq(
          s"$m.s" -> qs.map(medOf(_, _.wallS)).sum,
          s"$m.construct_s" -> qs.map(medOf(_, _.constructS)).sum,
          s"$m.exec_s" -> qs.map(medOf(_, _.execS)).sum)
      }
      layers ++= Seq("jvm.gc_s" -> gcS / P, "jvm.heap_peak_mb" -> heapPeakMb,
        "warmup.s" -> warmupS)

      // spans: pass → query → construct / plan / exec → job → stage;
      // stream batches hang under their query's construct span
      var nextId = 0
      def add(parent: Int, qid: String, kind: String, name: String,
          s: Double, e: Double, attrs: Map[String, Any] = Map.empty): Int = {
        nextId += 1
        spans += Span(nextId, parent, qid, kind, name, s, e, attrs)
        nextId
      }
      val runsByPass = (warm ++ timed).groupBy(_.pass)
      val phaseSpan = mutable.Map.empty[String, Int]
      passSpans.foreach { case (p, s, e) =>
        val ps = add(0, "", "pass", s"pass $p", epochMs(s), epochMs(e))
        runsByPass.getOrElse(p, Nil).foreach { r =>
          val qs = add(ps, r.qid, "query", r.query, epochMs(r.startNs),
            epochMs(r.endNs), Map("ok" -> r.ok))
          Seq(("construct", r.startNs, r.constructNs), ("plan", r.constructNs, r.planNs),
              ("exec", r.planNs, r.execNs)).foreach { case (ph, a, b) =>
            phaseSpan(s"${r.qid}|$ph") = add(qs, r.qid, ph, ph, epochMs(a), epochMs(b))
          }
        }
      }
      // batches first: a stream's jobs nest under the batch that ran them
      val batches = mutable.ArrayBuffer.empty[(String, Int, Double, Double)]
      progress.foreach { case (qid, p) =>
        phaseSpan.get(s"$qid|construct").foreach { parent =>
          val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val e = s + dur(p, "triggerExecution")
          batches += ((qid, add(parent, qid, "batch", s"batch ${p.batchId}", s, e,
            Map("rows" -> p.numInputRows)), s, e))
        }
      }
      val stagesById = pr.stagesById
      jobsByTag.foreach { case (tag, js) =>
        phaseSpan.get(tag).foreach { phase =>
          val qid = tag.takeWhile(_ != '|')
          js.foreach { j =>
            val end = if (j.endMs > 0) j.endMs.toDouble else j.startMs.toDouble
            val parent = batches.find { case (bq, _, bs, be) =>
              bq == qid && bs <= j.startMs && end <= be }.map(_._2).getOrElse(phase)
            val jsId = add(parent, qid, "job", s"job ${j.jobId}", j.startMs, end)
            j.stageIds.filter(s => pr.stageJob.get(s).contains(j.jobId)).foreach { s =>
              stagesById.getOrElse(s, Nil).foreach { st =>
                add(jsId, qid, "stage", st.name, st.submitMs, st.doneMs,
                  Map("stage" -> s, "tasks" -> st.numTasks))
              }
            }
          }
        }
      }
      val self = Spans.selfTimes(spans.toSeq)
      val timedQuerySelf = spans.filter(s => s.kind == "query" &&
        s.qid.takeWhile(_ != ':').toInt >= 1).map(s => self(s.id)).sum / 1e3
      layers ++= Seq("trace.wall_s" -> wallS,
        "trace.query_self_s" -> timedQuerySelf / P)
      val selfByKind = spans.filter(s => s.qid.nonEmpty &&
          s.qid.takeWhile(_ != ':').toInt >= 1)
        .groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e3 / P }
      Files.write(Paths.get(cfg.traceOut), Json.render(Map(
        "self_s_per_pass" -> selfByKind,
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "qid" -> s.qid, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_ms" -> self(s.id), "attrs" -> s.attrs)))).getBytes("UTF-8"))
    }

    val load1 = loadAvg()
    val perQuery = cfg.queries.map { q =>
      val rs = timed.filter(_.query == q)
      q -> Map(
        "module" -> cfg.modules.getOrElse(q, ""),
        "median_s" -> medOf(q, _.wallS),
        "construct_s" -> medOf(q, _.constructS),
        "plan_s" -> medOf(q, _.planS),
        "exec_s" -> medOf(q, _.execS),
        "times_s" -> rs.filter(_.ok).map(_.wallS),
        "runs" -> rs.size, "failed" -> rs.count(!_.ok),
        "warmup_s" -> warm.find(_.query == q).map(_.wallS).getOrElse(0.0),
        "rows" -> (warm ++ timed).find(r => r.query == q && r.rows >= 0).map(_.rows).getOrElse(-1L),
        "digest" -> (warm ++ timed).find(r => r.query == q && r.digest.nonEmpty).map(_.digest).getOrElse(""),
        "digests" -> (warm ++ timed).filter(_.query == q).map(_.digest))
    }.toMap
    val header = Map[String, Any](
      "workload" -> cfg.workload,
      "cores" -> cfg.cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "inputs" -> inputHeader(spark, inputDir, cfg.tables.map(_._1)),
      "input_dir" -> dir,
      "replicas" -> cfg.tables.toMap,
      "seed" -> cfg.seed,
      "trace" -> cfg.trace,
      "load_avg_before" -> load0,
      "load_avg_after" -> load1,
      "session_s" -> sessionS,
      "setup_reps_s" -> setupTimes,
      "timed_passes" -> passes,
      "timed_cpu_busy_s" -> (cpu1._1 - cpu0._1),
      "timed_cpu_steal_s" -> (cpu1._2 - cpu0._2),
      "measured_s" -> measuredS) ++ cfg.meta
    val result = Map[String, Any](
      "header" -> header,
      "correct" -> problems.isEmpty,
      "problems" -> problems.toSeq,
      "attempted" -> attempted,
      "failed" -> failedTimed,
      "failed_runs" -> failures.map(r => Map("pass" -> r.pass, "query" -> r.query,
        "error" -> r.error.getOrElse(""))),
      "end_to_end" -> endToEnd,
      "per_layer" -> layers.toMap,
      "queries" -> perQuery)
    Files.write(Paths.get(cfg.out), Json.render(result).getBytes("UTF-8"))
    pool.shutdownNow()
    spark.stop()
  }
}

/** Minimal JSON renderer for maps, sequences, strings, numbers, booleans. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }
}
