package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.queries.{LlmQueries, Round10Queries, Round11Queries}
import graft.streaming.Streaming

/** JVM side of the benchmark: executes one run plan written by run.py and
  * writes what it measured as JSON. It decides nothing about workloads:
  * op order, ingest drops and run length all come from the plan.
  *
  * Usage: Harness <plan.json> <result.json>
  *
  * A query op is `SparkEntry.queries(name)(spark, dir)` followed by a noop
  * write; an ingest op is one micro-batch of `Streaming.ingestLoop`. With
  * `trace` on, listeners registered here attribute Spark's counters to the
  * running op, and the run also times each ingest primitive in isolation.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** Timed rounds of each kind (untraced, traced) a run makes at least;
    * `ingest` makes exactly this many batches of each kind. */
  private val MinRounds = 3
  /** Set-ups per run. Only `ingest` builds standing state, so only it
    * repeats the set-up; `board` starts its session once. */
  private val IngestSetups = 3
  /** Ingest state parameters, as in graft.BenchIngest. */
  private val BandCap = 64
  private val KInt = 15
  private val UndCap = 30

  private def now(): Double = System.nanoTime() / 1e9
  private def epochMs(): Long = System.currentTimeMillis()
  private def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  /** Kernel-reported resident-set high-water mark of this JVM, in kB. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val mainEpochMs = epochMs()
    val plan = mapper.readTree(new java.io.File(args(0)))
    val workload = plan.get("workload").asText
    val cores = plan.get("cores").asInt
    val fixture = plan.get("fixture").asText
    val traced = plan.get("trace").asBoolean
    val seconds = plan.get("seconds").asDouble
    val out = Paths.get(plan.get("out").asText)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    def session(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val isIngest = plan.has("ingest")
    val ingest = if (isIngest) new Ingest(plan.get("ingest")) else null

    // Set-up, repeated: a fresh session, then the standing state the timed
    // ops read. On-disk state lives under java.io.tmpdir, which is wiped
    // before each repeat so every repeat pays the full build.
    val setups = mutable.ArrayBuffer[java.util.Map[String, Any]]()
    var spark: SparkSession = null
    val repeats = if (isIngest) IngestSetups else 1
    for (i <- 1 to repeats) {
      if (spark != null) spark.stop()
      deleteTree(tmp); Files.createDirectories(tmp)
      val t0 = now()
      spark = session()
      val t1 = now()
      if (isIngest) ingest.build(spark, fixture, tmp)
      val t2 = now()
      setups += obj("session_s" -> (t1 - t0), "artifacts_s" -> (t2 - t1))
      Console.err.println(f"[perfbench] $workload setup $i/$repeats ${t2 - t0}%.2fs")
    }

    val rec = new Recorder
    val result =
      if (isIngest) ingest.run(spark, rec, traced, workload)
      else new Queries(plan, fixture, out).run(spark, rec, seconds, traced, workload)
    rec.drain(spark)

    result.put("workload", workload)
    result.put("jvm_start_epoch_ms", java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime)
    result.put("main_epoch_ms", mainEpochMs)
    result.put("setup", setups.asJava)
    result.put("peak_rss_kb", peakRssKb())
    if (traced) {
      result.put("spans", rec.spans.asJava)
    }
    spark.stop()
    deleteTree(tmp)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
  }

  /** Query workloads: an untimed check pass that writes each op's output
    * as parquet and warms the JVM, then the timed rounds in the plan's
    * order. */
  private final class Queries(plan: JsonNode, fixture: String, out: Path) {
    private val rounds = plan.get("rounds").elements().asScala.map(strings).toIndexedSeq
    private val checkOps = strings(plan.get("check"))

    def run(spark: SparkSession, rec: Recorder, seconds: Double, traced: Boolean,
            workload: String): java.util.Map[String, Any] = {
      val ops = mutable.ArrayBuffer[java.util.Map[String, Any]]()
      val t0 = now()

      val tc = now()
      checkOps.zipWithIndex.foreach { case (n, i) =>
        ops += rec.op(spark, n, "check") {
          val t = now()
          val df = SparkEntry.queries(n)(spark, fixture)
          val b = now() - t
          df.coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
          b
        }
        progress(workload, "check", n, i + 1, checkOps.size, t0)
      }
      val checkS = now() - tc

      val res = obj("check_s" -> checkS,
        "oracle" -> checkOps.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
          .toMap.asJava)
      val walls = Map("timed" -> mutable.ArrayBuffer[Double](),
        "traced" -> mutable.ArrayBuffer[Double]())
      var r = 0
      timedPhase(spark, rec, seconds, traced) { phase =>
        require(r < rounds.size, s"plan holds only ${rounds.size} rounds")
        walls(phase) += runRound(spark, rec, rounds(r), phase, r, ops, workload, t0)
        r += 1
      }
      walls.foreach { case (phase, w) => res.put(s"${phase}_round_wall_s", w.asJava) }
      res.put("ops", ops.asJava)
      res
    }

    private def runRound(spark: SparkSession, rec: Recorder, names: Seq[String],
                         phase: String, r: Int,
                         ops: mutable.ArrayBuffer[java.util.Map[String, Any]],
                         workload: String, t0: Double): Double = {
      val start = now()
      names.zipWithIndex.foreach { case (n, i) =>
        val m = rec.op(spark, n, phase) {
          val t = now()
          val df = SparkEntry.queries(n)(spark, fixture)
          val b = now() - t
          noop(df)
          b
        }
        m.put("round", r)
        ops += m
        progress(workload, s"$phase round $r", n, i + 1, names.size, t0)
      }
      now() - start
    }
  }

  /** Runs `round` at least `MinRounds` times and until `seconds` have
    * passed, each after an untimed full GC. When tracing, untraced and
    * traced rounds alternate in ABBA order, each kind `MinRounds` times
    * and for `seconds` in total: rounds still speed up as the JIT warms,
    * and the two kinds must be measured alike for their ratio to be the
    * tracing overhead. */
  private def timedPhase(spark: SparkSession, rec: Recorder, seconds: Double,
                         traced: Boolean)(round: String => Unit): Unit = {
    val start = now()
    val kinds = if (traced) 2 else 1
    var n = 0
    while (n < MinRounds * kinds || now() - start < seconds * kinds) {
      System.gc()
      val kind = if (traced && (n % 2 == 1) != (n / 2 % 2 == 1)) "traced" else "timed"
      if (kind == "traced") rec.attach(spark)
      try round(kind) finally if (kind == "traced") rec.detach(spark)
      n += 1
    }
  }

  private def progress(workload: String, phase: String, op: String, i: Int, n: Int,
                       t0: Double): Unit =
    Console.err.println(f"[perfbench] $workload $phase $op $i/$n elapsed ${now() - t0}%.1fs")

  /** The ingest workload: standing state built from the plan's base ids,
    * then one `Streaming.ingestLoop` fed by a MemoryStream, one micro-batch
    * per op, each followed by a settle that forces the lazily checkpointed
    * graph and corpus. The timed phase makes exactly `MinRounds` batches
    * of each kind: a batch costs more the more batches came before it, so
    * a run of more batches would not be the same work. When tracing, each
    * primitive the loop composes is then timed alone on the final state
    * and the next, unused drop of the plan. */
  private final class Ingest(spec: JsonNode) {
    private val baseIds = longs(spec.get("base"))
    private val batches = spec.get("batches").elements().asScala.toIndexedSeq

    private var rows: Map[Long, Streaming.IngestDoc] = _
    private var st: Streaming.IngestState = _

    def build(spark: SparkSession, fixture: String, tmp: Path): Unit = {
      graft.GraftFunctions.ensure(spark)
      val toD = (c: org.apache.spark.sql.Column) => transform(c, _.cast("double"))
      val joined = graft.Tables.documents(spark, fixture).select(col("doc_id"), col("text"))
        .join(graft.Tables.embeddings(spark, fixture)
          .select(col("vec_id"), col("label"), toD(col("embedding")).as("v")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("label").cast("int").as("label"), col("v"))
      rows = joined.collect().map(r => r.getLong(0) -> Streaming.IngestDoc(
        r.getLong(0), r.getString(1), r.getInt(2), r.getSeq[Double](3))).toMap
      val base = joined.filter(col("doc_id").isin(baseIds: _*)).localCheckpoint(true)
      val baseVecs = base.select(col("doc_id").as("vec_id"), col("v")).localCheckpoint(true)
      val cents = LlmQueries.ivfCentroids(baseVecs)
      val cb = LlmQueries.pqCodebook(baseVecs)
      val index = Streaming.indexFromSigs(
        Streaming.buildNearDupIndex(base.select(col("doc_id"), col("text")), BandCap)
          .sigs.localCheckpoint(true), BandCap)
      val idxPath = tmp.resolve("annidx").toString
      Round10Queries.annIndexRows(
          base.select(col("doc_id").as("vec_id"), col("label"), col("v")), cents, cb)
        .repartition(8).write.parquet(idxPath)
      val graph = Round11Queries.knnGraphBuild(baseVecs, KInt, UndCap, rounds = 1)
        .select(col("src"), col("nb"), col("sim")).localCheckpoint(true)
      st = new Streaming.IngestState(index, idxPath, graph, baseVecs, cents, cb)
    }

    private def docs(b: JsonNode): Seq[Streaming.IngestDoc] =
      longs(b.get("del")).map(id => Streaming.IngestDoc(id, "", 0, Seq.empty, "del")) ++
        longs(b.get("add")).map(rows) ++
        b.get("dup").elements().asScala.map { d =>
          rows(d.get(1).asLong).copy(doc_id = d.get(0).asLong)
        }

    /** Time each primitive the loop composes, on a drop's add rows and the
      * current state, without changing the state: the annidx append writes
      * to a copy of the index. */
    private def isolated(spark: SparkSession, rec: Recorder, batch: Seq[Streaming.IngestDoc],
                         tmp: Path, r: Int): Seq[java.util.Map[String, Any]] = {
      import spark.implicits._
      val adds = batch.filter(_.op == "add")
      val drop = adds.toDF().select(col("doc_id"), col("text"), col("label"),
        col("vec").as("v")).localCheckpoint(true)
      val dropDocs = drop.select(col("doc_id"), col("text"))
      val dropVecs = drop.select(col("doc_id").as("vec_id"), col("v"))
      val copy = tmp.resolve(s"annidx_iso_$r")
      copyTree(Paths.get(st.annIdxPath), copy)
      copyTree(Paths.get(st.annIdxPath + ".tombstones"), Paths.get(copy.toString + ".tombstones"))
      def prim(name: String)(body: => Unit): java.util.Map[String, Any] = {
        val m = rec.op(spark, name, "isolated") { body; 0.0 }
        m.put("round", r)
        m
      }
      val ms = Seq(
        prim("ingest.gate")(noop(Streaming.nearDupProbe(st.index, dropDocs))),
        prim("ingest.band_append")(
          noop(Streaming.appendToIndex(st.index, dropDocs, BandCap).sigs)),
        prim("ingest.annidx_append")(Round10Queries.appendToAnnIndex(
          drop.select(col("doc_id").as("vec_id"), col("label"), col("v")),
          copy.toString, st.cents, st.cb)),
        prim("ingest.graph_append")(noop(Round11Queries.appendToKnnGraph(
          st.graph, st.corpus, dropVecs, KInt, UndCap))))
      deleteTree(copy); deleteTree(Paths.get(copy.toString + ".tombstones"))
      ms
    }

    private def copyTree(src: Path, dst: Path): Unit =
      if (Files.exists(src)) {
        val walk = Files.walk(src)
        try walk.iterator().asScala.foreach { p =>
          Files.copy(p, dst.resolve(src.relativize(p).toString))
        } finally walk.close()
      }

    def run(spark: SparkSession, rec: Recorder, traced: Boolean,
            workload: String): java.util.Map[String, Any] = {
      import spark.implicits._
      implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
      val verdicts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streaming.IngestDoc]
      val q = Streaming.ingestLoop(mem.toDF(), st, bandCap = BandCap, kInt = KInt,
        undCap = UndCap, compactEvery = 0, compactTarget = 64L << 20,
        onBatch = (id, v) => {
          val row = v.agg(coalesce(sum(col("kept")), lit(0L)).cast("long"), count(lit(1))).head()
          verdicts.put(id, (row.getLong(0), row.getLong(1) - row.getLong(0)))
        })
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val ops = mutable.ArrayBuffer[java.util.Map[String, Any]]()
      val t0 = now()
      var b = 0
      def batch(phase: String): Unit = {
        require(b < batches.size, s"plan holds only ${batches.size} batches")
        val drop = docs(batches(b))
        val m = rec.op(spark, s"batch$b", phase) {
          mem.addData(drop: _*)
          q.processAllAvailable()
          0.0
        }
        val s = rec.op(spark, s"settle$b", phase) {
          noop(st.graph); noop(st.corpus); 0.0
        }
        m.put("round", b); s.put("round", b)
        m.put("docs", drop.size)
        ops += m; ops += s
        progress(workload, phase, s"batch$b", b + 1, batches.size, t0)
        b += 1
      }
      try {
        timedPhase(spark, rec, 0.0, traced)(batch)
      } finally q.stop()
      val per = (0 until b).map { i =>
        val (acc, rej) = verdicts.getOrDefault(i.toLong, (-1L, -1L))
        obj("batch" -> i, "accepted" -> acc, "rejected" -> rej)
      }
      // final state, read after the timed phase
      val corpusIds = st.corpus.select(col("vec_id")).as[Long].collect().toSet
      val graphIds = st.graph.select(col("src")).union(st.graph.select(col("nb")))
        .distinct().as[Long].collect().toSet
      val graphSrc = st.graph.select(col("src")).distinct().count()
      val annRows = Round10Queries.readAnnIndex(spark, st.annIdxPath).count()
      val listing = Files.list(Paths.get(st.annIdxPath))
      val annFiles = try listing.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")) finally listing.close()
      val state = obj(
        "corpus_ids" -> corpusIds.toSeq.sorted.asJava,
        "index_rows" -> st.index.sigs.count(),
        "annidx_rows" -> annRows,
        "graph_src" -> graphSrc,
        "graph_edges" -> st.graph.count(),
        "annidx_files" -> annFiles,
        "graph_ids" -> graphIds.toSeq.sorted.asJava)
      // the isolated primitives, after the timed phase so that they warm
      // no cache a timed or traced batch reads
      if (traced) {
        require(b < batches.size, s"plan holds only ${batches.size} batches")
        rec.attach(spark)
        try ops ++= isolated(spark, rec, docs(batches(b)), tmp, b)
        finally rec.detach(spark)
      }
      obj("ops" -> ops.asJava, "batches" -> per.asJava, "final" -> state)
    }
  }

  /** Attributes Spark's counters to the running op. Listeners are
    * registered only when tracing; the codegen counters are static and
    * read around every op either way. */
  private final class Recorder {
    private var traced = false
    private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
    private val flags = mutable.Set[String]()
    val spans = mutable.ArrayBuffer[java.util.Map[String, Any]]()
    private var opSpan = 0L
    private var nextSpan = 0L
    private val jobStart = mutable.Map[Int, (Long, Long)]()   // job -> (start ms, span)
    private val stageJob = mutable.Map[Int, Long]()           // stage -> job span
    private val jobTimes = mutable.ArrayBuffer[Long]()        // start ms of this op's jobs


    private def span(name: String, start: Long, end: Long, parent: Long,
                     attrs: (String, Any)*): Long = synchronized {
      nextSpan += 1
      val m = obj(Seq("id" -> nextSpan, "name" -> name, "start_ms" -> start,
        "end_ms" -> end, "parent" -> parent, "op" -> opSpan) ++ attrs: _*)
      spans += m
      nextSpan
    }
    private def add(k: String, v: Double): Unit = synchronized { counters(k) += v }

    def attach(spark: SparkSession): Unit = {
      traced = true
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      spark.streams.addListener(progress)
    }

    def detach(spark: SparkSession): Unit = {
      drain(spark)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      spark.streams.removeListener(progress)
      traced = false
    }

    private val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
        add("sched.jobs", 1)
        jobTimes += e.time
        nextSpan += 1
        jobStart(e.jobId) = (e.time, nextSpan)
        e.stageIds.foreach(s => stageJob(s) = nextSpan)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
        val (st, id) = jobStart.remove(e.jobId).getOrElse((e.time, 0L))
        add("sched.job_wall_s", (e.time - st) / 1e3)
        spans += obj("id" -> id, "name" -> s"job ${e.jobId}", "start_ms" -> st,
          "end_ms" -> e.time, "parent" -> opSpan, "op" -> opSpan)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        add("sched.stages", 1)
        add("sched.tasks", si.numTasks)
        val parent = Recorder.this.synchronized(stageJob.remove(si.stageId).getOrElse(opSpan))
        span(s"stage ${si.stageId}", si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L), parent, "tasks" -> si.numTasks)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) Recorder.this.synchronized {
          counters("exec.run_s") += m.executorRunTime / 1e3
          counters("exec.cpu_s") += m.executorCpuTime / 1e9
          counters("exec.gc_s") += m.jvmGCTime / 1e3
          counters("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
          counters("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
          counters("shuffle.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          counters("io.read_bytes") += m.inputMetrics.bytesRead
          counters("io.records_read") += m.inputMetrics.recordsRead
          counters("exec.peak_mem_bytes") =
            math.max(counters("exec.peak_mem_bytes"), m.peakExecutionMemory.toDouble)
        }
      }
    }

    private val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      planned(qe)
    }

    private val progress = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        add("ingest.add_batch_s", Option(d.get("addBatch")).map(_.toDouble).getOrElse(0.0) / 1e3)
        add("ingest.trigger_s", Option(d.get("triggerExecution")).map(_.toDouble).getOrElse(0.0) / 1e3)
      }
    }

    private def planned(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("plan.analysis_s", ms("analysis") / 1e3)
      add("plan.optimization_s", ms("optimization") / 1e3)
      add("plan.planning_s", ms("planning") / 1e3)
      add("plan.executions", 1)
      phases.foreach { case (p, s) =>
        span(s"plan.$p", s.startTimeMs, s.endTimeMs, opSpan)
      }
      try {
        val nodes = walk(qe.executedPlan).toSeq
        if (nodes.exists(n => n.getClass.getName.startsWith("graft.plans.")))
          synchronized(flags += "plans")
        if (nodes.exists(_.expressions.exists(_.exists(
            _.getClass.getName.startsWith("graft.expressions.")))))
          synchronized(flags += "expressions")
      } catch { case _: Throwable => () }
    }

    private def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => Iterator(s) ++ walk(s.plan)
      case o => Iterator(o) ++ o.children.iterator.flatMap(walk) ++
        o.subqueries.iterator.flatMap(walk)
    }

    /** Wait until every queued listener event has been delivered; the bus
      * is not public API, so it is reached by reflection. */
    def drain(spark: SparkSession): Unit = if (traced) {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

    /** Run one op; returns its record. `body` returns the seconds spent
      * building the DataFrame (0 when the op has no separate build). */
    def op(spark: SparkSession, name: String, phase: String)(body: => Double)
        : java.util.Map[String, Any] = {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      if (traced) {
        drain(spark)
        synchronized {
          counters.clear(); flags.clear(); jobTimes.clear(); nextSpan += 1; opSpan = nextSpan
        }
      }
      val startMs = epochMs()
      val t = now()
      var build = 0.0
      var error: String = null
      try build = body
      catch { case e: Throwable => error = e.toString.take(300) }
      finally spark.catalog.clearCache()
      val lat = now() - t
      val m = obj("op" -> name, "phase" -> phase, "lat_s" -> lat, "build_s" -> build,
        "error" -> error,
        "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "codegen.compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9)
      if (traced) {
        drain(spark)
        synchronized {
          spans += obj("id" -> opSpan, "name" -> name, "start_ms" -> startMs,
            "end_ms" -> (startMs + (lat * 1e3).toLong), "parent" -> 0L, "op" -> opSpan,
            "phase" -> phase)
          counters.foreach { case (k, v) => m.put(k, v) }
          val buildEndMs = startMs + (build * 1e3).toLong
          m.put("queries.build_jobs", jobTimes.count(_ <= buildEndMs))
          m.put("flags", flags.toSeq.sorted.asJava)
        }
      }
      m
    }
  }
}
