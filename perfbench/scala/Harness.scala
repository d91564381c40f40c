package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkEntry, Tables}
import graft.streaming.StreamOps

/** The JVM half of the benchmark. It drives the engine only through its
  * public entry points (`GraftSession`, `SparkEntry`, `StreamOps`,
  * `Tables`) and writes everything it measured to
  * `<out>/result.json`; `perfbench/run.py` turns that into metrics and
  * checks the outputs against DuckDB and a plain reference count.
  *
  * Arguments are `--key value` pairs; see `Args` below. */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val rec = new Recorder(false)
    val json = a("workload") match {
      case "stream" => StreamRun(a, rec)
      case _        => BatchRun(a, rec)
    }
    Files.write(out.resolve("result.json"), json.getBytes(UTF_8))
  }

  // ---------------------------------------------------------------- session

  /** Builds the session the way a user of the library does: the
    * documented builder plus `attach`. Returns (session, start ms, attach ms). */
  def session(a: Args, cores: Int, rec: Recorder): (SparkSession, Double, Double) = {
    val run = a("rundir")
    val (spark, startMs) = rec.span("session.start") {
      val s = GraftSession.builder(s"local[$cores]", "perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$run/warehouse")
        .config("spark.local.dir", s"$run/local")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val (_, attachMs) = rec.span("session.attach")(GraftSession.attach(spark))
    (spark, startMs, attachMs)
  }

  // --------------------------------------------------------------- recorder

  /** Spans of one run, kept in memory and written with the result. With
    * tracing off only the session, pass and phase spans are recorded. */
  final class Recorder(var traced: Boolean) {
    private val t0 = System.nanoTime()
    /** Wall-clock time of the recorder's zero, to place Spark's own
      * (epoch) timestamps on the recorder's clock. */
    val epoch0Ms: Double = System.currentTimeMillis().toDouble
    private val spans = mutable.ArrayBuffer.empty[String]
    private var nextId = 0
    private var stack = List.empty[Int]
    def nowMs: Double = (System.nanoTime() - t0) / 1e6

    /** Runs `body` inside a span; returns its value and its duration in ms. */
    def span[T](name: String, always: Boolean = true)(body: => T): (T, Double) =
      if (!always && !traced) {
        val s = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - s) / 1e6)
      } else {
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val s = nowMs
        try {
          val v = body
          val e = nowMs
          spans += s"""{"id":$id,"parent":$parent,"name":${J.str(name)},"start":$s,"end":$e}"""
          (v, e - s)
        } finally stack = stack.tail
      }

    def toJson: String = spans.mkString("[", ",", "]")
  }

  // ------------------------------------------------------------ JVM gauges

  object Jvm {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuMs: Double = os.getProcessCpuTime / 1e6
    def gcMs: Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
    def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    def rssPeakMb: Double = {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    }
    /** Heap in use right after a full collection: the live set. Taken
      * once, after the timed passes: with a forced full collection after
      * every pass, the passes after the first ran slower and spread three
      * times wider between runs on a busy 4-core host. The
      * second collection frees what Spark's context cleaner released
      * after the first one. */
    def liveHeapMb: Double = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    def codegenMs: Double =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
    def codegenCompiles: Double =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    def gauges: Map[String, Double] = Map(
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "jit_ms" -> jitMs,
      "codegen_ms" -> codegenMs, "codegen_compiles" -> codegenCompiles)
  }

  /** Drains Spark's asynchronous listener bus so every event of the jobs
    * that already ran has reached the listeners. */
  def drainListeners(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  // ------------------------------------------------------- layer listener

  /** Scheduler, executor, shuffle, spill and storage counters; jobs are
    * also counted per harness phase that started them (`perfbench.phase`
    * local property: build, plan, execute, tables, other). */
  final class LayerListener extends SparkListener {
    private val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    private def add(k: String, v: Double): Unit = synchronized { c(k) = c(k) + v }
    def snapshot: Map[String, Double] = synchronized(c.toMap)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val phase = props.flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("other")
      add("sched.jobs", 1)
      add(s"jobs.$phase", 1)
      // a job's short call site is the name of its stages
      if (phase == "build" && e.stageInfos.exists(_.name.startsWith("parquet at QueryModule.scala")))
        add("build.schema_jobs", 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("sched.stages", 1)
      add("sched.tasks", e.stageInfo.numTasks)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      add("exec.run_ms", m.executorRunTime.toDouble)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("sched.delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)).toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add("storage.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  /** Counts whole-stage codegen compile failures (the fallback to
    * interpreted execution) while tracing is on, through a log4j appender
    * on the loggers that report them. */
  final class CodegenFallbacks(rec: Recorder) {
    @volatile var count = 0
    private val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "perfbench-codegen", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(ev: org.apache.logging.log4j.core.LogEvent): Unit = {
        val msg = ev.getMessage.getFormattedMessage
        if (rec.traced && (msg.contains("Failed to compile") || msg.contains("codegen disabled"))) count += 1
      }
    }
    def install(): Unit = {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.LoggerContext
      appender.start()
      val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
      Seq("org.apache.spark.sql.execution.WholeStageCodegenExec",
          "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").foreach { n =>
        val l = ctx.getLogger(n)
        l.addAppender(appender)
        l.setLevel(Level.WARN)
      }
    }
  }

  /** Tracing of a traced run, switched on for every second timed pass so
    * that the traced and untraced passes of one run give the tracing
    * overhead. The listener is attached only while tracing; JVM gauges are
    * taken around every pass. */
  final class Tracing(spark: SparkSession, rec: Recorder, enabled: Boolean) {
    val layers = new LayerListener
    val fallbacks = new CodegenFallbacks(rec)
    private var installed = false

    def set(on: Boolean): Unit = if (enabled && on != rec.traced) {
      drainListeners(spark)
      if (on) {
        spark.sparkContext.addSparkListener(layers)
        if (!installed) { fallbacks.install(); installed = true }
      } else spark.sparkContext.removeSparkListener(layers)
      rec.traced = on
    }

    /** Runs one timed pass; returns its record's fields. */
    def pass(extra: => Seq[(String, String)])(body: => Unit): Seq[(String, String)] = {
      val g0 = Jvm.gauges
      val (_, wall) = rec.span("pass")(body)
      val g1 = Jvm.gauges
      Seq("wall_ms" -> J.num(wall), "traced" -> rec.traced.toString) ++
        g1.toSeq.map { case (k, v) => k -> J.num(v - g0(k)) } ++ extra
    }

    def finish(): Map[String, Double] = { set(false); drainListeners(spark); layers.snapshot }
  }

  // ------------------------------------------------------------- helpers

  object J {
    def str(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  }

  /** Order-insensitive digest of a collected result: every cell is encoded
    * with its type (doubles by their bit pattern), rows are sorted, and the
    * sorted encodings are hashed. Two executions of a query agree exactly
    * when their digests do. */
  def digest(rows: Array[Row]): String = {
    def enc(v: Any): String = v match {
      case null => "N"
      case d: Double => "D" + java.lang.Double.doubleToLongBits(d)
      case f: Float => "F" + java.lang.Float.floatToIntBits(f)
      case r: Row => r.toSeq.map(enc).mkString("(", ",", ")")
      case s: scala.collection.Map[_, _] =>
        s.toSeq.map { case (k, x) => enc(k) + "->" + enc(x) }.sorted.mkString("M{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(enc).mkString("[", ",", "]")
      case a: Array[Byte] => "B" + java.util.Arrays.toString(a)
      case x => x.getClass.getSimpleName + ":" + x.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.iterator.map(enc).toArray.sorted.foreach(s => md.update(s.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  // ------------------------------------------------------------- batch

  object BatchRun {
    private val customExecs = Set("TopKPerGroupExec", "AsofJoinExec",
      "AsofJoinBroadcastExec", "RangeLookupJoinExec")

    def apply(a: Args, rec: Recorder): String = {
      val inputs = a("inputs")
      val registry = SparkEntry.queries
      val names = a("queries").split(",").toSeq
      val cpu0 = Jvm.cpuMs
      val (spark, startMs, attachMs) = session(a, a.int("cores"), rec)
      val sc = spark.sparkContext
      val tracing = new Tracing(spark, rec, a("trace") == "1")

      val execs = mutable.ArrayBuffer.empty[String]
      val warmRows = mutable.LinkedHashMap.empty[String, Array[Row]]
      val warmSchema = mutable.HashMap.empty[String, org.apache.spark.sql.types.StructType]
      val planStats = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

      /** One request: build the DataFrame, (traced: force its physical
        * plan), collect every row and column. */
      def runQuery(name: String, pass: Int): Unit = {
        val fn = registry(name)
        var df: DataFrame = null
        var rows: Array[Row] = null
        var err: String = null
        var buildMs, planMs, execMs = 0.0
        val (_, totalMs) = rec.span("query", always = false) {
          try {
            sc.setLocalProperty("perfbench.phase", "build")
            buildMs = rec.span("build", always = false) { df = fn(spark, inputs) }._2
            if (rec.traced) {
              sc.setLocalProperty("perfbench.phase", "plan")
              planMs = rec.span("plan", always = false)(df.queryExecution.executedPlan)._2
            }
            sc.setLocalProperty("perfbench.phase", "execute")
            execMs = rec.span("execute", always = false) { rows = df.collect() }._2
          } catch { case e: Throwable if scala.util.control.NonFatal(e) => err = errText(e) }
        }
        sc.setLocalProperty("perfbench.phase", "other")
        var d = ""
        if (err == null) {
          d = digest(rows)
          if (pass == 0) {
            warmRows(name) = rows; warmSchema(name) = df.schema
          }
          if (rec.traced && pass > 0) planCounts(df)
        }
        val phases = if (rec.traced && df != null && err == null)
          df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble } else Map.empty[String, Double]
        execs += J.obj(Seq(
          "query" -> J.str(name), "pass" -> pass.toString,
          "ms" -> J.num(totalMs), "build_ms" -> J.num(buildMs), "plan_ms" -> J.num(planMs),
          "exec_ms" -> J.num(execMs), "digest" -> J.str(d), "error" -> (if (err == null) "null" else J.str(err)),
          "catalyst" -> J.nums(phases)))
      }

      def planCounts(df: DataFrame): Unit = {
        val helper = new AdaptiveSparkPlanHelper {}
        val plan: SparkPlan = df.queryExecution.executedPlan
        planStats("plan.exchanges") += helper.collectWithSubqueries(plan) { case e: Exchange => e }.size
        helper.collectWithSubqueries(plan) { case p if customExecs(p.getClass.getSimpleName) => p }
          .foreach { p =>
            planStats("plan.custom_execs") += 1
            p.metrics.foreach { case (k, m) => planStats(s"plan.custom.$k") += m.value.toDouble }
          }
      }

      def pass(p: Int): Unit = names.foreach(runQuery(_, p))

      // warm-up: untimed passes. The write-once stores the queries need are
      // built in the first, lazily, by the queries themselves; JIT and the
      // codegen cache fill in all of them. Pass 0's results are the ones
      // checked against DuckDB; later warm-up passes are numbered -1, -2, ...
      // and must reproduce them like the timed ones.
      val (_, warmMs) = rec.span("session.warmup") {
        pass(0)
        for (p <- 1 until a.int("warmups")) pass(-p)
      }
      val setupMs = rec.nowMs
      val setupCpuMs = Jvm.cpuMs - cpu0

      // timed closed loop: a fixed number of whole passes, so every run
      // measures the same work at the same point of the JVM's warm-up
      val passes = mutable.ArrayBuffer.empty[String]
      for (p <- 1 to a.int("passes")) {
        tracing.set(p % 2 == 0)
        if (rec.traced) {
          sc.setLocalProperty("perfbench.phase", "tables")
          val (_, loadMs) = rec.span("tables.load") {
            Tables.names.foreach(t => Tables.load(spark, inputs, t))
          }
          planStats("tables.load_ms") += loadMs
          sc.setLocalProperty("perfbench.phase", "other")
        }
        val fields = tracing.pass(Seq("pass" -> p.toString))(pass(p))
        val residual = sc.getExecutorMemoryStatus.values.map { case (max, rem) => (max - rem).toDouble }.sum
        passes += J.obj(fields :+ ("residual_bytes" -> J.num(residual)))
      }
      val heapLiveMb = Jvm.liveHeapMb
      val layers = tracing.finish()

      // untimed: dump the warm-up results for the DuckDB comparison
      val results = Paths.get(a("out"), "results")
      warmRows.foreach { case (name, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), warmSchema(name))
          .coalesce(1).write.mode("overwrite").parquet(results.resolve(name).toString)
      }
      val oracle = SparkEntry.oracleSql
      val sqlJson = J.obj(names.flatMap(n => oracle.get(n).map(s => n -> J.str(s))))

      val json = J.obj(Seq(
        "workload" -> J.str("batch"),
        "manifest" -> J.str(graft.BenchSupport.manifest(inputs)),
        "epoch0_ms" -> J.num(rec.epoch0Ms),
        "setup" -> J.nums(Map("session.start_ms" -> startMs, "session.attach_ms" -> attachMs,
          "session.warmup_ms" -> warmMs,
          "setup_ms" -> setupMs, "setup_cpu_ms" -> setupCpuMs)),
        "executions" -> execs.mkString("[", ",", "]"),
        "passes" -> passes.mkString("[", ",", "]"),
        "jvm" -> J.nums(Map("rss_peak_mb" -> Jvm.rssPeakMb, "heap_live_mb" -> heapLiveMb,
          "codegen_fallbacks" -> tracing.fallbacks.count.toDouble)),
        "layers" -> J.nums(layers ++ planStats),
        "oracle_sql" -> sqlJson,
        "spans" -> rec.toJson))
      spark.stop()
      json
    }
  }

  // ------------------------------------------------------------ stream

  /** The paper's pipeline with a MemoryStream in place of the broker:
    * windowedWordCount -> toKafkaJson -> foreachBatchSink. Phase 1 offers
    * events at a fixed rate (open loop); phase 2 drains replays of the
    * same events in fixed-size chunks (closed loop). */
  object StreamRun {
    final class Sink {
      val latest = new java.util.HashMap[String, String]()
      val commits = mutable.ArrayBuffer.empty[(Long, Double, Double)] // batchId, start, end
      def commit(rec: Recorder, df: DataFrame, id: Long): Unit = {
        val s = rec.nowMs
        df.collect().foreach { r =>
          val v = r.getString(0)
          val cut = v.lastIndexOf(",\"count\":")
          latest.put(v.substring(0, cut), v.substring(cut + 9, v.length - 1))
        }
        synchronized(commits += ((id, s, rec.nowMs)))
      }
      /** window start ms, word, count — one line per latest key. */
      def dump(path: Path): Unit = {
        val re = """\{"window":\{"start":"([^"]+)","end":"[^"]+"\},"word":"(.*)"""".r
        val lines = latest.asScala.iterator.map { case (k, cnt) =>
          val re(start, word) = k
          s"${java.time.OffsetDateTime.parse(start).toInstant.toEpochMilli}\t$word\t$cnt"
        }.toSeq
        Files.write(path, lines.asJava, UTF_8)
      }
    }

    def apply(a: Args, rec: Recorder): String = {
      val rate = a.dbl("rate")
      val chunk = a.int("chunk")
      val window = a("window")
      val watermark = a("watermark")
      val shiftMs = a("shift_ms").toLong
      val tickMs = a("tick_ms").toLong
      val cpu0 = Jvm.cpuMs
      val (spark0, startMs, attachMs) = session(a, a.int("cores"), rec)
      var spark = spark0

      // the generated events, in arrival order: event-time ms and sentence
      val (evTs, evText) = {
        val ls = Files.readAllLines(Paths.get(a("inputs"), "stream_events.tsv"), UTF_8).asScala
        (ls.map(l => l.substring(0, l.indexOf('\t')).toLong).toArray,
         ls.map(l => l.substring(l.indexOf('\t') + 1)).toArray)
      }
      val n = evTs.length
      def event(i: Long): (Timestamp, String) = {
        val k = (i % n).toInt
        (new Timestamp(evTs(k) + (i / n) * shiftMs), evText(k))
      }

      final class Pipe(s: SparkSession, ckpt: String) {
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        // one partition, like the reference's single-partition topic; it
        // also keeps a batch's task count independent of how many adds it
        // spans
        val mem = MemoryStream[(Timestamp, String)](1)
        val sink = new Sink
        val query: StreamingQuery = StreamOps.foreachBatchSink(
          StreamOps.toKafkaJson(StreamOps.windowedWordCount(
            mem.toDF().toDF("ts", "sentence"), "sentence", "ts", window, watermark)),
          ckpt)((df, id) => sink.commit(rec, df, id)).outputMode("update").start()
      }
      val run = a("rundir")

      // warm-up: one short untimed stream, so codegen and JIT are paid in setup
      val (_, warmMs) = rec.span("session.warmup") {
        val w = new Pipe(spark, s"$run/ckpt-warmup")
        for (i <- 0L until 2000L by 1000L) {
          w.mem.addData((i until i + 1000).map(event)); w.query.processAllAvailable()
        }
        w.query.stop()
      }
      val setupMs = rec.nowMs
      val setupCpuMs = Jvm.cpuMs - cpu0
      val openSeconds = a.dbl("seconds")

      // ---- open loop: event i is due at i / rate seconds after the start;
      // the generator hands over what is due every `tick_ms`, as a producer
      // flushing its buffer would
      val open = new Pipe(spark, s"$run/ckpt-open")
      val adds = mutable.ArrayBuffer.empty[(Long, Long, Double)] // first, end, added at
      val openCpu0 = Jvm.cpuMs
      val openStart = rec.nowMs
      val (_, openMs) = rec.span("stream.openloop") {
        var next = 0L
        while (rec.nowMs - openStart < openSeconds * 1000) {
          val due = ((rec.nowMs - openStart) / 1000 * rate).toLong + 1
          if (due > next) {
            open.mem.addData((next until due).map(event))
            adds += ((next, due, rec.nowMs))
            next = due
          }
          Thread.sleep(tickMs)
        }
        open.query.processAllAvailable()
      }
      val openCpuMs = Jvm.cpuMs - openCpu0
      open.query.stop()

      // ---- drain: replays of the event set, `chunk` events per add
      val drain = new Pipe(spark, s"$run/ckpt-drain")
      val passes = mutable.ArrayBuffer.empty[String]
      var offered = 0L
      val tracing = new Tracing(spark, rec, a("trace") == "1")
      for (p <- 0 until a.int("passes")) {
        tracing.set(p % 2 == 1)
        passes += J.obj(tracing.pass(Seq("pass" -> p.toString, "events" -> n.toString)) {
          val end = offered + n
          while (offered < end) {
            val to = math.min(end, offered + chunk)
            drain.mem.addData((offered until to).map(event))
            drain.query.processAllAvailable()
            offered = to
          }
        })
      }
      val heapLiveMb = Jvm.liveHeapMb
      drain.query.stop()
      val layers = tracing.finish()
      val openAddedEvents = adds.lastOption.map(_._2).getOrElse(0L)

      def progressJson(q: StreamingQuery): String = q.recentProgress.map { pr =>
        val st = pr.stateOperators.headOption
        J.obj(Seq("batch" -> pr.batchId.toString, "rows" -> pr.numInputRows.toString,
          "end_offset" -> J.str(Option(pr.sources.head.endOffset).getOrElse("")),
          "start_ms" -> J.num(java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble),
          "durations" -> J.nums(pr.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap),
          "state" -> J.nums(st.map(s => Map("rows" -> s.numRowsTotal.toDouble, "bytes" -> s.memoryUsedBytes.toDouble,
            "commit_ms" -> s.commitTimeMs.toDouble, "dropped" -> s.numRowsDroppedByWatermark.toDouble)).getOrElse(Map.empty))))
      }.mkString("[", ",", "]")

      val out = Paths.get(a("out"))
      open.sink.dump(out.resolve("open_counts.tsv"))
      drain.sink.dump(out.resolve("drain_counts.tsv"))

      // traced: the drain replayed on one core
      var eps1 = 0.0
      if (a("trace") == "1") {
        spark.stop()
        spark = GraftSession.builder("local[1]", "perfbench-1core")
          .config("spark.sql.shuffle.partitions", "1")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", s"$run/warehouse")
          .config("spark.local.dir", s"$run/local").getOrCreate()
        GraftSession.attach(spark)
        val one = new Pipe(spark, s"$run/ckpt-1core")
        var i = 0L
        one.mem.addData((0L until chunk.toLong).map(event)); one.query.processAllAvailable(); i = chunk
        val t0 = System.nanoTime()
        while (i < chunk + n) { one.mem.addData((i until i + chunk).map(event)); one.query.processAllAvailable(); i += chunk }
        eps1 = (i - chunk) / ((System.nanoTime() - t0) / 1e9)
        one.query.stop()
      }

      def commitsJson(s: Sink): String =
        s.commits.map { case (id, st, en) => s"[$id,${J.num(st)},${J.num(en)}]" }.mkString("[", ",", "]")
      val json = J.obj(Seq(
        "workload" -> J.str("stream"),
        "manifest" -> J.str(graft.BenchSupport.manifest(a("inputs"))),
        "epoch0_ms" -> J.num(rec.epoch0Ms),
        "setup" -> J.nums(Map("session.start_ms" -> startMs, "session.attach_ms" -> attachMs,
          "session.warmup_ms" -> warmMs,
          "setup_ms" -> setupMs, "setup_cpu_ms" -> setupCpuMs)),
        "open" -> J.obj(Seq(
          "start_ms" -> J.num(openStart), "wall_ms" -> J.num(openMs), "rate" -> J.num(rate),
          "events" -> openAddedEvents.toString,
          "adds" -> adds.map { case (f, e, t) => s"[$f,$e,${J.num(t)}]" }.mkString("[", ",", "]"),
          "cpu_ms" -> J.num(openCpuMs),
          "commits" -> commitsJson(open.sink), "progress" -> progressJson(open.query))),
        "drain" -> J.obj(Seq(
          "events" -> offered.toString, "chunk" -> chunk.toString,
          "passes" -> passes.mkString("[", ",", "]"),
          "commits" -> commitsJson(drain.sink), "progress" -> progressJson(drain.query))),
        "jvm" -> J.nums(Map("rss_peak_mb" -> Jvm.rssPeakMb, "eps_1core" -> eps1, "heap_live_mb" -> heapLiveMb,
          "codegen_fallbacks" -> tracing.fallbacks.count.toDouble)),
        "layers" -> J.nums(layers),
        "spans" -> rec.toJson))
      spark.stop()
      json
    }
  }
}
