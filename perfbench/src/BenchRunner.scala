package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, StorageHygiene, TopicAnalyzer, Verify}
import graft.functions.TextFunctions
import graft.operators.{AliveKeys, Bpe, TopicMetrics}
import graft.sources.{EventsAsRecords, KafkaRecordSource}

/** JVM side of the benchmark: runs one workload in a closed loop (one
  * client, next op only after the previous one returned) against a
  * `local[cores]` session and writes its raw samples as JSON. Every
  * layer is timed from outside, around calls into the program's public
  * API; `run.py` turns the samples into metrics and checks outputs.
  *
  * Usage: BenchRunner <workload> <dataDir> <seconds> <trace 0|1>
  *   <cores> <outJson> <spansJsonl>
  */
object BenchRunner {

  val SetupRounds = 5
  val KernelReps = 3
  /** Untimed passes run while the next one, as long as the last, ends
    * within this long after the reference pass began. On a shared 4-core
    * box the `topic_scan` pass still got faster 15 s in, and a pass
    * timed 5 s in ran 40% slower than a settled one. The `corpus_text`
    * reference pass takes 13-19 s, so that workload gets no more. */
  val WarmupSeconds = 22.0
  /** Timed passes run at least this often, so that a `corpus_text` run
    * has the same number of op samples (and tail rank) on a slow host. */
  val MinPasses = 2

  // ---------------------------------------------------------------- spans

  final case class Span(id: Int, parent: Int, name: String, op: Int,
      startNs: Long, endNs: Long)

  /** Records a span per layer call when enabled; otherwise a plain call.
    * The span name rides the thread's Spark local properties, so the
    * listener can attribute jobs, stages and tasks to the layer that
    * launched them. */
  final class Tracer(var enabled: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    var op = 0
    private var stack: List[(Int, String)] = Nil
    private var nextId = 0

    def span[A](name: String)(body: => A): A =
      if (!enabled) body
      else {
        val id = nextId
        nextId += 1
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        stack = (id, name) :: stack
        val sc = SparkSession.active.sparkContext
        sc.setLocalProperty(SpanProp, name)
        val t0 = System.nanoTime()
        try body
        finally {
          spans += Span(id, parent, name, op, t0, System.nanoTime())
          stack = stack.tail
          sc.setLocalProperty(SpanProp, stack.headOption.map(_._2).orNull)
        }
      }
  }

  val SpanProp = "perfbench.span"

  // ------------------------------------------------------------- listener

  final class Counters {
    var jobs, stages, tasks, runMs, cpuNs, spill, shuffleWrite,
      shuffleRead, fetchWaitMs = 0L
    def +=(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; spill += o.spill
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      fetchWaitMs += o.fetchWaitMs
    }
  }

  /** Jobs, stages and task metrics, keyed by the span that launched the
    * job (the innermost open span at job submission). */
  final class ExecListener extends SparkListener {
    val bySpan = mutable.Map.empty[String, Counters]
    private val stageSpan = mutable.Map.empty[Int, String]

    private def of(span: String) = bySpan.getOrElseUpdate(span, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).getOrElse("-")
      of(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        of(stageSpan.getOrElse(e.stageInfo.stageId, "-")).stages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = of(stageSpan.getOrElse(e.stageId, "-"))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.spill += m.diskBytesSpilled
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }

    def total(spans: String => Boolean): Counters = synchronized {
      val t = new Counters
      bySpan.foreach { case (s, c) => if (spans(s)) t += c }
      t
    }

    def reset(): Unit = synchronized { bySpan.clear(); stageSpan.clear() }
  }

  // ------------------------------------------------------------ workloads

  /** One workload: the ops of one pass and how to run, check and
    * decompose them. */
  trait Workload {
    def ops: IndexedSeq[String]
    /** The generated input file the ops read. */
    def inputFile: String
    /** Run one op; true when it succeeded and its output is correct. */
    def run(spark: SparkSession, op: String, t: Tracer): Boolean
    /** Untimed reference pass whose outputs are checked by `run.py`;
      * returns JSON fields for the result file. */
    def check(spark: SparkSession, t: Tracer): Seq[(String, String)]
    /** Each layer kernel applied alone (traced runs only). */
    def kernels(spark: SparkSession): Seq[(String, () => Unit)]
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The default CLI path (`isEmpty` guard, analyze, report) over a
    * Kafka-schema record log. */
  final class TopicWorkload(dir: String) extends Workload {
    val ops = IndexedSeq("analyze")
    val inputFile = s"$dir/log.parquet"
    private var reference: TopicAnalyzer.Result = _
    private val t0 = System.nanoTime()

    private def records(spark: SparkSession): DataFrame =
      KafkaRecordSource.project(spark.read.parquet(inputFile))

    def run(spark: SparkSession, op: String, t: Tracer): Boolean = {
      val records = t.span("sources.project")(this.records(spark))
      if (t.span("operators.is_empty")(TopicMetrics.isEmpty(records))) false
      else {
        val res = t.span("operators.analyze")(
          TopicAnalyzer.analyze(records, countAliveKeys = false))
        val report = t.span("report.render")(TopicAnalyzer.report(
          res, "perfbench", (System.nanoTime() - t0) / 1000000000L))
        if (reference == null) reference = res
        res == reference && report.contains("perfbench")
      }
    }

    def check(spark: SparkSession, t: Tracer): Seq[(String, String)] = {
      require(run(spark, ops.head, t), "reference op failed")
      val rows = reference.partitionStats.map(p =>
        obj(p.productElementNames.zip(p.productIterator.map(num)).toSeq))
      val s = reference.summary
      val cte = EventsAsRecords.oracleCte
      val oracle = Seq("q_partition_stats", "q_topic_summary")
        .map { q =>
          val sql = SparkEntry.oracleSql(q)
          require(sql.startsWith(cte), s"$q oracle does not start with the records CTE")
          q -> str("WITH records AS (SELECT * FROM perf_records)" +
            sql.stripPrefix(cte))
        }
      Seq(
        "records" -> records(spark).count().toString,
        "result" -> obj(Seq(
          "partitions" -> rows.mkString("[", ",", "]"),
          "summary" -> obj(s.productElementNames.zip(
            s.productIterator.map(num)).toSeq))),
        "oracle" -> obj(oracle))
    }

    def kernels(spark: SparkSession): Seq[(String, () => Unit)] = {
      val r = records(spark)
      Seq(
        "sources.scan" -> (() => noop(r)),
        "operators.topic_metrics" -> (() =>
          TopicMetrics.withDerived(TopicMetrics.partitionStats(r)).collect()),
        "operators.alive_keys" -> (() => AliveKeys.exact(r)))
    }
  }

  /** The doc-only text family of the query registry over a generated
    * `documents.parquet`; one op is one query, built, planned and
    * written to the `noop` sink. */
  final class RegistryWorkload(dir: String, names: IndexedSeq[String],
      outDir: String) extends Workload {
    val ops = names
    val inputFile = s"$dir/documents.parquet"

    def run(spark: SparkSession, op: String, t: Tracer): Boolean = {
      val df = t.span("registry.build")(SparkEntry.queries(op)(spark, dir))
      if (t.enabled) t.span("registry.plan")(df.queryExecution.executedPlan)
      t.span("registry.exec")(noop(df))
      t.span("registry.release")(
        StorageHygiene.releaseAndSweep(spark, "perfbench", op, Some(df)))
      true
    }

    def check(spark: SparkSession, t: Tracer): Seq[(String, String)] = {
      val failed = names.filterNot { q =>
        try {
          val df = SparkEntry.queries(q)(spark, dir)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
          StorageHygiene.releaseAndSweep(spark, "perfbench", q, Some(df))
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
            false
        }
      }
      Verify.dumpOracleSql(outDir, names)
      Seq("check_dir" -> str(outDir),
        "check_failed" -> failed.map(str).mkString("[", ",", "]"))
    }

    def kernels(spark: SparkSession): Seq[(String, () => Unit)] = {
      val docs = spark.read.parquet(inputFile)
      Seq(
        "sources.scan" -> (() => noop(docs)),
        "operators.bpe_merges" -> (() => Bpe.trainMerges(docs)),
        "operators.bpe_encode" -> (() =>
          noop(Bpe.encodeCounts(docs, Bpe.PinnedMerges))),
        "operators.bpe_fit" -> (() => noop(Bpe.tokenizerFit(docs))),
        "functions.redact_pii" -> (() =>
          noop(docs.select(TextFunctions.redactPii(col("text"))))),
        "functions.clean_text" -> (() =>
          noop(docs.select(TextFunctions.cleanText(col("text"))))))
    }
  }

  /** The doc-only text family: text statistics, the three tokenizer
    * queries (BPE train, encode, fit), PII redaction and the corpus
    * packing transforms. */
  val CorpusQueries: IndexedSeq[String] = IndexedSeq(
    "q_repetition", "q_text_clean", "q_text_stats", "q_lang_id", "q_quality",
    "q_bpe_merges", "q_bpe_encode", "q_tokenizer_fit", "q_pii_redact",
    "q_pack_stats", "q_doc_chunks", "q_doc_keywords")

  // ----------------------------------------------------------------- json

  private def str(s: String): String = Verify.jsonEscape(s)
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Iterable[Double]): String = xs.mkString("[", ",", "]")
  private def num(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }

  // ------------------------------------------------------------- sessions

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  // ----------------------------------------------------------------- main

  final case class OpSample(name: String, seconds: Double, ok: Boolean)

  /** One pass: every op of the workload once, in order; its seconds. */
  private def pass(spark: SparkSession, wl: Workload, t: Tracer,
      ops: mutable.ArrayBuffer[OpSample]): Double = {
    val p0 = System.nanoTime()
    wl.ops.foreach { op =>
      t.op += 1
      val o0 = System.nanoTime()
      val ok =
        try t.span("op")(wl.run(spark, op, t))
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $op failed: ${e.getMessage}")
            false
        }
      ops += OpSample(op, secs(o0), ok)
    }
    secs(p0)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, secondsArg, traceArg, coresArg, outJson,
      spansOut) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val localDir = s"$dataDir/spark-local"

    def makeWorkload(): Workload = workload match {
      case "topic_scan" => new TopicWorkload(dataDir)
      case "corpus_text" =>
        new RegistryWorkload(dataDir, CorpusQueries, s"$dataDir/check")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, several times: session start, input load, one warm-up op;
    // the first round is measured from JVM start
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    val tracer = new Tracer(false)
    for (round <- 0 until SetupRounds) {
      if (spark != null) spark.stop()
      val r0 = System.nanoTime()
      val sinceJvmStart =
        if (round == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      spark = session(cores, localDir)
      val sessionS = secs(r0)
      wl = makeWorkload()
      wl.run(spark, wl.ops.head, tracer)
      setups += sinceJvmStart + secs(r0)
      System.err.println(f"[perfbench] set-up round $round: JVM start " +
        f"$sinceJvmStart%.2f s, session $sessionS%.2f s, warm-up op " +
        f"${secs(r0) - sessionS}%.2f s")
    }

    val c0 = System.nanoTime()
    val checkFields = wl.check(spark, tracer)
    System.err.println(f"[perfbench] reference pass ${secs(c0)}%.2f s")
    val ops = mutable.ArrayBuffer.empty[OpSample]
    // warm-up: the reference pass plus untimed passes that end within
    // WarmupSeconds, so the JIT has settled before timing
    val warmOps = mutable.ArrayBuffer.empty[OpSample]
    var last = secs(c0)
    while (secs(c0) + last < WarmupSeconds)
      last = pass(spark, wl, tracer, warmOps)
    ops ++= warmOps.filter(!_.ok)
    System.err.println(f"[perfbench] ${warmOps.size} warm-up ops")
    val fields = mutable.ArrayBuffer.empty[(String, String)]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()

    if (!trace) {
      // closed loop: whole passes until the window has elapsed
      while (untraced.size < MinPasses || secs(start) < seconds)
        untraced += pass(spark, wl, tracer, ops)
    } else {
      // untraced and traced passes alternate (spans on, listener
      // attached), so their difference is the tracing overhead
      val traced = mutable.ArrayBuffer.empty[Double]
      val listener = new ExecListener
      var gcMsTraced, jitMsTraced = 0L
      while (untraced.isEmpty || traced.isEmpty || secs(start) < seconds) {
        if (untraced.size > traced.size) {
          spark.sparkContext.addSparkListener(listener)
          tracer.enabled = true
          val (gc0, jit0) = (gcMs(), jitMs())
          traced += pass(spark, wl, tracer, ops)
          gcMsTraced += gcMs() - gc0
          jitMsTraced += jitMs() - jit0
          tracer.enabled = false
          org.apache.spark.graftbridge.ListenerBusBridge
            .waitUntilEmpty(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        } else untraced += pass(spark, wl, tracer, ops)
      }
      val nPass = traced.size.toDouble
      val passSpans = tracer.spans.toSeq
      val exec = listener.total(_ => true)
      val regJobs = listener.total(_.startsWith("registry.")).jobs
      val buildJobs = listener.total(_ == "registry.build").jobs

      // each kernel alone, KernelReps times; median seconds
      listener.reset()
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
      val kernels = wl.kernels(spark)
      val kernelTimes = kernels.map { case (name, f) =>
        val times = (0 until KernelReps).map { _ =>
          val k0 = System.nanoTime()
          tracer.span(name)(f())
          secs(k0)
        }
        StorageHygiene.releaseAndSweep(spark, "perfbench", name, None)
        name -> median(times)
      }.toMap
      org.apache.spark.graftbridge.ListenerBusBridge
        .waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val scan = listener.total(_ == "sources.scan")

      // per-pass inclusive seconds per span name, and the ops' self time
      def dur(s: Span) = (s.endNs - s.startNs) / 1e9
      val children = passSpans.groupBy(_.parent)
      val perName = passSpans.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(dur).sum / nPass }
      val opSelf = passSpans.filter(_.parent == -1).map { s =>
        dur(s) - children.getOrElse(s.id, Nil).map(dur).sum }.sum / nPass
      val tracedTotal = traced.sum

      val layers = mutable.LinkedHashMap.empty[String, Double]
      def span(n: String): Unit = layers(s"${n}_s") = perName.getOrElse(n, 0.0)
      def kernel(n: String): Unit = layers(s"${n}_s") = kernelTimes.getOrElse(n, 0.0)
      kernel("sources.scan")
      layers("sources.scan_tasks_n") = scan.tasks.toDouble / KernelReps
      layers("sources.input_bytes") = Files.size(Paths.get(wl.inputFile)).toDouble
      Seq("sources.project", "operators.is_empty", "operators.analyze")
        .foreach(span)
      Seq("operators.topic_metrics", "operators.alive_keys",
        "operators.bpe_merges", "operators.bpe_encode", "operators.bpe_fit",
        "functions.redact_pii", "functions.clean_text").foreach(kernel)
      Seq("report.render", "registry.build", "registry.plan", "registry.exec",
        "registry.release").foreach(span)
      layers("registry.jobs_n") = regJobs / nPass
      layers("registry.build_jobs_n") = buildJobs / nPass
      layers("exec.jobs_n") = exec.jobs / nPass
      layers("exec.stages_n") = exec.stages / nPass
      layers("exec.tasks_n") = exec.tasks / nPass
      layers("exec.task_run_s") = exec.runMs / 1e3 / nPass
      layers("exec.task_cpu_s") = exec.cpuNs / 1e9 / nPass
      layers("exec.core_util") = exec.runMs / 1e3 / (tracedTotal * cores)
      layers("exec.spill_bytes") = exec.spill / nPass
      layers("exec.shuffle_write_bytes") = exec.shuffleWrite / nPass
      layers("exec.shuffle_read_bytes") = exec.shuffleRead / nPass
      layers("exec.fetch_wait_s") = exec.fetchWaitMs / 1e3 / nPass
      layers("exec.gc_s") = gcMsTraced / 1e3 / nPass
      layers("exec.jit_s") = jitMsTraced / 1e3 / nPass
      layers("op.self_s") = opSelf
      layers("trace.pass_s") = median(traced.toSeq)
      layers("trace.untraced_pass_s") = median(untraced.toSeq)
      layers("trace.overhead_s") = median(traced.toSeq) - median(untraced.toSeq)
      fields += "layers" -> obj(layers.toSeq.map { case (k, v) => k -> num(v) })

      val w = new StringBuilder
      tracer.spans.foreach { s =>
        w ++= obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> str(s.name), "op" -> s.op.toString,
          "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
        w += '\n'
      }
      Files.writeString(Paths.get(spansOut), w.toString)
    }

    spark.stop()
    val opJson = ops.map(o => obj(Seq("name" -> str(o.name),
      "s" -> num(o.seconds), "ok" -> o.ok.toString)))
    val out = Seq(
      "workload" -> str(workload),
      "cores" -> cores.toString,
      "setup_s" -> arr(setups),
      "pass_s" -> arr(untraced),
      "ops" -> opJson.mkString("[", ",", "]"),
      "peak_rss_mb" -> num(peakRssMb())) ++ fields ++ checkFields
    Files.writeString(Paths.get(outJson), obj(out))
  }
}
