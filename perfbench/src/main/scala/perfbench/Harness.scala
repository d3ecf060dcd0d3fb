package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

import graft.core.GraftSession

/** The JVM side of the benchmark: runs one workload's query mix through
  * the engine's public entry points and writes `result.json` to `--out`.
  *
  * Closed loop, one client: each query starts when the previous one has
  * returned. The first pass is untimed and writes every result to parquet
  * under `<out>/results/<query>` for `run.py` to check; [[WarmNoopPasses]]
  * untimed noop-sink passes follow. Timed passes then run until `--seconds`
  * have elapsed (at least [[MinTimedPasses]]), each result fully
  * materialised through the noop sink.
  * Between query executions, outside the timed window, jobs are drained,
  * the engine's caches released and a GC run.
  *
  * Usage: Harness --workload W --input DIR --out DIR --seconds S --trace 0|1
  */
object Harness {
  /** Untimed noop-sink passes between the checked pass and the timed ones. */
  val WarmNoopPasses = 3

  /** Timed passes run until `--seconds` have elapsed, and at least this
    * many: with fewer, the median sits on whichever pass ran first.
    */
  val MinTimedPasses = 3

  /** A query execution that has not returned after this long has failed. */
  val QueryTimeoutS = 60.0

  final case class Query(name: String, body: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** One query execution: wall and process CPU seconds, split into the
    * query body (building the DataFrame, including any eager work) and
    * the final action.
    */
  final case class Execution(query: String, tag: String, wallS: Double,
      cpuS: Double, bodyS: Double, actionS: Double, error: Option[String])

  /** The engine's judged queries in each table workload's mix. */
  val Mixes: Map[String, Seq[String]] = Map(
    "judged" -> Seq("gr11_ppr_seed_expand", "st25_stream_dedup_state",
      "dd18_containment_dedup"))

  def corpusFiles(input: String): Seq[String] =
    Option(Paths.get(input, "corpus").toFile.listFiles).toSeq.flatten
      .map(_.getPath).filter(_.endsWith(".txt")).sorted

  def queries(workload: String, input: String): Seq[Query] = workload match {
    case "wordcount" =>
      val files = corpusFiles(input)
      require(files.nonEmpty, s"no corpus files under $input/corpus")
      Seq(Query("wordcount",
        (spark, _) => graft.operators.WordCount.fromTextFiles(spark, files), None))
    case w =>
      Mixes.getOrElse(w, sys.error(s"unknown workload $w")).map { n =>
        val d = graft.SparkEntry.allDefs(n)
        Query(n, d.fn, d.oracle)
      }
  }

  /** Text the function probes run on: the corpus lines, or `documents`. */
  def probeText(spark: SparkSession, workload: String, input: String): DataFrame =
    if (workload == "wordcount")
      spark.read.text(corpusFiles(input): _*).select(col("value").as("text"))
    else graft.core.Tables(spark, input).documents.select(col("text"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val input = opts("input")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    val sessionS = secs(t0)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val runner = new Runner(spark, input, QueryTimeoutS, tracer)

    val qs = queries(workload, input)
    Files.writeString(Paths.get(out, "oracle.json"), Json.obj(
      qs.flatMap(q => q.oracle.map(sql => q.name -> Json.str(sql)))))

    val w0 = System.nanoTime()
    val warm = qs.map { q =>
      runner.hygiene()
      runner.execute(q, s"warm/${q.name}",
        _.write.mode("overwrite").parquet(s"$out/results/${q.name}"))
    }
    // After the first pass the JIT is still compiling the engine's hot
    // paths; without these passes and the wait for the compiler, timed
    // passes ride that curve and their medians spread ~15 % across runs.
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    val warmNoop = (0 until WarmNoopPasses).flatMap { w =>
      qs.map { q =>
        runner.hygiene()
        runner.execute(q, s"warm$w/${q.name}", noop)
      }
    }
    quiesceJit()
    val warmS = secs(w0)
    // Heap left resident after the cache release and a full GC. Read after a
    // fixed number of passes: read at the end, it grows with the number of
    // timed passes, so it would rise as the engine speeds up.
    runner.hygiene()
    System.gc()
    val liveHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val passes = mutable.ArrayBuffer.empty[Seq[Execution]]
    val timed0 = System.nanoTime()
    while (passes.size < MinTimedPasses || secs(timed0) < seconds) {
      val p = passes.size
      passes += qs.map { q =>
        runner.hygiene()
        runner.execute(q, s"p$p/${q.name}", noop)
      }
    }

    val layers = tracer.map { tr =>
      // the probes' plan events belong to no timed execution
      tr.open("probe")
      val text = probeText(spark, workload, input)
      def probe(df: => DataFrame): Double = median(Seq.fill(3) {
        runner.hygiene()
        val s = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        secs(s)
      })
      import graft.functions.TextFunctions._
      val tokenizeS = probe(text
        .select(explode(tokenize(col("text"))).as("raw"))
        .select(normalizeToken(col("raw")).as("word")))
      val minhashS = probe(text
        .select(graft.operators.Dedup.minhashSignature(col("text"), 64).as("sig")))
      tr.drain()
      Seq("core.session_s" -> sessionS, "queries.warm_pass_s" -> warmS,
        "functions.tokenize_s" -> tokenizeS, "functions.minhash_s" -> minhashS) ++
        Layers.perPass(tr, passes.toSeq, cpus)
    }
    val layersByQuery = tracer.map(tr => Layers.perQuery(tr, passes.toSeq, cpus))

    tracer.foreach(_.close())

    val all = warm ++ warmNoop ++ passes.flatten
    def execJson(e: Execution) = Json.obj(Seq(
      "query" -> Json.str(e.query), "tag" -> Json.str(e.tag),
      "wall_s" -> Json.num(e.wallS), "cpu_s" -> Json.num(e.cpuS),
      "body_s" -> Json.num(e.bodyS), "action_s" -> Json.num(e.actionS)) ++
      e.error.map(m => "error" -> Json.str(m)))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cpus" -> Json.num(cpus),
      "queries" -> Json.arr(qs.map(q => Json.str(q.name))),
      "attempted" -> Json.num(all.size),
      "failed" -> Json.num(all.count(_.error.nonEmpty)),
      "setup_s" -> Json.num(setupS),
      "pass_s" -> Json.num(median(passes.map(_.map(_.wallS).sum).toSeq)),
      "cpu_s" -> Json.num(median(passes.map(_.map(_.cpuS).sum).toSeq)),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "passes" -> Json.num(passes.size),
      "warm" -> Json.arr((warm ++ warmNoop).map(execJson)),
      "timed" -> Json.arr(passes.toSeq.map(p => Json.arr(p.map(execJson))))) ++
      layers.map(ls => "layers" -> metricsJson(ls)) ++
      layersByQuery.map(bq => "layers_by_query" ->
        Json.obj(bq.map { case (q, ls) => q -> metricsJson(ls) })))
    Files.writeString(Paths.get(out, "result.json"), result)
    spark.stop()
  }

  def metricsJson(ls: Seq[(String, Double)]): String =
    Json.obj(ls.map { case (k, v) => k -> Json.num(v) })

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wait (at most 10 s) until the JIT has compiled what the warm-up
    * queued: its compile time stops growing for half a second.
    */
  def quiesceJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var now = jit.getTotalCompilationTime
    while (now != last && System.nanoTime() < deadline) {
      Thread.sleep(500)
      last = now
      now = jit.getTotalCompilationTime
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Runs query executions one at a time, each on its own thread under its
  * own job group and with a timeout, so a hung or failing query is
  * recorded as one failed execution and the run goes on.
  */
final class Runner(spark: SparkSession, input: String, timeoutS: Double,
    tracer: Option[Tracer]) {
  import Harness.{Execution, Query, secs}

  private val sc = spark.sparkContext
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def execute(q: Query, tag: String, sink: DataFrame => Unit): Execution = {
    @volatile var bodyS, actionS = 0.0
    @volatile var error: Option[String] = None
    val worker = new Thread(() => {
      try {
        sc.setJobGroup(tag, q.name, interruptOnCancel = true)
        phase(s"$tag/body")
        val b0 = System.nanoTime()
        val df = q.body(spark, input)
        bodyS = secs(b0)
        phase(s"$tag/action")
        val a0 = System.nanoTime()
        sink(df)
        actionS = secs(a0)
      } catch {
        case e: Throwable => error = Some(Runner.firstLine(e))
      } finally tracer.foreach(_.drain())
    }, s"perfbench-$tag")
    worker.setDaemon(true)
    val c0 = os.getProcessCpuTime
    val w0 = System.nanoTime()
    worker.start()
    worker.join((timeoutS * 1000).toLong)
    val wallS = secs(w0)
    val cpuS = (os.getProcessCpuTime - c0) / 1e9
    if (worker.isAlive) {
      sc.cancelJobGroup(tag)
      spark.streams.active.foreach(s => try s.stop() catch { case _: Exception => })
      worker.interrupt()
      worker.join(30000)
      error = Some(s"timed out after $timeoutS s")
    }
    error.foreach(m => System.err.println(s"[perfbench] $tag failed: $m"))
    Execution(q.name, tag, wallS, cpuS, bodyS, actionS, error)
  }

  private def phase(tag: String): Unit = {
    tracer.foreach(_.open(tag))
    sc.setLocalProperty(Tracer.TagKey, tag)
  }

  /** Untimed hygiene between executions: wait for stragglers (an AQE-
    * abandoned stage can outlive its action), drop the engine's resident
    * caches, unload state stores, collect garbage.
    */
  def hygiene(): Unit = {
    val st = sc.statusTracker
    val deadline = System.nanoTime() + 10000000000L
    while ((st.getActiveStageIds().nonEmpty || st.getActiveJobIds().nonEmpty) &&
        System.nanoTime() < deadline)
      Thread.sleep(10)
    graft.queries.TextQueries.releaseCaches()
    graft.queries.SketchQueries.releaseCaches()
    graft.operators.Graph.releaseCaches()
    // unloading providers under a live stream would fail its next batch
    if (spark.streams.active.isEmpty)
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
  }
}

object Runner {
  def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.find(_.trim.nonEmpty))
      .getOrElse(e.getClass.getName)
}

/** Per-module metrics of the timed passes: each is computed per pass from
  * the tracer's counters for that pass's tags, then the median is taken.
  */
object Layers {
  import Harness.{Execution, median}

  def perPass(tr: Tracer, passes: Seq[Seq[Execution]], cpus: Int): Seq[(String, Double)] =
    medians(passes.map(p => one(tr, p, cpus)))

  /** The same metrics for each query alone: the median over its timed
    * executions, so one query's share of a pass can be read apart.
    */
  def perQuery(tr: Tracer, passes: Seq[Seq[Execution]], cpus: Int): Seq[(String, Seq[(String, Double)])] =
    passes.head.map(_.query).map { q =>
      q -> medians(passes.flatMap(_.filter(_.query == q)).map(e => one(tr, Seq(e), cpus)))
    }

  private def medians(rows: Seq[mutable.LinkedHashMap[String, Double]]): Seq[(String, Double)] =
    rows.head.keys.toSeq.map(k => k -> median(rows.map(_(k))))

  private def one(tr: Tracer, pass: Seq[Execution], cpus: Int): mutable.LinkedHashMap[String, Double] = {
    val body = pass.map(e => tr.counters(s"${e.tag}/body"))
    val action = pass.map(e => tr.counters(s"${e.tag}/action"))
    val all = body ++ action
    def sum(f: Tracer.Counters => Double, cs: Seq[Tracer.Counters] = all) =
      cs.map(c => c.synchronized(f(c))).sum
    val mb = 1048576.0
    val wall = pass.map(_.wallS).sum
    val taskCpuS = sum(_.taskCpuNs / 1e9)
    // the longest stage of the pass, and its slowest task against its median one
    val stages = all.flatMap(c => c.synchronized(c.stageWallMs.toSeq.map { case (id, w) =>
      (w, c.taskMs.getOrElse(id, Nil).map(_.toDouble).toSeq) }))
    val skew = stages.filter(_._2.nonEmpty).sortBy(-_._1).headOption.map { case (_, ts) =>
      ts.max / math.max(median(ts), 1.0)
    }.getOrElse(1.0)
    val progress = all.flatMap(c => c.synchronized(c.progress.toSeq))
    // state at the end of each stream: its last progress report
    val lastOfStream = progress.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    val ops = all.flatMap(c => c.synchronized(c.stateOperators))
    mutable.LinkedHashMap(
      "queries.body_s" -> pass.map(_.bodyS).sum,
      "queries.body_jobs" -> sum(_.jobs.toDouble, body),
      "plans.plan_s" -> sum(_.planMs / 1e3, action),
      "plans.exchanges" -> sum(_.exchanges.toDouble, action),
      "plans.reused_exchanges" -> sum(_.reusedExchanges.toDouble, action),
      "operators.action_s" -> pass.map(_.actionS).sum,
      "operators.jobs" -> sum(_.jobs.toDouble),
      "operators.stages" -> sum(_.stages.toDouble),
      "operators.tasks" -> sum(_.tasks.toDouble),
      "operators.task_cpu_s" -> taskCpuS,
      "operators.task_run_s" -> sum(_.taskRunMs / 1e3),
      "operators.core_util" -> taskCpuS / (wall * cpus),
      "operators.gc_s" -> sum(_.gcMs / 1e3),
      "operators.shuffle_write_mb" -> sum(_.shuffleWriteBytes / mb),
      "operators.shuffle_read_mb" -> sum(_.shuffleReadBytes / mb),
      "operators.spill_mb" -> sum(_.spillBytes / mb),
      "operators.task_skew" -> skew,
      "sources.input_mb" -> sum(_.inputBytes / mb),
      "sources.input_rows" -> sum(_.inputRows.toDouble),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.batch_p50_s" -> median(all.flatMap(c => c.synchronized(c.triggerSeconds))),
      "streaming.commit_s" -> ops.map(_.commitTimeMs / 1e3).sum,
      "streaming.state_rows" -> lastOfStream.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mb" -> lastOfStream.flatMap(_.stateOperators).map(_.memoryUsedBytes / mb).sum)
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def num(i: Int): String = i.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
