package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.graftshim.ListenerDrain

import graft.SparkEntry

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs, starts
  * this main once per run and turns what it writes into metrics.
  *
  * One run: set up (SparkSession build + one warm-up pass over the
  * workload's own input that also dumps every output for the oracle), then
  * `passes` timed passes through the noop sink. With `trace=1` it times one
  * untraced pass, then a traced and another untraced pass; then, over the
  * queries the workload does not run, a pass that dumps their outputs for
  * the oracle and a traced pass; then the single-layer timings (`Layers`).
  * Every query execution is counted; one that throws or overruns
  * `TimeoutS` is a failure, which run.py keeps out of the timing samples.
  *
  * usage: PerfBench key=value ... (see `Args`)
  */
object PerfBench {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def get(k: String): Option[String] = kv.get(k).filter(_.nonEmpty)
    def list(k: String): Seq[String] = get(k).map(_.split(",").toSeq).getOrElse(Nil)
  }

  /** A query that always fails, for the failure-accounting self-check. */
  val PlantedFailure = "planted_failure"

  /** a query execution running longer than this is cancelled and failed. */
  val TimeoutS = 60L

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val nproc = a("nproc").toInt
    val trace = a("trace") == "1"
    val queries = a.list("queries")
    val data = a("data")
    val res = new Json.Obj

    val tSetup = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.local.dir", a("tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val runner = new Runner(spark, rec)

    // set-up: the warm-up pass runs every query once on this run's input
    // and writes its rows for the oracle (outside the timed passes)
    val warm = runner.pass(data, queries, dumpTo(a("dump"), queries))
    val setupS = (System.nanoTime() - tSetup) / 1e9
    res("setup_s") = Json.num(setupS)
    res("warmup") = warm.json

    // timed passes: closed loop, one client, one query after another; a
    // traced run times one untraced pass, to compare with its traced pass
    val nPasses = if (trace) 1 else a("passes").toInt
    val passes = (1 to nPasses).map(_ => runner.pass(data, queries, _ => noop))
    res("passes") = Json.arr(passes.map(_.json).toSeq)

    if (trace) {
      val tracer = new Tracer
      // untraced passes on both sides of the traced one, so JIT warm-up
      // does not count as tracing overhead
      val counted = a.list("count_rows").toSet
      val traced = runner.tracedPass(tracer, "pass", data, queries, counted)
      val after = runner.pass(data, queries, _ => noop)
      res("overhead") = Json.obj(Seq(
        "untraced_wall_s" -> Json.num((passes.last.wallS + after.wallS) / 2),
        "traced_wall_s" -> Json.num(traced.wallS)))
      res("traced") = traced.json
      res("after") = after.json
      // every per-query name is reported in every traced run: the queries
      // this workload does not run go over the x1 input of the same seed,
      // once to dump their outputs for the oracle (their warm-up), once traced
      val others = a.list("other_queries")
      if (others.nonEmpty) {
        val od = a("other_data")
        res("other_warmup") = runner.pass(od, others, dumpTo(a("other_dump"), others)).json
        res("traced_other") = runner.tracedPass(tracer, "other_queries", od, others, counted).json
      }
      res("layers") = new Layers(spark, tracer, a("seed").toLong, nproc, data, a("rows").toLong).run()
      Files.writeString(out.resolve("trace.json"), tracer.json)
    }
    spark.stop()
    Files.writeString(out.resolve("result.json"), res.render)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** a sink writing each query's rows to `dir`/<query> for the oracle check,
    * beside the frozen oracle texts of `queries` in `dir`/oracle_sql.json. */
  def dumpTo(dir: String, queries: Seq[String]): String => DataFrame => Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
        .map { case (k, v) => k -> Json.str(v) }).render)
    q => df => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
  }

  /** One query execution's record. */
  final class QueryResult(val q: String) {
    var planS, actionS = 0.0
    var error: String = null
    var plan, action: Counters = null
    var outRows = -1L
    var heapMb = 0.0
    var driverGapS = 0.0
    def wallS: Double = planS + actionS
    def json: Json.Obj = {
      val o = Json.obj(Seq("q" -> Json.str(q), "plan_s" -> Json.num(planS),
        "action_s" -> Json.num(actionS), "ok" -> Json.bool(error == null)))
      if (error != null) o("error") = Json.str(error)
      if (action != null) {
        o("plan_counters") = plan.json
        o("driver_gap_s") = Json.num(driverGapS)
        o("out_rows") = Json.num(outRows.toDouble)
        o("counters") = action.json
      }
      o
    }
  }

  /** A pass's wall time is the sum of its queries' plan and action times,
    * so the bookkeeping between queries (GC, cache release) is not in it. */
  final class PassResult(val queries: Seq[QueryResult], val all: Counters) {
    val wallS: Double = queries.map(_.wallS).sum
    val heapPeakMb: Double = queries.map(_.heapMb).max
    def json: Json.Obj = Json.obj(Seq(
      "wall_s" -> Json.num(wallS), "heap_peak_mb" -> Json.num(heapPeakMb),
      "counters" -> all.json, "queries" -> Json.arr(queries.map(_.json))))
  }

  /** Runs queries through a sink, one after another; counts failures. */
  final class Runner(spark: SparkSession, rec: Recorder) {
    private val sc = spark.sparkContext
    private val timer = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-timeout"); t.setDaemon(true); t
    }
    private var nGroup = 0

    def drain(): Unit = ListenerDrain.waitUntilEmpty(sc)

    /** plan + action of one query under a job group that a timer cancels. */
    private def exec(q: String, dir: String, sink: DataFrame => Unit,
                     onPlanned: () => Unit = () => ()): QueryResult = {
      val r = new QueryResult(q)
      nGroup += 1
      val group = s"perfbench-$nGroup"
      sc.setJobGroup(group, q, interruptOnCancel = true)
      @volatile var timedOut = false
      val cancel = timer.schedule(new Runnable {
        def run(): Unit = { timedOut = true; sc.cancelJobGroup(group) }
      }, TimeoutS, TimeUnit.SECONDS)
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df =
          if (q == PlantedFailure) sys.error("planted failure")
          else SparkEntry.queries(q)(spark, dir)
        t1 = System.nanoTime()
        onPlanned()
        sink(df)
      } catch {
        case e: Throwable => r.error = String.valueOf(e).take(300).replace('\n', ' ')
      } finally {
        cancel.cancel(false)
        sc.clearJobGroup()
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      if (timedOut && r.error != null) r.error = s"timeout after ${TimeoutS}s: ${r.error}"
      r.planS = (t1 - t0) / 1e9
      r.actionS = (t2 - t1) / 1e9
      // the heap still holding what the query keeps (persisted frames,
      // broadcasts) once a full collection has run
      System.gc()
      r.heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      // operators persist intermediates; release them so passes stay cold
      spark.catalog.clearCache()
      graft.operators.CacheBin.drain()
      r
    }

    def pass(dir: String, queries: Seq[String], sink: String => DataFrame => Unit): PassResult = {
      drain()
      val c = rec.scope()
      val rs = queries.map(q => exec(q, dir, sink(q)))
      drain()
      new PassResult(rs, c)
    }

    /** A pass with a span per query plan and action, and listener counters
      * scoped to each of them. Drains between steps, so its wall time is
      * higher than an untraced pass; the difference is the tracing overhead.
      */
    def tracedPass(tr: Tracer, name: String, dir: String, queries: Seq[String],
                   countRows: Set[String]): PassResult = {
      drain()
      val all = rec.scope()
      val passSpan = tr.open(name, -1)
      val rs = queries.map { q =>
        drain()
        val planC = rec.scope(all)
        val qSpan = tr.open(q, passSpan)
        val planSpan = tr.open("plan", qSpan)
        var actionSpan = -1
        var actionC: Counters = null
        val r = exec(q, dir, noop, () => {
          tr.close(planSpan)
          drain()
          actionC = rec.scope(all)
          actionSpan = tr.open("action", qSpan)
        })
        if (actionSpan < 0) { tr.close(planSpan); actionSpan = tr.open("action", qSpan) }
        tr.close(actionSpan)
        tr.close(qSpan)
        drain()
        r.plan = planC
        r.action = if (actionC != null) actionC else new Counters
        if (countRows(q)) {
          // output rows, from one more execution outside the spans and scopes
          rec.scope()
          r.outRows = try SparkEntry.queries(q)(spark, dir).count() catch { case _: Throwable => -1L }
          spark.catalog.clearCache()
          graft.operators.CacheBin.drain()
          drain()
        }
        val (a0, a1) = tr.bounds(actionSpan)
        r.action.jobSpans.foreach { case (id, s, e) => tr.add(s"job $id", actionSpan, s, e) }
        r.action.stageSpans.foreach { case (id, s, e, job) =>
          tr.add(s"stage $id", tr.lastJobSpan(actionSpan, job), s, e)
        }
        r.driverGapS = (a1 - a0 - covered(r.action.stageSpans.map(x => (x._2, x._3)).toSeq, a0, a1)) / 1e3
        r
      }
      tr.close(passSpan)
      new PassResult(rs, all)
    }
  }

  /** length of the union of [s, e] intervals clipped to [lo, hi], in ms. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0.0
    var open = false
    xs.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total
  }

  /** Listener totals for one scope (a pass, a query's plan or action). */
  final class Counters {
    var jobs, stages, tasks, cpuNs, gcMs, schedDelayMs = 0L
    var shuffleBytes, shuffleRecords, inRecords, spillBytes = 0L
    val jobSpans = mutable.ArrayBuffer[(Int, Double, Double)]()
    val stageSpans = mutable.ArrayBuffer[(Int, Double, Double, Int)]()
    def json: Json.Obj = Json.obj(Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_s" -> cpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "sched_delay_s" -> schedDelayMs / 1e3,
      "shuffle_bytes" -> shuffleBytes, "shuffle_records" -> shuffleRecords,
      "in_records" -> inRecords, "spill_bytes" -> spillBytes)
      .map { case (k, v) => k -> Json.num(v.toString.toDouble) })
  }

  /** The one Spark listener. Events update every open scope; a scope is
    * opened after draining the bus, so it sees only what runs inside it.
    */
  final class Recorder extends SparkListener {
    @volatile private var scopes: List[Counters] = Nil
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

    /** a fresh scope; `parent` stays open beside it. */
    def scope(parent: Counters = null): Counters = synchronized {
      val c = new Counters
      scopes = c :: (if (parent == null) Nil else List(parent))
      c
    }

    private def each(f: Counters => Unit): Unit = synchronized(scopes.foreach(f))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      each(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.remove(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
      each(_.jobSpans += ((e.jobId, s, e.time.toDouble)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val s = si.submissionTime.getOrElse(0L).toDouble
      val end = si.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      val job = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
      each { c => c.stages += 1; c.stageSpans += ((si.stageId, s, end, job)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val submit = Option(stageSubmit.get(e.stageId)).map(_.longValue)
        .getOrElse(e.taskInfo.launchTime)
      each { c =>
        c.tasks += 1
        c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - submit)
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          c.inRecords += m.inputMetrics.recordsRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** In-memory spans, written out when the run ends. Times are epoch ms so
    * listener job and stage times line up with the benchmark's own spans.
    */
  final class Tracer {
    private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
    private def now = base + System.nanoTime() / 1e6
    private val names = mutable.ArrayBuffer[String]()
    private val parents = mutable.ArrayBuffer[Int]()
    private val starts = mutable.ArrayBuffer[Double]()
    private val ends = mutable.ArrayBuffer[Double]()

    def open(name: String, parent: Int): Int = add(name, parent, now, Double.NaN)
    def close(id: Int): Unit = ends(id) = now
    def add(name: String, parent: Int, s: Double, e: Double): Int = {
      names += name; parents += parent; starts += s; ends += e
      names.size - 1
    }
    def bounds(id: Int): (Double, Double) = (starts(id), ends(id))
    /** the job span under `action` with this job id (stages hang under it). */
    def lastJobSpan(action: Int, job: Int): Int =
      names.indices.reverseIterator
        .find(i => parents(i) == action && names(i) == s"job $job").getOrElse(action)

    /** self time = duration minus the union of the children's intervals. */
    def json: String = {
      val kids = names.indices.groupBy(parents(_))
      Json.arr(names.indices.map { i =>
        val d = ends(i) - starts(i)
        val ch = kids.getOrElse(i, Nil).map(k => (starts(k), ends(k)))
        Json.obj(Seq("id" -> Json.num(i), "parent" -> Json.num(parents(i)),
          "name" -> Json.str(names(i)), "start_ms" -> Json.num(starts(i)),
          "dur_ms" -> Json.num(d), "self_ms" -> Json.num(d - covered(ch, starts(i), ends(i)))))
      }).render
    }
  }

  /** Minimal JSON writer (the result is read by run.py). */
  object Json {
    sealed trait V { def render: String }
    final class Raw(s: String) extends V { def render: String = s }
    final class Obj extends V {
      private val m = mutable.LinkedHashMap[String, V]()
      def update(k: String, v: V): Unit = m(k) = v
      def render: String = m.map { case (k, v) => str(k).render + ":" + v.render }
        .mkString("{", ",", "}")
    }
    def obj(kv: Iterable[(String, V)]): Obj = { val o = new Obj; kv.foreach { case (k, v) => o(k) = v }; o }
    def arr(vs: Iterable[V]): V = new Raw(vs.map(_.render).mkString("[", ",", "]"))
    def num(d: Double): V = new Raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
    def bool(b: Boolean): V = new Raw(b.toString)
    def str(s: String): V = new Raw("\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\"")
  }
}
