package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Caching, SparkEntry, Tables}
import graft.sources.GraftEventsBroker
import graft.streaming.{CepSql, ContinuousQueries, StreamingConf}

/** Drives the engine for one benchmark run and writes raw, untreated
  * measurements as JSON; run.py turns them into metrics and checks them.
  *
  * Every engine call goes through the public surface (query builders,
  * `executedPlan`, a `noop` write, `Caching`, `Tables.load`, the
  * `graft-events` source and `ContinuousQueries`) and is timed from here.
  *
  * Modes: `batch` runs one or more closed-loop clients over fixed key
  * sequences on one session; `stream` runs the paced and drain phases of
  * three standing queries. Both set up once (a fresh session, then the
  * table load or the standing queries, then a warm-up) and then measure. */
object Main {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] =
      kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    Spans.enabled = a("trace") == "1"
    val out = a("mode") match {
      case "batch" => new BatchRun(a).run()
      case "stream" => new StreamRun(a).run()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    Files.writeString(Paths.get(a("out")), json(out ++ Map(
      "t0_epoch_ms" -> Clock.t0EpochMs, "peak_rss_mb" -> peakRssMb())))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(value: Any): String = mapper.writeValueAsString(value)

  /** Peak resident set of this JVM; in local mode the executors are inside
    * it, so this is the whole engine's peak. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  /** CPU time the hypervisor gave other guests, in clock ticks summed over
    * CPUs: the ambient canary, read around the timed phase. */
  def stealTicks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .lift(8).map(_.toLong).getOrElse(0L)

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Error class of a failure: the first Spark error condition on the
    * cause chain, else a bracketed condition in a message, else the root
    * cause's class. The message comes from the same link, first line. */
  def describe(t: Throwable): (String, String) = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(32).toSeq
    val bracket = "\\[([A-Z][A-Z0-9_]{3,})[\\].]".r
    def msg(x: Throwable) =
      Option(x.getMessage).getOrElse("").linesIterator.nextOption()
        .getOrElse("").take(300)
    chain.collectFirst {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
        (s.getCondition, msg(s.asInstanceOf[Throwable]))
    }.orElse(chain.collectFirst(Function.unlift((x: Throwable) =>
      bracket.findFirstMatchIn(Option(x.getMessage).getOrElse(""))
        .map(m => (m.group(1), msg(x))))))
      .getOrElse((chain.last.getClass.getName, msg(chain.last)))
  }

  /** Session settings as in the engine's own bench: local[cpus], shuffle
    * partitions = cpus, UTC. Scratch files stay under `--work`. */
  def session(a: Args, conf: Seq[(String, String)],
      listeners: Option[(StageListener, ProgressListener)]): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a("cpus")}]")
      .config("spark.sql.shuffle.partitions", a("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .config("spark.sql.streaming.checkpointLocation",
        s"${a("work")}/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    listeners.foreach { case (st, pr) =>
      spark.sparkContext.addSparkListener(st)
      spark.streams.addListener(pr)
    }
    spark
  }
}

/** Shared set-up and trace bookkeeping for both modes. */
abstract class Run(a: Main.Args) {
  val listeners: Option[(StageListener, ProgressListener)] =
    if (Spans.enabled) Some((new StageListener, new ProgressListener))
    else None
  val dir: String = a("data")
  val conf: Seq[(String, String)] = a.list("conf").map { kv =>
    val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
  }

  /** The set-up: a fresh session, the table load (batch mode; the
    * standing queries read no table), `prepare` (streaming conf, standing
    * queries), then the warm-up (JIT and codegen). Returns the session and
    * what `prepare` built. */
  def setUp[T](prepare: SparkSession => (T, Map[String, Double]))
      (warm: (SparkSession, T) => Unit): (SparkSession, T) = {
    val t0 = Clock.now
    val spark = Main.session(a, conf, listeners)
    val t1 = Clock.now
    if (a("mode") == "batch") {
      Tables.load(spark, dir)
      Spans.add(Spans.newId(), 0, "tables.load", t1, Clock.now)
    }
    val t2 = Clock.now
    val (built, parts) = prepare(spark)
    val t3 = Clock.now
    warm(spark, built)
    val t4 = Clock.now
    setup = Map("session_s" -> (t1 - t0), "tables_load_s" -> (t2 - t1),
      "prepare_s" -> (t3 - t2), "warmup_s" -> (t4 - t3),
      "total_s" -> (t4 - t0)) ++ parts
    (spark, built)
  }
  var setup: Map[String, Double] = Map.empty

  def traceRecords: Map[String, Any] = listeners.map { case (st, pr) =>
    Map("stages" -> st.stages.asScala.toSeq, "jobs" -> st.jobs.asScala.toSeq,
      "spans" -> Spans.all)
  }.getOrElse(Map.empty)

  def run(): Map[String, Any]
}

/** Closed-loop clients, each running its fixed key sequence; every query
  * execution is build → plan → noop action, then `Caching.releaseAll()`
  * (untimed), the release contract for a long-lived host. */
class BatchRun(a: Main.Args) extends Run(a) {
  private val clients: Seq[Seq[String]] =
    a("clients").split(";").toSeq.map(_.split(",").toSeq.filter(_.nonEmpty))
  private val keys = a.list("keys")
  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def execute(spark: SparkSession, op: String, client: Int,
      key: String, action: DataFrame => Long,
      release: Boolean = true): Map[String, Any] = {
    val sc = spark.sparkContext
    val span = Spans.newId()
    var phase = "build"
    var err: Option[(String, String)] = None
    var rows = -1L
    val times = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    def step[T](name: String)(f: => T): T = {
      phase = name
      sc.setJobGroup(s"$op/$name", key, interruptOnCancel = false)
      val t0 = Clock.now
      try f finally times(name) = (t0, Clock.now)
    }
    val start = Clock.now
    try {
      val df = step("build")(SparkEntry.queries(key)(spark, dir))
      step("plan")(df.queryExecution.executedPlan)
      rows = step("action")(action(df))
    } catch {
      case t: Throwable => err = Some(Main.describe(t))
    }
    val failedPhase = phase
    sc.clearJobGroup()
    val tracked = Caching.trackedCount
    val storageMb = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
    if (release) step("release")(Caching.releaseAll())
    sc.clearJobGroup()
    val end = Clock.now
    times.foreach { case (name, (t0, t1)) =>
      Spans.add(Spans.newId(), span, name, t0, t1) }
    Spans.add(span, 0, "query", start, end,
      Map("key" -> key, "op" -> op, "client" -> client))
    Map("op" -> op, "client" -> client, "key" -> key, "start" -> start,
      "end" -> end, "ok" -> err.isEmpty,
      "error_phase" -> err.map(_ => failedPhase),
      "error_class" -> err.map(_._1), "error_msg" -> err.map(_._2),
      "tracked" -> tracked, "storage_mb" -> storageMb, "rows" -> rows) ++
      times.map { case (name, (t0, t1)) => s"${name}_s" -> (t1 - t0) }
  }

  private val noop: DataFrame => Long = { df =>
    df.write.format("noop").mode("overwrite").save(); -1L
  }

  def run(): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    val outDir = s"${a("work")}/out"
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Main.json(oracle))
    val checks = new ConcurrentLinkedQueue[Map[String, Any]]()
    // the warm-up pass runs every key once on `cpus` threads (JIT and
    // codegen are what it is for; the timed clients run as specified) and
    // writes each key's output, as the engine's Verify main does, for the
    // checks made after the timed phase; a key without oracle SQL is
    // counted instead. Caches are released once, after the whole pass,
    // since a global release would drop another thread's caches mid-query.
    val (spark, _) = setUp(_ => ((), Map.empty[String, Double])) { (s, _) =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(a.int("cpus"))
      keys.map { k =>
        val action: DataFrame => Long =
          if (oracle.contains(k)) { df =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$k"); -1L
          } else _.count()
        pool.submit((() => checks.add(execute(s, s"c.$k", 0, k, action,
          release = false))): Runnable)
      }.foreach(_.get())
      pool.shutdown()
      Caching.releaseAll()
    }
    val gc0 = Main.gcSeconds()
    val steal0 = Main.stealTicks()
    val start = Clock.now
    val threads = clients.zipWithIndex.map { case (seq, c) =>
      new Thread(() => seq.zipWithIndex.foreach { case (k, j) =>
        ops.add(execute(spark, s"t$c.$j", c, k, noop)) }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val end = Clock.now
    val gc1 = Main.gcSeconds()
    val steal1 = Main.stealTicks()
    spark.stop()
    Map("mode" -> "batch", "setup" -> setup, "ops" -> ops.asScala.toSeq,
      "timed" -> Map("start" -> start, "end" -> end, "gc_s" -> (gc1 - gc0),
        "steal_ticks" -> (steal1 - steal0)),
      "checks" -> checks.asScala.toSeq) ++ traceRecords
  }
}

/** The cep-stream workload: one open-loop generator thread appends event
  * payloads to the in-process broker on a fixed 50 ms schedule while three
  * standing queries read them; then backlogs are appended at once and
  * drained, round by round. */
class StreamRun(a: Main.Args) extends Run(a) {
  import StreamRun._

  private val lines = Files.readAllLines(Paths.get(a("events"))).asScala
    .toIndexedSeq.filter(_.nonEmpty)
  private val warmN = a.int("warm_events")
  private val rate = a.int("rate")
  private val backlog = a.int("backlog")
  private val rounds = a.int("drain_rounds")
  private val tickS = 0.05
  private val perTick = math.max(1, math.round(rate * tickS).toInt)
  private val warmTicks = math.round(a("warm_s").toDouble / tickS).toInt
  private val ticks = math.round(a("paced_s").toDouble / tickS).toInt
  private val needed =
    warmN + perTick * (warmTicks + ticks) + rounds * backlog + 2
  require(lines.length >= needed,
    s"need $needed payloads, have ${lines.length}")
  private val appends = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def append(topic: String, from: Int, until: Int, sched: Double,
      phase: String): Long = {
    val t0 = Clock.now
    val end = GraftEventsBroker.append(topic, lines.slice(from, until): _*)
    val t1 = Clock.now
    appends.add(Map("sched" -> sched, "start" -> t0, "end" -> t1,
      "end_offset" -> end, "events" -> (until - from), "phase" -> phase))
    Spans.add(Spans.newId(), 0, "append", t0, t1, Map("phase" -> phase))
    end
  }

  private val topic = "bench-events"

  /** The open-loop generator: `n` ticks of `perTick` payloads from payload
    * `from` on, on one thread. Tick k is due at start + k * 50 ms whatever
    * happened to tick k - 1, so a stall shows as lateness, not as a slower
    * schedule. Returns the first tick's due time. */
  private def generate(phase: String, from: Int, n: Int): Double = {
    val start = Clock.now + tickS
    val gen = new Thread(() => (0 until n).foreach { k =>
      val due = start + k * tickS
      val wait = due - Clock.now
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      val i = from + k * perTick
      append(topic, i, i + perTick, due, phase)
    }, "generator")
    gen.start()
    gen.join()
    start
  }

  private def start(spark: SparkSession)
      : (Seq[(String, StreamingQuery)], Map[String, Double]) = {
    GraftEventsBroker.clear(topic)
    StreamingConf.applyTo(spark)
    spark.readStream.format("graft-events").option("topic", topic)
      .option("fields", Fields).load().createOrReplaceTempView("bench_events")
    val qs = standing.map { s =>
      val t0 = Clock.now
      val q =
        if (s.pattern) ContinuousQueries.submitPattern(spark, s.text("bench_events"), s.name)
        else ContinuousQueries.submitSql(spark, s.text("bench_events"), s.name)
      val t1 = Clock.now
      Spans.add(Spans.newId(), 0, "cq.submit", t0, t1, Map("query" -> s.name))
      (s.name, q, t1 - t0)
    }
    (qs.map(q => q._1 -> q._2), Map("submit_s" -> qs.map(_._3).sum))
  }

  private def awaitAll(qs: Seq[(String, StreamingQuery)]): Unit =
    qs.foreach(_._2.processAllAvailable())

  def run(): Map[String, Any] = {
    // the warm-up: two cold micro-batches of each query, then the paced
    // load itself for `warm_s`; after the cold batches alone, micro-batches
    // kept getting faster well into the timed phase
    val (spark, qs) = setUp(start) { (_, q) =>
      append(topic, 0, warmN / 2, Clock.now, "warm")
      awaitAll(q)
      append(topic, warmN / 2, warmN, Clock.now, "warm")
      awaitAll(q)
      generate("warm", warmN, warmTicks)
      awaitAll(q)
    }
    val errors = new ConcurrentLinkedQueue[Map[String, Any]]()
    def guarded(what: String)(f: => Unit): Unit =
      try f catch { case t: Throwable =>
        val (cls, msg) = Main.describe(t)
        errors.add(Map("what" -> what, "error_class" -> cls, "error_msg" -> msg))
      }
    val gc0 = Main.gcSeconds()
    val steal0 = Main.stealTicks()
    val pacedStart = generate("paced", warmN + warmTicks * perTick, ticks)
    val pacedEnd = Clock.now
    guarded("paced")(awaitAll(qs))
    // drain phase, in rounds that each start from idle queries: a backlog
    // lands in one append and the round ends when every standing query has
    // committed its last offset
    val from = warmN + (warmTicks + ticks) * perTick
    val drains = (0 until rounds).map { i =>
      val start = Clock.now
      val target = append(topic, from + i * backlog, from + (i + 1) * backlog,
        start, "drain")
      guarded("drain")(awaitAll(qs))
      Map("start" -> start, "target" -> target, "end" -> Clock.now)
    }
    val drainEnd = Clock.now
    val gc1 = Main.gcSeconds()
    val steal1 = Main.stealTicks()
    // untimed: two sentinels past the longest WITHIN advance the watermark,
    // then fire the timers it passed
    val sentinel = from + rounds * backlog
    guarded("sentinel") {
      append(topic, sentinel, sentinel + 1, Clock.now, "sentinel")
      awaitAll(qs)
      append(topic, sentinel + 1, sentinel + 2, Clock.now, "sentinel")
      awaitAll(qs)
    }
    val progress = listeners match {
      case Some((_, pr)) => pr.progress.asScala.toSeq
        .filter(p => qs.exists(_._2.runId == p.runId))
      case None => qs.flatMap(_._2.recentProgress.toSeq)
    }
    qs.foreach { case (name, q) =>
      q.exception.foreach { e =>
        errors.add(Map("what" -> s"query $name",
          "error_class" -> Main.describe(e)._1,
          "error_msg" -> Main.describe(e)._2))
      }
    }
    val checks = standing.map(s => check(spark, s))
    qs.foreach(_._2.stop())
    val runIds = qs.map { case (name, q) => q.runId.toString -> name }.toMap
    spark.stop()
    GraftEventsBroker.clear(topic)
    Map("mode" -> "stream", "setup" -> setup,
      "appends" -> appends.asScala.toSeq,
      "progress" -> progress.map(Progress.record),
      "run_ids" -> runIds, "errors" -> errors.asScala.toSeq,
      "timed" -> Map("start" -> pacedStart, "paced_end" -> pacedEnd,
        "drains" -> drains, "drain_end" -> drainEnd,
        "gc_s" -> (gc1 - gc0), "steal_ticks" -> (steal1 - steal0),
        "rate" -> rate,
        "tick_s" -> tickS, "backlog" -> backlog),
      "checks" -> checks) ++ traceRecords
  }

  /** Untimed: the standing query's sink against its batch twin — the same
    * statement through `CepSql.sql` over a batch view of the same topic. */
  private def check(spark: SparkSession, s: Standing): Map[String, Any] =
    try {
      spark.read.format("graft-events").option("topic", topic)
        .option("fields", Fields).load().createOrReplaceTempView("bench_batch")
      val got = rows(spark.table(s.name).select(s.streamCols.map(
        org.apache.spark.sql.functions.col): _*).collect())
      val want = rows(CepSql.sql(spark, s.text("bench_batch")).select(
        s.batchCols.map(org.apache.spark.sql.functions.col): _*).collect())
      val diff = firstDifference(got, want)
      Map("name" -> s.name, "ok" -> diff.isEmpty, "rows" -> got.length,
        "want_rows" -> want.length, "detail" -> diff.getOrElse(""))
    } catch {
      case t: Throwable =>
        val (cls, msg) = Main.describe(t)
        Map("name" -> s.name, "ok" -> false, "rows" -> -1,
          "detail" -> s"$cls: $msg")
    }
}

object StreamRun {
  val Fields = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
    "event_type STRING, value DOUBLE"

  /** A standing query and the columns its sink and batch twin are compared
    * on (the streaming detectors name a few columns differently). */
  final case class Standing(name: String, pattern: Boolean,
      text: String => String, streamCols: Seq[String], batchCols: Seq[String])

  val standing: Seq[Standing] = Seq(
    // twin of q_window_tumbling
    Standing("tumble", pattern = false, t =>
      s"SELECT window.start AS ws, event_type, count(*) AS cnt, " +
        s"sum(value) AS sum_value FROM $t " +
        "GROUP BY window(ts, '1 hour'), event_type",
      Seq("ws", "event_type", "cnt", "sum_value"),
      Seq("ws", "event_type", "cnt", "sum_value")),
    // twin of q_pattern_absence; fires on event-time timers
    Standing("absence", pattern = true, t =>
      s"SELECT * FROM $t MATCH PATTERN " +
        "(signup THEN NOT purchase WITHIN '30' MINUTES) PARTITION BY user_id",
      Seq("user_id", "sid", "s_ts"), Seq("user_id", "sid", "s_ts")),
    // twin of q_pattern_times
    Standing("runs", pattern = true, t =>
      s"SELECT * FROM $t MATCH PATTERN " +
        "(click{3,} THEN purchase WITHIN '12' HOURS) PARTITION BY user_id",
      Seq("user_id", "run_len", "run_start", "run_end", "next_follow"),
      Seq("user_id", "run_len", "run_start", "run_end", "b_ts")))

  def rows(rs: Array[Row]): IndexedSeq[Seq[Any]] =
    rs.toIndexedSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  /** The first row where the two sorted bags differ, if any. Sums of
    * doubles may differ in the last bits with summation order. */
  def firstDifference(got: IndexedSeq[Seq[Any]], want: IndexedSeq[Seq[Any]])
      : Option[String] = {
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) =>
        math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
      case _ => x == y
    }
    if (got.length != want.length)
      Some(s"rows ${got.length} (stream) vs ${want.length} (batch)")
    else got.indices.find(i => got(i).length != want(i).length ||
        !got(i).zip(want(i)).forall { case (x, y) => same(x, y) })
      .map(i => s"row $i: ${got(i).mkString(",")} vs ${want(i).mkString(",")}")
  }
}
