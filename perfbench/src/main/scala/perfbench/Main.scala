package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URL}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.engine.{QueryRequest, QueryResponse, SparkEngine}
import graft.server.HttpFront
import graft.sources.Lake

/** Serving engine whose `execute` records its own span and tags the
  * handler thread's Spark jobs with the request id carried in the SQL's
  * leading comment. With tracing off it is a plain pass-through.
  */
class TracedEngine(spark: SparkSession) extends SparkEngine(() => spark) {
  val spansByRid = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  override def execute(req: QueryRequest): QueryResponse = {
    val rid = Main.ridOf(req.q)
    if (!Trace.on || !rid.startsWith("r")) return super.execute(req)
    val t0 = Trace.nowUs()
    try Trace.tagged(spark, rid)(super.execute(req))
    finally spansByRid.put(rid, (t0, Trace.nowUs()))
  }
}

/** One timed operation as recorded; `run.py` turns these into metrics. */
case class Op(rid: String, kind: String, traced: Boolean, wallMs: Double,
    ok: Boolean, extra: Map[String, Any])

/** The JVM half of the benchmark: builds the session the way
  * `graft.server.Serve` does, runs one workload against an isolated lake
  * copy made by run.py, and writes raw observations (ops, spans,
  * counters) for run.py to turn into metrics.
  *
  *   perfbench.Main <work-dir> <process-start-epoch-us>
  *
  * reads <work-dir>/job.json, writes result.json and spans.jsonl there.
  */
object Main {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val RidPrefix = "/* rid:"
  def ridOf(q: String): String =
    if (q.startsWith(RidPrefix)) q.substring(RidPrefix.length, q.indexOf(" */")) else "?"

  val ops = new ConcurrentLinkedQueue[Op]()
  val errors = new ConcurrentLinkedQueue[String]()
  /** Row count and hash of every checked result, for recording expectations. */
  val seen = new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  /** Compare an observed result with its recorded expectation. */
  def matches(job: JsonNode, name: String, m: Map[String, Any], check: Boolean): Boolean = {
    if (check) seen.put(name, Map("rows" -> m("rows").toString, "hash" -> m("hash").toString))
    val exp = job.get("expected").get(name)
    if (exp == null) job.path("record").asBoolean(false)
    else m("rows").toString == exp.get("rows").asText &&
      (!check || m("hash").toString == exp.get("hash").asText)
  }
  def fail(msg: String): Unit = if (errors.size < 20) errors.add(msg)

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val job = mapper.readTree(new File(work, "job.json"))
    val workload = job.get("workload").asText
    val seed = job.get("seed").asLong
    val seconds = job.get("seconds").asDouble
    val traced = job.get("trace").asBoolean
    val t0Us = args(1).toLong
    val srcDir = job.get("src_dir").asText

    // The served shape: graft.server.Serve builds exactly this engine.
    val served = SparkEngine.local("local[*]")
    val spark = served.sql("SELECT 1").sparkSession
    if (traced) Trace.install(spark)
    val sessionUs = Trace.nowUs()

    val w: Workload = workload match {
      case "served_sql" => new ServedSql(spark, served, job)
      case "operator_batch" => new OperatorBatch(spark, job)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ledger0 = Lake.buildLedgerSnapshot().size
    w.setup(srcDir)
    val setupBuilds = Lake.buildLedgerSnapshot().drop(ledger0)
    val gcBefore = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    // set-up: process start to the first timed operation
    val timed0 = Trace.nowUs()
    w.run(seed, seconds, traced)
    val timedS = (Trace.nowUs() - timed0) / 1e6
    if (traced) Trace.drain(spark)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val heapCommittedMb = heapPools.map(_.getPeakUsage.getCommitted).sum / 1048576.0
    val gcDuring = gcMs() - gcBefore
    // What the process still holds once garbage is gone: live heap after a
    // full collection plus class metadata. Unlike RSS, which follows G1's
    // adaptive heap sizing, it depends only on what the program keeps;
    // the JIT's code cache is left out, as its size follows compile
    // timing. Spark's ContextCleaner frees the blocks of collected
    // broadcasts and shuffles on its own thread after a GC, so it gets a
    // moment before the collection that is measured.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val retainedMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP ||
        p.getName.contains("Metaspace") || p.getName.contains("Class Space"))
      .map(_.getUsage.getUsed).sum / 1048576.0
    w.teardown()

    val counters = Trace.counters.asScala.map { case (rid, c) =>
      rid -> c.v.asScala.map { case (k, x) => k -> x.doubleValue }.toMap
    }.toMap
    val phases = ops.asScala.filter(_.traced).map(o => o.rid -> Trace.phasesMs(o.rid)).toMap
    val spanOut = new java.io.PrintWriter(new File(work, "spans.jsonl"))
    try Trace.spans.asScala.foreach(s => spanOut.println(mapper.writeValueAsString(s)))
    finally spanOut.close()
    val result = Map(
      "setup_s" -> (timed0 - t0Us) / 1e6,
      "process_start_s" -> (sessionUs - t0Us) / 1e6,
      "setup_builds" -> setupBuilds.size,
      "setup_build_s" -> setupBuilds.map(_._2).sum,
      "timed_s" -> timedS,
      "ops" -> ops.asScala.toSeq,
      "errors" -> errors.asScala.toSeq,
      "counters" -> counters,
      "phases" -> phases,
      "layer" -> w.layerFacts,
      "seen" -> seen.asScala.toMap,
      "jvm" -> Map("gc_ms" -> gcDuring, "heap_peak_mb" -> heapPeakMb,
        "rss_peak_mb" -> rssPeakMb(), "retained_mb" -> retainedMb,
        "heap_committed_mb" -> heapCommittedMb),
      "stamp" -> Map("spark" -> spark.version, "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")))
    mapper.writeValue(new File(work, "result.json"), result)
    spark.stop()
  }

  /** Warm-up: `rounds` rounds, each returning its time; returns each
    * round's time and the JIT compile time spent during it. The count is
    * fixed, not "until a round stops getting faster": in a served JVM
    * the JIT is still compiling seconds of code per round after twelve
    * rounds, so no stopping rule finds a steady state within the run
    * budget, and a rule that stops early in some runs and late in others
    * makes the timed window's figures vary with it.
    */
  def warmUp(rounds: Int)(round: => Double): Seq[(Double, Double)] = {
    val jit = ManagementFactory.getCompilationMXBean
    (1 to rounds).map { _ =>
      val c0 = jit.getTotalCompilationTime
      val r = round
      (r, (jit.getTotalCompilationTime - c0).toDouble)
    }
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(((xs.size - 1) * q / 100).round.toInt)

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** High-water resident set of this JVM (Linux /proc). */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Bytes and files under a directory tree (parquet data only). */
  def du(dir: String): (Long, Int) = {
    val f = new File(dir)
    if (!f.exists) (0L, 0)
    else {
      val files = Files.walk(f.toPath).iterator.asScala.map(_.toFile)
        .filter(x => x.isFile && x.getName.endsWith(".parquet")).toSeq
      (files.map(_.length).sum, files.size)
    }
  }

  /** Order-insensitive content check of a result, computed inside the
    * timed action itself via an observed metric: row count plus the sum
    * of per-row hashes. Floating columns are hashed at 6 significant
    * digits so summation-order noise cannot flip the hash.
    */
  def observed(df: DataFrame, withHash: Boolean): (DataFrame, Observation) = {
    val obs = Observation()
    val aggs =
      if (!withHash) Seq(count(lit(1)).as("rows"))
      else {
        val cols = df.schema.fields.map { f =>
          f.dataType match {
            case DoubleType | FloatType => format_string("%.6e", col(s"`${f.name}`"))
            case _ => col(s"`${f.name}`")
          }
        }
        Seq(count(lit(1)).as("rows"), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")).as("hash"))
      }
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }
}

/** A workload: `setup` once on the isolated source copy, then `run` for
  * the timed window.
  */
trait Workload {
  def setup(srcDir: String): Unit
  def run(seed: Long, seconds: Double, traced: Boolean): Unit
  def teardown(): Unit = ()
  def layerFacts: Map[String, Any] = Map.empty
}

/** Closed loop of HTTP clients against an in-process HttpFront. */
class ServedSql(spark: SparkSession, served: SparkEngine, job: JsonNode) extends Workload {
  import Main._
  private val clients = job.get("clients").asInt
  private val pool = job.get("pool").elements.asScala.toIndexedSeq
  private val others = job.get("others")
  private val traced = new TracedEngine(spark)
  private val engine = if (job.get("trace").asBoolean) traced else served
  private var server: com.sun.net.httpserver.HttpServer = _
  private var partRoot = ""
  private var registerMs = 0.0
  private var warmup = Seq.empty[(Double, Double)]
  private var lakeFacts: (Long, Int, Int) = (0L, 0, 0)

  override def setup(srcDir: String): Unit = {
    val t0 = System.nanoTime()
    Lake.registerAll(spark, srcDir)
    registerMs = (System.nanoTime() - t0) / 1e6
    partRoot = Lake.ensurePartitionedEvents(spark, srcDir)
    server = HttpFront.start(engine, spark, srcDir, 0)
    // Warm-up rounds send every pool entry once, so first touches (code
    // compiled per literal set, file listings cached per path) are paid
    // here (see Main.warmUp).
    warmup = warmUp(rounds = 6) {
      warmLatencies.clear()
      loop(seed = -1, seconds = Double.MaxValue, maxRequests = pool.size, record = false)
      percentile(warmLatencies.asScala.toSeq, 50)
    }
    val micros = Lake.ensureMicrosEvents(spark, srcDir)
    val (mb, mf) = du(micros)
    val (pb, pf) = du(partRoot)
    lakeFacts = (mb + pb, mf + pf, math.min(mf, pf))
  }

  override def run(seed: Long, seconds: Double, traced: Boolean): Unit = {
    Trace.on = traced
    loop(seed, seconds, Int.MaxValue, record = true)
    Trace.on = false
  }

  override def teardown(): Unit = HttpFront.stop(server)

  override def layerFacts: Map[String, Any] = Map(
    "register_ms" -> registerMs, "warmup" -> warmup,
    "artifact_bytes" -> lakeFacts._1,
    "artifact_files" -> lakeFacts._2, "min_files_per_artifact" -> lakeFacts._3)

  /** Seeded request stream in shuffled cycles. A cycle is one date-range
    * request, the per-day requests of its window (the reference's map
    * step) and `others` requests of each other type, so every seed serves
    * the same mix; the seed picks the windows, instances and order.
    */
  private def stream(seed: Long): Int => Int = {
    val byType = pool.indices.groupBy(i => pool(i).get("type").asText)
    val byKey = pool.indices.map(i => pool(i).get("key").asText -> i).toMap
    val rng = new scala.util.Random(seed)
    def pick(t: String) = byType(t)(rng.nextInt(byType(t).size))
    def cycle(): Seq[Int] = {
      val range = pick("range")
      val days = pool(range).get("days").elements.asScala.map(d => byKey(s"day:${d.asInt}"))
      val rest = others.fieldNames.asScala.toSeq.sorted
        .flatMap(t => Seq.fill(others.get(t).asInt)(pick(t)))
      rng.shuffle(range +: (days.toSeq ++ rest))
    }
    val picks = Iterator.continually(cycle()).flatten.take(100000).toArray
    i => picks(i % picks.length)
  }

  private val ridSeq = new AtomicLong(0)

  private def loop(seed: Long, seconds: Double, maxRequests: Int, record: Boolean): Unit = {
    val pick = if (seed >= 0) stream(seed) else (i: Int) => i
    val next = new AtomicInteger(0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong.max(0L).min(Long.MaxValue / 4)
    val port = server.getAddress.getPort
    val url = new URL(s"http://127.0.0.1:$port/query")
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < maxRequests && System.nanoTime() < deadline) {
          val entry = pool(pick(i))
          val t0 = Trace.nowUs()
          try one(url, entry, record)
          catch {
            case e: Exception =>
              fail(s"${entry.get("type").asText}: $e")
              if (record) ops.add(Op(s"x$i", "request", traced = false,
                (Trace.nowUs() - t0) / 1e3, ok = false, Map("type" -> entry.get("type").asText)))
          }
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
  }

  private val warmLatencies = new ConcurrentLinkedQueue[Double]()

  private def one(url: URL, entry: JsonNode, record: Boolean): Unit = {
    // every other timed request is traced, so one run also measures the overhead
    val n = ridSeq.incrementAndGet()
    val tracedReq = record && Trace.on && n % 2 == 0
    val rid = s"${if (tracedReq) "r" else "u"}$n"
    val sql = s"/* rid:$rid */ " + entry.get("sql").asText.replace("{PART}", partRoot)
    val c0 = Trace.nowUs()
    val body = mapper.writeValueAsBytes(Map("q" -> sql, "limit" -> entry.get("limit").asInt))
    val s0 = Trace.nowUs()
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body)
    conn.getOutputStream.close()
    val bytes = conn.getInputStream.readAllBytes()
    val s1 = Trace.nowUs()
    val (ok, why) = check(entry, mapper.readTree(bytes))
    val c1 = Trace.nowUs()
    if (!record) {
      warmLatencies.add((s1 - s0) / 1e3)
      if (!ok) fail(s"warm-up ${entry.get("type").asText}: $why")
      return
    }
    if (!ok) fail(s"${entry.get("type").asText} ${entry.get("sql").asText}: $why")
    val extra = mutable.Map[String, Any]("type" -> entry.get("type").asText,
      "resp_bytes" -> bytes.length, "key" -> entry.get("key").asText)
    if (tracedReq) {
      val root = Trace.span(0, rid, "client", "request", c0, c1)
      val srv = Trace.span(root, rid, "server", "http", s0, s1)
      Option(traced.spansByRid.remove(rid)).foreach { case (e0, e1) =>
        Trace.span(srv, rid, "engine", "execute", e0, e1)
        extra ++= Map("pre_ms" -> (e0 - s0) / 1e3, "post_ms" -> (s1 - e1) / 1e3,
          "execute_ms" -> (e1 - e0) / 1e3)
      }
    }
    if (ok && Set("range", "day")(entry.get("type").asText))
      extra("answer") = answerKey(mapper.readTree(bytes))
    ops.add(Op(rid, "request", tracedReq, (s1 - s0) / 1e3, ok, extra.toMap))
  }

  /** Served records against DuckDB's expected rows. */
  private def check(entry: JsonNode, resp: JsonNode): (Boolean, String) = {
    if (resp.has("errorMessage")) return (false, resp.get("errorMessage").asText.take(200))
    val exp = entry.get("expected")
    val cols = exp.get("columns").elements.asScala.map(_.asText).toSeq
    val got = resp.get("records").elements.asScala.map(r => cols.map(c => r.get(c))).toSeq
    val want = exp.get("rows").elements.asScala.map(_.elements.asScala.toSeq).toSeq
    if (got.size != want.size) return (false, s"rows ${got.size} != ${want.size}")
    def key(r: Seq[JsonNode]) = r.map(v => if (v == null) "null" else v.asText).mkString("|")
    val (g, w) =
      if (entry.get("ordered").asBoolean) (got, want)
      else (got.sortBy(key), want.sortBy(key))
    g.zip(w).foreach { case (gr, wr) =>
      gr.zip(wr).foreach { case (a, b) =>
        val same =
          if (a == null || a.isNull) b.isNull
          else if (a.isNumber && b.isNumber)
            math.abs(a.asDouble - b.asDouble) <= 1e-9 * math.max(1.0, math.abs(b.asDouble))
          else a.asText == b.asText
        if (!same) return (false, s"value $a != $b")
      }
    }
    (true, "")
  }

  /** The served answer in a comparable form, for cross-request checks. */
  private def answerKey(resp: JsonNode): Map[String, Double] =
    resp.get("records").elements.asScala.map { r =>
      r.path("event_type").asText -> r.path("counts").asDouble
    }.toMap
}

/** Heavy registered operators, each to its full result, in seeded order. */
class OperatorBatch(spark: SparkSession, job: JsonNode) extends Workload {
  import Main._
  private val names = job.get("operators").elements.asScala.map(_.asText).toIndexedSeq
  private var src = ""
  private var lakeFacts: (Long, Int, Int) = (0L, 0, 0)
  private var warmup = Seq.empty[(Double, Double)]

  private def artifactDirs(srcDir: String): Seq[File] = {
    val slug = srcDir.replaceAll("[^A-Za-z0-9.]", "_")
    Option(new File(job.get("lake_root").asText).listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.contains("_" + slug + "_"))
  }

  override def setup(srcDir: String): Unit = {
    src = srcDir
    Lake.registerAll(spark, srcDir)
    // The first pass builds every derived artifact the operators read and
    // checks each result's hash; the other passes warm the JVM.
    var first = true
    warmup = warmUp(rounds = 5) {
      val t0 = System.nanoTime()
      names.foreach(n => runOne(n, s"warm:$n", check = first, record = false))
      first = false
      (System.nanoTime() - t0) / 1e6
    }
    val arts = artifactDirs(srcDir).map(d => du(d.getPath)).filter(_._2 > 0)
    lakeFacts = (arts.map(_._1).sum, arts.map(_._2).sum,
      if (arts.isEmpty) 0 else arts.map(_._2).min)
  }

  override def layerFacts: Map[String, Any] = Map(
    "warmup" -> warmup,
    "artifact_bytes" -> lakeFacts._1, "artifact_files" -> lakeFacts._2,
    "min_files_per_artifact" -> lakeFacts._3)

  override def run(seed: Long, seconds: Double, traced: Boolean): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    var lastNs = 0L
    // whole passes only: at least two, and none that would overrun the window
    while (pass < 2 || System.nanoTime() + lastNs <= deadline) {
      val started = System.nanoTime()
      // tracing alternates by pass so the same run also measures its overhead
      Trace.on = traced && pass % 2 == 0
      val order = new scala.util.Random(seed * 1000 + pass).shuffle(names)
      val ledger0 = Lake.buildLedgerSnapshot().size
      val p0 = Trace.nowUs()
      val results = order.map(n => runOne(n, s"p$pass:$n", check = false, record = true))
      val p1 = Trace.nowUs()
      val builds = Lake.buildLedgerSnapshot().drop(ledger0)
      ops.add(Op(s"p$pass", "pass", Trace.on, (p1 - p0) / 1e3, results.forall(identity),
        Map("builds" -> builds.size, "build_s" -> builds.map(_._2).sum)))
      Trace.on = false
      pass += 1
      lastNs = System.nanoTime() - started
    }
  }

  /** Build the operator's DataFrame (timed: some operators run eager
    * jobs here), then run it to its full result into the noop sink.
    */
  private def runOne(name: String, rid: String, check: Boolean, record: Boolean): Boolean =
    try measureOne(name, rid, check, record)
    catch {
      case e: Exception =>
        fail(s"$name: $e")
        if (record) ops.add(Op(rid, "operator", Trace.on, 0.0, ok = false, Map("name" -> name,
          "build_s" -> 0.0, "result_s" -> 0.0, "rows" -> 0L)))
        false
    }

  private def measureOne(name: String, rid: String, check: Boolean, record: Boolean): Boolean = {
    val fn = SparkEntry.queries(name)
    Trace.tagged(spark, rid) {
      val t0 = Trace.nowUs()
      val df = fn(spark, src)
      val (obs, observation) = observed(df, withHash = check)
      val t1 = Trace.nowUs()
      obs.write.format("noop").mode("overwrite").save()
      val t2 = Trace.nowUs()
      val m = observation.get
      val rows = m("rows").asInstanceOf[Long]
      val ok = matches(job, name, m, check)
      if (!ok) fail(s"$name: $m expected ${job.get("expected").get(name)}")
      if (record) {
        val root = Trace.span(0, rid, "operators", name, t0, t2)
        Trace.span(root, rid, "engine", "action", t1, t2)
        ops.add(Op(rid, "operator", Trace.on, (t2 - t0) / 1e3, ok,
          Map("name" -> name, "build_s" -> (t1 - t0) / 1e6, "result_s" -> (t2 - t1) / 1e6,
            "rows" -> rows)))
      }
      ok
    }
  }
}
