package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.query.{GlobalQueryExecutor, QueryExecutor}

/** The benchmark's JVM side. `perfbench/run.py` generates every input,
  * writes them into a config file and launches this main on it; the main
  * runs one workload against the graft classes, measuring only from
  * outside (public entry points, public Spark listeners), and writes one
  * result file for `run.py` to check and summarise.
  *
  * Usage: Harness <config.json>  (modes: `registry` lists the queries,
  * `prepare` writes the fixture, `run` runs a workload). */
object Harness {

  /** One timed operation: a request, or one registry query in one pass. */
  final case class Op(id: String, kind: String, name: String, traced: Boolean,
      startMs: Double, endMs: Double, ok: Boolean, err: String, rows: Long,
      value: Long, digest: String, eagerMs: Double)

  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val cfg = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val out = (cfg \ "mode").extract[String] match {
      case "registry" => registry
      case "prepare" => withSession(cfg)(prepare(_, cfg))
      case "run" => withSession(cfg)(new Run(_, cfg).run())
    }
    val tmp = Paths.get((cfg \ "out").extract[String] + ".tmp")
    Files.write(tmp, JsonMethods.compact(JsonMethods.render(out)).getBytes("UTF-8"))
    Files.move(tmp, Paths.get((cfg \ "out").extract[String]),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def withSession(cfg: JValue)(body: SparkSession => JValue): JValue = {
    val spark = session(cfg)
    try body(spark) finally spark.stop()
  }

  /** Every registered query with its DuckDB oracle SQL (null without one). */
  private def registry: JValue = {
    val oracle = graft.SparkEntry.oracleSql
    JObject(graft.SparkEntry.queries.keys.toList.sorted.map(n =>
      JField(n, oracle.get(n).map(JString(_)).getOrElse(JNull))))
  }

  /** The session `graft.Bench` builds, plus the run's own scratch roots. */
  private def session(cfg: JValue): SparkSession = {
    val cpus = (cfg \ "cpus").extract[Int]
    val run = (cfg \ "run_dir").extract[String]
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.graft.artifactDir", s"$run/artifacts")
      .config("spark.graft.ann.indexDir", s"$run/artifacts")
      .config("spark.graft.stream.scratchRoot", s"$run/scratch")
      .getOrCreate()
  }

  /** Writes the fixture tables with graft's own deterministic generator. */
  private def prepare(spark: SparkSession, cfg: JValue): JValue = {
    val sf = (cfg \ "sf").extract[Double]
    val dir = (cfg \ "data_dir").extract[String]
    val rows = graft.DataGen.all(spark, sf).map { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      JField(name, JLong(spark.read.parquet(s"$dir/$name.parquet").count()))
    }
    JObject(JField("rows", JObject(rows.toList)))
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  def jvmGcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this process in MB (the peak resident set), -1 if unreadable. */
  def vmHwmMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)
    catch { case NonFatal(_) => -1.0 }
}

/** One workload run:
  *
  *  1. set-up: the session, then `TestData.graph` (timed);
  *  2. the cold pass: every input once, over an empty artifact root, so
  *     index builds and JIT/codegen warm-up land here; afterwards (untimed)
  *     the results named in `verify` are written under verify/ for the
  *     DuckDB compare, and each api response becomes the one every later
  *     response to the same request must repeat;
  *  3. `warmup_sweeps` untimed closed-loop sweeps;
  *  4. warm passes until `seconds` are used (at least one, and at least
  *     `min_samples` untraced ops).
  *
  * Registry queries run each pass in a fresh session: it starts with
  * empty in-JVM caches (graft keys them by session), and a warm pass first
  * runs the session-start `Warm.resolve` over the artifacts the cold pass
  * stored and `TestData.graph`, both part of the pass time. Each retired
  * session's caches are released through the public `releaseCaches` hooks.
  * api requests are served by one executor over the set-up session's
  * graph, so an api pass is its sweep alone.
  *
  * A traced run traces its cold pass and alternates untraced and traced
  * warm passes; the layer counters are kept per pass kind. */
final class Run(base: SparkSession, cfg: JValue) {
  import Harness._
  private implicit val formats: Formats = DefaultFormats

  private val workload = (cfg \ "workload").extract[String]
  private val traceOn = (cfg \ "trace").extract[Int] == 1
  private val seconds = (cfg \ "seconds").extract[Double]
  private val dataDir = (cfg \ "data_dir").extract[String]
  private val runDir = Paths.get((cfg \ "run_dir").extract[String])
  private val verifyDir = runDir.resolve("verify")
  private val warmupSweeps = (cfg \ "warmup_sweeps").extract[Int]
  private val minSamples = (cfg \ "min_samples").extract[Int]
  /** Registry queries run in the pass's session; api requests are served
    * by one executor over the set-up session's graph. */
  private val inPassSession = workload != "api_query"
  /** Inputs whose cold-pass result is written for the full DuckDB compare. */
  private val verifyIds = (cfg \ "verify").extract[Seq[String]].toSet

  private val ops = new ConcurrentLinkedQueue[Op]
  private val opSeq = new AtomicLong(0)
  private val tracer = new Tracer(base, runDir.resolve("scratch"))
  /** The session registry queries run in: a fresh one per pass. */
  @volatile private var spark = base
  @volatile private var tracing = false
  private val setup = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
  private var steadyStartMs = -1.0
  private val passes = scala.collection.mutable.ArrayBuffer.empty[JValue]
  /** Layer counters and streaming batch durations of the traced passes,
    * per pass kind ("cold", "warm"). */
  private val layer = scala.collection.mutable.LinkedHashMap.empty[String,
    scala.collection.mutable.LinkedHashMap[String, Double]]
  private val batchMs = scala.collection.mutable.LinkedHashMap.empty[String,
    scala.collection.mutable.ArrayBuffer[Double]]

  private def sc = base.sparkContext

  /** What one call returns: result rows, the number a scalar response
    * carries (-1 otherwise), response digest (api only), eager build ms
    * (registry queries only) and the result to verify. */
  private final case class Served(rows: Long, value: Long, digest: String, eagerMs: Double,
      result: () => DataFrame)

  /** One workload input: its id (the request id or the query name) and the
    * timed call, given the op id and whether it is traced. */
  private final case class Input(id: String, call: (String, Boolean) => Served)

  /** Serves `in` as one operation: sets the operation property its Spark
    * jobs carry and, when tracing, records its span. */
  private def op(kind: String, in: Input,
      keep: Option[java.util.concurrent.ConcurrentHashMap[String, () => DataFrame]] = None): Op = {
    val id = s"${kind.take(1)}${opSeq.incrementAndGet()}"
    val traced = tracing
    sc.setLocalProperty(Tracer.OpProperty, if (traced) id else null)
    val t0 = Clock.nowMs
    if (traced) tracer.openOp(id, t0)
    val rec =
      try {
        val r = in.call(id, traced)
        val t1 = Clock.nowMs
        keep.foreach(_.put(in.id, r.result))
        Op(id, kind, in.id, traced, t0, t1, ok = true, "", r.rows, r.value, r.digest, r.eagerMs)
      } catch {
        case NonFatal(e) =>
          Op(id, kind, in.id, traced, t0, Clock.nowMs, ok = false,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300), -1, -1, "", 0)
      } finally sc.setLocalProperty(Tracer.OpProperty, null)
    if (traced) tracer.closeOp(id, s"op.$kind", rec.startMs, rec.endMs)
    rec
  }

  /** Runs `body`, a pass of `kind`; when `on`, with the listeners attached
    * for its duration, adding the counters it leaves to its kind's. */
  private def window[T](kind: String, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val meter0 = RuleMeter.snapshot()
      val cg0 = Codegen.snapshot()
      val c0 = tracer.counters()
      val b0 = tracer.batchMs.size
      tracer.scratchPeakBytes = 0
      tracer.attachContext(); tracing = true
      try body
      finally {
        tracing = false
        if (spark ne base) tracer.detachSession(spark)
        tracer.detachContext()
        val into = layer.getOrElseUpdate(kind, scala.collection.mutable.LinkedHashMap.empty)
        def add(k: String, v: Double): Unit = into(k) = into.getOrElse(k, 0.0) + v
        def max(k: String, v: Double): Unit = into(k) = math.max(into.getOrElse(k, 0.0), v)
        tracer.counters().foreach { case (k, v) => add(k, v - c0.getOrElse(k, 0.0)) }
        RuleMeter.delta(meter0).foreach { case (k, v) => add(k, v) }
        Codegen.delta(cg0).foreach { case (k, v) =>
          if (k.endsWith("max_method_bytes")) max(k, v) else add(k, v) }
        max("streaming.scratch_peak_bytes", tracer.scratchPeakBytes.toDouble)
        batchMs.getOrElseUpdate(kind, scala.collection.mutable.ArrayBuffer.empty) ++=
          tracer.batchMs.asScala.drop(b0).map(_.doubleValue)
      }
    }

  def run(): JValue = {
    val gcMs0 = jvmGcMs
    val (inputsOf, clients) = workload match {
      case "api_query" => apiInputs(timedGraph(base))
      case _ => registryInputs
    }

    // registry passes' sessions use a root of their own; api requests run
    // in the set-up session, whose root is the run's artifact root
    val store = if (inPassSession) runDir.resolve("artifacts").resolve("store") else runDir.resolve("artifacts")
    coldPass(store, inputsOf(0), clients)

    val w0 = Clock.nowMs
    val sweeps = (1 to warmupSweeps).map(i => sweep("warmup", inputsOf(i), clients, record = false))
    setup("warmup_s") = JDouble((Clock.nowMs - w0) / 1000)
    setup("warmup_ops") = JInt(warmupSweeps * inputsOf(0).size)
    setup("warmup_sweep_ms") = JArray(sweeps.toList.map(JDouble(_)))
    var iter = warmupSweeps + 1

    steadyStartMs = Clock.nowMs
    val stopAt = steadyStartMs + seconds * 1000
    val slices = if (traceOn) Seq(false, true) else Seq(false)
    do {
      slices.foreach { t =>
        warmPass(store, inputsOf(iter), clients, t)
        iter += 1
      }
    } while (Clock.nowMs < stopAt ||
      ops.asScala.count(o => o.kind == "warm" && !o.traced) < minSamples)
    if (inPassSession) deleteTree(store)

    // every api response must repeat the cold pass's response to its request
    val checked = ops.asScala.toList.map { o =>
      verified.get(o.name) match {
        case Some(v) if o.ok && v.ok && (v.digest != o.digest || v.rows != o.rows) =>
          o.copy(ok = false, err = s"response differs from the cold pass's response to ${o.name}")
        case _ => o
      }
    }
    JObject(
      "workload" -> JString(workload),
      "steady_start_ms" -> JDouble(steadyStartMs),
      "setup" -> JObject(setup.toList),
      "ops" -> JArray(checked.map { o =>
        JObject("id" -> JString(o.id), "kind" -> JString(o.kind), "name" -> JString(o.name),
          "traced" -> JBool(o.traced), "start_ms" -> JDouble(o.startMs),
          "end_ms" -> JDouble(o.endMs), "ok" -> JBool(o.ok), "err" -> JString(o.err),
          "rows" -> JLong(o.rows), "value" -> JLong(o.value), "eager_ms" -> JDouble(o.eagerMs))
      }),
      "passes" -> JArray(passes.toList),
      "layer" -> JObject(layer.toList.map { case (kind, m) =>
        JField(kind, JObject(m.toList.map { case (k, v) => JField(k, JDouble(v)) })) }),
      "batch_ms" -> JObject(batchMs.toList.map { case (kind, b) =>
        JField(kind, JArray(b.toList.map(JDouble(_)))) }),
      "spans" -> JArray(tracer.spans.asScala.toList.map { s =>
        JObject("id" -> JLong(s.id), "parent" -> JLong(s.parent), "op" -> JString(s.op),
          "name" -> JString(s.name), "start_ms" -> JDouble(s.startMs), "end_ms" -> JDouble(s.endMs))
      }),
      "jvm" -> JObject("gc_ms" -> JDouble((jvmGcMs - gcMs0).toDouble),
        "heap_peak_mb" -> JDouble(heapPeakMb), "vmhwm_mb" -> JDouble(vmHwmMb)))
  }

  private def fresh(root: Path): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.graft.artifactDir", root.toString)
    s.conf.set("spark.graft.ann.indexDir", root.toString)
    if (tracing) tracer.attachSession(s)
    spark = s
    s
  }

  private def retire(s: SparkSession): Unit = {
    releaseCaches(s)
    spark = base
  }

  /** The session's graph catalog, timed: the first call in a session
    * reads every table's footers. */
  private def timedGraph(s: SparkSession): graft.traversal.Graph = {
    val t0 = Clock.nowMs
    val g = graft.sources.TestData.graph(s, dataDir)
    setup("graph_ms") = JDouble(Clock.nowMs - t0)
    g
  }

  private def coldPass(root: Path, inputs: Seq[Input], clients: Int): Unit = {
    val results = new java.util.concurrent.ConcurrentHashMap[String, () => DataFrame]
    val (ms, s) = window("cold", traceOn) {
      val s = if (inPassSession) fresh(root) else base
      // the session's graph catalog, timed, so no op of the pass carries it
      if (inPassSession) timedGraph(s)
      (sweep("cold", inputs, clients, record = true, keep = Some(results)), s)
    }
    val built = versionDirs(root).size
    val mb = Tracer.dirBytes(root) / 1048576.0
    val v0 = Clock.nowMs
    writeResults(results)
    ops.asScala.foreach(o => if (o.kind == "cold" && o.digest.nonEmpty) verified(o.name) = o)
    val verifyMs = Clock.nowMs - v0
    if (s ne base) retire(s)
    passes += JObject("kind" -> JString("cold"), "traced" -> JBool(traceOn),
      "ms" -> JDouble(ms), "sweep_ms" -> JDouble(ms), "verify_ms" -> JDouble(verifyMs),
      "artifacts_built" -> JLong(built), "artifact_mb" -> JDouble(mb))
    System.gc()
  }

  /** Untimed: writes the kept results named in `verify` under verify/
    * for the DuckDB compare. A result that fails to write fails the
    * compare (its directory is missing). */
  private def writeResults(results: java.util.concurrent.ConcurrentHashMap[String, () => DataFrame]): Unit =
    results.asScala.toSeq.sortBy(_._1).filter(r => verifyIds(r._1)).foreach { case (id, df) =>
      try df().coalesce(1).write.mode("overwrite").parquet(verifyDir.resolve(id).toString)
      catch { case NonFatal(_) => () }
    }

  private def warmPass(root: Path, inputs: Seq[Input], clients: Int, traced: Boolean): Unit = {
    val before = versionDirs(root)
    var resolveMs = 0.0
    val (ms, sweepMs, s) = window("warm", traced) {
      val t0 = Clock.nowMs
      val s = if (!inPassSession) base else {
        val s = fresh(root)
        graft.services.Warm.resolve(s, dataDir)
        resolveMs = Clock.nowMs - t0
        if (tracing) tracer.child("", "sources.warm_resolve", t0, t0 + resolveMs)
        // the session's graph catalog, so no op of the pass carries its build
        graft.sources.TestData.graph(s, dataDir)
        s
      }
      val sweepMs = sweep("warm", inputs, clients, record = true)
      (Clock.nowMs - t0, sweepMs, s)
    }
    passes += JObject("kind" -> JString("warm"), "traced" -> JBool(traced),
      "ms" -> JDouble(ms), "sweep_ms" -> JDouble(sweepMs), "resolve_ms" -> JDouble(resolveMs),
      "artifacts_built" -> JLong((versionDirs(root) -- before).size))
    // a retired session's garbage is collected before the next pass; api
    // passes follow each other like a server's traffic
    if (s ne base) { retire(s); System.gc() }
  }

  /** Serves every input once with `clients` closed-loop threads (each
    * sends its next input when the previous one returns); returns the wall
    * time in ms. */
  private def sweep(kind: String, inputs: Seq[Input], clients: Int, record: Boolean,
      keep: Option[java.util.concurrent.ConcurrentHashMap[String, () => DataFrame]] = None): Double = {
    val next = new AtomicLong(0)
    val t0 = Clock.nowMs
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < inputs.size) {
          val in = inputs(i.toInt)
          val o = op(kind, in, keep)
          if (record) ops.add(o)
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    Clock.nowMs - t0
  }

  /** The cold pass's op per api request id: the response every later
    * response to that request must repeat. */
  private val verified = scala.collection.concurrent.TrieMap.empty[String, Op]

  // ======================================================== registry queries
  private def registryInputs: (Int => Seq[Input], Int) = {
    val all = graft.SparkEntry.queries
    val orders = (cfg \ "orders").children.map(_.extract[Seq[String]])
    ((iter: Int) => orders(iter % orders.size).map { name =>
      val fn = all(name)
      Input(name, (id, traced) => {
        val e0 = Clock.nowMs
        val df = fn(spark, dataDir)
        val e1 = Clock.nowMs
        if (traced) tracer.child(id, "sources.eager", e0, e1)
        Served(df.count(), -1, "", e1 - e0, () => df)
      })
    }, 1)
  }

  // ================================================================ api_query
  private def apiInputs(graph: graft.traversal.Graph): (Int => Seq[Input], Int) = {
    val reqs = (cfg \ "requests").children.map(r =>
      ((r \ "id").extract[String], (r \ "template").extract[String], (r \ "json").extract[String]))
    val base = new QueryExecutor(graph, QueryExecutor.defaultNamed(graph))
    val v1 = new QueryExecutor(graph, Map.empty, version = (1, 1))
    val exec = new GlobalQueryExecutor(Seq(base, v1)).get(1)
    def serve(id: String, json: String, traced: Boolean): Served = {
      if (traced) {
        // the build call alone: parse → traversal → analysed DataFrame
        val b0 = Clock.nowMs
        exec.execute(json)
        tracer.child(id, "query.build", b0, Clock.nowMs)
      }
      val s0 = Clock.nowMs
      val js = exec.executeJson(json)
      if (traced) tracer.child(id, "query.serve", s0, Clock.nowMs)
      // the rows behind the response, built only for the untimed compare
      Served(rows(js), value(js), md5(JsonMethods.compact(JsonMethods.render(js))), 0.0,
        () => exec.execute(json))
    }
    val inputs = reqs.map { case (id, _, json) => Input(id, (opId, traced) => serve(opId, json, traced)) }
    ((_: Int) => inputs, (cfg \ "clients").extract[Int])
  }

  /** Rows a rendered response carries: array length, object keys, or one
    * for a scalar. */
  private def rows(js: JValue): Long = js match {
    case JArray(xs) => xs.size
    case JObject(fs) => fs.size
    case JNull | JNothing => 0
    case _ => 1
  }

  /** The number a count response carries, -1 for any other response. */
  private def value(js: JValue): Long = js match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case _ => -1
  }

  private def releaseCaches(s: SparkSession): Unit = {
    graft.queries.TextQueries.releaseCaches(s)
    graft.queries.SearchQueries.releaseCaches(s)
    graft.sources.AnnIndex.releaseCaches(s)
    graft.queries.VectorQueries.releaseCaches(s)
    graft.queries.MogQueries.releaseCaches(s)
    graft.sources.TestData.releaseCache(s)
  }

  /** The artifact version directories (`<family>_v_<id>`) under `root`.
    * Every index build stages a new one, also when it replaces the
    * pointer of a family already there. */
  private def versionDirs(root: Path): Set[String] =
    if (!Files.isDirectory(root)) Set.empty
    else {
      val st = Files.list(root)
      try st.iterator().asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString)
        .filter(_.contains("_v_")).toSet
      finally st.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }
}

/** Per-rule optimizer metering of graft's own rules, from the process-wide
  * `RuleExecutor.queryExecutionMeter` report. */
object RuleMeter {
  private val Line = """\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*""".r

  /** rule → (effective ns, total ns, effective runs, runs) for graft.plans rules. */
  def snapshot(): Map[String, (Long, Long, Long, Long)] =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .split("\n").toSeq.collect {
        case Line(rule, et, t, er, r) if rule.startsWith("graft.plans.") =>
          rule -> ((et.toLong, t.toLong, er.toLong, r.toLong))
      }.toMap

  def delta(before: Map[String, (Long, Long, Long, Long)]): Map[String, Double] = {
    val now = snapshot()
    val d = now.map { case (k, (et, t, er, r)) =>
      val (et0, t0, er0, r0) = before.getOrElse(k, (0L, 0L, 0L, 0L))
      (et - et0, t - t0, er - er0, r - r0)
    }
    Map(
      "plans.graft_rule_ns" -> d.map(_._2).sum.toDouble,
      "plans.graft_rule_effective_runs" -> d.map(_._3).sum.toDouble,
      "plans.graft_rule_runs" -> d.map(_._4).sum.toDouble)
  }
}

/** Whole-stage codegen compile cost from Spark's `CodegenMetrics`. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics

  /** The compile-time histogram's count and its sampled values (ms). */
  def snapshot(): (Long, Seq[Long]) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.toSeq)
  }

  def delta(before: (Long, Seq[Long])): Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount - before._1
    // the samples taken since `before`: every compile while the reservoir
    // still holds every sample, a random share of them after that
    val old = scala.collection.mutable.Map.empty[Long, Int]
    before._2.foreach(v => old(v) = old.getOrElse(v, 0) + 1)
    val fresh = h.getSnapshot.getValues.toSeq.filter { v =>
      old.get(v) match {
        case Some(k) if k > 0 => old(v) = k - 1; false
        case _ => true
      }
    }
    Map(
      "spark.codegen_compile_ms" -> (if (fresh.isEmpty) 0.0 else fresh.sum.toDouble * n / fresh.size),
      "spark.codegen_max_method_bytes" ->
        CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax.toDouble)
  }
}
