package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{Main, Sessions, SparkEntry}
import graft.ml.{ModelBuilder, PredictionServer, Serve, WorkflowGenerator}
import graft.sources.Events

/** JVM side of the benchmark. Runs one workload against the compiled
  * library and writes raw records — operations, requests, spans and
  * listener events — as one JSON document; `perfbench/run.py` turns them
  * into metrics and checks outputs against the stored references.
  *
  * Usage: GraftBench <config.json> <out.json>
  *
  * All spans are taken here, around calls into the library's public
  * functions, plus two listeners attached from outside (a SparkListener
  * and a QueryExecutionListener). Nothing inside the library is traced.
  */
object GraftBench {

  // ---- clock: epoch milliseconds with nanoTime resolution, comparable
  // with the epoch-ms times Spark stamps on listener events
  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis().toDouble
  def now(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  private def jd(x: Double): JValue = JDouble(x)
  private def js(x: String): JValue = JString(x)
  private def jl(x: Long): JValue = JLong(x)
  private def errJson(e: Throwable): JValue =
    if (e == null) JNull
    else JObject("class" -> js(e.getClass.getName),
      "message" -> js(String.valueOf(e.getMessage).take(400)))

  /** Spans kept in memory and written with the result. Harness spans
    * carry their parent explicitly; listener events are attributed to the
    * innermost enclosing harness span afterwards, by time.
    */
  final class Tracer {
    @volatile var on = false
    private val spans = new ConcurrentLinkedQueue[JValue]()
    private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
    private val ids = new java.util.concurrent.atomic.AtomicLong(0)

    def span[T](name: String, op: String)(f: => T): T =
      if (!on) f
      else {
        val id = ids.incrementAndGet()
        val parent = stack.get.headOption.getOrElse(0L)
        stack.set(id :: stack.get)
        val t0 = now()
        try f
        finally {
          stack.set(stack.get.tail)
          add(id, name, t0, now(), parent, op)
        }
      }

    def add(id: Long, name: String, start: Double, end: Double, parent: Long, op: String): Unit =
      spans.add(JObject("id" -> jl(id), "name" -> js(name), "start" -> jd(start),
        "end" -> jd(end), "parent" -> jl(parent), "op" -> js(op)))

    def all: List[JValue] = spans.asScala.toList
  }

  /** SparkListener + QueryExecutionListener recording jobs, stages and
    * Catalyst phases while attached.
    */
  final class Listeners(spark: SparkSession, tracer: Tracer) {
    val jobs = new ConcurrentLinkedQueue[JValue]()
    val stages = new ConcurrentLinkedQueue[JValue]()
    val executions = new ConcurrentLinkedQueue[JValue]()
    @volatile var jobsStarted = 0L
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ArrayBuffer[Long]]()

    private val sparkListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobStart.put(j.jobId, j.time); jobsStarted += 1
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = Option(jobStart.remove(j.jobId)).map(_.toLong).getOrElse(j.time)
        jobs.add(JObject("job" -> JInt(j.jobId), "start" -> jd(s.toDouble),
          "end" -> jd(j.time.toDouble)))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          val buf = taskMs.computeIfAbsent(t.stageId, _ => ArrayBuffer.empty[Long])
          buf.synchronized { buf += t.taskInfo.duration }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val ds = Option(taskMs.remove(i.stageId)).map(b => b.synchronized(b.sorted.toSeq))
          .getOrElse(Seq.empty)
        val (mx, med) =
          if (ds.isEmpty) (0L, 0L) else (ds.last, ds(ds.size / 2))
        stages.add(JObject(
          "stage" -> JInt(i.stageId),
          "start" -> jd(i.submissionTime.getOrElse(0L).toDouble),
          "end" -> jd(i.completionTime.getOrElse(0L).toDouble),
          "tasks" -> JInt(i.numTasks),
          "run_ms" -> jl(if (m == null) 0 else m.executorRunTime),
          "cpu_ms" -> jd(if (m == null) 0 else m.executorCpuTime / 1e6),
          "gc_ms" -> jl(if (m == null) 0 else m.jvmGCTime),
          "shuffle_read" -> jl(if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead),
          "shuffle_write" -> jl(if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten),
          "spill" -> jl(if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled),
          "task_max_ms" -> jl(mx), "task_median_ms" -> jl(med)))
      }
    }

    private def phases(qe: QueryExecution, fn: String, err: Exception): Unit = {
      val ph = qe.tracker.phases
      def p(n: String): JValue = ph.get(n)
        .map(s => JObject("start" -> jd(s.startTimeMs.toDouble), "end" -> jd(s.endTimeMs.toDouble)))
        .getOrElse(JNull)
      executions.add(JObject("t" -> jd(now()), "func" -> js(fn), "analysis" -> p("analysis"),
        "optimization" -> p("optimization"), "planning" -> p("planning"),
        "error" -> errJson(err)))
    }

    private val qeListener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = phases(qe, fn, null)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = phases(qe, fn, e)
    }

    private var attached = false
    def attach(): Unit = if (!attached) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      tracer.on = true; attached = true
    }
    def detach(): Unit = if (attached) {
      BusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      tracer.on = false; attached = false
    }
    def jobsNow(): Long = { BusDrain.drain(spark.sparkContext); jobsStarted }
  }

  private def codegenNow(): JValue = JObject(
    "t" -> jd(now()),
    "compile_ms" -> jd(CodeGenerator.compileTime / 1e6),
    "compiles" -> jl(CodegenMetrics.METRIC_COMPILATION_TIME.getCount))

  /** Order-insensitive content hash of a frame: row count and the exact
    * sum of per-row xxhash64 over every column. Map-typed columns hash
    * through their JSON form (Spark refuses to hash maps).
    */
  def rowHash(df: DataFrame): String = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = r.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = r.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val s = if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString
    s"${row.getLong(0)}:$s"
  }

  /** Peak resident set of this JVM (Linux VmHWM); 0 where unavailable. */
  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  def main(args: Array[String]): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val cfg = JsonMethods.parse(Files.readString(Paths.get(args(0))))
    val outPath = args(1)
    val cores = (cfg \ "cores").extract[Int]
    val work = (cfg \ "work_dir").extract[String]
    val spark = Sessions.builder(s"local[$cores]", cores)
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    val listeners = new Listeners(spark, tracer)
    val out = ArrayBuffer.empty[(String, JValue)]
    out += "session_ready" -> jd(now())
    val body = (cfg \ "workload").extract[String] match {
      case "fleet_serve" => new Fleet(spark, cfg, tracer, listeners).run()
      case _ => new Queries(spark, cfg, tracer, listeners).run()
    }
    listeners.detach()
    out ++= body
    out += "spans" -> JArray(tracer.all)
    out += "jobs" -> JArray(listeners.jobs.asScala.toList)
    out += "stages" -> JArray(listeners.stages.asScala.toList)
    out += "executions" -> JArray(listeners.executions.asScala.toList)
    out += "vm_hwm_kb" -> jl(peakRssKb())
    Files.writeString(Paths.get(outPath), JsonMethods.compact(JsonMethods.render(JObject(out.toList))))
    spark.stop()
  }

  /** `sensor_queries` / `curation_queries`: a cold pass that also hashes
    * every output (set-up), then whole warm passes in seeded order.
    */
  final class Queries(spark: SparkSession, cfg: JValue, tracer: Tracer, ls: Listeners) {
    implicit val fmts: Formats = DefaultFormats
    private val dir = (cfg \ "fixture_dir").extract[String]
    private val passes = (cfg \ "passes").extract[Seq[Seq[String]]]
    private val tracedPass = (cfg \ "traced").extract[Seq[Boolean]]
    private val ops = ArrayBuffer.empty[JValue]
    private val passRecs = ArrayBuffer.empty[JValue]
    private val codegen = ArrayBuffer.empty[JValue]

    private def runQuery(name: String, phase: String, pass: Int, traced: Boolean): Unit = {
      val op = s"$phase:$pass:$name"
      val t0 = now()
      var tb = Double.NaN
      var err: Throwable = null
      var hash: JValue = JNull
      tracer.span("op.query", op) {
        try {
          val df = tracer.span("entry.build", op)(SparkEntry.queries(name)(spark, dir))
          tb = now()
          if (phase != "warm") hash = tracer.span("sink.hash", op)(js(rowHash(df)))
          else tracer.span("sink.noop", op)(df.write.format("noop").mode("overwrite").save())
        } catch { case e: Throwable => err = e }
      }
      val t1 = now()
      ops += JObject("name" -> js(name), "phase" -> js(phase), "pass" -> JInt(pass),
        "traced" -> JBool(traced), "start" -> jd(t0), "end" -> jd(t1),
        "build_ms" -> jd(if (tb.isNaN) t1 - t0 else tb - t0), "ok" -> JBool(err == null),
        "error" -> errJson(err), "hash" -> hash)
    }

    private def runPass(order: Seq[String], phase: String, pass: Int, traced: Boolean): Double = {
      if (traced) ls.attach() else ls.detach()
      codegen += codegenNow()
      val t0 = now()
      order.foreach(runQuery(_, phase, pass, traced))
      val t1 = now()
      codegen += codegenNow()
      passRecs += JObject("pass" -> JInt(pass), "phase" -> js(phase), "traced" -> JBool(traced),
        "start" -> jd(t0), "end" -> jd(t1))
      t1 - t0
    }

    def run(): Seq[(String, JValue)] = {
      // the cold pass materializes each query through the output hash
      // rather than the noop sink: it is set-up either way, and so the
      // check sees every query's first output from a cold registry
      // queries no hashed call has given an output for yet
      def unchecked(): Seq[String] = passes.head.filterNot(n => ops.exists(o =>
        (o \ "name").extract[String] == n && (o \ "phase").extract[String] != "warm" &&
          (o \ "ok").extract[Boolean]))
      runPass(passes.head, "cold", 0, tracedPass.head)
      // a query whose cold call threw is hashed once more, still in
      // set-up: its output is checked all the same, and the fit the failed
      // call left undone is not paid inside a timed pass
      if (unchecked().nonEmpty) runPass(unchecked(), "recheck", 0, tracedPass.head)
      val setupEnd = now()
      // whole passes only, so every pass holds each query once; which
      // passes are traced comes with the config (ABBA order in a traced
      // run, so the tracing overhead is measured inside one process)
      for (i <- 1 until passes.size) runPass(passes(i), "warm", i, tracedPass(i))
      // and once more after the timed passes if that call threw too
      if (unchecked().nonEmpty) runPass(unchecked(), "recheck", passes.size, false)
      ls.detach()
      Seq("setup_end" -> jd(setupEnd), "ops" -> JArray(ops.toList),
        "passes" -> JArray(passRecs.toList), "codegen" -> JArray(codegen.toList))
    }
  }

  /** `fleet_serve`: fleet build → load one machine → open-loop
    * `/prediction` ladder over loopback → `Main.client` bulk predict.
    */
  final class Fleet(spark: SparkSession, cfg: JValue, tracer: Tracer, ls: Listeners) {
    implicit val fmts: Formats = DefaultFormats
    private val dir = (cfg \ "fixture_dir").extract[String]
    private val work = (cfg \ "work_dir").extract[String]
    private val trace = (cfg \ "trace").extract[Boolean]
    private val f = cfg \ "fleet"
    private val fleetJson = JsonMethods.compact(JsonMethods.render(f \ "config"))
    private val served = (f \ "serve_machine").extract[String]
    private val conns = (f \ "connections").extract[Int]
    private val resolution = (f \ "resolution").extract[String]
    private val out = ArrayBuffer.empty[(String, JValue)]

    private def timed[T](fn: => T): (T, Double) = { val t0 = now(); val r = fn; (r, now() - t0) }

    private def post(url: String, payload: String): (Int, String) = {
      val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(payload.getBytes(UTF_8)) finally os.close()
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream
        else Option(conn.getErrorStream).getOrElse(java.io.InputStream.nullInputStream())
      try (code, new String(is.readAllBytes(), UTF_8)) finally is.close()
    }

    final class Req(val rung: String, val idx: Int, val size: Int, val offset: Int, val due: Double,
        var send: Double = 0, var end: Double = 0, var code: Int = 0,
        var body: String = "", var err: Throwable = null)

    private def payload(records: Array[String], offset: Int, size: Int): String =
      (0 until size).map(j => records((offset + j) % records.length)).mkString("[", ",", "]")

    /** Open loop: each request is sent at its due time by one of `conns`
      * client threads; when all are busy it waits, and its latency still
      * counts from the due time. Listeners are attached for a traced rung.
      */
    private def openLoop(url: String, records: Array[String], rung: JValue, name: String): Seq[Req] = {
      val dues = (rung \ "due_ms").extract[Seq[Double]]
      val idx0 = (rung \ "idx0").extract[Int]
      if ((rung \ "traced").extract[Boolean]) ls.attach() else ls.detach()
      val sizes = (rung \ "sizes").extract[Seq[Int]]
      val offsets = (rung \ "offsets").extract[Seq[Int]]
      val pool = Executors.newFixedThreadPool(conns)
      val t0 = now() + 20
      val reqs = dues.indices.map(i => new Req(name, idx0 + i, sizes(i), offsets(i), t0 + dues(i)))
      tracer.span(s"loadgen.rung", name) {
        reqs.foreach { r =>
          val wait = r.due - now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          pool.submit(new Runnable {
            def run(): Unit = {
              r.send = now()
              try { val (c, b) = post(url, payload(records, r.offset, r.size)); r.code = c; r.body = b }
              catch { case e: Throwable => r.err = e }
              r.end = now()
            }
          })
        }
        pool.shutdown()
        pool.awaitTermination(10, TimeUnit.MINUTES)
      }
      reqs
    }

    private def reqJson(r: Req): JValue = JObject("rung" -> js(r.rung), "idx" -> JInt(r.idx),
      "size" -> JInt(r.size), "due" -> jd(r.due), "send" -> jd(r.send), "end" -> jd(r.end),
      "code" -> JInt(r.code), "error" -> (if (r.err != null) errJson(r.err)
        else if (r.code != 200) JObject("class" -> js(s"HTTP ${r.code}"), "message" -> js(r.body.take(400)))
        else JNull))

    /** Every 200 response must equal `Serve.scoreFrame` on the same
      * records, row by row on `req_idx`. The reference scores all
      * requests' records in a few combined frames; the served scorers are
      * row-wise, so a record's score does not depend on its neighbours.
      */
    private def checkResponses(scorer: graft.ml.TagAnomalyScorer, tags: Seq[String],
        records: Array[String], reqs: Seq[Req]): Seq[(Req, String)] = {
      val okReqs = reqs.filter(r => r.err == null && r.code == 200)
      val chunks = ArrayBuffer.empty[ArrayBuffer[Req]]
      var n = 0
      okReqs.foreach { r =>
        if (chunks.isEmpty || n + r.size > 20000) { chunks += ArrayBuffer.empty; n = 0 }
        chunks.last += r; n += r.size
      }
      val cols = "anomaly_score" +: tags.map(t => s"tag_anomaly_$t")
      chunks.toSeq.flatMap { chunk =>
        val body = chunk.map(r => payload(records, r.offset, r.size).drop(1).dropRight(1))
          .mkString("[", ",", "]")
        val ref = Serve.scoreFrame(scorer, Serve.parseRequest(spark, body, tags), tags)
          .select((col("req_idx") +: col("anomalous") +: cols.map(col)): _*)
          .collect().map(row => row.getLong(0) -> row).toMap
        var base = 0L
        chunk.toSeq.flatMap { r =>
          val got = JsonMethods.parse(r.body).extract[List[JValue]]
          val b = base
          base += r.size
          def num(v: JValue): Option[Double] = v match {
            case JDouble(x) => Some(x); case JInt(x) => Some(x.toDouble)
            case JLong(x) => Some(x.toDouble); case _ => None
          }
          val bad =
            if (got.size != r.size) Some(s"${got.size} rows for ${r.size} records")
            else got.zipWithIndex.collectFirst {
              case (g, j) if {
                val want = ref(b + j)
                (g \ "req_idx").extract[Long] != j ||
                  (g \ "anomalous").extractOpt[Boolean] != Option(want.get(1)).map(_.asInstanceOf[Boolean]) ||
                  cols.zipWithIndex.exists { case (c, k) =>
                    val w = Option(want.get(k + 2)).map(_.asInstanceOf[Double])
                    val v = num(g \ c)
                    w.isDefined != v.isDefined ||
                      w.exists(x => math.abs(x - v.get) > 1e-9 * math.max(1.0, math.abs(x)))
                  }
              } => s"row $j differs from Serve.scoreFrame"
            }
          bad.map(r -> _)
        }
      }
    }

    def run(): Seq[(String, JValue)] = {
      val longPath = s"$work/long.parquet"
      val outDir = s"$work/fleet"
      ls.detach()
      if (trace) ls.attach()
      val (long, prepMs) = timed {
        Events.read(spark, s"$dir/events.parquet")
          .select(col("event_type").as("tag"), col("ts"), col("value"))
          .write.parquet(longPath)
        spark.read.parquet(longPath)
      }
      // fleet build (set-up: a user pays it before the first request)
      val (fleet, buildMs) = timed(tracer.span("op.build", "fleet")(
        WorkflowGenerator.buildFleet(spark, fleetJson, long, outDir)))
      val machines = WorkflowGenerator.normalize(fleetJson)
      val manifest = JsonMethods.parse(Files.readString(Paths.get(fleet.manifestPath)))
      val listed = (manifest \ "machines").extract[List[JValue]]
        .filter(m => (m \ "status").extractOpt[String].contains("built"))
        .map(m => (m \ "name").extract[String]).toSet
      // each machine must be built, listed in the manifest, and load
      val machineChecks = machines.map { case (name, mtype, _) =>
        val err: Throwable =
          fleet.failed.find(_._1 == name).map(_._2).getOrElse {
            try {
              require(listed(name), s"$name missing from fleet manifest")
              val a = fleet.built.find(_.name == name).get
              if (Set("pca_anomaly", "autoencoder", "autoencoder_sgd", "autoencoder_seq")(mtype))
                Main.loadScorer(spark, a.path)
              else {
                JsonMethods.parse(Files.readString(Paths.get(a.path, "metadata.json")))
                val files = Files.list(Paths.get(a.path))
                try require(files.count() > 1, s"$name has no model files") finally files.close()
              }
              null
            } catch { case e: Throwable => e }
          }
        JObject("name" -> js(name), "type" -> js(mtype), "ok" -> JBool(err == null),
          "built" -> JBool(!fleet.failed.exists(_._1 == name)), "error" -> errJson(err))
      }
      val artifactBytes = Files.walk(Paths.get(outDir)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum

      val servedPath = fleet.built.find(_.name == served).map(_.path)
        .getOrElse(throw new IllegalStateException(s"served machine $served was not built"))
      val ((scorer, tags), loadMs) = timed(tracer.span("serve.load", "serve")(
        Main.loadScorer(spark, servedPath)))
      val server = new PredictionServer(spark, scorer, tags, port = 0,
        resolution = Main.loadResolution(servedPath)).start()
      val url = s"http://127.0.0.1:${server.boundPort}/prediction"
      val wide = graft.ops.Timeseries.align(long, "ts", "tag", "value", tags, resolution)
        .orderBy("bucket")
      val records = wide.select((col("bucket").cast("string").as("ts")) +: tags.map(col): _*)
        .toJSON.collect()
      val warm = openLoop(url, records, f \ "warmup", "warmup")
      val base = "http://127.0.0.1:" + server.boundPort
      val (from, to) = ((f \ "client_from").extract[String], (f \ "client_to").extract[String])
      def client(): JValue = {
        val t0 = now()
        val (n, err) = try (Main.client(base, longPath, from, to, None), null)
          catch { case e: Throwable => (0L, e) }
        JObject("start" -> jd(t0), "end" -> jd(now()), "rows" -> jl(n), "error" -> errJson(err))
      }
      val clientWarm = client()
      val setupEnd = now()

      // ---- timed region
      val rungs = (f \ "rungs").extract[List[JValue]]
      val reqs = ArrayBuffer.empty[Req]
      rungs.foreach { rung => reqs ++= openLoop(url, records, rung, (rung \ "name").extract[String]) }
      ls.detach()
      val clientRuns = (1 to (f \ "client_runs").extract[Int]).map(_ => client())


      // ---- traced extras: the same layers called one at a time
      val extras = ArrayBuffer.empty[(String, JValue)]
      if (trace) {
        ls.attach()
        extras += "decomposed" -> JArray(decomposed(scorer, tags, records))
        extras += "client_align" -> JArray((1 to (f \ "client_runs").extract[Int]).toList.map { _ =>
          val t0 = now()
          tracer.span("client.align", "client") {
            val lf = spark.read.parquet(longPath)
              .filter(col("ts") >= lit(java.sql.Timestamp.valueOf(from.replace('T', ' '))) &&
                col("ts") < lit(java.sql.Timestamp.valueOf(to.replace('T', ' '))))
            graft.ops.Timeseries.align(lf, "ts", "tag", "value", tags, resolution)
              .orderBy("bucket").select((col("bucket").cast("string").as("ts")) +: tags.map(col): _*)
              .toJSON.collect()
          }
          JObject("ms" -> jd(now() - t0))
        })
        extras += "machine_builds" -> JArray(machines.toList.map { case (name, mtype, mcfg) =>
          val cfgMap = JsonMethods.parse(mcfg).extract[Map[String, Any]]
          val (_, dsMs) = timed(tracer.span("build.dataset", name)(
            ModelBuilder.dataset(long, cfgMap)._1.write.format("noop").mode("overwrite").save()))
          val (r, ms) = timed(tracer.span("build.machine", name)(WorkflowGenerator.buildFleet(
            spark, s"""{"machines": [$mcfg]}""", long, s"$work/fleet-$name")))
          JObject("name" -> js(name), "type" -> js(mtype), "dataset_ms" -> jd(dsMs),
            "build_ms" -> jd(ms), "ok" -> JBool(r.failed.isEmpty))
        })
        ls.detach()
      }
      server.stop()

      val mismatches = checkResponses(scorer, tags, records, (warm ++ reqs).toSeq)
      out ++= Seq("setup_end" -> jd(setupEnd),
        "prep_ms" -> jd(prepMs), "build_ms" -> jd(buildMs), "load_ms" -> jd(loadMs),
        "artifact_bytes" -> jl(artifactBytes), "machines" -> JArray(machineChecks.toList),
        "warmup" -> JArray(warm.map(reqJson).toList),
        "requests" -> JArray(reqs.map(reqJson).toList),
        "mismatches" -> JArray(mismatches.toList.map { case (r, why) =>
          JObject("rung" -> js(r.rung), "idx" -> JInt(r.idx), "why" -> js(why)) }),
        "client_warmup" -> clientWarm, "client" -> JArray(clientRuns.toList),
        "connections" -> JInt(conns))
      out ++= extras
      out.toSeq
    }

    /** Traced run only: one request's parse → score → encode, each timed
      * through its public function, with the Spark jobs each one starts.
      */
    private def decomposed(scorer: graft.ml.TagAnomalyScorer, tags: Seq[String],
        records: Array[String]): List[JValue] = {
      val samples = (f \ "decomposed_samples").extract[List[JValue]]
      samples.map { s =>
        val size = (s \ "size").extract[Int]
        val body = payload(records, (s \ "offset").extract[Int], size)
        val op = s"decomposed:$size:${(s \ "offset").extract[Int]}"
        tracer.span("op.request", op) {
          val j0 = ls.jobsNow()
          val (x, parseMs) = timed(tracer.span("serve.parse", op)(Serve.parseRequest(spark, body, tags)))
          val j1 = ls.jobsNow()
          val (_, scoreMs) = timed(tracer.span("serve.score", op)(
            Serve.scoreFrame(scorer, x, tags).write.format("noop").mode("overwrite").save()))
          val j2 = ls.jobsNow()
          val (_, encodeMs) = timed(tracer.span("serve.encode", op)(
            Serve.toJsonResponse(Serve.scoreFrame(scorer, x, tags))))
          val j3 = ls.jobsNow()
          JObject("size" -> JInt(size), "parse_ms" -> jd(parseMs), "score_ms" -> jd(scoreMs),
            "encode_ms" -> jd(encodeMs), "request_jobs" -> jl((j1 - j0) + (j3 - j2)))
        }
      }
    }
  }
}
