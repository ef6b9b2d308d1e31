package gbench

import java.net.{HttpURLConnection, InetSocketAddress, URI, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cli.{Bgutil, RenderTarget}
import graft.model.Retention
import graft.operators.TimeSeriesReader
import graft.sources.{MetricCatalog, PointsStore}

/** The system under test plus a control port, in one JVM.
  *
  * The system under test is the shipped CLI: `Bgutil.main(<db> web <port>)`
  * and, for the ingest workload, `Bgutil.main(<db> carbon <port> ...)`,
  * each on its own thread, so the Spark session is the one `Bgutil.main`
  * builds. The harness then shares that session to
  *  - seed the store through the public write path (seeded workloads),
  *  - replay the layer calls of one request and account its Spark work
  *    (`/trace`, traced runs only),
  *  - report which micro-batch first made each stage0 point durable
  *    (`/visibility`, ingest).
  *
  * Usage:
  * {{{
  *   Harness seeded <db> <webPort> <ctlPort> <trace> <seed> <nowS> <S> <H>
  *           <kinds,comma,list> <counterKinds,comma,list> <retA> <retB>
  *   Harness ingest <db> <webPort> <ctlPort> <trace> <carbonPort> <retention>
  * }}}
  * Prints one `READY {json}` line when the web face answers.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dbDir = args(1)
    val webPort = args(2)
    val ctlPort = args(3).toInt
    val trace = args(4) == "1"
    val t0 = System.nanoTime()
    val timings = mutable.LinkedHashMap[String, Double]()

    if (mode == "ingest")
      daemon(Array(dbDir, "carbon", args(5), args(6), "last"))
    else daemon(Array(dbDir, "web", webPort))
    val spark = awaitSession()
    val db = Bgutil.Db(spark, dbDir)
    val progress = new IngestProgress
    if (trace) spark.streams.addListener(progress)
    timings("session_ms") = ms(t0)

    if (mode == "seeded") {
      val (catMs, pointsMs, rows) = seed(db, args.drop(5))
      timings("catalog_commit_ms") = catMs
      timings("seed_write_ms") = pointsMs
      timings("seed_rows") = rows.toDouble
    } else daemon(Array(dbDir, "web", webPort))

    val ctl = HttpServer.create(new InetSocketAddress("127.0.0.1", ctlPort), 0)
    val tracer = new Tracer(db, webPort.toInt)
    route(ctl, "/trace")(q => tracer.trace(q("rid"), q("url")))
    route(ctl, "/visibility")(q => visibility(db, q("stage")))
    route(ctl, "/progress")(_ => progress.json)
    route(ctl, "/quit") { _ =>
      new Thread(() => { Thread.sleep(50); Runtime.getRuntime.halt(0) }).start()
      "{}"
    }
    ctl.start()
    awaitHealth(webPort.toInt)
    timings("ready_ms") = ms(t0)
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.master") || k.startsWith("spark.sql.shuffle") ||
        k.startsWith("spark.sql.session.timeZone") || k == "spark.ui.enabled" ||
        k.startsWith("spark.driver.memory") || k.startsWith("spark.default")
    }
    val info = timings.map { case (k, v) => s""""$k":$v""" } ++ Seq(
      s""""spark_conf":${jsonObj(conf.toSeq.sorted)}""",
      s""""max_heap_bytes":${Runtime.getRuntime.maxMemory()}""",
      s""""spark_version":"${spark.version}"""")
    println("READY " + info.mkString("{", ",", "}"))
    System.out.flush()
    Thread.currentThread().join()
  }

  /** Run a `bgutil` subcommand the way the CLI does, on a daemon thread. */
  private def daemon(args: Array[String]): Unit = {
    val t = new Thread(() => Bgutil.main(args), s"bgutil-${args(1)}")
    t.setDaemon(true)
    t.start()
  }

  private def awaitSession(): SparkSession = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (System.nanoTime() < deadline) {
      SparkSession.getDefaultSession match {
        case Some(s) => return s
        case None => Thread.sleep(20)
      }
    }
    sys.error("Bgutil.main built no Spark session within 120 s")
  }

  private def awaitHealth(port: Int): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (System.nanoTime() < deadline) {
      try { if (get(port, "/health")._1 == 200) return }
      catch { case _: java.io.IOException => Thread.sleep(20) }
    }
    sys.error("bgutil web did not answer /health within 120 s")
  }

  private[gbench] def ms(fromNanos: Long): Double =
    (System.nanoTime() - fromNanos) / 1e6

  private[gbench] def get(port: Int, pathAndQuery: String): (Int, Array[Byte]) = {
    val c = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      (code, if (in == null) Array.emptyByteArray else in.readAllBytes())
    } finally c.disconnect()
  }

  private def route(server: HttpServer, path: String)(
      handler: Map[String, String] => String): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val (code, body) =
        try (200, handler(query(ex.getRequestURI.getRawQuery)))
        catch {
          case e: Throwable =>
            (500, s"""{"error":${jsonStr(String.valueOf(e))}}""")
        }
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })

  private[gbench] def query(raw: String): Map[String, String] =
    Option(raw).getOrElse("").split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) kv -> ""
      else kv.substring(0, i) -> URLDecoder.decode(kv.substring(i + 1), "UTF-8")
    }.toMap

  private[gbench] def jsonStr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  private def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")

  // ---- seeding ----------------------------------------------------------

  /** Write the seeded store: catalog first, then every (retention class,
    * stage) in one `PointsStore.writeMulti`. Metric `bench.s<s>.h<h>.<kind>`
    * has index `mi = (s*H + h)*K + k`; even hosts take retention A, odd
    * hosts retention B. Values are [[valueExpr]]; stage0 covers one stage0
    * duration before `nowS`, every coarser stage its own duration. Returns
    * (catalog commit ms, points write ms, rows written). */
  private def seed(db: Bgutil.Db, a: Array[String]): (Double, Double, Long) = {
    val spark = db.spark
    import spark.implicits._
    val Array(seedS, nowS, sS, hS, kindsS, countersS, retA, retB) = a
    val (seedN, now, nS, nH) = (seedS.toLong, nowS.toLong, sS.toInt, hS.toInt)
    val kinds = kindsS.split(",").toSeq
    val counters = countersS.split(",").toSet
    val metrics = for {
      s <- 0 until nS; h <- 0 until nH; (k, ki) <- kinds.zipWithIndex
    } yield (s"bench.s$s.h$h.$k", (s * nH + h) * kinds.length + ki,
      if (h % 2 == 0) retA else retB, counters(k))
    val metricsDf = metrics.toDF("name", "mi", "retention", "counter")

    val tCat = System.nanoTime()
    db.commitCatalog(MetricCatalog.withMetricId(
        MetricCatalog.withDerivedColumns(metricsDf.select("name", "retention")))
      .withColumn("aggregator", lit("average"))
      .withColumn("updated_on", lit(now)))
    val catMs = ms(tCat)

    val ids = MetricCatalog.withMetricId(metricsDf)
      .select(col("id").as("metric_id"), col("mi"), col("retention"),
        col("counter"))
    val batches = Seq(retA, retB).distinct.flatMap { ret =>
      val n = metrics.count(_._3 == ret)
      Retention.fromString(ret).stages.map { st =>
        val start = st.roundDown(now) - st.durationS
        val df = broadcast(ids.filter(col("retention") === ret))
          .crossJoin(spark.range(st.points).select(
            (lit(start) + col("id") * st.precisionS).as("ts")))
          .select(col("metric_id"), col("ts"),
            valueExpr(seedN, col("mi"), col("counter"), col("ts")).as("value"),
            lit(1.0).as("count"), lit(0).as("replica"))
        (df, st, st.points * n)
      }
    }
    val tPts = System.nanoTime()
    PointsStore.writeMulti(batches.map { case (df, st, rows) =>
      (df, st, PointsStore.saltFor(rows)) }, db.pointsPath)
    val rows = batches.map(_._3).sum
    (catMs, ms(tPts), rows)
  }

  /** The seeded value of metric `mi` at `ts`: integer arithmetic only, so
    * the benchmark's oracle recomputes it bit-exactly. Gauges carry two
    * decimals of noise over a per-metric base; counters climb by about
    * 100 + mi % 900 per 30 s and reset every day. Keep in step with
    * `value()` in run.py. */
  private def valueExpr(seed: Long, mi: org.apache.spark.sql.Column,
      counter: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val step = floor(ts / 30).cast("long")
    val h1 = pmod(step * 7919L + mi.cast("long") * 104729L + lit(seed * 1299709L),
      lit(1000003L))
    val h2 = pmod(h1 * 48271L + 12345L, lit(1000003L))
    val rate = lit(100L) + pmod(mi.cast("long"), lit(900L))
    when(counter, (pmod(step, lit(2880L)) * rate + pmod(h2, rate)).cast("double"))
      .otherwise((pmod(mi.cast("long") * 37L, lit(200L)) * 100L +
        pmod(h2, lit(5000L))).cast("double") / 100.0)
  }

  // ---- ingest visibility --------------------------------------------------

  /** For every stage0 point: the first micro-batch (`batch_seq`) that
    * stored it, grouped as `[[ts, batch_seq, points], ...]`. */
  private def visibility(db: Bgutil.Db, stage: String): String =
    db.points.filter(col("stage") === stage)
      .groupBy("metric_id", "ts").agg(min("batch_seq").as("seq"))
      .groupBy("ts", "seq").count()
      .collect()
      .map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}]")
      .mkString("[", ",", "]")

  /** Micro-batch progress of the carbon ingest query, kept in memory. */
  final class IngestProgress extends StreamingQueryListener {
    private val batches = mutable.ArrayBuffer[Map[String, Double]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val st = p.stateOperators.headOption
        synchronized {
          batches += d ++ Map(
            "rows" -> p.numInputRows.toDouble,
            "state_rows" -> st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
            "state_memory_bytes" ->
              st.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
        }
      }
    }
    def json: String = synchronized {
      batches.map(_.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}"))
        .mkString("[", ",", "]")
    }
  }
}

/** Spark accounting and layer replays for one request at a time.
  *
  * `/trace?url=<path?query>` sends the request to `bgutil web`, counts the
  * Spark jobs that ran meanwhile outside any job group (the web handler's
  * threads set none; the streaming ingest sets its run id), then replays
  * the request's layers as cumulative calls, each under its own job group:
  * `RenderTarget.parse`, `RenderTarget.render(..).collect()`, and per leaf
  * glob `Bgutil.read`, `TimeSeriesReader.findAndFetchPlanned`,
  * `MetricCatalog.globMetrics` and one `PointsStore.read` per retention
  * group of `TimeSeriesReader.planConsolidated`. Self times are
  * differences of those cumulative calls. */
object Tracer {
  private final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, records: Long, bytes: Long, shuffle: Long)
  private final case class Job(id: Int, group: Option[String], startMs: Long,
      stages: Seq[Int])
  private final case class Acct(jobs: Int, stages: Int, tasks: Int, runMs: Long,
      cpuMs: Double, records: Long, bytes: Long, shuffle: Long, busyMs: Long)
}

final class Tracer(db: Bgutil.Db, webPort: Int) {
  import Harness.{get, jsonStr, ms, query}
  import Tracer._

  private val sc = db.spark.sparkContext
  private val jobs = mutable.ArrayBuffer[Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val markers = mutable.Set[String]()
  private var installed = false
  private var seq = 0L

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      jobs += Job(e.jobId, g, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).flatMap(_.group)
        .filter(_.startsWith("gbench-marker")).foreach(markers += _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) synchronized {
        val m = e.taskMetrics
        tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.inputMetrics.recordsRead,
          m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten)
      }
  }

  /** Block until every event posted before now has reached the listener:
    * the bus is FIFO, so the end of a marker job started now is enough. */
  private def drain(): Unit = {
    val g = s"gbench-marker-${seq += 1; seq}"
    sc.setJobGroup(g, g)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!Listener.synchronized(markers(g)) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  private def account(pick: Job => Boolean): Acct = Listener.synchronized {
    val js = jobs.filter(pick)
    val stageSet = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageSet(t.stage))
    // union of task-running intervals: the time some task was running
    var busy = 0L
    var end = Long.MinValue
    for (t <- ts.sortBy(_.launch)) {
      val s = math.max(t.launch, end)
      if (t.finish > s) busy += t.finish - s
      end = math.max(end, t.finish)
    }
    Acct(js.size, stageSet.size, ts.size, ts.map(_.runMs).sum,
      ts.map(_.cpuNs).sum / 1e6, ts.map(_.records).sum, ts.map(_.bytes).sum,
      ts.map(_.shuffle).sum, busy)
  }

  private val spans = mutable.ArrayBuffer[String]()

  /** Record one span: epoch-ms start and end, its parent layer, and the
    * request id the caller gave. */
  private def span(rid: String, name: String, parent: String, startMs: Double,
      took: Double, extra: String = ""): Unit =
    spans += s"""{"rid":${jsonStr(rid)},"name":"$name","parent":"$parent",""" +
      s""""start":$startMs,"end":${startMs + took}$extra}"""

  private def epochMs: Double = System.currentTimeMillis().toDouble

  /** Run `body` under a fresh job group and record it as a span; returns
    * (result, ms, accounting). */
  private def call[T](rid: String, name: String, parent: String,
      extra: String = "")(body: => T): (T, Double, Acct) = {
    val g = s"gbench-replay-${seq += 1; seq}"
    sc.setJobGroup(g, g)
    val start = epochMs
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val took = ms(t0)
    span(rid, name, parent, start, took, extra)
    drain()
    (out, took, account(_.group.contains(g)))
  }

  private def leaves(n: RenderTarget.Node): Seq[String] = n match {
    case RenderTarget.PathNode(g) => Seq(g)
    case RenderTarget.CallNode(_, series, _, _) => leaves(series)
  }

  def trace(rid: String, url: String): String = synchronized {
    if (!installed) { sc.addSparkListener(Listener); installed = true }
    drain()
    spans.clear()
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (code, body) = get(webPort, url)
    val httpMs = ms(t0)
    val wallEnd = System.currentTimeMillis()
    drain()
    val req = account(j => j.group.isEmpty && j.startMs >= wallStart &&
      j.startMs <= wallEnd)
    span(rid, "bgweb.http", "", wallStart.toDouble, httpMs,
      s""","url":${jsonStr(url)}""")
    val fields = mutable.LinkedHashMap[String, Double](
      "status" -> code.toDouble, "http_ms" -> httpMs,
      "response_bytes" -> body.length.toDouble,
      "jobs" -> req.jobs.toDouble, "stages" -> req.stages.toDouble,
      "tasks" -> req.tasks.toDouble, "executor_run_ms" -> req.runMs.toDouble,
      "executor_cpu_ms" -> req.cpuMs, "shuffle_bytes" -> req.shuffle.toDouble,
      "driver_only_ms" -> math.max(0.0, httpMs - req.busyMs))
    val path = url.takeWhile(_ != '?')
    if (path == "/render" && code == 200) {
      val q = query(url.dropWhile(_ != '?').drop(1))
      val nowS = q.get("now").map(_.toLong).getOrElse(System.currentTimeMillis() / 1000)
      val startS = RenderTarget.parseTime(q.getOrElse("from", "-1d"), nowS)
      val endS = RenderTarget.parseTime(q.getOrElse("until", "now"), nowS)
      val mdp = q.get("maxDataPoints").map(_.toInt).getOrElse(0)
      val target = q("target")
      val (node, parseMs, _) = call(rid, "rendertarget.parse", "bgweb.http")(
        RenderTarget.parse(target))
      val (_, renderMs, _) = call(rid, "rendertarget.render", "bgweb.http")(
        RenderTarget.render(db, target, startS, endS, mdp)
          .select("name", "ts", "value").orderBy("name", "ts").collect())
      var readMs, fapMs, findMs, fetchMs = 0.0
      var matched, catRows, fetchRows, fetchBytes, fetchFiles, returned = 0L
      var readerShuffle = 0L
      val spool = Option(new java.io.File(s"${db.dir}/carbon_spool").listFiles(
        (_: java.io.File, n: String) => n.startsWith("batch-"))).map(_.length)
        .getOrElse(0)
      for (glob <- leaves(node)) {
        val (_, r, _) = call(rid, "bgutil.read", "rendertarget.render",
          s""","glob":${jsonStr(glob)}""")(
          Bgutil.read(db, glob, startS, endS, mdp).collect())
        readMs += r
        val (_, f, fa) = call(rid, "reader.findAndFetchPlanned", "bgutil.read")(
          TimeSeriesReader.findAndFetchPlanned(db.spark, db.catalog,
            db.pointsPath, glob, startS, endS, nowS = endS,
            maxDataPoints = mdp).collect())
        fapMs += f
        val (found, g, ga) = call(rid, "find", "reader.findAndFetchPlanned")(
          MetricCatalog.globMetrics(db.catalog, glob)
            .select("id", "retention").collect())
        findMs += g
        matched += found.length
        catRows += ga.records
        var groupFetch = 0L
        for ((ret, rows) <- found.groupBy(_.getString(1)).toSeq.sortBy(_._1)) {
          val p = TimeSeriesReader.planConsolidated(Retention.fromString(ret),
            startS, endS, endS, mdp)
          val clamped = math.max(p.startS, p.endS - p.stage.durationS)
          val df = PointsStore.read(db.spark, db.pointsPath, p.stage, clamped,
            p.endS, rows.map(_.getString(0)).toSeq)
          fetchFiles += df.inputFiles.length
          val (got, h, ha) = call(rid, "fetch", "reader.findAndFetchPlanned",
            s""","stage":${jsonStr(p.stage.toString)}""")(df.collect())
          fetchMs += h
          fetchRows += ha.records
          fetchBytes += ha.bytes
          groupFetch += ha.shuffle
          returned += got.length
        }
        readerShuffle += math.max(0L, fa.shuffle - ga.shuffle - groupFetch)
      }
      fields ++= Seq("parse_ms" -> parseMs, "render_ms" -> renderMs,
        "read_ms" -> readMs, "fap_ms" -> fapMs, "find_ms" -> findMs,
        "fetch_ms" -> fetchMs, "metrics_matched" -> matched.toDouble,
        "catalog_rows_read" -> catRows.toDouble,
        "fetch_files" -> fetchFiles.toDouble,
        "fetch_rows_read" -> fetchRows.toDouble,
        "fetch_bytes_read" -> fetchBytes.toDouble,
        "points_returned" -> returned.toDouble,
        "reader_shuffle_bytes" -> readerShuffle.toDouble,
        "spool_files" -> spool.toDouble)
    }
    val f = fields.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{$f,"spans":${spans.mkString("[", ",", "]")}}"""
  }
}
