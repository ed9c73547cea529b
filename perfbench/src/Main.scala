package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.api.{HttpApi, Service}
import graft.sources.ZonalFixture

/** One answered request. `status` is -1 when the exchange itself failed. */
final case class Sample(i: Int, op: String, body: String, startNs: Long, endNs: Long,
                        status: Int, response: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The zonal-service benchmark. Starts `HttpApi` on a freshly built
  * sf0.1 fixture catalog and drives it in a closed loop over HTTP.
  *
  * {{{ perfbench.Main --workload <zonal_run_huc12|zonal_multi_huc8> --seed N
  *       --seconds S --trace <0|1> --out result.json --spans spans.jsonl }}}
  *
  * With `--trace 0` it reports the end-to-end metrics. With `--trace 1`
  * it spends half the window untraced and half traced, and reports the
  * per-layer metrics plus the tracing overhead between the two halves.
  */
object Main {
  /** Fresh catalog builds per run, after one untimed build that warms
    * the JIT; set-up time is their median.
    */
  val SetupBuilds = 2
  val RunWarmup = 32
  val MultiWarmup = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    require(Set("zonal_run_huc12", "zonal_multi_huc8")(workload), s"unknown workload $workload")

    val cpus = Runtime.getRuntime.availableProcessors
    val master = s"local[$cpus]"
    val spark = GraftSession.builder(master, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new SparkMetrics
    spark.sparkContext.addSparkListener(metrics)

    // always a fresh catalog: set-up time has one mode
    val catalogDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_zonal_${Inputs.spec.layoutCols}x${Inputs.spec.layoutRows}x${Inputs.spec.tileSize}")
    val started = System.nanoTime()
    def note(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%.1f s: $msg")
    val builds = (-1 until SetupBuilds).map { _ =>
      org.apache.commons.io.FileUtils.deleteQuietly(catalogDir)
      val t0 = System.nanoTime()
      ZonalFixture.ensureSpec(spark, Inputs.spec)
      (System.nanoTime() - t0) / 1e9
    }.tail
    note("catalog built")
    val cat = Service.Catalog(spark, catalogDir.getPath)
    val server = HttpApi.start(cat, 0)
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"

    def exchange(i: Int, op: String, path: String, body: String): Sample = {
      val req = HttpRequest.newBuilder(URI.create(base + path))
        .timeout(java.time.Duration.ofSeconds(150))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val t0 = System.nanoTime()
      try {
        val r = client.send(req, HttpResponse.BodyHandlers.ofString())
        Sample(i, op, body, t0, System.nanoTime(), r.statusCode, r.body)
      } catch { case e: Exception => Sample(i, op, body, t0, System.nanoTime(), -1, e.toString) }
    }

    val tracer = new Tracer
    val layers = new Layers(cat, tracer, metrics)
    val layerCounts = new ConcurrentLinkedQueue[Map[String, Double]]

    val isRun = workload == "zonal_run_huc12"
    val clients = if (isRun) cpus else 1
    lazy val multiBody = Inputs.multiRequest(seed)
    def request(i: Int, warm: Boolean): (String, String) =
      if (!isRun) "multi" -> multiBody
      else if (warm) Inputs.runRequest(seed, 1000000 + i, Some(Inputs.RunOps(i % Inputs.RunOps.size)))
      else Inputs.runRequest(seed, i)
    def plain(warm: Boolean)(i: Int): Sample = {
      val (op, body) = request(i, warm)
      exchange(i, op, if (isRun) "/run" else "/multi", body)
    }
    def withTrace(i: Int): Sample = tracer.span("request", i.toLong, 0L) { root =>
      val s = tracer.span("api.http", i.toLong, root)(_ => plain(warm = false)(i))
      if (s.status == 200)
        layerCounts.add(if (isRun) layers.run(i.toLong, root, s.body, s.response)
                        else layers.multi(i.toLong, root, s.body, s.response))
      s
    }

    val next = new AtomicInteger(0)
    val warm = closedLoop(clients, Double.PositiveInfinity, new AtomicInteger(0),
      if (isRun) RunWarmup else MultiWarmup)(plain(warm = true))
    note("warmed up")
    metrics.reset()
    val window = if (traced) seconds / 2 else seconds
    val cpuBefore = cpuTicks()
    val (timed, elapsed) = timedLoop(clients, window, next)(plain(warm = false))
    val cpuAfter = cpuTicks()
    val httpTotals = { org.apache.spark.perfbench.BusDrain(spark.sparkContext); metrics.sum(_.startsWith("graft-http-")) }
    val (tracedSamples, _) =
      if (traced) timedLoop(clients, seconds / 2, next)(withTrace) else (Seq.empty[Sample], 0.0)
    val heapMb = retainedHeapMb()
    note("timed window over")

    // every answer is checked, warm-up included
    lazy val multiExpected = Expected.multi(multiBody)
    def correct(s: Sample): Boolean = s.status == 200 && {
      val got = JsonMethods.parse(s.response)
      if (isRun) Expected.matches(got \ "result", Expected.run(s.body))
      else Expected.matches(got, multiExpected)
    }
    val checked = warm ++ timed ++ tracedSamples
    val wrong = checked.filterNot(correct)
    wrong.take(3).foreach(s => System.err.println(
      s"WRONG request ${s.i} ${s.op}: status ${s.status}: ${s.response.take(300)}"))
    val attempted = timed.size + tracedSamples.size
    val failed = (timed ++ tracedSamples).count(s => wrong.contains(s))

    note("answers checked")
    val lat = timed.map(_.ms).sorted
    val endToEnd = Seq(
      ("setup_s", median(builds), "s"),
      ("latency_p50_ms", quantile(lat, 0.50), "ms"),
      ("latency_p95_ms", quantile(lat, 0.95), "ms"),
      ("throughput_rps", timed.size / elapsed, "req/s"),
      ("retained_heap_mb", heapMb, "MB"))
    val opP50 = Inputs.RunOps.map(op =>
      (s"op_p50_ms.$op", quantile(timed.filter(_.op == op).map(_.ms).sorted, 0.5), "ms"))
    val perLayer =
      if (!traced) Nil
      else layerMetrics(tracer, layerCounts.asScala.toSeq, httpTotals, timed.size,
        quantile(tracedSamples.map(_.ms).sorted, 0.5) - quantile(lat, 0.5)) ++
        (if (isRun) opP50 else opP50.map { case (n, _, u) => (n, 0.0, u) })

    val record = Seq(
      "workload" -> workload, "seed" -> seed.toString, "loop" -> "closed", "clients" -> clients.toString,
      "samples_timed" -> timed.size.toString, "samples_traced" -> tracedSamples.size.toString,
      "failed_ratio" -> (failed.toDouble / math.max(1, attempted)).toString,
      "setup_builds_s" -> builds.map(b => f"$b%.3f").mkString(","),
      "nproc" -> cpus.toString,
      "loadavg" -> scala.util.Try(java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim).getOrElse("?"),
      "heap_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-Xm")).mkString(" "),
      "spark_master" -> master,
      "cpu_busy_steal_pct" -> cpuShare(cpuBefore, cpuAfter),
      "halves_p50_ms" -> {
        val (a, b) = timed.sortBy(_.startNs).splitAt(timed.size / 2)
        f"${median(a.map(_.ms))}%.0f,${median(b.map(_.ms))}%.0f"
      }) ++
      (if (isRun) opP50.map { case (n, v, _) => n -> f"$v%.3f" } ++ runSizes(seed)
       else multiSizes(multiBody, multiExpected) :+ ("latencies_ms" -> timed.map(s => f"${s.ms}%.0f").mkString(","))) ++
      (if (traced) Seq("not_applicable" -> notApplicable(isRun, layerCounts.asScala.toSeq).mkString(",")) else Nil)

    if (traced) opts.get("spans").foreach(p => tracer.write(java.nio.file.Paths.get(p)))
    def jnum(m: Seq[(String, Double, String)]): JValue = JObject(m.map { case (n, v, u) =>
      n -> JObject("value" -> JDouble(v), "unit" -> JString(u)) }.toList)
    val result = JObject(
      "correct" -> JBool(wrong.isEmpty),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "metrics" -> jnum(if (traced) perLayer else endToEnd),
      "info" -> JObject(record.map { case (k, v) => k -> (JString(v): JValue) }.toList))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
      JsonMethods.compact(JsonMethods.render(result)))
    server.stop(0)
    spark.stop()
    // HttpApi's worker pool is not daemon: exit explicitly
    System.exit(if (wrong.isEmpty) 0 else 1)
  }

  /** `clients` threads each send the next request once the previous one
    * answered, until `limit` requests or `seconds` have passed.
    */
  def closedLoop(clients: Int, seconds: Double, next: AtomicInteger, limit: Int = Int.MaxValue)(
      one: Int => Sample): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]
    val deadline = if (seconds.isInfinite) Long.MaxValue else System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map(_ => new Thread(() => {
      var i = next.getAndIncrement()
      while (i < limit && System.nanoTime() < deadline) {
        out.add(one(i))
        i = next.getAndIncrement()
      }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.i)
  }

  def timedLoop(clients: Int, seconds: Double, next: AtomicInteger)(one: Int => Sample): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val s = closedLoop(clients, seconds, next)(one)
    (s, (System.nanoTime() - t0) / 1e9)
  }

  /** Host CPU jiffies from /proc/stat: (busy, steal, total). */
  def cpuTicks(): Option[(Long, Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    (v(0) + v(1) + v(2) + v(5) + v(6), v(7), v.take(8).sum)
  }.toOption

  def cpuShare(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)]): String =
    (for ((b0, s0, t0) <- a; (b1, s1, t1) <- b if t1 > t0)
      yield f"${100.0 * (b1 - b0) / (t1 - t0)}%.1f,${100.0 * (s1 - s0) / (t1 - t0)}%.1f").getOrElse("?")

  def retainedHeapMb(): Double = {
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear interpolation between order statistics of sorted `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val pos = q * (xs.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, xs.size - 1)
      xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def layerMetrics(tracer: Tracer, counts: Seq[Map[String, Double]], http: SparkMetrics#Acc,
                   httpRequests: Int, overheadMs: Double): Seq[(String, Double, String)] = {
    val spans = tracer.all
    val byName = spans.groupBy(_.name)
    def ms(name: String): Double = mean(byName.getOrElse(name, Nil).map(_.durNs / 1e6))
    val perRequest = spans.groupBy(_.request)
    val transport = perRequest.values.flatMap { ss =>
      for (h <- ss.find(_.name == "api.http"); s <- ss.find(_.name == "api.service"))
        yield (h.durNs - s.durNs) / 1e6
    }.toSeq
    def total(k: String): Double = counts.map(_.getOrElse(k, 0.0)).sum
    def perReq(k: String): Double = ratio(total(k), counts.size)
    val n = math.max(1, httpRequests).toDouble
    val self = tracer.selfNs
    val requests = math.max(1, perRequest.size).toDouble
    val selfByModule = spans.groupBy(s => if (s.name.contains('.')) s.name.takeWhile(_ != '.') else "bench")
      .map { case (m, ss) => m -> ss.map(s => self(s.id)).sum / 1e6 / requests }
    Seq(
      ("api.transport_ms", mean(transport), "ms"),
      ("api.service_ms", ms("api.service"), "ms"),
      ("api.parse_ms", ms("api.parse"), "ms"),
      ("api.encode_ms", ms("api.encode"), "ms"),
      ("geom.aoi_ms", ms("geom.aoi"), "ms"),
      ("geom.union_ms", ms("geom.union"), "ms"),
      ("geom.clip_lines_ms", ms("geom.clip_lines"), "ms"),
      ("sources.scan_ms", ms("sources.scan"), "ms"),
      ("sources.tiles_read", perReq("sources.tiles_read"), "count"),
      ("sources.bytes_read", perReq("sources.bytes_read"), "bytes"),
      ("sources.tiles_useful_ratio", ratio(total("sources.tiles_useful"), total("sources.tiles_read")), "ratio"),
      ("raster.polygon_ns_per_tile", ratio(total("raster.polygon_ns"), total("raster.polygon_tiles")), "ns"),
      ("raster.lines_ns_per_tile", ratio(total("raster.lines_ns"), total("raster.lines_tiles")), "ns"),
      ("raster.cells_masked", perReq("raster.cells_masked"), "count"),
      ("raster.ns_per_cell", ratio(total("raster.polygon_ns"), total("raster.cells_masked")), "ns"),
      ("operators.plan_ms", ms("operators.plan"), "ms"),
      ("operators.exec_ms", ms("operators.exec"), "ms"),
      ("operators.plane_rows", perReq("operators.plane_rows"), "count"),
      ("operators.groups_out", perReq("operators.groups_out"), "count"),
      ("spark.jobs", http.jobs / n, "count"),
      ("spark.tasks", http.tasks / n, "count"),
      ("spark.scheduler_delay_ms", ratio(http.waitMs.toDouble, http.tasks.toDouble), "ms"),
      ("spark.executor_run_ms", http.runMs / n, "ms"),
      ("spark.executor_cpu_ms", http.cpuNs / 1e6 / n, "ms"),
      ("spark.gc_ms", http.gcMs / n, "ms"),
      ("spark.shuffle_write_bytes", http.shuffleWriteBytes / n, "bytes"),
      ("spark.shuffle_read_bytes", http.shuffleReadBytes / n, "bytes"),
      ("spark.spill_bytes", http.spillBytes / n, "bytes"),
      ("trace.overhead_ms", overheadMs, "ms")) ++
      Seq("api", "geom", "sources", "raster", "operators", "bench").map(m =>
        (s"self_ms.$m", selfByModule.getOrElse(m, 0.0), "ms"))
  }

  /** Per-layer metrics whose layer does no work on this workload (reported as 0). */
  def notApplicable(isRun: Boolean, counts: Seq[Map[String, Double]]): Seq[String] =
    (if (isRun) Nil else Inputs.RunOps.map(op => s"op_p50_ms.$op")) ++
      (if (counts.forall(_.getOrElse("raster.lines_tiles", 0.0) == 0)) Seq("raster.lines_ns_per_tile", "geom.clip_lines_ms") else Nil)

  /** Input sizes of the first requests of the `/run` stream. */
  def runSizes(seed: Long): Seq[(String, String)] = {
    val sample = (0 until 20).map(i => Inputs.runRequest(seed, i)._2)
    val aois = sample.map { b =>
      val polys = (JsonMethods.parse(b) \ "input" \ "polygon").children.collect { case JString(s) => s }
      graft.geom.GeomOps.unionAll(polys.map(graft.geom.GeomOps.toAoi(_,
        graft.geom.Projections.LatLng, graft.geom.Projections.ConusAlbers)))
    }
    val px = aois.map { a => var n = 0L; Expected.polygonCells(a, a)((_, _) => n += 1); n.toDouble }
    Seq("masked_px_per_request" -> f"${mean(px)}%.0f (min ${px.min}%.0f, max ${px.max}%.0f)",
      "tiles_per_request" -> f"${mean(aois.map(a => Expected.tiles(a).size.toDouble))}%.2f",
      "ops" -> Inputs.RunOps.size.toString, "catalog_tiles" -> (Inputs.spec.layoutCols * Inputs.spec.layoutRows).toString)
  }

  def multiSizes(body: String, expected: JValue): Seq[(String, String)] = {
    val req = JsonMethods.parse(body)
    // every masked cell has exactly one nlcd class
    val px = expected.children.map(shape => (shape \ "nlcd").children.collect { case JDouble(n) => n }.sum).sum
    Seq("masked_px" -> f"$px%.0f", "shapes" -> (req \ "shapes").children.size.toString,
      "ops" -> (req \ "operations").children.size.toString,
      "tiles" -> (Inputs.spec.layoutCols * Inputs.spec.layoutRows).toString)
  }

}
