package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.transit._
import graft.tools.{HttpServe, ServingCache}
import scala.collection.mutable

/** `serving`: the cached HttpServe listener under closed-loop saturation
  * passes, then an open loop at three fixed rates and two higher ones
  * that only `max_rate_rps` reads. The traced run adds
  * one feed refresh (snapshots rebuilt into a fresh directory, store
  * rebuilt and cached, swapped in) while the generator keeps sending at
  * the low rate, and times lookups and renders in-process. */
object ServingWorkload {
  import Main._

  /** Open-loop rates: about an eighth, a quarter and a half of the
    * saturation passes' throughput on a 4-core box (about 3,800 req/s
    * over 4 connections). */
  val Rates: Seq[(String, Double)] = Seq("low" -> 500.0, "mid" -> 1000.0, "high" -> 2000.0)
  /** The rest of the `max_rate_rps` ladder, each rate for one second. On
    * a 4-core box the closed loop peaks at about 3,200-4,500 req/s,
    * depending on the host's load, so the ladder's top rate fails on this
    * code and the figure can move either way. */
  val Overload: Seq[(String, Double)] =
    Seq("r3000" -> 3000.0, "r4000" -> 4000.0, "r6000" -> 6000.0)
  /** The p99 limit a rate must meet to count towards max_rate_rps. */
  val P99LimitMs = 20.0
  /** Distinct requests in the seeded list the phases cycle through. */
  val ListSize = 1024
  /** Closed-loop traffic before the timed phases (counted in setup_s):
    * the listener's per-request throughput keeps rising for about 4 s of
    * saturated load before the JIT settles. */
  val WarmupSeconds = 5
  /** The saturation phase: this many back-to-back passes over the list;
    * `pass_s` is their median, so one stall does not set it. */
  val SaturationPasses = 12

  /** Stops the data recipe produces (`l_partkey % 500`), route ids
    * (`o_custkey % 100`, no short name when divisible by 17) and head
    * signs (the order priorities). Ids past the last stop are unknown. */
  val NStops = 500
  val Headsigns = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Zipf(s = 1) over `n` ranks, ranks shuffled by the seed so the popular
    * stops differ from seed to seed. */
  final class Zipf(n: Int, rng: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / k)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val perm = rng.shuffle((0 until n).toVector)
    def draw(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** Route shares of the request list, per 20 requests. */
  val Mix: Seq[(String, Int)] = Seq("api" -> 4, "timetable" -> 4, "routes" -> 3,
    "grouped" -> 4, "flat" -> 4, "stops" -> 1)

  /** The seeded request list: the reference's routes in exact shares
    * (`Mix`), so every seed asks for the same amount of each kind of work;
    * the seed draws the stops, routes and head signs and the order. */
  def requests(seed: Long, size: Int = ListSize): IndexedSeq[String] = {
    val rng = new scala.util.Random(seed)
    val zipf = new Zipf(NStops, rng)
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    def next(kind: String): Int = { val k = seen(kind); seen(kind) = k + 1; k }
    // every 25th stop asked for is unknown
    def stop(): String =
      if (next("stop") % 25 == 24) (NStops + rng.nextInt(100)).toString
      else zipf.draw().toString
    def svc(k: Int): String = Seq("1", "2", "3", "4", "")(k % 5)
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val kinds = Iterator.continually(Mix.flatMap { case (k, n) => Seq.fill(n)(k) })
      .flatten.take(size).toVector
    rng.shuffle(kinds).map {
      case "api" =>
        val k = next("api") // all 60 (query, service, limit) combinations in turn
        s"/api/q${1 + k % 4}?service_id=${svc(k / 4)}&limit=${Seq("5", "20", "all")(k / 20 % 3)}"
      case "timetable" => s"/get_timetable?stop_id=${stop()}"
      case "routes" => s"/get_routes_for_stop?stop_id=${stop()}"
      case "grouped" => s"/get_arrivals?stop_id=${stop()}&service_id=${svc(next("grouped"))}"
      case "flat" =>
        val route = Iterator.continually(rng.nextInt(100)).find(_ % 17 != 0).get
        s"/get_arrivals?stop_id=${stop()}&route_short_name=$route" +
          s"&trip_headsign=${enc(Headsigns(rng.nextInt(5)))}&service_id=${svc(next("flat"))}"
      case _ => "/get_stops"
    }
  }

  /** One request as the generator recorded it (epoch ms). */
  final case class Req(phase: String, path: Int, dueMs: Double, sentMs: Double, doneMs: Double,
      status: Int, crc: Long, bytes: Int) {
    /** Answered without a server error (the reference's routes answer
      * 200, 400 or 404). */
    def ok: Boolean = status > 0 && status < 500
    /** Latency as the user sees it: from the due time, so a stall that
      * delays later sends is charged to every request it delays. */
    def latencyMs: Double = doneMs - dueMs
    /** The generator's own lateness in releasing the request. */
    def lagMs: Double = math.max(0.0, sentMs - dueMs)
  }

  /** A body as the generator hashes it, fetched in-process. */
  def fetch(port: Int, path: String): (Int, Long) = {
    val c = new LoadGen.Conn(port)
    try { val (s, crc, _) = c.get(path); (s, crc) } finally c.shut()
  }

  /** The serving gate: the requests whose answers are wrong, either
    * unlike the cache-less listener's answer (where it was fetched) or
    * unlike another answer to the same request. */
  def wrongPaths(reqs: Seq[Req], expected: Map[Int, (Int, Long)]): Set[Int] =
    reqs.filter(_.ok).groupBy(_.path).collect {
      case (i, rs) if rs.map(r => (r.status, r.crc)).distinct.size > 1 ||
          expected.get(i).exists(_ != ((rs.head.status, rs.head.crc))) => i
    }.toSet

  def failed(r: Req, wrong: Set[Int]): Boolean = !r.ok || wrong.contains(r.path)

  /** Latencies of one phase; a failed request never meets the limit, so it
    * enters the tail as +infinity. */
  def latencies(rs: Seq[Req], wrong: Set[Int]): Seq[Double] =
    rs.map(r => if (failed(r, wrong)) Double.PositiveInfinity else r.latencyMs)

  /** Distinct requests compared with the cache-less listener per run. The
    * live path answers each with Spark jobs (tens of ms), so the gate
    * checks a seeded sample of them, and holds every other response to
    * the same bytes as all other answers to the same request. */
  val LiveChecks = 64

  def run(args: Args): Map[String, Any] = {
    val spark = session(args, serving = true)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val builds = mutable.LinkedHashMap.empty[String, Double]
    def timedMs[T](name: String)(f: => T): T = {
      val id = tracer.map { tr => val id = tr.open(); tr.current = id; id }
      val t0 = Tracer.nowMs
      val r = f
      val t1 = Tracer.nowMs
      builds(name) = t1 - t0
      for (tr <- tracer; i <- id) { tr.drain(); tr.current = 0L; tr.close(i, 0L, s"build $name", t0, t1) }
      r
    }
    val t = TransitTables.fromTpch(spark, args.data)
    def snapshots(dir: String, prefix: String): Unit =
      Seq(QueryService.Q1, QueryService.Q2, QueryService.Q3, QueryService.Q4).foreach { q =>
        timedMs(s"$prefix.snapshot.${q.take(2)}")(QueryService.buildSnapshot(t, dir, q))
      }
    def store(prefix: String): DataFrame = timedMs(s"$prefix.store") {
      val d = Timetable.buildStopTimetables(t).coalesce(4).cache()
      d.count()
      d
    }
    val snap0 = s"${args.work}/snapshots/gen0"
    snapshots(snap0, "setup")
    val svc = new QueryService(t, Some(snap0), cacheSnapshots = true)
    val docs = store("setup")
    val handle = timedMs("setup.cache")(HttpServe.start(svc, docs, 0))
    val live = HttpServe.start(svc, docs, 0, withCache = Some(false))
    val entries = ServingCache.storeEntries(docs)

    val paths = requests(args.seed)
    val pathFile = s"${args.work}/requests.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(pathFile),
      paths.mkString("", "\n", "\n").getBytes("UTF-8"))
    val share = args.seconds / 5
    // the saturation passes come straight after the generator's closed-loop
    // warm-up, so they start in the state that warm-up left
    val phases = Seq(s"closed:pass:${SaturationPasses * ListSize}") ++
      Rates.map { case (n, r) => s"open:$n:$r:$share" } ++
      Overload.map { case (n, r) => s"open:$n:$r:1" } ++
      (if (args.trace) Seq(s"until:refresh:${Rates.head._2}") else Nil)
    val gen = new ProcessBuilder(Seq(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx256m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
      "-cp", System.getProperty("java.class.path"), "perfbench.LoadGen",
      handle.port.toString, pathFile, s"${args.work}/requests.out", cores.toString,
      WarmupSeconds.toString) ++ phases: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val genOut = new java.io.BufferedReader(new java.io.InputStreamReader(gen.getInputStream))
    def await(prefix: String): String = {
      var l = genOut.readLine()
      while (l != null && !l.startsWith(prefix)) l = genOut.readLine()
      if (l == null) throw new IllegalStateException(s"load generator ended before $prefix")
      l
    }
    await("READY")
    val setupS = sinceStartMs / 1000.0
    val gc0 = driverGcMs()
    await("PHASE pass")
    val cpuPass0 = processCpuMs()
    await(s"PHASE ${Rates.head._1}")
    val passCpuMs = processCpuMs() - cpuPass0

    // traced run: one full feed refresh beside the low-rate read load
    val refresh = tracer.map { tr =>
      await("PHASE refresh")
      tr.drain()
      val cpu0 = tr.counters
      val r0 = Tracer.nowMs
      snapshots(s"${args.work}/snapshots/gen1", "refresh")
      val docs1 = store("refresh")
      timedMs("refresh.swap")(handle.refresh(docs1))
      val seconds = (Tracer.nowMs - r0) / 1000.0
      tr.drain()
      gen.getOutputStream.write("STOP\n".getBytes("UTF-8"))
      gen.getOutputStream.flush()
      (seconds, (tr.counters - cpu0).cpuMs)
    }
    await("DONE")
    gen.waitFor()

    val lines = scala.io.Source.fromFile(s"${args.work}/requests.out").getLines().toVector
    val head = lines.head.split(" ")
    val reqs = lines.tail.map { l =>
      val f = l.split(" ")
      Req(f(0), f(1).toInt, f(2).toDouble, f(3).toDouble, f(4).toDouble, f(5).toInt, f(6).toLong, f(7).toInt)
    }

    // correctness gate, outside the timed window
    val distinct = reqs.map(_.path).distinct
    val sample = new scala.util.Random(args.seed).shuffle(distinct).take(LiveChecks)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val expected = try sample.map(i => i -> pool.submit(() => fetch(live.port, paths(i))))
      .map { case (i, f) => i -> f.get() }.toMap
    finally pool.shutdown()
    val badPaths = wrongPaths(reqs, expected)
    val failedReqs = reqs.filter(failed(_, badPaths))
    val failures = badPaths.toSeq.sorted.take(20).map(i =>
      s"${paths(i)}: response differs from the cache-less listener or between answers") ++
      failedReqs.filterNot(_.ok).take(20).map(r => s"${paths(r.path)}: request failed")

    val byPhase = reqs.groupBy(_.phase)
    def lat(ph: String) = latencies(byPhase.getOrElse(ph, Nil), badPaths)
    def p99(ph: String) = Stats.percentile(lat(ph), 0.99)
    val rateMetrics = ((Rates ++ Overload).map(_._1) :+ "refresh").flatMap { n =>
      val xs = lat(n)
      val name = if (n == "refresh") "low.refresh" else n
      if (xs.isEmpty) Nil
      else Seq(s"req_p50_ms.$name" -> metric(Stats.median(xs), "ms", Some(xs.size))) ++
        p99(n).map(v => s"req_p99_ms.$name" -> metric(v.value, "ms", Some(v.n)))
    }
    /** A rate holds when its p99 meets the limit and the backlog drains:
      * the last answer comes within the limit of the last due time. */
    def holds(n: String): Boolean = {
      val rs = byPhase.getOrElse(n, Nil)
      rs.nonEmpty && p99(n).exists(_.value <= P99LimitMs) &&
        rs.map(_.doneMs).max - rs.map(_.dueMs).max <= P99LimitMs
    }
    // the highest rate that holds: a stall that fails one low rate does not
    // hide the rates above it
    val maxRate = (Rates ++ Overload).filter(r => holds(r._1)).map(_._2).maxOption.getOrElse(0.0)
    val pass = byPhase.getOrElse("pass", Nil)
    val passes = pass.sortBy(_.sentMs).grouped(paths.size).toSeq
      .map(rs => (rs.map(_.doneMs).max - rs.map(_.sentMs).min) / 1000.0)
    // request latency under the saturation passes: the server's threads
    // stay busy, so the figure tracks the per-request work, not how fast
    // an idle virtual CPU wakes up (which moves light-load latency by tens
    // of percent from run to run)
    val passLat = latencies(pass, badPaths)
    // the generator's lateness where it qualifies a req_* figure
    val lagPhases = Rates.map(_._1).toSet + "refresh"
    val lags = reqs.filter(r => lagPhases(r.phase)).map(_.lagMs)
    val genLag = Stats.percentile(lags, 0.99).map(_.value).getOrElse(lags.max)
    val e2e = Map(
      "setup_s" -> metric(setupS, "s"),
      "pass_s" -> metric(Stats.median(passes), "s", Some(passes.size)),
      "op_p50_ms" -> metric(Stats.median(passLat), "ms", Some(passLat.size)),
      "op_p90_ms" -> Stats.percentile(passLat, 0.9).map(p => metric(p.value, "ms", Some(p.n)))
        .getOrElse(metric(-1.0, "ms", Some(passLat.size))),
      "peak_rss_mb" -> metric(peakRssMb(), "MB"),
      "driver.live_heap_mb" -> metric(LiveHeap.peakMb, "MB"),
      "max_rate_rps" -> metric(maxRate, "1/s"),
      "http.gen_lag_ms" -> metric(genLag, "ms", Some(lags.size)),
      "pass_cpu_s" -> metric(passCpuMs / 1000.0 / passes.size, "s", Some(passes.size)),
      "req_p50_ms.pass" -> metric(Stats.median(passLat), "ms", Some(passLat.size))) ++
      rateMetrics ++
      refresh.map(r => "refresh_s" -> metric(r._1, "s", Some(1)))

    val layers = tracer.map { tr =>
      tr.uninstall()
      val lookups = graft.tools.BenchInproc.measure(svc, docs, paths, tr, builds)
      val low = lat(Rates.head._1).filterNot(_.isInfinite)
      val all = tr.counters
      val union = Stats.unionLength(tr.jobsBetween(0L, Long.MaxValue)).toDouble
      Tracer.writeSpans(tr.allSpans ++ reqs.zipWithIndex.map { case (r, i) =>
        Span(1000000000L + i, 0L, s"request ${r.phase}", r.dueMs, r.doneMs) },
        java.nio.file.Paths.get(s"${args.work}/spans.jsonl"))
      val self = Tracer.selfTime(tr.allSpans)
      Map(
        "sources.output_bytes" -> all.outputBytes.toDouble,
        "sources.output_rows" -> all.outputRows.toDouble,
        "sources.input_bytes" -> all.inputBytes.toDouble,
        "sources.input_rows" -> all.inputRows.toDouble,
        "snapshot.build_ms.q1" -> builds("setup.snapshot.q1"),
        "snapshot.build_ms.q2" -> builds("setup.snapshot.q2"),
        "snapshot.build_ms.q3" -> builds("setup.snapshot.q3"),
        "snapshot.build_ms.q4" -> builds("setup.snapshot.q4"),
        "store.build_ms" -> builds("setup.store"),
        "store.entries" -> entries.toDouble,
        "cache.build_ms" -> builds("inproc.cache"),
        "cache.lookup_us.p50" -> lookups("lookup_p50"),
        "cache.lookup_us.p99" -> lookups("lookup_p99"),
        "http.render_us" -> lookups("render_p50"),
        "http.wire_us" -> (Stats.median(low) * 1000 - lookups("lookup_p50") - lookups("render_p50")),
        "http.gen_lag_ms" -> genLag,
        "http.max_inflight" -> head(2).toDouble,
        "http.errors" -> failedReqs.size.toDouble,
        "refresh.swap_ms" -> builds("refresh.swap"),
        "exec.cpu_ms.refresh" -> refresh.map(_._2).getOrElse(0.0),
        "plan.ms" -> all.planMs,
        "plan.aqe_updates" -> all.aqeUpdates.toDouble,
        "exec.jobs" -> all.jobs.toDouble,
        "exec.stages" -> all.stages.toDouble,
        "exec.tasks" -> all.tasks.toDouble,
        "exec.run_ms" -> all.runMs,
        "exec.cpu_ms" -> all.cpuMs,
        "exec.task_gc_ms" -> all.gcMs,
        "exec.shuffle_read_bytes" -> all.shuffleReadBytes.toDouble,
        "exec.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
        "exec.spill_bytes" -> all.spillBytes.toDouble,
        "exec.job_union_ms" -> union,
        "exec.slot_util" -> all.runMs / math.max(1.0, union * cores),
        "driver.gc_ms" -> (driverGcMs() - gc0),
        "driver.heap_mb" -> usedHeapMb(),
        // build time outside Spark jobs: driver-side collect and assembly
        "self_ms.build" -> self.getOrElse("build", 0.0),
        // no Spark job runs on the request path, so the listeners see no
        // events while requests are answered: tracing adds nothing to req_*
        "trace.overhead_ms" -> 0.0)
    }
    handle.stop()
    live.stop()
    Map("attempted" -> reqs.size, "failed" -> failedReqs.size,
      "failures" -> failures, "metrics" -> e2e, "builds" -> builds.toMap,
      "layers" -> layers.getOrElse(Map.empty), "oracle" -> Nil,
      "passes" -> passes,
      "sizes" -> Map("store_entries" -> entries, "max_cache_entries" -> ServingCache.maxCacheEntries,
        "stops" -> NStops, "request_list" -> paths.size, "live_checked" -> sample.size))
  }
}
