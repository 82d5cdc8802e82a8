package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's engine process: runs one workload against the engine's
  * public entry points and writes a report that `run.py` turns into the
  * result line.
  *
  * Usage: perfbench.Main --workload <pipeline|serving>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *   --out <report.json>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"))
  }

  /** Cores the engine runs on: every core this process may use. */
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Milliseconds since this JVM started: `setup_s` runs from here. */
  def sinceStartMs: Double =
    System.currentTimeMillis - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def session(args: Args, serving: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
    // the serving configuration is HttpServe.main's; the batch one Bench's
    val s = (if (serving) b.config("spark.sql.shuffle.partitions", "4")
        .config("spark.scheduler.mode", "FAIR")
      else b.config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          graft.Scale.initialShufflePartitions(args.data, cores).toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Driver-JVM garbage collection time so far, in ms. */
  def driverGcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** CPU time this process has used, in ms. */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def usedHeapMb(): Double = {
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  /** The most heap in use right after any collection, in MB: the memory
    * the program itself holds live. Peak RSS cannot show it, because the
    * fixed heap is touched whole whatever the program keeps. */
  object LiveHeap {
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peakBytes = 0L
    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              synchronized { peakBytes = math.max(peakBytes, live) }
            }, null, null)
        case _ =>
      }
    def peakMb: Double = peakBytes / 1048576.0
  }

  /** A metric as the report carries it. */
  def metric(value: Double, unit: String, n: Option[Int] = None): Map[String, Any] =
    Map("value" -> value, "unit" -> unit) ++ n.map("n" -> _)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    LiveHeap.install()
    val report = args.workload match {
      case "pipeline" => FaceWorkload.run(args)
      case "serving" => ServingWorkload.run(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = SparkSession.getActiveSession
    val box = Map(
      "nproc" -> cores, "master" -> s"local[$cores]",
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    val full = report ++ Map("workload" -> args.workload, "seed" -> args.seed,
      "trace" -> args.trace, "seconds" -> args.seconds, "box" -> box)
    java.nio.file.Files.write(java.nio.file.Paths.get(args.out), Json(full).getBytes("UTF-8"))
    spark.foreach(_.stop())
  }
}

/** `pipeline`: the closed-loop face workload. */
object FaceWorkload {
  import Main._

  def run(args: Args): Map[String, Any] = {
    val names = Faces.pipeline
    // Bench's session, less its row-count grid refinement
    // (Scale.tuneSessionGrid): at sf0.1 that keeps the floor grid and stock
    // knobs, and its table counts would add seconds to every run's setup.
    val spark = session(args, serving = false)
    val registry = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val failures = mutable.ArrayBuffer.empty[String]
    val faces = names.flatMap { n =>
      registry.get(n) match {
        case Some(f) => Some(n -> f)
        case None => failures += s"$n: not registered"; None
      }
    }
    // Untimed first pass (counted in setup_s): JIT and codegen warm-up,
    // and the one result per face the oracle gate compares. It writes
    // parquet instead of the noop sink so the rows can be checked.
    val checks = faces.flatMap { case (n, f) =>
      val dir = s"${args.work}/check/$n"
      try {
        f(spark, args.data).write.mode("overwrite").parquet(dir)
        oracle.get(n) match {
          case Some(sql) => Some(Map("face" -> n, "dir" -> dir, "sql" -> sql))
          case None => failures += s"$n: no oracle SQL"; None
        }
      } catch {
        case e: Throwable => failures += s"$n (warm-up): ${Faces.errorText(e)}"; None
      }
    }
    val setupS = sinceStartMs / 1000.0
    val gc0 = driverGcMs()

    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    // A traced run first repeats the untimed window without listeners so
    // it can state its own overhead against the same seed and faces.
    val untraced = if (args.trace) Some(Faces.timed(spark, args.data, faces, args.seed,
      args.seconds, None)) else None
    tracer.foreach(_.install())
    val (ops, passes) = Faces.timed(spark, args.data, faces, args.seed, args.seconds, tracer,
      firstPass = untraced.map(_._2.size).getOrElse(0))
    tracer.foreach(_.uninstall())

    val warmupFailed = failures.size
    ops.filter(_.error.isDefined).foreach(o => failures += s"${o.face}: ${o.error.get}")
    val lat = ops.flatMap(_.latencyMs)
    val p90 = Stats.percentile(lat, 0.9)
    val e2e = Map(
      "setup_s" -> metric(setupS, "s"),
      "pass_s" -> metric(Stats.median(passes), "s", Some(passes.size)),
      "op_p50_ms" -> metric(Stats.median(lat), "ms", Some(lat.size)),
      // a window of a few passes holds too few operations for the
      // percentile rule (a p90 needs 100); -1 marks it as not measured
      "op_p90_ms" -> p90.map(p => metric(p.value, "ms", Some(p.n)))
        .getOrElse(metric(-1.0, "ms", Some(lat.size))),
      "peak_rss_mb" -> metric(peakRssMb(), "MB"),
      "driver.live_heap_mb" -> metric(LiveHeap.peakMb, "MB"))

    val layers = tracer.map { tr =>
      val ls = ops.flatMap(o => o.layers.map(o.face -> _))
      val sum = ls.map(_._2.delta).foldLeft(Counters())(_ + _)
      val barrier = ls.filter(x => Faces.pipelineBarrier.contains(x._1)).map(_._2)
      val short = ls.filter(x => Faces.pipelineShort.contains(x._1)).map(_._2)
      val n = math.max(1, ls.size).toDouble
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val untracedP50 = untraced.map(u => Stats.median(u._1.flatMap(_.latencyMs)))
      Tracer.writeSpans(tr.allSpans, java.nio.file.Paths.get(s"${args.work}/spans.jsonl"))
      val self = Tracer.selfTime(tr.allSpans)
      Map(
        "sources.input_bytes" -> sum.inputBytes / n,
        "sources.input_rows" -> sum.inputRows / n,
        "sources.output_bytes" -> sum.outputBytes / n,
        "sources.output_rows" -> sum.outputRows / n,
        "construct.ms" -> mean(ls.map(_._2.constructMs)),
        "construct.jobs" -> ls.map(_._2.constructJobs).sum / n,
        "construct.ms.barrier" -> mean(barrier.map(_.constructMs)),
        "plan.ms" -> sum.planMs / n,
        "plan.aqe_updates" -> sum.aqeUpdates / n,
        "exec.jobs" -> sum.jobs / n,
        "exec.stages" -> sum.stages / n,
        "exec.tasks" -> sum.tasks / n,
        "exec.job_union_ms" -> ls.map(_._2.jobUnionMs).sum / n,
        "exec.between_job_ms" -> ls.map(_._2.betweenJobMs).sum / n,
        "exec.between_job_ms.short" -> mean(short.map(_.betweenJobMs)),
        "exec.run_ms" -> sum.runMs / n,
        "exec.cpu_ms" -> sum.cpuMs / n,
        "exec.task_gc_ms" -> sum.gcMs / n,
        "exec.shuffle_read_bytes" -> sum.shuffleReadBytes / n,
        "exec.shuffle_write_bytes" -> sum.shuffleWriteBytes / n,
        "exec.spill_bytes" -> sum.spillBytes / n,
        "exec.slot_util" -> (if (ls.isEmpty) 0.0 else
          sum.runMs / math.max(1.0, ls.map(_._2.jobUnionMs).sum * cores)),
        "driver.gc_ms" -> (driverGcMs() - gc0),
        "driver.heap_mb" -> usedHeapMb(),
        "self_ms.op" -> self.getOrElse("op", 0.0) / n,
        "self_ms.construct" -> self.getOrElse("construct", 0.0) / n,
        "self_ms.action" -> self.getOrElse("action", 0.0) / n,
        "trace.untraced_op_p50_ms" -> untracedP50.getOrElse(0.0),
        "trace.overhead_ms" -> untracedP50.map(Stats.median(lat) - _).getOrElse(0.0))
    }
    // every face is attempted once more in the warm-up pass; a face that
    // failed there (or has no oracle) is a failed operation too
    Map("attempted" -> (ops.size + names.size),
      "failed" -> (ops.count(_.error.isDefined) + warmupFailed),
      "failures" -> failures.toList, "metrics" -> e2e,
      "ops" -> ops.map(o => Map("face" -> o.face, "pass" -> o.pass, "ms" -> o.latencyMs)),
      "layers" -> layers.getOrElse(Map.empty), "oracle" -> checks)
  }
}
