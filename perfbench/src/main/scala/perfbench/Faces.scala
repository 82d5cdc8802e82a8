package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The closed-loop workload: one client runs a fixed list of registered
  * faces (`graft.SparkEntry.queries`) back to back. An operation is the
  * face call (DataFrame construction, including any eager barrier jobs)
  * plus the `noop` write action that runs the plan to completion. */
object Faces {

  type Face = (SparkSession, String) => DataFrame

  /** Short stratum: two faces from each of the six pipeline families, all
    * under 0.5 s warm on the r17 sf0.1 board, where much of the wall
    * time is spent outside Spark jobs. */
  val pipelineShort: Seq[String] = Seq(
    "rel_pivot", "rel_grouping_sets",
    "text_topk_words", "text_bpe_merge",
    "sim_knn_brute", "sim_covariance",
    "mm_decode", "mm_payload_dedup",
    "stream_hourly_by_type", "stream_sessions",
    "dedup_exact", "dedup_minhash_bands")

  /** Barrier stratum: construction runs eager `localCheckpoint` jobs. */
  val pipelineBarrier: Seq[String] = Seq("dedup_clusters", "dedup_semantic", "sim_ood_knn")

  val pipeline: Seq[String] = pipelineShort ++ pipelineBarrier

  /** Result of one timed operation. A failed operation has no latency. */
  final case class Op(face: String, pass: Int, latencyMs: Option[Double],
      error: Option[String], layers: Option[OpLayers])

  /** What the traced run attributes to one operation. */
  final case class OpLayers(constructMs: Double, constructJobs: Long,
      actionMs: Double, jobUnionMs: Double, betweenJobMs: Double, delta: Counters)

  /** The seeded face order of one pass: the seed fixes every pass. */
  def order(faces: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(faces)

  /** Run one operation, timing it only when it succeeds. A face that
    * throws is a failure and is never counted as a latency sample. */
  def runOp(spark: SparkSession, dir: String, name: String, fn: Face, pass: Int,
      tracer: Option[Tracer]): Op = tracer match {
    case None =>
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        Op(name, pass, Some((System.nanoTime() - t0) / 1e6), None, None)
      } catch { case e: Throwable => Op(name, pass, None, Some(errorText(e)), None) }
    case Some(tr) =>
      tr.drain()
      val before = tr.counters
      val opId = tr.open()
      val conId = tr.open()
      tr.current = conId // eager barrier jobs hang off the construct span
      val t0 = Tracer.nowMs
      try {
        val df = fn(spark, dir)
        val t1 = Tracer.nowMs
        tr.drain()
        val mid = tr.counters
        val actId = tr.open()
        tr.current = actId
        df.write.format("noop").mode("overwrite").save()
        val t2 = Tracer.nowMs
        tr.drain()
        tr.current = 0L
        val after = tr.counters
        tr.close(opId, 0L, s"op $name", t0, t2)
        tr.close(conId, opId, "construct", t0, t1)
        tr.close(actId, opId, "action", t1, t2)
        val d = after - before
        val union = Stats.coveredWithin(tr.jobsBetween(t0.toLong, t2.toLong + 1),
          t0.toLong, t2.toLong + 1)
        val actPlan = (after - mid).planMs
        Op(name, pass, Some(t2 - t0), None, Some(OpLayers(
          constructMs = t1 - t0, constructJobs = (mid - before).jobs,
          actionMs = t2 - t1, jobUnionMs = union.toDouble,
          betweenJobMs = math.max(0.0, (t2 - t0) - actPlan - union), delta = d)))
      } catch {
        case e: Throwable =>
          tr.current = 0L
          Op(name, pass, None, Some(errorText(e)), None)
      }
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** The timed window: whole passes in seeded order until `seconds` have
    * gone by (at least one pass). No GC, sync or cache clearing happens
    * between operations, and nothing built by one operation is reused. */
  def timed(spark: SparkSession, dir: String, faces: Seq[(String, Face)], seed: Long,
      seconds: Double, tracer: Option[Tracer], firstPass: Int = 0)
      : (Seq[Op], Seq[Double]) = {
    val byName = faces.toMap
    val ops = Seq.newBuilder[Op]
    val passes = Seq.newBuilder[Double]
    val start = System.nanoTime()
    var pass = firstPass
    while (pass == firstPass || (System.nanoTime() - start) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      order(faces.map(_._1), seed, pass).foreach { n =>
        ops += runOp(spark, dir, n, byName(n), pass, tracer)
      }
      passes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    (ops.result(), passes.result())
  }
}
