package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A failing operation is counted as failed and never timed as a success. */
class FailLoudSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[1]").appName("perfbench-test")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("a face that throws is a failed operation with no latency sample") {
    val boom: Faces.Face = (_, _) => throw new IllegalStateException("injected")
    val fine: Faces.Face = (s, _) => s.range(10).toDF()
    val (ops, passes) = Faces.timed(spark, "", Seq("boom" -> boom, "fine" -> fine),
      seed = 1L, seconds = 0.0, tracer = None)
    assert(passes.size == 1 && ops.size == 2)
    val b = ops.find(_.face == "boom").get
    assert(b.latencyMs.isEmpty && b.error.exists(_.contains("injected")))
    val f = ops.find(_.face == "fine").get
    assert(f.latencyMs.isDefined && f.error.isEmpty)
    assert(ops.flatMap(_.latencyMs).size == 1)
  }

  test("the traced path fails loud too") {
    val boom: Faces.Face = (_, _) => throw new IllegalStateException("injected")
    val tr = new Tracer(spark)
    tr.install()
    try {
      val op = Faces.runOp(spark, "", "boom", boom, 0, Some(tr))
      assert(op.latencyMs.isEmpty && op.error.isDefined)
    } finally tr.uninstall()
  }

  private def req(path: Int, status: Int, crc: Long, lat: Double = 1.0) =
    ServingWorkload.Req("mid", path, 0.0, 0.0, lat, status, crc, 10)

  test("a 500, a lost request and a wrong body all count as failed requests") {
    val reqs = Seq(req(0, 200, 7L), req(1, 500, 9L), req(2, -1, 0L), req(3, 200, 5L),
      req(4, 200, 1L), req(4, 200, 2L), req(5, 404, 3L))
    val wrong = ServingWorkload.wrongPaths(reqs, Map(0 -> ((200, 7L)), 3 -> ((200, 6L)),
      5 -> ((404, 3L))))
    assert(wrong == Set(3, 4)) // 3 differs from the cache-less answer, 4 between answers
    val failed = reqs.filter(ServingWorkload.failed(_, wrong))
    assert(failed.map(_.path).toSet == Set(1, 2, 3, 4))
    val lat = ServingWorkload.latencies(reqs, wrong)
    assert(lat.count(_.isInfinite) == 5 && lat.count(_ == 1.0) == 2)
  }
}
