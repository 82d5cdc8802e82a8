package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** The open loop charges a server stall to every request it delays, and
  * keeps the generator's own lateness apart from that wait. */
class LoadGenSpec extends AnyFunSuite {

  // as HttpServe does: without it the JDK server's separate header and
  // body segments wait ~40 ms for delayed ACKs on every request
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def serve(): HttpServer = {
    val s = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 64)
    s.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      if (path == "/slow") Thread.sleep(200)
      val (code, body) = if (path == "/boom") (500, "{}") else (200, s"""{"p":"$path"}""")
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    })
    s.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
    s.start()
    s
  }

  private def run(paths: Seq[String], phases: String*): Seq[ServingWorkload.Req] = {
    val server = serve()
    val dir = java.nio.file.Files.createTempDirectory("loadgen")
    val in = dir.resolve("paths.txt")
    java.nio.file.Files.write(in, paths.mkString("\n").getBytes("UTF-8"))
    val out = dir.resolve("out.txt")
    try LoadGen.main(Array(server.getAddress.getPort.toString, in.toString, out.toString,
      "1", "0") ++ phases)
    finally server.stop(0)
    scala.io.Source.fromFile(out.toFile).getLines().drop(1).map { l =>
      val f = l.split(" ")
      ServingWorkload.Req(f(0), f(1).toInt, f(2).toDouble, f(3).toDouble, f(4).toDouble,
        f(5).toInt, f(6).toLong, f(7).toInt)
    }.toSeq.sortBy(_.dueMs)
  }

  test("a stall is charged from the due time to every request behind it") {
    // 100 req/s for 0.5 s on one connection; the 5th request stalls 200 ms
    val paths = (0 until 50).map(i => if (i == 4) "/slow" else s"/ok$i")
    val rs = run(paths, "open:p:100:0.5")
    assert(rs.size == 50 && rs.forall(_.status == 200))
    val after = rs.drop(5).take(10) // due 10-100 ms after the stall began
    // each waited behind the stall: timed from due, latency is large ...
    assert(after.forall(_.latencyMs > 90.0), after.map(_.latencyMs))
    // ... though the generator released each on time, and the wire time of
    // each one alone was short
    assert(after.forall(_.lagMs < 20.0), after.map(_.lagMs))
    // requests due well after the stall has drained are fast again
    assert(rs.takeRight(5).forall(_.latencyMs < 50.0), rs.takeRight(5).map(_.latencyMs))
  }

  test("a closed pass records every answer, a 500 included") {
    val rs = run(Seq("/a", "/boom", "/b"), "closed:pass:6")
    assert(rs.size == 6)
    assert(rs.count(_.status == 500) == 2)
    assert(rs.filterNot(_.ok).map(_.path).toSet == Set(1))
  }
}
