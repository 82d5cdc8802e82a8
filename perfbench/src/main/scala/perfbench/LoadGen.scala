package perfbench

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.ArrayBlockingQueue
import java.util.concurrent.locks.LockSupport
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The load generator: one process, `conns` keep-alive connections, each
  * driven by its own thread. It runs a list of phases against one port:
  *
  *  - `open:<name>:<rate>:<seconds>` sends on a fixed schedule whatever
  *    the server does; every request is timed from its due time, and the
  *    scheduler's own lateness is recorded as generator lag;
  *  - `closed:<name>:<count>` sends `count` requests back to back on all
  *    connections (the saturation pass);
  *  - `until:<name>:<rate>` is an open loop that runs until a `STOP` line
  *    arrives on standard input (load beside work of unknown length).
  *
  * Before the first phase it warms up (untimed) and prints `READY`; at each
  * phase start it prints `PHASE <name> <epoch ms>`. Every request becomes
  * one line of the results file:
  * `phase path_index due_ms sent_ms done_ms status crc32 bytes`, times in
  * epoch milliseconds (a failed request has status -1). In an open loop
  * `sent` is when the scheduler released the request, so `sent - due` is
  * the generator's own lateness and the wait for a free connection is part
  * of the latency.
  *
  * Usage: perfbench.LoadGen <port> <paths file> <results file> <conns>
  *   <warmup seconds> <phase>...
  */
object LoadGen {

  /** Epoch milliseconds at nanoTime resolution (same clock as the engine). */
  private val baseMs = System.currentTimeMillis.toDouble
  private val baseNs = System.nanoTime()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  final case class Result(phase: String, path: Int, dueNs: Long, sentNs: Long, doneNs: Long,
      status: Int, crc: Long, bytes: Int)

  /** One blocking HTTP/1.1 keep-alive connection. */
  final class Conn(port: Int) {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _
    private def open(): Unit = {
      sock = new Socket("127.0.0.1", port)
      sock.setTcpNoDelay(true)
      in = new BufferedInputStream(sock.getInputStream, 65536)
      out = sock.getOutputStream
    }

    /** GET `path`; returns (status, crc32 of the body, body length). */
    def get(path: String): (Int, Long, Int) = {
      if (sock == null || sock.isClosed) open()
      out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(US_ASCII))
      out.flush()
      val status = line().split(" ")(1).toInt
      var len = -1
      var chunked = false
      var close = false
      var h = line()
      while (h.nonEmpty) {
        val l = h.toLowerCase
        if (l.startsWith("content-length:")) len = l.drop(15).trim.toInt
        if (l.startsWith("transfer-encoding:") && l.contains("chunked")) chunked = true
        if (l.startsWith("connection:") && l.contains("close")) close = true
        h = line()
      }
      val crc = new java.util.zip.CRC32()
      var total = 0
      def body(n: Int): Unit = {
        val buf = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) throw new java.io.EOFException("short body")
          off += r
        }
        crc.update(buf)
        total += n
      }
      if (chunked) {
        var n = Integer.parseInt(line().trim, 16)
        while (n > 0) { body(n); line(); n = Integer.parseInt(line().trim, 16) }
        line()
      } else if (len > 0) body(len)
      if (close) shut()
      (status, crc.getValue, total)
    }

    private def line(): String = {
      val b = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') b.append(c.toChar)
        c = in.read()
      }
      b.toString
    }

    def shut(): Unit = if (sock != null) { sock.close(); sock = null }
  }

  private final case class Task(path: Int, dueNs: Long, releasedNs: Long)
  private val Stop = Task(-1, 0L, 0L)

  def main(args: Array[String]): Unit = {
    val port = args(0).toInt
    val paths = scala.io.Source.fromFile(args(1)).getLines().toIndexedSeq
    val outFile = args(2)
    val conns = args(3).toInt
    val warmup = args(4).toDouble
    val phases = args.drop(5).toSeq
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Result]()
    val clients = IndexedSeq.fill(conns)(new Conn(port))
    // released but not yet answered: on the wire or waiting for a connection
    val outstanding = new AtomicInteger()
    val maxOutstanding = new AtomicInteger()
    def release(): Unit = maxOutstanding.accumulateAndGet(outstanding.incrementAndGet(), math.max)

    def send(c: Conn, phase: String, t: Task): Unit = {
      val sent = t.releasedNs
      val (st, crc, len) =
        try c.get(paths(t.path))
        catch { case _: Throwable => c.shut(); (-1, 0L, 0) }
      outstanding.decrementAndGet()
      if (phase != null) results.add(Result(phase, t.path, t.dueNs, sent, System.nanoTime(), st, crc, len))
    }

    /** Closed loop: `count` requests over all connections, list order. */
    def closed(phase: String, count: Int, from: Int): Unit = {
      val next = new AtomicInteger()
      val threads = clients.map { c =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i < count) {
            val now = System.nanoTime()
            release()
            send(c, phase, Task((from + i) % paths.size, now, now))
            i = next.getAndIncrement()
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }

    /** Open loop: the scheduler hands due requests to a queue; a stall of
      * the server shows as queueing, which the due-time clock charges. */
    val lagNs = new AtomicLong()
    @volatile var stop = false
    val stdin = new Thread(() => {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      var l = in.readLine()
      while (l != null) { if (l.trim == "STOP") stop = true; l = in.readLine() }
    })
    stdin.setDaemon(true)
    stdin.start()
    def open(phase: String, rate: Double, seconds: Double, from: Int,
        untilStop: Boolean = false): Unit = {
      val due = Stats.schedule(System.nanoTime() + 2000000L, rate, seconds)
      val q = new ArrayBlockingQueue[Task](due.size + conns)
      val threads = clients.map { c =>
        new Thread(() => {
          var t = q.take()
          while (t ne Stop) { send(c, phase, t); t = q.take() }
        })
      }
      threads.foreach(_.start())
      due.indices.iterator.takeWhile(_ => !(untilStop && stop)).foreach { i =>
        val d = due(i)
        var now = System.nanoTime()
        // park, not spin: a spinning scheduler would take a core from the
        // server it measures; the park's overshoot is recorded as lag
        while (now < d) {
          LockSupport.parkNanos(d - now)
          now = System.nanoTime()
        }
        release()
        q.put(Task((from + i) % paths.size, d, now))
        lagNs.accumulateAndGet(now - d, math.max)
      }
      clients.foreach(_ => q.put(Stop))
      threads.foreach(_.join())
    }

    // untimed warm-up: every distinct path, then closed-loop traffic
    val w0 = System.nanoTime()
    paths.indices.foreach { i =>
      val now = System.nanoTime()
      release()
      send(clients(0), null, Task(i, now, now))
    }
    while ((System.nanoTime() - w0) / 1e9 < warmup) closed(null, paths.size, 0)
    println("READY")
    System.out.flush()

    var offset = 0
    phases.foreach { spec =>
      val p = spec.split(":")
      println(s"PHASE ${p(1)} ${Json.num(epochMs(System.nanoTime()))}")
      System.out.flush()
      p(0) match {
        case "open" => open(p(1), p(2).toDouble, p(3).toDouble, offset)
        case "closed" => closed(p(1), p(2).toInt, offset)
        case "until" => open(p(1), p(2).toDouble, 170.0, offset, untilStop = true)
      }
      offset += 7919 // the next phase starts elsewhere in the list
    }
    clients.foreach(_.shut())

    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try {
      w.println(s"# max_outstanding ${maxOutstanding.get} max_sched_lag_ms ${lagNs.get / 1e6}")
      results.forEach { r =>
        w.println(s"${r.phase} ${r.path} ${Json.num(epochMs(r.dueNs))} ${Json.num(epochMs(r.sentNs))} " +
          s"${Json.num(epochMs(r.doneNs))} ${r.status} ${r.crc} ${r.bytes}")
      }
    } finally w.close()
    println("DONE")
  }
}
