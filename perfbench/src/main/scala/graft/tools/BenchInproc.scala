package graft.tools

import graft.transit.{Limit, QueryService, ServiceFilter}
import org.apache.spark.sql.DataFrame
import perfbench.{Stats, Tracer}

/** In-process timing of the serving layers for the traced run: the same
  * request list answered by direct calls into a [[ServingCache]] (lookup)
  * and the listener's render helpers (render), with no socket in between.
  * It sits in this package because the render helpers are package-private. */
object BenchInproc {

  /** Calls per measurement: enough samples for a p99. */
  val Calls = 8192

  private def query(path: String): Map[String, String] = {
    val i = path.indexOf('?')
    if (i < 0) Map.empty
    else path.drop(i + 1).split("&").iterator.filter(_.nonEmpty).map { kv =>
      val j = kv.indexOf('=')
      java.net.URLDecoder.decode(kv.take(j), "UTF-8") ->
        java.net.URLDecoder.decode(kv.drop(j + 1), "UTF-8")
    }.toMap
  }

  /** Builds a cache (recorded as `inproc.cache` in `builds`), then times
    * lookups and renders; returns p50/p99 in microseconds. */
  def measure(svc: QueryService, docs: DataFrame, paths: IndexedSeq[String], tr: Tracer,
      builds: scala.collection.mutable.Map[String, Double]): Map[String, Double] = {
    val b0 = Tracer.nowMs
    val c = ServingCache.build(svc, docs)
    val b1 = Tracer.nowMs
    builds("inproc.cache") = b1 - b0
    tr.add(0L, "build cache", b0, b1)
    val lookup = new Array[Double](Calls)
    val render = new Array[Double](Calls)
    var sink = 0L
    (0 until Calls).foreach { k =>
      val path = paths(k % paths.size)
      val p = query(path)
      val sid = p.getOrElse("stop_id", "")
      val service = ServiceFilter.fromParam(p.get("service_id"))
      val route = path.takeWhile(_ != '?')
      val t0 = System.nanoTime()
      val rows: Any = route match {
        case r if r.startsWith("/api/q") =>
          val all = c.api((r.drop(5), ServingCache.tagOf(service)))
          Limit.fromParam(p.get("limit")) match {
            case Limit.TopN(n) => all.take(n)
            case Limit.All => all
          }
        case "/get_stops" => c.stopsBody
        case "/get_timetable" => c.timetableRows(sid).getOrElse(Seq.empty)
        case "/get_routes_for_stop" => c.routesForStop(sid)
        case "/get_arrivals" if p.contains("route_short_name") =>
          c.arrivalsFlat(sid, p("route_short_name"), p.getOrElse("trip_headsign", ""), service)
        case _ => c.arrivalsGrouped(sid, service)
      }
      val t1 = System.nanoTime()
      val body: String = (route, rows) match {
        case (r, xs: Vector[_]) if r.startsWith("/api/q") => xs.mkString("""{"items":[""", ",", "]}")
        case ("/get_stops", s: String) => s
        case ("/get_timetable", xs: Seq[_]) =>
          HttpServe.renderTimetable(xs.asInstanceOf[Seq[(Option[String], Option[String], String)]])
        case ("/get_routes_for_stop", xs: Seq[_]) =>
          xs.asInstanceOf[Seq[(String, String)]].map { case (s, h) =>
            s"""{"route_short_name":${perfbench.Json.str(s)},"trip_headsign":${perfbench.Json.str(h)}}"""
          }.mkString("[", ",", "]")
        case ("/get_arrivals", xs: Seq[_]) if p.contains("route_short_name") =>
          HttpServe.renderFlat(xs.asInstanceOf[Seq[String]])
        case (_, xs: Seq[_]) =>
          HttpServe.renderGroups(xs.asInstanceOf[Seq[(Option[String], String, Long, String)]])
        case (_, other) => String.valueOf(other)
      }
      val t2 = System.nanoTime()
      sink += body.length
      lookup(k) = (t1 - t0) / 1e3
      render(k) = (t2 - t1) / 1e3
    }
    if (sink < 0) println(sink) // keeps the bodies live
    def pct(xs: Array[Double], q: Double) = Stats.percentile(xs.toSeq, q).map(_.value).getOrElse(0.0)
    Map("lookup_p50" -> pct(lookup, 0.5), "lookup_p99" -> pct(lookup, 0.99),
      "render_p50" -> pct(render, 0.5), "render_p99" -> pct(render, 0.99))
  }
}
