package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.graph.PropertyGraph
import graft.store.GraphPackage

/** A seeded sidewalk grid: (n+1)² street corners `Dx` by `Dy` degrees
  * apart, one three-vertex LineString per block side, a `missing` share of
  * them dropped.
  * Coordinates and properties are written as exact decimals, so the
  * values the program parses are the values kept here.
  */
final class Grid(val n: Int, seed: Long, missing: Double = 0.08) {
  import Grid._
  private val rnd = new Random(seed)

  def node(i: Int, j: Int): Int = i * (n + 1) + j
  val lon: Array[BigDecimal] = Array.tabulate((n + 1) * (n + 1))(k => Lon0 + Dx * (k / (n + 1)))
  val lat: Array[BigDecimal] = Array.tabulate((n + 1) * (n + 1))(k => Lat0 + Dy * (k % (n + 1)))
  val ids: Array[String] = Array.tabulate(lon.length)(k =>
    graft.geo.Geo.nodeId(lon(k).toDouble, lat(k).toDouble, 7))

  final case class Seg(a: Int, b: Int, midLon: BigDecimal, midLat: BigDecimal,
      incline: BigDecimal, cost: BigDecimal, width: BigDecimal)

  val segs: Array[Seg] = {
    val out = mutable.ArrayBuffer[Seg]()
    for (i <- 0 to n; j <- 0 to n; horizontal <- Seq(true, false)
         if (if (horizontal) i < n else j < n)) {
      val a = node(i, j)
      val b = if (horizontal) node(i + 1, j) else node(i, j + 1)
      val keep = rnd.nextDouble() >= missing
      val jitter = BigDecimal(rnd.nextInt(1601) - 800, 7)
      val incline = BigDecimal(rnd.nextInt(1601) - 800, 4)
      val cost = BigDecimal(5000 + rnd.nextInt(10001), 2)
      val width = BigDecimal(150 + rnd.nextInt(151), 2)
      val midLon = ((lon(a) + lon(b)) / 2 + (if (horizontal) Zero else jitter)).setScale(7)
      val midLat = ((lat(a) + lat(b)) / 2 + (if (horizontal) jitter else Zero)).setScale(7)
      if (keep) out += Seg(a, b, midLon, midLat, incline, cost, width)
    }
    out.toArray
  }

  /** Corners with at least one sidewalk: the program's node set. */
  val present: Array[Int] = segs.flatMap(s => Seq(s.a, s.b)).distinct.sorted

  def edgeCount: Long = 2L * segs.length

  /** Directed edges keyed by (u, v) node ids, both directions. */
  val byKey: Map[(String, String), Seg] =
    segs.flatMap(s => Seq((ids(s.a), ids(s.b)) -> s, (ids(s.b), ids(s.a)) -> s)).toMap

  def extent: (Double, Double, Double, Double) =
    (Lon0.toDouble, Lat0.toDouble, (Lon0 + Dx * n).toDouble, (Lat0 + Dy * n).toDouble)

  /** Write the grid as `files` GeoJSON FeatureCollections. */
  def write(dir: Path, files: Int): Seq[String] = {
    Files.createDirectories(dir)
    (0 until files).map { f =>
      val sb = new StringBuilder("""{"type": "FeatureCollection", "features": [""")
      var first = true
      segs.indices.filter(_ % files == f).foreach { k =>
        val s = segs(k)
        if (!first) sb.append(',')
        first = false
        sb.append(s"""{"type": "Feature", "properties": {"incline": ${s.incline}, """)
          .append(s""""cost": ${s.cost}, "width": ${s.width}}, "geometry": """)
          .append(s"""{"type": "LineString", "coordinates": [[${lon(s.a)}, ${lat(s.a)}], """)
          .append(s"""[${s.midLon}, ${s.midLat}], [${lon(s.b)}, ${lat(s.b)}]]}}""")
      }
      sb.append("]}\n")
      val p = dir.resolve(f"sidewalks_$f%02d.geojson")
      Files.writeString(p, sb.toString)
      p.toString
    }
  }

  /** Dijkstra over the generated edge list on `cost`: (cost, node path),
    * or None when `v` is unreachable from `u`.
    */
  def dijkstra(u: Int, v: Int): Option[(Double, Seq[Int])] = {
    val adj = Array.fill(lon.length)(mutable.ArrayBuffer[(Int, Double)]())
    segs.foreach { s =>
      adj(s.a) += ((s.b, s.cost.toDouble))
      adj(s.b) += ((s.a, s.cost.toDouble))
    }
    val dist = Array.fill(lon.length)(Double.PositiveInfinity)
    val pred = Array.fill(lon.length)(-1)
    val pq = mutable.PriorityQueue[(Double, Int)]()(Ordering.by[(Double, Int), Double](_._1).reverse)
    dist(u) = 0.0
    pq.enqueue((0.0, u))
    while (pq.nonEmpty) {
      val (d, x) = pq.dequeue()
      if (d <= dist(x)) adj(x).foreach { case (y, w) =>
        if (d + w < dist(y)) { dist(y) = d + w; pred(y) = x; pq.enqueue((d + w, y)) }
      }
    }
    if (dist(v).isInfinite) None
    else Some((dist(v), Iterator.iterate(v)(pred(_)).takeWhile(_ >= 0).toSeq.reverse))
  }
}

object Grid {
  val Lon0 = BigDecimal("-122.3500000")
  val Lat0 = BigDecimal("47.6000000")
  val Dx = BigDecimal("0.0012000")
  val Dy = BigDecimal("0.0009000")
  val Zero = BigDecimal(0)

  /** Point-to-polyline distance in meters in a local equirectangular
    * projection around the point, written from the documented formula.
    */
  def distance(lon: Double, lat: Double, cs: Array[Array[Double]]): Double = {
    val k = 6371000.0 * math.Pi / 180.0
    val c = math.cos(math.toRadians(lat))
    cs.sliding(2).map { case Array(a, b) =>
      val (x1, y1) = ((a(0) - lon) * c * k, (a(1) - lat) * k)
      val (x2, y2) = ((b(0) - lon) * c * k, (b(1) - lat) * k)
      val (dx, dy) = (x2 - x1, y2 - y1)
      val l2 = dx * dx + dy * dy
      val t = if (l2 == 0) 0.0 else math.max(0.0, math.min(1.0, -(x1 * dx + y1 * dy) / l2))
      math.hypot(x1 + t * dx, y1 + t * dy)
    }.min
  }
}

/** entwiner's user path on a seeded grid. One pass builds the package
  * from GeoJSON (`fromGeoJson`, `save`, `load`), serves a seeded mix of
  * reads (`dwithin` sorted at 150 m, `intersects`, `nearestK` at the
  * default radius, `Route.shortestPath` on `cost`), then writes one batch
  * (`updateEdges` of 200 edges, `save`, `load`).
  */
final class Street(ctx: Ctx) extends Workload {
  import ctx.{ops, spark, trace}
  import Street._

  private val seed = ctx.args.seed
  private val grid = new Grid(GridBlocks, seed)
  private val rnd = new Random(seed * 31 + 7)
  private val inputDir = ctx.args.work.resolve("street-input")
  private val pkg = ctx.args.work.resolve("street-pkg").toString
  private var files: Seq[String] = Nil

  private val passes = mutable.ArrayBuffer[Double]()
  private val problems = mutable.ArrayBuffer[String]()
  private val spatialLog = mutable.ArrayBuffer[(String, Seq[Double], Seq[(String, String)])]()
  private val routeLog = mutable.ArrayBuffer[(Int, Int, Option[(Seq[String], Double)])]()
  private var widths: Map[(String, String), Double] = Map()
  private var filesWritten = 0L
  private var rowsPerEdge = 0.0

  def setup(): Unit = {
    files = grid.write(inputDir, InputFiles)
    // untimed warm-up: the whole pass once on a small grid, untraced
    val small = new Grid(4, seed + 1)
    val smallFiles = small.write(ctx.args.work.resolve("warm-input"), 2)
    val smallPkg = ctx.args.work.resolve("warm-pkg").toString
    val off = new Trace(false, spark.sparkContext)
    var g = build(off, smallFiles, smallPkg)
    val (l, b, r, t) = small.extent
    read(off, g, small, "dwithin", Seq(l, b))
    read(off, g, small, "intersects", Seq(l, b, r, t))
    read(off, g, small, "nearestk", Seq(r, t))
    read(off, g, small, "route", Seq(small.present.head, small.present.last))
    val keys = small.byKey.keys.toSeq.take(5)
    g = update(off, g, keys.map(k => (k._1, k._2, 9.0)), smallPkg)
    g.size()
    Main.clean(spark)
  }

  private def build(t: Trace, in: Seq[String], path: String): PropertyGraph =
    t.span("street.build") {
      val g0 = t.span("ingest.fromGeoJson")(PropertyGraph.fromGeoJson(spark, in,
        graft.ingest.GeoJsonIngest.Options(changesSign = Seq("incline"))))
      if (t.on) t.span("ingest.read")(g0.edges.write.format("noop").mode("overwrite").save())
      t.span("store.save")(GraphPackage.save(g0, path))
      t.span("store.load")(GraphPackage.load(spark, path))
    }

  private def update(t: Trace, g: PropertyGraph, rows: Seq[(String, String, Double)],
      path: String): PropertyGraph = {
    import spark.implicits._
    t.span("street.update") {
      val g2 = t.span("graph.update")(g.updateEdges(rows.toDF("_u", "_v", "width")))
      t.span("store.save")(GraphPackage.save(g2, path))
      t.span("store.load")(GraphPackage.load(spark, path))
    }
  }

  /** One read; the rows are collected, as a client would fetch them. */
  private def read(t: Trace, g: PropertyGraph, on: Grid, kind: String, p: Seq[Double]): Unit = {
    def fetch(name: String)(df: => org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
      val rows = t.span(name) {
        val rows = df.collect()
        t.note(rows.length)
        rows
      }
      if (kind == "dwithin") {
        val d = rows.map(_.getAs[Double]("_distance"))
        if (!d.sameElements(d.sorted)) problems += s"dwithin at $p is not sorted by distance"
      }
      rows.toSeq.map(r => (r.getAs[String]("_u"), r.getAs[String]("_v")))
    }
    val measured = t eq trace
    kind match {
      case "route" =>
        val (u, v) = (p(0).toInt, p(1).toInt)
        val res = t.span("route.shortestPath") {
          val res = graft.route.Route.shortestPath(g, on.ids(u), on.ids(v), "cost")
          t.note(res.map(_._1.size.toLong).getOrElse(0L))
          res
        }
        if (measured) routeLog += ((u, v, res))
      case _ =>
        val hit = kind match {
          case "dwithin" => fetch("spatial.dwithin")(g.dwithin(p(0), p(1), DwithinM, sort = true))
          case "intersects" => fetch("spatial.intersects")(g.intersects(p(0), p(1), p(2), p(3)))
          case "nearestk" => fetch("spatial.nearestk")(g.nearestK(p(0), p(1), NearestK))
        }
        if (measured) spatialLog += ((kind, p, hit))
    }
  }

  private def request(kind: String): Seq[Double] = {
    val (l, b, r, t) = grid.extent
    def x = l + rnd.nextDouble() * (r - l)
    def y = b + rnd.nextDouble() * (t - b)
    kind match {
      case "intersects" =>
        val (w, h) = (BoxBlocks * Grid.Dx.toDouble, BoxBlocks * Grid.Dy.toDouble)
        val (x0, y0) = (l + rnd.nextDouble() * (r - l - w), b + rnd.nextDouble() * (t - b - h))
        Seq(x0, y0, x0 + w, y0 + h)
      case "route" =>
        val ps = grid.present
        val u = ps(rnd.nextInt(ps.length))
        var v = u
        while (v == u) v = ps(rnd.nextInt(ps.length))
        Seq(u.toDouble, v.toDouble)
      case _ => Seq(x, y)
    }
  }

  /** One pass per 10 s of the run's seconds, at least one. */
  def measure(seconds: Double): Unit = {
    (1 to math.max(1, math.round(seconds / 10).toInt)).foreach { _ =>
      val p0 = System.nanoTime()
      var untimed = 0L
      def aside(body: => Unit): Unit = {
        val u0 = System.nanoTime()
        try body catch { case NonFatal(e) => problems += s"check threw $e" }
        untimed += System.nanoTime() - u0
      }
      var g = ops.call("build")(build(trace, files, pkg))
      widths = grid.byKey.map { case (k, s) => k -> s.width.toDouble }
      aside {
        val fresh = GraphPackage.load(spark, pkg)
        val (e, n) = (fresh.size(), fresh.order())
        if (e != grid.edgeCount || n != grid.present.length)
          problems += s"built $e edges / $n nodes, generated ${grid.edgeCount} / ${grid.present.length}"
        filesWritten = GraphPackage.countDataFiles(s"$pkg/edges") +
          GraphPackage.countDataFiles(s"$pkg/nodes")
      }
      val kinds = rnd.shuffle(Kinds.flatMap(k => Seq.fill(ReadsPerKind)(k)))
      g.foreach { graph =>
        kinds.foreach(k => ops.call(k)(read(trace, graph, grid, k, request(k))))
        val keys = rnd.shuffle(grid.byKey.keys.toSeq).take(UpdateEdges)
        val rows = keys.map(k => (k._1, k._2, 1.0 + rnd.nextInt(300) / 100.0))
        g = ops.call("update")(update(trace, graph, rows, pkg))
        if (g.nonEmpty) widths ++= rows.map(r => (r._1, r._2) -> r._3)
      }
      passes += (System.nanoTime() - p0 - untimed) / 1e9
      Main.clean(spark)
    }
  }

  def check(): Seq[String] = {
    try {
      val stored = spark.read.parquet(s"$pkg/edges")
        .select("_u", "_v", "width", "geom.coordinates").collect()
      val geom = stored.map(r => (r.getString(0), r.getString(1)) ->
        r.getSeq[scala.collection.Seq[Double]](3).map(_.toArray).toArray).toMap
      rowsPerEdge = stored.length.toDouble / geom.size
      // updated values survive the reload
      val got = stored.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val wrong = widths.count { case (k, w) => !got.get(k).contains(w) }
      if (got.size != widths.size || wrong > 0)
        problems += s"$wrong of ${widths.size} edge widths differ after reload (${got.size} stored)"
      // spatial hits equal an unpruned scan of the same package
      spatialLog.foreach { case (kind, p, hit) =>
        val got = hit.toSet
        kind match {
          case "intersects" =>
            val want = geom.toSeq.collect { case (k, cs) if cs.map(_(0)).max >= p(0) && cs.map(_(0)).min <= p(2) &&
              cs.map(_(1)).max >= p(1) && cs.map(_(1)).min <= p(3) => k }.toSet
            if (got != want) problems += s"intersects $p: ${got.size} hits, unpruned scan ${want.size}"
          case "dwithin" =>
            val d = geom.map { case (k, cs) => k -> Grid.distance(p(0), p(1), cs) }
            val sure = d.toSeq.collect { case (k, x) if x < DwithinM - 1e-6 => k }.toSet
            val maybe = d.toSeq.collect { case (k, x) if x < DwithinM + 1e-6 => k }.toSet
            if (!sure.subsetOf(got) || !got.subsetOf(maybe) || hit.size != got.size)
              problems += s"dwithin $p: ${got.size} hits, unpruned scan ${sure.size}"
          case "nearestk" =>
            val all = geom.values.map(cs => Grid.distance(p(0), p(1), cs)).toSeq.sorted.take(NearestK)
            val mine = hit.flatMap(geom.get).map(cs => Grid.distance(p(0), p(1), cs)).sorted
            if (mine.size != all.size || mine.zip(all).exists { case (a, b) => math.abs(a - b) > 1e-6 })
              problems += s"nearestK $p: hits are not the $NearestK nearest"
        }
      }
      // route costs match our own Dijkstra, paths use real edges
      routeLog.foreach { case (u, v, res) =>
        (grid.dijkstra(u, v), res) match {
          case (None, None) =>
          case (Some((want, _)), Some((path, cost))) =>
            val legs = path.zip(path.drop(1)).map(grid.byKey.get)
            val walked = legs.flatten.map(_.cost.toDouble).sum
            if (path.head != grid.ids(u) || path.last != grid.ids(v) || legs.contains(None))
              problems += s"route ${grid.ids(u)} -> ${grid.ids(v)}: path is not edge-valid"
            else if (math.abs(cost - want) > 1e-6 * want || math.abs(walked - want) > 1e-6 * want)
              problems += s"route ${grid.ids(u)} -> ${grid.ids(v)}: cost $cost, path sums to $walked, Dijkstra $want"
          case (want, got) =>
            problems += s"route ${grid.ids(u)} -> ${grid.ids(v)}: got $got, Dijkstra $want"
        }
      }
      if (routeLog.isEmpty || spatialLog.isEmpty) problems += "no reads were checked"
    } catch {
      case NonFatal(e) => problems += s"check threw $e"
    }
    problems.toSeq
  }

  private def reads: Seq[Double] = ops.ms(Kinds: _*)

  /** Median over the read kinds of each kind's median latency: the raw
    * median of the mixed samples sits in the gap between two kinds.
    */
  private def typicalReadMs: Double = Stats.median(Kinds.map(k => Stats.median(ops.ms(k))))

  def endToEnd(r: Report): Unit = {
    r.put("pass_s", Stats.median(passes.toSeq), "s")
    r.put("op_p50_ms", typicalReadMs, "ms")
  }

  def perLayer(r: Report, stats: Seq[SpanStats]): Unit = {
    def named(n: String) = stats.filter(_.span.name == n)
    def medS(n: String) = Stats.median(named(n).map(_.span.ms / 1e3))
    def under(parent: String, n: String) = {
      val ids = named(parent).map(_.span.id).toSet
      named(n).filter(s => ids.contains(s.span.parent))
    }
    val readS = medS("ingest.read")
    r.put("ingest.read_s", readS, "s")
    r.put("ingest.edges_per_s", grid.edgeCount / readS, "1/s")
    r.put("store.save_s", medS("store.save"), "s")
    r.put("store.save_tasks",
      Stats.median(under("street.build", "store.save").map(_.tasks.toDouble)), "count")
    r.put("store.files_written", filesWritten.toDouble, "count")
    r.put("store.rows_per_edge", rowsPerEdge, "ratio")
    r.put("store.load_s", medS("store.load"), "s")
    r.put("graph.update_s", medS("graph.update"), "s")
    val spatial = Seq("dwithin", "intersects", "nearestk").flatMap(k => named(s"spatial.$k"))
    Seq("dwithin", "intersects", "nearestk").foreach { k =>
      r.put(s"spatial.${k}_ms", Stats.median(named(s"spatial.$k").map(_.span.ms)), "ms")
    }
    r.put("spatial.jobs_per_query", spatial.map(_.jobs).sum.toDouble / spatial.size, "count")
    r.put("spatial.rows_read_per_hit",
      spatial.map(_.recordsRead).sum.toDouble / spatial.map(_.span.items).sum.max(1L), "ratio")
    val routes = named("route.shortestPath")
    r.put("route.path_ms", Stats.median(routes.map(_.span.ms)), "ms")
    r.put("route.jobs_per_path", routes.map(_.jobs).sum.toDouble / routes.size, "count")
    r.put("route.rows_read_per_path", routes.map(_.recordsRead).sum.toDouble / routes.size, "count")
  }

  def summary(): Seq[String] = {
    val builds = ops.ms("build")
    val updates = ops.ms("update")
    val spatial = ops.ms("dwithin", "intersects", "nearestk")
    val routes = ops.ms("route")
    Seq(
      s"grid=${GridBlocks}x$GridBlocks linestrings=${grid.segs.length} edges=${grid.edgeCount} " +
        s"nodes=${grid.present.length} passes=${passes.size} pass_s=${Stats.median(passes.toSeq)}",
      f"build_edges_per_s=${grid.edgeCount / (Stats.median(builds) / 1e3)}%.1f (n=${builds.size})",
      f"update_s=${Stats.median(updates) / 1e3}%.3f (median, n=${updates.size})",
      f"op_p50_ms=$typicalReadMs%.1f (median of ${Kinds.size} kind medians) " +
        f"query_p50_ms=${Stats.quantile(reads, 0.5)}%.1f query_p90_ms=${Stats.quantile(reads, 0.9)}%.1f (n=${reads.size})",
      f"spatial_p50_ms=${Stats.median(spatial)}%.1f (n=${spatial.size})",
      f"route_p50_ms=${Stats.median(routes)}%.1f (n=${routes.size})") ++
      Seq("dwithin", "intersects", "nearestk", "route").map { k =>
        val xs = ops.ms(k)
        f"read $k%-10s p50_ms=${Stats.median(xs)}%8.1f p90_ms=${Stats.quantile(xs, 0.9)}%8.1f n=${xs.size}"
      }
  }
}

object Street {
  val GridBlocks = 30
  val InputFiles = 8
  val ReadsPerKind = 5
  val UpdateEdges = 200
  val DwithinM = 150.0
  val NearestK = 10
  val BoxBlocks = 3
  val Kinds: Seq[String] = Seq("dwithin", "intersects", "nearestk", "route")
}
