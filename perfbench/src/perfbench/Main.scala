package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, root: Path, work: Path, traceDir: Path, record: Option[Path])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1",
      Paths.get(need("root")), Paths.get(need("work")),
      Paths.get(need("trace-dir")), kv.get("record").map(Paths.get(_)))
  }
}

/** Shared state of one run: one session, one client. */
final class Ctx(val args: Args, val spark: SparkSession, val trace: Trace, val ops: Ops)

/** A workload: untimed set-up (inputs and warm-up), a closed loop timed
  * for `seconds`, and output checks made after the timed region.
  */
trait Workload {
  def setup(): Unit
  def measure(seconds: Double): Unit
  /** One message per failed output check. */
  def check(): Seq[String]
  /** End-to-end figures other than set-up time and heap. */
  def endToEnd(r: Report): Unit
  /** Per-layer figures from the trace; the caller fills the rest with 0. */
  def perLayer(r: Report, stats: Seq[SpanStats]): Unit
  /** Human-readable lines printed with the result. */
  def summary(): Seq[String]
}

final class Report {
  val values: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)

  def json(correct: Boolean, attempted: Long, failed: Long, names: Seq[String]): String = {
    val ms = names.map { n =>
      val (v, u) = values(n)
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Main {
  val Workloads: Seq[String] = Seq("street", "registry")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_ms" -> "ms", "heap_after_gc_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.read_s" -> "s", "ingest.edges_per_s" -> "1/s",
    "store.save_s" -> "s", "store.save_tasks" -> "count",
    "store.files_written" -> "count", "store.rows_per_edge" -> "ratio",
    "store.load_s" -> "s", "graph.update_s" -> "s",
    "spatial.dwithin_ms" -> "ms", "spatial.intersects_ms" -> "ms",
    "spatial.nearestk_ms" -> "ms", "spatial.jobs_per_query" -> "count",
    "spatial.rows_read_per_hit" -> "ratio",
    "route.path_ms" -> "ms", "route.jobs_per_path" -> "count",
    "route.rows_read_per_path" -> "count") ++
    Registry.Queries.flatMap(q =>
      Seq(s"q.$q.s" -> "s", s"q.$q.jobs" -> "count", s"q.$q.driver_s" -> "s")) ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
      "jvm.gc_s" -> "s", "trace.overhead_ratio" -> "ratio")

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The same seed-independent job for every workload, first thing after
    * the session starts: scan, shuffle, aggregate, join and window code
    * paths get compiled once before any seeded work runs.
    */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = spark.range(200000).select(col("id"), (col("id") % 97).as("k"))
    w.groupBy("k").agg(sum("id").as("s"))
      .join(w.limit(1000), "k")
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("id")))
      .filter(col("rn") === 1)
      .write.format("noop").mode("overwrite").save()
  }

  /** Between calls: drop cached tables and persisted RDDs, then collect. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Driver heap in use after explicit collections: the least of four,
    * a quarter second apart, so Spark's cleaner can drop what the first
    * collection made unreachable.
    */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val code =
      try {
        if (a.record.nonEmpty) Registry.record(a)
        else run(a)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args): Int = {
    require(Workloads.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workloads.mkString(", ")})")
    val t0 = System.nanoTime()
    val spark = session(a)
    val trace = new Trace(a.trace, spark.sparkContext)
    val ctx = new Ctx(a, spark, trace, new Ops)
    val w: Workload = a.workload match {
      case "street" => new Street(ctx)
      case "registry" => new Registry(ctx)
    }
    try {
      warmUp(spark)
      w.setup()
      val setupS = (System.nanoTime() - t0) / 1e9

      val gc0 = gcSeconds
      val m0Ms = System.currentTimeMillis()
      val m0 = System.nanoTime()
      val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val c0 = os.getProcessCpuTime
      val jit = ManagementFactory.getCompilationMXBean
      val j0 = jit.getTotalCompilationTime
      w.measure(a.seconds.toDouble)
      val measuredS = (System.nanoTime() - m0) / 1e9
      val cpuS = (os.getProcessCpuTime - c0) / 1e9
      val jitS = (jit.getTotalCompilationTime - j0) / 1e3
      val gcS = gcSeconds - gc0
      val heapMb = heapAfterGcMb()
      trace.drain()

      val problems = w.check() ++
        ctx.ops.errors.map { case (cls, n) => s"$n call(s) failed with $cls" } ++
        (if (ctx.ops.attempted == 0) Seq("no call was attempted") else Nil)
      val correct = problems.isEmpty

      val r = new Report
      r.put("setup_s", setupS, "s")
      r.put("heap_after_gc_mb", heapMb, "MB")
      w.endToEnd(r)
      val names =
        if (a.trace) {
          PerLayer.foreach { case (n, u) => r.put(n, 0.0, u) }
          val stats = trace.stats()
          w.perLayer(r, stats)
          val js = trace.jobsSince(m0Ms)
          r.put("spark.jobs", js.size.toDouble, "count")
          r.put("spark.tasks", js.map(_.tasks).sum.toDouble, "count")
          r.put("spark.shuffle_mb", js.map(_.shuffleBytes).sum / 1048576.0, "MB")
          r.put("spark.spill_mb", js.map(_.spillBytes).sum / 1048576.0, "MB")
          r.put("jvm.gc_s", gcS, "s")
          r.put("trace.overhead_ratio", trace.overheadMs / 1e3 / measuredS, "ratio")
          trace.write(a.traceDir.resolve(s"${a.workload}-seed${a.seed}.jsonl"))
          PerLayer.map(_._1)
        } else EndToEnd.map(_._1)

      val ops = ctx.ops
      println(s"[perfbench] workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
        s"trace=${if (a.trace) 1 else 0} master=${spark.sparkContext.master} cores=$cores " +
        f"heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576.0}%.0f " +
        s"spark=${spark.version} java=${System.getProperty("java.version")}")
      println(f"[perfbench] setup_s=$setupS%.3f measured_s=$measuredS%.3f measured_cpu_s=$cpuS%.3f measured_jit_s=$jitS%.3f setup_jit_s=${j0 / 1e3}%.3f " +
        f"jvm.gc_s=$gcS%.3f heap_after_gc_mb=$heapMb%.1f")
      println(f"[perfbench] attempted=${ops.attempted} failed=${ops.failed} " +
        f"fail_ratio=${ops.failRatio}%.4f errors=" +
        ops.errors.map { case (c, n) => s"$c:$n" }.mkString("{", ",", "}"))
      w.summary().foreach(l => println(s"[perfbench] $l"))
      names.foreach { n =>
        val (v, u) = r.values(n)
        println(s"[perfbench] metric $n = $v $u")
      }
      problems.foreach(p => println(s"[perfbench] CHECK FAILED: $p"))
      println(r.json(correct, math.max(1L, ops.attempted), ops.failed, names))
      if (correct) 0 else 1
    } finally spark.stop()
  }
}
