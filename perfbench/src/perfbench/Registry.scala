package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Order-independent digest of a result: row count and the wrapping sum
  * of a 64-bit hash of each row's canonical text. Doubles keep every bit
  * (the registry is bit-exact against DuckDB), maps are key-sorted.
  */
object Digest {
  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => s"ts:${t.getTime}:${t.getNanos}"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def apply(df: DataFrame): (Long, String) = {
    val (n, h) = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
    (n, f"$h%016x")
  }
}

object Registry {
  /** The pass, one query per layer it exercises: the Catalyst fixpoint
    * with its per-superstep job floor (j21 k-truss, 25-33 jobs), FastCC
    * (j10), higher-order-function kernels (v2), AsOfJoin (e21), exact
    * median and percentile aggregates (a10), GroupTopK (q3) and the
    * near-duplicate pipeline (llm).
    */
  val Queries: Seq[String] = Seq(
    "j21_ktruss", "j10_connected_components", "v2_vector_quantize",
    "e21_pit_lookup", "a10_median", "q3_lateral_join", "dedup_near_pipeline")

  val DataDir = "perfbench/data/sf0.01"
  val ExpectedFile = "perfbench/expected.json"

  final case class Expected(rows: Long, hash: String)

  def loadExpected(root: Path): Map[String, Expected] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve(ExpectedFile).toFile).get("queries")
    Queries.flatMap { q =>
      Option(tree.get(q)).map(n => q -> Expected(n.get("rows").asLong, n.get("hash").asText))
    }.toMap
  }

  /** Record the expected digests: run every query once, write its result
    * as parquet next to the matching DuckDB SQL so that
    * `tools/oracle_check.py <out> <data dir>` can cross-check it, and print
    * the `expected.json` body.
    */
  def record(a: Args): Int = {
    val spark = Main.session(a)
    try {
      val dir = a.root.resolve(DataDir).toString
      val out = a.record.get
      Files.createDirectories(out)
      val oracle = graft.SparkEntry.oracleSql
      val lines = Queries.map { q =>
        val df = graft.SparkEntry.queries(q)(spark, dir)
        val target = out.resolve(q).toString
        df.write.mode("overwrite").parquet(target)
        val live = Digest(df)
        val stored = Digest(spark.read.parquet(target))
        require(live == stored, s"$q: live digest $live differs from its parquet $stored")
        Main.clean(spark)
        val status = if (oracle.contains(q)) "duckdb" else "rows-only"
        s"""    "$q": {"rows": ${live._1}, "hash": "${live._2}", "oracle": "$status"}"""
      }
      val sql = Queries.filter(oracle.contains).map { q =>
        val esc = oracle(q).flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\t' => "\\t"
          case c => c.toString
        }
        s""""$q": "$esc""""
      }
      Files.writeString(out.resolve("oracle_sql.json"), sql.mkString("{", ",\n", "}\n"))
      println(s"""{\n  "data": "$DataDir",\n  "queries": {\n${lines.mkString(",\n")}\n  }\n}""")
      0
    } finally spark.stop()
  }
}

/** One pass = every query of the list once, in an order drawn from the
  * seed, each materialized through the `noop` sink. The untimed warm-up
  * pass digests every result against `expected.json`, which also fills the
  * registry's lazy state and the code-generation cache.
  */
final class Registry(ctx: Ctx) extends Workload {
  import ctx.{ops, spark, trace}

  private val dir = ctx.args.root.resolve(Registry.DataDir).toString
  private val order = new Random(ctx.args.seed).shuffle(Registry.Queries)
  private val problems = mutable.ArrayBuffer[String]()
  private val passes = mutable.ArrayBuffer[Double]()
  private val warm = mutable.LinkedHashMap[String, Double]()

  def setup(): Unit = {
    val expected = Registry.loadExpected(ctx.args.root)
    order.foreach { q =>
      val t0 = System.nanoTime()
      try {
        val got = Digest(graft.SparkEntry.queries(q)(spark, dir))
        expected.get(q) match {
          case None => problems += s"$q: no expected digest recorded"
          case Some(e) if (e.rows, e.hash) != got =>
            problems += s"$q: got rows=${got._1} hash=${got._2}, expected rows=${e.rows} hash=${e.hash}"
          case _ =>
        }
      } catch {
        case NonFatal(e) => problems += s"$q: check run threw $e"
      }
      warm(q) = (System.nanoTime() - t0) / 1e6
      Main.clean(spark)
    }
  }

  /** Two passes per 10 s of the run's seconds, at least one. */
  def measure(seconds: Double): Unit =
    (1 to math.max(1, math.round(seconds / 5).toInt)).foreach { _ =>
      var sum = 0.0
      order.foreach { q =>
        val t = System.nanoTime()
        val ok = ops.call(q) {
          trace.span(s"q.$q") {
            val df = trace.span("plan")(graft.SparkEntry.queries(q)(spark, dir))
            trace.span("materialize")(df.write.format("noop").mode("overwrite").save())
          }
        }
        if (ok.nonEmpty) sum += (System.nanoTime() - t) / 1e9
        Main.clean(spark)
      }
      passes += sum
    }

  def check(): Seq[String] = problems.toSeq

  /** Each query's median latency over the passes; the p50 and p90 are
    * taken over these, so they name the same query from run to run.
    */
  private def perQuery: Seq[Double] = order.map(q => Stats.median(ops.ms(q))).filterNot(_.isNaN)

  def endToEnd(r: Report): Unit = {
    r.put("pass_s", Stats.median(passes.toSeq), "s")
    r.put("op_p50_ms", Stats.quantile(perQuery, 0.5), "ms")
  }

  def perLayer(r: Report, stats: Seq[SpanStats]): Unit =
    order.foreach { q =>
      val mine = stats.filter(_.span.name == s"q.$q")
      r.put(s"q.$q.s", Stats.median(mine.map(_.span.ms / 1e3)), "s")
      r.put(s"q.$q.jobs", Stats.median(mine.map(_.jobs.toDouble)), "count")
      r.put(s"q.$q.driver_s", Stats.median(mine.map(_.gapMs / 1e3)), "s")
    }

  def summary(): Seq[String] = {
    val n = perQuery.size
    Seq(f"passes=${passes.size} pass_s=${Stats.median(passes.toSeq)}%.3f " +
      passes.map(p => f"$p%.3f").mkString("(passes ", " ", ") ") +
      f"(median of ${passes.size}) op_p50_ms=${Stats.quantile(perQuery, 0.5)}%.1f " +
      f"op_p90_ms=${Stats.quantile(perQuery, 0.9)}%.1f (over $n query medians of ${ops.ms(order: _*).size} calls)") ++
      order.map { q =>
        val xs = ops.ms(q)
        f"query $q%-26s median_ms=${Stats.median(xs)}%9.1f n=${xs.size} " +
          f"warm_up_check_ms=${warm.getOrElse(q, Double.NaN)}%9.1f"
      }
  }
}
