package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Round-3 surface extensions, batch 15: span-level (paragraph) dedup and
  * a TPC-H Q10-shaped revenue ranking with integer-exact money math.
  */
object Extended15 {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- span-level dedup: cross-document duplicated-span fraction ----
    // The paragraph-dedup shape (Dolma-style): segment each doc into
    // disjoint 10-word spans, count distinct docs per exact span, report
    // each doc's duplicated fraction. Joins meet on span text only after
    // the per-doc distinct — shuffle carries (span, doc) pairs, never doc
    // bodies; at corpus scale the span column would be a 128-bit digest
    // (same plan, smaller shuffle — the t4 fingerprint path).
    "dedup_paragraph" -> ((s, d) => {
      // the words are bound to a column once: split inside the span lambda
      // would re-split the whole document per span
      val spans = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("_w"))
        // guard: sequence(0, -1) would generate a DESCENDING ramp for docs
        // shorter than one span (DuckDB's range is empty there) — keep only
        // docs with at least one full span on both sides
        .filter(size(col("_w")) >= 10)
        .select(col("doc_id"), expr("""
          explode(transform(
            sequence(0, CAST(size(_w) / 10 AS INT) - 1),
            i -> concat_ws(' ', slice(_w, i * 10 + 1, 10))))""").as("span"))
        .filter(length(col("span")) > 0)
        .distinct()
      val dup = spans.groupBy("span")
        .agg(countDistinct("doc_id").as("nd"))
      spans.join(dup, "span")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          count_if(col("nd") > 1).as("n_dup"))
        .select(col("doc_id"), col("n_spans"),
          round(col("n_dup").cast("double") / col("n_spans"), 4).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // ---- TPC-H Q10 shape: returned-item revenue ranking ----
    // Money math in scaled integers: price×100 and (1−disc)×100 are exact
    // ints, their product sums exactly in int64, and one terminal division
    // makes the result bit-identical on any engine and any row order —
    // the float-sum form is partition-order-dependent. Fact-side filter
    // pushed to the scan; both dimension joins broadcast.
    "q10_returned_revenue" -> ((s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
           round((lit(1.0) - col("l_discount")) * 100).cast("long")).as("rev_scaled"))
      val orders = t(s, d, "orders").select("o_orderkey", "o_custkey")
      val cust = t(s, d, "customer").select("c_custkey", "c_name", "c_nationkey")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy("o_custkey").agg(sum("rev_scaled").as("rs"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .orderBy(col("rs").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("rs").cast("double") / 10000.0, 2).as("revenue"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_paragraph" ->
      """WITH spans AS (
           SELECT DISTINCT doc_id, span FROM (
             SELECT doc_id,
               unnest(list_transform(
                 range(0, len(string_split(text, ' ')) // 10),
                 i -> array_to_string(
                   list_slice(string_split(text, ' '), i * 10 + 1, i * 10 + 10),
                   ' '))) AS span
             FROM documents
             WHERE len(string_split(text, ' ')) >= 10)
           WHERE len(span) > 0),
         dup AS (SELECT span, count(DISTINCT doc_id) AS nd
                 FROM spans GROUP BY span)
         SELECT doc_id, count(*) AS n_spans,
           round(CAST(count_if(nd > 1) AS DOUBLE) / count(*), 4) AS dup_frac
         FROM spans JOIN dup USING (span)
         GROUP BY doc_id ORDER BY doc_id""",
    "q10_returned_revenue" ->
      """WITH r AS (
           SELECT o.o_custkey,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
                 CAST(round((1.0 - l.l_discount) * 100) AS BIGINT)) AS rs
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           WHERE l.l_returnflag = 'R'
           GROUP BY o.o_custkey)
         SELECT c.c_custkey, c.c_name, c.c_nationkey,
           round(CAST(rs AS DOUBLE) / 10000.0, 2) AS revenue
         FROM r JOIN customer c ON r.o_custkey = c.c_custkey
         ORDER BY rs DESC, c.c_custkey LIMIT 20"""
  )
}
