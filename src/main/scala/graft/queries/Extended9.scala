package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Round-2 surface extensions, batch 9: the training-data preparation
  * operators a 100 TB corpus pipeline runs between ingest and tokenizer —
  * overlapping-window chunking, repetition-quality signals, PII redaction,
  * URL parsing — plus an EXISTS-driven TPC-H Q4 analog, an ORC sink/source
  * round-trip, and normalized mean-pooled label centroids. All oracled.
  *
  * Scale notes: every query here is a narrow projection → per-row map →
  * single hash aggregation (or none); nothing introduces a join or a
  * second shuffle, so each scales linearly with input splits. Chunking
  * multiplies rows ~n_tok/stride per doc BEFORE the (tiny) per-chunk
  * payload is materialized, so the explode happens after column pruning.
  */
object Extended9 {
  type Q = (SparkSession, String) => DataFrame

  // shared token pipeline: whitespace split, empties dropped (documents are
  // single-spaced prose; the filter only guards pathological rows).
  // Extended11's contamination shingles reuse it — one tokenizer everywhere.
  private[queries] val toks = "filter(split(text, ' '), w -> length(w) > 0)"

  def queries: Map[String, Q] = Map(
    // ---- chunking: fixed-size overlapping token windows (size 50, stride
    // 40), the unit of work LLM tokenizers consume. sequence() generates
    // the window starts, slice() clamps the tail window — one generator,
    // no self-join, rows multiply only after column pruning.
    "t12_chunk_overlap" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), expr(toks).as("toks"))
        .select(col("doc_id"),
          posexplode(expr("sequence(0, greatest(size(toks) - 1, 0), 40)"))
            .as(Seq("chunk_idx", "start")),
          col("toks"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          expr("slice(toks, start + 1, 50)").as("chunk"))
        .filter(size(col("chunk")) > 0)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("chunk_len"),
          array_join(col("chunk"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")),

    // ---- Gopher-style repetition signals: duplicate-token fraction and
    // the share of bigram mass captured by the most frequent bigram.
    // Exact longs until the final division, so the doubles are bit-stable.
    "t13_repetition" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), expr(toks).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
          // adjacent pairs as two offset slices: the lambda captures no
          // per-row value, so the filter Spark infers for explode(bigrams)
          // cannot inline the tokenizer into a per-element body
          expr("zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks)), " +
            "(a, b) -> concat(a, ' ', b))").as("bigrams"))
      val bg = base
        .select(col("doc_id"), explode(col("bigrams")).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("max_bg"), sum(col("c")).as("n_bg"))
      base.join(bg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          round(lit(1.0) - col("n_uniq").cast("double") / col("n_tok"), 4)
            .as("dup_word_frac"),
          round(coalesce(col("max_bg").cast("double") / col("n_bg"), lit(0.0)), 4)
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // ---- PII redaction: regex scrub of emails/phones from a support-note
    // column synthesized out of real customer fields (the tables ship no
    // free-text PII), with per-row match counts for audit. Patterns stay in
    // the RE2∩Java-regex common subset so both engines agree.
    "t14_pii_redact" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"), concat(
          col("c_name"), lit(" ("), lower(col("c_name")),
          lit("@mail.example.com"),
          when(col("c_acctbal") > 5000,
            concat(lit(", alt "), lower(col("c_name")), lit("@alt.example.org")))
            .otherwise(lit("")),
          lit(") called from "),
          when(col("c_nationkey") % 3 === 0,
            concat(lit("+1-555-"), lpad(col("c_custkey") % 10000, 4, "0")))
            .otherwise(lit("an unknown number")),
          lit(" about "), col("c_mktsegment")).as("note"))
        .select(col("c_custkey"),
          size(regexp_extract_all(col("note"),
            lit("[a-z0-9#]+@[a-z.]+"), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("note"),
            lit("\\+1-555-[0-9]{4}"), lit(0))).cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("note"),
            lit("[a-z0-9#]+@[a-z.]+"), lit("[EMAIL]")),
            lit("\\+1-555-[0-9]{4}"), lit("[PHONE]")).as("redacted"))
        .orderBy("c_custkey")),

    // ---- TPC-H Q4 analog: EXISTS-driven aggregate (orders with at least
    // one line shipped >60 days after the order date). Plans as a left
    // semi ExistenceJoin — one pass over lineitem, no row multiplication.
    "q8_exists_late" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_late
        FROM v_orders o
        WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM v_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    // ---- ORC sink + source round-trip (the third columnar format after
    // parquet/CSV/JSON in s7/s8): write, re-read with applied schema,
    // aggregate — proves the format path end to end.
    "s9_orc_roundtrip" -> ((s, d) => {
      val dir = Scratch.dir("s9", d)
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_linenumber")
      li.write.mode("overwrite").orc(dir)
      // quantities are integer-valued, so the double sums are exact and the
      // binary round-trip cannot perturb them
      s.read.schema(li.schema).orc(dir).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("long").as("sum_qty"),
          sum("l_linenumber").as("sum_ln"))
        .orderBy("l_returnflag")
    }),

    // ---- normalized mean-pooled centroids per label: L2-normalize each
    // vector (ascending-index dot fold, so the norm is bit-stable), then
    // average each dimension — posexplode + hash agg, one shuffle on
    // (label, pos), no array-valued accumulator.
    "v3_norm_pool" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", expr(
          "sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x))"))
        .select(col("label"),
          posexplode(expr("transform(v, x -> x / nrm)")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(round(avg("x"), 6).as("c"))
        .orderBy("label", "pos")),

    // ---- URL parsing battery: host / path / query-param extraction with
    // Spark's codegen'd parse_url over URLs synthesized from part fields
    // (the crawl-pipeline shape: group by registrable domain, route by
    // path, read params).
    "f16_url_battery" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), concat(
          lit("https://"), lower(regexp_replace(col("p_brand"), lit("#"), lit(""))),
          lit(".example.com/catalog/"), col("p_partkey"),
          lit("?size="), col("p_size"),
          lit("&type="), regexp_replace(col("p_type"), lit(" "), lit("+"))).as("url"))
        .select(col("p_partkey"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("size")).as("qsize"),
          parse_url(col("url"), lit("QUERY"), lit("type")).as("qtype"))
        .orderBy("p_partkey"))
  )

  def oracleSql: Map[String, String] = Map(
    "t12_chunk_overlap" ->
      """WITH d AS (SELECT doc_id,
             list_filter(string_split(text, ' '), w -> len(w) > 0) AS toks
           FROM documents),
         c AS (SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1), 40)) AS start
           FROM d)
         SELECT doc_id, CAST(start // 40 AS BIGINT) AS chunk_idx,
           CAST(len(toks[start + 1 : start + 50]) AS BIGINT) AS chunk_len,
           array_to_string(toks[start + 1 : start + 50], ' ') AS chunk_text
         FROM c
         WHERE len(toks[start + 1 : start + 50]) > 0
         ORDER BY doc_id, chunk_idx""",
    "t13_repetition" ->
      """WITH d AS (SELECT doc_id,
             list_filter(string_split(text, ' '), w -> len(w) > 0) AS toks
           FROM documents),
         b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq, toks
           FROM d WHERE len(toks) > 0),
         bgx AS (SELECT doc_id,
             unnest(list_transform(range(2, len(toks) + 1),
               i -> toks[i - 1] || ' ' || toks[i])) AS bg
           FROM b WHERE len(toks) > 1),
         bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_bg,
             CAST(sum(c) AS BIGINT) AS n_bg FROM bgc GROUP BY 1)
         SELECT b.doc_id, n_tok,
           round(1.0 - CAST(n_uniq AS DOUBLE) / n_tok, 4) AS dup_word_frac,
           round(coalesce(CAST(max_bg AS DOUBLE) / n_bg, 0.0), 4) AS top_bigram_frac
         FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id
         ORDER BY b.doc_id""",
    "t14_pii_redact" ->
      """WITH n AS (SELECT c_custkey,
           c_name || ' (' || lower(c_name) || '@mail.example.com' ||
           CASE WHEN c_acctbal > 5000
                THEN ', alt ' || lower(c_name) || '@alt.example.org'
                ELSE '' END ||
           ') called from ' ||
           CASE WHEN c_nationkey % 3 = 0
                THEN '+1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                ELSE 'an unknown number' END ||
           ' about ' || c_mktsegment AS note
           FROM customer)
         SELECT c_custkey,
           CAST(len(regexp_extract_all(note, '[a-z0-9#]+@[a-z.]+')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(note, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(note,
             '[a-z0-9#]+@[a-z.]+', '[EMAIL]', 'g'),
             '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted
         FROM n ORDER BY c_custkey""",
    "q8_exists_late" ->
      """SELECT o_orderpriority, count(*) AS n_late
         FROM orders o
         WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "s9_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "v3_norm_pool" ->
      """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT label, v,
             sqrt(list_reduce(list_transform(range(1, len(v) + 1),
               i -> v[i] * v[i]), (a, b) -> a + b)) AS nrm
           FROM v),
         u AS (SELECT label,
             unnest(list_zip(range(1, len(v) + 1),
                             list_transform(v, x -> x / nrm))) AS z
           FROM n)
         SELECT label, CAST(z[1] - 1 AS INT) AS pos, round(avg(z[2]), 6) AS c
         FROM u GROUP BY 1, 2 ORDER BY label, pos""",
    "f16_url_battery" ->
      """WITH u AS (SELECT p_partkey,
           'https://' || lower(replace(p_brand, '#', '')) ||
           '.example.com/catalog/' || p_partkey ||
           '?size=' || p_size || '&type=' || replace(p_type, ' ', '+') AS url
           FROM part)
         SELECT p_partkey,
           regexp_extract(url, 'https://([^/]+)/', 1) AS host,
           regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]size=([^&]*)', 1) AS qsize,
           regexp_extract(url, '[?&]type=([^&]*)', 1) AS qtype
         FROM u ORDER BY p_partkey"""
  )
}
