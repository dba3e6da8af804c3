package graft.operators

import graft.{CallScope, Q, QueryPack}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.3 "Scalar functions"): the
  * reference reaches all of this only through Python stdlib calls inside
  * user map functions (Q4–Q7, Q10); here it's Catalyst built-ins —
  * codegen'd, null-safe, and pushdown-friendly.
  */
object ScalarFunctions extends QueryPack {

  /** String functions over customer/part. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lower(col("c_name")).as("name_lower"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 10, 4).as("name_mid"),
        concat_ws("-", col("c_mktsegment"), col("c_nationkey")).as("seg_nation"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_padded"),
        regexp_replace(col("c_name"), "0+", "0").as("name_squeezed"),
        reverse(col("c_name")).as("name_rev"),
        col("c_name").like("%42%").as("has_42"))
      .orderBy("c_custkey")

  /** Date/time functions over orders. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        weekday(col("o_orderdate")).as("wd"), // Monday=0, = DuckDB isodow-1
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        datediff(lit("1999-01-01").cast("date"), col("o_orderdate")).as("days_to_1999"))
      .orderBy("o_orderkey")

  /** Math functions over lineitem; transcendentals rounded to 6 decimals
    * (both engines are within 1 ulp of correctly-rounded libm). */
  private def q31(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") - 50000.0).as("abs_dev"),
        ceil(col("l_quantity") / 7.0).as("ceil7"),
        floor(col("l_quantity") / 7.0).as("floor7"),
        round(log(lit(1.0) + col("l_quantity")), 6).as("ln1p_qty"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(97)).as("h97"))
      // (l_orderkey, l_linenumber) is not unique — order by every output
      // column so row order is total in both engines.
      .orderBy("l_orderkey", "l_linenumber", "abs_dev", "ceil7", "floor7",
        "ln1p_qty", "sqrt_price", "disc_sq", "h97")

  /** Array functions over documents (tokenize → array ops). */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        element_at(toks, 1).as("first_tok"),
        array_contains(toks, "spark").as("has_spark"),
        array_join(slice(sort_array(array_distinct(toks)), 1, 3), ",").as("top3_sorted"))
      .orderBy("doc_id")
  }

  /** JSON extraction from the events props payload. */
  private def q33(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        (get_json_object(col("props"), "$.k").cast("long") % 10).as("k_mod10"))
      .orderBy("event_id")

  /** q59: schema-full JSON parse + typed struct flatten — the JSON
    * direction q33 doesn't cover. q33 is stringly path extraction
    * (get_json_object); here `from_json` parses the payload against a
    * declared schema into a real struct column (typed, codegen-friendly,
    * one parse feeding N field reads), the struct is flattened to
    * columns, and `to_json(struct(...))` exercises the serialize
    * direction on a canonical field order. All map-only.
    *
    * Null contract: `to_json` DROPS null struct fields while a string
    * concatenation yields NULL, so the serialized column is defined (on
    * both engines) only when every field is present — rows missing
    * `props.k` or `event_type` get `roundtrip_json = NULL` explicitly
    * rather than depending on the fixture never producing them. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val pSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.LongType)))
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        from_json(col("props"), pSchema).as("p"))
      .select(col("event_id"),
        col("p.k").as("k"),
        (col("p.k") % 7).as("k_mod7"),
        when(col("p.k").isNotNull && col("event_type").isNotNull,
          to_json(struct(col("event_type").as("t"), col("p.k").as("k"))))
          .as("roundtrip_json"))
      .orderBy("event_id")
  }

  /** q104: VARIANT semi-structured extraction — Spark 4's open
    * semi-structured type next to q33's stringly paths and q59's
    * schema-full structs: `parse_json` binarizes the payload ONCE into a
    * variant (shredded, typed access without a declared schema — the
    * right 100 TB shape when payloads are heterogeneous), then
    * `variant_get` extracts typed fields; `try_variant_get` of a
    * missing path must be NULL, not an error. */
  private def q104(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        (expr("variant_get(v, '$.k', 'bigint')") % 5).as("k_mod5"),
        expr("try_variant_get(v, '$.absent', 'string')").as("absent"))
      .orderBy("event_id")

  /** q256: array SET ALGEBRA for behavioral churn — per user, the
    * event-type sets of the first vs second half of the observed
    * window, compared with array_intersect / array_except / the
    * union'd Jaccard: "what did this user start doing, stop doing,
    * keep doing". Sets build as map-side-combined collect_set (types
    * alphabet-bounded, so state is O(|types|) per key, never the
    * event history); every set is array_sort'd, then array_join'd to a
    * '|'-string before export — atomic output columns so any
    * row-hashing harness can sort/compare the frame, and deterministic
    * at any parallelism. The compared windows are the first and last
    * QUINTILE of the observed [min ts, max ts] span — derived from the
    * data as a broadcast 1-row aggregate (never a hardcoded fixture
    * epoch), and narrow enough that per-user sets genuinely differ
    * (half-vs-half windows saturate: every user shows every type in
    * both and the except/intersect legs never fire). One shuffle on
    * user_id serves both windows via conditional aggregation — never a
    * self-join of the two periods. */
  private def q256(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(
      expr("min(us) + (max(us) - min(us)) div 5").as("cut1"),
      expr("max(us) - (max(us) - min(us)) div 5").as("cut2"))
    ev.crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg(
        array_sort(collect_set(when(col("us") < col("cut1"), col("event_type"))))
          .as("w1"),
        array_sort(collect_set(when(col("us") >= col("cut2"), col("event_type"))))
          .as("w2"))
      .select(col("user_id"),
        array_join(array_sort(array_except(col("w2"), col("w1"))), "|")
          .as("started"),
        array_join(array_sort(array_except(col("w1"), col("w2"))), "|")
          .as("stopped"),
        array_join(array_sort(array_intersect(col("w1"), col("w2"))), "|")
          .as("kept"),
        // explicit empty-union guard: a user active only in the middle
        // quintiles has w1 = w2 = [], and 0/0 is engine-divergent
        // (Spark NULL vs DuckDB NaN/NULL by version) — both sides of
        // the gate state jaccard([],[]) = 0 instead (ADVICE r12)
        when(size(array_union(col("w1"), col("w2"))) === 0, lit(0.0))
          .otherwise(
            round(size(array_intersect(col("w1"), col("w2"))).cast("double") /
              size(array_union(col("w1"), col("w2"))), 6)).as("jaccard"))
      .orderBy("user_id")
  }

  /** q251: `variant_explode` — the GENERATOR half of the VARIANT
    * surface (q104 gates typed point extraction; this enumerates every
    * top-level field of a semi-structured value without knowing its
    * schema). The lateral generator fans each row into its (key, value)
    * entries, then a plain aggregate summarizes per key — the
    * schema-on-read audit ("what keys exist in this JSON column, how
    * often, what do the numeric ones sum to") that runs before anyone
    * writes an extraction schema. Values cross out of VARIANT via
    * to_json (engine-neutral scalar text: numbers print canonically),
    * and the numeric leg re-parses under try_cast so non-numeric keys
    * aggregate as NULL instead of failing the scan. */
  private def q251(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_events251", Tables.events(s, dir))
    s.sql(
      """SELECT t.key,
        |  count(*) AS n,
        |  sum(try_cast(to_json(t.value) AS BIGINT)) AS sum_v
        |FROM graft_events251,
        |  LATERAL variant_explode(parse_json(props)) AS t
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** CASE/WHEN bucketing + conditional aggregation. */
  private def q34(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        when(col("value") < 50, "low")
          .when(col("value") < 150, "mid")
          .otherwise("high").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket")

  /** q127: generator NULL semantics — `explode_outer` keeps a parent row
    * (with a NULL element) when its array is empty, where plain
    * `explode` silently drops it. Long tokens (> 12 chars) are rare
    * enough that many docs genuinely hit the empty-array path. The
    * oracle reproduces outer-explode by substituting `[NULL]` for empty
    * arrays before unnest — semantics, not syntax, are what's gated. */
  private def q127(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(split(col("text"), " ", -1), t => length(t) > 12).as("longs"))
      .select(col("doc_id"), explode_outer(col("longs")).as("long_tok"))
      .orderBy(col("doc_id"), col("long_tok").asc_nulls_first)

  /** q137: higher-order array lambdas — `transform` / `filter` /
    * `exists` / `aggregate` over the tokenized document text. These are
    * Catalyst `HigherOrderFunction`s evaluated inline per row (no UDF,
    * no serialization boundary), so the whole pipeline stays one
    * map-only codegen stage — the per-document shape every tokenizer /
    * feature pass at 100 TB wants. Spark's `split` keeps interior empty
    * strings exactly like DuckDB's `string_split`, so the two engines
    * tokenize identically. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(words).as("n_words"),
        size(filter(words, w => length(w) > lit(3))).as("n_long"),
        aggregate(transform(words, w => length(w)), lit(0),
          (acc, x) => acc + x).as("total_chars"),
        array_max(transform(words, w => length(w))).as("longest"),
        exists(words, w => w.rlike("^[0-9]+$")).as("has_number"))
      .orderBy("doc_id")
  }

  /** q138: MapType construction + map lambdas — per-user event-type
    * histograms built with `map_from_entries`, pruned with `map_filter`,
    * rescored with `transform_values`, annotated via `map_concat`, and
    * exploded back to rows. The map never leaves the executor row — the
    * only shuffles are the two aggregations — and the oracle verifies
    * the exploded relational image of the final map, which is the
    * engine-neutral meaning of the operator. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("cnt"))))
        .as("hist"))
      .select(col("user_id"), {
        val kept = map_filter(col("hist"), (_, v) => v >= lit(3))
        explode(map_concat(
          transform_values(kept, (k, v) => v * lit(10) + length(k)),
          map(lit("_kept"), size(kept).cast("long"))))
      })
      .orderBy("user_id", "key")
  }

  /** q144: XML parsing — `from_xml` (new SQL surface in Spark 4) over
    * per-row XML documents assembled from order fields: one attribute
    * (`id` → `_id` under the default attributePrefix) and two element
    * children. Map-only and codegen-adjacent like from_json (q59); the
    * oracle verifies the parsed fields round-trip to the source columns.
    * Long-typed fields only — float formatting differs across engines,
    * string/long never does. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val xml = concat(lit("<o id=\""), col("o_orderkey"), lit("\"><p>"),
      col("o_orderpriority"), lit("</p><c>"), col("o_custkey"),
      lit("</c></o>"))
    val schema = StructType(Seq(
      StructField("_id", LongType),
      StructField("p", StringType),
      StructField("c", LongType)))
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), from_xml(xml, schema).as("x"))
      .select(col("o_orderkey"), col("x._id").as("id_parsed"),
        col("x.p").as("p_parsed"), col("x.c").as("c_parsed"))
      .orderBy("o_orderkey")
  }

  /** q155: regexp_extract_all — multi-match extraction into arrays,
    * composed with array ops (the single-match regexp_extract lives in
    * q29's string pack). Map-only; the digit runs in c_name and the
    * synthesized tail give every row ≥2 matches. */
  private def q155(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        regexp_extract_all(
          concat(col("c_name"), lit(" lot#"), col("c_nationkey")),
          lit("[0-9]+"), lit(0)).as("nums"))
      .select(col("c_custkey"),
        size(col("nums")).as("n_matches"),
        element_at(col("nums"), 1).as("first_num"),
        element_at(col("nums"), -1).as("last_num"),
        array_join(col("nums"), "|").as("all_nums"))
      .orderBy("c_custkey")

  /** q157: try_* error-safe arithmetic — NULL-on-failure semantics for
    * division by zero, bigint overflow, and invalid casts (the
    * expression-level counterpart of q08's row-level error routing).
    * Under ANSI mode plain operators would THROW mid-job at 100 TB;
    * try_* keeps the pipeline running and surfaces failures as
    * countable NULLs. The oracle reproduces overflow exactly by
    * computing in HUGEINT and NULLing past the int64 boundary. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    val k = 4611686018427387903L // 2^62 - 1: x*k overflows for x >= 3
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        round(try_divide(col("o_totalprice"), col("o_custkey") % 7), 6)
          .as("safe_div"),
        try_multiply(col("o_orderkey"), lit(k)).as("safe_mul"),
        col("o_orderpriority").try_cast("int").as("bad_cast"))
      .orderBy("o_orderkey")
  }

  /** q167: vector lambda algebra over the embedding column —
    * `zip_with` / `reverse` / `slice` / `array_max` composed per row,
    * all Catalyst HigherOrderFunctions (no UDF). Floats are widened to
    * double BEFORE any arithmetic (float→double is exact), and both
    * engines fold the product lists in list order, so the sums are
    * bit-identical; the final round(6) is belt-and-braces. This is the
    * declarative counterpart of the codegen DotProduct expression the
    * ANN suite uses (functions/VectorExpressions.scala). */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        round(aggregate(zip_with(e, reverse(e), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x), 6).as("rev_dot"),
        round(aggregate(slice(e, 1, 4), lit(0.0), (acc, x) => acc + x), 6)
          .as("head4_sum"),
        round(array_max(e), 6).as("max_elem"),
        size(filter(e, x => x > lit(0.0))).as("n_positive"))
      .orderBy("vec_id")
  }

  /** q181: COLUMN-level CSV serde — `to_csv` renders a struct to one CSV
    * line (quoting fields that contain the delimiter), `from_csv` parses
    * it back against an explicit DDL schema. This is the in-row cousin of
    * the file-level CSV gates (q145 quoted files, q162 PERMISSIVE): the
    * shape used when a CSV payload travels INSIDE a column (message
    * queues, log envelopes). The note field embeds a comma so the
    * round-trip genuinely exercises quote-and-unquote, not just happy-path
    * splitting; emitted values must equal the pre-serde originals, which
    * is exactly what the oracle computes directly. Map-only, codegen'd,
    * no shuffle beyond the presentation sort. */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val ddl = "k BIGINT, seg STRING, note STRING"
    Tables.customer(s, dir)
      .select(to_csv(struct(
        col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"),
        concat(col("c_name"), lit(", segment "), col("c_mktsegment"))
          .as("note"))).as("line"))
      .select(from_csv(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(ddl),
        Map.empty[String, String]).as("p"))
      .select(col("p.k").as("k"), col("p.seg").as("seg"),
        col("p.note").as("note"))
      .orderBy("k")
  }

  /** q229: Unicode NFC canonicalization via the native
    * [[graft.functions.NfcNormalize]] codegen expression — combining
    * sequences (here e + U+0301, injected deterministically since the
    * fixtures are ASCII) compose to their canonical single codepoints,
    * pinned byte-for-byte against DuckDB's ICU `nfc_normalize` through
    * the md5 of the normalized text. `doc_id % 3 = 0` rows get NO
    * decomposed suffix, so the no-op path (the overwhelming case on a
    * real corpus, served by `Normalizer.isNormalized` without copying)
    * is gated alongside the rewrite path. byte_raw − byte_norm equals
    * the number of composed pairs exactly (3 bytes → 2 per pair).
    * Map-only, stays inside WholeStageCodegen (no-UDF pin in PlanSpec). */
  private def q229(s: SparkSession, dir: String): DataFrame = {
    // "e" + U+0301 as a Scala literal: Spark's char()/chr() is
    // ASCII-modulo-256, not a codepoint constructor
    val raw = concat(substring(col("text"), 1, 40), lit(" "),
      repeat(lit("e\u0301"), pmod(col("doc_id"), lit(3)).cast("int")))
    Tables.documents(s, dir)
      .select(col("doc_id"), raw.as("raw"))
      .withColumn("norm", graft.functions.TextFunctions.nfc(s, "raw"))
      .select(col("doc_id"), (col("raw") =!= col("norm")).as("changed"),
        octet_length(col("raw")).as("byte_raw"),
        octet_length(col("norm")).as("byte_norm"),
        md5(col("norm").cast("binary")).as("norm_md5"))
      .orderBy("doc_id")
  }

  override def queries: Seq[Q] = Seq(
    // oracle: DuckDB's json extension is not loadable offline, so the
    // fixtures' single-key props are re-derived by regex — same rows
    Q("q256_array_set_algebra", q256, Some(
      """WITH b AS (SELECT
        |    min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 5
        |      AS cut1,
        |    max(epoch_us(ts)) - (max(epoch_us(ts)) - min(epoch_us(ts))) // 5
        |      AS cut2
        |  FROM events),
        |s AS (SELECT user_id,
        |    coalesce(list_sort(list_distinct(list(event_type)
        |      FILTER (WHERE epoch_us(ts) < (SELECT cut1 FROM b)))), [])
        |      AS w1,
        |    coalesce(list_sort(list_distinct(list(event_type)
        |      FILTER (WHERE epoch_us(ts) >= (SELECT cut2 FROM b)))), [])
        |      AS w2
        |  FROM events GROUP BY 1)
        |SELECT user_id,
        |  coalesce(array_to_string(list_sort(list_filter(w2,
        |    x -> NOT list_contains(w1, x))), '|'), '') AS started,
        |  coalesce(array_to_string(list_sort(list_filter(w1,
        |    x -> NOT list_contains(w2, x))), '|'), '') AS stopped,
        |  coalesce(array_to_string(list_sort(list_filter(w1,
        |    x -> list_contains(w2, x))), '|'), '') AS kept,
        |  CASE WHEN len(list_distinct(list_concat(w1, w2))) = 0 THEN 0.0
        |    ELSE round(len(list_filter(w1, x -> list_contains(w2, x))) * 1.0 /
        |      len(list_distinct(list_concat(w1, w2))), 6) END AS jaccard
        |FROM s ORDER BY user_id""".stripMargin)),
    Q("q251_variant_explode", q251, Some(
      """WITH kv AS (SELECT
        |    regexp_extract(props, '"([^"]+)" *:', 1) AS key,
        |    CAST(regexp_extract(props, ': *(-?[0-9]+)', 1) AS BIGINT) AS v
        |  FROM events)
        |SELECT key, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM kv GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q229_nfc_normalize", q229, Some(
      """WITH r AS (SELECT doc_id,
        |    substr(text, 1, 40) || ' ' ||
        |      repeat(chr(101) || chr(769), CAST(doc_id % 3 AS INT)) AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM r)
        |SELECT doc_id, raw <> norm AS changed,
        |  CAST(strlen(raw) AS INT) AS byte_raw,
        |  CAST(strlen(norm) AS INT) AS byte_norm,
        |  md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin)),
    Q("q181_csv_column_serde", q181, Some(
      """SELECT c_custkey AS k, c_mktsegment AS seg,
        |  c_name || ', segment ' || c_mktsegment AS note
        |FROM customer ORDER BY k""".stripMargin)),
    Q("q127_explode_outer", q127, Some(
      """WITH a AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 12) AS longs
        |  FROM documents)
        |SELECT doc_id,
        |  unnest(CASE WHEN len(longs) = 0 THEN [NULL] ELSE longs END) AS long_tok
        |FROM a ORDER BY doc_id, long_tok NULLS FIRST""".stripMargin)),
    Q("q29_string_funcs", q29, Some(
      """SELECT c_custkey, upper(c_mktsegment) AS seg_upper,
        |  lower(c_name) AS name_lower, length(c_name) AS name_len,
        |  substring(c_name, 10, 4) AS name_mid,
        |  concat_ws('-', c_mktsegment, c_nationkey) AS seg_nation,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
        |  regexp_replace(c_name, '0+', '0', 'g') AS name_squeezed,
        |  reverse(c_name) AS name_rev,
        |  c_name LIKE '%42%' AS has_42
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Q("q30_date_funcs", q30, Some(
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  day(o_orderdate) AS d, quarter(o_orderdate) AS q,
        |  isodow(o_orderdate) - 1 AS wd,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_1999
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Q("q31_math_funcs", q31, Some(
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_extendedprice - 50000.0) AS abs_dev,
        |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS ceil7,
        |  CAST(floor(l_quantity / 7.0) AS BIGINT) AS floor7,
        |  round(ln(1.0 + l_quantity), 6) AS ln1p_qty,
        |  round(sqrt(l_extendedprice), 6) AS sqrt_price,
        |  round(pow(l_discount, 2), 6) AS disc_sq,
        |  (l_orderkey * 7 + l_linenumber) % 97 AS h97
        |FROM lineitem ORDER BY ALL""".stripMargin)),
    Q("q32_array_funcs", q32, Some(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  string_split(text, ' ')[1] AS first_tok,
        |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS top3_sorted
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("q33_json_extract", q33, Some(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("q59_json_roundtrip", q59, Some(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_mod7,
        |  CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
        |            AND event_type IS NOT NULL
        |       THEN '{"t":"' || event_type || '","k":' ||
        |            json_extract_string(props, '$.k') || '}'
        |       ELSE NULL END AS roundtrip_json
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("q104_variant_extract", q104, Some(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS k_mod5,
        |  CAST(NULL AS VARCHAR) AS absent
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("q34_case_buckets", q34, Some(
      """SELECT event_type,
        |  CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid'
        |       ELSE 'high' END AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q137_higher_order", q137, Some(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  len(list_filter(string_split(text, ' '),
        |      w -> length(w) > 3)) AS n_long,
        |  CAST(list_aggregate(list_transform(string_split(text, ' '),
        |      w -> length(w)), 'sum') AS INT) AS total_chars,
        |  CAST(list_max(list_transform(string_split(text, ' '),
        |      w -> length(w))) AS INT) AS longest,
        |  len(list_filter(string_split(text, ' '),
        |      w -> regexp_matches(w, '^[0-9]+$'))) > 0 AS has_number
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("q138_map_funcs", q138, Some(
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |           FROM events GROUP BY 1, 2)
        |SELECT user_id, key, value FROM (
        |  SELECT user_id, event_type AS key,
        |         cnt * 10 + length(event_type) AS value
        |  FROM c WHERE cnt >= 3
        |  UNION ALL
        |  SELECT user_id, '_kept' AS key,
        |         count(*) FILTER (WHERE cnt >= 3) AS value
        |  FROM c GROUP BY user_id
        |) ORDER BY user_id, key""".stripMargin)),
    Q("q167_vector_zip", q167, Some(
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(list_aggregate(
        |    [v[i] * v[len(v) - i + 1] FOR i IN generate_series(1, len(v))],
        |    'sum'), 6) AS rev_dot,
        |  round(list_aggregate(v[1:4], 'sum'), 6) AS head4_sum,
        |  round(list_max(v), 6) AS max_elem,
        |  CAST(len(list_filter(v, x -> x > 0.0)) AS INT) AS n_positive
        |FROM e ORDER BY vec_id""".stripMargin)),
    Q("q155_regexp_all", q155, Some(
      """WITH m AS (SELECT c_custkey,
        |  regexp_extract_all(c_name || ' lot#' || c_nationkey, '[0-9]+')
        |    AS nums
        |  FROM customer)
        |SELECT c_custkey, len(nums) AS n_matches,
        |  nums[1] AS first_num, nums[len(nums)] AS last_num,
        |  array_to_string(nums, '|') AS all_nums
        |FROM m ORDER BY c_custkey""".stripMargin)),
    Q("q157_try_arithmetic", q157, Some(
      """SELECT o_orderkey,
        |  CASE WHEN o_custkey % 7 = 0 THEN NULL
        |       ELSE round(o_totalprice / (o_custkey % 7), 6) END AS safe_div,
        |  CAST(CASE WHEN CAST(o_orderkey AS HUGEINT) * 4611686018427387903
        |              <= 9223372036854775807
        |            THEN CAST(o_orderkey AS HUGEINT) * 4611686018427387903
        |       END AS BIGINT) AS safe_mul,
        |  TRY_CAST(o_orderpriority AS INT) AS bad_cast
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Q("q144_xml_extract", q144, Some(
      """SELECT o_orderkey,
        |  o_orderkey AS id_parsed,
        |  o_orderpriority AS p_parsed,
        |  o_custkey AS c_parsed
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin)),
  )
}
