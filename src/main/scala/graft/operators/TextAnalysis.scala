package graft.operators

import graft.{CallScope, Q, QueryPack}
import graft.Materialize.MaterializeOps
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation (north-star extension):
  * quality scoring, language ID (marker-token heuristic), token counting,
  * and content fingerprinting. All map-only — no shuffle except the final
  * presentation sort — so they stream at scan speed at any scale.
  */
object TextAnalysis extends QueryPack {

  private val enStop = Seq("the", "a", "and", "of", "to", "in", "is")

  /** q50: quality scoring — length, stopword ratio, punctuation ratio,
    * mean token length, linear composite. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val stopCount = size(filter(toks, t => t.isInCollection(enStop)))
    val stopRatio = round(stopCount.cast("double") / nTok, 4)
    val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    val punctRatio = round(punct.cast("double") / length(col("text")), 4)
    val meanTokLen = round(
      aggregate(transform(toks, t => length(t)), lit(0),
        (acc, x) => acc + x).cast("double") / nTok, 4)
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars_text"),
        nTok.as("n_tokens"), stopRatio.as("stop_ratio"),
        punctRatio.as("punct_ratio"), meanTokLen.as("mean_tok_len"),
        round((stopRatio + least(nTok, lit(100)).cast("double") / 100
          - punctRatio + 1) / 3, 4).as("quality"))
      .orderBy("doc_id")
  }

  /** q250: quality-CLASSIFIER inference at scan speed — the apply side
    * of the fastText/logistic quality models every curation pipeline
    * runs over its full corpus (q50 is the hand-tuned heuristic; this
    * is "trained weights arrive as constants, score 100 TB in one
    * map-only pass"). Features are the q50 set ROUNDED TO 4 first, so
    * both engines feed bit-identical doubles into the identical
    * left-associated linear form; the sigmoid's exp() is the one
    * libm-sensitive op (same accepted class as q153's ln), rounded
    * once at the edge. Calibration bucket comes from the ROUNDED
    * score, so the bucketing is integer-exact. No shuffle anywhere
    * before the presentation sort. */
  private def q250(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val sr = round(size(filter(toks, t => t.isInCollection(enStop)))
      .cast("double") / nTok, 4)
    val pr = round(length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
      .cast("double") / length(col("text")), 4)
    val mtl = round(aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / nTok, 4)
    val lnorm = least(nTok, lit(100)).cast("double") / 100
    val z = lit(-1.2) + lit(3.0) * sr - lit(4.0) * pr +
      lit(0.15) * mtl + lit(2.0) * lnorm
    val score = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
    Tables.documents(s, dir)
      .select(col("doc_id"), score.as("score"),
        (score >= 0.5).as("keep"),
        floor(score * 10).cast("int").as("calib_bucket"))
      .orderBy("doc_id")
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  /** q51: language ID via marker-token counting — argmax with fixed
    * priority order (en > es > de > fr), 'und' when nothing matches. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scores = markers.map { case (lang, ms) =>
      lang -> size(filter(toks, t => t.isInCollection(ms)))
    }
    val Seq(en, es, de, fr) = scores.map(_._2)
    val pred = when(en >= greatest(es, de, fr) && en > 0, "en")
      .when(es >= greatest(de, fr) && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("declared_lang"),
        en.as("s_en"), es.as("s_es"), de.as("s_de"), fr.as("s_fr"),
        pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  /** q52: token counting — whitespace, regex word-ish tokens, and a
    * chars/4 BPE-style estimate. */
  private def q52(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("re_tokens"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_bpe_tokens"),
        length(col("text")).as("n_chars_text"))
      .orderBy("doc_id")

  /** q182: HTML boilerplate extraction — strip tags and drop chrome
    * (nav / footer / link lists), keeping only the main content text.
    * The heuristics are the public jusText/Arc90-readability line
    * classification rules: a line survives iff (a) its tag-stripped
    * text is long enough (≥ 30 chars — kills titles, nav crumbs,
    * prev/next links), (b) markup doesn't dominate the raw line
    * (2·tag_chars < raw_len — kills the link-farm footer even though
    * its concatenated text is long), and (c) anchor text doesn't
    * dominate the visible text (2·anchor_chars < text_len — kills
    * "read more" link rows whose markup is light but whose text is all
    * one link). Inline anchors inside a content line keep their TEXT
    * (the reference-docs link in the synthesized page must surface in
    * the output). The HTML is synthesized deterministically from the
    * documents table (same expression in the oracle), each rule is
    * integer arithmetic — no float thresholds to disagree on — and the
    * whole operator is `regexp_replace`/`split`/`filter`/`transform`/
    * `array_join` over one scan: map-only, no UDF, no shuffle except
    * the presentation sort, so it streams at scan speed at 100 TB. */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body { margin: 0; } .nav a { color: blue; }</style>"),
      lit("<script>function track() { var u = location.href; log(u); }</script>"),
      lit("</head><body>\n"),
      lit("<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/docs\">Docs</a>" +
        " <a href=\"/about\">About</a></div>\n"),
      lit("<h1>"), col("source"), lit(" #"), col("doc_id").cast("string"),
      lit("</h1>\n"),
      lit("<p>"), col("text"),
      lit(" See <a href=\"/ref\">reference docs</a> for details.</p>\n"),
      lit("<div class=\"links\">Read more: <a href=\"/d/3\">continue reading" +
        " this related article here</a></div>\n"),
      lit("<div class=\"footer\"><a href=\"/tos\">Terms</a>" +
        " <a href=\"/privacy\">Privacy</a> <a href=\"/contact\">Contact</a>" +
        " Copyright 2024 Example Site</div>\n"),
      lit("</body></html>"))
    // script/style elements vanish wholesale (their text is code, not
    // content) before the page is split into candidate lines
    val noScript = regexp_replace(html,
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    def stripped(l: Column): Column =
      trim(regexp_replace(regexp_replace(l, "<[^>]*>", " "), " +", " "))
    def textLen(l: Column): Column =
      length(regexp_replace(l, "<[^>]*>", ""))
    def anchorTextLen(l: Column): Column =
      textLen(l) - textLen(regexp_replace(l, "<a [^>]*>[^<]*</a>", ""))
    val kept = filter(split(noScript, "\n"), l =>
      length(stripped(l)) >= 30 &&
        (length(l) - textLen(l)) * 2 < length(l) &&
        anchorTextLen(l) * 2 < textLen(l))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(kept).cast("long").as("n_kept"),
        array_join(transform(kept, stripped(_)), " ").as("main_text"))
      .orderBy("doc_id")
  }

  /** q187: cross-document line-level dedup — the corpus-curation step
    * that removes lines REPEATED ACROSS many documents (navigation
    * stubs, subscribe banners, copyright footers) while keeping each
    * document's unique content, popularized by the CCNet / RefinedWeb
    * pipelines. Every document becomes a list of lines (a per-source
    * subscribe header, 8-word content chunks, a per-source copyright
    * footer — the two boilerplate lines recur across every document of
    * the same source); each line's corpus frequency is COUNT(DISTINCT
    * doc) after whitespace-trim normalization; lines seen in ≥ 5
    * documents are boilerplate and are dropped; survivors are
    * reassembled in original line order. Scale shape: one hash shuffle
    * partitions lines by content to count them (the CCNet design — the
    * frequency table shards by line hash, never collects), the
    * boilerplate SET (lines with count ≥ K) is orders of magnitude
    * smaller than the corpus so the anti join broadcasts under AQE, and
    * reassembly is one shuffle back on doc_id. No UDFs — chunking is
    * `sequence`/`slice`/`transform`, reassembly is
    * `array_sort(collect_list(struct))`. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val W = 8
    val words = split(col("text"), " ")
    val chunks = transform(
      sequence(lit(0L), floor((size(words) - 1) / W)),
      i => array_join(slice(words, (i * W + 1).cast("int"), lit(W)), " "))
    val lines = concat(
      array(concat(lit("subscribe to the "), col("source"),
        lit(" mailing list for updates"))),
      chunks,
      array(concat(lit("copyright 2024 "), col("source"),
        lit(" all rights reserved"))))
    val base = Tables.documents(s, dir).select(col("doc_id"), lines.as("lines"))
    val exploded = base
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .withColumn("line", trim(col("line")))
    val boiler = exploded.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 5)
      .select("line")
    val kept = exploded.join(boiler, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("clean_text"))
    // n_lines rides from the base frame, NOT the post-dedup aggregate: a
    // doc that loses ALL its lines to the boilerplate set must still
    // report its true line count (the aggregate would have no row for it
    // and a coalesce-to-0 would lie) — ADVICE r9.
    base.select(col("doc_id"), size(col("lines")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** q53: content fingerprint — polynomial rolling hash over normalized
    * character codes, mod 10^15 (fits exact integer arithmetic in both
    * engines). */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    val chars = regexp_extract_all(norm, lit("."), lit(0))
    val codes = transform(chars, c => ascii(c).cast("long"))
    val fp = graft.functions.Exact.rollingHash(codes)
    Tables.documents(s, dir)
      .select(col("doc_id"), fp.as("fingerprint"))
      .orderBy("doc_id")
  }

  /** q69: TF-IDF term weighting — tf·ln(N/df) per (doc, term); the
    * classic corpus-statistics op (inverted index + two aggregations). */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // corpus size as a broadcast 1-row aggregate, not a driver-side
    // .count(): keeps the whole query one job/plan instead of forcing an
    // eager scan before the plan is even built
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** q72: the canonical MapReduce word count, run through the generic
    * core API (flatMap generator → shuffle → holistic reduce) over the
    * real corpus — the reference's programming model end to end. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val texts = Tables.documents(s, dir).select("text").as[String]
    graft.core.MapReduce.run[String, String, Long, (String, Long)](
      texts,
      // split(_, -1): trailing-empty-token parity with string_split
      t => t.split(" ", -1).iterator.map(w => (w, 1L)),
      (w, counts) => (w, counts.sum))
      .toDF("term", "n")
      .orderBy("term")
  }

  /** q95: quality-filter funnel — the survivor count after each stage of
    * a chained curation cascade (length → repetition → langid agreement
    * → composite quality). All stages are map-only predicates folded into
    * ONE scan and a 1-row conditional aggregate (`sum(cond)`), then
    * unpivoted — the cheapest possible way to audit a filter chain at
    * corpus scale (no per-stage jobs, no shuffle beyond the final
    * 5-row stack). Thresholds share q50/q51's exact expressions, so the
    * funnel is consistent with the gated per-doc scores. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val stopCount = size(filter(toks, t => t.isInCollection(enStop)))
    val stopRatio = round(stopCount.cast("double") / nTok, 4)
    val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    val punctRatio = round(punct.cast("double") / length(col("text")), 4)
    val quality = round((stopRatio + least(nTok, lit(100)).cast("double") / 100
      - punctRatio + 1) / 3, 4)
    val distinctRatio = round(size(array_distinct(toks)).cast("double") / nTok, 4)
    val Seq(en, es, de, fr) = markers.map { case (_, ms) =>
      size(filter(toks, t => t.isInCollection(ms)))
    }
    val pred = when(en >= greatest(es, de, fr) && en > 0, "en")
      .when(es >= greatest(de, fr) && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
    val c1 = col("n_chars").between(60, 400)
    val c2 = c1 && distinctRatio >= 0.35
    val c3 = c2 && (pred === col("lang") || col("lang") === "zh")
    val c4 = c3 && quality >= 0.5
    Tables.documents(s, dir)
      .agg(count(lit(1)).as("c0"), sum(c1.cast("long")).as("c1"),
        sum(c2.cast("long")).as("c2"), sum(c3.cast("long")).as("c3"),
        sum(c4.cast("long")).as("c4"))
      .select(expr(
        """stack(5, 0, 'all', c0, 1, 'length', c1, 2, 'repetition', c2,
          |3, 'langid', c3, 4, 'quality', c4) AS (stage_idx, stage, n_docs)"""
          .stripMargin))
      .orderBy("stage_idx")
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** q85: word count through the ASSOCIATIVE MapReduce fast path — same
    * semantics and oracle as q72, but via [[graft.core.MapReduce
    * .runAssociative]], whose map tasks merge each word's counts before
    * the shuffle (the combiner the reference engine lacks entirely: its
    * reducers receive every raw (word, 1) pair). At scale the shuffle
    * carries O(distinct words) per map task and per flush of the
    * combiner's 4 MiB budget instead of O(total words) — the difference
    * between a wordcount that ships 100 TB and one that ships megabytes. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val texts = Tables.documents(s, dir).select("text").as[String]
    graft.core.MapReduce.runAssociative[String, String, Long](
      texts,
      // split(_, -1) keeps trailing empty tokens — parity with the
      // oracle's string_split (which emits a '' term after a trailing
      // space)
      t => t.split(" ", -1).iterator.map(w => (w, 1L)),
      _ + _)
      .toDF("term", "n")
      .orderBy("term")
  }

  /** q82: benchmark decontamination — drop every training doc sharing an
    * 8-token run with the eval set (docs with doc_id < 10 stand in for a
    * held-out benchmark). The standard n-gram-overlap decontamination:
    * long n-grams only collide on genuine duplication, never by chance.
    * Shape at scale: the eval-set n-gram index is tiny (benchmarks are
    * thousands of docs) → broadcast it and LEFT ANTI join the corpus
    * inverted index — map-side filtering, no corpus shuffle. Fan-out is
    * typed flatMap (see Dedup: UDFs/HOFs under a Generate re-evaluate
    * in inferred filters). */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    def gramsOf(docs: DataFrame) = {
      docs.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val w = text.split(" ", -1)
          (0 to w.length - k).iterator
            .map(i => (id, w.slice(i, i + k).mkString(" "))).distinct }
        .toDF("doc_id", "g")
    }
    // eval-side filter BEFORE the typed flatMap: the object boundary
    // blocks predicate pushdown, so filtering the exploded grams would
    // fan out the whole corpus just to build the tiny broadcast side
    val evalGrams = gramsOf(Tables.documents(s, dir).filter(col("doc_id") < 10))
      .select("g").distinct()
    val contaminated = gramsOf(Tables.documents(s, dir).filter(col("doc_id") >= 10))
      .join(broadcast(evalGrams), "g")
      .select("doc_id").distinct()
    Tables.documents(s, dir)
      .filter(col("doc_id") >= 10)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q83: repetition statistics (Gopher-style quality signals) — per doc,
    * the duplicate-3-gram fraction and the hottest 3-gram's count.
    * Non-distinct gram fan-out via typed flatMap, then two aggregations;
    * scales as one hash shuffle on (doc, gram). */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        (0 to w.length - 3).iterator
          .map(i => (id, s"${w(i)} ${w(i + 1)} ${w(i + 2)}")) }
      .toDF("doc_id", "g")
    grams.groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("max_gram_count"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round(lit(1) - col("n_distinct").cast("double") / col("n_grams"), 4)
          .as("dup_frac"),
        col("max_gram_count"))
      .orderBy("doc_id")
  }

  /** q116: cross-source contamination matrix — for every source pair,
    * how many distinct 8-token grams they share, plus the gram-set
    * Jaccard. The corpus-audit companion to q82's per-doc
    * decontamination: before mixing sources into a training run you want
    * the pairwise-overlap picture, not just doc-level hits.
    *
    * Scale shape: distinct (source, gram) is one map-side-combined
    * shuffle on gram; a gram's posting list is bounded by the number of
    * sources (single digits), so the self-join fan-out per gram is
    * O(sources²) — constant — and the result is sources² rows. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    val grams = Tables.documents(s, dir)
      .select(col("source"), col("text"))
      // single-row-group scan → the 8-gram flatMap otherwise runs in
      // ONE task (measured 0.46 s of a 1.2 s gate at sf0.1); spread the
      // docs first — trivial shuffle, CPU-heavy map after (r17)
      .repartition(s.sparkContext.defaultParallelism)
      .as[(String, String)]
      .flatMap { case (src, text) =>
        val w = text.split(" ", -1)
        (0 to w.length - k).iterator
          .map(i => (src, w.slice(i, i + k).mkString(" "))).distinct }
      .toDF("source", "g")
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    grams.toDF("source_a", "g")
      .join(grams.toDF("source_b", "gb"), col("g") === col("gb"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(sizes).toDF("source_a", "na"), "source_a")
      .join(broadcast(sizes).toDF("source_b", "nb"), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        round(col("shared_grams").cast("double") /
          (col("na") + col("nb") - col("shared_grams")), 4).as("overlap_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q117: character-entropy quality signal — per doc, the Shannon
    * entropy (bits/char) of its character distribution plus the distinct
    * character count. Low entropy flags degenerate text (repeated
    * boilerplate, padding, single-char floods) that length or stopword
    * heuristics miss; it approximates compressibility without running a
    * compressor. One map-side-combined shuffle on (doc, char).
    *
    * Uses H = (ln n − Σ cnt·ln cnt / n) / ln 2 on BOTH engines — single
    * natural-log form, so the only cross-engine fp drift is sum order
    * (~1e-13), absorbed by the 6-decimal rounding. */
  private def q117(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_chars_total"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("cnt") * log(col("cnt"))).as("s"))
      .select(col("doc_id"), col("n_chars_total"), col("n_distinct_chars"),
        round((log(col("n_chars_total")) - col("s") / col("n_chars_total")) /
          lit(math.log(2.0)), 6).as("entropy_bits"))
      .orderBy("doc_id")

  /** q129: BPE merge training (3 rounds) — the byte-pair-encoding loop
    * every tokenizer build runs (Sennrich et al.): count
    * frequency-weighted adjacent symbol pairs over the vocabulary, merge
    * the most frequent pair LEFT-TO-RIGHT NON-OVERLAPPING in every word,
    * repeat. The gate emits the 3 learned merge rules with their
    * weighted counts — the actual tokenizer artifact.
    *
    * The subtle part is the merge rewrite: overlapping matches ("aaa"
    * with rule a+a) must consume greedily from the left. That is pure
    * gap-and-islands: within each maximal run of consecutive match
    * positions, exactly the odd-ranked matches are applied, the symbol
    * AFTER an applied match is consumed, and positions renumber for the
    * next round — all window algebra over per-word partitions (bounded:
    * a word's length), reproduced verbatim by the oracle.
    *
    * Scale: state is the (word, pos, sym) symbol table — vocabulary- not
    * corpus-sized, shrinking every round; per round one bounded-key agg,
    * a global top-1 (TakeOrdered), and per-word windows. The q66/q115
    * checkpoint discipline keeps each round's plan flat. */
  private def q129(s: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables.documents(s, dir)
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq")), rounds = 3)

  /** The BPE training loop over any (word, freq) vocabulary — returns
    * the learned (round, sym_a, sym_b, weighted_count) rules. Greedy
    * non-overlap semantics property-pinned against a direct sequential
    * reference implementation in CurationOpsSpec. */
  private[operators] def bpeMerges(vocab: DataFrame, rounds: Int): DataFrame =
    bpeLoop(vocab, rounds)._1

  /** Training loop core, also exposing the final symbol table — after
    * `rounds` merges the table IS the BPE encoding of every unique
    * word, which is how encode (q150) reuses train (q129) without a
    * second pass: tokenization of a 100 TB corpus is a join against
    * the vocabulary-sized (word → n_tokens) map, never a re-walk of
    * the documents. */
  private[operators] def bpeLoop(vocab: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    var syms = vocab
      .select(col("word"), col("freq"),
        posexplode(split(col("word"), "")).as(Seq("pos0", "sym")))
      .select(col("word"), col("freq"), (col("pos0") + 1).as("pos"), col("sym"))
      .materialized
    val wPos = Window.partitionBy("word").orderBy("pos")
    var rules: DataFrame = null
    for (round <- 1 to rounds) {
      val withNext = syms.withColumn("nsym", lead("sym", 1).over(wPos))
      val top = withNext.filter(col("nsym").isNotNull)
        .groupBy(col("sym").as("ma"), col("nsym").as("mb"))
        .agg(sum("freq").as("weighted_count"))
        .orderBy(col("weighted_count").desc, col("ma"), col("mb"))
        .limit(1)
        .materialized
      val rule = top.select(lit(round).as("round"), col("ma").as("sym_a"),
        col("mb").as("sym_b"), col("weighted_count"))
      rules = if (rules == null) rule else rules.unionByName(rule)
      val merged = withNext
        .crossJoin(broadcast(top.select("ma", "mb")))
        .withColumn("m",
          when(col("sym") === col("ma") && col("nsym") === col("mb"), 1)
            .otherwise(0))
        // islands of consecutive match positions; odd-ranked matches in
        // each island are the greedy left-to-right applications
        .withColumn("grp", col("pos") - sum("m").over(
          wPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rnm", row_number().over(
          Window.partitionBy("word", "grp", "m").orderBy("pos")))
        .withColumn("keep", col("m") === 1 && col("rnm") % 2 === 1)
        .withColumn("consumed",
          coalesce(lag("keep", 1).over(wPos), lit(false)))
        .filter(!col("consumed"))
        .select(col("word"), col("freq"),
          row_number().over(wPos).as("pos"),
          when(col("keep"), concat(col("sym"), col("nsym")))
            .otherwise(col("sym")).as("sym"))
      syms = merged.materialized
    }
    (rules.orderBy("round"), syms)
  }

  /** q150: BPE ENCODE with the q129-trained merges — the apply half of
    * the tokenizer story. The final symbol table from 3 training rounds
    * maps each unique word to its token count; per-document stats are
    * then one join of the corpus' (doc_id, word) pairs against that
    * vocabulary-sized map plus one aggregation. Compression is measured
    * against the summed word lengths (integer-exact; the ratio is the
    * only double and it divides two exact longs). */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.groupBy("word").agg(count(lit(1)).as("freq"))
    val (_, syms) = bpeLoop(vocab, 3)
    val wordTok = syms.groupBy("word").agg(count(lit(1)).as("n_tok"))
    words.join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars_tok"),
        sum("n_tok").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens") * lit(1.0) / col("n_chars_tok"), 6)
          .as("tokens_per_char"))
      .orderBy("doc_id")
  }

  /** q153: unigram-LM perplexity proxy — mean negative log-likelihood
    * of each document under the corpus' own unigram distribution, the
    * classic cheap quality/outlier score before a real LM pass. The
    * token-frequency table is vocabulary-sized; the corpus total rides
    * the q69 1-row broadcast pattern (never a driver collect); scoring
    * is a map-side join + one aggregation. Determinism: each token's
    * −ln p is rounded to 12 decimals (identical addends cross-engine,
    * the q115 fixed-point discipline) and the final mean to 6, which
    * absorbs summation-order wobble. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
    val freq = words.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").cast("double").as("t"))
    val scored = words.join(freq, "word")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(-log(col("cnt") / col("t")), 12).as("nll"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("nll") / count(lit(1)), 6).as("mean_nll"))
      .orderBy("doc_id")
  }

  /** q197: bigram language-model scoring — train a bigram LM on the
    * corpus and score every document by mean negative log-likelihood
    * under add-1 smoothing: P(w₂|w₁) = (C(w₁w₂)+1)/(C(w₁·)+V). The
    * bigram table is the LM (the classic KenLM-shape count pass:
    * one shuffle keyed on the bigram, one on the unigram prefix), V is
    * a 1-row broadcast, and scoring joins each doc's bigrams back
    * against the counts — train and apply in one plan, no driver-side
    * model. Complements q153's unigram perplexity with actual
    * conditional structure (word-order scrambling now changes a doc's
    * score). Same fp discipline as q153: each term rounded to 12
    * before the mean rounds to 6, so summation order can't move the
    * output. Bigram fan-out is a codegen generator (`transform` over
    * `sequence`), map-only before the count shuffles. */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // (r18 note: a defaultParallelism spread of the corpus before the
    // bigram fan-out was A/B'd and REVERTED — each 0.3-0.4 s single-task
    // pass became a 32-task stage behind an extra exchange, and the
    // added stage/AQE constants cost MORE than the parallelism saved at
    // this fixture size; at 100 TB the scan splits naturally anyway.)
    val w = split(col("text"), " ", -1)
    val pairs = docs
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // C(w₁·) ≡ Σ_{w₂} C(w₁w₂) exactly (every bigram position contributes
    // once to both sides), so the prefix counts aggregate the SMALL
    // bigram table instead of re-running the corpus explode + shuffling
    // every pair a second time (r18, guide §2.3 aggregate before you
    // shuffle — one full pass and one corpus-sized exchange removed).
    val uni = bi.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = docs
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .agg(countDistinct(col("word")).as("vocab"))
    pairs.join(bi, Seq("w1", "w2")).join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(-log((col("c12") + lit(1.0)) / (col("c1") + col("vocab"))), 12)
          .as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("nll") / count(lit(1)), 6).as("mean_nll"))
      .orderBy("doc_id")
  }

  /** One oracle BPE round: syms$r → (top$r rule, syms${r+1}). */
  private def bpeRoundSql(r: Int): String = {
    val n = r + 1
    s"""wn$r AS (SELECT word, freq, pos, sym,
       |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym FROM syms$r),
       |top$r AS (SELECT a, b, cnt FROM (
       |    SELECT sym AS a, nsym AS b, sum(freq) AS cnt FROM wn$r
       |    WHERE nsym IS NOT NULL GROUP BY 1, 2)
       |  ORDER BY cnt DESC, a, b LIMIT 1),
       |mk$r AS (SELECT w.*, CASE WHEN w.sym = t.a AND w.nsym = t.b
       |                          THEN 1 ELSE 0 END AS m
       |         FROM wn$r w, top$r t),
       |isl$r AS (SELECT *, pos - sum(m) OVER (PARTITION BY word ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |          FROM mk$r),
       |rn$r AS (SELECT *, row_number() OVER (PARTITION BY word, grp, m
       |           ORDER BY pos) AS rnm FROM isl$r),
       |kp$r AS (SELECT *, (m = 1 AND rnm % 2 = 1) AS keep FROM rn$r),
       |cons$r AS (SELECT *, coalesce(lag(keep) OVER (PARTITION BY word
       |             ORDER BY pos), false) AS consumed FROM kp$r),
       |syms$n AS (SELECT word, freq,
       |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
       |    CASE WHEN keep THEN sym || nsym ELSE sym END AS sym
       |  FROM cons$r WHERE NOT consumed)""".stripMargin
  }

  /** q210: BM25 top-k retrieval — the lexical ranking function every
    * corpus-search / hard-negative-mining pipeline runs before a neural
    * reranker (Robertson–Spärck Jones; k1 = 1.2, b = 0.75). Scale shape:
    * the per-token work is restricted to the QUERY terms before any
    * aggregation (work ∝ postings of the query terms, not corpus token
    * count), each document's length rides THROUGH the explode so tf
    * never joins back to a corpus-wide length table, and the idf /
    * corpus-stats frames are 3-row and 1-row broadcasts. Determinism:
    * N, df, dl, Σdl are exact integers; idf and the length norm are
    * evaluated in double on those identical operands by both engines;
    * per-term scores round to 12 before the per-doc sum rounds to 6
    * (the q170/q153 fixed-point discipline), and the top-20 order is by
    * ROUNDED score with doc_id tiebreak, so the cut is engine-neutral. */
  private def q210(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir, Seq("hash", "join", "scan"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** BM25 scoring core shared by q210 (lexical top-k) and q219 (the
    * lexical leg of hybrid RRF fusion): (doc_id, n_terms, bm25) for every
    * document matching ≥1 query term. See the q210 scaladoc for the scale
    * shape and the fixed-point determinism contract. */
  private[operators] def bm25Scores(s: SparkSession, dir: String,
      qTerms: Seq[String]): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("dl"),
        split(col("text"), " ", -1).as("toks"))
    // corpus stats as a 1-row broadcast (never a driver-side .count())
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*)) // prune BEFORE the shuffle
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) *
            col("dl").cast("double") /
            (col("sum_dl").cast("double") / col("n_docs")))), 12)
          .as("term_score"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum("term_score"), 6).as("bm25"))
  }

  /** q214: vocabulary coverage curve — what fraction of all corpus
    * tokens the top-k vocabulary covers, for k ∈ {4, 8, 16}: the
    * statistic that sizes a tokenizer vocabulary / estimates OOV rate
    * before a BPE train (q129's upstream decision). Scale shape: the
    * corpus-sized work is ONE token-count shuffle; everything after
    * (ranking, the k-join, totals) runs on the VOCAB-sized frame, which
    * is always orders of magnitude smaller than the corpus (the window
    * sorts distinct tokens, never token occurrences — at a 10M-term
    * vocabulary you'd range-partition the rank, same shape). The k list
    * enters as a generator, the totals as a 1-row broadcast; counts are
    * exact integers so coverage is the same double on both engines. */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val ranked = counts.withColumn("r",
      row_number().over(Window.orderBy(col("n").desc, col("tok"))))
    val tot = counts.agg(sum("n").as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val ks = ranked.sparkSession.range(1)
      .select(explode(array(lit(4), lit(8), lit(16))).as("k"))
    ks.join(ranked, col("r") <= col("k"))
      .groupBy("k")
      .agg(sum("n").as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("vocab_size"), col("total_tokens"),
        col("covered_tokens"),
        round(col("covered_tokens").cast("double") /
          col("total_tokens"), 6).as("coverage"))
      .orderBy("k")
  }

  /** q291: the NATIVE shingle GENERATOR ([[graft.functions
    * .ShingleGenerator]] — the table-valued expression class, completing
    * the custom-function ladder next to scalar/codegen/Aggregator) doing
    * a corpus shingle inventory via SQL LATERAL: each document streams
    * its `(pos, shingle)` rows straight out of the tokenizer with NO
    * intermediate shingle array (the composed explode(transform(...))
    * shape materializes O(tokens) strings per doc first — the dedup
    * pipeline's biggest transient allocation at corpus scale). Split
    * semantics are byte-identical to the dedup pack/oracles (single
    * space, empties kept). Output: the 20 highest-df shingles with
    * occurrence counts and earliest position — the boilerplate-
    * detection prefilter (q182's family) as one generator + aggregate. */
  private def q291(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    graft.functions.TextFunctions.ensureShingles(s)
    // spread the corpus before the generator (r18, same fix as the dedup
    // pack's shingle frame): the documents parquet is a single row group,
    // so the LATERAL fan-out + partial aggregate ran in ONE task
    // (measured 0.47 s of the gate's 0.84 s at sf0.1); one (id, text)
    // shuffle parallelizes it, and at 100 TB the scan splits naturally
    // so the repartition is a local-fixture no-op by shape.
    cs.view("graft_docs291", Tables.documents(s, dir).select("doc_id", "text")
      .repartition(s.sparkContext.defaultParallelism))
    s.sql(
      """SELECT t.shingle, count(*) AS n, count(DISTINCT doc_id) AS df,
        |  CAST(min(t.pos) AS BIGINT) AS first_pos
        |FROM graft_docs291
        |LATERAL VIEW graft_shingles(text, 3) t AS pos, shingle
        |GROUP BY 1 ORDER BY df DESC, n DESC, shingle LIMIT 20""".stripMargin)
  }

  override def queries: Seq[Q] = Seq(
    Q("q291_shingle_generator", q291, Some(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    unnest([i - 1 FOR i IN generate_series(1, len(w) - 2)]) AS pos,
        |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |            FOR i IN generate_series(1, len(w) - 2)]) AS shingle
        |  FROM toks)
        |SELECT shingle, count(*) AS n, count(DISTINCT doc_id) AS df,
        |  min(pos) AS first_pos
        |FROM sh GROUP BY 1
        |ORDER BY df DESC, n DESC, shingle LIMIT 20""".stripMargin)),
    Q("q250_quality_inference", q250, Some(
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
         |  FROM documents),
         |f AS (SELECT doc_id,
         |    round(len(list_filter(w, t -> list_contains(
         |      ${sqlList(enStop)}, t))) * 1.0 / len(w), 4) AS sr,
         |    round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
         |      * 1.0 / length(text), 4) AS pr,
         |    round(list_sum(list_transform(w, t -> length(t)))
         |      * 1.0 / len(w), 4) AS mtl,
         |    least(len(w), 100) / 100.0 AS ln
         |  FROM t),
         |z AS (SELECT doc_id,
         |    -1.2 + 3.0 * sr - 4.0 * pr + 0.15 * mtl + 2.0 * ln AS z
         |  FROM f)
         |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score,
         |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep,
         |  CAST(floor(round(1.0 / (1.0 + exp(-z)), 6) * 10) AS INT)
         |    AS calib_bucket
         |FROM z ORDER BY doc_id""".stripMargin)),
    Q("q214_vocab_coverage", q214, Some(
      """WITH c AS (SELECT tok, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS r
        |  FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
        |    count(*) AS vocab_size FROM c),
        |k(k) AS (VALUES (4), (8), (16))
        |SELECT k, max(vocab_size) AS vocab_size,
        |  max(total_tokens) AS total_tokens,
        |  CAST(sum(n) AS BIGINT) AS covered_tokens,
        |  round(CAST(sum(n) AS DOUBLE) / max(total_tokens), 6) AS coverage
        |FROM k JOIN r ON r.r <= k.k CROSS JOIN t
        |GROUP BY k ORDER BY k""".stripMargin)),
    Q("q210_bm25_topk", q210, Some(
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    string_split(text, ' ') AS toks FROM documents),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |       WHERE term IN ('hash', 'join', 'scan')
        |       GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |t AS (SELECT doc_id,
        |    round(ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |      (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) /
        |        (CAST(sum_dl AS DOUBLE) / n_docs))), 12) AS term_score
        |  FROM tf JOIN df USING (term) CROSS JOIN stats)
        |SELECT doc_id, count(*) AS n_terms,
        |  round(sum(term_score), 6) AS bm25
        |FROM t GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),
    Q("q197_bigram_lm", q197, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |i AS (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 1)) AS i FROM t),
        |p AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM i),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
        |un AS (SELECT w1, count(*) AS c1 FROM p GROUP BY 1),
        |v AS (SELECT count(DISTINCT word) AS vocab FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0),
        |sc AS (SELECT doc_id,
        |    round(-ln((c12 + 1.0) / (c1 + vocab)), 12) AS nll
        |  FROM p JOIN bi USING (w1, w2) JOIN un USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(nll) / count(*), 6) AS mean_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Q("q187_line_dedup", q187, Some(
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    ['subscribe to the ' || source || ' mailing list for updates'] ||
        |    list_transform(generate_series(0, (len(w) - 1) // 8),
        |      i -> array_to_string(w[i * 8 + 1 : least(i * 8 + 8, len(w))], ' ')) ||
        |    ['copyright 2024 ' || source || ' all rights reserved'] AS lines
        |  FROM t),
        |e0 AS (SELECT doc_id,
        |    unnest(generate_series(1, len(lines))) AS pos,
        |    unnest(lines) AS line FROM l),
        |e AS (SELECT doc_id, pos, trim(line) AS line FROM e0),
        |b AS (SELECT line FROM e GROUP BY line
        |      HAVING count(DISTINCT doc_id) >= 5),
        |k AS (SELECT * FROM e WHERE line NOT IN (SELECT line FROM b)),
        |a AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |      FROM k GROUP BY doc_id),
        |nb AS (SELECT doc_id, len(lines) AS n_lines FROM l)
        |SELECT nb.doc_id, nb.n_lines,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM nb LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin)),
    Q("q129_bpe_merges", q129, Some(
      s"""WITH vocab AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY word),
         |syms1 AS (SELECT word, freq, i AS pos, substring(word, i, 1) AS sym
         |          FROM (SELECT word, freq,
         |                  unnest(generate_series(1, len(word))) AS i
         |                FROM vocab)),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)}
         |SELECT round, sym_a, sym_b,
         |  CAST(weighted_count AS BIGINT) AS weighted_count FROM (
         |  SELECT 1 AS round, a AS sym_a, b AS sym_b, cnt AS weighted_count FROM top1
         |  UNION ALL
         |  SELECT 2, a, b, cnt FROM top2
         |  UNION ALL
         |  SELECT 3, a, b, cnt FROM top3)
         |ORDER BY round""".stripMargin)),
    Q("q150_bpe_encode", q150, Some(
      s"""WITH vocab AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY word),
         |syms1 AS (SELECT word, freq, i AS pos, substring(word, i, 1) AS sym
         |          FROM (SELECT word, freq,
         |                  unnest(generate_series(1, len(word))) AS i
         |                FROM vocab)),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)},
         |wt AS (SELECT word, count(*) AS n_tok FROM syms4 GROUP BY 1),
         |dw AS (SELECT doc_id, word FROM (
         |         SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |         FROM documents)
         |       WHERE len(word) > 0)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
         |  round(sum(n_tok) * 1.0 / sum(length(word)), 6) AS tokens_per_char
         |FROM dw JOIN wt USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Q("q153_perplexity", q153, Some(
      """WITH dw AS (SELECT doc_id, word FROM (
        |         SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |         FROM documents)
        |       WHERE len(word) > 0),
        |f AS (SELECT word, count(*) AS cnt FROM dw GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM f),
        |sc AS (SELECT doc_id, round(-ln(cnt / t.t), 12) AS nll
        |       FROM dw JOIN f USING (word), t)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(nll) / count(*), 6) AS mean_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Q("q82_decontaminate", q82, Some(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |        [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |         w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
        |         FOR i IN generate_series(1, len(w) - 7)])) AS g FROM toks),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 10),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev ON g.g = ev.g
        |        WHERE g.doc_id >= 10)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id >= 10 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin)),
    Q("q116_source_overlap", q116, Some(
      """WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source, g FROM (
        |  SELECT source, unnest(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |     w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
        |     FOR i IN generate_series(1, len(w) - 7)]) AS g FROM toks)),
        |sizes AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        count(*) AS shared_grams
        |      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, shared_grams,
        |  round(shared_grams * 1.0 / (na.n + nb.n - shared_grams), 4)
        |    AS overlap_jaccard
        |FROM p
        |JOIN sizes na ON na.source = p.source_a
        |JOIN sizes nb ON nb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin)),
    Q("q117_char_entropy", q117, Some(
      """WITH chars AS (SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
        |               FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars_total,
        |  count(*) AS n_distinct_chars,
        |  round((ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt)) / ln(2), 6)
        |    AS entropy_bits
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Q("q83_repetition_stats", q83, Some(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(
        |        [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         FOR i IN generate_series(1, len(w) - 2)]) AS g FROM toks),
        |c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |  count(*) AS n_distinct,
        |  round(1 - count(*) * 1.0 / sum(cnt), 4) AS dup_frac,
        |  CAST(max(cnt) AS BIGINT) AS max_gram_count
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Q("q69_tfidf", q69, Some(
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, tf.term, tf,
        |  round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        |ORDER BY 1, 2""".stripMargin)),
    Q("q72_wordcount_mr", q72, Some(
      """SELECT term, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q85_wordcount_assoc", q85, Some(
      """SELECT term, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q50_quality_score", q50, Some(
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id, length(text) AS n_chars_text, len(w) AS n_tokens,
         |  round(len(list_filter(w, t -> list_contains(${sqlList(enStop)}, t))) * 1.0 / len(w), 4) AS stop_ratio,
         |  round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text), 4) AS punct_ratio,
         |  round(list_sum(list_transform(w, t -> length(t))) * 1.0 / len(w), 4) AS mean_tok_len,
         |  round((round(len(list_filter(w, t -> list_contains(${sqlList(enStop)}, t))) * 1.0 / len(w), 4)
         |    + least(len(w), 100) / 100.0
         |    - round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text), 4) + 1) / 3, 4) AS quality
         |FROM t ORDER BY doc_id""".stripMargin)),
    Q("q51_langid", q51, Some {
      val exprs = markers.map { case (lang, ms) =>
        s"len(list_filter(w, t -> list_contains(${sqlList(ms)}, t))) AS s_$lang"
      }.mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |sc AS (SELECT doc_id, lang, $exprs FROM t)
         |SELECT doc_id, lang AS declared_lang, s_en, s_es, s_de, s_fr,
         |  CASE WHEN s_en >= greatest(s_es, s_de, s_fr) AND s_en > 0 THEN 'en'
         |       WHEN s_es >= greatest(s_de, s_fr) AND s_es > 0 THEN 'es'
         |       WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
         |       WHEN s_fr > 0 THEN 'fr'
         |       ELSE 'und' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin
    }),
    Q("q52_token_count", q52, Some(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
        |  length(text) AS n_chars_text
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("q95_filter_funnel", q95, Some(
      s"""WITH t AS (SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS w FROM documents),
         |f AS (SELECT lang, n_chars, text,
         |  round(len(list_distinct(w)) * 1.0 / len(w), 4) AS dr,
         |  len(list_filter(w, t -> list_contains(${sqlList(markers(0)._2)}, t))) AS s_en,
         |  len(list_filter(w, t -> list_contains(${sqlList(markers(1)._2)}, t))) AS s_es,
         |  len(list_filter(w, t -> list_contains(${sqlList(markers(2)._2)}, t))) AS s_de,
         |  len(list_filter(w, t -> list_contains(${sqlList(markers(3)._2)}, t))) AS s_fr,
         |  round((round(len(list_filter(w, t -> list_contains(${sqlList(enStop)}, t))) * 1.0 / len(w), 4)
         |    + least(len(w), 100) / 100.0
         |    - round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text), 4) + 1) / 3, 4) AS q
         | FROM t),
         |g AS (SELECT lang, n_chars, dr, q,
         |  CASE WHEN s_en >= greatest(s_es, s_de, s_fr) AND s_en > 0 THEN 'en'
         |       WHEN s_es >= greatest(s_de, s_fr) AND s_es > 0 THEN 'es'
         |       WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
         |       WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS pred
         | FROM f),
         |c AS (SELECT count(*) AS c0,
         |  count(*) FILTER (n_chars BETWEEN 60 AND 400) AS c1,
         |  count(*) FILTER (n_chars BETWEEN 60 AND 400 AND dr >= 0.35) AS c2,
         |  count(*) FILTER (n_chars BETWEEN 60 AND 400 AND dr >= 0.35
         |    AND (pred = lang OR lang = 'zh')) AS c3,
         |  count(*) FILTER (n_chars BETWEEN 60 AND 400 AND dr >= 0.35
         |    AND (pred = lang OR lang = 'zh') AND q >= 0.5) AS c4
         | FROM g)
         |SELECT stage_idx, stage, n_docs FROM (
         |  SELECT 0 AS stage_idx, 'all' AS stage, c0 AS n_docs FROM c
         |  UNION ALL SELECT 1, 'length', c1 FROM c
         |  UNION ALL SELECT 2, 'repetition', c2 FROM c
         |  UNION ALL SELECT 3, 'langid', c3 FROM c
         |  UNION ALL SELECT 4, 'quality', c4 FROM c)
         |ORDER BY stage_idx""".stripMargin)),
    // q182's oracle replays the same synthesis + jusText-style rules in
    // DuckDB (regexp options: g = all matches, s = dotall; list
    // comprehension preserves line order exactly like Spark's filter).
    Q("q182_boilerplate_extract", q182, Some(
      """WITH raw AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><style>body { margin: 0; } .nav a { color: blue; }</style>' ||
        |  '<script>function track() { var u = location.href; log(u); }</script>' ||
        |  '</head><body>' || chr(10) ||
        |  '<div class="nav"><a href="/">Home</a> <a href="/docs">Docs</a> <a href="/about">About</a></div>' || chr(10) ||
        |  '<h1>' || source || ' #' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
        |  '<p>' || text || ' See <a href="/ref">reference docs</a> for details.</p>' || chr(10) ||
        |  '<div class="links">Read more: <a href="/d/3">continue reading this related article here</a></div>' || chr(10) ||
        |  '<div class="footer"><a href="/tos">Terms</a> <a href="/privacy">Privacy</a> <a href="/contact">Contact</a> Copyright 2024 Example Site</div>' || chr(10) ||
        |  '</body></html>' AS html FROM documents),
        |nos AS (SELECT doc_id,
        |  regexp_replace(html, '<(script|style)[^>]*>.*?</(script|style)>',
        |                 ' ', 'gs') AS h FROM raw),
        |k AS (SELECT doc_id,
        |  [trim(regexp_replace(regexp_replace(l, '<[^>]*>', ' ', 'g'),
        |        ' +', ' ', 'g'))
        |   FOR l IN string_split(h, chr(10))
        |   IF length(trim(regexp_replace(regexp_replace(l, '<[^>]*>', ' ', 'g'),
        |        ' +', ' ', 'g'))) >= 30
        |    AND 2 * (length(l) - length(regexp_replace(l, '<[^>]*>', '', 'g')))
        |        < length(l)
        |    AND 2 * (length(regexp_replace(l, '<[^>]*>', '', 'g'))
        |         - length(regexp_replace(regexp_replace(l,
        |             '<a [^>]*>[^<]*</a>', '', 'g'), '<[^>]*>', '', 'g')))
        |        < length(regexp_replace(l, '<[^>]*>', '', 'g'))] AS kept
        |  FROM nos)
        |SELECT doc_id, len(kept) AS n_kept,
        |  array_to_string(kept, ' ') AS main_text
        |FROM k ORDER BY doc_id""".stripMargin)),
    Q("q53_fingerprint", q53, Some(
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0,
        |      list_transform(
        |        regexp_extract_all(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), '.'),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000000000000) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),
  )
}
