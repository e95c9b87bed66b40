package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Q, Tables}
import graft.functions.{Pii, Text}
import graft.functions.Exact._
import graft.functions.Text.{log2e6DuckSql => duckL2, log2e6SparkSql => l2}

/** Training-data curation operators: the corpus-hygiene passes a large-scale
  * LLM data pipeline runs between raw ingest and tokenization — repetition
  * quality gates (Gopher-style, q83), cross-document segment deduplication
  * (C4-style, q84), benchmark decontamination (q85), temperature-weighted
  * language resampling (q86), sequence packing (q87), PII redaction (q94),
  * LM-surprisal fluency scoring (q96), weighted sampling (q98), hashed
  * linear-classifier scoring (q99), the end-to-end funnel composing the
  * stages in one call (q100), and source-level corpus overlap for
  * mirror/re-crawl detection (q125). Every query is exact integer/IEEE
  * arithmetic end-to-end so the DuckDB oracle verifies it bit-for-bit.
  *
  * Scale posture (100 TB): q83/q94/q99 are shuffle-free per-row compute; q84
  * shuffles the segment stream once on uniform segment keys; q85 broadcasts
  * the (small by construction) benchmark gram set; q86 replaces per-stratum
  * sort/rank with a hash threshold — a scan plus a 5-row broadcast join; q87
  * packs within (lang) partitions so no global sort exists; q96 shuffles the
  * bigram stream once per count key; q98 is per-partition top-k; q100 labels
  * each document once and counts all five stages in one aggregate.
  */
object CurationQueries {

  // ------------------------------------------------ q83: repetition metrics

  /** Repetition-quality thresholds (e6-scaled fractions). Documents whose
    * most-frequent bigram covers ≥ 15% of tokens, or whose duplicate-bigram
    * occupancy is ≥ 15%, read as boilerplate/loops in quality-filter
    * literature (Gopher's repetition rules use the same construction over
    * n-gram coverage fractions).
    */
  val TopNgramRejectE6 = 150000L
  val DupNgramRejectE6 = 150000L

  /** Gopher-style repetition metrics, entirely per-row: top-bigram coverage
    * (tokens under the most frequent 2-gram / all tokens), duplicate-bigram
    * and duplicate-trigram occupancy (occurrences of grams seen more than
    * once / all gram occurrences), and the keep/reject band.
    *
    * The gram counting is array HOFs over the token array — O(distinct·n)
    * per document with NO shuffle and no UDF, so the whole filter runs at
    * scan speed and scales embarrassingly: the 100 TB plan is map-only.
    */
  val q83RepetitionMetrics: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val withG = d
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .withColumn("g2", Text.shingles(col("t"), 2))
      .withColumn("g3", Text.shingles(col("t"), 3))
    def cnts(g: String) =
      transform(array_distinct(col(g)), x => size(filter(col(g), y => y === x)))
    val m = withG.select(
      col("doc_id"),
      size(col("t")).as("n_tok"),
      greatest(size(col("g2")), lit(1)).as("n2"),
      greatest(size(col("g3")), lit(1)).as("n3"),
      array_max(cnts("g2")).as("top2"),
      size(filter(cnts("g2"), c => c === 1)).as("s2"),
      size(filter(cnts("g3"), c => c === 1)).as("s3"))
    m.select(
      col("doc_id"),
      col("n_tok").as("n_tokens"),
      col("top2").as("top_bigram_count"),
      floor(col("top2") * 2 * 1000000.0 / col("n_tok")).as("top_bigram_frac_e6"),
      floor((col("n2") - col("s2")) * 1000000.0 / col("n2")).as("dup_bigram_frac_e6"),
      floor((col("n3") - col("s3")) * 1000000.0 / col("n3")).as("dup_trigram_frac_e6"),
      when(floor(col("top2") * 2 * 1000000.0 / col("n_tok")) >= TopNgramRejectE6 ||
          floor((col("n2") - col("s2")) * 1000000.0 / col("n2")) >= DupNgramRejectE6,
        "reject").otherwise("keep").as("rep_band"))
  }

  val q83Sql: String =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id, t,
      |  LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1), i -> t[i] || ' ' || t[i+1]) AS g2,
      |  LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
      | FROM toks),
      |m AS (SELECT doc_id, LEN(t) AS n_tok,
      |  GREATEST(LEN(g2), 1) AS n2, GREATEST(LEN(g3), 1) AS n3,
      |  LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(g2), x -> LEN(LIST_FILTER(g2, y -> y = x)))) AS top2,
      |  LEN(LIST_FILTER(LIST_TRANSFORM(LIST_DISTINCT(g2), x -> LEN(LIST_FILTER(g2, y -> y = x))), c -> c = 1)) AS s2,
      |  LEN(LIST_FILTER(LIST_TRANSFORM(LIST_DISTINCT(g3), x -> LEN(LIST_FILTER(g3, y -> y = x))), c -> c = 1)) AS s3
      | FROM g)
      |SELECT doc_id, CAST(n_tok AS INT) AS n_tokens, CAST(top2 AS INT) AS top_bigram_count,
      |  CAST(FLOOR(top2 * 2 * 1000000.0 / n_tok) AS BIGINT) AS top_bigram_frac_e6,
      |  CAST(FLOOR((n2 - s2) * 1000000.0 / n2) AS BIGINT) AS dup_bigram_frac_e6,
      |  CAST(FLOOR((n3 - s3) * 1000000.0 / n3) AS BIGINT) AS dup_trigram_frac_e6,
      |  CASE WHEN FLOOR(top2 * 2 * 1000000.0 / n_tok) >= $TopNgramRejectE6
      |         OR FLOOR((n2 - s2) * 1000000.0 / n2) >= $DupNgramRejectE6
      |       THEN 'reject' ELSE 'keep' END AS rep_band
      |FROM m""".stripMargin

  // ------------------------------------------- q84: corpus segment dedup

  /** Non-overlapping segment width for cross-document dedup. */
  val SegmentTokens = 8

  /** C4-style cross-document segment deduplication: split every document
    * into non-overlapping [[SegmentTokens]]-token segments (trailing partial
    * dropped), count each segment's occurrences across the WHOLE corpus, and
    * rebuild each document keeping only segments that occur once. Output is
    * per-document accounting plus the md5 of the cleaned text (order
    * preserved), so the gate verifies the reassembly byte-for-byte.
    *
    * Plan: one explode of the segment stream, ONE shuffle on the segment
    * string for the corpus-wide occurrence window, one doc_id aggregation.
    * Segment keys are effectively uniform (near-dup text concentrates into
    * the same key but contributes only a counter, never a pair blowup), so
    * the shape survives 100 TB: it is the same two-shuffle profile as a
    * groupBy-count plus re-aggregate.
    */
  val q84SegmentDedup: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val segArr = {
      val t = Text.tokens(col("text"))
      when(size(t) < SegmentTokens, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), (size(t) / SegmentTokens).cast("int") - 1),
          i => concat_ws(" ", slice(t, i * SegmentTokens + 1, lit(SegmentTokens)))))
    }
    val segs = d.select(col("doc_id"), posexplode(segArr).as(Seq("idx", "seg")))
    val withDf = segs.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("seg"))))
    withDf.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_segs"),
      sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_removed"),
      md5(concat_ws(" ", transform(
        sort_array(collect_list(
          when(col("df") < 2, struct(col("idx"), col("seg"))))),
        p => p.getField("seg")))).as("clean_hash"))
  }

  val q84Sql: String =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |segs AS (
      |  SELECT doc_id, i AS idx,
      |    ARRAY_TO_STRING(t[(i*$SegmentTokens+1):(i*$SegmentTokens+$SegmentTokens)], ' ') AS seg
      |  FROM toks, UNNEST(GENERATE_SERIES(0, LEN(t)//$SegmentTokens - 1)) AS u(i)
      |  WHERE LEN(t) >= $SegmentTokens),
      |dfc AS (SELECT seg, COUNT(*) AS df FROM segs GROUP BY seg)
      |SELECT doc_id, COUNT(*) AS n_segs,
      |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  md5(COALESCE(STRING_AGG(CASE WHEN df < 2 THEN seg END, ' ' ORDER BY idx), '')) AS clean_hash
      |FROM segs JOIN dfc USING (seg)
      |GROUP BY doc_id""".stripMargin

  // ------------------------------------------- q85: benchmark decontamination

  /** Held-out "benchmark" membership rule: doc_id ≡ 0 (mod 97). */
  val BenchMod = 97

  /** Benchmark decontamination: flag training documents sharing any distinct
    * word 3-gram with the held-out benchmark slice, with the contaminated
    * fraction of each document's distinct grams. The n-gram-overlap test is
    * the standard pre-training decontamination pass (GPT-3 appendix C uses
    * 13-gram collisions; 3 here because the synthetic corpus is short-range).
    *
    * Plan: the benchmark gram set is small by construction (benchmarks are
    * fixed-size, not corpus-scale), so it BROADCASTS; the training side is
    * one scan + map-side hash probe — no shuffle of the 100 TB stream. The
    * zero-overlap left join keeps clean documents in the report.
    */
  val q85Decontaminate: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val grams = d.select(col("doc_id"),
      explode(Text.shingleSet(col("text"), 3)).as("gram"))
    val bench = grams.filter(col("doc_id") % BenchMod === 0)
      .select(col("gram")).distinct()
    val overlap = grams.filter(col("doc_id") % BenchMod =!= 0)
      .join(broadcast(bench), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    d.filter(col("doc_id") % BenchMod =!= 0)
      .select(col("doc_id"),
        size(Text.shingleSet(col("text"), 3)).as("n_grams"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("hits"), lit(0L)).as("n_overlap"),
        floor(coalesce(col("hits"), lit(0L)) * 1000000.0 / col("n_grams"))
          .as("contam_e6"),
        when(coalesce(col("hits"), lit(0L)) > 0, "contaminated")
          .otherwise("clean").as("flag"))
  }

  val q85Sql: String =
    s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      |      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchMod = 0),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS hits FROM g
      |  WHERE doc_id % $BenchMod <> 0 AND gram IN (SELECT gram FROM bench)
      |  GROUP BY doc_id),
      |sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_grams FROM g
      |  WHERE doc_id % $BenchMod <> 0 GROUP BY doc_id)
      |SELECT s.doc_id, CAST(s.n_grams AS INT) AS n_grams,
      |  COALESCE(h.hits, 0) AS n_overlap,
      |  CAST(FLOOR(COALESCE(h.hits, 0) * 1000000.0 / s.n_grams) AS BIGINT) AS contam_e6,
      |  CASE WHEN COALESCE(h.hits, 0) > 0 THEN 'contaminated' ELSE 'clean' END AS flag
      |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id""".stripMargin

  // --------------------------------- q86: temperature-weighted resampling

  /** Temperature-weighted language resampling WITHOUT a sort: per-language
    * keep probability p_l ∝ count^α / count (α = 0.5 → sqrt upweights rare
    * languages, the multilingual-pretraining convention), realized as a
    * deterministic hash threshold — keep a document iff its portable 60-bit
    * hash is below p_l·2^60. sqrt and each division are single IEEE
    * operations on exact integers, so both engines compute the identical
    * threshold and the identical sample.
    *
    * vs q69 (rank-based stratified top-k): no per-stratum window sort — the
    * 100 TB plan is one aggregate for the 5-row language table plus a
    * broadcast-join filter on the scan. Exactly the shape a trillion-token
    * resample runs.
    */
  val q86TemperatureResample: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .withColumn("w_l", floor(sqrt(col("n_l")) * 1000000.0))
    val tot = counts.agg(sum(col("w_l")).as("w_tot"), sum(col("n_l")).as("n_tot"))
    val thresholds = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_l"),
        floor(least(
          floor(col("n_tot") / 2) * col("w_l") / col("w_tot") / col("n_l"),
          lit(1.0)) * lit(1152921504606846976.0)).as("thr"))
    d.select(col("doc_id"), col("lang"),
        Text.portableHash(col("doc_id").cast("string")).as("h"))
      .join(broadcast(thresholds), "lang")
      .filter(col("h") < col("thr"))
      .select(col("doc_id"), col("lang"), col("h"))
  }

  val q86Sql: String =
    """WITH counts AS (
      |  SELECT lang, COUNT(*) AS n_l, FLOOR(SQRT(COUNT(*)) * 1000000.0) AS w_l
      |  FROM documents GROUP BY lang),
      |tot AS (SELECT SUM(w_l) AS w_tot, SUM(n_l) AS n_tot FROM counts),
      |thr AS (
      |  SELECT lang,
      |    FLOOR(LEAST(FLOOR(n_tot / 2) * w_l / w_tot / n_l, 1.0)
      |          * 1152921504606846976.0) AS thr
      |  FROM counts, tot),
      |h AS (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM documents)
      |SELECT h.doc_id, h.lang, h.h
      |FROM h JOIN thr ON h.lang = thr.lang
      |WHERE h.h < thr.thr""".stripMargin

  // ------------------------------------------------ q87: sequence packing

  /** Context-window capacity (tokens) for packing. */
  val PackCapacity = 512L

  /** Sequence packing: concatenate documents in deterministic (doc_id) order
    * within each language and cut the stream into [[PackCapacity]]-token
    * context bins — bin = floor(preceding-token-count / capacity), the
    * "concatenate then chunk" packing used to build training batches. A
    * document straddling a boundary belongs to the bin where it starts, so
    * bins can overfill by at most one document — the standard greedy
    * stream-packing contract. Output is per-bin occupancy accounting.
    *
    * The prefix sum rides [[Prefix.runningSumBy]]: a per-language window
    * alone still funnels each language through ONE task, and a language can
    * be half the corpus — the grouped two-level device keeps every sort
    * bucket-sized while staying bit-identical to the window.
    */
  val q87SequencePacking: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val toks = d.select(col("doc_id"), col("lang"),
      Text.tokenCount(col("text")).cast("long").as("n_tok"))
    Prefix.runningSumBy(toks, Seq("lang"), "doc_id", Seq(), "n_tok",
        "cum_before")
      .withColumn("bin_id", expr(s"cum_before DIV $PackCapacity"))
      .groupBy(col("lang"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_e6",
        floor(col("bin_tokens") * 1000000.0 / PackCapacity))
  }

  val q87Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT lang, CAST((cum - n_tok) // $PackCapacity AS BIGINT) AS bin_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |  CAST(FLOOR(SUM(n_tok) * 1000000.0 / $PackCapacity) AS BIGINT) AS fill_e6
      |FROM c GROUP BY lang, (cum - n_tok) // $PackCapacity""".stripMargin

  // ------------------------------------------------- q94: PII redaction

  /** PII masking over a synthesized contact line (the testdata corpus is
    * digit-free words, so the query derives a realistic contact string from
    * the customer table — name, email, IPv4, phone, free-standing ids — and
    * the oracle derives the identical string). [[Pii.redact]] applies the
    * email → ip → phone → number passes in specificity order; the gate
    * verifies per-pass counts AND the md5 of the redacted bytes, so the
    * masking itself is checked byte-for-byte, not just tallied.
    *
    * 100 TB shape: map-only — four regexp passes inside one codegen stage,
    * no shuffle at all until the (optional) downstream aggregation.
    */
  /** The synthesized contact line q94 redacts — shared with its spec so the
    * no-digits-remain assertion always checks the exact string the query
    * masks; q94Sql's rawExpr must mirror this construction.
    */
  val contactLine: org.apache.spark.sql.Column = concat(
    col("c_name"), lit(" <"),
    lower(regexp_replace(col("c_name"), "#", ".")),
    lit("@ex"), col("c_nationkey").cast("string"), lit(".com> ip 10."),
    col("c_nationkey").cast("string"), lit(".0."),
    pmod(col("c_custkey"), lit(256)).cast("string"),
    lit(" call 555-"),
    lpad(pmod(col("c_custkey"), lit(1000)).cast("string"), 3, "0"),
    lit("-"),
    lpad(pmod(col("c_custkey") * 7, lit(10000)).cast("string"), 4, "0"),
    lit(" ref "), col("c_custkey").cast("string"))

  val q94PiiRedact: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val base = c.select(col("c_custkey"), contactLine.as("t"))
    val cnts = Pii.counts(col("t"))
    base.select(
      col("c_custkey") +:
        cnts.map { case (n, cc) => cc.as(s"n_$n") } :+
        md5(Pii.redact(col("t"))).as("red_hash"): _*)
  }

  val q94Sql: String = {
    val rawExpr =
      """c_name || ' <' || lower(replace(c_name, '#', '.')) || '@ex' ||
        |    CAST(c_nationkey AS VARCHAR) || '.com> ip 10.' ||
        |    CAST(c_nationkey AS VARCHAR) || '.0.' ||
        |    CAST(c_custkey % 256 AS VARCHAR) || ' call 555-' ||
        |    lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(c_custkey * 7 % 10000 AS VARCHAR), 4, '0') ||
        |    ' ref ' || CAST(c_custkey AS VARCHAR)""".stripMargin
    val steps = Pii.Passes.zipWithIndex.map {
      case ((name, re, tok), i) =>
        val prev = if (i == 0) "raw" else s"p$i"
        val carried = Pii.Passes.take(i)
          .map { case (n, _, _) => s"n_$n" }
        val cols = (carried :+
          s"CAST(LEN(regexp_extract_all(t, '$re')) AS INT) AS n_$name") :+
          s"regexp_replace(t, '$re', '$tok', 'g') AS t"
        s"p${i + 1} AS (SELECT c_custkey, ${cols.mkString(", ")} FROM $prev)"
    }
    val names = Pii.Passes.map { case (n, _, _) => s"n_$n" }
    s"""WITH raw AS (SELECT c_custkey, $rawExpr AS t FROM customer),
       |${steps.mkString(",\n")}
       |SELECT c_custkey, ${names.mkString(", ")}, md5(t) AS red_hash
       |FROM p${Pii.Passes.size}""".stripMargin
  }

  // --------------------------------------- q96: bigram surprisal scoring

  /** N-gram language-model surprisal as a fluency/quality signal — the
    * KenLM-perplexity slot of a curation pipeline, made bit-portable by
    * measuring information in WHOLE BITS: surprisal of an occurrence of
    * bigram (w1, w2) is bitlen(c(w1·)) − bitlen(c(w1 w2)) where bitlen(x) =
    * len(bin(x)) − 1 = floor(log2 x) computed by binary-string length, an
    * integer in both engines — no libm, no FP log whose last ulp could
    * diverge. Low mean surprisal ⇒ the corpus LM predicts the document well
    * (fluent/common text); high ⇒ unusual token transitions.
    *
    * Plan: one explode of the bigram stream, two window counts (by bigram,
    * by context word), one doc_id aggregation. At 100 TB the two windows
    * become count-table shuffle-joins with identical asymptotics — either
    * way the stream is shuffled once per key, never squared.
    */
  val q96BigramSurprisal: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val toks = d.select(col("doc_id"), Text.tokens(col("text")).as("t"))
    val pairs = when(size(col("t")) < 2,
        array().cast("array<struct<w1:string,bg:string>>"))
      .otherwise(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(
          element_at(col("t"), i).as("w1"),
          concat(element_at(col("t"), i), lit(" "),
            element_at(col("t"), i + 1)).as("bg"))))
    val g = toks.select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val counted = g
      .withColumn("c_bg", count(lit(1)).over(Window.partitionBy(col("bg"))))
      .withColumn("c_ctx", count(lit(1)).over(Window.partitionBy(col("w1"))))
    counted
      .select(col("doc_id"),
        (length(bin(col("c_ctx"))) - length(bin(col("c_bg")))).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).cast("long").as("sum_bits"))
      .withColumn("mean_bits_e6",
        floor(col("sum_bits") * 1000000.0 / col("n_bigrams")))
  }

  val q96Sql: String =
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bg
      |  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS u(i)),
      |c AS (
      |  SELECT doc_id,
      |    COUNT(*) OVER (PARTITION BY bg) AS c_bg,
      |    COUNT(*) OVER (PARTITION BY w1) AS c_ctx
      |  FROM bg)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(LEN(BIN(c_ctx)) - LEN(BIN(c_bg))) AS BIGINT) AS sum_bits,
      |  CAST(FLOOR(SUM(LEN(BIN(c_ctx)) - LEN(BIN(c_bg))) * 1000000.0
      |             / COUNT(*)) AS BIGINT) AS mean_bits_e6
      |FROM c GROUP BY doc_id""".stripMargin

  // --------------------------------------- q98: weighted reservoir sample

  /** Weighted sample size. */
  val WeightedSampleK = 200

  /** Deterministic weighted sampling without replacement: every document
    * draws priority = h DIV weight (portable 60-bit hash, weight = n_chars)
    * and the k smallest priorities win — longer documents draw smaller
    * priorities proportionally more often, the integer-arithmetic analog of
    * the exponential-keys reservoir scheme (Efraimidis-Spirakis keys
    * u^(1/w) need pow, which is not bit-portable; h/w keeps the
    * monotone-in-weight property with exact int64 ops). Ties break by
    * doc_id, so the sample is a pure function of the corpus.
    *
    * Scale: ORDER BY + LIMIT k compiles to TakeOrderedAndProject — each
    * partition keeps its top k and the driver merges k·partitions rows; no
    * global sort of the corpus ever happens.
    */
  val q98WeightedSample: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    d.select(col("doc_id"), col("lang"), col("n_chars"),
        Text.portableHash(col("doc_id").cast("string")).as("h"))
      .withColumn("priority", expr("h DIV n_chars"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(WeightedSampleK)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("priority"))
  }

  val q98Sql: String =
    s"""SELECT doc_id, lang, n_chars, h // n_chars AS priority
       |FROM (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM documents)
       |ORDER BY priority, doc_id LIMIT $WeightedSampleK""".stripMargin

  // ------------------------------------- q99: hashed linear classifier

  /** Feature-hashing bucket count (2^16). */
  val FeatBuckets = 65536L

  /** Hashing-trick linear classifier scoring — the serving side of a
    * fastText-style quality filter: distinct word features hash into
    * [[FeatBuckets]] buckets, each bucket carries a fixed signed weight
    * (derived deterministically from the bucket id's portable hash, range
    * ±1000), and the document score is the integer sum of its feature
    * weights; the keep/drop band is score ≥ 0. Bucket collisions sharing
    * one weight is the hashing trick's defining property, reproduced
    * exactly by the oracle.
    *
    * Plan: map-only — array_distinct + transform + aggregate inside one
    * codegen stage, no shuffle, no UDF, no model file: the weight table is
    * an expression. Swapping in trained weights = replacing the
    * weight-of-bucket expression with a broadcast 2^16-row join, same
    * shape.
    */
  /** The q99 score as a COLUMN over a `text` column. Scoring consumers
    * (q114/q164/q226/q385 and the q578–q601 curation family) decorate ONE
    * documents scan with this instead of joining q99HashClassifier back to
    * documents on doc_id: doc_id is the table's unique key, so that
    * self-join is the identity — inlining the column removes a corpus-scale
    * join (two per-document exchanges at 100 TB) and a second documents
    * scan + md5 scoring pass from every consumer (r9, guide §1.2/§2.4).
    */
  private[operators] def q99ScoreCol: org.apache.spark.sql.Column = {
    def weightOf(t: org.apache.spark.sql.Column) =
      pmod(Text.portableHash(concat(lit("w"),
        pmod(Text.portableHash(t), lit(FeatBuckets)).cast("string"))),
        lit(2001L)) - 1000L
    aggregate(transform(array_distinct(Text.tokens(col("text"))), weightOf _),
      lit(0L), (acc, x) => acc + x)
  }

  val q99HashClassifier: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val feats = array_distinct(Text.tokens(col("text")))
    d.select(col("doc_id"), size(feats).as("n_feats"),
        q99ScoreCol.as("score"))
      .withColumn("band", when(col("score") >= 0, "keep").otherwise("drop"))
  }

  /** q99's scoring as reusable CTEs (`f`, `scored`) — q99 selects from them
    * directly and q114's lift table evaluates the SAME model by extending
    * the chain.
    */
  private val q99ScoreCtes: String =
    s"""f AS (
       |  SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS feats
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, CAST(LEN(feats) AS INT) AS n_feats,
       |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(feats, t ->
       |      CAST(concat('0x', substr(md5('w' ||
       |        CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
       |          % $FeatBuckets AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % 2001 - 1000)), 0) AS BIGINT) AS score
       |  FROM f)""".stripMargin

  val q99Sql: String =
    s"""WITH $q99ScoreCtes
       |SELECT doc_id, n_feats, score,
       |  CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS band
       |FROM scored""".stripMargin

  // ------------------------------------- q114: classifier decile lift

  /** Decile lift table for the q99 classifier — the model-evaluation staple:
    * documents rank into score deciles (ntile over a fully tie-broken
    * order), each decile reports its response rate against the global rate
    * as lift. The "response" is a deterministic corpus property (long
    * document, n_chars ≥ 300) so the evaluation is self-contained and
    * oracle-exact: rates and lift are single IEEE divisions of exact
    * integer products. The decile rank is [[Prefix.rowNumber]] (two-level
    * score-bucket device — document grain is the 100 TB axis, so no
    * global ntile sort exists) + the closed-form [[Prefix.ntileExpr]];
    * bit-identical to `ntile(10) OVER (ORDER BY score DESC, doc_id)` by
    * PrefixSpec's pin and q246's identical migration.
    */
  val q114DecileLift: Q = (s, dir) => {
    // single checkpointed documents scan (q99ScoreCol inlined — no doc_id
    // self-join) shared by the prefix device and the count scalar (r9)
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), q99ScoreCol.as("score"), col("n_chars"))
      .localCheckpoint()
    val nAll = scored.agg(count(lit(1)).as("n_all"))
    val deciles = Prefix
      .rowNumber(scored, "score", Seq("doc_id"), "rn", desc = true,
        materialize = false)
      .crossJoin(broadcast(nAll))
      .select(col("doc_id"), col("score"), col("n_chars"),
        Prefix.ntileExpr("rn", "n_all", 10).cast("int").as("decile"),
        (col("n_chars") >= 300).cast("long").as("resp"))
    // global totals come from the 10-row decile rollup itself (a whole-
    // frame window), never by re-deriving the per-document scoring chain
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    deciles.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("resp")).as("n_resp"))
      .select(col("decile"), col("n_docs"), col("n_resp"),
        (col("n_resp").cast("double") / col("n_docs")).as("resp_rate"),
        ((col("n_resp") * sum(col("n_docs")).over(all)).cast("double") /
          (col("n_docs") * sum(col("n_resp")).over(all))).as("lift"))
  }

  val q114Sql: String =
    s"""WITH $q99ScoreCtes,
       |j AS (
       |  SELECT scored.doc_id, score, n_chars
       |  FROM scored JOIN documents USING (doc_id)),
       |dec AS (
       |  SELECT doc_id, score, n_chars,
       |    NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile,
       |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS resp
       |  FROM j),
       |tot AS (SELECT COUNT(*) AS n_all, CAST(SUM(resp) AS BIGINT) AS resp_all FROM dec)
       |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
       |  CAST(SUM(resp) AS BIGINT) AS n_resp,
       |  CAST(SUM(resp) AS DOUBLE) / COUNT(*) AS resp_rate,
       |  CAST(SUM(resp) * n_all AS DOUBLE) / (COUNT(*) * resp_all) AS lift
       |FROM dec CROSS JOIN tot GROUP BY decile, n_all, resp_all""".stripMargin

  // ------------------------------------- q245: mix-adjusted source comparison

  /** q245: mix-adjusted quality comparison — indirect standardization (the
    * SMR construction from epidemiology, applied to corpus curation):
    * comparing sources' raw keep rates is confounded by language mix, so
    * each source also reports the keeps it WOULD have produced if every
    * language stratum kept at the corpus-wide rate, and the ratio
    * observed/expected isolates the source effect from the mix effect.
    * A source below 10⁶ underperforms its mix; the raw-vs-adjusted rank
    * disagreements are precisely the Simpson's-paradox cases this exists
    * to catch. Keep = the n_chars ≥ 300 response (the q114/q164 label).
    * Exactness: expected keeps quantize per stratum to e6 by integer
    * division (documented floor, identical in both engines); the SMR is
    * one more integer division.
    *
    * Plan: one (source, lang) rollup; the global per-lang rates join back
    * broadcast (|langs| rows); everything after the first pass is
    * metadata-sized.
    */
  val q245MixAdjusted: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("keep"))
    val cell = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("keep")).as("k"))
      .localCheckpoint()
    val global = cell.groupBy(col("lang"))
      .agg(sum(col("n")).as("gn"), sum(col("k")).as("gk"))
    cell.join(broadcast(global), "lang")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        sum(col("k")).as("observed_keeps"),
        // DECIMAL: stratum count x global keeps wraps int64 long before
        // corpus scale
        sum(expr("""CAST(CAST(n AS DECIMAL(38,0)) * gk * 1000000 DIV gn
                   |  AS DECIMAL(38,0))""".stripMargin))
          .cast("decimal(38,0)").as("expected_keeps_dec"))
      .select(col("source"), col("n_docs"), col("observed_keeps"),
        expr("CAST(expected_keeps_dec AS BIGINT)").as("expected_keeps_e6"),
        expr("""CAST(CAST(observed_keeps AS DECIMAL(38,0)) * 1000000
               |  DIV n_docs AS BIGINT)""".stripMargin).as("raw_rate_e6"),
        expr("""CASE WHEN expected_keeps_dec > 0
               |THEN CAST(CAST(observed_keeps AS DECIMAL(38,0)) *
               |  1000000000000 DIV expected_keeps_dec AS BIGINT)
               |END""".stripMargin).as("smr_e6"))
      .orderBy(col("source"))
  }

  val q245Sql: String =
    """WITH d AS (
      |  SELECT source, lang,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS keep
      |  FROM documents),
      |cell AS (
      |  SELECT source, lang, COUNT(*) AS n, CAST(SUM(keep) AS BIGINT) AS k
      |  FROM d GROUP BY 1, 2),
      |g AS (
      |  SELECT lang, CAST(SUM(n) AS BIGINT) AS gn,
      |    CAST(SUM(k) AS BIGINT) AS gk
      |  FROM cell GROUP BY lang)
      |SELECT source,
      |  CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(SUM(k) AS BIGINT) AS observed_keeps,
      |  CAST(SUM(CAST(n AS HUGEINT) * gk * 1000000 // gn) AS BIGINT)
      |    AS expected_keeps_e6,
      |  CAST(CAST(SUM(k) AS HUGEINT) * 1000000 // SUM(n) AS BIGINT)
      |    AS raw_rate_e6,
      |  CASE WHEN SUM(CAST(n AS HUGEINT) * gk * 1000000 // gn) > 0
      |       THEN CAST(CAST(SUM(k) AS HUGEINT) * 1000000000000 //
      |         SUM(CAST(n AS HUGEINT) * gk * 1000000 // gn) AS BIGINT)
      |  END AS smr_e6
      |FROM cell JOIN g USING (lang)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ------------------------------------- q241: cross-source OOV audit

  /** q241: cross-source out-of-vocabulary audit — the domain-shift screen a
    * curation pipeline runs before mixing sources: the REFERENCE vocabulary
    * is the largest source's distinct tokens (largest by document count,
    * name tie-break — data-derived but deterministic, mirrored in the
    * oracle), and every source reports its token-level and type-level OOV
    * rates against it. High token-OOV means the source speaks a different
    * vocabulary than the corpus backbone (new domain, different language,
    * or noise); the type/token split separates "a few alien words used
    * often" from "a long alien tail".
    *
    * Plan: one token explode, a distinct-reduced vocabulary (broadcastable
    * — vocabularies grow sub-linearly, Heaps' law measured by q222), one
    * anti-join-shaped membership via left join, per-source conditional
    * rollups. Exact integer rates.
    */
  val q241OovAudit: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
    val docCounts = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val base = docCounts
      .orderBy(col("n_docs").desc, col("source")).limit(1)
      .select(col("source").as("base_source"))
    val vocab = toks.join(broadcast(base),
        col("source") === col("base_source"))
      .select(col("w")).distinct()
      .withColumn("known", lit(1))
    val marked = toks.join(vocab, Seq("w"), "left")
    val tokenLevel = marked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov_tokens"))
    val typeLevel = marked.select(col("source"), col("w"), col("known"))
      .distinct()
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov_types"))
    tokenLevel.join(typeLevel, "source")
      .crossJoin(broadcast(base))
      .select(col("source"), col("base_source"),
        col("n_tokens"), col("n_oov_tokens"),
        // DECIMAL: token counts pass 10^13 at corpus scale, and the e6
        // product would wrap int64
        expr("""CAST(CAST(n_oov_tokens AS DECIMAL(38,0)) * 1000000
               |  DIV n_tokens AS BIGINT)""".stripMargin)
          .as("oov_token_rate_e6"),
        col("n_types"), col("n_oov_types"),
        expr("""CAST(CAST(n_oov_types AS DECIMAL(38,0)) * 1000000
               |  DIV n_types AS BIGINT)""".stripMargin)
          .as("oov_type_rate_e6"))
      .orderBy(col("source"))
  }

  val q241Sql: String =
    """WITH toks AS (
      |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
      |base AS (
      |  SELECT source AS base_source FROM documents
      |  GROUP BY source ORDER BY COUNT(*) DESC, source LIMIT 1),
      |vocab AS (
      |  SELECT DISTINCT w FROM toks WHERE source = (SELECT base_source FROM base)),
      |marked AS (
      |  SELECT t.source, t.w, v.w IS NOT NULL AS known
      |  FROM toks t LEFT JOIN vocab v ON t.w = v.w),
      |tok AS (
      |  SELECT source, COUNT(*) AS n_tokens,
      |    CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_oov_tokens
      |  FROM marked GROUP BY source),
      |typ AS (
      |  SELECT source, COUNT(*) AS n_types,
      |    CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_oov_types
      |  FROM (SELECT DISTINCT source, w, known FROM marked) d
      |  GROUP BY source)
      |SELECT source, (SELECT base_source FROM base) AS base_source,
      |  n_tokens, n_oov_tokens,
      |  CAST(CAST(n_oov_tokens AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
      |    AS oov_token_rate_e6,
      |  n_types, n_oov_types,
      |  CAST(CAST(n_oov_types AS HUGEINT) * 1000000 // n_types AS BIGINT)
      |    AS oov_type_rate_e6
      |FROM tok JOIN typ USING (source)
      |ORDER BY source""".stripMargin

  // ------------------------------------- q242: balanced shard planner

  /** Shards planned by q242. */
  private val NShards = 8

  /** q242: balanced training-shard assignment — the "split the corpus into
    * N shards of near-equal token mass" step before distributed training,
    * done deterministically: documents rank by token count (desc, doc_id
    * tie-break) and snake across shards (0..N−1 then N−1..0), the classic
    * boustrophedon heuristic that lands within one document of perfect
    * balance on sorted input — no greedy sequential state, so the plan is
    * a rank window plus arithmetic, not a driver loop. Report: per shard,
    * document count, token mass, and its e6 ratio to the ideal share.
    *
    * The rank is [[Prefix.rowNumber]] — the two-level bucket device, NOT a
    * global `row_number()` window: documents are exactly the axis that
    * grows to 100 TB, so the rank must shard by token-count buckets
    * (parallelism ≈ 1024) instead of funneling the whole corpus through
    * one sort task. Bit-identical by PrefixSpec's pin, and `rk` is LONG
    * where `row_number()` was INT — at corpus scale the rank itself
    * outgrows int32, so the wider type is the correct one. The snake
    * arithmetic is unchanged.
    */
  val q242ShardPlanner: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(Text.tokens(col("text"))).as("n_tokens"))
    val ranked = Prefix.rowNumber(docs, "n_tokens", Seq("doc_id"), "rk",
      desc = true)
    val assigned = ranked.withColumn("shard",
      expr(s"""CASE WHEN ((rk - 1) DIV $NShards) % 2 = 0
              |     THEN (rk - 1) % $NShards
              |     ELSE $NShards - 1 - ((rk - 1) % $NShards) END"""
        .stripMargin))
    val total = docs.agg(sum(col("n_tokens")).as("grand_total"))
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"))
      .crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        // DECIMAL: per-shard token mass at corpus scale * 8e6 wraps int64
        expr(s"""CAST(CAST(shard_tokens AS DECIMAL(38,0)) * $NShards
                |  * 1000000 DIV grand_total AS BIGINT)""".stripMargin)
          .as("balance_e6"))
      .orderBy(col("shard"))
  }

  val q242Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
       |  FROM d),
       |a AS (
       |  SELECT n_tokens,
       |    CASE WHEN ((rk - 1) // $NShards) % 2 = 0
       |         THEN (rk - 1) % $NShards
       |         ELSE $NShards - 1 - ((rk - 1) % $NShards) END AS shard
       |  FROM r),
       |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS grand_total FROM d)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       |  CAST(CAST(SUM(n_tokens) AS HUGEINT) * $NShards * 1000000
       |    // grand_total AS BIGINT) AS balance_e6
       |FROM a CROSS JOIN t
       |GROUP BY shard, grand_total
       |ORDER BY shard""".stripMargin

  // ------------------------------------- q226: calibration + Brier score

  /** q226: classifier calibration audit — the reliability table + Brier
    * score that complete the q114 (lift) / q164 (AUC) evaluation triple:
    * AUC grades RANKING, this grades the PROBABILITIES. The q99 score maps
    * to a predicted probability through the fixed monotone transform
    * p̂_e6 = clamp(500000 + 1000·score, 0, 10⁶) (a linear link — the audit
    * evaluates the transform, it does not fit one), documents land in ten
    * fixed-width probability bins, and each bin reports predicted-vs-
    * observed: mean p̂, event rate, and the signed calibration gap. The
    * per-document Brier contribution (p̂_e6 − 10⁶·y)² is an exact integer
    * accumulated in DECIMAL(38,0) (10¹² per row overflows int64 past ~10⁷
    * rows), so the whole table is bit-portable — no float means anywhere.
    * A well-calibrated transform shows gap ≈ 0 in every populated bin;
    * the constant-width bins make drift between corpus snapshots directly
    * comparable.
    *
    * Plan: the q99 map-only scoring pass, one broadcast label join, one
    * 10-bin hash rollup — nothing after the scan is corpus-scale.
    */
  val q226Calibration: Q = (s, dir) => {
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    val scored = Tables.documents(s, dir)
      .select(q99ScoreCol.as("score"),
        (col("n_chars") >= 300).cast("long").as("resp"))
      .select(col("resp"),
        least(greatest(lit(500000L) + col("score") * 1000L, lit(0L)),
          lit(1000000L)).as("phat_e6"))
    scored
      .groupBy(least(expr("phat_e6 DIV 100000"), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("resp")).as("n_events"),
        sum(col("phat_e6")).as("sum_phat_e6"),
        expr("""CAST(SUM(CAST((phat_e6 - 1000000 * resp) AS DECIMAL(38,0)) *
               |         (phat_e6 - 1000000 * resp)) AS DECIMAL(38,0))"""
          .stripMargin).as("brier_sum_dec"))
      .select(col("bin"), col("n_docs"), col("n_events"),
        expr("sum_phat_e6 DIV n_docs").as("mean_phat_e6"),
        expr("n_events * 1000000 DIV n_docs").as("event_rate_e6"),
        (expr("sum_phat_e6 DIV n_docs") -
          expr("n_events * 1000000 DIV n_docs")).as("gap_e6"),
        expr("CAST(brier_sum_dec DIV n_docs AS BIGINT)").as("mean_brier_e12"))
      .orderBy(col("bin"))
  }

  val q226Sql: String =
    s"""WITH $q99ScoreCtes,
       |j AS (
       |  SELECT score, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS resp
       |  FROM scored JOIN documents USING (doc_id)),
       |p AS (
       |  SELECT resp,
       |    LEAST(GREATEST(500000 + 1000 * score, 0), 1000000) AS phat_e6
       |  FROM j),
       |b AS (
       |  SELECT LEAST(phat_e6 // 100000, 9) AS bin, COUNT(*) AS n_docs,
       |    CAST(SUM(resp) AS BIGINT) AS n_events,
       |    CAST(SUM(phat_e6) AS BIGINT) AS sum_phat_e6,
       |    SUM(CAST(phat_e6 - 1000000 * resp AS HUGEINT) *
       |        (phat_e6 - 1000000 * resp)) AS brier_sum
       |  FROM p GROUP BY 1)
       |SELECT bin, n_docs, n_events,
       |  CAST(sum_phat_e6 // n_docs AS BIGINT) AS mean_phat_e6,
       |  CAST(n_events * 1000000 // n_docs AS BIGINT) AS event_rate_e6,
       |  CAST(sum_phat_e6 // n_docs - n_events * 1000000 // n_docs AS BIGINT)
       |    AS gap_e6,
       |  CAST(brier_sum // n_docs AS BIGINT) AS mean_brier_e12
       |FROM b
       |ORDER BY bin""".stripMargin

  // ------------------------------------- q164: exact ROC AUC + KS separation

  /** Exact ROC AUC (Mann-Whitney) and KS separation for the q99 classifier
    * against the same long-document response q114 uses — the other half of
    * the model-evaluation pair: lift tables rank deciles, AUC/KS rank the
    * whole score axis.
    *
    * Arithmetic stays exact until one final division: per-score positive /
    * negative counts roll up first, and the cumulative sums over that
    * DISTINCT-SCORE rollup run through [[Prefix.runningSum]] (two-level
    * score-bucket device). The rollup's cardinality is bounded by the
    * score RANGE, but q99 scores are integer sums of ±1000-weight features
    * and land near-unique per document — the rollup ≈ |documents|, the
    * 100 TB axis, so a global cumulative window here would funnel the
    * corpus through one sort task; the bucket device keeps parallelism
    * ≈ 1024 and is bit-identical (LONG addition is associative; scores
    * are unique after the groupBy, so the order is total). Grand totals
    * come from a broadcast scalar aggregate, not a whole-frame window.
    * The tie-corrected rank identity
    *
    *   2·U = Σ_s pos_s · (2·neg_below(s) + neg_s)
    *
    * accumulates in DECIMAL(38,0) (pos·neg cross-products overflow int64
    * past ~3·10^9 rows of each class). AUC = 2U / (2·n_pos·n_neg) and the
    * KS statistic max_s |F_pos(s) − F_neg(s)| both become IEEE in single
    * divisions of exact integers, so DuckDB reproduces them bit-for-bit.
    * Gini = 2·AUC − 1 ships alongside because every scorecard report wants
    * it.
    */
  val q164Auc: Q = (s, dir) => {
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    val scored = Tables.documents(s, dir)
      .select(q99ScoreCol.as("score"),
        (col("n_chars") >= 300).cast("long").as("resp"))
    // one upstream traversal: the rollup is checkpointed once and shared
    // by the grand-total scalar and both prefix devices
    val byScore = scored.groupBy(col("score"))
      .agg(sum(col("resp")).as("pos"), sum(lit(1L) - col("resp")).as("neg"))
      .localCheckpoint()
    val tot = byScore.agg(sum(col("pos")).as("tot_pos"),
      sum(col("neg")).as("tot_neg"))
    // cum_neg = neg_below + neg, so one exclusive prefix (neg) and one
    // inclusive prefix (pos) cover all three cumulative columns
    val cum = Prefix.runningSum(
        Prefix.runningSum(byScore, "score", Nil, "neg", "neg_below",
          materialize = false),
        "score", Nil, "pos", "cum_pos", includeCurrent = true)
      .withColumn("cum_neg", col("neg_below") + col("neg"))
      .crossJoin(broadcast(tot))
    cum.agg(
        max(col("tot_pos")).as("n_pos"), max(col("tot_neg")).as("n_neg"),
        sum(col("pos").cast(dec) *
          (lit(2L) * col("neg_below") + col("neg")).cast(dec)).as("u2"),
        max(abs(col("cum_pos").cast(dec) * col("tot_neg").cast(dec) -
          col("cum_neg").cast(dec) * col("tot_pos").cast(dec))).as("ks_num"))
      .select(col("n_pos"), col("n_neg"),
        (col("u2").cast("double") /
          (lit(2).cast(dec) * col("n_pos").cast(dec) * col("n_neg").cast(dec))
            .cast("double")).as("auc"),
        ((col("u2") - col("n_pos").cast(dec) * col("n_neg").cast(dec))
          .cast("double") /
          (col("n_pos").cast(dec) * col("n_neg").cast(dec)).cast("double"))
          .as("gini"),
        (col("ks_num").cast("double") /
          (col("n_pos").cast(dec) * col("n_neg").cast(dec)).cast("double"))
          .as("ks"))
  }

  val q164Sql: String =
    s"""WITH $q99ScoreCtes,
       |lab AS (
       |  SELECT score, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS resp
       |  FROM scored JOIN documents USING (doc_id)),
       |by_score AS (
       |  SELECT score, CAST(SUM(resp) AS BIGINT) AS pos,
       |    CAST(SUM(1 - resp) AS BIGINT) AS neg
       |  FROM lab GROUP BY score),
       |cum AS (
       |  SELECT *,
       |    COALESCE(CAST(SUM(neg) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      AS neg_below,
       |    CAST(SUM(pos) OVER (ORDER BY score) AS BIGINT) AS cum_pos,
       |    CAST(SUM(neg) OVER (ORDER BY score) AS BIGINT) AS cum_neg,
       |    CAST(SUM(pos) OVER () AS BIGINT) AS n_pos,
       |    CAST(SUM(neg) OVER () AS BIGINT) AS n_neg
       |  FROM by_score),
       |agg AS (
       |  SELECT MAX(n_pos) AS n_pos, MAX(n_neg) AS n_neg,
       |    SUM(CAST(pos AS HUGEINT) * (2 * neg_below + neg)) AS u2,
       |    MAX(ABS(CAST(cum_pos AS HUGEINT) * n_neg -
       |            CAST(cum_neg AS HUGEINT) * n_pos)) AS ks_num
       |  FROM cum)
       |SELECT n_pos, n_neg,
       |  CAST(CAST(u2 AS VARCHAR) AS DOUBLE) /
       |    CAST(CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS VARCHAR) AS DOUBLE)
       |    AS auc,
       |  CAST(CAST(u2 - CAST(n_pos AS HUGEINT) * n_neg AS VARCHAR) AS DOUBLE) /
       |    CAST(CAST(CAST(n_pos AS HUGEINT) * n_neg AS VARCHAR) AS DOUBLE)
       |    AS gini,
       |  CAST(CAST(ks_num AS VARCHAR) AS DOUBLE) /
       |    CAST(CAST(CAST(n_pos AS HUGEINT) * n_neg AS VARCHAR) AS DOUBLE)
       |    AS ks
       |FROM agg""".stripMargin

  // ------------------------------------- q100: end-to-end curation funnel

  /** The whole curation pipeline in ONE call — the capstone composition of
    * this module's stages in their production order, reported as a funnel:
    *
    *   raw → repetition gate (q83) → exact dedup (q50) → benchmark
    *   decontamination (q85) → temperature resample (q86) → packing (q87)
    *
    * Each document is labelled once with the furthest stage it survives
    * (p1..p4 as boolean columns over a single scan + the md5-dedup window +
    * the broadcast contamination probe), and the funnel rows unpivot from
    * one conditional aggregate — counting five stages costs one aggregation,
    * not five pipeline replays. Dedup may window over ALL documents rather
    * than gate survivors because identical text implies identical gate fate:
    * a group's minimum survivor equals its minimum member whenever the group
    * survives at all. Resample thresholds are corpus statistics of the
    * decontaminated population — that branch is the one genuine second pass,
    * cut short here by a localCheckpoint of the labelled frame (at 100 TB:
    * persist the labelled corpus, exactly the same shape).
    *
    * Output: (stage, n_docs, n_tokens) per stage plus a `5_packed` row with
    * the bin count and the packed token total — all exact integers.
    */
  val q100CurationFunnel: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val toks = d.select(col("doc_id"), col("lang"), col("text"),
        Text.tokens(col("text")).as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
    // stage 1: q83's repetition gate (bigram conditions)
    val cnts = transform(array_distinct(col("g2")),
      x => size(filter(col("g2"), y => y === x)))
    val rep = toks
      .withColumn("g2", Text.shingles(col("t"), 2))
      .withColumn("n2", greatest(size(col("g2")), lit(1)))
      .withColumn("top2", array_max(cnts))
      .withColumn("s2c", size(filter(cnts, c => c === 1)))
      .withColumn("p1",
        !(floor(col("top2") * 2 * 1000000.0 / col("n_tok")) >= TopNgramRejectE6 ||
          floor((col("n2") - col("s2c")) * 1000000.0 / col("n2")) >= DupNgramRejectE6))
    // stage 2: exact dedup (md5 window; group fate is uniform under the gate)
    val deduped = rep.withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .withColumn("p2", col("p1") && col("doc_id") === col("keep_id"))
    // stage 3: benchmark decontamination (broadcast gram probe, q85 shape)
    val bench = toks.filter(col("doc_id") % BenchMod === 0)
      .select(explode(Text.shingleSet(col("text"), 3)).as("gram")).distinct()
    val contaminated = toks
      .select(col("doc_id"), explode(Text.shingleSet(col("text"), 3)).as("gram"))
      .join(broadcast(bench), "gram").select(col("doc_id")).distinct()
      .withColumn("contam", lit(true))
    val labeled = deduped.join(contaminated, Seq("doc_id"), "left")
      .withColumn("p3", col("p2") && col("doc_id") % BenchMod =!= 0 &&
        coalesce(col("contam"), lit(false)) === false)
      .select("doc_id", "lang", "n_tok", "p1", "p2", "p3")
      .localCheckpoint()
    // stage 4: temperature resample over the decontaminated population (q86)
    val counts = labeled.filter(col("p3")).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_l"))
      .withColumn("w_l", floor(sqrt(col("n_l")) * 1000000.0))
    val tot = counts.agg(sum(col("w_l")).as("w_tot"), sum(col("n_l")).as("n_tot"))
    val thr = counts.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(least(
          floor(col("n_tot") / 2) * col("w_l") / col("w_tot") / col("n_l"),
          lit(1.0)) * lit(1152921504606846976.0)).as("thr"))
    val sampled = labeled.join(broadcast(thr), Seq("lang"), "left")
      .withColumn("p4", col("p3") &&
        Text.portableHash(col("doc_id").cast("string")) < coalesce(col("thr"), lit(0L)))
      .localCheckpoint()
    // funnel: one conditional aggregate, unpivoted
    val funnel = sampled.agg(
        count(lit(1)).as("n0"), coalesce(sum(col("n_tok")), lit(0L)).as("t0"),
        sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
        coalesce(sum(when(col("p1"), col("n_tok"))), lit(0L)).as("t1"),
        sum(when(col("p2"), 1L).otherwise(0L)).as("n2"),
        coalesce(sum(when(col("p2"), col("n_tok"))), lit(0L)).as("t2"),
        sum(when(col("p3"), 1L).otherwise(0L)).as("n3"),
        coalesce(sum(when(col("p3"), col("n_tok"))), lit(0L)).as("t3"),
        sum(when(col("p4"), 1L).otherwise(0L)).as("n4"),
        coalesce(sum(when(col("p4"), col("n_tok"))), lit(0L)).as("t4"))
      .selectExpr("stack(5, '0_raw', n0, t0, '1_rep_gate', n1, t1, " +
        "'2_exact_dedup', n2, t2, '3_decontam', n3, t3, '4_resample', n4, t4) " +
        "AS (stage, n_docs, n_tokens)")
    // stage 5: q87 packing of the survivors — the grouped two-level device
    // (per-language windows funnel one task per language; a language can be
    // half the corpus). Input rides the stage-4 checkpoint, so no re-pass.
    val bins = Prefix.runningSumBy(sampled.filter(col("p4")),
        Seq("lang"), "doc_id", Seq(), "n_tok", "cum_before",
        materialize = false)
      .withColumn("bin_id", expr(s"cum_before DIV $PackCapacity"))
      .groupBy(col("lang"), col("bin_id")).agg(count(lit(1)).as("nd"))
    val packed = bins.agg(count(lit(1)).as("n_docs"))
      .crossJoin(sampled.filter(col("p4"))
        .agg(coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens")))
      .select(lit("5_packed").as("stage"), col("n_docs"), col("n_tokens"))
    funnel.union(packed)
  }

  val q100Sql: String =
    s"""WITH d2 AS (
       |  SELECT doc_id, lang, text, STRING_SPLIT(text, ' ') AS t,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |rep AS (
       |  SELECT doc_id, lang, text, t, n_tok,
       |    GREATEST(LEN(g2), 1) AS n2,
       |    LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(g2), x -> LEN(LIST_FILTER(g2, y -> y = x)))) AS top2,
       |    LEN(LIST_FILTER(LIST_TRANSFORM(LIST_DISTINCT(g2), x -> LEN(LIST_FILTER(g2, y -> y = x))), c -> c = 1)) AS s2c
       |  FROM (SELECT *, LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1), i -> t[i] || ' ' || t[i+1]) AS g2 FROM d2)),
       |lab1 AS (
       |  SELECT *, NOT (FLOOR(top2 * 2 * 1000000.0 / n_tok) >= $TopNgramRejectE6
       |              OR FLOOR((n2 - s2c) * 1000000.0 / n2) >= $DupNgramRejectE6) AS p1
       |  FROM rep),
       |lab2 AS (
       |  SELECT *, p1 AND doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS p2
       |  FROM lab1),
       |bench AS (
       |  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM d2, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
       |  WHERE doc_id % $BenchMod = 0),
       |cont AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT d2.doc_id, d2.t[i] || ' ' || d2.t[i+1] || ' ' || d2.t[i+2] AS gram
       |    FROM d2, UNNEST(GENERATE_SERIES(1, LEN(d2.t) - 2)) AS u(i))
       |  WHERE gram IN (SELECT gram FROM bench)),
       |lab3 AS (
       |  SELECT *, p2 AND doc_id % $BenchMod <> 0
       |         AND doc_id NOT IN (SELECT doc_id FROM cont) AS p3
       |  FROM lab2),
       |counts AS (
       |  SELECT lang, COUNT(*) AS n_l, FLOOR(SQRT(COUNT(*)) * 1000000.0) AS w_l
       |  FROM lab3 WHERE p3 GROUP BY lang),
       |tot AS (SELECT SUM(w_l) AS w_tot, SUM(n_l) AS n_tot FROM counts),
       |thr AS (
       |  SELECT lang,
       |    FLOOR(LEAST(FLOOR(n_tot / 2) * w_l / w_tot / n_l, 1.0)
       |          * 1152921504606846976.0) AS thr
       |  FROM counts, tot),
       |lab4 AS (
       |  SELECT lab3.*, p3 AND
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      < COALESCE(thr.thr, 0) AS p4
       |  FROM lab3 LEFT JOIN thr ON lab3.lang = thr.lang),
       |bins AS (
       |  SELECT lang, (cum - n_tok) // $PackCapacity AS bin_id
       |  FROM (SELECT lang, n_tok,
       |          SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |                           ROWS UNBOUNDED PRECEDING) AS cum
       |        FROM lab4 WHERE p4)
       |  GROUP BY 1, 2)
       |SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
       |  COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) AS n_tokens FROM lab4
       |UNION ALL SELECT '1_rep_gate', COUNT(*) FILTER (WHERE p1),
       |  COALESCE(CAST(SUM(n_tok) FILTER (WHERE p1) AS BIGINT), 0) FROM lab4
       |UNION ALL SELECT '2_exact_dedup', COUNT(*) FILTER (WHERE p2),
       |  COALESCE(CAST(SUM(n_tok) FILTER (WHERE p2) AS BIGINT), 0) FROM lab4
       |UNION ALL SELECT '3_decontam', COUNT(*) FILTER (WHERE p3),
       |  COALESCE(CAST(SUM(n_tok) FILTER (WHERE p3) AS BIGINT), 0) FROM lab4
       |UNION ALL SELECT '4_resample', COUNT(*) FILTER (WHERE p4),
       |  COALESCE(CAST(SUM(n_tok) FILTER (WHERE p4) AS BIGINT), 0) FROM lab4
       |UNION ALL SELECT '5_packed', COUNT(*),
       |  (SELECT COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM lab4 WHERE p4)
       |  FROM bins""".stripMargin

  // ----------------------------------------------------------- registration

  // --------------------------------------- q125: source-level corpus overlap

  /** Shingles present in more sources than this are dropped before pair
    * generation — corpus-universal phrases carry no provenance signal, and
    * the cap bounds per-shingle pair fan-out at SrcCap²/2 by construction
    * (the DfCap argument one level up: sources, not documents). A no-op at
    * test scale (20 sources), load-bearing when "source" means one of 10⁵
    * crawl domains.
    */
  val SrcCap = 1000

  /** Source-level corpus overlap: Jaccard and containment between the
    * distinct trigram vocabularies of every source pair — near-dup detection
    * lifted from document grain to PROVENANCE grain. This is the pass that
    * catches mirror domains, re-crawls, and shared syndicated content
    * before any per-document comparison runs: a source pair with high
    * containment is a candidate for wholesale exclusion, far cheaper than
    * deduplicating its documents pairwise. Same bounded-candidates shape as
    * the document-level family (q54/q55): one shingle explode, distinct
    * incidence, grouped in-place i<j pair generation under [[SrcCap]] —
    * never a source×source cartesian.
    */
  val q125SourceOverlap: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val inc = d.select(col("source"),
        explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
      .distinct()
    val vocab = inc.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = inc.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("source"))).as("srcs"))
      .filter(size(col("srcs")).between(2, SrcCap))
      .select(graft.functions.Pairs.inPlace(col("srcs"), (a, b) =>
        struct(a.as("src_a"), b.as("src_b"))).as("pr"))
      .select(col("pr.src_a"), col("pr.src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(vocab.select(col("source").as("src_a"), col("nv").as("n_a")), "src_a")
      .join(vocab.select(col("source").as("src_b"), col("nv").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"),
        (col("n_inter").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
  }

  val q125Sql: String =
    s"""WITH toks AS (SELECT source, STRING_SPLIT(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT source, ARRAY_TO_STRING(t[i:i+2], ' ') AS sh
      |  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
      |  WHERE LEN(t) >= 3),
      |v AS (SELECT source, COUNT(*) AS nv FROM sh GROUP BY source),
      |keep AS (SELECT sh FROM sh GROUP BY sh
      |         HAVING COUNT(*) BETWEEN 2 AND $SrcCap),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |  WHERE a.sh IN (SELECT sh FROM keep)
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_inter, va.nv AS n_a, vb.nv AS n_b,
      |  CAST(n_inter AS DOUBLE) / (va.nv + vb.nv - n_inter) AS jaccard,
      |  CAST(n_inter AS DOUBLE) / LEAST(va.nv, vb.nv) AS containment
      |FROM inter
      |JOIN v va ON src_a = va.source
      |JOIN v vb ON src_b = vb.source""".stripMargin

  // ------------------------- q192: cross-source contamination matrix

  /** q192: cross-source near-duplicate contamination matrix — q125 asks
    * "do two sources share VOCABULARY?"; this asks the sharper question
    * "do they share near-duplicate DOCUMENTS?", aggregating the q55
    * MinHash candidate pairs up to provenance grain: for every source
    * pair (including the diagonal — within-source near-dup load), the
    * number of near-dup document pairs and their mean estimated Jaccard.
    * The matrix is what a curation run reads to pick WHICH source of a
    * mirrored pair to drop wholesale. Mean similarity stays exact: each
    * estimate is matches/64, so the sum is carried as the INTEGER match
    * count (est·64 — exact by construction) and divided once at the end.
    * Scale: two doc→source hash joins against the (already bounded) q55
    * pair stream, then a |sources|² rollup — nothing new shuffles the
    * corpus.
    */
  val q192ContaminationMatrix: Q = (s, dir) => {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val pairs = TextQueries.q55MinhashLsh(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        (col("est_jaccard") * 64).cast("long").as("m64"))
    pairs.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("m64")).as("sum_match64"))
      .withColumn("mean_est_jaccard",
        col("sum_match64").cast("double") / (col("n_pairs") * 64))
  }

  lazy val q192Sql: String =
    s"""WITH cand AS (
      |${TextQueries.q55Sql}
      |),
      |src AS (SELECT doc_id, source FROM documents),
      |labelled AS (
      |  SELECT LEAST(a.source, b.source) AS source_a,
      |    GREATEST(a.source, b.source) AS source_b,
      |    CAST(est_jaccard * 64 AS BIGINT) AS m64
      |  FROM cand c
      |  JOIN src a ON a.doc_id = c.doc_a
      |  JOIN src b ON b.doc_id = c.doc_b)
      |SELECT source_a, source_b, COUNT(*) AS n_pairs,
      |  CAST(SUM(m64) AS BIGINT) AS sum_match64,
      |  CAST(SUM(m64) AS DOUBLE) / (COUNT(*) * 64) AS mean_est_jaccard
      |FROM labelled GROUP BY source_a, source_b""".stripMargin

  // ------------------------------------------ q132: negative sampling

  /** Negatives kept per customer, and the oversampling factor that absorbs
    * hash collisions and positive hits before the rank cut.
    */
  val NegK = 4
  val NegOversample = 8

  /** Deterministic negative sampling for recommender training: for every
    * customer, [[NegK]] parts they have NEVER ordered, drawn
    * pseudo-randomly but reproducibly — candidate i is
    * portableHash(custkey:i) mod |part| + 1, so the "random" draw is a
    * pure function of the ids (the q67 reproducible-split principle
    * applied to example GENERATION: stable across runs, engines and
    * partitioning, and regenerable without storing the samples).
    *
    * The scalable shape: per-customer fan-out is a constant
    * [[NegOversample]] explode — never a customer × part cartesian, never
    * a per-customer scan of the catalog — followed by one anti-join
    * against the positives (the only data-sized shuffle) and a rank cut.
    * The testdata's part keys are contiguous 0..|part|-1, so `mod` lands
    * on a real part (QueriesSpec's dense-rank assertion would catch a
    * silent drop at the final brand-attach join — it caught exactly that
    * when this query briefly assumed 1-based keys).
    */
  val q132NegativeSamples: Q = (s, dir) => {
    val positives = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_partkey").as("part_key"))
      .distinct()
    val nParts = Tables.part(s, dir).agg(count(lit(1)).as("n_parts"))
    // customer universe straight off orders — re-deriving it from
    // `positives` would run the lineitem⋈orders join a second time just to
    // throw away the part column (the plan audit caught exactly that)
    val cands = Tables.orders(s, dir)
      .select(col("o_custkey").as("custkey")).distinct()
      .crossJoin(broadcast(nParts))
      .select(col("custkey"), col("n_parts"),
        explode(sequence(lit(1), lit(NegOversample))).as("i"))
      .select(col("custkey"), col("i"),
        (Text.portableHash(concat_ws(":", col("custkey"), col("i")))
          % col("n_parts")).as("part_key"))
      // two draws can collide on the same part: keep the earliest i so the
      // later duplicate never crowds out a fresh candidate
      .groupBy(col("custkey"), col("part_key"))
      .agg(min(col("i")).as("i"))
    val negatives = cands.join(positives, Seq("custkey", "part_key"),
      "left_anti")
    val ranked = negatives.withColumn("sample_rank",
      row_number().over(Window.partitionBy(col("custkey"))
        .orderBy(col("i"), col("part_key"))))
      .filter(col("sample_rank") <= NegK)
    ranked.join(Tables.part(s, dir),
        col("part_key") === col("p_partkey"))
      .select(col("custkey"), col("sample_rank"), col("part_key"),
        col("p_brand"))
  }

  val q132Sql: String =
    s"""WITH positives AS (
      |  SELECT DISTINCT o_custkey AS custkey, l_partkey AS part_key
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |np AS (SELECT COUNT(*) AS n_parts FROM part),
      |cands AS (
      |  SELECT custkey, MIN(i) AS i, part_key FROM (
      |    SELECT c.custkey, u.i,
      |      CAST(concat('0x', substr(md5(concat(c.custkey, ':', u.i)), 1, 15))
      |        AS BIGINT) % n_parts AS part_key
      |    FROM (SELECT DISTINCT o_custkey AS custkey FROM orders) c
      |    CROSS JOIN np
      |    CROSS JOIN UNNEST(GENERATE_SERIES(1, $NegOversample)) AS u(i))
      |  GROUP BY custkey, part_key),
      |negs AS (
      |  SELECT c.* FROM cands c
      |  WHERE NOT EXISTS (SELECT 1 FROM positives p
      |    WHERE p.custkey = c.custkey AND p.part_key = c.part_key)),
      |ranked AS (
      |  SELECT custkey, part_key,
      |    ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY i, part_key)
      |      AS sample_rank
      |  FROM negs)
      |SELECT custkey, CAST(sample_rank AS INT) AS sample_rank, part_key,
      |  p_brand
      |FROM ranked JOIN part ON part_key = p_partkey
      |WHERE sample_rank <= $NegK""".stripMargin

  // ------------------------------------------ q134/q135: BPE tokenizer

  /** Merge rounds the BPE trainer runs (Sennrich et al. 2016's algorithm,
    * fixed small R so the oracle unrolls one CTE block per round).
    */
  val BpeRounds = 10

  /** Word → wrapped symbol sequence: every symbol sits between its OWN pair
    * of '|' separators ("spark" → "|s||p||a||r||k|"), so applying a merge is
    * ONE left-to-right non-overlapping string replace — "|l||r|" → "|lr|" —
    * with no boundary character shared between adjacent matches (the
    * single-separator encoding breaks on "a b a b": the first match consumes
    * the separator the second needs). A merge can never manufacture a new
    * occurrence of its own pair (merged = l+r differs from both l and r), so
    * non-overlapping left-to-right replace IS the textbook greedy-left merge
    * application — and both engines' `replace` scan exactly that way.
    */
  private def bpeWrapped(word: Column): Column =
    concat(lit("|"),
      array_join(transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))), "||"),
      lit("|"))

  private def bpeSymbols(ws: Column): Column =
    split(trim(ws, "|"), "\\|\\|")

  /** Corpus vocabulary: distinct whitespace words with occurrence counts,
    * each as a wrapped character sequence. One token-stream shuffle; from
    * here on the trainer touches only the vocab table (words × counts), the
    * same state compression every published BPE trainer uses — corpus size
    * stops mattering after this line.
    */
  private def bpeVocab(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), bpeWrapped(col("word")).as("ws"), col("cnt"))

  /** Run [[BpeRounds]] merge rounds: each round counts adjacent symbol pairs
    * across the vocab (weighted by word frequency, distributed explode +
    * groupBy), collects ONLY the single winning pair (count desc, then pair
    * asc — a total order, so ties are deterministic), and applies it with
    * one string replace. Returns the merge table and the merged vocabulary.
    *
    * Scale posture: the per-round job runs over the vocabulary, not the
    * corpus — millions of rows at web scale, cached once; the per-round
    * collect is one row (metadata-scale control flow, like IVF's trained
    * centroids). R rounds = R small jobs.
    */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = bpeVocab(s, dir).cache()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val syms = bpeSymbols(col("ws"))
      val best = vocab
        .select(col("cnt"), syms.as("s"))
        .where(size(col("s")) >= 2)
        .select(col("cnt"), explode(zip_with(
          slice(col("s"), lit(1), size(col("s")) - 1),
          slice(col("s"), lit(2), size(col("s")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("freq"))
        .orderBy(desc("freq"), asc("l"), asc("r"))
        .limit(1).collect()
      require(best.nonEmpty,
        s"BPE pair space exhausted at round $r < $BpeRounds")
      val l = best(0).getString(0)
      val rr = best(0).getString(1)
      val f = best(0).getLong(2)
      merges += ((r, l, rr, f))
      vocab = vocab.withColumn("ws",
        replace(col("ws"), lit(s"|$l||$rr|"), lit(s"|$l$rr|")))
    }
    (merges.result(), vocab)
  }

  /** BPE merge-table training over the corpus: the [[BpeRounds]] most
    * frequent adjacent symbol pairs, merged greedily in frequency order.
    * Output is the learned merge table — rank, pair, merged symbol,
    * frequency at merge time — i.e. the tokenizer artifact a training
    * pipeline ships.
    */
  val q134BpeTrain: Q = (s, dir) => {
    import s.implicits._
    val (merges, _) = bpeTrain(s, dir)
    merges.toDF("merge_rank", "left_sym", "right_sym", "freq")
      .select(col("merge_rank"), col("left_sym"), col("right_sym"),
        concat(col("left_sym"), col("right_sym")).as("merged"), col("freq"))
  }

  /** Shared oracle scaffolding: words → wrapped vocab w0, then one
    * (pairs → best → replace) CTE block per round, exactly the Spark
    * trainer's loop unrolled. `w$BpeRounds` is the merged vocabulary.
    */
  private def bpeCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""s$r AS (SELECT STRING_SPLIT(TRIM(ws, '|'), '||') AS s, cnt FROM w${r - 1}),
         |p$r AS (SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS freq
         |  FROM s$r, UNNEST(GENERATE_SERIES(1, LEN(s) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT l, r, freq FROM p$r ORDER BY freq DESC, l, r LIMIT 1),
         |w$r AS MATERIALIZED (SELECT word,
         |    REPLACE(ws, '|'||l||'||'||r||'|', '|'||l||r||'|') AS ws, cnt
         |  FROM w${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""words AS MATERIALIZED (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(w)
       |  GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT word,
       |    '|' || LIST_AGGREGATE(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(word)),
       |      i -> word[i]), 'string_agg', '||') || '|' AS ws, cnt
       |  FROM words),
       |$rounds""".stripMargin
  }

  val q134Sql: String = {
    val outs = (1 to BpeRounds).map { r =>
      s"SELECT $r AS merge_rank, l AS left_sym, r AS right_sym, " +
        s"l||r AS merged, freq FROM b$r"
    }.mkString("\nUNION ALL ")
    s"WITH $bpeCtes\n$outs"
  }

  /** Tokenizer application at corpus scale: every document re-tokenized with
    * the q134 merge table — per document, the whitespace word count, the
    * pre-merge symbol count (characters), the post-merge BPE token count,
    * and the e6-scaled compression ratio. The merged vocabulary is a
    * broadcast dimension (vocab ≪ corpus by construction), so application
    * is one map-side join over the token stream: the 100 TB plan is scan +
    * broadcast-join + one doc_id aggregation.
    */
  val q135BpeApply: Q = (s, dir) => {
    val (_, vocab) = bpeTrain(s, dir)
    val vsize = vocab.select(col("word"),
      length(col("word")).as("n_char"),
      size(bpeSymbols(col("ws"))).as("n_sym"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .join(broadcast(vsize), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_char").as("n_chars"),
        sum("n_sym").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        floor(col("n_chars") * 1000000.0 / col("n_bpe_tokens"))
          .as("compression_e6"))
  }

  val q135Sql: String =
    s"""WITH $bpeCtes,
       |vs AS (SELECT word, LEN(word) AS n_char,
       |    LEN(STRING_SPLIT(TRIM(ws, '|'), '||')) AS n_sym
       |  FROM w$BpeRounds),
       |toks AS (SELECT doc_id, u.w AS word
       |  FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(w))
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_char) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(FLOOR(SUM(n_char) * 1000000.0 / SUM(n_sym)) AS BIGINT)
       |    AS compression_e6
       |FROM toks JOIN vs USING (word)
       |GROUP BY doc_id""".stripMargin

  // ------------------------------------- q169: tokenizer fit by language

  /** q169: vocabulary-fit report for the q134 BPE merges, by language —
    * the "who does this tokenizer serve?" audit run before committing a
    * vocabulary: a BPE table trained on a mixed corpus compresses its
    * dominant language best, and this rollup quantifies that skew as, per
    * language, the fraction of running words that collapse to a SINGLE
    * symbol (fully-merged rate), the mean symbols per word (fertility —
    * the metric tokenizer papers report), and chars-per-symbol
    * compression. Same trained merge table, same symbol counting, same
    * broadcast join as q135 — one corpus pass grouped by language instead
    * of doc_id; ratios are integer-e6 truncating divisions of exact
    * DECIMAL(38,0) sums (running-word counts cross 10^12 per language at
    * corpus scale, so the ×1e6 numerators leave int64).
    */
  val q169VocabCoverage: Q = (s, dir) => {
    val (_, vocab) = bpeTrain(s, dir)
    val vsize = vocab.select(col("word"),
      length(col("word")).as("n_char"),
      size(bpeSymbols(col("ws"))).as("n_sym"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .join(broadcast(vsize), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n_sym") === 1, 1L).otherwise(0L)).as("n_single"),
        sum(col("n_sym").cast("long")).as("n_sym_total"),
        sum(col("n_char").cast("long")).as("n_char_total"))
      .select(col("lang"), col("n_words"), col("n_single"),
        col("n_sym_total"), col("n_char_total"),
        expr("""CAST(CAST(n_single AS DECIMAL(38,0)) * 1000000
                | div n_words AS BIGINT)""".stripMargin)
          .as("single_rate_e6"),
        expr("""CAST(CAST(n_sym_total AS DECIMAL(38,0)) * 1000000
                | div n_words AS BIGINT)""".stripMargin)
          .as("fertility_e6"),
        expr("""CAST(CAST(n_char_total AS DECIMAL(38,0)) * 1000000
                | div n_sym_total AS BIGINT)""".stripMargin)
          .as("compression_e6"))
  }

  val q169Sql: String =
    s"""WITH $bpeCtes,
       |vs AS (SELECT word, LEN(word) AS n_char,
       |    LEN(STRING_SPLIT(TRIM(ws, '|'), '||')) AS n_sym
       |  FROM w$BpeRounds),
       |toks AS (SELECT lang, u.w AS word
       |  FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(w)),
       |agg AS (
       |  SELECT lang, COUNT(*) AS n_words,
       |    CAST(SUM(CASE WHEN n_sym = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_single,
       |    CAST(SUM(n_sym) AS BIGINT) AS n_sym_total,
       |    CAST(SUM(n_char) AS BIGINT) AS n_char_total
       |  FROM toks JOIN vs USING (word) GROUP BY lang)
       |SELECT lang, n_words, n_single, n_sym_total, n_char_total,
       |  CAST((CAST(n_single AS HUGEINT) * 1000000) // n_words AS BIGINT)
       |    AS single_rate_e6,
       |  CAST((CAST(n_sym_total AS HUGEINT) * 1000000) // n_words AS BIGINT)
       |    AS fertility_e6,
       |  CAST((CAST(n_char_total AS HUGEINT) * 1000000) // n_sym_total
       |    AS BIGINT) AS compression_e6
       |FROM agg""".stripMargin

  // ------------------------------------------- q223: readability panel

  /** q223: readability scoring — the Flesch-reading-ease shape of signal
    * (words/sentence, syllables/word) as a curation feature, in EXACT
    * integer arithmetic: sentences are terminator counts ('.', '!', '?' —
    * clamped to ≥ 1), the syllable proxy is vowel-group count (runs of
    * [aeiouy] in the lowercased text — the standard cheap estimator), and
    * the e3-scaled score is 206835 − 1015·W DIV S − 84600·Syl DIV W with
    * truncating division on non-negative operands, identical in both
    * engines. No floats, no libm. Reported per source with a banded grade
    * so the panel is a bounded summary, not a per-doc dump: one conditional
    * rollup per (source, band) after a shuffle-free per-row pass.
    *
    * The regexes are deliberately single-character-class ([aeiouy]+,
    * [.!?]) — the subset where Java's regex and DuckDB's RE2 agree by
    * construction.
    */
  val q223Readability: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).as("words"),
        greatest(length(regexp_replace(col("text"), "[^.!?]", "")), lit(1))
          .as("sentences"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
          .as("syllables"))
    val scored = d.select(col("doc_id"), col("source"), col("words"),
      col("sentences"), col("syllables"),
      expr("206835 - 1015 * words DIV sentences - 84600 * syllables DIV words")
        .as("flesch_e3"))
    scored
      .groupBy(col("source"),
        when(col("flesch_e3") >= 60000, "easy")
          .when(col("flesch_e3") >= 30000, "standard")
          .otherwise("difficult").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("total_words"),
        expr("CAST(SUM(flesch_e3) AS BIGINT)").as("sum_flesch_e3"),
        min(col("flesch_e3")).as("min_flesch_e3"),
        max(col("flesch_e3")).as("max_flesch_e3"))
      // sign-factored: the difficult band's sum can be negative, where
      // Spark DIV truncates but DuckDB // floors — they agree only on
      // non-negative operands
      .withColumn("mean_flesch_e3",
        expr("""CASE WHEN sum_flesch_e3 >= 0 THEN sum_flesch_e3 DIV n_docs
               |     ELSE -((-sum_flesch_e3) DIV n_docs) END""".stripMargin))
  }

  val q223Sql: String =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    LEN(STRING_SPLIT(text, ' ')) AS words,
      |    GREATEST(LEN(REGEXP_REPLACE(text, '[^.!?]', '', 'g')), 1)
      |      AS sentences,
      |    LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+')) AS syllables
      |  FROM documents),
      |sc AS (
      |  SELECT source, words, sentences, syllables,
      |    206835 - 1015 * words // sentences - 84600 * syllables // words
      |      AS flesch_e3
      |  FROM f)
      |SELECT source,
      |  CASE WHEN flesch_e3 >= 60000 THEN 'easy'
      |       WHEN flesch_e3 >= 30000 THEN 'standard'
      |       ELSE 'difficult' END AS band,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(words) AS BIGINT) AS total_words,
      |  CAST(SUM(flesch_e3) AS BIGINT) AS sum_flesch_e3,
      |  MIN(flesch_e3) AS min_flesch_e3,
      |  MAX(flesch_e3) AS max_flesch_e3,
      |  CAST(CASE WHEN SUM(flesch_e3) >= 0
      |       THEN SUM(flesch_e3) // COUNT(*)
      |       ELSE -((-SUM(flesch_e3)) // COUNT(*)) END AS BIGINT)
      |    AS mean_flesch_e3
      |FROM sc
      |GROUP BY 1, 2""".stripMargin

  // ------------------- q257: content-defined chunk deduplication

  /** q257: content-defined chunking dedup — the storage-dedup construction
    * (Muthitacharoen et al., LBFS SOSP 2001) next to q84's FIXED segments:
    * chunk boundaries are declared wherever a token's hash falls in a 1/8
    * band of the hash space, so boundaries are a pure function of CONTENT —
    * an insertion resynchronizes after one chunk instead of shifting every
    * downstream segment the way fixed-width splitting does. Chunk identity
    * is an order-sensitive exact signature (Σ position·hash-low-bits — int64
    * by construction at any chunk length), and the report ranks the most
    * duplicated chunks with corpus totals attached.
    *
    * Plan: one token pass (posexplode stays codegen), two windows over the
    * same (doc, pos) sort — Spark reuses one shuffle+sort for both — then a
    * signature rollup whose key space is |distinct chunks|; the top-10 has
    * a total order (occurrences desc, sig, len). At 100 TB the boundary
    * draw uses HashMode.Fast exactly like the fingerprint twins.
    */
  val q257CdcChunks: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("th", Text.portableHash(col("tok")))
    val dw = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val ch = toks
      .withColumn("bnd",
        when(col("pos") === 0 || col("th") % 64 < 8, 1L).otherwise(0L))
      .withColumn("chunk", sum(col("bnd")).over(dw))
    val cw = Window.partitionBy(col("doc_id"), col("chunk")).orderBy(col("pos"))
    val sigs = ch.withColumn("rn", row_number().over(cw))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("len"),
        sum(col("rn") * (col("th") % 1048576)).as("sig"))
    // the chunk rollup feeds BOTH the top-10 and the corpus totals —
    // localCheckpoint (docs/SCALE.md #3) so lineage can't replay the
    // token pass per branch
    val byChunk = sigs.groupBy(col("sig"), col("len"))
      .agg(count(lit(1)).as("occurrences"))
      .localCheckpoint()
    val summary = byChunk.agg(sum(col("occurrences")).as("total_chunks"),
      count(lit(1)).as("distinct_chunks"))
      .select(col("total_chunks"), col("distinct_chunks"),
        expr("""CAST((total_chunks - distinct_chunks) * 1000000
               | DIV total_chunks AS BIGINT)""".stripMargin)
          .as("dup_rate_e6"))
    byChunk.orderBy(col("occurrences").desc, col("sig"), col("len"))
      .limit(10)
      .crossJoin(broadcast(summary))
  }

  val q257Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tok AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    CAST(concat('0x', substr(md5(t[i]), 1, 15)) AS BIGINT) AS th
      |  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t))) AS u(i)),
      |ch AS (
      |  SELECT doc_id, pos, th,
      |    SUM(CASE WHEN pos = 0 OR th % 64 < 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
      |  FROM tok),
      |r AS (
      |  SELECT doc_id, chunk, th,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id, chunk ORDER BY pos) AS rn
      |  FROM ch),
      |sg AS (
      |  SELECT doc_id, chunk, CAST(COUNT(*) AS BIGINT) AS len,
      |    CAST(SUM(rn * (th % 1048576)) AS BIGINT) AS sig
      |  FROM r GROUP BY doc_id, chunk),
      |byc AS (
      |  SELECT sig, len, CAST(COUNT(*) AS BIGINT) AS occurrences
      |  FROM sg GROUP BY sig, len),
      |summ AS (
      |  SELECT CAST(SUM(occurrences) AS BIGINT) AS total_chunks,
      |    CAST(COUNT(*) AS BIGINT) AS distinct_chunks
      |  FROM byc)
      |SELECT sig, len, occurrences, total_chunks, distinct_chunks,
      |  CAST((total_chunks - distinct_chunks) * 1000000 // total_chunks
      |    AS BIGINT) AS dup_rate_e6
      |FROM byc CROSS JOIN summ
      |ORDER BY occurrences DESC, sig, len LIMIT 10""".stripMargin

  // ------------------- q267: expected calibration error

  /** q267: ECE/MCE summary — the single-number calibration verdict over
    * q226's reliability bins (Naeini et al., "Obtaining Well Calibrated
    * Probabilities Using Bayesian Binning", AAAI 2015 popularized the
    * metric): expected calibration error is the bin-size-weighted mean
    * |confidence − accuracy| gap, maximum calibration error the worst bin,
    * plus the pooled Brier score. Every input is q226's exact e6/e12
    * integer output, and |gap| of an exact integer is exact, so the
    * summary needs no new corpus pass at all — one metadata fold over 10
    * bins (DECIMAL products per the q01 convention).
    */
  val q267Ece: Q = (s, dir) =>
    q226Calibration(s, dir).agg(
      sum(col("n_docs")).as("n_total"),
      expr("""CAST(SUM(CAST(n_docs AS DECIMAL(38,0)) * abs(gap_e6))
             | DIV SUM(n_docs) AS BIGINT)""".stripMargin).as("ece_e6"),
      max(abs(col("gap_e6"))).as("mce_e6"),
      expr("""CAST(SUM(CAST(n_docs AS DECIMAL(38,0)) * mean_brier_e12)
             | DIV SUM(n_docs) AS BIGINT)""".stripMargin).as("brier_e12"))

  val q267Sql: String =
    s"""WITH bins AS ($q226Sql)
       |SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
       |  CAST(SUM(CAST(n_docs AS HUGEINT) * ABS(gap_e6)) // SUM(n_docs)
       |    AS BIGINT) AS ece_e6,
       |  CAST(MAX(ABS(gap_e6)) AS BIGINT) AS mce_e6,
       |  CAST(SUM(CAST(n_docs AS HUGEINT) * mean_brier_e12) // SUM(n_docs)
       |    AS BIGINT) AS brier_e12
       |FROM bins""".stripMargin

  // ---------- q430: Murphy decomposition of the Brier score

  /** q430: the Murphy (1973) decomposition — the classic answer to
    * "WHY is the Brier score what it is": over q226's ten reliability
    * bins, Brier = REL − RES + UNC splits the binned forecaster's
    * score into reliability (calibration gap mass — lower is better),
    * resolution (how far bin outcome rates spread from the base rate —
    * higher is better) and uncertainty (the base rate's own variance,
    * a property of the data the forecaster cannot change). q267 gives
    * the single number; this explains it, and the in-output identity
    * column pins the algebra. Each term stages as ONE floor per bin
    * over exact integers (n_k-cleared squared gaps), then one floor at
    * the fold, so both engines agree bit-for-bit.
    *
    * Plan: rides q226's 10-bin rollup — a metadata fold, no new
    * corpus pass.
    */
  val q430BrierDecomposition: Q = (s, dir) => {
    val bins = q226Calibration(s, dir)
      .select(col("n_docs"), col("n_events"), col("mean_phat_e6"))
    val tot = bins.agg(sum(col("n_docs")).cast(dec).as("nn"),
      sum(col("n_events")).cast(dec).as("kk"))
      .withColumn("obar_e6", expr("kk * 1000000 DIV nn"))
    val staged = bins.crossJoin(broadcast(tot))
      .select(col("nn"), col("kk"), col("obar_e6"),
        expr(fdiv(
          """(CAST(mean_phat_e6 AS DECIMAL(38,0)) * n_docs
            | - CAST(n_events AS DECIMAL(38,0)) * 1000000) *
            |(CAST(mean_phat_e6 AS DECIMAL(38,0)) * n_docs
            | - CAST(n_events AS DECIMAL(38,0)) * 1000000)"""
            .stripMargin.replace("\n", " "), "n_docs")).as("rel_t"),
        expr(fdiv(
          """(CAST(n_events AS DECIMAL(38,0)) * 1000000
            | - CAST(n_docs AS DECIMAL(38,0)) * obar_e6) *
            |(CAST(n_events AS DECIMAL(38,0)) * 1000000
            | - CAST(n_docs AS DECIMAL(38,0)) * obar_e6)"""
            .stripMargin.replace("\n", " "), "n_docs")).as("res_t"))
    staged.groupBy(col("nn"), col("kk"), col("obar_e6"))
      .agg(sum(col("rel_t")).as("rel_s"), sum(col("res_t")).as("res_s"))
      .select(col("nn").cast("long").as("n_total"),
        col("obar_e6").cast("long").as("base_rate_e6"),
        expr(fdiv("rel_s", "nn")).cast("long").as("reliability_e12"),
        expr(fdiv("res_s", "nn")).cast("long").as("resolution_e12"),
        expr(fdiv("kk * (nn - kk) * 1000000000000", "nn * nn"))
          .cast("long").as("uncertainty_e12"),
        (expr(fdiv("rel_s", "nn")) - expr(fdiv("res_s", "nn")) +
          expr(fdiv("kk * (nn - kk) * 1000000000000", "nn * nn")))
          .cast("long").as("brier_binned_e12"))
  }

  val q430Sql: String =
    s"""WITH bins AS ($q226Sql),
      |tot AS (
      |  SELECT CAST(SUM(n_docs) AS HUGEINT) AS nn,
      |    CAST(SUM(n_events) AS HUGEINT) AS kk,
      |    CAST(SUM(n_events) AS HUGEINT) * 1000000 // SUM(n_docs)
      |      AS obar_e6
      |  FROM bins),
      |staged AS (
      |  SELECT nn, kk, obar_e6,
      |    (CAST(mean_phat_e6 AS HUGEINT) * n_docs
      |      - CAST(n_events AS HUGEINT) * 1000000) *
      |    (CAST(mean_phat_e6 AS HUGEINT) * n_docs
      |      - CAST(n_events AS HUGEINT) * 1000000) // n_docs AS rel_t,
      |    (CAST(n_events AS HUGEINT) * 1000000
      |      - CAST(n_docs AS HUGEINT) * obar_e6) *
      |    (CAST(n_events AS HUGEINT) * 1000000
      |      - CAST(n_docs AS HUGEINT) * obar_e6) // n_docs AS res_t
      |  FROM bins CROSS JOIN tot)
      |SELECT CAST(nn AS BIGINT) AS n_total,
      |  CAST(obar_e6 AS BIGINT) AS base_rate_e6,
      |  CAST(SUM(rel_t) // nn AS BIGINT) AS reliability_e12,
      |  CAST(SUM(res_t) // nn AS BIGINT) AS resolution_e12,
      |  CAST(kk * (nn - kk) * 1000000000000 // (nn * nn) AS BIGINT)
      |    AS uncertainty_e12,
      |  CAST(SUM(rel_t) // nn - SUM(res_t) // nn
      |    + kk * (nn - kk) * 1000000000000 // (nn * nn) AS BIGINT)
      |    AS brier_binned_e12
      |FROM staged GROUP BY nn, kk, obar_e6""".stripMargin

  // ------------- q331: binned cross-entropy + Hosmer-Lemeshow statistic

  /** log2(10⁶)·10⁶, the fixed-point rebase constant for probabilities
    * stored at e6 (plan-build libm, inlined identically in both engines).
    */
  val Log2MillionE6: Long =
    Math.round(Math.log(1e6) / Math.log(2.0) * 1e6)

  /** q331: the two calibration readouts q226/q267 still lacked — the
    * binned CROSS-ENTROPY (log-loss, base 2: mean bits per document of
    * the calibrated binwise forecaster — the proper scoring rule that
    * punishes confident misses where Brier saturates) and the
    * Hosmer–Lemeshow χ² = Σ (k − n·p̄)²/(n·p̄·(1−p̄)) over the same ten
    * bins, the classical named test for "is the calibration curve
    * consistent with the predictions". Bin probabilities clamp to
    * [1, 10⁶−1] ppm so empty-side bins contribute large-but-finite bits;
    * logs are the portable e6 log2 rebased by [[Log2MillionE6]];
    * everything else is exact integer staging with one floor per term.
    *
    * Plan: rides q226's 10-bin rollup — nothing after the scored scan is
    * corpus-scale; the finish is a 1-row fold.
    */
  val q331LoglossHl: Q = (s, dir) => {
    val bins = q226Calibration(s, dir)
      .select(col("bin"), col("n_docs"), col("n_events"),
        least(greatest(col("mean_phat_e6"), lit(1L)), lit(999999L))
          .as("p_e6"))
      .withColumn("q_e6", lit(1000000L) - col("p_e6"))
    val terms = bins
      .withColumn("xent_e6",
        col("n_events") * (lit(Log2MillionE6) -
          expr(Text.log2e6SparkSql("p_e6"))) +
        (col("n_docs") - col("n_events")) * (lit(Log2MillionE6) -
          expr(Text.log2e6SparkSql("q_e6"))))
      .withColumn("hl_num",
        ((col("n_events") * 1000000L - col("n_docs") * col("p_e6"))
          .cast("decimal(38,0)") *
          (col("n_events") * 1000000L - col("n_docs") * col("p_e6"))))
      .withColumn("hl_den",
        expr(fdiv("CAST(n_docs AS DECIMAL(38,0)) * p_e6 * q_e6", "1000000")))
      .withColumn("hl_e6", expr(fdiv("hl_num", "hl_den")))
    terms.agg(sum(col("n_docs")).as("n_total"),
        count(lit(1)).as("n_bins"),
        sum(col("xent_e6").cast("decimal(38,0)")).as("xent_sum"),
        sum(col("hl_e6")).as("hl_sum"))
      .select(col("n_total").cast("long").as("n_total"),
        col("n_bins").cast("long").as("n_bins"),
        expr(fdiv("xent_sum", "n_total")).cast("long")
          .as("xent2_bits_e6"),
        col("hl_sum").cast("long").as("hl_chi2_e6"))
  }

  val q331Sql: String =
    s"""WITH bins0 AS ($q226Sql),
       |bins AS (
       |  SELECT bin, n_docs, n_events,
       |    LEAST(GREATEST(mean_phat_e6, 1), 999999) AS p_e6,
       |    1000000 - LEAST(GREATEST(mean_phat_e6, 1), 999999) AS q_e6
       |  FROM bins0),
       |terms AS (
       |  SELECT n_docs, n_events,
       |    n_events * ($Log2MillionE6 - ${Text.log2e6DuckSql("p_e6")})
       |      + (n_docs - n_events)
       |        * ($Log2MillionE6 - ${Text.log2e6DuckSql("q_e6")}) AS xent_e6,
       |    (CAST(n_events * 1000000 - n_docs * p_e6 AS HUGEINT)
       |      * (n_events * 1000000 - n_docs * p_e6))
       |      // (CAST(n_docs AS HUGEINT) * p_e6 * q_e6 // 1000000) AS hl_e6
       |  FROM bins)
       |SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
       |  COUNT(*) AS n_bins,
       |  CAST(SUM(CAST(xent_e6 AS HUGEINT)) // SUM(n_docs) AS BIGINT)
       |    AS xent2_bits_e6,
       |  CAST(SUM(hl_e6) AS BIGINT) AS hl_chi2_e6
       |FROM terms""".stripMargin

  // --------------- q336: isotonic (PAVA) recalibration of the q226 curve

  /** q336: isotonic-regression recalibration — the FIX for what q226 only
    * measures: fit the best monotone-nondecreasing event-rate curve to the
    * ten reliability bins (weights = bin counts), i.e. the
    * pool-adjacent-violators solution, via its closed min-max form
    *
    *   ŷ_k = max_{i≤k} min_{j≥k} ( Σ_{t∈[i,j]} events_t / Σ_{t∈[i,j]} docs_t )
    *
    * — no iteration, no order-dependent pooling loop: every one of the
    * ≤ 55 bin intervals gets its exact weighted mean floored at e12, and
    * because floor is nondecreasing it COMMUTES with min and max, so the
    * integer max-min equals ⌊true PAVA value⌋ exactly — the quantization
    * is provably the floor of the real fit, not an approximation of it.
    * Each bin reports raw vs fitted rate and whether PAVA pooled it (the
    * fitted value moved), giving the monotone probability map a production
    * scorer would apply (Zadrozny–Elkan binning + isotonic calibration).
    *
    * Plan: rides q226's single corpus pass; everything after is metadata —
    * 10 rows → 55 intervals → ≤ 220 (i,k,j) triples, all broadcast joins.
    */
  val q336Isotonic: Q = (s, dir) => {
    val rateE12 =
      fdiv("CAST(n_events AS DECIMAL(38,0)) * 1000000000000", "n_docs")
    // the 10-bin rollup feeds the i/j/k sides and the final report —
    // checkpoint so the corpus scan behind it runs once
    val bins = q226Calibration(s, dir)
      .select(col("bin"), col("n_docs"), col("n_events"))
      .localCheckpoint()
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // global window over the 10-row metadata frame, never the corpus
    val pre = bins
      .withColumn("cd", sum(col("n_docs")).over(w))
      .withColumn("ce", sum(col("n_events")).over(w))
    val iv = pre
      .select(col("bin").as("i"), col("cd").as("cdi"), col("ce").as("cei"),
        col("n_docs").as("ndi"), col("n_events").as("nei"))
      .join(broadcast(pre.select(col("bin").as("j"), col("cd").as("cdj"),
        col("ce").as("cej"))), col("i") <= col("j"))
      .select(col("i"), col("j"),
        (col("cdj") - col("cdi") + col("ndi")).as("n_docs"),
        (col("cej") - col("cei") + col("nei")).as("n_events"))
      .withColumn("avg_e12", expr(rateE12))
    val fitted = iv
      .join(broadcast(pre.select(col("bin").as("k"))),
        col("i") <= col("k") && col("k") <= col("j"))
      .groupBy(col("i"), col("k")).agg(min(col("avg_e12")).as("mn"))
      .groupBy(col("k")).agg(max(col("mn")).as("iso_e12"))
    bins.join(broadcast(fitted), col("bin") === col("k"))
      .withColumn("rate_e12", expr(rateE12))
      .select(col("bin"), col("n_docs"), col("n_events"),
        col("rate_e12").cast("long").as("rate_e12"),
        col("iso_e12").cast("long").as("iso_e12"),
        (col("iso_e12") =!= col("rate_e12")).cast("long").as("pooled"))
      .orderBy(col("bin"))
  }

  val q336Sql: String =
    s"""WITH bins AS ($q226Sql),
       |pre AS (
       |  SELECT bin, n_docs, n_events,
       |    SUM(n_docs) OVER (ORDER BY bin) AS cd,
       |    SUM(n_events) OVER (ORDER BY bin) AS ce
       |  FROM bins),
       |iv AS (
       |  SELECT i.bin AS i, j.bin AS j,
       |    CAST(j.ce - i.ce + i.n_events AS HUGEINT) * 1000000000000
       |      // (j.cd - i.cd + i.n_docs) AS avg_e12
       |  FROM pre i JOIN pre j ON i.bin <= j.bin),
       |fit AS (
       |  SELECT k, MAX(mn) AS iso_e12 FROM (
       |    SELECT iv.i, k.bin AS k, MIN(avg_e12) AS mn
       |    FROM iv JOIN pre k ON iv.i <= k.bin AND k.bin <= iv.j
       |    GROUP BY iv.i, k.bin) m
       |  GROUP BY k)
       |SELECT bin, n_docs, n_events,
       |  CAST(CAST(n_events AS HUGEINT) * 1000000000000 // n_docs AS BIGINT)
       |    AS rate_e12,
       |  CAST(iso_e12 AS BIGINT) AS iso_e12,
       |  CASE WHEN iso_e12 <>
       |      CAST(n_events AS HUGEINT) * 1000000000000 // n_docs
       |    THEN 1 ELSE 0 END AS pooled
       |FROM bins JOIN fit ON bins.bin = fit.k
       |ORDER BY bin""".stripMargin

  // ----------------- q343: Fleiss' kappa over three quality raters

  /** Average-token-length threshold (×100) for rater 2's low vote. */
  val FleissAvgLenX100 = 470L

  /** q343: Fleiss' kappa — do the three DETERMINISTIC quality raters
    * (short-doc rule: n_tokens < 40; dense-token rule: avg token length
    * × 100 > [[FleissAvgLenX100]]; no-stopword rule: zero 'the') agree
    * beyond chance when flagging low-quality documents? The n-rater
    * generalization of q273's Cohen (two raters), over ALL documents so
    * the subject universe needs no sampling frame. With n = 3 raters,
    * n_b = low votes on doc b, S = Σn_b, A = Σ[n_b(n_b−1)+(3−n_b)(2−n_b)]
    * (A is even — each term is a product of consecutive integers):
    *
    *   P̄ = A/(6N),  P_e = (S² + (3N−S)²)/(9N²),
    *   κ = (3·N·A/2 − S² − (3N−S)²) / (9N² − S² − (3N−S)²)
    *
    * — exact integers end to end, one signed e6 floor for κ (negative
    * when raters agree LESS than chance). Disagreement between cheap
    * heuristic filters is exactly what decides whether a curation
    * pipeline needs a learned judge or majority vote suffices.
    *
    * Plan: one documents pass with codegen token counts → a 1-row fold.
    */
  val q343FleissKappa: Q = (s, dir) => {
    val t = Text.tokens(col("text"))
    val nTok = size(t)
    val nChars = length(col("text"))
    val votes = Tables.documents(s, dir)
      .select(
        (when(nTok < 40, 1L).otherwise(0L) +
          when((nChars - nTok + 1) * 100 > lit(FleissAvgLenX100) * nTok, 1L)
            .otherwise(0L) +
          when(size(filter(t, x => x === "the")) === 0, 1L).otherwise(0L))
          .as("nl"))
    votes.agg(count(lit(1)).cast(dec).as("nn"),
        sum(col("nl")).cast(dec).as("s"),
        sum(col("nl").cast(dec) * (col("nl") - 1) +
          (lit(3).cast(dec) - col("nl")) * (lit(2).cast(dec) - col("nl")))
          .as("a"))
      .select(col("nn"), col("s"), col("a"),
        (col("s") * col("s") +
          (lit(3).cast(dec) * col("nn") - col("s")) *
          (lit(3).cast(dec) * col("nn") - col("s"))).as("b"))
      .select(col("nn").cast("long").as("n_docs"),
        col("s").cast("long").as("s_low"),
        expr(fdiv("a * 1000000", "6 * nn")).cast("long").as("p_bar_e6"),
        expr(fdiv("b * 1000000", "9 * nn * nn")).cast("long").as("p_e_e6"),
        expr(sdivBigint(s"(3 * nn * ${fdiv("a", "2")} - b) * 1000000",
          "9 * nn * nn - b")).as("kappa_e6"))
  }

  val q343Sql: String =
    s"""WITH v AS (
       |  SELECT
       |    (CASE WHEN LEN(STRING_SPLIT(text, ' ')) < 40 THEN 1 ELSE 0 END
       |     + CASE WHEN (LENGTH(text) - LEN(STRING_SPLIT(text, ' ')) + 1)
       |         * 100 > $FleissAvgLenX100 * LEN(STRING_SPLIT(text, ' '))
       |         THEN 1 ELSE 0 END
       |     + CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
       |         x -> x = 'the')) = 0 THEN 1 ELSE 0 END) AS nl
       |  FROM documents),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
       |    CAST(SUM(nl) AS HUGEINT) AS s,
       |    CAST(SUM(nl * (nl - 1) + (3 - nl) * (2 - nl)) AS HUGEINT) AS a
       |  FROM v),
       |st AS (
       |  SELECT nn, s, a,
       |    s * s + (3 * nn - s) * (3 * nn - s) AS b
       |  FROM agg)
       |SELECT CAST(nn AS BIGINT) AS n_docs, CAST(s AS BIGINT) AS s_low,
       |  CAST(a * 1000000 // (6 * nn) AS BIGINT) AS p_bar_e6,
       |  CAST(b * 1000000 // (9 * nn * nn) AS BIGINT) AS p_e_e6,
       |  CAST(CASE WHEN 3 * nn * (a // 2) - b >= 0 THEN 1 ELSE -1 END *
       |    (ABS((3 * nn * (a // 2) - b) * 1000000) // (9 * nn * nn - b))
       |    AS BIGINT) AS kappa_e6
       |FROM st""".stripMargin

  // ----------- q348: G-test (log-likelihood ratio) of lang × source

  /** q348: the likelihood-ratio G-test on the language × source
    * contingency — the information-theoretic twin of q153's Pearson χ²,
    * and the one a curation pipeline should prefer when cells are small
    * or imbalanced (G is additive across partitions of the table, χ² is
    * not). In base-2 form with the portable LUT log,
    *
    *   G_bits = Σ_cells O·(log2 O + log2 N − log2 R − log2 C),
    *   G = 2·ln2 · G_bits
    *
    * — the decomposed spelling keeps every log2e6 argument ≤ N (no O·N
    * product that would overflow bin()'s BIGINT at corpus scale), each
    * cell term is a signed exact integer at e6, and 2·ln2 is an inlined
    * plan-time e6 constant. Zero cells contribute exactly their
    * mathematical limit (0) by never appearing in the rollup.
    *
    * Plan: one documents pass → cell/row/column rollups (metadata-sized;
    * the two margins broadcast onto the cells); a 1-row fold ends it.
    */
  val q348GTest: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(col("lang"), col("source"))
    val cells = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    val rows = d.groupBy(col("lang")).agg(count(lit(1)).as("rl"))
    val cols = d.groupBy(col("source")).agg(count(lit(1)).as("cl"))
    val n = d.agg(count(lit(1)).as("nn"))
    val terms = cells
      .join(broadcast(rows), Seq("lang"))
      .join(broadcast(cols), Seq("source"))
      .crossJoin(broadcast(n))
      .select(col("o"),
        expr(s"CAST(o AS DECIMAL(38,0)) * (${l2("o")} + ${l2("nn")} - " +
          s"${l2("rl")} - ${l2("cl")})").as("t"))
    val folded = terms.agg(count(lit(1)).as("n_cells"),
      sum(col("t")).as("gbits"))
    val df = rows.agg(count(lit(1)).as("nr"))
      .crossJoin(cols.agg(count(lit(1)).as("nc")))
      .select(((col("nr") - 1) * (col("nc") - 1)).as("df"))
    folded.crossJoin(broadcast(df))
      .select(col("n_cells").cast("long").as("n_cells"),
        col("df").cast("long").as("df"),
        col("gbits").cast("long").as("g_bits_e6"),
        expr(sdivBigint("gbits * 1386294", "1000000")).as("g_e6"))
  }

  val q348Sql: String = {
    s"""WITH d AS (SELECT lang, source FROM documents),
       |cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
       |  FROM d GROUP BY lang, source),
       |rws AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS rl
       |  FROM d GROUP BY lang),
       |cls AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cl
       |  FROM d GROUP BY source),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d),
       |terms AS (
       |  SELECT CAST(o AS HUGEINT) *
       |    (${duckL2("o")} + ${duckL2("nn")} - ${duckL2("rl")} - ${duckL2("cl")}) AS t
       |  FROM cells JOIN rws USING (lang) JOIN cls USING (source)
       |  CROSS JOIN n),
       |folded AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells, SUM(t) AS gbits
       |  FROM terms),
       |df AS (
       |  SELECT ((SELECT COUNT(*) FROM rws) - 1) *
       |    ((SELECT COUNT(*) FROM cls) - 1) AS df)
       |SELECT n_cells, CAST(df AS BIGINT) AS df,
       |  CAST(gbits AS BIGINT) AS g_bits_e6,
       |  CAST(CASE WHEN gbits >= 0 THEN 1 ELSE -1 END *
       |    (ABS(gbits * 1386294) // 1000000) AS BIGINT) AS g_e6
       |FROM folded CROSS JOIN df""".stripMargin
  }

  // ----------- q385: Spiegelhalter's Z calibration test (doc-level)

  /** q385: Spiegelhalter's Z — the calibration test that needs NO
    * binning: where q331's Hosmer–Lemeshow inherits q226's ten-bin
    * choice, Spiegelhalter tests the raw per-document forecasts,
    *
    *   Z = Σ(y − p̂)(1 − 2p̂) / √(Σ(1 − 2p̂)²·p̂(1 − p̂))
    *
    * — the numerator is exactly zero in expectation for a calibrated
    * forecaster REGARDLESS of discrimination, which is what makes it the
    * sharpest of the three calibration reads. Both sums are exact
    * integer folds of the e6 probabilities (numerator e12, denominator
    * e24, ≤ 10³⁶ at 10¹² docs); the single √ is IEEE.
    *
    * Plan: the q99 map-only scoring pass + broadcast label join → one
    * 1-row fold. Nothing after the scan is corpus-scale.
    */
  val q385Spiegelhalter: Q = (s, dir) => {
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    val scored = Tables.documents(s, dir)
      .select((col("n_chars") >= 300).cast("long").as("resp"),
        least(greatest(lit(500000L) + q99ScoreCol * 1000L, lit(0L)),
          lit(1000000L)).as("p"))
    val folded = scored.agg(count(lit(1)).as("n"),
      sum((lit(1000000L) * col("resp") - col("p")).cast(dec) *
        (lit(1000000L) - lit(2L) * col("p"))).as("num_e12"),
      sum((lit(1000000L) - lit(2L) * col("p")).cast(dec) *
        (lit(1000000L) - lit(2L) * col("p")) * col("p") *
        (lit(1000000L) - col("p"))).as("den_e24"))
    folded.select(col("n").cast("long").as("n_docs"),
      (col("num_e12").cast("double") /
        sqrt(col("den_e24").cast("double"))).as("z_d"))
  }

  val q385Sql: String = {
    s"""WITH $q99ScoreCtes,
       |pd AS (
       |  SELECT CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS resp,
       |    LEAST(GREATEST(500000 + s.score * 1000, 0), 1000000) AS p
       |  FROM scored s JOIN documents d USING (doc_id)),
       |folded AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(1000000 * resp - p AS HUGEINT) * (1000000 - 2 * p))
       |      AS num_e12,
       |    SUM(CAST(1000000 - 2 * p AS HUGEINT) * (1000000 - 2 * p)
       |      * p * (1000000 - p)) AS den_e24
       |  FROM pd)
       |SELECT n AS n_docs,
       |  ${dbl("num_e12")} / sqrt(${dbl("den_e24")}) AS z_d
       |FROM folded""".stripMargin
  }

  // -------- q386: Cox calibration slope/intercept on the logit scale

  /** q386: the Cox recalibration line — regress observed bin log-odds on
    * predicted bin log-odds over q226's ten reliability bins: slope 1 /
    * intercept 0 is perfect calibration, slope < 1 is overconfidence
    * (the common failure q336's isotonic fit repairs), intercept ≠ 0 is
    * base-rate shift. Logits ride the portable LUT log
    * (logit p = ln2·(log2 p_e6 − log2(10⁶ − p_e6))), rates clamp at
    * 1 ppm (the q331 rule), and the 10-point OLS is exact integer
    * sums with signed e6 floors.
    *
    * Plan: rides q226's single corpus pass; the fit is 10-row metadata.
    */
  val q386CoxCalibration: Q = (s, dir) => {
    def logit(p: String) =
      s"""CAST(CASE WHEN (${l2(p)} - ${l2(s"1000000 - ($p)")}) >= 0 THEN 1
         | ELSE -1 END * CAST((abs((${l2(p)} - ${l2(s"1000000 - ($p)")})
         | * 693147) - abs((${l2(p)} - ${l2(s"1000000 - ($p)")}) * 693147)
         | % 1000000) / 1000000 AS DECIMAL(38,0)) AS DECIMAL(38,0))"""
        .stripMargin.replace("\n", " ")
    val pts = q226Calibration(s, dir)
      .select(
        expr("GREATEST(LEAST(mean_phat_e6, 999999), 1)").as("pp"),
        expr("GREATEST(LEAST(event_rate_e6, 999999), 1)").as("oo"))
      .select(expr(logit("pp")).as("x"), expr(logit("oo")).as("y"))
    val sums = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    sums.select(col("n").cast("long").as("n_bins"),
      expr(sdivBigint("(n * sxy - sx * sy) * 1000000", "n * sxx - sx * sx"))
        .as("slope_e6"),
      // x/y already carry e6, so the intercept ratio is e6 without a
      // further scale factor (the slope ratio is dimensionless and needs it)
      expr(sdivBigint("sy * sxx - sx * sxy", "n * sxx - sx * sx"))
        .as("intercept_ln_e6"))
  }

  val q386Sql: String = {
    def logit(p: String) =
      s"(${duckSdiv(s"(${duckL2(p)} - ${duckL2(s"1000000 - ($p)")}) * 693147", "1000000")})"
    s"""WITH bins AS ($q226Sql),
       |pts AS (
       |  SELECT ${logit("GREATEST(LEAST(mean_phat_e6, 999999), 1)")} AS x,
       |    ${logit("GREATEST(LEAST(event_rate_e6, 999999), 1)")} AS y
       |  FROM bins),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * x) AS sxx, SUM(x * y) AS sxy
       |  FROM pts)
       |SELECT CAST(n AS BIGINT) AS n_bins,
       |  CAST(${duckSdiv("(n * sxy - sx * sy) * 1000000", "n * sxx - sx * sx")}
       |    AS BIGINT) AS slope_e6,
       |  CAST(${duckSdiv("sy * sxx - sx * sxy", "n * sxx - sx * sx")}
       |    AS BIGINT) AS intercept_ln_e6
       |FROM sums""".stripMargin
  }

  // ------ q498: general-α mixture weights via the portable exp2 LUT

  /** Plan-time α ladder (per-mille) for the q498 mixing panel. */
  val MixAlphaPm: Seq[Long] = Seq(1000L, 700L, 500L, 300L)

  /** q498: temperature-weighted SOURCE mixing for a general α ladder —
    * q86's resampler is the α = ½ special case (√n weights exist
    * without a power function); the general w_s ∝ T_s^α every
    * multilingual-sampling recipe sweeps (Conneau et al. 2020) needs
    * x^α = exp2(α·log2 x), which the new portable exp2 LUT
    * ([[Text.exp2e6SparkSql]], the inverse of the log2 LUT) makes
    * bit-portable. Per α: integer weights, a largest-remainder
    * per-mille allocation that sums to 1000 EXACTLY (the q485
    * apportionment), and the mixture's effective source count
    * 2^H(shares) — the diversity a flatter α buys, made visible.
    *
    * Plan: one documents pass → per-source token rollup
    * (checkpointed) → 4-α plan-time spine × metadata windows.
    */
  val q498MixtureWeights: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("source"), Text.tokenCount(col("text")).as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("t_s"))
      .localCheckpoint()
    val alphas = s.createDataFrame(MixAlphaPm.map(Tuple1(_)))
      .toDF("alpha_pm")
    val weighted = alphas.crossJoin(toks)
      .withColumn("w", expr(Text.exp2e6SparkSql(
        s"CAST(alpha_pm * (${Text.log2e6SparkSql("t_s")}) div 1000" +
          " AS BIGINT)")))
      .localCheckpoint()
    val tot = weighted.groupBy(col("alpha_pm"))
      .agg(sum(col("w")).as("wt"),
        sum(col("w").cast(dec) *
          expr(Text.log2e6SparkSql("w"))).as("swl"))
      .withColumn("h_e6",
        expr(Text.log2e6SparkSql("wt")).cast(dec) -
          expr(fdiv("swl", "wt")))
      .select(col("alpha_pm"), col("wt"),
        expr(Text.exp2e6SparkSql("CAST(h_e6 AS BIGINT)"))
          .as("eff_sources"))
    val staged = weighted.join(tot, "alpha_pm")
      .withColumn("base", expr("(1000 * w) div wt"))
      .withColumn("rem", expr("(1000 * w) % wt"))
      .localCheckpoint()
    val left = staged.groupBy(col("alpha_pm"))
      .agg((lit(1000L) - sum(col("base"))).as("lv"))
    staged.join(left, "alpha_pm")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("alpha_pm"))
          .orderBy(col("rem").desc, col("source"))))
      .select(col("alpha_pm"), col("source"), col("t_s").as("tokens"),
        col("w").as("weight_raw"),
        (col("base") + (col("rk") <= col("lv")).cast("long"))
          .as("alloc_pm"),
        col("eff_sources"))
      .orderBy(col("alpha_pm"), col("source"))
  }

  val q498Sql: String = {
    val rungs = MixAlphaPm.map(a => s"($a)").mkString(", ")
    def e2(y: String) = Text.exp2e6DuckSql(y)
    s"""WITH toks AS (
      |  SELECT source,
      |    CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS t_s
      |  FROM documents GROUP BY source),
      |alphas(alpha_pm) AS (VALUES $rungs),
      |weighted AS (
      |  SELECT CAST(alpha_pm AS BIGINT) AS alpha_pm, source, t_s,
      |    ${e2(s"CAST(alpha_pm * (${duckL2("t_s")}) // 1000 AS BIGINT)")}
      |      AS w
      |  FROM alphas CROSS JOIN toks),
      |tot AS (
      |  SELECT alpha_pm, SUM(w) AS wt,
      |    SUM(CAST(w AS HUGEINT) * (${duckL2("w")})) AS swl
      |  FROM weighted GROUP BY alpha_pm),
      |hh AS (
      |  SELECT alpha_pm, wt,
      |    CAST((${duckL2("wt")}) - swl // wt AS BIGINT) AS h_e6
      |  FROM tot),
      |eff AS (
      |  SELECT alpha_pm, wt, ${e2("h_e6")} AS eff_sources FROM hh),
      |staged AS (
      |  SELECT w.alpha_pm, w.source, w.t_s, w.w, e.eff_sources,
      |    (1000 * w.w) // e.wt AS base, (1000 * w.w) % e.wt AS rem
      |  FROM weighted w JOIN eff e USING (alpha_pm)),
      |leftov AS (
      |  SELECT alpha_pm, 1000 - SUM(base) AS lv
      |  FROM staged GROUP BY alpha_pm),
      |ranked AS (
      |  SELECT s.*, l.lv,
      |    ROW_NUMBER() OVER (PARTITION BY s.alpha_pm
      |      ORDER BY s.rem DESC, s.source) AS rk
      |  FROM staged s JOIN leftov l USING (alpha_pm))
      |SELECT alpha_pm, source, t_s AS tokens,
      |  CAST(w AS BIGINT) AS weight_raw,
      |  CAST(base + CASE WHEN rk <= lv THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc_pm,
      |  CAST(eff_sources AS BIGINT) AS eff_sources
      |FROM ranked ORDER BY alpha_pm, source""".stripMargin
  }

  // ------ q499: per-document character-entropy gibberish screen

  /** Suspect threshold: character entropy below 3.2 bits flags
    * mojibake/gibberish (natural-language text runs ~4–4.5 bits/char).
    */
  val CharEntropySuspectE6 = 3200000L

  /** q499: the character-entropy gibberish screen — the per-DOCUMENT
    * information-theoretic quality gate next to the corpus-level
    * entropy family (q276/q278) and the heuristic quality scorer:
    * H(doc) = log₂n − (Σ c·log₂c)/n over the document's character
    * counts, entirely on the portable log2 LUT, so the flag that
    * drops a document is bit-identical in both engines. Too-low
    * entropy marks repeated-character junk and mojibake; the panel
    * carries the exact entropy so thresholds can be re-cut without
    * recomputing.
    *
    * Plan: one char-grain explode (the q136 shape — linear, heavy,
    * honest), (doc, char) partial-agg rollup, doc-grain fold. The
    * shuffle carries counts, never text.
    */
  val q499CharEntropy: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(dec) *
          expr(Text.log2e6SparkSql("c"))).as("sl"))
      .select(col("doc_id"), col("n").as("n_chars"),
        (expr(Text.log2e6SparkSql("n")).cast(dec) -
          expr(fdiv("sl", "n"))).cast("long").as("entropy_e6"))
      .withColumn("is_suspect",
        (col("entropy_e6") < CharEntropySuspectE6).cast("long"))
  }

  val q499Sql: String = {
    s"""WITH chars AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) AS ch
      |  FROM documents),
      |cc AS (
      |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM chars GROUP BY 1, 2),
      |docs AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
      |    SUM(CAST(c AS HUGEINT) * (${duckL2("c")})) AS sl
      |  FROM cc GROUP BY doc_id)
      |SELECT doc_id, n AS n_chars,
      |  CAST((${duckL2("n")}) - sl // n AS BIGINT) AS entropy_e6,
      |  CAST(CASE WHEN (${duckL2("n")}) - sl // n < $CharEntropySuspectE6
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_suspect
      |FROM docs""".stripMargin
  }

  // ------ q506: submodular greedy max-coverage data selection

  /** Candidate pool, selection budget and per-doc sketch size for q506. */
  val CoverCandidates = 50
  val CoverBudget = 10
  val CoverSketchK = 64

  /** q506: greedy max-coverage subset selection over BOTTOM-K sketches
    * — the SUBMODULAR data-selection operator (facility-location /
    * coreset family) between dedup (remove redundancy) and mixing
    * (reweight sources): from the [[CoverCandidates]] longest
    * documents, pick [[CoverBudget]] that together cover the most
    * content. Coverage is measured on each document's bottom-
    * [[CoverSketchK]] portable-hash shingle sketch — full shingle sets
    * don't fit a selection loop at 100 TB, and the bottom-k sketch is
    * the standard mergeable summary whose union size estimates true
    * coverage; stated in-output, not hidden. Greedy (the canonical
    * (1−1/e) approximation) replays EXACTLY: each round's argmax packs
    * (gain, candidate-rank) into one small integer, ties to the
    * smaller doc_id. The engine folds over the 50×64 sketch table;
    * the oracle replays the same rounds as a LIST-state recursive
    * walk carrying the sketches as nested lists (chained CTE layers
    * inline exponentially in DuckDB — the q500 lesson — and the
    * recursive working table does not).
    *
    * Plan: one documents pass → top-50 → 50×64 sketch rollup →
    * 10 metadata rounds.
    */
  val q506CoverageSelect: Q = (s, dir) => {
    val top = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("nc"))
      .orderBy(col("nc").desc, col("doc_id")).limit(CoverCandidates)
    val ds = top.select(col("doc_id"),
        explode(Text.shingleSet(col("text"), 3)).as("shingle"))
      .select(col("doc_id"), Text.portableHash(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_set(col("h"))), 1, CoverSketchK)
        .as("sk"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    val sketches = ds.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getSeq[Long](1).toSet))
    val universe = sketches.flatMap(_._2).toSet
    val covered = scala.collection.mutable.Set.empty[Long]
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (1 to CoverBudget).foreach { _ =>
      val best = sketches
        .filterNot { case (d, _) => picked.exists(_._1 == d) }
        .map { case (d, sk) => (d, (sk -- covered).size.toLong) }
        .minBy { case (d, g) => (-g, d) }
      covered ++= sketches.find(_._1 == best._1).get._2
      picked += best
    }
    import s.implicits._
    val cum = picked.scanLeft(0L)(_ + _._2).tail
    picked.toSeq.zipWithIndex.map { case ((d, g), i) =>
      (i + 1L, d, g, cum(i), universe.size.toLong) }
      .toDF("round", "doc_id", "gain", "covered", "universe")
  }

  val q506Sql: String = {
    val K = CoverSketchK
    val jidx = (1 to CoverCandidates).mkString("[", ", ", "]")
    // the pick for step t+1 is computed AT step t from the updated
    // covered set and carried as state (the q497 device); picked'/cov'
    // inline w.nc, so the recursion has no aggregates, no LATERAL, and
    // references every CTE exactly once
    val pickedNext =
      s"list_append(w.picked, w.docs[CAST(w.nc % 64 AS INT)])"
    val covNext =
      s"""list_distinct(list_concat(w.cov,
         | w.shs[CAST(w.nc % 64 AS INT)]))""".stripMargin
        .replace("\n", " ")
    val ncNext =
      s"""list_min(list_transform($jidx, j ->
         | CASE WHEN list_contains($pickedNext, w.docs[j]) THEN 9999999
         | ELSE ($K - len(list_filter(w.shs[j],
         |   x -> NOT list_contains($covNext, x)))) * 64 + j
         | END))""".stripMargin.replace("\n", " ")
    val nc0 =
      s"""list_min(list_transform($jidx, j ->
         | ($K - len(shs[j])) * 64 + j))""".stripMargin.replace("\n", " ")
    s"""WITH RECURSIVE t50 AS (
      |  SELECT doc_id, text FROM documents
      |  ORDER BY LEN(text) DESC, doc_id LIMIT $CoverCandidates),
      |toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM t50),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)),
      |hs AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h
      |  FROM sh),
      |per_doc AS (
      |  SELECT doc_id, (list_sort(list(h)))[1:$K] AS sk
      |  FROM hs GROUP BY doc_id),
      |init AS (
      |  SELECT list(doc_id ORDER BY doc_id) AS docs,
      |    list(sk ORDER BY doc_id) AS shs
      |  FROM per_doc),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS step, docs, shs,
      |    CAST([] AS BIGINT[]) AS cov,
      |    CAST([] AS BIGINT[]) AS picked,
      |    CAST([] AS BIGINT[]) AS gains,
      |    CAST($nc0 AS BIGINT) AS nc
      |  FROM init
      |  UNION ALL
      |  SELECT w.step + 1, w.docs, w.shs,
      |    $covNext,
      |    $pickedNext,
      |    list_append(w.gains, $K - (w.nc // 64)),
      |    CAST($ncNext AS BIGINT)
      |  FROM walk w WHERE w.step < $CoverBudget),
      |fin AS (SELECT picked, gains FROM walk WHERE step = $CoverBudget),
      |uni AS (
      |  SELECT CAST(COUNT(DISTINCT u.h) AS BIGINT) AS universe
      |  FROM (SELECT UNNEST(sk) AS h FROM per_doc) u),
      |spine AS (SELECT UNNEST(range(1, ${CoverBudget + 1})) AS round),
      |out AS (
      |  SELECT round,
      |    CAST(picked[CAST(round AS INT)] AS BIGINT) AS doc_id,
      |    CAST(gains[CAST(round AS INT)] AS BIGINT) AS gain
      |  FROM fin CROSS JOIN spine)
      |SELECT CAST(round AS BIGINT) AS round, doc_id, gain,
      |  CAST(SUM(gain) OVER (ORDER BY round
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS covered,
      |  universe
      |FROM out CROSS JOIN uni
      |ORDER BY round""".stripMargin
  }

  // -------------- q559: randomized-response local-DP prevalence estimator

  /** q559: Warner's randomized response — the local-DP collection scheme a
    * telemetry pipeline uses when individual bits must never be trusted to
    * the collector. Each customer's sensitive bit (market segment =
    * BUILDING) is reported truthfully with p = 3/4 and inverted otherwise
    * (coin = portable-hash residue, so the "randomness" is deterministic
    * and both engines replay the identical survey); the collector debiases
    * with t̂ = (4r − n) / (2n). The per-nation report carries the true
    * prevalence (the audit column a real deployment never sees), the raw
    * reported rate, the debiased estimate and its signed error — showing
    * the estimator recovering the truth it was never told — plus the
    * mechanism's ε = ln 3 as a plan-time literal.
    *
    * Scale: one customer-dimension pass, nation-bounded rollup.
    */
  val q559RandomizedResponse: Q = (s, dir) => {
    Tables.customer(s, dir)
      .select(col("c_nationkey").cast("long").as("nk"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("t"),
        (Text.portableHash(concat(lit("rr|"),
          col("c_custkey").cast("string"))) % 4L < 3L).cast("long")
          .as("keep"))
      .withColumn("r", when(col("keep") === 1L, col("t"))
        .otherwise(lit(1L) - col("t")))
      .groupBy(col("nk"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("true_cnt"),
        sum(col("r")).as("reported_cnt"))
      .select(col("nk").as("nation"), col("n"), col("true_cnt"),
        col("reported_cnt"),
        expr("true_cnt * 1000000 div n").as("true_e6"),
        expr(sdivDivCasesPos("(4 * reported_cnt - n) * 1000000", "2 * n"))
          .as("est_e6"))
      .withColumn("err_e6", col("est_e6") - col("true_e6"))
      .withColumn("epsilon_e6", lit(1098612L)) // ln 3, plan-time literal
      .orderBy(col("nation"))
  }

  val q559Sql: String =
    """WITH survey AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
      |    CASE WHEN CAST(('0x' || substr(md5('rr|' ||
      |      CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 4 < 3
      |      THEN 1 ELSE 0 END AS keep
      |  FROM customer),
      |rep AS (
      |  SELECT nk, t, CASE WHEN keep = 1 THEN t ELSE 1 - t END AS r
      |  FROM survey),
      |agg AS (
      |  SELECT nk, COUNT(*) AS n, SUM(t) AS true_cnt,
      |    SUM(r) AS reported_cnt
      |  FROM rep GROUP BY 1)
      |SELECT nk AS nation, CAST(n AS BIGINT) AS n,
      |  CAST(true_cnt AS BIGINT) AS true_cnt,
      |  CAST(reported_cnt AS BIGINT) AS reported_cnt,
      |  CAST(true_cnt * 1000000 // n AS BIGINT) AS true_e6,
      |  CAST(CASE WHEN 4 * reported_cnt - n >= 0
      |    THEN (4 * reported_cnt - n) * 1000000 // (2 * n)
      |    ELSE -((-((4 * reported_cnt - n) * 1000000)) // (2 * n)) END
      |    AS BIGINT) AS est_e6,
      |  CAST(CASE WHEN 4 * reported_cnt - n >= 0
      |    THEN (4 * reported_cnt - n) * 1000000 // (2 * n)
      |    ELSE -((-((4 * reported_cnt - n) * 1000000)) // (2 * n)) END
      |    - true_cnt * 1000000 // n AS BIGINT) AS err_e6,
      |  CAST(1098612 AS BIGINT) AS epsilon_e6
      |FROM agg
      |ORDER BY nation""".stripMargin

  // -------------- q565: binary-blob manifest audit (multimodal byte layer)

  /** q565: the byte-layer manifest every multimodal ingest runs before any
    * decode — blob sizes, magic-byte codec classification, and an
    * order-independent content checksum — certified cross-engine on
    * BINARY columns. Payloads are synthesized deterministically (unhex of
    * repeated md5 hex, length varying with the document), so both engines
    * materialize byte-identical blobs and the oracle checks the binary
    * plumbing itself: unhex, blob length, byte slicing, hex round-trip.
    * The real decode stays behind the mapPartitions seam
    * ([[graft.multimodal.Codecs]]); this is the half a SQL engine CAN
    * verify, now gate-checked instead of spec-only.
    */
  val q565BinaryManifest: Q = (s, dir) => {
    val blobs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("""unhex(substr(repeat(md5(text), 4), 1,
          | 2 * (16 + pmod(n_chars, 48))))"""
          .stripMargin.replace("\n", " ")).as("blob"))
      .select(col("doc_id"), col("blob"),
        length(col("blob")).cast("long").as("bytes"),
        expr("conv(substr(hex(blob), 1, 2), 16, 10)").cast("long")
          .as("magic"))
      .withColumn("codec", expr(
        """CASE magic div 64 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
          | WHEN 2 THEN 'video' ELSE 'binary' END"""
          .stripMargin.replace("\n", " ")))
    blobs.groupBy(col("codec"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("bytes")).as("total_bytes"),
        min(col("bytes")).as("min_bytes"),
        max(col("bytes")).as("max_bytes"),
        sum(Text.portableHash(expr("hex(blob)")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("content_fp"))
      .orderBy(col("codec"))
  }

  val q565Sql: String =
    """WITH blobs AS (
      |  SELECT doc_id,
      |    unhex(substr(repeat(md5(text), 4), 1,
      |      2 * (16 + n_chars % 48))) AS blob
      |  FROM documents),
      |typed AS (
      |  SELECT doc_id, blob, octet_length(blob) AS bytes,
      |    CAST(('0x' || substr(hex(blob), 1, 2)) AS BIGINT) AS magic
      |  FROM blobs),
      |lab AS (
      |  SELECT typed.*,
      |    CASE magic // 64 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |      WHEN 2 THEN 'video' ELSE 'binary' END AS codec
      |  FROM typed)
      |SELECT codec, CAST(COUNT(*) AS BIGINT) AS n_blobs,
      |  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
      |  CAST(MIN(bytes) AS BIGINT) AS min_bytes,
      |  CAST(MAX(bytes) AS BIGINT) AS max_bytes,
      |  CAST(SUM(CAST(('0x' || substr(md5(hex(blob)), 1, 15)) AS BIGINT)
      |    :: HUGEINT) AS VARCHAR) AS content_fp
      |FROM lab
      |GROUP BY 1
      |ORDER BY codec""".stripMargin

  // ---------- q566: importance-weight ESS (Kish) for source rebalancing

  /** q566: when the corpus is re-weighted from its source proportions to a
    * uniform target (the q86/q498 mixing move), how much sample is
    * EFFECTIVELY left? Kish's effective sample size (Σw)²/Σw² — the
    * diagnostic every importance-weighted pipeline reports before
    * trusting a re-weighted estimate. Weights are per-source rationals
    * w_s = target/proposal = N/(S·n_s) carried at e6, so ESS reduces to
    * exact integer arithmetic: ESS = (Σ n_s w_s)²/(Σ n_s w_s²), and the
    * e6 scales cancel. Each source row carries its share and weight; the
    * corpus ESS and its ratio to N ride along as repeated audit columns
    * (1.0 iff the corpus was already uniform).
    */
  val q566ImportanceEss: Q = (s, dir) => {
    val bySrc = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .localCheckpoint()
    val tot = bySrc.agg(sum(col("n_s")).as("nn"), count(lit(1)).as("ss"))
    val weighted = bySrc.crossJoin(broadcast(tot))
      .withColumn("w_e6", expr("nn * 1000000 div (ss * n_s)"))
    val ess = weighted.agg(
      sum(expr("n_s * w_e6")).cast("decimal(38,0)").as("a_e6"),
      sum(expr("CAST(n_s AS DECIMAL(38,0)) * w_e6 * w_e6")).as("b_e12"))
      .select(expr("CAST(a_e6 * a_e6 div b_e12 AS BIGINT)").as("ess"))
    weighted.crossJoin(broadcast(ess))
      .select(col("source"), col("n_s").as("n_docs"),
        expr("n_s * 1000000 div nn").as("share_e6"), col("w_e6"),
        col("ess"), expr("ess * 1000000 div nn").as("ess_ratio_e6"))
      .orderBy(col("source"))
  }

  val q566Sql: String =
    """WITH by_src AS (
      |  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(n_s) AS nn, COUNT(*) AS ss FROM by_src),
      |weighted AS (
      |  SELECT source, n_s, nn, ss,
      |    nn * 1000000 // (ss * n_s) AS w_e6
      |  FROM by_src CROSS JOIN tot),
      |ess AS (
      |  SELECT CAST(
      |    CAST(SUM(n_s * w_e6) AS HUGEINT) * SUM(n_s * w_e6)
      |      // SUM(CAST(n_s AS HUGEINT) * w_e6 * w_e6) AS BIGINT) AS ess
      |  FROM weighted)
      |SELECT source, CAST(n_s AS BIGINT) AS n_docs,
      |  CAST(n_s * 1000000 // nn AS BIGINT) AS share_e6,
      |  CAST(w_e6 AS BIGINT) AS w_e6,
      |  CAST(ess AS BIGINT) AS ess,
      |  CAST(ess * 1000000 // nn AS BIGINT) AS ess_ratio_e6
      |FROM weighted CROSS JOIN ess
      |ORDER BY source""".stripMargin

  // --------------- q578/q579: token-budget selection + its mix shift

  /** Per-document selection frame shared by q578/q579: q99 scores join
    * (lang, token count), the greedy quality-first rule marks a document
    * selected iff the token mass of strictly-better documents (score
    * desc, doc_id tie-break) is still under the budget — i.e. the
    * classic "take best documents until N tokens" curation step, with
    * budget = half the corpus token mass (data-derived, exact). The
    * prior-mass cumulative runs through [[Prefix.runningSum]] at
    * DOCUMENT grain — the 100 TB axis, so no global sort exists; the
    * rule is exactly the window formulation's greedy prefix.
    */
  private def budgetSelection(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // one documents scan (q99ScoreCol inlined — no self-join back on
    // doc_id), checkpointed ONCE for its two consumers: the prefix device
    // (materialize=false — it would otherwise checkpoint a second copy)
    // and the totals scalar, which previously re-ran the md5 scoring pass
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), q99ScoreCol.as("score"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    val cum = Prefix.runningSum(scored, "score", Seq("doc_id"), "n_tokens",
      "cum_before", desc = true, materialize = false)
    val tot = scored.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_docs_all"))
    cum.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total_tokens div 2"))
      .withColumn("selected",
        (col("cum_before") < col("budget")).cast("long"))
  }

  /** Shared oracle CTE chain: the q99 scoring plus the same greedy
    * prefix rule in window form.
    */
  private val budgetSelectionCtes: String =
    s"""$q99ScoreCtes,
       |toks AS (
       |  SELECT doc_id, lang,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |j AS (
       |  SELECT scored.doc_id, score, lang, n_tokens
       |  FROM scored JOIN toks USING (doc_id)),
       |tk AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    COUNT(*) AS n_docs_all
       |  FROM j),
       |c AS (
       |  SELECT j.*, tk.total_tokens, tk.n_docs_all,
       |    tk.total_tokens // 2 AS budget,
       |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS cum_before
       |  FROM j CROSS JOIN tk),
       |sel AS (
       |  SELECT *, CASE WHEN cum_before < budget THEN 1 ELSE 0 END
       |    AS selected
       |  FROM c)""".stripMargin

  /** q578: the token-budget selection report — one row: the budget, the
    * documents/tokens the greedy quality-first rule takes, the score
    * cutoff (the last selected document's score — the operating point a
    * quality-threshold deployment would use), and exact e6 fractions of
    * the corpus. DECIMAL staging on the token ratio: corpus token mass ×
    * 10⁶ wraps int64 long before 100 TB.
    */
  val q578TokenBudget: Q = (s, dir) => {
    budgetSelection(s, dir).filter(col("selected") === 1L)
      .agg(max(col("budget")).as("budget_tokens"),
        max(col("total_tokens")).as("total_tokens"),
        max(col("n_docs_all")).as("n_docs_all"),
        count(lit(1)).as("n_docs_selected"),
        sum(col("n_tokens")).as("tokens_selected"),
        min(col("score")).as("cutoff_score"))
      .select(col("budget_tokens"), col("n_docs_all"),
        col("n_docs_selected"), col("total_tokens"),
        col("tokens_selected"), col("cutoff_score"),
        expr("""CAST(CAST(n_docs_selected AS DECIMAL(38,0)) * 1000000
               |  DIV n_docs_all AS BIGINT)""".stripMargin)
          .as("frac_docs_e6"),
        expr("""CAST(CAST(tokens_selected AS DECIMAL(38,0)) * 1000000
               |  DIV total_tokens AS BIGINT)""".stripMargin)
          .as("frac_tokens_e6"))
  }

  val q578Sql: String =
    s"""WITH $budgetSelectionCtes
       |SELECT CAST(MAX(budget) AS BIGINT) AS budget_tokens,
       |  CAST(MAX(n_docs_all) AS BIGINT) AS n_docs_all,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs_selected,
       |  CAST(MAX(total_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected,
       |  CAST(MIN(score) AS BIGINT) AS cutoff_score,
       |  CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // MAX(n_docs_all)
       |    AS BIGINT) AS frac_docs_e6,
       |  CAST(CAST(SUM(n_tokens) AS HUGEINT) * 1000000
       |    // MAX(total_tokens) AS BIGINT) AS frac_tokens_e6
       |FROM sel WHERE selected = 1""".stripMargin

  /** q579: the distribution shift the q578 selection induces — quality
    * filters skew language mix, and this is the per-language audit: each
    * language's share of documents in the full corpus vs the selected
    * set, the signed delta, and the total-variation distance (half the
    * L1 of the share deltas, on the floored e6 shares — a documented
    * quantization identical in both engines) repeated as the corpus-level
    * headline. Everything after the shared selection pass is a |langs|
    * rollup.
    */
  val q579SelectionShift: Q = (s, dir) => {
    val byLang = budgetSelection(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_all"), sum(col("selected")).as("n_sel"))
      .localCheckpoint()
    val tot = byLang.agg(sum(col("n_all")).as("t_all"),
      sum(col("n_sel")).as("t_sel"))
    val shares = byLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_all"), col("n_sel"),
        expr("""CAST(CAST(n_all AS DECIMAL(38,0)) * 1000000 DIV t_all
               |  AS BIGINT)""".stripMargin).as("share_all_e6"),
        expr("""CAST(CAST(n_sel AS DECIMAL(38,0)) * 1000000 DIV t_sel
               |  AS BIGINT)""".stripMargin).as("share_sel_e6"))
      .withColumn("delta_e6", col("share_sel_e6") - col("share_all_e6"))
    val tv = shares.agg(expr("SUM(ABS(delta_e6)) div 2").as("tv_e6"))
    shares.crossJoin(broadcast(tv)).orderBy(col("lang"))
  }

  val q579Sql: String =
    s"""WITH $budgetSelectionCtes,
       |by_lang AS (
       |  SELECT lang, COUNT(*) AS n_all,
       |    CAST(SUM(selected) AS BIGINT) AS n_sel
       |  FROM sel GROUP BY lang),
       |tot AS (
       |  SELECT CAST(SUM(n_all) AS BIGINT) AS t_all,
       |    CAST(SUM(n_sel) AS BIGINT) AS t_sel
       |  FROM by_lang),
       |shares AS (
       |  SELECT lang, n_all, n_sel,
       |    CAST(CAST(n_all AS HUGEINT) * 1000000 // t_all AS BIGINT)
       |      AS share_all_e6,
       |    CAST(CAST(n_sel AS HUGEINT) * 1000000 // t_sel AS BIGINT)
       |      AS share_sel_e6
       |  FROM by_lang CROSS JOIN tot),
       |d AS (
       |  SELECT *, share_sel_e6 - share_all_e6 AS delta_e6 FROM shares),
       |tv AS (
       |  SELECT CAST(SUM(ABS(delta_e6)) // 2 AS BIGINT) AS tv_e6 FROM d)
       |SELECT lang, CAST(n_all AS BIGINT) AS n_all,
       |  CAST(n_sel AS BIGINT) AS n_sel,
       |  CAST(share_all_e6 AS BIGINT) AS share_all_e6,
       |  CAST(share_sel_e6 AS BIGINT) AS share_sel_e6,
       |  CAST(delta_e6 AS BIGINT) AS delta_e6, tv.tv_e6
       |FROM d CROSS JOIN tv
       |ORDER BY lang""".stripMargin

  // --------------------------- q581: source-mixing epochs planner

  /** Repetition cap, e6 (4 epochs — past it, repeated data stops paying
    * for itself in the repetition-value literature).
    */
  val MaxEpochsE6 = 4000000L

  /** q581: the source-mixing epochs planner — given per-source available
    * token mass, a training budget (2× the corpus here, so upsampling is
    * exercised), and a uniform target mix, each source reports its
    * allocation: target tokens (budget div S), the repetition factor
    * epochs_e6 = target·10⁶ div available (>10⁶ means the source must
    * repeat), the cap at [[MaxEpochsE6]], the ALLOCATED tokens after the
    * cap, and the shortfall the cap leaves unfilled — the "can we even
    * hit this mix with this corpus" report that precedes every
    * pretraining data plan (q86/q498 choose the weights; this prices
    * them in epochs). Exact integers end-to-end; DECIMAL staging where
    * token masses multiply e6.
    *
    * Plan: one corpus pass into the |sources| rollup; everything after
    * is metadata-sized.
    */
  val q581MixingEpochs: Q = (s, dir) => {
    val bySrc = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(Text.tokens(col("text"))).cast("long")).as("avail"))
      .localCheckpoint()
    val tot = bySrc.agg(sum(col("avail")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("budget_tokens", expr("corpus_tokens * 2"))
      .withColumn("target_tokens", expr("budget_tokens div n_sources"))
      .withColumn("epochs_raw_e6",
        expr("""CAST(CAST(target_tokens AS DECIMAL(38,0)) * 1000000
               |  DIV avail AS BIGINT)""".stripMargin))
      .withColumn("epochs_e6",
        least(col("epochs_raw_e6"), lit(MaxEpochsE6)))
      .withColumn("allocated_tokens",
        expr(s"""CAST(CAST(avail AS DECIMAL(38,0)) *
                |  LEAST(epochs_raw_e6, $MaxEpochsE6) DIV 1000000
                |  AS BIGINT)""".stripMargin))
      .withColumn("shortfall_tokens",
        greatest(col("target_tokens") - col("allocated_tokens"), lit(0L)))
      .select(col("source"), col("avail").as("avail_tokens"),
        col("target_tokens"), col("epochs_raw_e6"), col("epochs_e6"),
        col("allocated_tokens"), col("shortfall_tokens"),
        (col("epochs_raw_e6") > MaxEpochsE6).cast("long").as("capped"))
      .orderBy(col("source"))
  }

  val q581Sql: String =
    s"""WITH by_src AS (
       |  SELECT source,
       |    CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS avail
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(avail) AS BIGINT) AS corpus_tokens,
       |    COUNT(*) AS n_sources
       |  FROM by_src),
       |pl AS (
       |  SELECT source, avail,
       |    corpus_tokens * 2 AS budget_tokens,
       |    (corpus_tokens * 2) // n_sources AS target_tokens,
       |    CAST(CAST((corpus_tokens * 2) // n_sources AS HUGEINT)
       |      * 1000000 // avail AS BIGINT) AS epochs_raw_e6
       |  FROM by_src CROSS JOIN tot)
       |SELECT source, CAST(avail AS BIGINT) AS avail_tokens,
       |  CAST(target_tokens AS BIGINT) AS target_tokens,
       |  CAST(epochs_raw_e6 AS BIGINT) AS epochs_raw_e6,
       |  CAST(LEAST(epochs_raw_e6, $MaxEpochsE6) AS BIGINT) AS epochs_e6,
       |  CAST(CAST(avail AS HUGEINT)
       |    * LEAST(epochs_raw_e6, $MaxEpochsE6) // 1000000 AS BIGINT)
       |    AS allocated_tokens,
       |  CAST(GREATEST(target_tokens - CAST(avail AS HUGEINT)
       |    * LEAST(epochs_raw_e6, $MaxEpochsE6) // 1000000, 0) AS BIGINT)
       |    AS shortfall_tokens,
       |  CAST(CASE WHEN epochs_raw_e6 > $MaxEpochsE6 THEN 1 ELSE 0 END
       |    AS BIGINT) AS capped
       |FROM pl
       |ORDER BY source""".stripMargin

  // ------------- q582: mix-preserving per-language budget selection

  /** q582: the production fix for the skew q579 detects — quality-first
    * selection run WITHIN each language at half that language's token
    * mass, so the output mix equals the input mix by construction. The
    * per-language greedy prefix rides [[Prefix.runningSumBy]] (the
    * GROUPED two-level device: a language can be half the corpus, so
    * even per-group streams must not funnel through one sort task).
    * Report per language: documents/tokens selected, the language-local
    * score cutoff (cutoffs DIFFER across languages — exactly what the
    * global q578 rule cannot give), the realized token fraction
    * (≈ 500000 e6 by construction — the mix-preservation audit), and
    * the doc-level selectivity.
    */
  val q582BudgetByLang: Q = (s, dir) => {
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), q99ScoreCol.as("score"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    val langTot = scored.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("lang_tokens"),
        count(lit(1)).as("lang_docs"))
    val cum = Prefix.runningSumBy(scored, Seq("lang"), "score",
      Seq("doc_id"), "n_tokens", "cum_before", desc = true,
      materialize = false)
    cum.join(broadcast(langTot), "lang")
      .withColumn("budget", expr("lang_tokens div 2"))
      .filter(col("cum_before") < col("budget"))
      .groupBy(col("lang"))
      .agg(max(col("lang_docs")).as("lang_docs"),
        max(col("lang_tokens")).as("lang_tokens"),
        max(col("budget")).as("budget_tokens"),
        count(lit(1)).as("n_docs_sel"),
        sum(col("n_tokens")).as("tokens_sel"),
        min(col("score")).as("cutoff_score"))
      .select(col("lang"), col("lang_docs"), col("lang_tokens"),
        col("budget_tokens"), col("n_docs_sel"), col("tokens_sel"),
        col("cutoff_score"),
        expr("""CAST(CAST(tokens_sel AS DECIMAL(38,0)) * 1000000
               |  DIV lang_tokens AS BIGINT)""".stripMargin)
          .as("frac_tokens_e6"),
        expr("""CAST(CAST(n_docs_sel AS DECIMAL(38,0)) * 1000000
               |  DIV lang_docs AS BIGINT)""".stripMargin)
          .as("frac_docs_e6"))
      .orderBy(col("lang"))
  }

  val q582Sql: String =
    s"""WITH $q99ScoreCtes,
       |toks AS (
       |  SELECT doc_id, lang,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |j AS (
       |  SELECT scored.doc_id, score, lang, n_tokens
       |  FROM scored JOIN toks USING (doc_id)),
       |lt AS (
       |  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens,
       |    COUNT(*) AS lang_docs
       |  FROM j GROUP BY lang),
       |c AS (
       |  SELECT j.*, lt.lang_tokens, lt.lang_docs,
       |    lt.lang_tokens // 2 AS budget,
       |    COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY j.lang
       |      ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS cum_before
       |  FROM j JOIN lt USING (lang))
       |SELECT lang, CAST(MAX(lang_docs) AS BIGINT) AS lang_docs,
       |  CAST(MAX(lang_tokens) AS BIGINT) AS lang_tokens,
       |  CAST(MAX(budget) AS BIGINT) AS budget_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs_sel,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_sel,
       |  CAST(MIN(score) AS BIGINT) AS cutoff_score,
       |  CAST(CAST(SUM(n_tokens) AS HUGEINT) * 1000000
       |    // MAX(lang_tokens) AS BIGINT) AS frac_tokens_e6,
       |  CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // MAX(lang_docs)
       |    AS BIGINT) AS frac_docs_e6
       |FROM c WHERE cum_before < budget
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ------------- q585: one domain-reweighting step (multiplicative update)

  /** q585: one multiplicative domain-reweighting step — each source's
    * token-share weight is scaled by how far its mean quality score (q99
    * classifier) sits above or below the corpus mean, then renormalized:
    * the DoReMi-style "move budget toward domains the proxy says are
    * underweighted" primitive, with the exponential update replaced by a
    * clamped LINEAR multiplier (1e6 + delta/1e4, clamped to [0, 5e6]) so
    * every step is exact integer arithmetic both engines reproduce
    * bit-for-bit (libm exp is not cross-engine portable) and the e12
    * renormalization numerator provably fits int64. Sign-factored CASE
    * division keeps Spark's truncating `div` and DuckDB's flooring `//`
    * identical on negative score sums.
    *
    * Plan (100 TB): one corpus pass to the |sources| rollup (map-side
    * combine absorbs the stream); everything after is metadata-sized
    * broadcast scalars.
    */
  val q585DomainReweight: Q = (s, dir) => {
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    val scored = Tables.documents(s, dir)
      .select(col("source"), q99ScoreCol.as("score"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val bySrc = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("score")).as("sum_score"))
      .localCheckpoint() // feeds the global rollup AND the projection
    val glob = bySrc.agg(sum(col("n_docs")).as("g_docs"),
      sum(col("n_tokens")).as("g_tokens"), sum(col("sum_score")).as("g_score"))
    val st = bySrc.crossJoin(broadcast(glob))
      .withColumn("mean_s_e6", expr(sdivE6("sum_score", "n_docs")))
      .withColumn("mean_g_e6", expr(sdivE6("g_score", "g_docs")))
      .withColumn("w0_e6", expr(sdivE6("n_tokens", "g_tokens")))
      .withColumn("delta_e6", col("mean_s_e6") - col("mean_g_e6"))
      .withColumn("step_e6", expr("CASE WHEN delta_e6 >= 0 " +
        "THEN delta_e6 div 10000 ELSE -((-delta_e6) div 10000) END"))
      .withColumn("mult_e6",
        least(greatest(lit(0L), lit(1000000L) + col("step_e6")),
          lit(5000000L)))
      .withColumn("raw", col("w0_e6") * col("mult_e6"))
    val totRaw = st.agg(sum(col("raw")).as("t_raw"))
    st.crossJoin(broadcast(totRaw))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w0_e6"),
        col("mean_s_e6"), col("delta_e6"), col("mult_e6"),
        expr(sdivE6("raw", "t_raw")).as("w1_e6"))
      .orderBy(col("source"))
  }

  val q585Sql: String =
    s"""WITH $q99ScoreCtes,
       |j AS (
       |  SELECT scored.doc_id, score, source,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM scored JOIN documents USING (doc_id)),
       |bs AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(score) AS BIGINT) AS sum_score
       |  FROM j GROUP BY source),
       |g AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS g_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS g_tokens,
       |    CAST(SUM(sum_score) AS BIGINT) AS g_score
       |  FROM bs),
       |st AS (
       |  SELECT source, n_docs, bs.n_tokens,
       |    CASE WHEN sum_score >= 0
       |      THEN CAST(CAST(sum_score AS HUGEINT) * 1000000 // n_docs AS BIGINT)
       |      ELSE -CAST(CAST(-sum_score AS HUGEINT) * 1000000 // n_docs AS BIGINT)
       |    END AS mean_s_e6,
       |    CASE WHEN g_score >= 0
       |      THEN CAST(CAST(g_score AS HUGEINT) * 1000000 // g_docs AS BIGINT)
       |      ELSE -CAST(CAST(-g_score AS HUGEINT) * 1000000 // g_docs AS BIGINT)
       |    END AS mean_g_e6,
       |    CAST(CAST(bs.n_tokens AS HUGEINT) * 1000000 // g_tokens AS BIGINT)
       |      AS w0_e6
       |  FROM bs CROSS JOIN g),
       |up AS (
       |  SELECT *,
       |    LEAST(GREATEST(0, 1000000 + CASE WHEN mean_s_e6 - mean_g_e6 >= 0
       |      THEN (mean_s_e6 - mean_g_e6) // 10000
       |      ELSE -((-(mean_s_e6 - mean_g_e6)) // 10000) END), 5000000)
       |      AS mult_e6
       |  FROM st),
       |r AS (SELECT *, w0_e6 * mult_e6 AS raw FROM up)
       |SELECT source, n_docs, n_tokens, w0_e6, mean_s_e6,
       |  CAST(mean_s_e6 - mean_g_e6 AS BIGINT) AS delta_e6,
       |  CAST(mult_e6 AS BIGINT) AS mult_e6,
       |  CAST(CAST(raw AS HUGEINT) * 1000000 //
       |    (SELECT CAST(SUM(raw) AS HUGEINT) FROM r) AS BIGINT) AS w1_e6
       |FROM r ORDER BY source""".stripMargin

  // ------------- q587: scorer-robustness (two-salt classifier agreement)

  /** q587: how much of the curated set survives swapping the quality
    * scorer? Two q99-family hash classifiers that differ ONLY in their
    * feature-weight salt ("w" vs "v" — independent weight tables over the
    * same features) each keep score ≥ 0 documents; the audit reports the
    * 2×2 keep/drop agreement, the Jaccard of the two keep sets, raw
    * agreement, and Cohen's κ — the "is my selection a property of the
    * data or of the scorer's arbitrary choices" number curation reads
    * before trusting a single classifier's cut. Everything is exact: both
    * scores come from ONE corpus pass (two fold expressions over the same
    * distinct-token array), κ's chance term stages through DECIMAL so n²
    * never overflows, and the final ratio is the sign-factored e6
    * division with a CASE-zero-NULL guard on the degenerate pe = 1 frame.
    */
  val q587ScorerAgreement: Q = (s, dir) => {
    def weightOf(salt: String)(t: org.apache.spark.sql.Column) =
      pmod(Text.portableHash(concat(lit(salt),
        pmod(Text.portableHash(t), lit(FeatBuckets)).cast("string"))),
        lit(2001L)) - 1000L
    val feats = array_distinct(Text.tokens(col("text")))
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"),
        aggregate(transform(feats, weightOf("w") _), lit(0L),
          (acc, x) => acc + x).as("sa"),
        aggregate(transform(feats, weightOf("v") _), lit(0L),
          (acc, x) => acc + x).as("sb"))
      .select((col("sa") >= 0).cast("long").as("ka"),
        (col("sb") >= 0).cast("long").as("kb"))
    scored.agg(count(lit(1)).as("n_docs"),
        sum(expr("ka * kb")).as("n_both"),
        sum(expr("ka * (1 - kb)")).as("n_only_a"),
        sum(expr("(1 - ka) * kb")).as("n_only_b"),
        sum(expr("(1 - ka) * (1 - kb)")).as("n_neither"))
      .withColumn("jaccard_e6",
        expr("n_both * 1000000 div (n_both + n_only_a + n_only_b)"))
      .withColumn("po_e6",
        expr("(n_both + n_neither) * 1000000 div n_docs"))
      .withColumn("pe_e6", expr(
        """CAST((CAST((n_both + n_only_a) AS DECIMAL(38,0)) * (n_both + n_only_b)
          |  + CAST((n_neither + n_only_b) AS DECIMAL(38,0)) * (n_neither + n_only_a))
          |  * 1000000 DIV (CAST(n_docs AS DECIMAL(38,0)) * n_docs)
          |  AS BIGINT)""".stripMargin))
      .withColumn("kappa_e6", expr(
        """CASE WHEN pe_e6 = 1000000 THEN NULL
          |  WHEN po_e6 >= pe_e6
          |    THEN (po_e6 - pe_e6) * 1000000 div (1000000 - pe_e6)
          |  ELSE -((-(po_e6 - pe_e6)) * 1000000 div (1000000 - pe_e6))
          |END""".stripMargin))
      .select(col("n_docs"), col("n_both"), col("n_only_a"),
        col("n_only_b"), col("n_neither"), col("jaccard_e6"),
        col("po_e6"), col("pe_e6"), col("kappa_e6"))
  }

  val q587Sql: String =
    s"""WITH f AS (
       |  SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS feats
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(feats, t ->
       |      CAST(concat('0x', substr(md5('w' ||
       |        CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
       |          % $FeatBuckets AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % 2001 - 1000)), 0) AS BIGINT) AS sa,
       |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(feats, t ->
       |      CAST(concat('0x', substr(md5('v' ||
       |        CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
       |          % $FeatBuckets AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % 2001 - 1000)), 0) AS BIGINT) AS sb
       |  FROM f),
       |k AS (
       |  SELECT CASE WHEN sa >= 0 THEN 1 ELSE 0 END AS ka,
       |    CASE WHEN sb >= 0 THEN 1 ELSE 0 END AS kb
       |  FROM sc),
       |c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(ka * kb) AS BIGINT) AS n_both,
       |    CAST(SUM(ka * (1 - kb)) AS BIGINT) AS n_only_a,
       |    CAST(SUM((1 - ka) * kb) AS BIGINT) AS n_only_b,
       |    CAST(SUM((1 - ka) * (1 - kb)) AS BIGINT) AS n_neither
       |  FROM k),
       |d AS (
       |  SELECT *,
       |    CAST(n_both * 1000000 // (n_both + n_only_a + n_only_b) AS BIGINT)
       |      AS jaccard_e6,
       |    CAST((n_both + n_neither) * 1000000 // n_docs AS BIGINT) AS po_e6,
       |    CAST((CAST(n_both + n_only_a AS HUGEINT) * (n_both + n_only_b)
       |      + CAST(n_neither + n_only_b AS HUGEINT) * (n_neither + n_only_a))
       |      * 1000000 // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
       |      AS pe_e6
       |  FROM c)
       |SELECT n_docs, n_both, n_only_a, n_only_b, n_neither, jaccard_e6,
       |  po_e6, pe_e6,
       |  CASE WHEN pe_e6 = 1000000 THEN NULL
       |    WHEN po_e6 >= pe_e6
       |      THEN CAST((po_e6 - pe_e6) * 1000000 // (1000000 - pe_e6) AS BIGINT)
       |    ELSE -CAST((-(po_e6 - pe_e6)) * 1000000 // (1000000 - pe_e6) AS BIGINT)
       |  END AS kappa_e6
       |FROM d""".stripMargin

  // ------------- q588: batch padding-waste planner (length bucketing)

  /** q588: how much of a training batch is padding under each length-
    * bucketing strategy? Documents pad to the longest sequence in their
    * bucket; the planner sweeps 1/4/16/64 equal-width length buckets and
    * reports, per strategy, the padded token volume and the waste share —
    * the table read before fixing a dataloader's bucket count (1 bucket =
    * pad-to-global-max worst case; more buckets approach zero waste at
    * the cost of smaller same-shape batches). Exact: lengths and bucket
    * maxima are integers, the waste share is one e6 floor division.
    *
    * Plan (100 TB): ONE corpus pass to per-doc lengths (checkpointed);
    * each strategy is a low-cardinality keyed aggregate the map side
    * absorbs — no windows, no pair formation, the report is 4 rows.
    */
  val q588PadWaste: Q = (s, dir) => {
    val lens = Tables.documents(s, dir)
      .select(size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      .localCheckpoint()
    val mx = lens.agg(max(col("n_tok")).as("max_tok"))
    val strategies = Seq(1L, 4L, 16L, 64L)
    strategies.map { nb =>
      lens.crossJoin(broadcast(mx))
        .select(expr(s"n_tok * $nb div (max_tok + 1)").as("bucket"),
          col("n_tok"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("toks"),
          max(col("n_tok")).as("bmax"))
        .agg(lit(nb).as("n_buckets"),
          count(lit(1)).as("buckets_used"),
          sum(col("toks")).as("total_tokens"),
          sum(col("n") * col("bmax")).as("padded_tokens"))
        .select(col("n_buckets"), col("buckets_used"), col("total_tokens"),
          col("padded_tokens"),
          expr("(padded_tokens - total_tokens) * 1000000 div padded_tokens")
            .as("waste_e6"))
    }.reduce(_ unionAll _).orderBy(col("n_buckets"))
  }

  val q588Sql: String =
    """WITH lens AS (
      |  SELECT CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |mx AS (SELECT MAX(n_tok) AS max_tok FROM lens),
      |strat(nb) AS (VALUES (1), (4), (16), (64)),
      |b AS (
      |  SELECT nb, n_tok * nb // (max_tok + 1) AS bucket, n_tok
      |  FROM lens CROSS JOIN mx CROSS JOIN strat),
      |r AS (
      |  SELECT nb, bucket, COUNT(*) AS n, SUM(n_tok) AS toks,
      |    MAX(n_tok) AS bmax
      |  FROM b GROUP BY nb, bucket)
      |SELECT CAST(nb AS BIGINT) AS n_buckets,
      |  CAST(COUNT(*) AS BIGINT) AS buckets_used,
      |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n * bmax) AS BIGINT) AS padded_tokens,
      |  CAST((SUM(n * bmax) - SUM(toks)) * 1000000 // SUM(n * bmax)
      |    AS BIGINT) AS waste_e6
      |FROM r GROUP BY nb ORDER BY n_buckets""".stripMargin

  // ------------- q590: what quality mass does exact dedup remove?

  /** q590: the dedup × quality interaction — documents split by q99
    * keep/drop band AND exact-duplicate status (md5 text group of size
    * ≥ 2), reporting docs, token mass, and corpus token share per cell.
    * Curation reads this before sequencing the pipeline: if duplicate
    * mass concentrates in the KEEP band, dedup-after-scoring wastes
    * classifier budget and dedup-first is the right order (and vice
    * versa). Exact integers; shares are e6 floor divisions against the
    * corpus token total.
    *
    * Plan (100 TB): the duplicate-group rollup is one md5-keyed
    * aggregate joined back key-equi (AQE splits a hot mirror group);
    * scores ride the q99 single pass; the report is 4 rows.
    */
  val q590DedupQuality: Q = (s, dir) => {
    // single documents scan: the md5 group key, the token count, AND the
    // q99 band ride one projection — no doc_id self-join back to the
    // scoring pass (r9)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok"),
        when(q99ScoreCol >= 0, "keep").otherwise("drop").as("band"))
    val grp = d.groupBy(col("h")).agg(count(lit(1)).as("gc"))
    val cells = d.join(grp, "h")
      .select(col("band"),
        (col("gc") >= 2L).cast("long").as("is_dup"), col("n_tok"))
      .groupBy(col("band"), col("is_dup"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .localCheckpoint() // feeds the total AND the projection
    val tot = cells.agg(sum(col("n_tokens")).as("g_tokens"))
    cells.crossJoin(broadcast(tot))
      .select(col("band"), col("is_dup"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000 div g_tokens").as("token_share_e6"))
      .orderBy(col("band"), col("is_dup"))
  }

  val q590Sql: String =
    s"""WITH $q99ScoreCtes,
       |d AS (
       |  SELECT doc_id, md5(text) AS h,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |g AS (SELECT h, COUNT(*) AS gc FROM d GROUP BY h),
       |cells AS (
       |  SELECT CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS band,
       |    CASE WHEN gc >= 2 THEN 1 ELSE 0 END AS is_dup,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |  FROM d JOIN g USING (h) JOIN scored USING (doc_id)
       |  GROUP BY 1, 2)
       |SELECT band, CAST(is_dup AS BIGINT) AS is_dup, n_docs, n_tokens,
       |  CAST(n_tokens * 1000000 // (SELECT SUM(n_tokens) FROM cells)
       |    AS BIGINT) AS token_share_e6
       |FROM cells ORDER BY band, is_dup""".stripMargin

  // ------------- q592: truncation-loss planner (context-length sweep)

  /** q592: if training truncates every document at N tokens instead of
    * packing (q87), how much token mass is cut? Sweeps context lengths
    * 128–2048 and reports truncated-document counts and the lost-mass
    * share — the number that decides truncate-vs-pack for a corpus's
    * length profile. ONE corpus pass: all five cuts are conditional
    * aggregates of the same length frame, unpivoted with stack.
    */
  val q592TruncationLoss: Q = (s, dir) => {
    val cuts = Seq(128L, 256L, 512L, 1024L, 2048L)
    val lens = Tables.documents(s, dir)
      .select(size(Text.tokens(col("text"))).cast("long").as("n_tok"))
    val aggCols = Seq(count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("g_tokens")) ++
      cuts.flatMap(c => Seq(
        sum(when(col("n_tok") > c, 1L).otherwise(0L)).as(s"d$c"),
        sum(when(col("n_tok") > c, col("n_tok") - c).otherwise(0L))
          .as(s"l$c")))
    val aggs = lens.agg(aggCols.head, aggCols.tail: _*)
    val stackExpr = cuts.map(c => s"${c}L, d$c, l$c").mkString(
      s"stack(${cuts.size}, ", ", ", ") AS (cut_tokens, n_truncated, lost_tokens)")
    aggs.selectExpr("n_docs", "g_tokens", stackExpr)
      .select(col("cut_tokens"), col("n_docs"), col("n_truncated"),
        col("g_tokens"), col("lost_tokens"),
        expr("lost_tokens * 1000000 div g_tokens").as("lost_share_e6"))
      .orderBy(col("cut_tokens"))
  }

  val q592Sql: String =
    """WITH lens AS (
      |  SELECT CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |cuts(cut_tokens) AS (
      |  VALUES (128), (256), (512), (1024), (2048))
      |SELECT CAST(cut_tokens AS BIGINT) AS cut_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_tok > cut_tokens THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_truncated,
      |  CAST(SUM(n_tok) AS BIGINT) AS g_tokens,
      |  CAST(SUM(CASE WHEN n_tok > cut_tokens THEN n_tok - cut_tokens
      |    ELSE 0 END) AS BIGINT) AS lost_tokens,
      |  CAST(SUM(CASE WHEN n_tok > cut_tokens THEN n_tok - cut_tokens
      |    ELSE 0 END) * 1000000 // SUM(n_tok) AS BIGINT) AS lost_share_e6
      |FROM lens CROSS JOIN cuts
      |GROUP BY cut_tokens ORDER BY cut_tokens""".stripMargin

  // ------------- q595: classifier length-bias audit

  /** q595: is the q99 quality score a length proxy? Documents band by
    * power-of-two token length (a BOUNDED domain — never a corpus-grain
    * decile window), and each band reports its mean score and keep rate.
    * A keep rate that slopes monotonically with length means the
    * classifier mostly measures document size — the bias every
    * fasttext-style quality filter must be audited for before its cut
    * reshapes the corpus's length profile (which q588/q592 then plan
    * around). Mean scores use the sign-factored DECIMAL-staged division;
    * everything else is nonnegative integer arithmetic.
    */
  val q595LengthBias: Q = (s, dir) => {
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    val scored = Tables.documents(s, dir)
      .select(q99ScoreCol.as("score"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok"))
    scored
      .withColumn("len_band", expr(
        """CASE WHEN n_tok >= 4096 THEN 4096 WHEN n_tok >= 2048 THEN 2048
          |  WHEN n_tok >= 1024 THEN 1024 WHEN n_tok >= 512 THEN 512
          |  WHEN n_tok >= 256 THEN 256 WHEN n_tok >= 128 THEN 128
          |  WHEN n_tok >= 64 THEN 64 WHEN n_tok >= 32 THEN 32
          |  WHEN n_tok >= 16 THEN 16 ELSE 1 END""".stripMargin))
      .groupBy(col("len_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score")).as("sum_score"),
        sum(when(col("score") >= 0, 1L).otherwise(0L)).as("n_keep"))
      .select(col("len_band"), col("n_docs"),
        expr(sdivE6("sum_score", "n_docs")).as("mean_score_e6"),
        expr("n_keep * 1000000 div n_docs").as("keep_rate_e6"))
      .orderBy(col("len_band"))
  }

  val q595Sql: String =
    s"""WITH $q99ScoreCtes,
       |j AS (
       |  SELECT scored.doc_id, score,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
       |  FROM scored JOIN documents USING (doc_id)),
       |b AS (
       |  SELECT score,
       |    CASE WHEN n_tok >= 4096 THEN 4096 WHEN n_tok >= 2048 THEN 2048
       |      WHEN n_tok >= 1024 THEN 1024 WHEN n_tok >= 512 THEN 512
       |      WHEN n_tok >= 256 THEN 256 WHEN n_tok >= 128 THEN 128
       |      WHEN n_tok >= 64 THEN 64 WHEN n_tok >= 32 THEN 32
       |      WHEN n_tok >= 16 THEN 16 ELSE 1 END AS len_band
       |  FROM j)
       |SELECT CAST(len_band AS BIGINT) AS len_band,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CASE WHEN SUM(score) >= 0
       |    THEN CAST(CAST(SUM(score) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
       |    ELSE -CAST(CAST(-SUM(score) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
       |  END AS mean_score_e6,
       |  CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS keep_rate_e6
       |FROM b GROUP BY len_band ORDER BY len_band""".stripMargin

  // ------------- q597: quality-proportional epoch allocator

  /** q597: the quality-weighted sibling of q581's uniform-target epochs
    * planner — sources rank by mean q99 score and the token budget
    * (half the corpus) allocates by LINEAR RANK WEIGHT (best source
    * weight |S|, worst weight 1), so higher-quality sources repeat more,
    * capped at 4 epochs with the residual reported as shortfall. Rank
    * weights rather than score weights keep the allocation exact-integer
    * and robust to score scale (scores are salt-dependent sums; their
    * ORDER is the signal, q587 measures how stable it is). The source
    * rollup is the only corpus pass; ranking is a |sources|-row window
    * (bounded domain); every division is DECIMAL-staged floor division
    * on nonnegative operands.
    */
  val q597QualityEpochs: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    val bySrc = Tables.documents(s, dir)
      .select(col("source"), q99ScoreCol.as("score"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("score")).as("sum_score"))
      .withColumn("mean_score_e6", expr(sdivE6("sum_score", "n_docs")))
    val ranked = bySrc.withColumn("rnk", row_number().over(
      Window.orderBy(col("mean_score_e6").desc, col("source"))))
      .localCheckpoint() // |sources| rows; feeds scalars AND the projection
    ranked.crossJoin(broadcast(ranked.agg(
        sum(col("n_tokens")).as("g_tokens"), count(lit(1)).as("n_src"))))
      .withColumn("weight", col("n_src") - col("rnk") + 1L)
      .crossJoin(broadcast(ranked
        .crossJoin(broadcast(ranked.agg(count(lit(1)).as("ns2"))))
        .select((col("ns2") - col("rnk") + 1L).as("w2"))
        .agg(sum(col("w2")).as("sum_w"))))
      .withColumn("budget", expr("g_tokens div 2"))
      .withColumn("alloc_tokens", expr(
        "CAST(CAST(budget AS DECIMAL(38,0)) * weight DIV sum_w AS BIGINT)"))
      .withColumn("rep_e6", least(lit(4000000L), expr(
        "CAST(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)")))
      .withColumn("used_tokens", expr(
        "CAST(CAST(rep_e6 AS DECIMAL(38,0)) * n_tokens DIV 1000000 AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mean_score_e6"), col("rnk"), col("weight"),
        col("alloc_tokens"), col("rep_e6"),
        (col("alloc_tokens") - col("used_tokens")).as("shortfall_tokens"))
      .orderBy(col("rnk"))
  }

  val q597Sql: String =
    s"""WITH $q99ScoreCtes,
       |j AS (
       |  SELECT scored.doc_id, score, source,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM scored JOIN documents USING (doc_id)),
       |bs AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(score) AS BIGINT) AS sum_score
       |  FROM j GROUP BY source),
       |m AS (
       |  SELECT *,
       |    CASE WHEN sum_score >= 0
       |      THEN CAST(CAST(sum_score AS HUGEINT) * 1000000 // n_docs AS BIGINT)
       |      ELSE -CAST(CAST(-sum_score AS HUGEINT) * 1000000 // n_docs AS BIGINT)
       |    END AS mean_score_e6
       |  FROM bs),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY mean_score_e6 DESC, source)
       |    AS rnk
       |  FROM m),
       |g AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS g_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_src,
       |    CAST(SUM(n_src_all - rnk + 1) AS BIGINT) AS sum_w
       |  FROM r CROSS JOIN (SELECT COUNT(*) AS n_src_all FROM r) t),
       |a AS (
       |  SELECT r.*, g.n_src - rnk + 1 AS weight, g_tokens // 2 AS budget,
       |    CAST(CAST(g_tokens // 2 AS HUGEINT) * (g.n_src - rnk + 1)
       |      // sum_w AS BIGINT) AS alloc_tokens
       |  FROM r CROSS JOIN g),
       |e AS (
       |  SELECT *,
       |    LEAST(4000000, CAST(CAST(alloc_tokens AS HUGEINT) * 1000000
       |      // n_tokens AS BIGINT)) AS rep_e6
       |  FROM a)
       |SELECT source, n_docs, n_tokens, mean_score_e6,
       |  CAST(rnk AS BIGINT) AS rnk, CAST(weight AS BIGINT) AS weight,
       |  alloc_tokens, CAST(rep_e6 AS BIGINT) AS rep_e6,
       |  CAST(alloc_tokens - CAST(CAST(rep_e6 AS HUGEINT) * n_tokens
       |    // 1000000 AS BIGINT) AS BIGINT) AS shortfall_tokens
       |FROM e ORDER BY rnk""".stripMargin

  // ------------- q598: quality drift across acquisition batches

  /** q598: is the crawl getting worse? Documents cut into 10 doc_id-range
    * acquisition batches (q584's axis) report mean q99 score, keep rate,
    * and token mass per batch — the trend curation watches to decide when
    * a source's marginal crawl should stop feeding the corpus (q584
    * answers "is it new", this answers "is it good"). Sign-factored
    * DECIMAL-staged mean; one corpus pass; 10-row report.
    */
  val q598QualityDrift: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val width = d.agg(expr("CAST(max(doc_id) AS BIGINT) div 10 + 1").as("w"))
    // single documents scan: q99ScoreCol inlined, no doc_id self-join (r9)
    d.select(col("doc_id"), q99ScoreCol.as("score"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      .crossJoin(broadcast(width))
      .groupBy(expr("doc_id div w").as("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("score")).as("sum_score"),
        sum(when(col("score") >= 0, 1L).otherwise(0L)).as("n_keep"))
      .select(col("batch"), col("n_docs"), col("n_tokens"),
        expr(sdivE6("sum_score", "n_docs")).as("mean_score_e6"),
        expr("n_keep * 1000000 div n_docs").as("keep_rate_e6"))
      .orderBy(col("batch"))
  }

  val q598Sql: String =
    s"""WITH $q99ScoreCtes,
       |w AS (
       |  SELECT CAST(MAX(doc_id) AS BIGINT) // 10 + 1 AS w FROM documents),
       |j AS (
       |  SELECT scored.doc_id // (SELECT w FROM w) AS batch, score,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
       |  FROM scored JOIN documents USING (doc_id))
       |SELECT CAST(batch AS BIGINT) AS batch,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CASE WHEN SUM(score) >= 0
       |    THEN CAST(CAST(SUM(score) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
       |    ELSE -CAST(CAST(-SUM(score) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
       |  END AS mean_score_e6,
       |  CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS keep_rate_e6
       |FROM j GROUP BY batch ORDER BY batch""".stripMargin

  // ------------- q599: benchmark-gram coverage pressure

  /** q599: how much of each held-out benchmark document is already
    * SPELLED OUT inside the training corpus? For every benchmark doc
    * (the q85/q100 holdout family, doc_id % [[BenchMod]] = 0), the share
    * of its distinct 3-grams that appear anywhere in the non-benchmark
    * corpus, reported as a 10-band containment histogram. q85 flags the
    * TRAINING docs that carry benchmark grams (what to drop); this
    * measures the EVALUATION side — a benchmark whose docs sit in the
    * 90-100% band is effectively memorizable from the corpus even after
    * doc-level decontamination, and its scores should be read
    * accordingly. One corpus pass per side, gram-keyed join, 10-row
    * report; mean containment DECIMAL-staged like q580.
    */
  val q599BenchCoverage: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val bg = d.filter(col("doc_id") % BenchMod === 0)
      .select(col("doc_id"), explode(Text.shingleSet(col("text"), 3))
        .as("gram"))
    val train = d.filter(col("doc_id") % BenchMod =!= 0)
      .select(explode(Text.shingleSet(col("text"), 3)).as("gram"))
      .distinct()
      .withColumn("covered", lit(1L))
    bg.join(train, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("covered")), lit(0L)).as("n_covered"))
      .select(expr("n_covered * 1000000 div n_grams").as("cont_e6"))
      .groupBy(least(expr("cont_e6 div 100000"), lit(9L)).as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("cont_e6")).cast("decimal(38,0)").as("sum_cont"))
      .select(col("band"), col("n_docs"),
        expr("CAST(sum_cont DIV n_docs AS BIGINT)").as("mean_cont_e6"))
      .orderBy(col("band"))
  }

  val q599Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)),
       |bg AS (SELECT doc_id, gram FROM sh WHERE doc_id % $BenchMod = 0),
       |train AS (
       |  SELECT DISTINCT gram FROM sh WHERE doc_id % $BenchMod <> 0),
       |per_doc AS (
       |  SELECT bg.doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(CASE WHEN train.gram IS NULL THEN 0 ELSE 1 END)
       |      AS BIGINT) AS n_covered
       |  FROM bg LEFT JOIN train ON bg.gram = train.gram
       |  GROUP BY bg.doc_id),
       |r AS (
       |  SELECT n_covered * 1000000 // n_grams AS cont_e6 FROM per_doc)
       |SELECT CAST(LEAST(cont_e6 // 100000, 9) AS BIGINT) AS band,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(cont_e6) // COUNT(*) AS BIGINT) AS mean_cont_e6
       |FROM r GROUP BY 1 ORDER BY band""".stripMargin

  // ------------- q601: selection curve — budget sweep

  /** q601: the selection curve behind q578's single operating point —
    * quality-first greedy selection evaluated at 10/25/50/75% token
    * budgets in ONE device pass (the cumulative prefix is computed once;
    * each budget is a conditional aggregate over the same frame, q592
    * style). Per budget: selected docs/tokens, the score cutoff, and
    * realized doc/token fractions — the table that shows how fast the
    * cutoff decays as the budget grows, i.e. how much quality headroom
    * the corpus actually has.
    */
  val q601BudgetSweep: Q = (s, dir) => {
    val pcts = Seq(10L, 25L, 50L, 75L)
    // single checkpointed documents scan shared by the prefix device and
    // the totals scalar (the budgetSelection posture, r9)
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), q99ScoreCol.as("score"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    val cum = Prefix.runningSum(scored, "score", Seq("doc_id"), "n_tokens",
      "cum_before", desc = true, materialize = false)
    val tot = scored.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_docs_all"))
    val withB = cum.crossJoin(broadcast(tot))
    val aggCols = Seq(max(col("total_tokens")).as("total_tokens"),
      max(col("n_docs_all")).as("n_docs_all")) ++
      pcts.flatMap { p =>
        val sel = col("cum_before") <
          expr(s"CAST(CAST(total_tokens AS DECIMAL(38,0)) * $p DIV 100 AS BIGINT)")
        Seq(sum(when(sel, 1L).otherwise(0L)).as(s"n$p"),
          coalesce(sum(when(sel, col("n_tokens"))), lit(0L)).as(s"t$p"),
          min(when(sel, col("score"))).as(s"c$p"))
      }
    val aggs = withB.agg(aggCols.head, aggCols.tail: _*)
    val stackExpr = pcts.map(p => s"${p}L, n$p, t$p, c$p").mkString(
      s"stack(${pcts.size}, ", ", ",
      ") AS (budget_pct, n_docs_selected, tokens_selected, cutoff_score)")
    aggs.selectExpr("total_tokens", "n_docs_all", stackExpr)
      .select(col("budget_pct"),
        expr("""CAST(CAST(total_tokens AS DECIMAL(38,0)) * budget_pct
               |  DIV 100 AS BIGINT)""".stripMargin).as("budget_tokens"),
        col("n_docs_selected"), col("tokens_selected"), col("cutoff_score"),
        expr("""CAST(CAST(n_docs_selected AS DECIMAL(38,0)) * 1000000
               |  DIV n_docs_all AS BIGINT)""".stripMargin).as("frac_docs_e6"),
        expr("""CAST(CAST(tokens_selected AS DECIMAL(38,0)) * 1000000
               |  DIV total_tokens AS BIGINT)""".stripMargin)
          .as("frac_tokens_e6"))
      .orderBy(col("budget_pct"))
  }

  val q601Sql: String =
    s"""WITH $q99ScoreCtes,
       |toks AS (
       |  SELECT doc_id,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |j AS (
       |  SELECT scored.doc_id, score, n_tokens
       |  FROM scored JOIN toks USING (doc_id)),
       |tk AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs_all
       |  FROM j),
       |c AS (
       |  SELECT j.*, total_tokens, n_docs_all,
       |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS cum_before
       |  FROM j CROSS JOIN tk),
       |p(budget_pct) AS (VALUES (10), (25), (50), (75)),
       |sel AS (
       |  SELECT budget_pct, total_tokens, n_docs_all, n_tokens, score,
       |    CAST(CAST(total_tokens AS HUGEINT) * budget_pct // 100 AS BIGINT)
       |      AS budget_tokens, cum_before
       |  FROM c CROSS JOIN p)
       |SELECT CAST(budget_pct AS BIGINT) AS budget_pct,
       |  CAST(MAX(budget_tokens) AS BIGINT) AS budget_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs_selected,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected,
       |  CAST(MIN(score) AS BIGINT) AS cutoff_score,
       |  CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // MAX(n_docs_all)
       |    AS BIGINT) AS frac_docs_e6,
       |  CAST(CAST(SUM(n_tokens) AS HUGEINT) * 1000000
       |    // MAX(total_tokens) AS BIGINT) AS frac_tokens_e6
       |FROM sel WHERE cum_before < budget_tokens
       |GROUP BY budget_pct ORDER BY budget_pct""".stripMargin

  val queries: Map[String, Q] = Map(
    "q601_budget_sweep" -> q601BudgetSweep,
    "q599_bench_coverage" -> q599BenchCoverage,
    "q598_quality_drift" -> q598QualityDrift,
    "q597_quality_epochs" -> q597QualityEpochs,
    "q595_length_bias" -> q595LengthBias,
    "q590_dedup_quality" -> q590DedupQuality,
    "q592_truncation_loss" -> q592TruncationLoss,
    "q588_pad_waste" -> q588PadWaste,
    "q587_scorer_agreement" -> q587ScorerAgreement,
    "q585_domain_reweight" -> q585DomainReweight,
    "q582_budget_by_lang" -> q582BudgetByLang,
    "q581_mixing_epochs" -> q581MixingEpochs,
    "q578_token_budget" -> q578TokenBudget,
    "q579_selection_shift" -> q579SelectionShift,
    "q566_importance_ess" -> q566ImportanceEss,
    "q565_binary_manifest" -> q565BinaryManifest,
    "q559_randomized_response" -> q559RandomizedResponse,
    "q506_coverage_select" -> q506CoverageSelect,
    "q498_mixture_weights" -> q498MixtureWeights,
    "q499_char_entropy" -> q499CharEntropy,
    "q385_spiegelhalter" -> q385Spiegelhalter,
    "q386_cox_calibration" -> q386CoxCalibration,
    "q348_g_test" -> q348GTest,
    "q343_fleiss_kappa" -> q343FleissKappa,
    "q336_isotonic" -> q336Isotonic,
    "q331_logloss_hl" -> q331LoglossHl,
    "q267_ece" -> q267Ece,
    "q430_brier_decomposition" -> q430BrierDecomposition,
    "q257_cdc_chunks" -> q257CdcChunks,
    "q223_readability" -> q223Readability,
    "q226_calibration" -> q226Calibration,
    "q241_oov_audit" -> q241OovAudit,
    "q245_mix_adjusted" -> q245MixAdjusted,
    "q242_shard_planner" -> q242ShardPlanner,
    "q134_bpe_train" -> q134BpeTrain,
    "q135_bpe_apply" -> q135BpeApply,
    "q169_vocab_coverage" -> q169VocabCoverage,
    "q125_source_overlap" -> q125SourceOverlap,
    "q192_contamination_matrix" -> q192ContaminationMatrix,
    "q132_negative_samples" -> q132NegativeSamples,
    "q83_repetition_metrics" -> q83RepetitionMetrics,
    "q84_segment_dedup" -> q84SegmentDedup,
    "q85_decontaminate" -> q85Decontaminate,
    "q86_temperature_resample" -> q86TemperatureResample,
    "q87_sequence_packing" -> q87SequencePacking,
    "q94_pii_redact" -> q94PiiRedact,
    "q96_bigram_surprisal" -> q96BigramSurprisal,
    "q98_weighted_sample" -> q98WeightedSample,
    "q99_hash_classifier" -> q99HashClassifier,
    "q114_decile_lift" -> q114DecileLift,
    "q164_auc" -> q164Auc,
    "q100_curation_funnel" -> q100CurationFunnel)

  val oracles: Map[String, String] = Map(
    "q601_budget_sweep" -> q601Sql,
    "q598_quality_drift" -> q598Sql,
    "q599_bench_coverage" -> q599Sql,
    "q597_quality_epochs" -> q597Sql,
    "q595_length_bias" -> q595Sql,
    "q590_dedup_quality" -> q590Sql,
    "q592_truncation_loss" -> q592Sql,
    "q588_pad_waste" -> q588Sql,
    "q587_scorer_agreement" -> q587Sql,
    "q585_domain_reweight" -> q585Sql,
    "q582_budget_by_lang" -> q582Sql,
    "q581_mixing_epochs" -> q581Sql,
    "q578_token_budget" -> q578Sql,
    "q579_selection_shift" -> q579Sql,
    "q566_importance_ess" -> q566Sql,
    "q565_binary_manifest" -> q565Sql,
    "q559_randomized_response" -> q559Sql,
    "q506_coverage_select" -> q506Sql,
    "q498_mixture_weights" -> q498Sql,
    "q499_char_entropy" -> q499Sql,
    "q385_spiegelhalter" -> q385Sql,
    "q386_cox_calibration" -> q386Sql,
    "q348_g_test" -> q348Sql,
    "q343_fleiss_kappa" -> q343Sql,
    "q336_isotonic" -> q336Sql,
    "q331_logloss_hl" -> q331Sql,
    "q267_ece" -> q267Sql,
    "q430_brier_decomposition" -> q430Sql,
    "q257_cdc_chunks" -> q257Sql,
    "q223_readability" -> q223Sql,
    "q226_calibration" -> q226Sql,
    "q241_oov_audit" -> q241Sql,
    "q245_mix_adjusted" -> q245Sql,
    "q242_shard_planner" -> q242Sql,
    "q134_bpe_train" -> q134Sql,
    "q135_bpe_apply" -> q135Sql,
    "q169_vocab_coverage" -> q169Sql,
    "q125_source_overlap" -> q125Sql,
    "q192_contamination_matrix" -> q192Sql,
    "q132_negative_samples" -> q132Sql,
    "q83_repetition_metrics" -> q83Sql,
    "q84_segment_dedup" -> q84Sql,
    "q85_decontaminate" -> q85Sql,
    "q86_temperature_resample" -> q86Sql,
    "q87_sequence_packing" -> q87Sql,
    "q94_pii_redact" -> q94Sql,
    "q96_bigram_surprisal" -> q96Sql,
    "q98_weighted_sample" -> q98Sql,
    "q99_hash_classifier" -> q99Sql,
    "q114_decile_lift" -> q114Sql,
    "q164_auc" -> q164Sql,
    "q100_curation_funnel" -> q100Sql)
}
