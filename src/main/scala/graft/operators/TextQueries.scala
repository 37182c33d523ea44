package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeExpressions
import graft.engine.{Dist, QueryPack, Tables}
import graft.engine.Pins.PinOps
import graft.functions.TextDedup

/** Text-analysis + deduplication operators over `documents`
  * (SURVEY.md §2.2 "LLM-data-pipeline operators"):
  * exact dedup, n-gram/word-set Jaccard near-dup, MinHash-LSH and SimHash
  * candidate generation (in TextDedup), language-ID heuristic, quality
  * scoring, token counting, document fingerprinting.
  *
  * Oracle policy: every query has a DuckDB twin. MinHash/SimHash run on
  * the portable FNV-1a-64 + splitmix64 family (graft.engine.OracleHash
  * generates the SQL that regenerates identical signatures), so even the
  * LSH packs are hash-checked; TextDedupSpec additionally asserts
  * candidate recall == 1.0 against the exact-Jaccard query.
  */
object TextQueries extends QueryPack {

  /** Normalized text: lowercase, trimmed, whitespace collapsed.
    * Explicit class (== Java \s incl. VT) so the DuckDB/RE2 twin, whose
    * \s excludes U+000B, normalizes identically. */
  private def norm(c: Column): Column =
    regexp_replace(lower(trim(c)), "[ \\t\\n\\f\\r\\x0B]+", " ")

  /** Distinct word set of a document. */
  private def tokens(c: Column): Column = array_distinct(split(c, " "))

  /** Heuristic language guess (CJK presence, then vowel-ratio bands) —
    * the classifier under evaluation in q_eval_metrics and q_mcc; ONE
    * definition so the two readouts can never score different models. */
  /** Session-memoized corpus word-frequency table (w, n, ct) — the
    * tokenizer-induction family's shared base frame (VERDICT r11 item 4):
    * q_bpe_pairs, q_bpe_train, and q_bpe_apply each previously rebuilt
    * the same explode→groupBy tokenization of the full corpus, tripling
    * the family's bench cost. One session memo keyed on the
    * documents frame + an eager localCheckpoint (the train loop's rounds
    * replay lineage — truncated, they run on the VOCAB-bounded frame
    * only). `ct` is the space-interleaved char tokenization BPE merges
    * rewrite. Unfiltered (every non-empty word) so each consumer applies
    * its own length contract downstream. */
  private def bpeW0(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.engine.Pins.memo(docs, "bpeW0") {
      docs.select(explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .withColumn("ct", concat(lit(" "),
          expr("array_join(split(w, ''), ' ')"), lit(" ")))
        .localCheckpoint(true)
    }
  }

  private def langGuess(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("vr", round(
        regexp_count(col("text"), lit("[aeiou]")).cast("double") /
          length(col("text")), 6))
      .withColumn("guess",
        when(regexp_count(col("text"), lit("[\\u4e00-\\u9fff]")) > 0, "zh")
          .when(col("vr") >= 0.32, "en")
          .when(col("vr") >= 0.28, "es")
          .otherwise("other"))
      .select(col("lang"), col("guess"))

  def declared: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq[(String, (SparkSession, String) => DataFrame)](
    // -- per-document text statistics / quality scoring --------------------
    "q_text_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          col("lang"),
          length(col("text")).cast("bigint").as("n_chars_calc"),
          (col("n_chars") === length(col("text"))).as("n_chars_ok"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("bigint").as("n_distinct_tokens"),
          round(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")), 6).as("ttr"),
          round((length(col("text")) - (size(col("toks")) - 1))
            .cast("double") / size(col("toks")), 6).as("avg_word_len"))
        .orderBy(col("doc_id"))
    }),

    // -- Distinct-n diversity (r16) -------------------------------------------
    // The standard generation-diversity readout (Li et al. 2016): per
    // source, corpus-level distinct unigrams/bigrams over total, as
    // exact micro ratios. Low distinct-n on a source = mode collapse /
    // template farms — the cheap first screen before q_self_bleu's
    // overlap scoring. Docs shorter than the n-gram are excluded from
    // BOTH sides of that n's ratio (mirrored in the oracle). Scale:
    // explode → two vocab-bounded aggregates; no joins beyond the
    // per-source combine.
    "q_distinct_n" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          split(norm(col("text")), " ").as("ws"))
      val uni = docs.filter(size(col("ws")) >= 1)
        .select(col("source"), explode(col("ws")).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("uni_total"),
          countDistinct(col("g")).as("uni_distinct"))
      val bi = docs.filter(size(col("ws")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(ws) - 2)," +
          " i -> concat(ws[i], ' ', ws[i+1]))")).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("bi_total"),
          countDistinct(col("g")).as("bi_distinct"))
      uni.join(bi, "source")
        .select(col("source"), col("uni_total"), col("uni_distinct"),
          col("bi_total"), col("bi_distinct"),
          expr("(1000000 * uni_distinct) div uni_total").as("dist1_u"),
          expr("(1000000 * bi_distinct) div bi_total").as("dist2_u"))
        .orderBy(col("source"))
    }),

    // -- Self-BLEU diversity (r16) --------------------------------------------
    // Zhu et al.'s Self-BLEU (Texygen), the overlap complement of
    // q_distinct_n: each document scored as BLEU-2 against the REST of
    // the corpus as references. Multi-reference clipping is exact per
    // n-gram from two integer stats — a gram's cap for doc d is the max
    // count over OTHER docs, i.e. m1 unless d is the UNIQUE argmax
    // (then m2) — so the modified precisions p₁/p₂ are exact micro
    // rationals; this is the precision-only variant (no brevity
    // penalty), stated here because BP choices differ across
    // implementations. The final geometric mean is the one FP step,
    // with pinned op order √((n1/d1)·(n2/d2)). High avg self-BLEU on a
    // source = the documents paraphrase each other — the near-dup
    // signal at n-gram granularity. Scale: everything lives on
    // vocab-bounded gram-count frames; no doc-pair join ever forms.
    "q_self_bleu" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          split(norm(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      def gramCounts(n: Int) = {
        val g = if (n == 1)
          docs.select(col("doc_id"), col("source"), explode(col("ws")).as("g"))
        else
          docs.select(col("doc_id"), col("source"), explode(expr(
            "transform(sequence(0, size(ws) - 2)," +
            " i -> concat(ws[i], ' ', ws[i+1]))")).as("g"))
        g.groupBy(col("doc_id"), col("source"), col("g"))
          .agg(count(lit(1)).as("c"))
      }
      def prec(n: Int, out: String) = {
        // (r16-opt note: pinning `c` for its three consumers was
        // measured at 4.6 s warm vs 2.2 s unpinned — ReusedExchange
        // already dedupes the count shuffle inside the one plan, and the
        // persist only adds cache-write serialization. Left lazy.)
        val c = gramCounts(n)
        val m1 = c.groupBy(col("g")).agg(max(col("c")).as("m1"))
        val gstats = c.join(m1, "g")
          .groupBy(col("g"))
          .agg(max(col("m1")).as("m1"),
            sum(when(col("c") === col("m1"), 1L).otherwise(0L)).as("at1"),
            max(when(col("c") < col("m1"), col("c")).otherwise(0L))
              .as("m2"))
        c.join(gstats, "g")
          .withColumn("cap", when(
            col("c") === col("m1") && col("at1") === 1L, col("m2"))
            .otherwise(col("m1")))
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(least(col("c"), col("cap"))).as(s"num_$n"),
            sum(col("c")).as(s"den_$n"))
          .withColumn(out, expr(s"(1000000 * num_$n) div den_$n"))
      }
      val p1 = prec(1, "p1_u")
      val p2 = prec(2, "p2_u").drop("source")
      p1.join(p2, "doc_id")
        .withColumn("bleu_u", floor(sqrt(
          (col("num_1").cast("double") / col("den_1").cast("double")) *
          (col("num_2").cast("double") / col("den_2").cast("double"))) *
          lit(1000000.0)).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(p1_u) div count(1)").as("p1_avg_u"),
          expr("sum(p2_u) div count(1)").as("p2_avg_u"),
          expr("sum(bleu_u) div count(1)").as("selfbleu_avg_u"))
        .orderBy(col("source"))
    }),

    // -- BPE merge-candidate scoring (tokenizer induction, one round) -------
    // The adjacent-symbol-pair count that drives every byte-pair-encoding
    // merge decision. The scalable formulation: corpus → word histogram
    // FIRST (vocabulary-bounded shuffle, exactly the wordcount shape),
    // then char pairs expand over DISTINCT words only, weighted by their
    // counts — pair work scales with |vocab| · word_len, not corpus
    // tokens, which is why BPE trainers run on frequency tables, not raw
    // text. Exact integer counts end to end; total (count desc, pair)
    // order makes the top-20 boundary deterministic.
    "q_bpe_pairs" -> ((s, d) => {
      val words = bpeW0(s, d).filter(length(col("w")) >= 2)
      words
        .select(col("w"), col("n"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(substring(col("w"), col("i"), lit(2)).as("pair"), col("n"))
        .groupBy(col("pair"))
        .agg(sum(col("n")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(20)
    }),

    // -- HTML boilerplate extraction ----------------------------------------
    // Web-corpus cleaning: raw crawl pages carry chrome (nav, footer,
    // script) around the payload. The fixture stage wraps each document
    // in a deterministic page; the OPERATOR is the extraction — drop
    // non-content elements, take <title> and the tag-stripped body text,
    // and emit a structural integrity bit (extracted == original). One
    // narrow codegen'd projection per row, no shuffle before the output
    // sort: a streamed pass at any corpus size. Regexes avoid \s (Java
    // includes VT where RE2/DuckDB does not) and backreferences (RE2
    // has none) so both engines run the same automaton.
    "q_html_extract" -> ((s, d) => {
      val page = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit(" ["), col("source"), lit("]</title><script>var x=1;</script>"),
        lit("</head><body><nav>home | about | index</nav><p>"),
        col("text"),
        lit("</p><footer>(c) corpus</footer></body></html>"))
      Tables.documents(s, d)
        .withColumn("page", page)
        .withColumn("title",
          regexp_extract(col("page"), "<title>([^<]*)</title>", 1))
        .withColumn("deboiler",
          regexp_replace(regexp_replace(col("page"),
            "<(nav|footer|script)>[^<]*</(nav|footer|script)>", ""),
            "<[^>]*>", " "))
        .withColumn("body_text",
          regexp_replace(trim(col("deboiler")), "[ ]{2,}", " "))
        .select(
          col("doc_id"),
          col("title"),
          length(col("page")).cast("bigint").as("page_len"),
          length(col("body_text")).cast("bigint").as("extracted_len"),
          (col("body_text") ===
            concat(col("title"), lit(" "), col("text"))).as("intact"))
        .orderBy(col("doc_id"))
    }),

    // -- quality score: composite, filterable --------------------------------
    "q_quality_score" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("uniq_ratio",
          size(array_distinct(split(col("text"), " "))).cast("double") /
            col("n_tok"))
        .withColumn("len_score",
          least(col("n_tok").cast("double") / 50.0, lit(1.0)))
        .withColumn("score", round((col("uniq_ratio") + col("len_score")) / 2.0, 6))
        .filter(col("score") > 0.5)
        .select(col("doc_id"), col("score"),
          round(col("uniq_ratio"), 6).as("uniq_ratio"),
          round(col("len_score"), 6).as("len_score"))
        .orderBy(col("doc_id"))
    }),

    // -- model-based QUALITY CLASSIFIER (hashed linear scorer) -------------
    // The model-based counterpart of q_quality_score's heuristics: a
    // fastText-style linear classifier over hashed bag-of-words features
    // (Joulin et al. 2016, arXiv:1607.01759) — each distinct word hashes
    // into one of 64 feature buckets and the doc's score is the sum of the
    // buckets' weights. The weight table here is a fixed deterministic
    // function (bucket % 13 − 6) standing in for trained parameters: the
    // inference mechanics (hash → bucket → weight lookup → sum) are
    // exactly what a shipped model runs, and integer weights keep the
    // DuckDB oracle exact. Cost is O(total tokens): one codegen'd
    // unigram-hash pass, an explode, and a per-doc hash agg — at 100 TB a
    // real (arbitrarily large) weight table joins broadcast on bucket id,
    // leaving the same single-shuffle shape.
    "q_quality_classifier" -> ((s, d) => {
      TextDedup.classifierScored(Tables.documents(s, d),
          Seq(col("doc_id"), col("lang")))
        .withColumn("score_norm",
          floor(col("score").cast("double") * lit(1000000.0) /
            col("n_feats") + lit(0.5)) / lit(1000000.0))
        .withColumn("keep", col("score") > 0)
        .orderBy(col("doc_id"))
    }),

    // -- Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1) ----
    // The repetition-independent subset of the canonical pretraining
    // filter, evaluated ENTIRELY in integer/boolean arithmetic — every
    // ratio bound is cross-multiplied (mean word length in [3,10] ⟺
    // 3n ≤ Σlen ≤ 10n; ≥80% alphabetic words ⟺ 5·n_alpha ≥ 4·n_words) —
    // so no engine can disagree at a rule boundary. One narrow map over
    // the corpus (HOF sums inside codegen), no shuffle before the output
    // sort: the filter costs one streamed pass at any scale.
    "q_gopher_rules" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws", split(norm(col("text")), " "))
        .withColumn("n_words", size(col("ws")).cast("long"))
        .withColumn("sum_len",
          expr("aggregate(ws, 0L, (a, w) -> a + length(w))"))
        .withColumn("n_alpha",
          expr("size(filter(ws, w -> w rlike '[a-z]'))").cast("long"))
        .withColumn("n_stop_kinds", size(array_intersect(
          array_distinct(col("ws")),
          array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to"))))
          .cast("long"))
        .withColumn("rule_word_count",
          col("n_words") >= 50 && col("n_words") <= 100000)
        .withColumn("rule_mean_len",
          lit(3L) * col("n_words") <= col("sum_len") &&
            col("sum_len") <= lit(10L) * col("n_words"))
        .withColumn("rule_alpha",
          lit(5L) * col("n_alpha") >= lit(4L) * col("n_words"))
        .withColumn("rule_stopwords", col("n_stop_kinds") >= 2)
        .select(col("doc_id"), col("n_words"),
          col("rule_word_count"), col("rule_mean_len"),
          col("rule_alpha"), col("rule_stopwords"),
          (col("rule_word_count") && col("rule_mean_len") &&
            col("rule_alpha") && col("rule_stopwords")).as("gopher_pass"))
        .orderBy(col("doc_id"))
    }),

    // -- sequential filter funnel: per-stage attrition (r13) -----------------
    // q_gopher_rules reports each rule's verdict per doc; a curation
    // pipeline needs the FUNNEL view — rules applied in a fixed order,
    // with survivors and drop share attributed to the stage that killed
    // each doc (the readout that tells you which rule to re-tune before
    // a 100 TB run). Same rule definitions as q_gopher_rules (single
    // source for the thresholds), one narrow pass + one 1-row aggregate;
    // the 4-stage unpivot runs on that single row.
    "q_filter_funnel" -> ((s, d) => {
      val f = Tables.documents(s, d)
        .withColumn("ws", split(norm(col("text")), " "))
        .withColumn("n_words", size(col("ws")).cast("long"))
        .withColumn("sum_len",
          expr("aggregate(ws, 0L, (a, w) -> a + length(w))"))
        .withColumn("n_alpha",
          expr("size(filter(ws, w -> w rlike '[a-z]'))").cast("long"))
        .withColumn("n_stop_kinds", size(array_intersect(
          array_distinct(col("ws")),
          array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to"))))
          .cast("long"))
        .withColumn("r1",
          (col("n_words") >= 50L && col("n_words") <= 100000L)
            .cast("int").cast("long"))
        .withColumn("r2",
          (lit(3L) * col("n_words") <= col("sum_len") &&
            col("sum_len") <= lit(10L) * col("n_words"))
            .cast("int").cast("long"))
        .withColumn("r3",
          (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words"))
            .cast("int").cast("long"))
        .withColumn("r4", (col("n_stop_kinds") >= 2L)
          .cast("int").cast("long"))
      val m = f.agg(count(lit(1)).as("n0"),
        sum(col("r1")).as("s1"),
        sum(col("r1") * col("r2")).as("s2"),
        sum(col("r1") * col("r2") * col("r3")).as("s3"),
        sum(col("r1") * col("r2") * col("r3") * col("r4")).as("s4"))
      m.select(expr(
          "stack(4, 1L, 'word_count', n0, s1," +
            " 2L, 'mean_len', s1, s2," +
            " 3L, 'alpha_ratio', s2, s3," +
            " 4L, 'stopwords', s3, s4) AS (stage, rule, n_in, n_out)"))
        .withColumn("drop_pct", when(col("n_in") > 0L,
          floor((col("n_in") - col("n_out")).cast("double") /
            col("n_in").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)))
        .orderBy(col("stage"))
    }),

    // -- token-distribution Shannon entropy (quality signal) ---------------
    // ent = ln(n) − (Σ c·ln c)/n over the doc's token histogram — low
    // entropy flags repetitive/templated text. FP determinism: the
    // c·ln c terms are collected, SORTED, and folded left-to-right (the
    // q_lm_perplexity discipline), so both engines sum in the identical
    // order; the surfaced value is floor-quantized. The histogram is the
    // only shuffle, keyed by (doc, token) with map-side combine.
    "q_entropy" -> ((s, d) => {
      val tc = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(split(norm(col("text")), " "))
          .as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("c"))
      tc.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
          array_sort(collect_list(col("c").cast("double") *
            log(col("c").cast("double")))).as("terms"))
        .withColumn("s", expr("aggregate(terms, 0D, (a, x) -> a + x)"))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
          (floor((log(col("n")) - col("s") / col("n")) * lit(1e6) +
            lit(0.5)) / lit(1e6)).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // -- token counting: whitespace + BPE-ish regex ------------------------
    "q_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws_tokens", size(split(col("text"), " ")))
        .withColumn("bpe_tokens",
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("bpe_tokens")).as("sum_bpe_tokens"),
          round(avg(col("ws_tokens")), 6).as("avg_ws_tokens"))
        .orderBy(col("lang"))
    }),

    // -- Flesch readability scoring (syllable-heuristic) --------------------
    // The classic document-difficulty signal a curriculum or quality
    // mix keys on: Flesch reading ease + Flesch–Kincaid grade, with
    // syllables approximated by vowel-group counts (the standard
    // dictionary-free heuristic — exact syllabification needs a
    // pronunciation lexicon; the GROUP count is deterministic and
    // engine-portable as a single regex count). Words count over the
    // same normalized text as the rest of the text family; sentences
    // are [.!?]+ runs floored at 1. Each score is ONE fixed double
    // expression over the three per-doc integers, floor-quantized (a
    // dense doc's ease score goes negative — round() is out per the
    // signed-zero policy). Embarrassingly parallel scan; no shuffle.
    "q_readability" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .withColumn("wrds",
          regexp_count(norm(col("text")), lit("[^ ]+")).cast("long"))
        .withColumn("sents",
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long"))
        .withColumn("syls",
          greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")),
            lit(1)).cast("long"))
        .filter(col("wrds") > 0)
      val wps = col("wrds").cast("double") / col("sents")
      val spw = col("syls").cast("double") / col("wrds")
      t.select(col("doc_id"), col("wrds").as("words"),
          col("sents").as("sentences"), col("syls").as("syllables"),
          (floor((lit(206.835) - lit(1.015) * wps - lit(84.6) * spw) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("flesch"),
          (floor((lit(0.39) * wps + lit(11.8) * spw - lit(15.59)) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("fk_grade"))
        .orderBy(col("doc_id"))
    }),

    // -- tokenizer fertility audit (subwords per word, per language) --------
    // The cross-lingual tokenizer-equity readout: fertility = subword
    // tokens per whitespace word. A language with fertility ≫ the
    // corpus mean pays more sequence length for the same content — the
    // number a multilingual sampling mix corrects for. Reuses
    // q_token_count's BPE-ish token regex verbatim so the two audits
    // can never disagree on what a token is. Exact integer sums per
    // language; ratios by integer micro-division.
    "q_tokenizer_fertility" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("wrds",
          regexp_count(norm(col("text")), lit("[^ ]+")).cast("long"))
        .withColumn("toks",
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
            .cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("wrds")).as("sum_words"),
          sum(col("toks")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_words"),
          col("sum_tokens"),
          (expr("(sum_tokens * 1000000) div sum_words").cast("double") /
            lit(1e6)).as("fertility"),
          (expr("(sum_chars * 1000000) div sum_tokens").cast("double") /
            lit(1e6)).as("chars_per_token"))
        .orderBy(col("lang"))
    }),

    // -- language-ID heuristic (deterministic char-class profile) ----------
    "q_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("vr", round(
          regexp_count(col("text"), lit("[aeiou]")).cast("double") /
            length(col("text")), 6))
        .withColumn("guess",
          when(regexp_count(col("text"), lit("[\\u4e00-\\u9fff]")) > 0, "zh")
            .when(col("vr") >= 0.32, "en")
            .when(col("vr") >= 0.28, "es")
            .otherwise("other"))
        .select(col("doc_id"), col("lang"), col("vr"), col("guess"),
          (col("guess") === col("lang")).as("agrees"))
        .orderBy(col("doc_id"))
    }),

    // -- classifier evaluation: per-class precision/recall/F1 --------------
    // The model-eval pass every labeling pipeline runs at corpus scale:
    // score q_lang_id's heuristic against the ground-truth lang column
    // as a per-class confusion summary. Three label-keyed aggregates
    // (classes, not corpus, sized) merged by full-outer join; every
    // metric is an INTEGER ratio in micro-units (floor division — both
    // engines truncate non-negatives identically), so no FP anywhere.
    // Per-class F1 = 2·tp/(n_true + n_pred) needs no P/R intermediates.
    "q_eval_metrics" -> ((s, d) => {
      val scored = langGuess(s, d)
      val t = scored.groupBy(col("lang").as("label"))
        .agg(count(lit(1)).as("n_true"))
      val p = scored.groupBy(col("guess").as("label"))
        .agg(count(lit(1)).as("n_pred"))
      val tp = scored.filter(col("lang") === col("guess"))
        .groupBy(col("lang").as("label")).agg(count(lit(1)).as("tp"))
      t.join(p, Seq("label"), "full_outer")
        .join(tp, Seq("label"), "left_outer")
        .select(col("label"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision_u",
          when(col("n_pred") > 0, expr("(tp * 1000000) div n_pred")))
        .withColumn("recall_u",
          when(col("n_true") > 0, expr("(tp * 1000000) div n_true")))
        .withColumn("f1_u", expr("(2 * tp * 1000000) div (n_true + n_pred)"))
        .orderBy(col("label"))
    }),

    // -- Matthews correlation coefficient (binary detector quality) --------
    // The single-number confusion summary q_eval_metrics' per-class
    // P/R/F1 doesn't give: MCC balances all four confusion cells, so a
    // detector that just predicts the majority class scores ~0 where
    // accuracy looks great — the right gate metric for imbalanced
    // corpus filters. Binary view of the shared [[langGuess]] model
    // ("en" vs rest); the four cells are one conditional integer scan,
    // MCC/accuracy/balanced-accuracy are fixed double expressions on
    // the 1-row frame (cell products < 2⁵³ below ~10¹⁰ docs; the same
    // documented ceiling as the contingency siblings).
    "q_mcc" -> ((s, d) => {
      val m = langGuess(s, d).agg(
        sum(when(col("lang") === "en" && col("guess") === "en", 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("lang") =!= "en" && col("guess") === "en", 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("lang") === "en" && col("guess") =!= "en", 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("lang") =!= "en" && col("guess") =!= "en", 1L)
          .otherwise(0L)).as("tn"))
      val num = col("tp").cast("double") * col("tn") -
        col("fp").cast("double") * col("fn")
      val den = sqrt((col("tp") + col("fp")).cast("double") *
        (col("tp") + col("fn")) * (col("tn") + col("fp")) *
        (col("tn") + col("fn")))
      val tpr = col("tp").cast("double") / (col("tp") + col("fn"))
      val tnr = col("tn").cast("double") / (col("tn") + col("fp"))
      def q6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      m.select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("((tp + tn) * 1000000) div (tp + fp + fn + tn)")
          .as("accuracy_u"),
        when(den > 0.0, q6(num / den)).as("mcc"),
        // guard both recall denominators: a corpus with zero 'en' (or
        // zero non-'en') docs would otherwise divide by 0 → NaN on the
        // Spark side while DuckDB yields NULL — hash divergence on a
        // degenerate-but-valid input
        when((col("tp") + col("fn")) > 0L && (col("tn") + col("fp")) > 0L,
          q6((tpr + tnr) / lit(2.0))).as("balanced_acc"))
    }),

    // -- document fingerprint: md5 + min-shingle rolling fingerprint -------
    "q_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        // the md5-per-shingle transform is interpreted and CPU-heavy;
        // explicit partition count so AQE can't fold it onto one core
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("toks", split(norm(col("text")), " "))
        .select(
          col("doc_id"),
          md5(norm(col("text"))).as("doc_md5"),
          array_min(transform(
            sequence(lit(0), size(col("toks")) - 5),
            i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(5))))))
            .as("min_shingle_md5"))
        .orderBy(col("doc_id"))
    }),

    // -- deterministic corpus split (train/valid/test) ---------------------
    // Split membership is a pure function of splitmix64(doc_id): stable
    // across runs, engines, row order, and partitioning — the property a
    // training pipeline needs so no example ever migrates between train
    // and eval. The >>> 8 keeps the bucket arithmetic in the positive
    // range on both engines (signed long here, UBIGINT in the oracle).
    "q_hash_split" -> ((s, d) => {
      val bucket = pmod(shiftrightunsigned(
        org.apache.spark.sql.graft.NativeExpressions.splitmix64(col("doc_id")),
        8), lit(100))
      Tables.documents(s, d)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"))
    }),

    // -- split leakage: near-dup pairs straddling the train split (r14) ----
    // The audit that decides whether a split is USABLE: a near-duplicate
    // pair with one side in train and the other in valid/test leaks the
    // evaluation set into training — the classic contamination bug that
    // inflates benchmarks silently. Pairs come from the exact prefix-
    // filtered Jaccard miner at 0.7 (the q_dedup_jaccard machinery);
    // split assignment is the q_hash_split splitmix bucket, so this row
    // audits the repo's OWN split operator. Output: the pair count per
    // unordered split-cell with a leaked flag — the dashboard number is
    // Σ leaked / Σ all. At 100 TB: the miner is the audited blocked
    // path; the split join is two broadcast-friendly key lookups.
    "q_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.exactJaccardPairs(
        docs.select(col("doc_id"), col("text")), 0.7)
      val bucket = pmod(shiftrightunsigned(
        org.apache.spark.sql.graft.NativeExpressions
          .splitmix64(col("doc_id")), 8), lit(100))
      val sp = docs.select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test").as("split"))
      pairs
        .join(sp.select(col("doc_id").as("d1"), col("split").as("s1")),
          "d1")
        .join(sp.select(col("doc_id").as("d2"), col("split").as("s2")),
          "d2")
        .select(least(col("s1"), col("s2")).as("split_a"),
          greatest(col("s1"), col("s2")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaked", col("split_a") =!= col("split_b"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // -- within-document repetition (Gopher-style quality signal) ----------
    // Duplicate word-trigram fraction: high values flag boilerplate /
    // degenerate generations. Narrow per-doc map — scales trivially.
    // The distinct count runs on the native shingle extractor rather than
    // an interpreted transform/slice/concat pipeline (~34µs per trigram
    // measured — 7.8s for the corpus vs 0.2s native), and the repartition
    // pins an explicit partition count: a column-only repartition is a
    // coalescible shuffle, and AQE folds these tiny-byte/heavy-CPU
    // partitions back into one (the text is ~1 MB; the work is not).
    "q_repetition_ratio" -> ((s, d) => {
      val toks = split(norm(col("text")), " ")
      val nTris = (greatest(size(toks) - 3, lit(0)) + 1).cast("bigint")
      // distinct word-trigrams == distinct 3-shingle hashes (native clamps
      // trailing partial shingles exactly like slice(toks, i+1, 3) does)
      val nDistinct = size(org.apache.spark.sql.graft.NativeExpressions
        .shingleHashes(encode(norm(col("text")), "UTF-8"), lit(3)))
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), nTris.as("n_tris"),
          round(lit(1.0) - nDistinct.cast("double") / nTris, 6)
            .as("rep_ratio"))
        .withColumn("repetitive", col("rep_ratio") > 0.2)
        .orderBy(col("doc_id"))
    }),

    // -- stopword coverage (language-quality signal) -----------------------
    // Natural text carries a stable stopword fraction; near-zero flags
    // token soup / non-linguistic content. Narrow per-doc map.
    "q_stopword_ratio" -> ((s, d) => {
      val stop = Seq("the", "a", "an", "and", "of", "to", "in", "is",
        "on", "for")
      val toks = split(norm(col("text")), " ")
      Tables.documents(s, d)
        // explicit partition count: see q_repetition_ratio's AQE note
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), size(toks).cast("bigint").as("n_tokens"),
          size(filter(toks, t => t.isInCollection(stop))).cast("bigint")
            .as("n_stop"))
        .withColumn("stop_ratio",
          round(col("n_stop").cast("double") / col("n_tokens"), 6))
        .withColumn("looks_natural", col("stop_ratio") >= 0.1)
        .orderBy(col("doc_id"))
    }),

    // -- exact dedup by normalized-text hash -------------------------------
    "q_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        // parallelize the per-doc sha2 (explicit count — AQE-coalescible
        // otherwise; see q_repetition_ratio's note)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("fp", sha2(norm(col("text")), 256))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // -- inter-document duplicated-SPAN fraction ---------------------------
    // Span-level (sub-document) duplication signal per Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better": a
    // boilerplate paragraph shared by otherwise-distinct pages never
    // crosses a whole-doc Jaccard threshold, but every one of its 5-word
    // windows recurs corpus-wide. For each doc: the fraction of its
    // shingle POSITIONS whose hash occurs in >= 2 distinct documents
    // (inter-doc only — a phrase repeated within one doc is
    // q_repetition_ratio's signal, not this one). Positional hashes come
    // from the same FNV-1a-64 kernel as the dedup family
    // (PositionalShingleHashes — order kept, duplicates kept).
    // Scale shape: shingling is a narrow map; the recurring-shingle set
    // is one (doc_id, h)-distinct + count shuffle keyed on h (the exact
    // shape of exact dedup, bounded by corpus shingle volume); the
    // per-doc count is a left-semi join + hash agg keyed on doc_id. A
    // hot boilerplate shingle is ONE row in the recurring set — the
    // semi-join fans it out only to the docs that contain it.
    "q_dup_spans" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), TextDedup.wordShinglesSeq(col("text")).as("hs"))
      val pos = sh.select(col("doc_id"), explode(col("hs")).as("h"))
      val recurring = pos.distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val per = pos.join(recurring, Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
      sh.select(col("doc_id"), size(col("hs")).cast("bigint").as("n_spans"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
        // floor-trick rounding: a derived ratio k/n can sit on a decimal
        // boundary where Spark's shortest-string round and DuckDB's
        // binary round disagree (QueryPack contract)
        .withColumn("dup_frac",
          floor(col("n_dup_spans") * lit(1e6) / col("n_spans") + lit(0.5))
            / lit(1e6))
        .orderBy(col("doc_id"))
    }),

    // -- exact-substring (span-level) dedup: maximal repeated spans --------
    // The ExactSubstr shape of Lee et al. (suffix-array dedup): find the
    // MAXIMAL ≥15-token spans that recur across documents — the unit a
    // curation pipeline actually cuts, where q_dup_spans only scores the
    // duplicated FRACTION. Suffix arrays don't distribute; the
    // equivalent relational form is sorted positional shingle runs: a
    // repeated span of L ≥ 15 tokens is exactly a run of L−4
    // consecutive 5-word windows whose hashes each recur in ≥2 distinct
    // docs, so (1) position-hash every window (the PositionalShingle
    // kernel — narrow map), (2) keep positions whose hash is inter-doc
    // recurring (one h-keyed agg + a left-semi join: the exact-dedup
    // shuffle shape), (3) stitch consecutive survivors with
    // gaps-and-islands (pos − row_number per doc — one DOC-KEYED window,
    // parallelism = doc count), (4) keep islands spanning ≥ 15 tokens.
    // Per doc: span count, duplicated-token mass, longest span, first
    // offset — the cut list's driving stats. Every stage is keyed;
    // nothing is corpus-quadratic (a hot boilerplate shingle is ONE row
    // in the recurring set, fanned out only to its containing docs).
    "q_dedup_substr" -> ((s, d) => {
      val minTokens = 15L // spans of >= 15 tokens = runs of >= 11 windows
      val sh = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), TextDedup.wordShinglesSeq(col("text")).as("hs"))
      val pos = sh.select(col("doc_id"),
        posexplode(col("hs")).as(Seq("pos", "h")))
        .withColumn("pos", col("pos").cast("long"))
      val recurring = pos.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val spans = pos.join(recurring, Seq("h"), "left_semi")
        .withColumn("grp",
          col("pos") - row_number().over(wOrd).cast("long"))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("start_pos"), count(lit(1)).as("run"))
        .withColumn("span_tokens", col("run") + lit(4L))
        .filter(col("span_tokens") >= minTokens)
      spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_tokens")).as("dup_tokens"),
          max(col("span_tokens")).as("max_span_tokens"),
          min(col("start_pos")).as("first_span_pos"))
        .orderBy(col("doc_id"))
    }),

    // -- near-dup: embedding-cosine over documents -------------------------
    // Joins each document to its embedding (doc_id == vec_id in this
    // corpus) and mines cosine-near pairs, flagging whether the pair is
    // also an exact text duplicate. IVF-blocked (deterministic centroids,
    // nprobe 2, exact-cosine verify — see Vectors.ivfBlockedPairs): no
    // full-corpus cross join, so the plan survives 100×. The oracle
    // replicates the identical blocking; recall vs all-pairs is asserted
    // in VectorSpec.
    "q_dedup_embed" -> ((s, d) => {
      val points = Tables.documents(s, d)
        .select(col("doc_id"), sha2(norm(col("text")), 256).as("fp"))
        .join(Tables.embeddings(s, d).select(col("vec_id"),
            graft.functions.Vectors.asDouble(col("embedding")).as("v")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("id"), col("v"), col("fp"))
      // nlist = ceil(corpus/64) (clamped, derived from the embeddings
      // table the points join against) — the oracle derives the same
      graft.functions.Vectors.ivfBlockedPairs(points, 0.45,
          nlist = graft.functions.Vectors.deriveNlist(
            Tables.embeddings(s, d).count()), nprobe = 2)
        .select(col("id_1").as("d1"), col("id_2").as("d2"),
          round(col("cos_raw"), 6).as("cos"),
          (col("fp_1") === col("fp_2")).as("exact_dup"))
        .orderBy(col("d1"), col("d2"))
    }),

    // -- bigram-LM perplexity: language-model quality scoring --------------
    // The classic KenLM-shaped quality filter: score each document's
    // per-word negative log-likelihood under a bigram MLE model trained
    // on the corpus itself (one pass builds the counts, one join scores).
    // P(w2|w1) = n(w1,w2) / n(w1·) — every scored bigram exists in the
    // counts by construction, so no smoothing is needed for in-corpus
    // scoring. FP determinism: per-doc log-probs are collected, SORTED,
    // and folded left-to-right, so Spark and DuckDB sum in the identical
    // order regardless of partitioning. Scale notes: the count tables
    // shuffle keyed by bigram/unigram (vocabulary-bounded after the
    // map-side combine); at 100 TB the string join keys would be
    // xxhash64'd to longs — kept as strings here for oracle parity.
    "q_lm_perplexity" -> ((s, d) => {
      val ws = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), split(norm(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      val bi = ws.select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 2)," +
            " i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
      val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
      bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .withColumn("lp", log(col("n2").cast("double") / col("n1")))
        .groupBy(col("doc_id"))
        .agg(collect_list(col("lp")).as("lps"))
        .withColumn("nll",
          -expr("aggregate(array_sort(lps), 0D, (a, x) -> a + x)") /
            size(col("lps")))
        .select(col("doc_id"), round(col("nll"), 6).as("avg_nll"),
          round(exp(col("nll")), 6).as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // -- TextRank extractive summarization (top sentence per doc) ----------
    // The representative-sentence picker a curation pipeline uses to
    // build summaries/previews without a model (Mihalcea & Tarau 2004):
    // sentences from the custom SentenceSplit Generator (q_udtf_gen's
    // boundary-injection preprocessing), a doc-LOCAL similarity graph
    // (edge weight = distinct-word overlap ≥ 1), and 5 weighted-PageRank
    // rounds in the q_pagerank fixed-point discipline — ranks are
    // BIGINT multiples of 1e-12 and every update is integer div
    // arithmetic, so iteration order/engine cannot move a rank by even
    // one quantum. Scale shape: everything keys on doc_id (a doc's
    // sentence graph is ≤ ~8 nodes here, bounded by doc length in
    // general) — the pair join, the degree agg, and all 5 rounds are
    // doc-keyed shuffles; the static graph persists across rounds
    // (q_pagerank's lesson).
    "q_textrank" -> ((s, d) => {
      val SCALE = 1000000000000L
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(col("text"), " the ", ". ").as("t"))
        .select(col("doc_id"),
          NativeExpressions.sentences(col("t")).as(Seq("pos", "sentence")))
        .select(col("doc_id"), col("pos").cast("long").as("sid"),
          col("sentence"),
          array_distinct(split(norm(col("sentence")), " ")).as("ws")).pinned
      val ns = base.groupBy(col("doc_id")).agg(count(lit(1)).as("n_s"))
      val edges = base.select(col("doc_id"), col("sid").as("i"),
          col("ws").as("wi"))
        .join(base.select(col("doc_id"), col("sid").as("j"),
          col("ws").as("wj")), Seq("doc_id"))
        .filter(col("i") =!= col("j"))
        .withColumn("w",
          size(array_intersect(col("wi"), col("wj"))).cast("long"))
        .filter(col("w") >= 1)
        .select(col("doc_id"), col("i"), col("j"), col("w")).pinned
      val wdeg = edges.groupBy(col("doc_id"), col("i"))
        .agg(sum(col("w")).as("wdeg"))
        .withColumnRenamed("i", "j")
      var r = base.select(col("doc_id"), col("sid")).join(ns, "doc_id")
        .select(col("doc_id"), col("sid"),
          expr(s"${SCALE}L div n_s").as("r"))
      // (r16-opt note: broadcasting r/wdeg per round was measured at
      // 5.3 s warm vs 3.7 s for this SMJ shape — the per-round broadcast
      // builds serialize on the driver and lose to the reused shuffle.
      // r17-opt note, the OTHER direction measured and also reverted:
      // caching base/edges hash-partitioned on doc_id and fusing all 5
      // rounds exchange-free via co-partitioned shuffled-hash joins
      // (spark.sql.requireAllClusterKeysForCoPartition=false) collapsed
      // the whole loop into single whale stages — 13 jobs, but 17.4 s
      // warm vs 8.7 s for this shape on the same box: the fused chain
      // exceeds whole-stage-codegen limits and evaluates interpreted,
      // and per-round materialization is lost. The per-round exchange
      // is load-bearing here. Left as-is deliberately.)
      for (_ <- 1 to 5) {
        val contrib = edges
          .join(r.select(col("doc_id"), col("sid").as("j"), col("r")),
            Seq("doc_id", "j"))
          .join(wdeg, Seq("doc_id", "j"))
          .groupBy(col("doc_id"), col("i"))
          .agg(sum(expr("(w * r) div wdeg")).as("c"))
        r = base.select(col("doc_id"), col("sid")).join(ns, "doc_id")
          .join(contrib.withColumnRenamed("i", "sid"),
            Seq("doc_id", "sid"), "left")
          .select(col("doc_id"), col("sid"),
            (expr(s"(15 * ${SCALE}L) div (100 * n_s)") +
              expr("(85 * coalesce(c, 0L)) div 100")).as("r"))
      }
      val wr = Window.partitionBy(col("doc_id"))
        .orderBy(col("r").desc, col("sid"))
      r.withColumn("rk", row_number().over(wr)).filter(col("rk") === 1)
        .join(base.select(col("doc_id"), col("sid"), col("sentence")),
          Seq("doc_id", "sid"))
        .join(ns, "doc_id")
        .select(col("doc_id"), col("n_s"), col("sid").as("top_sid"),
          (col("r").cast("double") / lit(1.0e12)).as("score"),
          col("sentence"))
        .orderBy(col("doc_id"))
    }),

    // -- BPE tokenizer APPLY (fixed merge table, inference path) -----------
    // The other half of q_bpe_pairs' merge SCORING: run a shipped
    // tokenizer. Each word becomes its space-joined character sequence
    // and the 8-entry merge table applies in priority order — each merge
    // is ONE literal left-to-right non-overlapping replace pass (the
    // `replace` builtin has identical semantics in both engines; no
    // regex, no lookaround divergence), and later merges compose over
    // earlier outputs ("t h"→"th" feeds "th e"→"the"). A production
    // merge table is larger but applies exactly this way — narrow
    // per-word map, zero shuffle before the per-doc aggregation; the
    // output is the per-doc char→token compression the tokenizer buys.
    // -- word2vec-style negative-sampling table (unigram^0.75) ---------------
    // The sampling table contrastive training draws negatives from:
    // unigram counts tempered by the classic 0.75 exponent (rare words
    // up-weighted, the word2vec recipe), each word owning a contiguous
    // integer range so a uniform integer draw maps to a word by range
    // lookup — the distributed-sampling-ready layout. Counts are a
    // vocab-bounded aggregate; the cumulative ranges ride one window on
    // that bounded frame (the q_zipf_fit convention); weights are
    // micro-quantized before the prefix so ranges are exact integers.
    "q_negative_sampling" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("wt_u",
          floor(pow(col("c").cast("double"), lit(0.75)) * lit(1e6) +
            lit(0.5)).cast("long"))
      // int64 ceiling (r12 overflow audit, the q_gini documentation
      // convention): wt_u = c^0.75·1e6 ≤ c·1e6, so tot ≤ corpus_tokens·1e6
      // — exact below ~9.2e12 corpus tokens (~40 TB of raw text); beyond
      // that widen tot and cum_hi to DECIMAL(38,0) (HUGEINT twin is
      // automatic: DuckDB sum() already widens).
      val tot = wc.agg(sum(col("wt_u")).as("tot"))
      // the displayed top-30 own the FIRST 30 ranges of the
      // (wt_u desc, w) total order, so their prefix sums depend only on
      // rows above them in that same order — i.e. only on each other.
      // Take the top-k FIRST (distributed TakeOrdered), then run the
      // range window on the 30-row frame: the unpartitioned WindowExec
      // never sees the open-ended vocab (1e8+ words at 100 TB), only a
      // driver-bounded constant. tot stays the full-vocab aggregate.
      val top = wc.orderBy(col("wt_u").desc, col("w")).limit(30)
      val wCum = Window.orderBy(col("wt_u").desc, col("w"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.withColumn("cum_hi", sum(col("wt_u")).over(wCum))
        .crossJoin(broadcast(tot))
        .select(col("w"), col("c"), col("wt_u"),
          (col("cum_hi") - col("wt_u")).as("range_lo"),
          col("cum_hi").as("range_hi"),
          expr("(wt_u * 1000000) div tot").as("prob_u"))
        .orderBy(col("wt_u").desc, col("w"))
    }),

    // -- BPE tokenizer TRAINING loop (3 greedy merge rounds) -----------------
    // Closes the tokenizer-induction triangle: q_bpe_pairs scores one
    // round's candidates and q_bpe_apply replays a FIXED table — this is
    // the loop that LEARNS the table. All state rides the DISTINCT-WORD
    // frame (vocab-bounded, never corpus-bounded): each round counts
    // adjacent token pairs weighted by word frequency, takes the argmax
    // under the (count desc, pair asc) total order, and re-tokenizes via
    // a literal sentinel-space replace — the exact left-to-right
    // non-overlapping semantics q_bpe_apply's spec pins on both engines.
    // The winning pair stays relational (a broadcast 1-row frame), so no
    // driver round-trips; 3 rounds = 3 bounded jobs.
    "q_bpe_train" -> ((s, d) => {
      // rides the session-memoized (and eagerly checkpointed) bpeW0 —
      // see the helper's Scaladoc; the ≥2-char contract applies here
      // (single-char words carry no pairs in round 1, and rounds 2-3
      // guard collapsed words inside bestPair)
      val w0 = bpeW0(s, d).filter(length(col("w")) >= 2)
      def bestPair(wr: DataFrame): DataFrame = wr
        .withColumn("arr", split(trim(col("ct")), " "))
        // words that collapsed to a single token after earlier merges
        // contribute no pairs — without this guard sequence(0, -1) under
        // ANSI mode makes arr[1] throw INVALID_ARRAY_INDEX (the oracle's
        // range(1, len(arr)) is naturally empty for those words)
        .filter(size(col("arr")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(arr) - 2), " +
            "i -> concat(arr[i], ' ', arr[i + 1]))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair")).limit(1)
      def applyBest(wr: DataFrame, b: DataFrame): DataFrame = wr
        .crossJoin(broadcast(b.select(col("pair").as("bp"))))
        .withColumn("ct", call_function("replace", col("ct"),
          concat(lit(" "), col("bp"), lit(" ")),
          concat(lit(" "), call_function("replace", col("bp"),
            lit(" "), lit("")), lit(" "))))
        .select(col("w"), col("n"), col("ct"))
      val b1 = bestPair(w0)
      val w1 = applyBest(w0, b1)
      val b2 = bestPair(w1)
      val w2 = applyBest(w1, b2)
      val b3 = bestPair(w2)
      def tag(b: DataFrame, r: Int) = b.select(lit(r.toLong).as("round"),
        col("pair"),
        call_function("replace", col("pair"), lit(" "), lit(""))
          .as("merged"),
        col("pair_count"))
      tag(b1, 1).unionByName(tag(b2, 2)).unionByName(tag(b3, 3))
        .orderBy(col("round"))
    }),

    "q_bpe_apply" -> ((s, d) => {
      val merges = Seq("t h" -> "th", "th e" -> "the", "i n" -> "in",
        "a n" -> "an", "an d" -> "and", "e r" -> "er", "o n" -> "on",
        "r e" -> "re")
      val merged = merges.foldLeft(col("ct")) { case (acc, (a, b)) =>
        call_function("replace", acc, lit(s" $a "), lit(s" $b "))
      }
      // per-WORD merge compute on the shared vocab-bounded bpeW0 frame
      // (each distinct word tokenized once per session, not once per
      // occurrence), joined back to the doc→word explode by key — the
      // frequency-table formulation every production BPE encoder uses
      val stats = bpeW0(s, d)
        .withColumn("m", merged)
        .select(col("w"), length(col("w")).cast("long").as("n_char"),
          size(split(trim(col("m")), " ")).cast("long").as("n_tok"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(norm(col("text")), " "))
          .as("w"))
        .filter(length(col("w")) > 0)
        .join(stats, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_char")).as("n_char_tokens"),
          sum(col("n_tok")).as("n_tokens"))
        .withColumn("compression",
          round(col("n_tokens").cast("double") / col("n_char_tokens"), 6))
        .orderBy(col("doc_id"))
    }),

    // -- vocabulary coverage curve (OOV rate by vocab size) ----------------
    // The tokenizer-design question: how much of the corpus does a
    // top-K vocabulary cover? For K ∈ {5, 15, 30}: rank tokens by
    // frequency and report the cumulative covered-token share at rank K.
    // The ranking is a [[Dist.globalPrefixSums]] pass over the VOCABULARY
    // frame (count desc, FNV(token) tiebreak — a portable long id both
    // engines derive identically), carrying (cum tokens, rank) in one
    // window — at web scale the vocabulary is millions of rows and this
    // is exactly where a single-partition ORDER BY window dies. Total is
    // a broadcast 1-row frame; output is ≤3 rows.
    "q_vocab_coverage" -> ((s, d) => {
      val vc = Tables.documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .withColumn("tid",
          element_at(TextDedup.wordUnigrams(col("token")), 1))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("one", lit(1L))
      val ranked = Dist.globalPrefixSums(vc, "nd", asc = false,
        idCol = "tid", weightCols = Seq("n", "one"),
        outCols = Seq("cum_n", "rank"), p = 32)
      val total = vc.agg(sum(col("n")).as("total_tokens"))
      ranked.filter(col("rank").isin(5L, 15L, 30L))
        .crossJoin(broadcast(total))
        .select(col("rank").as("vocab_size"),
          col("cum_n").as("covered_tokens"), col("total_tokens"),
          round(col("cum_n").cast("double") / col("total_tokens"), 6)
            .as("coverage"))
        .orderBy(col("vocab_size"))
    }),

    // -- PMI collocation mining: top adjacent-pair associations ------------
    // The tokenizer/phrase-induction signal (Church & Hanks 1990): for
    // every adjacent word pair, PMI = ln(n(a,b)·T / (n(a·)·n(·b))) over
    // the corpus bigram table (T = total bigrams, marginals count bigram
    // OCCURRENCES). Pairs below 5 occurrences are dropped (the classic
    // low-count PMI explosion). Integer counts make the single ln the
    // only FP op — floor-quantized to micros (PMI goes negative; the
    // q_dsir discipline) so the top-20 boundary compares exactly, with
    // (w1, w2) as the total-order tiebreak. Scale shape: every shuffle
    // is vocabulary-bounded (bigram/unigram keyed aggs), the total is a
    // broadcast 1-row frame, and the final sort is TakeOrdered — the
    // corpus itself never re-shuffles.
    "q_pmi" -> ((s, d) => {
      val ws = Tables.documents(s, d)
        .select(col("doc_id"), split(norm(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      val bi = ws.select(explode(expr(
          "transform(sequence(0, size(ws) - 2)," +
            " i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n2"))
      val ca = bi.groupBy(col("w1")).agg(count(lit(1)).as("na"))
      val cb = bi.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
      val tot = bi.agg(count(lit(1)).as("t"))
      c2.filter(col("n2") >= 5)
        .join(ca, "w1").join(cb, "w2")
        .crossJoin(broadcast(tot))
        .withColumn("pmi_u", floor(
          log(col("n2").cast("double") * col("t") /
            (col("na").cast("double") * col("nb"))) *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .orderBy(col("pmi_u").desc, col("w1"), col("w2")).limit(20)
        .select(col("w1"), col("w2"), col("n2"),
          (col("pmi_u") / lit(1e6)).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
    }),

    // -- skip-gram co-occurrence pairs (window ±2) --------------------------
    // The word2vec training-pair extraction that completes the
    // embedding-induction triangle (q_negative_sampling draws the
    // negatives, this mines the positives): every (center, context)
    // pair within a ±2 token window, counted corpus-wide, top-20 under
    // the (count desc, center, context) total order. Scale shape: the
    // context lookup is an exact EQUI-join on (doc_id, pos + k) — the
    // offset becomes part of the join key, so pair volume is
    // tokens × window (linear), never positional range-scan; counting
    // is one vocabulary²-bounded (in practice near-linear) keyed agg;
    // the final sort is TakeOrdered.
    "q_skipgram_pairs" -> ((s, d) => {
      val pos = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(norm(col("text")), " ")).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
      val right = pos
        .select(col("doc_id"), col("p").as("p2"), col("w").as("ctx"))
      val pairs = pos
        .withColumn("k", explode(sequence(lit(1), lit(2))))
        .withColumn("p2", col("p") + col("k"))
        .join(right, Seq("doc_id", "p2"))
      // symmetric window: the (a, b) forward match stands in for both
      // directions, so emit the mirrored pair too — each unordered
      // co-occurrence contributes one count to each direction
      pairs.select(col("w").as("center"), col("ctx").as("context"))
        .unionAll(pairs.select(col("ctx").as("center"),
          col("w").as("context")))
        .groupBy(col("center"), col("context"))
        .agg(count(lit(1)).as("n_cooc"))
        .orderBy(col("n_cooc").desc, col("center"), col("context"))
        .limit(20)
    }),

    // -- Gini-Simpson lexical diversity per source --------------------------
    // The corpus-mix health readout a data card wants next to token
    // counts: the probability two random tokens from a source differ,
    // 1 − Σc(c−1)/(N(N−1)) over the source's word histogram — high for
    // organic text, collapsing toward 0 for templated/spam sources.
    // Σc(c−1) accumulates in DECIMAL(38,0) (a hot word's c² exits int64
    // at c > 3e9; HUGEINT is automatic in the twin); the index is ONE
    // mirrored double expression. Scale: a (source, word) keyed agg then
    // a source-keyed reduce — both vocabulary-bounded.
    "q_simpson_diversity" -> ((s, d) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val wc = Tables.documents(s, d)
        .select(col("source"), explode(split(norm(col("text")), " "))
          .as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      wc.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(dec(col("c")) * dec(col("c") - lit(1L))).as("ssq"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          (floor((lit(1.0) - col("ssq").cast("double") /
            (col("n_tokens").cast("double") * (col("n_tokens") - lit(1L))))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("gini_simpson"))
        .orderBy(col("source"))
    }),

    // -- per-doc novelty: fraction of shingles FIRST seen in this doc ------
    // The corpus-level originality signal dedup thresholds miss: a doc
    // can evade near-dup pair mining while still being assembled from
    // content that exists elsewhere (quote farms, templated spam,
    // boilerplate mashups). Novelty = share of the doc's distinct 5-word
    // shingles whose corpus-wide FIRST occurrence (min doc_id —
    // deterministic, order-free) is this doc. Training-data use: rank
    // docs by novelty to prioritize genuinely new content and demote
    // recombinations when packing a token budget. Scale shape: one
    // shuffle keyed by shingle hash for the first-occurrence agg
    // (map-side combined), one keyed join back, one per-doc agg — all
    // linear; shingle hashes are the SAME FNV-1a-64 family every dedup
    // operator uses (TextDedup.wordShingles), so the oracle regenerates
    // them bit-identically via OracleHash.shingleCtes.
    "q_novelty" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          graft.functions.TextDedup.wordShingles(col("text")).as("toks"))
      val ex = t.select(col("doc_id"), explode(col("toks")).as("tok"))
      val first = ex.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("first_doc"))
      ex.join(first, "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles"), 6))
        .orderBy(col("doc_id"))
    }),

    // -- corpus-level source-overlap audit (pairwise shingle Jaccard) ------
    // The mirror-detection / source-dedup question ABOVE the document
    // level: how much content do two ingest sources share? (A crawl that
    // picked up a mirror shows up here long before per-doc dedup melts
    // it away.) Jaccard over each source's DISTINCT 5-word shingle set —
    // the same FNV family every dedup operator uses. Scale shape: the
    // (source, shingle) distinct is one shuffle; the pair expansion
    // self-joins on shingle where each group holds ≤ |sources| rows
    // AFTER the distinct — a hot boilerplate shingle is |sources| rows,
    // never a hot-key blowup — so candidate volume is linear in distinct
    // (shingle, source) pairs with a |sources|² cap per shingle.
    "q_source_overlap" -> ((s, d) => {
      // persisted: the shingle+distinct pipeline feeds both self-join
      // sides AND the size aggregation (different partitioning, so
      // exchange reuse can't cover it) — the q_textrank/q_graph_bfs
      // static-frame lesson; pinned for the lazily-run returned plan,
      // released by the harness via Pins
      val ss = Tables.documents(s, d)
        .select(col("source"),
          explode(TextDedup.wordShingles(col("text"))).as("tok"))
        .distinct().pinned
      val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      ss.join(ss.select(col("source").as("s2"), col("tok")), "tok")
        .filter(col("source") < col("s2"))
        .groupBy(col("source").as("s1"), col("s2"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes).withColumnRenamed("source", "s1")
          .withColumnRenamed("sz", "n_a"), "s1")
        .join(broadcast(sizes).withColumnRenamed("source", "s2")
          .withColumnRenamed("sz", "n_b"), "s2")
        .select(col("s1"), col("s2"), col("n_a"), col("n_b"), col("inter"),
          round(col("inter").cast("double") /
            (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
        .orderBy(col("s1"), col("s2"))
    }),

    // -- duplicate rate by source (curation accountability readout) --------
    // Which ingestion sources PRODUCE the duplicates: mine the exact
    // near-dup pairs once (the shared prefix-filtered miner), mark every
    // doc that participates in ≥1 pair, and aggregate the dup share per
    // source — the per-feed number that decides which crawls get
    // throttled or re-scoped. Exact integer micro-rate; one left-semi
    // style mark join + a source-keyed agg on top of the pair mining.
    "q_dup_by_source" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.exactJaccardPairs(
        docs.select(col("doc_id"), col("text")), 0.7)
      val dupDocs = pairs.select(col("d1").as("doc_id"))
        .unionAll(pairs.select(col("d2").as("doc_id"))).distinct()
        .withColumn("is_dup", lit(1L))
      docs.select(col("doc_id"), col("source"))
        .join(dupDocs, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
        .withColumn("dup_rate",
          expr("(n_dup_docs * 1000000) div n_docs").cast("double") /
            lit(1e6))
        .orderBy(col("source"))
    }),

    // -- MinHash estimator calibration (est vs exact Jaccard) ---------------
    // The sketch-trust readout q_dedup_recall doesn't give: per matched-
    // coordinate count m ∈ [0,16], how does the MinHash ESTIMATE m/16
    // track the exact Jaccard on real pairs? (E[matches]/16 = J is the
    // estimator's unbiasedness — this measures it on THIS corpus, which
    // is what calibrates banding thresholds before anyone trusts them at
    // 100 TB.) Pairs come from the exact miner at J ≥ 0.6 (the bounded
    // ground-truth set); signatures from the session-memoized table; the
    // per-pair match count is one zip_with fold; the calibration frame
    // is ≤ 17 rows. Exact integer micro averages.
    "q_minhash_calibration" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pairs = TextDedup.exactJaccardPairs(docs, 0.6)
      val sigs = TextDedup.minHashSignatures(docs, 16)
      pairs
        .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sa")),
          "d1")
        .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sb")),
          "d2")
        .withColumn("m", expr(
          "aggregate(zip_with(sa, sb, (x, y) -> " +
            "CASE WHEN x = y THEN 1 ELSE 0 END), 0, (a, v) -> a + v)")
          .cast("long"))
        .withColumn("jacc_u",
          floor(col("jacc") * lit(1e6) + lit(0.5)).cast("long"))
        .groupBy(col("m").as("n_match"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("jacc_u")).as("sj"))
        .select(col("n_match"), col("n_pairs"),
          (expr("(n_match * 1000000) div 16").cast("double") / lit(1e6))
            .as("est_jaccard"),
          (expr("(sj div n_pairs)").cast("double") / lit(1e6))
            .as("avg_exact_jaccard"))
        .orderBy(col("n_match"))
    }),

    // -- near-dup: exact word-set Jaccard (ground truth for LSH variants) --
    "q_dedup_jaccard" -> ((s, d) => {
      TextDedup.exactJaccardPairs(
          Tables.documents(s, d).select(col("doc_id"), col("text")), 0.7)
        .orderBy(col("d1"), col("d2"))
    }),

    // -- scale-dispatched dedup (the PERF.md rule as an operator) ----------
    // TextDedup.jaccardPairsAuto probes corpus cardinality and routes:
    // exact prefix-filtered mining at/below ExactPairsMaxDocs distinct
    // docs, MinHash-LSH banding above. The oracle twin pins the
    // SMALL-CORPUS branch (sf0.01 is orders of magnitude under the
    // threshold, so it must equal q_dedup_jaccard's exact answer);
    // TextDedupSpec pins the switchover itself.
    "q_dedup_auto" -> ((s, d) => {
      TextDedup.jaccardPairsAuto(
          Tables.documents(s, d).select(col("doc_id"), col("text")), 0.7)
        .orderBy(col("d1"), col("d2"))
    }),

    // -- incremental dedup: a new batch against the indexed corpus ---------
    // The steady-state production dedup shape: the corpus (first 80% of
    // doc ids — cutoff = floor(0.8·(max_id+1)), scale-relative by
    // construction) is INDEXED but never re-paired against itself; only
    // the increment (the "daily batch") generates candidates, against
    // both the corpus and its own earlier members (first-writer-wins
    // inside the batch). See TextDedup.incrementalJaccardPairs for the
    // one-sided prefix-filter argument. Per increment doc: how many
    // earlier near-dups exist, and the keep/drop verdict.
    "q_dedup_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val cutoff = ((maxId + 1L) * 8L) / 10L
      val pairs = TextDedup.incrementalJaccardPairs(docs, 0.7, cutoff)
      val matches = pairs.groupBy(col("d2").as("doc_id"))
        .agg(count(lit(1)).as("n_matches"))
      docs.filter(col("doc_id") >= cutoff).select(col("doc_id"))
        .join(matches, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // -- near-dup: character 3-gram Jaccard --------------------------------
    // Size-banded exact similarity join over a DENSE gram universe. A
    // 3-gram universe is small and dense (this corpus: 377 distinct
    // grams, each doc carrying ~40% of them), which defeats every
    // sublinear candidate structure for exact all-pairs — all three
    // MEASURED on this corpus:
    //  - prefix filtering (Bayardo/PPJoin) removes only 2% of banded
    //    candidates (sf0.1: 5,239,783 of 5,342,380 survive — the rarest
    //    gram of one doc is common corpus-wide);
    //  - MinHash-LSH candidates blow up instead of shrinking: the
    //    BASELINE Jaccard of two unrelated docs is ~0.25 (dense sets
    //    overlap by construction), so 16×2 banding admits ~64% of all
    //    pairs — measured 47-80 s at sf0.1 vs 2.85 s banded;
    //  - Hamming-chunk pigeonhole over the 377-bit universe has too few
    //    bits of entropy for the ≥48 chunks a J >= 0.8 bound needs.
    // So the blocking stays the geometric size-band structure (J >= t
    // forces size ratio >= t; every qualifying pair sits in the same or
    // adjacent band; a (origBand, doc_id) tie-break makes each unordered
    // pair match exactly once; a doc_id salt spreads each band across
    // the cluster) — inherently quadratic in band population, which IS
    // the complexity of exact dense-universe Jaccard. What the r8 probe
    // flagged (21.7× at the 10× sf1 probe) is attacked on the constant:
    // each doc's gram set becomes a fixed-width BITMAP over the corpus
    // gram dictionary (377 grams → 6 longs), so the quadratic stage
    // streams 48-byte bitmaps instead of ~600-byte sorted arrays (~12×
    // less join payload) and each verify is 6 AND+popcount word ops
    // (codegen'd) instead of a ~30-150-step merge walk. The dictionary
    // is a driver-side collect of the aggregated distinct grams (tiny by
    // construction here); corpora with open universes (> 4096 grams)
    // fall back to the sorted-array bounded-merge verify unchanged.
    // The approximate scale path remains q_dedup_minhash.
    "q_dedup_ngram" -> ((s, d) => ngramPairsExact(s, d)),

    // -- scale-dispatched ngram dedup (VERDICT r11 item 3) -----------------
    // The q_dedup_auto treatment for the second exact-by-contract
    // quadratic row: probe corpus cardinality (one distinct-count) and
    // route per TextDedup.dedupPathFor — the exact size-banded
    // dense-universe miner at/under ExactPairsMaxDocs distinct docs,
    // MinHash-LSH word-shingle banding above (q_dedup_minhash's
    // semantics: above the ceiling the dense char-trigram universe
    // defeats every sublinear exact structure — measured in the
    // q_dedup_ngram block below — so the sanctioned web-scale feature
    // space IS the sparse shingle one, recall-monitored by
    // q_dedup_recall). Oracle pins the SMALL (exact) branch; the
    // TextDedupSpec chooser pins make the quadratic path unreachable
    // above the ceiling.
    "q_dedup_ngram_auto" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val n = docs.select(col("doc_id")).distinct().count()
      if (TextDedup.dedupPathFor(n) == "exact") ngramPairsExact(s, d)
      else TextDedup.minHashLshPairs(docs, numPerms = 16, bands = 4,
          threshold = 0.8)
        .orderBy(col("d1"), col("d2"))
    }),
  ) ++ textRest

  private def ngramPairsExact(s: SparkSession, d: String): DataFrame = {
      import org.apache.spark.sql.graft.NativeExpressions
      val thr = 0.8
      val salts = 32
      // Gram extraction is a single narrow map: the native expression
      // emits each doc's distinct byte-trigram codes as a sorted int
      // array (ASCII corpus ⇒ identical to character trigrams). The
      // repartition restores input parallelism lost to the single local
      // parquet split (a real 100 TB table has thousands of splits).
      val docIdsAll = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("gids", NativeExpressions
          .trigramCodes(encode(norm(col("text")), "UTF-8")))
        .withColumn("sz", size(col("gids")))
        .filter(col("sz") > 0)
        .withColumn("band",
          floor(log(col("sz").cast("double")) / math.log(1.0 / thr))
            .cast("int"))
        .select(col("doc_id"), col("gids"), col("sz"), col("band"))
      // Sampled ground truth (VERDICT r12 item 4): exact all-pairs dense-
      // universe Jaccard is quadratic BY DEFINITION, so the ground-truth
      // row bounds its input instead of its algorithm — a deterministic
      // STRATIFIED sample: strata are the decimal size classes of the
      // gram-set cardinality (digit count — integer-exact on both
      // engines, unlike a float log-band edge), each stratum keeps its
      // 192 smallest splitmix64(doc_id)-ranked docs (a fresh seed stream;
      // top-56-bit order so signed/unsigned agree, the q_rebalance
      // idiom). The sample is ≤ 19·192 docs at ANY corpus size — the
      // exact miner below is now constant-bounded, never corpus-
      // quadratic — while staying exact within the sample (every pair of
      // sampled docs is verified). Size-class stratification keeps every
      // band of the blocking structure represented, and consistent
      // hashing means a doc only leaves the panel when a smaller-keyed
      // doc arrives. At sf0.01 (500 docs) the sample genuinely binds
      // (89+192 = 281 docs kept), so the DuckDB oracle exercises the
      // sampling logic too, not just the miner. The FULL-corpus scale
      // path remains q_dedup_minhash / the *_auto dispatchers.
      val mPerStratum = 192
      val wS = Window.partitionBy(length(col("sz").cast("string")))
        .orderBy(col("hk"), col("doc_id"))
      val docIds = docIdsAll
        .withColumn("hk", shiftrightunsigned(
          NativeExpressions.splitmix64(
            col("doc_id") * lit(613L) + lit(29L)), 8))
        .withColumn("srn", row_number().over(wS))
        .filter(col("srn") <= mPerStratum)
        .drop("hk", "srn")
      // corpus gram dictionary — but probe cardinality BEFORE collecting:
      // limit(4097) bounds the driver transfer regardless of the gram
      // universe, so an open-universe corpus (the case the array
      // fallback below exists for) can never OOM the driver here. When
      // the probe comes back complete (≤ 4096 rows) it IS the whole
      // dictionary — sort it locally, no second job.
      val dictDf = docIds.select(explode(col("gids")).as("g")).distinct()
      val probe = dictDf.limit(4097).collect().map(_.getInt(0))
      val useBitmap = probe.length <= 4096
      val dict = if (useBitmap) probe.sorted else Array.emptyIntArray
      val docsP =
        if (useBitmap)
          docIds.withColumn("pl", NativeExpressions
            .bitmapFromSortedInts(col("gids"), typedlit(dict.toSeq)))
            .select(col("doc_id"), col("pl"), col("sz"), col("band"))
        else docIds
          .select(col("doc_id"), col("gids").as("pl"), col("sz"),
            col("band"))
      val a = docsP.select(col("band"),
        pmod(col("doc_id"), lit(salts)).as("salt"), col("doc_id").as("ida"),
        col("pl").as("pa"), col("sz").as("sza"))
      val b = docsP
        .select(col("band").as("ob"), col("doc_id").as("idb"),
          col("pl").as("pb"), col("sz").as("szb"))
        .withColumn("band", explode(array(col("ob"), col("ob") + 1)))
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      val jaccRaw = col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter"))
      // SHUFFLE_HASH: both sides partition by (band, salt) — 9×32 keys
      // spread the quadratic band work across the cluster. The broadcast
      // alternative would funnel every probe through the scan's (few)
      // input partitions and ship the salt-replicated side whole.
      val joined = a.alias("a").join(b.hint("shuffle_hash").alias("b"),
          col("a.band") === col("b.band") && col("a.salt") === col("b.salt") &&
            // adjacent-band pairs match once (at a's band); same-band pairs
            // tie-break on doc_id so each unordered pair appears exactly once
            (col("ob") < col("a.band") ||
              (col("ob") === col("a.band") && col("idb") < col("ida"))) &&
            // exact size prune (banding is only the blocking structure)
            least(col("sza"), col("szb")).cast("double") /
              greatest(col("sza"), col("szb")) >= thr)
      val withInter =
        if (useBitmap)
          // 6-word AND+popcount — cheaper than any bounded merge walk
          joined.withColumn("inter",
            NativeExpressions.andPopcount(col("pa"), col("pb")))
        else joined
          // THRESHOLD-BOUNDED intersect: jacc >= thr ⟺ inter >=
          // ceil(thr·s/(1+thr)), so the merge walk aborts as soon as the
          // bound is unreachable; the 1e-9 ceiling slack can only ADMIT
          // a borderline pair — the exact jaccRaw filter below stays the
          // single source of truth for the reject set (aborts return -1,
          // which fails jaccRaw).
          .withColumn("need",
            ceil(lit(thr) * (col("sza") + col("szb")) / lit(1.0 + thr)
              - lit(1e-9)).cast("int"))
          .withColumn("inter",
            NativeExpressions
              .sortedIntersectCountBounded(col("pa"), col("pb"), col("need")))
      withInter
        .filter(col("inter") >= 0 && jaccRaw >= thr)
        .select(least(col("ida"), col("idb")).as("d1"),
          greatest(col("ida"), col("idb")).as("d2"),
          round(jaccRaw, 6).as("jacc"))
        .orderBy(col("d1"), col("d2"))
  }

  /** Continuation of the queries map after the ngram-dedup family
    * refactor (the exact body is a named def so q_dedup_ngram and the
    * auto dispatcher share it verbatim). */
  private def textRest
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- MLM masking: deterministic 15% token corruption --------------------
    // Masked-language-model training-pair generation (BERT-style iid
    // masking): token (doc, pos) is masked iff its splitmix64 bucket
    // < 15 — a pure function of position, so the corpus maps to the
    // same (input, target) pairs on every run, engine, and partitioning
    // (the reproducibility a training pipeline needs to resume/shard
    // deterministically; same discipline as q_sample_stratified, its
    // own seed stream). Scale shape: one narrow posexplode pass + one
    // per-doc agg whose state is the doc's own tokens; reassembly is
    // the array_sort(struct(pos,…)) trick q_dedup_lines uses — no
    // window, no corpus-wide structure.
    "q_mlm_mask" -> ((s, d) => {
      import org.apache.spark.sql.graft.NativeExpressions
      val toks = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          posexplode(split(norm(col("text")), " ")).as(Seq("pos", "tok")))
      toks
        .withColumn("r", pmod(shiftrightunsigned(
          NativeExpressions.splitmix64(
            col("doc_id") * lit(1000000L) + col("pos")), 8), lit(100)))
        .withColumn("tok2",
          when(col("r") < 15, lit("[MASK]")).otherwise(col("tok")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("r") < 15, 1L).otherwise(0L)).as("n_masked"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok2")))),
            x => x.getField("tok2")), " ").as("text_masked"))
        .orderBy(col("doc_id"))
    }),

    // -- T5 span corruption: sentinel-masked (input, target) pairs ---------
    // The seq2seq counterpart of q_mlm_mask (Raffel et al. 2020): masked
    // tokens are deterministic per (doc, pos) — its own splitmix seed
    // stream — and CONTIGUOUS masked runs collapse to one numbered
    // sentinel in the input, with the dropped tokens (prefixed by their
    // sentinel) forming the target. Span structure needs order: one
    // per-doc window (lag to find span starts, running sum to number
    // them) — keyed by doc_id, so the shuffle is one doc-keyed exchange
    // and no corpus-wide sort exists. Reassembly is the same
    // array_sort(struct(pos,…)) discipline as q_mlm_mask; collect_list
    // drops the null entries the CASE arms produce, which is what
    // filters each side's tokens without a second pass.
    "q_t5_spans" -> ((s, d) => {
      import org.apache.spark.sql.graft.NativeExpressions
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          posexplode(split(norm(col("text")), " ")).as(Seq("pos", "tok")))
        .withColumn("m", pmod(shiftrightunsigned(
          NativeExpressions.splitmix64(
            (col("doc_id") * lit(1000000L) + col("pos")) * 31 + 17), 8),
          lit(100)) < 15)
        .withColumn("st", col("m") && !lag(col("m"), 1, false).over(w))
        .withColumn("sid",
          sum(when(col("st"), 1).otherwise(0)).over(wRun))
        .withColumn("sentinel",
          concat(lit("<extra_id_"), (col("sid") - 1).cast("string"),
            lit(">")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("st"), 1L).otherwise(0L)).as("n_spans"),
          array_join(transform(array_sort(collect_list(
            when(!col("m"), struct(col("pos"), col("tok").as("e")))
              .when(col("st"),
                struct(col("pos"), col("sentinel").as("e"))))),
            x => x.getField("e")), " ").as("input_text"),
          array_join(transform(array_sort(collect_list(
            when(col("st"), struct(col("pos"),
              concat(col("sentinel"), lit(" "), col("tok")).as("e")))
              .when(col("m"), struct(col("pos"), col("tok").as("e"))))),
            x => x.getField("e")), " ").as("target_text"))
        .orderBy(col("doc_id"))
    }),

    // -- containment: doc-inside-doc detection (asymmetric overlap) --------
    // |A∩B| >= 0.8·|A| over 5-word shingles — catches quotes/excerpts/
    // wrapped reposts whose symmetric Jaccard is tiny because the sizes
    // differ (size-banded and J-thresholded dedup both structurally miss
    // the relation). One-sided prefix filter, exact bounded verify — see
    // TextDedup.containmentPairs.
    "q_dedup_contain" -> ((s, d) => {
      TextDedup.containmentPairs(
          Tables.documents(s, d).select(col("doc_id"), col("text")), 0.8)
        .orderBy(col("d_in"), col("d_of"))
    }),

    // -- containment survivorship: cull docs swallowed by larger ones ------
    // The action on q_dedup_contain's pairs: a doc is culled iff ≥ 0.8
    // of its shingles appear in a STRICTLY larger doc (or an equal-size
    // doc with lower doc_id — the exact-duplicate tiebreak), keeping the
    // most complete copy of every piece of content. Each culled doc
    // carries a deterministic witness (highest containment, tie → lowest
    // container id). Scale shape: the pair mining is the one-sided
    // prefix filter (linear-ish, see containmentPairs); the verdict join
    // and witness window are keyed by doc id.
    "q_contain_keep" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val sz = docs
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          size(TextDedup.wordShingles(col("text"))).as("sz"))
      val culls = TextDedup.containmentPairs(docs, 0.8)
        .join(sz.select(col("doc_id").as("d_in"), col("sz").as("sz_in")),
          "d_in")
        .join(sz.select(col("doc_id").as("d_of"), col("sz").as("sz_of")),
          "d_of")
        .filter(col("sz_of") > col("sz_in") ||
          (col("sz_of") === col("sz_in") && col("d_of") < col("d_in")))
      val w = Window.partitionBy(col("d_in"))
        .orderBy(col("containment").desc, col("d_of").asc)
      val witness = culls.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("d_in").as("doc_id"), col("d_of").as("contained_in"),
          col("containment"))
      sz.select(col("doc_id"), col("sz").cast("bigint").as("n_shingles"))
        .join(witness, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          col("contained_in").isNull.as("kept"),
          col("contained_in"), col("containment"))
        .orderBy(col("doc_id"))
    }),

    // -- near-dup: MinHash + LSH banding (FNV/splitmix64 — oracle-hashed) --
    "q_dedup_minhash" -> ((s, d) => {
      TextDedup.minHashLshPairs(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          numPerms = 16, bands = 4, threshold = 0.7)
        .orderBy(col("d1"), col("d2"))
    }),

    // -- dedup index health: MinHash-LSH recall vs exact ground truth ------
    // The q_ann_recall of the dedup family: how many TRUE near-dup pairs
    // (exact Jaccard ≥ 0.7) does the 16-perm/4-band LSH blocking
    // surface? Production dedup runs the approximate path at corpus
    // scale and THIS monitor on a slice — banding recall degrades
    // silently when shingle distributions drift, and a recall row per
    // batch is the alarm. Both pair sets are verified-exact (the LSH
    // miner re-checks candidates), so precision is 1.0 by construction
    // and the interesting number is recall. Scale shape: the exact side
    // is the prefix-filtered miner (slice-sized input by design); the
    // comparison joins two pair sets keyed on (d1, d2).
    "q_dedup_recall" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val exact = TextDedup.exactJaccardPairs(docs, 0.7)
        .select(col("d1"), col("d2"))
      val lsh = TextDedup.minHashLshPairs(docs, numPerms = 16, bands = 4,
          threshold = 0.7)
        .select(col("d1"), col("d2"), lit(1L).as("c"))
      val hits = exact.join(lsh, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("c"), lit(0L))).as("n_hit"))
      val nc = lsh.agg(count(lit(1)).as("n_cand"))
      hits.crossJoin(nc)
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true"), 6)
            .as("recall"),
          round(col("n_hit").cast("double") / col("n_cand"), 6)
            .as("precision"))
    }),

    // -- SAMPLED recall monitor with error bars (VERDICT r12 item 4) -------
    // q_dedup_recall measures LSH recall against a full-corpus exact
    // miner — fine on a slice, quadratic at corpus scale. This is the
    // shape a 100 TB pipeline actually schedules: a DETERMINISTIC
    // STRATIFIED PANEL (per-source strata, each keeping its 16 smallest
    // splitmix64-ranked doc_ids — consistent hashing, so the panel is
    // stable under corpus growth and bounded at 16·|sources| docs), the
    // exact miner runs ONLY within the panel, LSH recall is measured on
    // the panel's true pairs, and the Wilson 95% interval turns the
    // panel size into explicit ERROR BARS — the reader sees not just
    // "recall 0.9" but how much evidence backs it. The interval is a
    // mirrored double expression (same literals both engines), NULL when
    // the panel has no true pairs.
    "q_dedup_recall_ci" -> ((s, d) => {
      val wS = Window.partitionBy(col("source"))
        .orderBy(col("hk"), col("doc_id"))
      val panel = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
        .withColumn("hk", shiftrightunsigned(
          NativeExpressions.splitmix64(
            col("doc_id") * lit(487L) + lit(13L)), 8))
        .withColumn("srn", row_number().over(wS))
        .filter(col("srn") <= 16)
        .select(col("doc_id"), col("text"))
      val exact = TextDedup.exactJaccardPairs(panel, 0.7)
        .select(col("d1"), col("d2"))
      val lsh = TextDedup.minHashLshPairs(panel, numPerms = 16, bands = 4,
          threshold = 0.7)
        .select(col("d1"), col("d2"), lit(1L).as("c"))
      val h = exact.join(lsh, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("c"), lit(0L))).as("n_hit"))
      val z = lit(1.959964)
      val nD = col("n_true").cast("double")
      val p = col("n_hit").cast("double") / nD
      val denom = lit(1.0) + z * z / nD
      val center = (p + z * z / (lit(2.0) * nD)) / denom
      val half = z * sqrt(p * (lit(1.0) - p) / nD +
        z * z / (lit(4.0) * nD * nD)) / denom
      def q6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      h.select(col("n_true"), col("n_hit"),
        when(col("n_true") > 0L, q6(p)).as("recall"),
        when(col("n_true") > 0L, q6(center - half)).as("recall_lo95"),
        when(col("n_true") > 0L, q6(center + half)).as("recall_hi95"))
    }),

    // -- LSH banding-parameter sweep (the S-curve, measured) ---------------
    // q_dedup_recall monitors ONE config; this sweeps the (bands, rows)
    // knob — 2×8 / 4×4 / 8×2 over the SAME 16-perm signatures — and
    // reports recall per config: the empirical S-curve an index tuner
    // reads before committing a blocking scheme (more bands = higher
    // recall = more candidates). One shared signature pass (persisted);
    // per config only the bucket join + exact verify re-runs, which is
    // how a production sweep amortizes too.
    "q_lsh_tuning" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val nTrue = TextDedup.exactJaccardPairs(docs, 0.7)
        .agg(count(lit(1)).as("n_true"))
      TextDedup.minHashRecallSweep(docs, numPerms = 16,
          bandConfigs = Seq(2, 4, 8), threshold = 0.7)
        .crossJoin(broadcast(nTrue))
        .select(col("bands"), col("rows"), col("n_true"), col("n_found"),
          round(col("n_found").cast("double") / col("n_true"), 6)
            .as("recall"))
        .orderBy(col("bands"))
    }),

    // -- near-dup: SimHash + chunk blocking (FNV-hashed — oracle-hashed) ---
    "q_dedup_simhash" -> ((s, d) => {
      TextDedup.simHashPairs(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          maxHamming = 3)
        .orderBy(col("d1"), col("d2"))
    }),

    // -- sub-document dedup: duplicate CHUNK removal + reassembly ----------
    // Boilerplate removal dedups below document granularity (headers,
    // licenses, navigation repeated across pages): split each doc into
    // 10-token chunks, keep only the corpus-wide FIRST occurrence of
    // each distinct chunk (min (doc_id, idx) — deterministic, order-free),
    // and reassemble the survivors in original order. Scale shape: the
    // first-occurrence decision is ONE window (= shuffle) keyed by chunk
    // content, reassembly is one groupBy(doc_id) whose state is the doc's
    // own kept chunks — no corpus-wide structure is ever broadcast or
    // collected. The combined key doc_id*100000+idx keeps min() a single
    // long comparison (docs are < 100k chunks long by construction).
    "q_dedup_lines" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val chunks = transform(
        sequence(lit(0), ceil(size(toks) / lit(10.0)).cast("int") - 1),
        i => array_join(slice(toks, i * 10 + 1, lit(10)), " "))
      val c = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), posexplode(chunks).as(Seq("idx", "chunk")))
        .withColumn("k", col("doc_id") * 100000 + col("idx"))
      val w = Window.partitionBy(col("chunk"))
      c.withColumn("first_k", min(col("k")).over(w))
        .filter(col("k") === col("first_k"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text_dedup"))
        .orderBy(col("doc_id"))
    }),

    // -- near-dup: edit-distance verify under first-token blocking ---------
    // The levenshtein verify stage of a small-edit dedup pipeline: block
    // on the first token (small-edit near-dups rarely change the opening
    // token; at web scale swap the blocker for minhash candidates and
    // keep this verify unchanged), prune candidates with the sound
    // |len(a)-len(b)| <= t*max bound (edit distance >= length gap, O(1)
    // per pair), then verify survivors with exact levenshtein (the only
    // O(L²) step, applied post-blocking only). Thresholds compare in
    // INTEGER arithmetic (lev*10 <= 3*mx) — a 0.3 float literal parses
    // as decimal in DuckDB but double in Spark, and the two disagree on
    // exact boundaries (mx divisible by 10).
    "q_dedup_editdist" -> ((s, d) => {
      val b = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("text"),
          split(col("text"), " ").getItem(0).as("w"),
          length(col("text")).as("len"))
      val l = b.select(col("w"), col("doc_id").as("d1"),
        col("text").as("t1"), col("len").as("len1"))
      val r = b.select(col("w"), col("doc_id").as("d2"),
        col("text").as("t2"), col("len").as("len2"))
      val mx = greatest(col("len1"), col("len2"))
      // PER-PAIR threshold-bounded levenshtein: the filter only keeps
      // lev <= floor(3*mx/10), so bounding the banded DP at exactly that
      // per-pair cutoff is lossless — survivors still get their exact
      // distance, and -1 (bound exceeded) is precisely the reject set.
      // `functions.levenshtein` takes only a literal Int threshold; the
      // NativeExpressions helper passes the threshold as a COLUMN so each
      // pair gets the narrowest sound band (thr ~0.3*len, not 0.3*maxLen).
      // 3*mx <= ~6000 is exact in double, so floor() is safe here.
      val thr = floor((lit(3) * mx).cast("double") / lit(10.0)).cast("int")
      // r17-opt (VERDICT r16 item 4): the DP itself is the CPU. The
      // measured candidate funnel at sf0.1 — 417 k block pairs → 151 k
      // past the length prune → 256 survivors, with the reject mass at
      // 0.6-0.8·mx — ruled out cheap content bounds (a histogram-L1
      // lower bound rejected 0.23% of DP-reaching pairs; removed as a
      // negative result). graft_lev_ascii is the same banded
      // threshold DP specialized to ASCII bytes with a row-min early
      // abort (exact; falls back to the Spark implementation on any
      // non-ASCII input), so every evaluation is cheaper instead.
      val lev =
        NativeExpressions.levAsciiCol(col("t1"), col("t2"), thr)
      // ONE conjunction in cheap-first order: Catalyst folds chained
      // filters into the join condition, and separate .filter calls got
      // merged with the d1<d2 tie-break LAST — every mirror pair and
      // self-pair paid the O(L²) levenshtein before the tie-break.
      // Writing the conjunction explicitly pins short-circuit order:
      // tie-break, then the O(1) length prune, then `lev >= 0` (ONE
      // banded-DP evaluation deciding most rejects), and the exact
      // threshold compare only for pairs within the band. Survivors
      // project (lev, sim) BEFORE the pair-key repartition so the
      // exchange carries four scalars per pair, not the full texts, and
      // the DP never re-runs above the shuffle.
      l.join(r, "w")
        .filter(col("d1") < col("d2") &&
          abs(col("len1") - col("len2")) * 10 <= lit(3) * mx &&
          lev >= 0 && lev * 10 <= lit(3) * mx)
        .select(col("d1"), col("d2"), lev.as("lev"),
          round(lit(1.0) - lev.cast("double") / mx, 6).as("sim"))
        .repartition(s.sparkContext.defaultParallelism,
          col("d1"), col("d2"))
        .orderBy(col("d1"), col("d2"))
    }),

    // -- feature hashing (the hashing trick) -------------------------------
    // The fixed-width featurization step of a text classifier at corpus
    // scale: token → md5-prefix bucket in [0, 256) — portable across
    // engines, unlike murmur — with the collision structure surfaced as
    // the per-bucket (occurrence, distinct-token) histogram. The point
    // at 100 TB: the model dimension is FIXED at 256 regardless of
    // vocabulary growth, and the shuffle carries (bucket, token) pairs
    // only for the distinct-count leg; occurrences map-side-combine
    // into ≤ 256 cells. Top-20 by load, the heavy-hitter read.
    "q_feature_hash" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("t"))
        .filter(length(col("t")) > 0)
        .withColumn("bucket",
          pmod(conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"),
            lit(256L)))
      tok.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("t")).as("n_distinct"))
        .orderBy(col("n_tokens").desc, col("bucket"))
        .limit(20)
    }),

    // -- Zipf's-law fit (corpus health / generator audit) -------------------
    // Natural corpora follow freq ∝ rank^(-s) with s ≈ 1; a slope far
    // off flags synthetic, templated, or truncated text before it
    // poisons a training mix. OLS on the (ln rank, ln freq) cloud of
    // the top-1000 words: counts are a vocabulary-bounded aggregate,
    // the top-1000 fuses into TakeOrderedAndProject, and ranks + the
    // fit run on that bounded frame — log noise is ~1e-13 against the
    // 6dp round (the q_stats_moments argument).
    "q_zipf_fit" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(1000)
      val rw = Window.orderBy(col("c").desc, col("w"))
      wc.withColumn("rnk", row_number().over(rw))
        .select(log(col("rnk").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n").as("n_words"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("slope"),
          round((col("sy") - col("sx") *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
             (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n"),
            6).as("intercept"),
          round(((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("r2"))
    }),

    // -- per-source character entropy (r15) -----------------------------------
    // The cheapest compressibility/quality proxy in the curation canon:
    // Shannon entropy over the normalized character distribution, per
    // source — gibberish and binary-ish feeds sit far from natural-
    // language ~4.1 bits/char, and the number is comparable across
    // sources of any size. Per-(source, char) terms nano-quantized then
    // integer-summed (the q_source_kl discipline); one normalize scan.
    "q_char_entropy" -> ((s, d) => {
      val cc = Tables.documents(s, d)
        .select(col("source"), explode(split(norm(col("text")), ""))
          .as("ch"))
        .filter(length(col("ch")) > 0)
        .groupBy(col("source"), col("ch")).agg(count(lit(1)).as("c"))
      val ns = cc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val pr = col("c").cast("double") / col("ns").cast("double")
      cc.join(broadcast(ns), "source")
        .withColumn("t_u",
          floor(-pr * log2(pr) * lit(1e9) + lit(0.5)).cast("long"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_chars"),
          count(lit(1)).as("n_distinct_chars"),
          round(sum(col("t_u")).cast("double") / lit(1e9), 6)
            .as("entropy_bits"))
        .orderBy(col("source"))
    }),

    // -- duplicated n-gram coverage per source (r15) -------------------------
    // The "what share of this feed is boilerplate" number web-corpus
    // reports publish (C4/RefinedWeb's duplicated-text share): for each
    // source, the fraction of its contained 5-word shingles (distinct
    // per doc — TextDedup.wordShingles, the dedup family's unit) that
    // appear in MORE THAN ONE document corpus-wide. High coverage with
    // low q_dup_clusters count = templated text spread thin, the case
    // exact dedup misses. Shingle-keyed join (shuffle on the hash — the
    // 100 TB shape); share as an exact integer micro-division.
    "q_dup_ngram_coverage" -> ((s, d) => {
      val sh = graft.engine.Pins.pin(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(TextDedup.wordShingles(col("text"))).as("g")))
      val cnt = sh.groupBy(col("g")).agg(count(lit(1)).as("c"))
      sh.join(cnt, "g")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("c") > 1L, 1L).otherwise(0L)).as("n_duplicated"))
        .withColumn("dup_share_u",
          expr("(n_duplicated * 1000000) div n_shingles"))
        .select(col("source"), col("n_shingles"), col("n_duplicated"),
          (col("dup_share_u").cast("double") / lit(1e6)).as("dup_share"))
        .orderBy(col("source"))
    }),

    // -- per-source unigram KL divergence (r15) ------------------------------
    // The data-mixing question behind q_source_temp_mix: how far does
    // each source's unigram distribution sit from the corpus mix?
    // KL(p_s ‖ p_corpus) = Σ_w p_sw·ln(p_sw/p_cw) — p_c > 0 wherever
    // p_s > 0 (the corpus contains every source), so no smoothing term
    // exists to tune. Each (source, word) term is nano-quantized then
    // integer-summed per source (the natChi2P discipline — no
    // cross-row float fold), over vocab-bounded keyed aggregates; the
    // word-count frame is pinned so corpus totals and the join share
    // one tokenize scan.
    "q_source_kl" -> ((s, d) => {
      val sw = graft.engine.Pins.pin(Tables.documents(s, d)
        .select(col("source"),
          explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
      val cw = sw.groupBy(col("w")).agg(sum(col("c")).as("cc"))
      val ns = sw.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val nt = sw.agg(sum(col("c")).as("nt"))
      val ps = col("c").cast("double") / col("ns").cast("double")
      val pc = col("cc").cast("double") / col("nt").cast("double")
      sw.join(cw, "w")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(nt))
        .withColumn("t_u",
          floor(ps * log(ps / pc) * lit(1e9) + lit(0.5)).cast("long"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
          count(lit(1)).as("vocab_size"),
          round(sum(col("t_u")).cast("double") / lit(1e9), 6)
            .as("kl_nats"))
        .orderBy(col("source"))
    }),

    // -- Yule's K vocabulary-richness characteristic (r15) -------------------
    // The repetitiveness constant of the corpus vocabulary: K =
    // 10⁴·(Σ_w c_w² − N)/N² — invariant to corpus LENGTH (unlike raw
    // type/token ratio), so it's the cross-corpus comparable number a
    // data-mixing dashboard tracks per source. Same tokenization chain
    // as q_zipf_fit/q_heaps_law (norm + split); one vocab-keyed
    // aggregate; Σc² folds in DECIMAL(38,0) — exact to ~10¹⁹ tokens.
    // Hapax count rides along (V₁ is the Good–Turing mass estimate's
    // numerator, q_good_turing's companion readout).
    "q_yule_k" -> ((s, d) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val wc = Tables.documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      wc.agg(count(lit(1)).as("v_types"), sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("v1_hapax"),
          sum(dec(col("c")) * dec(col("c"))).as("sc2"))
        .select(col("n_tokens"), col("v_types"), col("v1_hapax"),
          round(lit(1e4) * (col("sc2").cast("double") -
            col("n_tokens").cast("double")) /
            (col("n_tokens").cast("double") *
              col("n_tokens").cast("double")), 6).as("yule_k"))
    }),

    // -- RAKE keyword extraction (stopword-delimited phrase scoring) --------
    // The unsupervised keyword miner (Rose et al. 2010): candidate
    // phrases are maximal runs between stopwords; each word earns
    // degree (Σ length of phrases it appears in) over frequency, and a
    // phrase scores the sum of its words' ratios. Corpus-level variant:
    // word degree/frequency aggregate over ALL phrase instances (vocab-
    // bounded), per-word ratios micro-quantized as integer divisions in
    // DECIMAL(38,0) (exact at any corpus size), so the per-phrase sum is
    // order-free and identical across instances — the final group per
    // distinct phrase can take max() without a determinism caveat.
    // Shapes: one doc-keyed window for phrase ids, one word-keyed stats
    // join, one phrase-keyed aggregate; top-20 fuses into TakeOrdered.
    "q_rake_keywords" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(norm(col("text")), " ")))
        .toDF("doc_id", "pos", "w")
      val wSeq = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val marked = toks
        .withColumn("stop",
          col("w").isin("the", "a") || length(col("w")) === 0)
        .withColumn("sid",
          sum(when(col("stop"), 1L).otherwise(0L)).over(wSeq))
        .filter(!col("stop"))
      val inst = marked.groupBy(col("doc_id"), col("sid"))
        .agg(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w"))).as("phrase"),
          count(lit(1)).as("len"))
      val pw = marked.select(col("doc_id"), col("sid"), col("w"))
        .join(inst, Seq("doc_id", "sid"))
      val stats = pw.groupBy(col("w"))
        .agg(sum(col("len")).as("dg"), count(lit(1)).as("fq"))
      val scored = pw.join(stats, "w")
        .groupBy(col("doc_id"), col("sid"), col("phrase"))
        .agg(sum(expr(
          "CAST((CAST(dg AS DECIMAL(38,0)) * 1000000) div fq AS BIGINT)"))
          .as("score_u"))
      scored.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_inst"), max(col("score_u")).as("score_u"))
        .select(col("phrase"), col("n_inst"), col("score_u"),
          (col("score_u").cast("double") / lit(1e6)).as("score"))
        .orderBy(col("score_u").desc, col("n_inst").desc, col("phrase"))
        .limit(20)
    }),

    // -- interpolated Kneser-Ney bigram probabilities ------------------------
    // The LM-smoothing step q_lm_perplexity (add-k) and q_good_turing
    // motivate: KN discounts every bigram count by a fixed D = 0.75 and
    // redistributes the mass through the CONTINUATION unigram — P(w2)
    // proportional to how many distinct contexts w2 follows, the
    // correction that stops high-count-but-single-context words from
    // soaking up backoff mass. Every input to the closed form is an
    // exact integer aggregate over the bigram-type frame (c12, left
    // total c1, distinct continuations of w1, distinct left-contexts of
    // w2, total bigram types); the probability is ONE mirrored double
    // expression. Vocab-bounded reduce; top-20 fuses into TakeOrdered.
    "q_kn_bigram" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(split(norm(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      val bg = toks.select(explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      val c12 = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val left = c12.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_fw"))
      val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1p_bw"))
      val btot = c12.agg(count(lit(1)).as("bb"))
      val pKn = (col("c12") - lit(0.75)) / col("c1") +
        lit(0.75) * col("n1p_fw") / col("c1") *
        (col("n1p_bw").cast("double") / col("bb"))
      c12.join(left, "w1").join(right, "w2").crossJoin(broadcast(btot))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n1p_fw"), col("n1p_bw"),
          (floor(pKn * lit(1e6) + lit(0.5)) / lit(1e6)).as("p_kn"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // -- Good–Turing frequency smoothing (count-of-counts) ------------------
    // The LM-smoothing companion of q_zipf_fit and q_lm_perplexity's
    // add-k: for each low frequency r, the adjusted count
    // r* = (r+1)·N_{r+1}/N_r, where N_r is the COUNT OF COUNTS — how
    // many distinct words occur exactly r times. N_1/N is the classic
    // estimate of unseen-event mass (how much probability a tokenizer
    // or LM should reserve for words the corpus never showed). Shape:
    // the word count is vocabulary-bounded; count-of-counts collapses
    // that to the tiny distinct-r frame; the r ↔ r+1 alignment is an
    // exact self-join on the bounded frame (a lead() over present r
    // would silently skip gaps). All integer; r* reports micro-quantized
    // by integer division.
    "q_good_turing" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("r"))
      val coc = wc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      val t = wc.agg(sum(col("r")).as("n_tokens"),
        count(lit(1)).as("vocab"))
      val nxt = coc.select((col("r") - 1).as("r"),
        col("n_r").as("n_r_next"))
      // the 12 SMALLEST present frequencies, not a fixed r ≤ 10: a
      // synthetic or deduped corpus can have min word frequency far
      // above 10, and an empty smoothing table is useless. The
      // alignment join still reads the FULL count-of-counts frame.
      coc.orderBy(col("r")).limit(12)
        .join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(t))
        .withColumn("n_r_next", coalesce(col("n_r_next"), lit(0L)))
        .select(col("r"), col("n_r"), col("n_r_next"),
          (expr("((r + 1) * n_r_next * 1000000) div n_r")
            .cast("double") / lit(1e6)).as("r_star"),
          col("n_tokens"), col("vocab"))
        .orderBy(col("r"))
    }),

    // -- Chao1 vocabulary richness estimator (r14) ---------------------------
    // The "how many words exist that we HAVEN'T seen" readout on top of
    // q_good_turing's count-of-counts frame: Chao1 = S_obs + f1²/(2·f2)
    // (bias-corrected (f1(f1−1))/(2(f2+1)) when f2 = 0), the standard
    // species-richness lower bound — for a corpus, the vocabulary a
    // larger crawl would surface. Exact integer f1/f2/S_obs off one
    // word-count aggregate; the estimator is one mirrored division.
    "q_chao1" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("r"))
      wc.agg(count(lit(1)).as("s_obs"),
          sum((col("r") === 1L).cast("long")).as("f1"),
          sum((col("r") === 2L).cast("long")).as("f2"),
          sum(col("r")).as("n_tokens"))
        .select(col("n_tokens"), col("s_obs"), col("f1"), col("f2"),
          round(col("s_obs") +
            when(col("f2") > 0L,
              col("f1").cast("double") * col("f1") /
                (lit(2.0) * col("f2")))
              .otherwise(col("f1").cast("double") *
                (col("f1") - lit(1L)) /
                (lit(2.0) * (col("f2") + lit(1L)))), 6).as("chao1"))
    }),

    // -- word burstiness (variance-to-mean dispersion) ----------------------
    // Church–Gale burstiness: content words clump (a doc that mentions
    // a term mentions it again), function words spread evenly — the
    // variance-to-mean ratio of per-doc counts separates them and
    // flags template spam (uniform repetition) in a crawl. Zero-count
    // docs enter the moments analytically (they add nothing to Σc or
    // Σc²), so only the present (word, doc) pairs are ever
    // materialized; N broadcasts as a scalar.
    "q_burstiness" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      docs.select(col("doc_id"),
          explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_docs_present"),
          sum(col("c")).as("tot"), sum(col("c") * col("c")).as("ss"))
        .select(col("w"), col("n_docs_present"), col("tot"),
          round((col("ss").cast("double") -
            col("tot").cast("double") * col("tot") / lit(nDocs.toDouble)) /
            col("tot"), 6).as("vmr"))
        .orderBy(col("tot").desc, col("w"))
        .limit(20)
    }),

    // -- stratified exact train/valid/test split ---------------------------
    // The split q_hash_split can't give: per-STRATUM exact 80/10/10
    // counts (proportional in expectation is not proportional — a rare
    // language drifts whole points from its eval share under pure
    // hashing). Docs rank within their language by splitmix64(doc_id)
    // (deterministic, order/partitioning-independent) and the cuts are
    // pure-integer compares rnk·10 ≤ n_l·{8,9} — exact ⌈·⌉ boundaries,
    // no float shares. Scale: the rank is a per-stratum sort window —
    // stratum count carries the parallelism (5 langs here); corpora
    // where one stratum dominates would ride [[Dist.globalPrefixSum]]
    // per stratum instead (the q_outlier_mad caveat class).
    "q_stratified_split" -> ((s, d) => {
      val hq = shiftrightunsigned(org.apache.spark.sql.graft
        .NativeExpressions.splitmix64(col("doc_id")), 8)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("hq"), col("doc_id"))
      val wn = Window.partitionBy(col("lang"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("hq", hq)
        .withColumn("rnk", row_number().over(w))
        .withColumn("nl", count(lit(1)).over(wn))
        .withColumn("split",
          when(col("rnk") * 10 <= col("nl") * 8, "train")
            .when(col("rnk") * 10 <= col("nl") * 9, "valid")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), max(col("nl")).as("n_lang"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .withColumn("share_u", expr("(1000000 * n_docs) div n_lang"))
        .orderBy(col("lang"), col("split"))
    }),

    // -- dedup aggressiveness sweep (threshold curve) ----------------------
    // The decision table behind "what Jaccard threshold do we ship?":
    // ONE prefix-filtered exact pair mining at the loosest setting
    // (θ = 0.5), then every stricter threshold reads off the same pair
    // frame as a pure integer filter on the micro-quantized similarity —
    // pair volume, docs touched, the greedy keep-lowest-id removal
    // bound, and corpus retention per θ. (The exact removal count under
    // clustering is q_dedup_keep's job at the shipped θ; the greedy
    // bound here is the monotone screen that ranks thresholds without
    // re-running CC per candidate θ.) Thresholds are densified so a
    // zero-pair setting still reports its row.
    "q_dedup_sweep" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // the mined pair frame feeds BOTH aggregate branches (pair counts
      // and the endpoint-distinct leg) — persist it so the prefix-filter
      // mining runs once, not once per branch (bounded: pairs only, far
      // smaller than the corpus; lazy consumer — pinned, released by the
      // harness via Pins per the q_pagerank pattern)
      val pairs = TextDedup.exactJaccardPairs(docs, 0.5)
        .withColumn("jq",
          floor(col("jacc") * lit(1e6) + lit(0.5)).cast("long")).pinned
      val thrs = Seq(500000L, 700000L, 900000L).toDF("thr_u")
      val f = pairs.crossJoin(broadcast(thrs))
        .filter(col("jq") >= col("thr_u"))
      val ag = f.groupBy(col("thr_u"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("d2")).as("n_removed_bound"))
      val ad = f.select(col("thr_u"), explode(array(col("d1"), col("d2")))
          .as("doc"))
        .groupBy(col("thr_u"))
        .agg(count_distinct(col("doc")).as("n_docs_affected"))
      val nn = docs.agg(count(lit(1)).as("n"))
      thrs
        .join(ag, Seq("thr_u"), "left")
        .join(ad, Seq("thr_u"), "left")
        .na.fill(0L, Seq("n_pairs", "n_removed_bound", "n_docs_affected"))
        .crossJoin(broadcast(nn))
        .select(col("thr_u"), col("n_pairs"), col("n_docs_affected"),
          col("n_removed_bound"),
          expr("(1000000 * (n - n_removed_bound)) div n")
            .as("retention_u"))
        .orderBy(col("thr_u"))
    }),

    // -- discriminative-word mining (informative-Dirichlet log-odds) -------
    // Monroe's "fightin' words": which words distinguish the English
    // corpus from the rest? The z-scored log-odds-ratio with a Dirichlet
    // prior (α = 0.01 per word) — the corpus-comparison statistic that,
    // unlike raw frequency ratios, doesn't drown in hapax noise. All
    // inputs are exact integer counts on the vocab-bounded (word ×
    // side) frame; δ and its variance evaluate in one mirrored double
    // expression; the top-20 ranks on micro-quantized |z| with the word
    // as tiebreak (a fused TakeOrdered, never a full sort).
    "q_log_odds" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(when(col("lang") === "en", 1L).otherwise(0L).as("en"),
          explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val byW = docs.groupBy(col("w"))
        .agg(sum(col("en")).as("y1"),
          sum(lit(1L) - col("en")).as("y2"))
      val tot = byW.agg(sum(col("y1")).as("n1"), sum(col("y2")).as("n2"),
        count(lit(1)).as("v"))
      val a = lit(0.01)
      val a0 = col("v").cast("double") * lit(0.01)
      val y1a = col("y1").cast("double") + a
      val y2a = col("y2").cast("double") + a
      val o1 = log(y1a / (col("n1").cast("double") + a0 - y1a))
      val o2 = log(y2a / (col("n2").cast("double") + a0 - y2a))
      val delta = o1 - o2
      val se = sqrt(lit(1.0) / y1a + lit(1.0) / y2a)
      byW.crossJoin(broadcast(tot))
        .withColumn("zq", floor(delta / se * lit(1e6) + lit(0.5))
          .cast("long"))
        .orderBy(abs(col("zq")).desc, col("w"))
        .limit(20)
        .select(col("w"), col("y1"), col("y2"),
          round(delta, 6).as("log_odds"),
          (col("zq").cast("double") / lit(1e6)).as("z"))
    }),

    // -- Heaps'-law vocabulary-growth fit ----------------------------------
    // How fast does vocabulary grow with corpus size — the number that
    // sizes every hash-vocab / tokenizer decision before a 100× scale-
    // up. Cumulative (tokens, distinct types) at each tenth of the
    // corpus WITHOUT re-scanning per prefix: a type's first-appearance
    // doc (one token-keyed min) buckets it into the decile where it
    // enters the vocabulary, and both curves are 10-row prefix sums.
    // β and ln K fit by OLS on micro-quantized ln-ln points (exact
    // integer sums on the 10-row frame). Doc ids are dense 0..N−1
    // (q_sequence_audit pins this), so deciles are pure id arithmetic.
    "q_heaps_law" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      val tok = docs.select(col("doc_id"),
          explode(split(norm(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val decOf = (name: String) =>
        expr(s"least(($name * 10) div $nDocs, 9)")
      val perDec = tok.groupBy(decOf("doc_id").as("dec"))
        .agg(count(lit(1)).as("toks"))
      val firstSeen = tok.groupBy(col("w"))
        .agg(min(col("doc_id")).as("fd"))
        .groupBy(decOf("fd").as("dec"))
        .agg(count(lit(1)).as("newtypes"))
      val wc = Window.orderBy(col("dec"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = perDec.join(firstSeen, Seq("dec"), "left")
        .na.fill(0L, Seq("newtypes"))
        .withColumn("n_cum", sum(col("toks")).over(wc))
        .withColumn("v_cum", sum(col("newtypes")).over(wc))
        .withColumn("lnn",
          floor(log(col("n_cum").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long"))
        .withColumn("lnv",
          floor(log(col("v_cum").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long"))
      val dec38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val fit = curve.agg(count(lit(1)).as("np"),
        sum(dec38(col("lnn"))).as("sx"), sum(dec38(col("lnv"))).as("sy"),
        sum(dec38(col("lnn")) * dec38(col("lnn"))).as("sxx"),
        sum(dec38(col("lnn")) * dec38(col("lnv"))).as("sxy"))
      val nD = col("np").cast("double")
      val num = nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val den = nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val beta = fit.select(
        when(den =!= 0.0, round(num / den, 6)).as("beta"),
        when(den =!= 0.0, round(
          (col("sy").cast("double") - num / den *
            col("sx").cast("double")) / nD / lit(1e6), 6)).as("ln_k"))
      curve.crossJoin(broadcast(beta))
        .select(col("dec").cast("long").as("decile"), col("n_cum"),
          col("v_cum"), col("beta"), col("ln_k"))
        .orderBy(col("decile"))
    }),

    // -- PII detection + redaction ----------------------------------------
    // The scrub pass every training corpus runs before release: count and
    // replace emails / phone numbers / IPv4 literals with typed sentinel
    // tokens. The corpus text carries no PII, so each doc is extended
    // with a DETERMINISTIC doc_id-derived contact tail (both engines
    // synthesize the identical string — the operator under test is the
    // regex machinery, not the generator). Patterns stay in the
    // Java∩RE2-portable subset (character classes + bounded repetition —
    // no lookaround). Per-row work only: the scan is the whole cost, and
    // the scrub inlines into whole-stage codegen.
    "q_pii_scrub" -> ((s, d) => {
      val txt2 = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0.1"))
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      Tables.documents(s, d)
        .select(col("doc_id"), txt2.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).cast("long")
            .as("n_emails"),
          regexp_count(col("t"), lit(phoneRe)).cast("long")
            .as("n_phones"),
          regexp_count(col("t"), lit(ipRe)).cast("long").as("n_ips"),
          regexp_replace(regexp_replace(regexp_replace(col("t"),
            emailRe, "[EMAIL]"), phoneRe, "[PHONE]"), ipRe, "[IP]")
            .as("scrubbed"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), length(col("scrubbed")).cast("long")
            .as("scrub_len"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }),

    // -- script / character-class profile per language ---------------------
    // The writing-system audit before tokenizer decisions: per-language
    // ratios of ASCII letters / digits / whitespace / other, from EXACT
    // integer per-class counts (regexp_count per row, integer sums per
    // group — a per-row float ratio averaged per group would be
    // accumulation-order dependent). One scan, one 5-group aggregate.
    "q_script_profile" -> ((s, d) => {
      val n = length(col("text")).cast("long")
      val alpha = regexp_count(col("text"), lit("[A-Za-z]")).cast("long")
      val digit = regexp_count(col("text"), lit("[0-9]")).cast("long")
      val space = regexp_count(col("text"), lit(" ")).cast("long")
      def q6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      Tables.documents(s, d)
        .select(col("lang"), n.as("n"), alpha.as("a"), digit.as("dg"),
          space.as("sp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tn"),
          sum(col("a")).as("ta"), sum(col("dg")).as("td"),
          sum(col("sp")).as("ts"))
        .select(col("lang"), col("n_docs"),
          q6(col("ta").cast("double") / col("tn")).as("alpha_ratio"),
          q6(col("td").cast("double") / col("tn")).as("digit_ratio"),
          q6(col("ts").cast("double") / col("tn")).as("space_ratio"),
          q6((col("tn") - col("ta") - col("td") - col("ts"))
            .cast("double") / col("tn")).as("other_ratio"))
        .orderBy(col("lang"))
    })
  )

  /** Naive-quadratic exact word-shingle Jaccard twin, shared verbatim by
    * q_dedup_jaccard (the exact miner) and q_dedup_auto (the scale
    * dispatcher, which MUST take the exact branch at oracle scale) so
    * the two rows can never drift apart. */
  private def exactJaccardOracle(normSql: String): String =
    s"""WITH t AS (SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(0, greatest(len(string_split($normSql, ' ')) - 4, 1)),
      |      i -> array_to_string(string_split($normSql, ' ')[i+1:i+5],
      |        ' '))) AS toks
      |  FROM documents)
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    (len(a.toks) + len(b.toks)
      |     - len(list_intersect(a.toks, b.toks))), 6) AS jacc
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    (len(a.toks) + len(b.toks)
      |     - len(list_intersect(a.toks, b.toks))) >= 0.7
      |ORDER BY d1, d2""".stripMargin

  def declaredOracle: Seq[(String, String)] = {
    val normSql =
      "regexp_replace(lower(trim(text)), '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g')"
    Seq(
      // same norm/split; bigrams via range windows; integer micro ratios
      "q_distinct_n" ->
        s"""WITH w AS (SELECT doc_id, source,
           |    string_split($normSql, ' ') AS ws FROM documents),
           |uni AS (SELECT source, count(*) AS uni_total,
           |    CAST(count(DISTINCT g) AS BIGINT) AS uni_distinct
           |  FROM (SELECT source, unnest(ws) AS g FROM w
           |        WHERE len(ws) >= 1) u GROUP BY source),
           |bi AS (SELECT source, count(*) AS bi_total,
           |    CAST(count(DISTINCT g) AS BIGINT) AS bi_distinct
           |  FROM (SELECT source, unnest(list_transform(
           |      range(0, len(ws) - 1),
           |      i -> ws[i+1] || ' ' || ws[i+2])) AS g
           |    FROM w WHERE len(ws) >= 2) b GROUP BY source)
           |SELECT source, uni_total, uni_distinct, bi_total, bi_distinct,
           |  CAST((1000000 * uni_distinct) // uni_total AS BIGINT)
           |    AS dist1_u,
           |  CAST((1000000 * bi_distinct) // bi_total AS BIGINT)
           |    AS dist2_u
           |FROM uni JOIN bi USING (source) ORDER BY source""".stripMargin,

      // exact multi-reference clipping from (m1, at1, m2) per gram; the
      // geometric mean is the one FP step with the pinned op order
      "q_self_bleu" ->
        s"""WITH w AS (SELECT doc_id, source,
           |    string_split($normSql, ' ') AS ws FROM documents),
           |d2 AS (SELECT * FROM w WHERE len(ws) >= 2),
           |c1 AS (SELECT doc_id, source, g, count(*) AS c FROM (
           |    SELECT doc_id, source, unnest(ws) AS g FROM d2) u
           |  GROUP BY 1, 2, 3),
           |c2 AS (SELECT doc_id, source, g, count(*) AS c FROM (
           |    SELECT doc_id, source, unnest(list_transform(
           |      range(0, len(ws) - 1),
           |      i -> ws[i+1] || ' ' || ws[i+2])) AS g FROM d2) u
           |  GROUP BY 1, 2, 3),
           |g1 AS (SELECT g, max(c) AS m1,
           |    CAST(sum(CASE WHEN c = mx THEN 1 ELSE 0 END) AS BIGINT)
           |      AS at1,
           |    max(CASE WHEN c < mx THEN c ELSE 0 END) AS m2
           |  FROM (SELECT *, max(c) OVER (PARTITION BY g) AS mx FROM c1) t
           |  GROUP BY g),
           |g2 AS (SELECT g, max(c) AS m1,
           |    CAST(sum(CASE WHEN c = mx THEN 1 ELSE 0 END) AS BIGINT)
           |      AS at1,
           |    max(CASE WHEN c < mx THEN c ELSE 0 END) AS m2
           |  FROM (SELECT *, max(c) OVER (PARTITION BY g) AS mx FROM c2) t
           |  GROUP BY g),
           |p1 AS (SELECT doc_id, source,
           |    CAST(sum(least(c.c, CASE WHEN c.c = g.m1 AND g.at1 = 1
           |      THEN g.m2 ELSE g.m1 END)) AS BIGINT) AS num_1,
           |    CAST(sum(c.c) AS BIGINT) AS den_1
           |  FROM c1 c JOIN g1 g USING (g) GROUP BY 1, 2),
           |p2 AS (SELECT doc_id,
           |    CAST(sum(least(c.c, CASE WHEN c.c = g.m1 AND g.at1 = 1
           |      THEN g.m2 ELSE g.m1 END)) AS BIGINT) AS num_2,
           |    CAST(sum(c.c) AS BIGINT) AS den_2
           |  FROM c2 c JOIN g2 g USING (g) GROUP BY 1),
           |per_doc AS (SELECT p1.source,
           |    (1000000 * num_1) // den_1 AS p1_u,
           |    (1000000 * num_2) // den_2 AS p2_u,
           |    CAST(floor(sqrt(
           |      (CAST(num_1 AS DOUBLE) / CAST(den_1 AS DOUBLE)) *
           |      (CAST(num_2 AS DOUBLE) / CAST(den_2 AS DOUBLE)))
           |      * 1000000) AS BIGINT) AS bleu_u
           |  FROM p1 JOIN p2 USING (doc_id))
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(p1_u) // count(*) AS BIGINT) AS p1_avg_u,
           |  CAST(sum(p2_u) // count(*) AS BIGINT) AS p2_avg_u,
           |  CAST(sum(bleu_u) // count(*) AS BIGINT) AS selfbleu_avg_u
           |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,

      // same 5-shingle pair CTE as q_dedup_jaccard; source-keyed rate
      "q_dup_by_source" ->
        s"""WITH t AS (SELECT doc_id,
           |    list_distinct(list_transform(
           |      range(0, greatest(len(string_split($normSql, ' ')) - 4,
           |        1)),
           |      i -> array_to_string(string_split($normSql, ' ')[i+1:i+5],
           |        ' '))) AS toks
           |  FROM documents),
           |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2
           |  FROM t a JOIN t b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |      (len(a.toks) + len(b.toks)
           |       - len(list_intersect(a.toks, b.toks))) >= 0.7),
           |dd AS (SELECT DISTINCT doc_id FROM (
           |    SELECT d1 AS doc_id FROM p
           |    UNION ALL SELECT d2 FROM p) u)
           |SELECT d.source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dup_docs,
           |  CAST((sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |    * 1000000) // count(*) AS DOUBLE) / 1e6 AS dup_rate
           |FROM documents d LEFT JOIN dd ON d.doc_id = dd.doc_id
           |GROUP BY d.source ORDER BY d.source""".stripMargin,
      // same 5-shingle pair CTE as q_dup_by_source; split = the
      // q_hash_split splitmix bucket; unordered cell via least/greatest
      "q_split_leakage" ->
        s"""WITH t AS (SELECT doc_id,
           |    list_distinct(list_transform(
           |      range(0, greatest(len(string_split($normSql, ' ')) - 4,
           |        1)),
           |      i -> array_to_string(string_split($normSql, ' ')[i+1:i+5],
           |        ' '))) AS toks
           |  FROM documents),
           |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2
           |  FROM t a JOIN t b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |      (len(a.toks) + len(b.toks)
           |       - len(list_intersect(a.toks, b.toks))) >= 0.7),
           |${graft.engine.OracleHash.splitmixStages("documents",
              "doc_id", "doc_id::UBIGINT")},
           |sp AS (SELECT doc_id,
           |    CASE WHEN (xor(z3, z3 >> 31) >> 8) % 100::UBIGINT
           |           < 80::UBIGINT THEN 'train'
           |         WHEN (xor(z3, z3 >> 31) >> 8) % 100::UBIGINT
           |           < 90::UBIGINT THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM p3_),
           |lab AS (SELECT least(sa.split, sb.split) AS split_a,
           |    greatest(sa.split, sb.split) AS split_b
           |  FROM p JOIN sp sa ON p.d1 = sa.doc_id
           |  JOIN sp sb ON p.d2 = sb.doc_id)
           |SELECT split_a, split_b, count(*) AS n_pairs,
           |  split_a <> split_b AS leaked
           |FROM lab GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,

      // the q_good_turing word-count frame; mirrored Chao1 division
      "q_chao1" ->
        s"""WITH wc AS (SELECT w, count(*) AS r FROM (
           |    SELECT unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS s_obs,
           |    CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS f1,
           |    CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS f2,
           |    CAST(sum(r) AS BIGINT) AS n_tokens FROM wc)
           |SELECT n_tokens, s_obs, f1, f2,
           |  round(s_obs + CASE WHEN f2 > 0
           |    THEN CAST(f1 AS DOUBLE) * f1 / (2.0e0 * f2)
           |    ELSE CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0e0 * (f2 + 1))
           |  END, 6) AS chao1
           |FROM m""".stripMargin,

      // same FNV shingle family as the dedup twins (OracleHash.shingleCtes)
      "q_novelty" ->
        s"""WITH ${graft.engine.OracleHash.shingleCtes},
           |ex AS (SELECT doc_id, unnest(toks) AS tok FROM sh),
           |f AS (SELECT tok, min(doc_id) AS first_doc FROM ex GROUP BY tok)
           |SELECT e.doc_id, count(*) AS n_shingles,
           |  CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_novel,
           |  round(CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0
           |    END) AS DOUBLE) / count(*), 6) AS novelty
           |FROM ex e JOIN f USING (tok)
           |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

      // same FNV shingle CTEs; the (source, shingle) distinct caps every
      // shingle group at |sources| rows before the pair join
      "q_source_overlap" ->
        s"""WITH ${graft.engine.OracleHash.shingleCtes},
           |ex AS (SELECT doc_id, unnest(toks) AS tok FROM sh),
           |ss AS (SELECT DISTINCT d.source, e.tok
           |  FROM ex e JOIN documents d USING (doc_id)),
           |sz AS (SELECT source, count(*) AS sz FROM ss GROUP BY 1),
           |pr AS (SELECT a.source AS s1, b.source AS s2,
           |    count(*) AS inter
           |  FROM ss a JOIN ss b ON a.tok = b.tok
           |  WHERE a.source < b.source GROUP BY 1, 2)
           |SELECT s1, s2, za.sz AS n_a, zb.sz AS n_b,
           |  CAST(inter AS BIGINT) AS inter,
           |  round(CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 6)
           |    AS jaccard
           |FROM pr JOIN sz za ON za.source = pr.s1
           |  JOIN sz zb ON zb.source = pr.s2
           |ORDER BY s1, s2""".stripMargin,

      // sorted fold = identical FP summation order in both engines
      "q_lm_perplexity" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents),
           |wf AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
           |b AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
           |  FROM wf, unnest(range(0, len(ws) - 1)) AS t(i)),
           |c2 AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY 1, 2),
           |c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1),
           |lp AS (SELECT doc_id, ln(CAST(n2 AS DOUBLE) / n1) AS lp
           |  FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
           |agg AS (SELECT doc_id, list_sort(list(lp)) AS lps
           |  FROM lp GROUP BY doc_id),
           |nll AS (SELECT doc_id,
           |    -list_reduce(list_prepend(0.0, lps), (a, x) -> a + x)
           |      / len(lps) AS nll
           |  FROM agg)
           |SELECT doc_id, round(nll, 6) AS avg_nll, round(exp(nll), 6) AS ppl
           |FROM nll ORDER BY doc_id""".stripMargin,

      // the q_udtf_gen sentence CTE + 5 unrolled integer-PageRank
      // rounds in the 1e-12 fixed-point discipline (every update is
      // BIGINT // arithmetic — iteration cannot drift between engines)
      "q_textrank" -> {
        val rounds = (1 to 5).map { t =>
          s"""c$t AS (SELECT e.doc_id, e.i, CAST(sum(
             |    (e.w * r${t - 1}.r) // wd.wdeg) AS BIGINT) AS c
             |  FROM e JOIN r${t - 1} ON r${t - 1}.doc_id = e.doc_id
             |    AND r${t - 1}.sid = e.j
             |  JOIN wd ON wd.doc_id = e.doc_id AND wd.j = e.j
             |  GROUP BY 1, 2),
             |r$t AS (SELECT sent.doc_id, sent.sid,
             |    (15 * 1000000000000) // (100 * ns.n_s)
             |      + (85 * coalesce(c$t.c, 0)) // 100 AS r
             |  FROM sent JOIN ns USING (doc_id)
             |  LEFT JOIN c$t ON c$t.doc_id = sent.doc_id
             |    AND c$t.i = sent.sid)""".stripMargin
        }.mkString(",\n")
        s"""WITH s0 AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(
           |        regexp_replace(text, ' the ', '. ', 'g'),
           |        '[.!?]+[ \t\n\r]+'),
           |      x -> x <> '') AS ss
           |  FROM documents),
           |sent AS (SELECT doc_id,
           |    CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS sid,
           |    unnest(ss) AS sentence
           |  FROM s0),
           |tokw AS (SELECT doc_id, sid, sentence,
           |    list_distinct(string_split(regexp_replace(lower(trim(
           |      sentence)), '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g'), ' '))
           |      AS ws
           |  FROM sent),
           |e AS (SELECT a.doc_id, a.sid AS i, b.sid AS j,
           |    CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS w
           |  FROM tokw a JOIN tokw b ON a.doc_id = b.doc_id
           |    AND a.sid <> b.sid
           |  WHERE len(list_intersect(a.ws, b.ws)) >= 1),
           |wd AS (SELECT doc_id, i AS j, CAST(sum(w) AS BIGINT) AS wdeg
           |  FROM e GROUP BY 1, 2),
           |ns AS (SELECT doc_id, count(*) AS n_s FROM sent GROUP BY 1),
           |r0 AS (SELECT sent.doc_id, sent.sid,
           |    1000000000000 // ns.n_s AS r
           |  FROM sent JOIN ns USING (doc_id)),
           |$rounds,
           |top AS (SELECT doc_id, sid, r, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY r DESC, sid) AS rk
           |  FROM r5)
           |SELECT top.doc_id, ns.n_s, top.sid AS top_sid,
           |  CAST(top.r AS DOUBLE) / 1e12 AS score,
           |  sent.sentence
           |FROM top JOIN ns USING (doc_id)
           |  JOIN sent ON sent.doc_id = top.doc_id
           |    AND sent.sid = top.sid
           |WHERE top.rk = 1
           |ORDER BY top.doc_id""".stripMargin
      },

      // the same 8-merge table nested literally (replace() is
      // left-to-right non-overlapping in both engines); char split via
      // substring enumeration
      // tempered weights micro-quantized before the prefix; ranges exact
      "q_negative_sampling" ->
        s"""WITH wc AS (SELECT w, count(*) AS c FROM (
           |    SELECT unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1),
           |wt AS (SELECT w, c,
           |    CAST(floor(pow(CAST(c AS DOUBLE), 0.75e0) * 1e6 + 0.5e0)
           |      AS BIGINT) AS wt_u
           |  FROM wc),
           |tot AS (SELECT CAST(sum(wt_u) AS BIGINT) AS tot FROM wt),
           |cum AS (SELECT w, c, wt_u,
           |    CAST(sum(wt_u) OVER (ORDER BY wt_u DESC, w
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_hi
           |  FROM wt)
           |SELECT w, c, wt_u, cum_hi - wt_u AS range_lo,
           |  cum_hi AS range_hi,
           |  CAST((wt_u * 1000000) // tot AS BIGINT) AS prob_u
           |FROM cum CROSS JOIN tot
           |ORDER BY wt_u DESC, w LIMIT 30""".stripMargin,

      // three unrolled greedy rounds on the distinct-word frame; identical
      // sentinel-space literal replace semantics as q_bpe_apply
      "q_bpe_train" -> {
        val rounds = (1 to 3).map { r =>
          s"""p$r AS (SELECT arr[i] || ' ' || arr[i + 1] AS pair,
             |    CAST(sum(n) AS BIGINT) AS pair_count
             |  FROM (SELECT n, string_split(trim(ct), ' ') AS arr
             |    FROM w${r - 1}) t,
             |  unnest(range(1, len(arr))) AS u(i)
             |  GROUP BY 1),
             |b$r AS (SELECT pair, pair_count FROM p$r
             |  ORDER BY pair_count DESC, pair LIMIT 1),
             |w$r AS (SELECT w, n,
             |    replace(ct, ' ' || b$r.pair || ' ',
             |      ' ' || replace(b$r.pair, ' ', '') || ' ') AS ct
             |  FROM w${r - 1} CROSS JOIN b$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH wx AS (SELECT unnest(string_split($normSql, ' ')) AS w
           |  FROM documents),
           |w0 AS (SELECT w, count(*) AS n,
           |    ' ' || array_to_string(list_transform(
           |      range(1, length(w) + 1), i -> substring(w, i, 1)), ' ')
           |      || ' ' AS ct
           |  FROM wx WHERE length(w) >= 2 GROUP BY w),
           |$rounds
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS round, pair,
           |    replace(pair, ' ', '') AS merged, pair_count FROM b1
           |  UNION ALL SELECT 2, pair, replace(pair, ' ', ''),
           |    pair_count FROM b2
           |  UNION ALL SELECT 3, pair, replace(pair, ' ', ''),
           |    pair_count FROM b3) t
           |ORDER BY round""".stripMargin
      },

      "q_bpe_apply" -> {
        val merges = Seq("t h" -> "th", "th e" -> "the", "i n" -> "in",
          "a n" -> "an", "an d" -> "and", "e r" -> "er", "o n" -> "on",
          "r e" -> "re")
        val applied = merges.foldLeft("ct") { case (acc, (a, b)) =>
          s"replace($acc, ' $a ', ' $b ')"
        }
        s"""WITH w AS (SELECT doc_id,
           |    unnest(string_split($normSql, ' ')) AS w FROM documents),
           |f AS (SELECT doc_id, w,
           |    ' ' || array_to_string(list_transform(
           |      range(1, length(w) + 1), i -> substring(w, i, 1)), ' ')
           |      || ' ' AS ct
           |  FROM w WHERE length(w) > 0),
           |m AS (SELECT doc_id, w,
           |    len(string_split(trim($applied), ' ')) AS n_tok
           |  FROM f)
           |SELECT doc_id,
           |  CAST(sum(length(w)) AS BIGINT) AS n_char_tokens,
           |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           |  round(CAST(sum(n_tok) AS DOUBLE) / sum(length(w)), 6)
           |    AS compression
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      // frequency ranking replayed as one window under the identical
      // (n DESC, signed FNV tid) total order; CAST to BIGINT mirrors
      // Spark's signed-long tiebreak
      "q_vocab_coverage" ->
        s"""WITH t AS (SELECT unnest(string_split($normSql, ' '))
           |    AS token FROM documents),
           |vc AS (SELECT token, count(*) AS n FROM t
           |  WHERE length(token) > 0 GROUP BY 1),
           |h0 AS (SELECT token, n,
           |    ${graft.engine.OracleHash.fnv1a64("token")} AS hu FROM vc),
           |h AS (SELECT token, n,
           |    CAST(hu::HUGEINT - CASE WHEN hu >=
           |      9223372036854775808::UBIGINT
           |      THEN 18446744073709551616::HUGEINT ELSE 0 END AS BIGINT)
           |      AS tid FROM h0),
           |r AS (SELECT n, tid,
           |    CAST(sum(n) OVER (ORDER BY n DESC, tid
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_n,
           |    row_number() OVER (ORDER BY n DESC, tid) AS rank FROM h),
           |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM vc)
           |SELECT rank AS vocab_size, cum_n AS covered_tokens,
           |  total_tokens,
           |  round(CAST(cum_n AS DOUBLE) / total_tokens, 6) AS coverage
           |FROM r CROSS JOIN tt WHERE rank IN (5, 15, 30)
           |ORDER BY vocab_size""".stripMargin,

      // the same bigram staging as q_lm_perplexity; marginals count
      // bigram occurrences; the single ln floor-quantizes to micros
      // (PMI can be negative — the q_dsir discipline)
      "q_pmi" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents),
           |wf AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
           |b AS (SELECT ws[i+1] AS w1, ws[i+2] AS w2
           |  FROM wf, unnest(range(0, len(ws) - 1)) AS t(i)),
           |c2 AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY 1, 2),
           |ca AS (SELECT w1, count(*) AS na FROM b GROUP BY 1),
           |cb AS (SELECT w2, count(*) AS nb FROM b GROUP BY 1),
           |tt AS (SELECT count(*) AS t FROM b),
           |sc AS (SELECT c2.w1, c2.w2, n2, CAST(floor(
           |    ln(CAST(n2 AS DOUBLE) * t / (CAST(na AS DOUBLE) * nb))
           |      * 1000000.0 + 0.5) AS BIGINT) AS pmi_u
           |  FROM c2 JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN tt
           |  WHERE n2 >= 5)
           |SELECT w1, w2, n2, pmi_u / 1e6 AS pmi
           |FROM sc ORDER BY pmi_u DESC, w1, w2 LIMIT 20""".stripMargin,

      // same (doc_id, pos + k) equi-join staging; both directions via
      // the mirrored union
      "q_skipgram_pairs" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents),
           |p AS (SELECT doc_id, i AS p, ws[i+1] AS w
           |  FROM w, unnest(range(0, len(ws))) AS t(i)
           |  WHERE length(ws[i+1]) > 0),
           |pr AS (SELECT a.w AS w, b.w AS ctx
           |  FROM p a JOIN p b ON a.doc_id = b.doc_id
           |    AND (b.p = a.p + 1 OR b.p = a.p + 2)),
           |bo AS (SELECT w AS center, ctx AS context FROM pr
           |  UNION ALL SELECT ctx, w FROM pr)
           |SELECT center, context, count(*) AS n_cooc
           |FROM bo GROUP BY 1, 2
           |ORDER BY n_cooc DESC, center, context LIMIT 20""".stripMargin,

      // HUGEINT Σc(c−1); one mirrored double expression
      "q_simpson_diversity" ->
        s"""WITH wc AS (SELECT source, w, count(*) AS c FROM (
           |    SELECT source, unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1, 2),
           |ag AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           |    count(*) AS vocab, sum(c * (c - 1)) AS ssq
           |  FROM wc GROUP BY 1)
           |SELECT source, n_tokens, vocab,
           |  floor((1.0e0 - CAST(ssq AS DOUBLE)
           |    / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)))
           |    * 1e6 + 0.5e0) / 1e6 AS gini_simpson
           |FROM ag ORDER BY source""".stripMargin,

      // identical histogram-then-expand staging; range() excludes its
      // stop bound so i covers positions 1..len-1, same as sequence()
      "q_bpe_pairs" ->
        s"""WITH nw AS (SELECT $normSql AS t FROM documents),
           |w AS (SELECT unnest(string_split(t, ' ')) AS w FROM nw),
           |wc AS (SELECT w, count(*) AS n FROM w
           |  WHERE length(w) >= 2 GROUP BY w),
           |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, n
           |  FROM wc, unnest(range(1, length(w))) AS t(i))
           |SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count
           |FROM p GROUP BY pair
           |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin,

      // same two-stage strip + collapse; DuckDB needs the 'g' flag where
      // Spark's regexp_replace is global by default
      "q_html_extract" ->
        """WITH p AS (SELECT doc_id, source, text,
          |    concat('<html><head><title>Doc ', doc_id, ' [', source,
          |      ']</title><script>var x=1;</script></head><body>',
          |      '<nav>home | about | index</nav><p>', text,
          |      '</p><footer>(c) corpus</footer></body></html>') AS page
          |  FROM documents),
          |b AS (SELECT doc_id, source, text, page,
          |    regexp_replace(trim(regexp_replace(regexp_replace(page,
          |      '<(nav|footer|script)>[^<]*</(nav|footer|script)>', '', 'g'),
          |      '<[^>]*>', ' ', 'g')), '[ ]{2,}', ' ', 'g') AS body_text
          |  FROM p)
          |SELECT doc_id,
          |  concat('Doc ', doc_id, ' [', source, ']') AS title,
          |  CAST(length(page) AS BIGINT) AS page_len,
          |  CAST(length(body_text) AS BIGINT) AS extracted_len,
          |  (body_text = concat('Doc ', doc_id, ' [', source, '] ', text))
          |    AS intact
          |FROM b ORDER BY doc_id""".stripMargin,

      "q_text_stats" ->
        """SELECT doc_id, lang,
          |  length(text) AS n_chars_calc,
          |  n_chars = length(text) AS n_chars_ok,
          |  len(string_split(text, ' ')) AS n_tokens,
          |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
          |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          |    / len(string_split(text, ' ')), 6) AS ttr,
          |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1)
          |    AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_word_len
          |FROM documents ORDER BY doc_id""".stripMargin,

      // every ratio bound cross-multiplied into integers (see the query)
      "q_gopher_rules" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents),
           |f AS (SELECT doc_id,
           |    CAST(len(ws) AS BIGINT) AS n_words,
           |    CAST(list_sum(list_transform(ws, w -> length(w)))
           |      AS BIGINT) AS sum_len,
           |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
           |      AS BIGINT) AS n_alpha,
           |    CAST(len(list_intersect(list_distinct(ws),
           |      ['the', 'a', 'of', 'and', 'to'])) AS BIGINT)
           |      AS n_stop_kinds
           |  FROM w)
           |SELECT doc_id, n_words,
           |  (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
           |  (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
           |    AS rule_mean_len,
           |  (5 * n_alpha >= 4 * n_words) AS rule_alpha,
           |  (n_stop_kinds >= 2) AS rule_stopwords,
           |  ((n_words >= 50 AND n_words <= 100000)
           |    AND (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
           |    AND (5 * n_alpha >= 4 * n_words)
           |    AND n_stop_kinds >= 2) AS gopher_pass
           |FROM f ORDER BY doc_id""".stripMargin,

      // same rule expressions as q_gopher_rules, folded to the staged
      // conditional sums; 4-row unpivot via UNION ALL
      "q_filter_funnel" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents),
           |f AS (SELECT doc_id,
           |    CAST(len(ws) AS BIGINT) AS n_words,
           |    CAST(list_sum(list_transform(ws, w -> length(w)))
           |      AS BIGINT) AS sum_len,
           |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
           |      AS BIGINT) AS n_alpha,
           |    CAST(len(list_intersect(list_distinct(ws),
           |      ['the', 'a', 'of', 'and', 'to'])) AS BIGINT)
           |      AS n_stop_kinds
           |  FROM w),
           |r AS (SELECT
           |    CASE WHEN n_words >= 50 AND n_words <= 100000
           |      THEN 1 ELSE 0 END AS r1,
           |    CASE WHEN 3 * n_words <= sum_len
           |      AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS r2,
           |    CASE WHEN 5 * n_alpha >= 4 * n_words
           |      THEN 1 ELSE 0 END AS r3,
           |    CASE WHEN n_stop_kinds >= 2 THEN 1 ELSE 0 END AS r4
           |  FROM f),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n0,
           |    CAST(sum(r1) AS BIGINT) AS s1,
           |    CAST(sum(r1*r2) AS BIGINT) AS s2,
           |    CAST(sum(r1*r2*r3) AS BIGINT) AS s3,
           |    CAST(sum(r1*r2*r3*r4) AS BIGINT) AS s4 FROM r),
           |u AS (
           |  SELECT 1 AS stage, 'word_count' AS rule, n0 AS n_in,
           |    s1 AS n_out FROM m
           |  UNION ALL SELECT 2, 'mean_len', s1, s2 FROM m
           |  UNION ALL SELECT 3, 'alpha_ratio', s2, s3 FROM m
           |  UNION ALL SELECT 4, 'stopwords', s3, s4 FROM m)
           |SELECT CAST(stage AS BIGINT) AS stage, rule, n_in, n_out,
           |  CASE WHEN n_in > 0 THEN
           |    floor(CAST(n_in - n_out AS DOUBLE) / CAST(n_in AS DOUBLE)
           |      * 1e6 + 0.5e0) / 1e6 END AS drop_pct
           |FROM u ORDER BY stage""".stripMargin,

      // sorted fold = identical FP summation order (lm_perplexity idiom)
      "q_entropy" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents),
           |tc AS (SELECT doc_id, token, count(*) AS c FROM (
           |    SELECT doc_id, unnest(ws) AS token FROM w) t GROUP BY 1, 2),
           |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
           |    count(*) AS n_distinct,
           |    list_sort(list(CAST(c AS DOUBLE) * ln(c))) AS terms
           |  FROM tc GROUP BY doc_id),
           |sm AS (SELECT doc_id, n, n_distinct,
           |    list_reduce(list_prepend(0.0, terms), (a, x) -> a + x) AS s
           |  FROM ag)
           |SELECT doc_id, n AS n_tokens, n_distinct,
           |  floor((ln(n) - s / n) * 1e6 + 0.5e0) / 1e6 AS entropy
           |FROM sm ORDER BY doc_id""".stripMargin,

      "q_quality_score" ->
        """SELECT doc_id, round((uniq_ratio + len_score) / 2.0, 6) AS score,
          |  round(uniq_ratio, 6) AS uniq_ratio,
          |  round(len_score, 6) AS len_score
          |FROM (SELECT doc_id,
          |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          |      / len(string_split(text, ' ')) AS uniq_ratio,
          |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
          |      AS len_score
          |  FROM documents) t
          |WHERE round((uniq_ratio + len_score) / 2.0, 6) > 0.5
          |ORDER BY doc_id""".stripMargin,

      // the shared classifier chain (OracleHash.classifierScoreCtes —
      // the SQL twin of TextDedup.classifierScored); score_norm
      // floor-quantized with e-notation literals so every double op
      // runs in DOUBLE on both engines
      "q_quality_classifier" -> {
        s"""WITH ${graft.engine.OracleHash.classifierScoreCtes(
             "doc_id, lang")}
           |SELECT doc_id, lang, n_feats, score,
           |  floor(CAST(score AS DOUBLE) * 1e6 / n_feats + 0.5e0) / 1e6
           |    AS score_norm,
           |  score > 0 AS keep
           |FROM sc ORDER BY doc_id""".stripMargin
      },

      "q_token_count" ->
        """SELECT lang, count(*) AS n_docs,
          |  CAST(sum(len(string_split(text, ' '))) AS BIGINT)
          |    AS sum_ws_tokens,
          |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
          |    AS BIGINT) AS sum_bpe_tokens,
          |  round(avg(len(string_split(text, ' '))), 6) AS avg_ws_tokens
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      // vowel-GROUP syllable heuristic; scores are one mirrored double
      // expression over the three per-doc integers, floor-quantized
      "q_readability" ->
        s"""WITH b AS (SELECT doc_id,
           |    CAST(len(regexp_extract_all($normSql, '[^ ]+'))
           |      AS BIGINT) AS wrds,
           |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
           |      AS BIGINT) AS sents,
           |    CAST(greatest(
           |      len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           |      AS BIGINT) AS syls
           |  FROM documents),
           |r AS (SELECT doc_id, wrds, sents, syls,
           |    CAST(wrds AS DOUBLE) / sents AS wps,
           |    CAST(syls AS DOUBLE) / wrds AS spw
           |  FROM b WHERE wrds > 0)
           |SELECT doc_id, wrds AS words, sents AS sentences,
           |  syls AS syllables,
           |  floor((206.835 - 1.015 * wps - 84.6 * spw) * 1e6 + 0.5)
           |    / 1e6 AS flesch,
           |  floor((0.39 * wps + 11.8 * spw - 15.59) * 1e6 + 0.5) / 1e6
           |    AS fk_grade
           |FROM r ORDER BY doc_id""".stripMargin,

      // q_token_count's token regex verbatim; integer micro-division
      "q_tokenizer_fertility" ->
        s"""WITH b AS (SELECT lang, n_chars,
           |    CAST(len(regexp_extract_all($normSql, '[^ ]+'))
           |      AS BIGINT) AS wrds,
           |    CAST(len(regexp_extract_all(text,
           |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS toks
           |  FROM documents),
           |g AS (SELECT lang, count(*) AS n_docs,
           |    CAST(sum(wrds) AS BIGINT) AS sum_words,
           |    CAST(sum(toks) AS BIGINT) AS sum_tokens,
           |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |  FROM b GROUP BY lang)
           |SELECT lang, n_docs, sum_words, sum_tokens,
           |  CAST((sum_tokens * 1000000) // sum_words AS DOUBLE) / 1e6
           |    AS fertility,
           |  CAST((sum_chars * 1000000) // sum_tokens AS DOUBLE) / 1e6
           |    AS chars_per_token
           |FROM g ORDER BY lang""".stripMargin,

      "q_lang_id" ->
        """SELECT doc_id, lang, vr,
          |  CASE WHEN has_cjk THEN 'zh'
          |       WHEN vr >= 0.32 THEN 'en'
          |       WHEN vr >= 0.28 THEN 'es'
          |       ELSE 'other' END AS guess,
          |  (CASE WHEN has_cjk THEN 'zh'
          |        WHEN vr >= 0.32 THEN 'en'
          |        WHEN vr >= 0.28 THEN 'es'
          |        ELSE 'other' END) = lang AS agrees
          |FROM (SELECT doc_id, lang,
          |    round(CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
          |      / length(text), 6) AS vr,
          |    len(regexp_extract_all(text, '[一-鿿]')) > 0 AS has_cjk
          |  FROM documents) t
          |ORDER BY doc_id""".stripMargin,

      // identical scored subquery as q_lang_id; metrics are integer
      // floor-division micro-units (// == Spark div on non-negatives)
      "q_eval_metrics" ->
        """WITH s AS (SELECT lang,
          |    CASE WHEN has_cjk THEN 'zh'
          |         WHEN vr >= 0.32 THEN 'en'
          |         WHEN vr >= 0.28 THEN 'es'
          |         ELSE 'other' END AS guess
          |  FROM (SELECT lang,
          |      round(CAST(len(regexp_extract_all(text, '[aeiou]'))
          |        AS DOUBLE) / length(text), 6) AS vr,
          |      len(regexp_extract_all(text, '[一-鿿]')) > 0 AS has_cjk
          |    FROM documents) t),
          |tr AS (SELECT lang AS label, count(*) AS n_true FROM s
          |  GROUP BY 1),
          |pr AS (SELECT guess AS label, count(*) AS n_pred FROM s
          |  GROUP BY 1),
          |tp AS (SELECT lang AS label, count(*) AS tp FROM s
          |  WHERE lang = guess GROUP BY 1)
          |SELECT label,
          |  coalesce(tr.n_true, 0) AS n_true,
          |  coalesce(pr.n_pred, 0) AS n_pred,
          |  coalesce(tp.tp, 0) AS tp,
          |  CASE WHEN coalesce(pr.n_pred, 0) > 0 THEN
          |    CAST((coalesce(tp.tp, 0) * 1000000) // pr.n_pred AS BIGINT)
          |  END AS precision_u,
          |  CASE WHEN coalesce(tr.n_true, 0) > 0 THEN
          |    CAST((coalesce(tp.tp, 0) * 1000000) // tr.n_true AS BIGINT)
          |  END AS recall_u,
          |  CAST((2 * coalesce(tp.tp, 0) * 1000000)
          |    // (coalesce(tr.n_true, 0) + coalesce(pr.n_pred, 0))
          |    AS BIGINT) AS f1_u
          |FROM tr FULL OUTER JOIN pr USING (label)
          |LEFT JOIN tp USING (label)
          |ORDER BY label""".stripMargin,

      // same guess CTE, binary 'en' view; cells exact, MCC one closed form
      "q_mcc" ->
        """WITH s AS (SELECT lang,
          |    CASE WHEN has_cjk THEN 'zh'
          |         WHEN vr >= 0.32 THEN 'en'
          |         WHEN vr >= 0.28 THEN 'es'
          |         ELSE 'other' END AS guess
          |  FROM (SELECT lang,
          |      round(CAST(len(regexp_extract_all(text, '[aeiou]'))
          |        AS DOUBLE) / length(text), 6) AS vr,
          |      len(regexp_extract_all(text, '[一-鿿]')) > 0 AS has_cjk
          |    FROM documents) t),
          |m AS (SELECT
          |    CAST(sum(CASE WHEN lang = 'en' AND guess = 'en'
          |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |    CAST(sum(CASE WHEN lang <> 'en' AND guess = 'en'
          |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |    CAST(sum(CASE WHEN lang = 'en' AND guess <> 'en'
          |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |    CAST(sum(CASE WHEN lang <> 'en' AND guess <> 'en'
          |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
          |  FROM s)
          |SELECT tp, fp, fn, tn,
          |  CAST(((tp + tn) * 1000000) // (tp + fp + fn + tn) AS BIGINT)
          |    AS accuracy_u,
          |  CASE WHEN sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
          |      * (tn + fp) * (tn + fn)) > 0
          |    THEN floor((CAST(tp AS DOUBLE) * tn
          |      - CAST(fp AS DOUBLE) * fn)
          |      / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
          |        * (tn + fp) * (tn + fn)) * 1e6 + 0.5e0) / 1e6
          |  END AS mcc,
          |  CASE WHEN (tp + fn) > 0 AND (tn + fp) > 0
          |    THEN floor((CAST(tp AS DOUBLE) / (tp + fn)
          |      + CAST(tn AS DOUBLE) / (tn + fp)) / 2.0e0
          |      * 1e6 + 0.5e0) / 1e6
          |  END AS balanced_acc
          |FROM m""".stripMargin,

      "q_fingerprint" ->
        s"""SELECT doc_id, md5($normSql) AS doc_md5,
           |  list_min(list_transform(
           |    range(0, len(string_split($normSql, ' ')) - 4),
           |    i -> md5(array_to_string(
           |      string_split($normSql, ' ')[i+1:i+5], ' '))))
           |    AS min_shingle_md5
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q_hash_split" -> {
        import graft.engine.OracleHash._
        s"""WITH ${splitmixStages("documents", "doc_id, n_chars",
              "doc_id::UBIGINT")},
           |b AS (SELECT doc_id, n_chars,
           |    (xor(z3, z3 >> 31) >> 8) % 100::UBIGINT AS bk FROM p3_),
           |s AS (SELECT doc_id, n_chars,
           |    CASE WHEN bk < 80::UBIGINT THEN 'train'
           |         WHEN bk < 90::UBIGINT THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM b)
           |SELECT split, count(*) AS n_docs,
           |  round(avg(n_chars), 6) AS avg_chars,
           |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
           |FROM s GROUP BY split ORDER BY split""".stripMargin
      },

      "q_repetition_ratio" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents),
           |t AS (SELECT doc_id,
           |    list_transform(range(0, greatest(len(ws) - 3, 0) + 1),
           |      i -> array_to_string(ws[(i+1):(i+3)], ' ')) AS tris
           |  FROM w)
           |SELECT doc_id, len(tris) AS n_tris,
           |  round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE)
           |    / len(tris), 6) AS rep_ratio,
           |  round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE)
           |    / len(tris), 6) > 0.2 AS repetitive
           |FROM t ORDER BY doc_id""".stripMargin,

      "q_stopword_ratio" ->
        s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           |  FROM documents)
           |SELECT doc_id, len(ws) AS n_tokens,
           |  len(list_filter(ws, t -> t IN ('the','a','an','and','of',
           |    'to','in','is','on','for'))) AS n_stop,
           |  round(CAST(len(list_filter(ws, t -> t IN ('the','a','an',
           |    'and','of','to','in','is','on','for'))) AS DOUBLE)
           |    / len(ws), 6) AS stop_ratio,
           |  round(CAST(len(list_filter(ws, t -> t IN ('the','a','an',
           |    'and','of','to','in','is','on','for'))) AS DOUBLE)
           |    / len(ws), 6) >= 0.1 AS looks_natural
           |FROM w ORDER BY doc_id""".stripMargin,

      "q_dedup_exact" ->
        s"""SELECT sha256($normSql) AS fp, min(doc_id) AS keep_id,
           |  count(*) AS n_copies
           |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

      // positional shingles (duplicates kept, unlike shingleCtes' set
      // form); same normalization + FNV-1a-64 as the Spark kernel
      // same positional-FNV + recurring CTEs as q_dup_spans, then the
      // gaps-and-islands stitch (pos − row_number per doc) and the
      // ≥15-token span filter
      "q_dedup_substr" -> {
        import graft.engine.OracleHash._
        val h = fnv1a64("array_to_string(ws[(pos+1):(pos+5)], ' ')")
        s"""WITH w AS (SELECT doc_id,
           |    string_split($normSql, ' ') AS ws FROM documents),
           |ps AS (SELECT doc_id, pos, $h AS h
           |  FROM (SELECT doc_id, ws,
           |      unnest(range(0, greatest(len(ws) - 4, 1))) AS pos
           |    FROM w) t),
           |recurring AS (SELECT h FROM
           |    (SELECT h, count(*) AS nd FROM
           |      (SELECT DISTINCT doc_id, h FROM ps) dd GROUP BY h) c
           |  WHERE nd >= 2),
           |mk AS (SELECT doc_id, pos, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY pos) AS rn
           |  FROM ps JOIN recurring USING (h)),
           |sp AS (SELECT doc_id, min(pos) AS start_pos,
           |    count(*) + 4 AS span_tokens
           |  FROM mk GROUP BY doc_id, pos - rn),
           |f AS (SELECT * FROM sp WHERE span_tokens >= 15)
           |SELECT doc_id, count(*) AS n_spans,
           |  CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
           |  CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
           |  CAST(min(start_pos) AS BIGINT) AS first_span_pos
           |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      "q_dup_spans" -> {
        import graft.engine.OracleHash._
        val h = fnv1a64("array_to_string(ws[(i+1):(i+5)], ' ')")
        s"""WITH w AS (SELECT doc_id,
           |    string_split($normSql, ' ') AS ws FROM documents),
           |ps AS (SELECT doc_id, unnest(list_transform(
           |    range(0, greatest(len(ws) - 4, 1)), i -> $h)) AS h
           |  FROM w),
           |recurring AS (SELECT h FROM
           |    (SELECT h, count(*) AS nd FROM
           |      (SELECT DISTINCT doc_id, h FROM ps) dd GROUP BY h) c
           |  WHERE nd >= 2),
           |per AS (SELECT doc_id, count(*) AS n_dup_spans
           |  FROM ps JOIN recurring USING (h) GROUP BY doc_id),
           |tot AS (SELECT doc_id,
           |    CAST(greatest(len(ws) - 4, 1) AS BIGINT) AS n_spans FROM w)
           |SELECT t.doc_id, t.n_spans,
           |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           |  floor(coalesce(p.n_dup_spans, 0) * 1000000.0 / t.n_spans
           |      + 0.5) / 1000000.0 AS dup_frac
           |FROM tot t LEFT JOIN per p USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin
      },

      // two-level IVF blocking (r9, OracleHash.ivf2*Ctes) over the
      // documents-joined point set
      "q_dedup_embed" -> {
        import graft.engine.OracleHash.{ivf2IndexCtes, ivf2AssignCte}
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
           |  FROM embeddings),
           |de AS (SELECT d.doc_id, sha256($normSql) AS fp, e.vd,
           |    sqrt(list_dot_product(e.vd, e.vd)) AS nrm
           |  FROM documents d JOIN e ON d.doc_id = e.vec_id),
           |${ivf2IndexCtes("de", "doc_id")},
           |${ivf2AssignCte("asg", "de", "doc_id", "", 2)},
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM asg x JOIN asg y
           |  ON x.cid = y.cid AND x.doc_id < y.doc_id)
           |SELECT cand.d1, cand.d2,
           |  round(list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm), 6) AS cos,
           |  a.fp = b.fp AS exact_dup
           |FROM cand JOIN de a ON a.doc_id = cand.d1
           |  JOIN de b ON b.doc_id = cand.d2
           |WHERE list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) >= 0.45
           |ORDER BY d1, d2""".stripMargin
      },

      "q_dedup_jaccard" -> exactJaccardOracle(normSql),

      // the dispatcher's oracle pins the small-corpus branch: sf0.01 is
      // orders of magnitude under TextDedup.ExactPairsMaxDocs, so
      // q_dedup_auto must equal the exact miner's answer verbatim (the
      // LSH branch's fidelity is covered by q_dedup_recall/TextDedupSpec)
      "q_dedup_auto" -> exactJaccardOracle(normSql),

      // the naive quadratic twin restricted to increment-involving
      // orientations — same word-shingle sets as q_dedup_jaccard; the
      // cutoff replays the engine's floor(0.8·(max_id+1)) contract
      "q_dedup_incr" ->
        s"""WITH t AS (SELECT doc_id,
          |    list_distinct(list_transform(
          |      range(0, greatest(len(string_split($normSql, ' ')) - 4, 1)),
          |      i -> array_to_string(string_split($normSql, ' ')[i+1:i+5],
          |        ' '))) AS toks
          |  FROM documents),
          |co AS (SELECT ((max(doc_id) + 1) * 8) // 10 AS cutoff
          |  FROM documents),
          |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
          |  FROM t a JOIN t b ON a.doc_id <> b.doc_id CROSS JOIN co
          |  WHERE b.doc_id >= cutoff
          |    AND (a.doc_id < cutoff OR a.doc_id < b.doc_id)
          |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          |      (len(a.toks) + len(b.toks)
          |       - len(list_intersect(a.toks, b.toks))) >= 0.7),
          |m AS (SELECT d2 AS doc_id, count(*) AS n_matches
          |  FROM pr GROUP BY d2)
          |SELECT d.doc_id,
          |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
          |  coalesce(m.n_matches, 0) > 0 AS is_dup
          |FROM documents d CROSS JOIN co LEFT JOIN m USING (doc_id)
          |WHERE d.doc_id >= cutoff
          |ORDER BY d.doc_id""".stripMargin,

      // splitmix64 replayed over (doc_id·10⁶ + pos); string_agg ORDER BY
      // pos rebuilds Spark's array_sort reassembly
      "q_mlm_mask" -> {
        import graft.engine.OracleHash._
        s"""WITH x AS (SELECT doc_id,
           |    unnest(string_split($normSql, ' ')) AS tok,
           |    generate_subscripts(string_split($normSql, ' '), 1) - 1
           |      AS pos
           |  FROM documents),
           |${splitmixStages("x", "doc_id, tok, pos",
              "(doc_id*1000000 + pos)::UBIGINT")},
           |m AS (SELECT doc_id, pos, tok,
           |    CAST((xor(z3, z3 >> 31) >> 8) % 100::UBIGINT AS BIGINT) AS r
           |  FROM p3_)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(CASE WHEN r < 15 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_masked,
           |  string_agg(CASE WHEN r < 15 THEN '[MASK]' ELSE tok END,
           |    ' ' ORDER BY pos) AS text_masked
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      // same splitmix replay as q_mlm_mask on a decorrelated seed; span
      // starts and numbering via the identical per-doc window; FILTERed
      // string_agg ORDER BY pos mirrors the null-skipping collect_list
      "q_t5_spans" -> {
        import graft.engine.OracleHash._
        s"""WITH x AS (SELECT doc_id,
           |    unnest(string_split($normSql, ' ')) AS tok,
           |    generate_subscripts(string_split($normSql, ' '), 1) - 1
           |      AS pos
           |  FROM documents),
           |${splitmixStages("x", "doc_id, tok, pos",
              "((doc_id*1000000 + pos)*31 + 17)::UBIGINT")},
           |mk AS (SELECT doc_id, pos, tok,
           |    CAST((xor(z3, z3 >> 31) >> 8) % 100::UBIGINT AS BIGINT) < 15
           |      AS m
           |  FROM p3_),
           |sp AS (SELECT doc_id, pos, tok, m,
           |    m AND NOT coalesce(lag(m) OVER (
           |      PARTITION BY doc_id ORDER BY pos), false) AS st
           |  FROM mk),
           |sid AS (SELECT doc_id, pos, tok, m, st,
           |    sum(CASE WHEN st THEN 1 ELSE 0 END) OVER (
           |      PARTITION BY doc_id ORDER BY pos
           |      ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM sp)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_spans,
           |  coalesce(string_agg(CASE WHEN NOT m THEN tok
           |      WHEN st THEN '<extra_id_' || (sid - 1) || '>' END,
           |    ' ' ORDER BY pos) FILTER (WHERE NOT m OR st), '')
           |    AS input_text,
           |  coalesce(string_agg(CASE WHEN st
           |      THEN '<extra_id_' || (sid - 1) || '> ' || tok
           |      ELSE tok END, ' ' ORDER BY pos) FILTER (WHERE m), '')
           |    AS target_text
           |FROM sid GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      // the contain pair set + size/tiebreak cull rule + witness ranking
      "q_contain_keep" ->
        s"""WITH t AS (SELECT doc_id,
          |    list_distinct(list_transform(
          |      range(0, greatest(len(string_split($normSql, ' ')) - 4, 1)),
          |      i -> array_to_string(string_split($normSql, ' ')[i+1:i+5],
          |        ' '))) AS toks
          |  FROM documents),
          |pr AS (SELECT a.doc_id AS d_in, b.doc_id AS d_of,
          |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          |      len(a.toks), 6) AS containment,
          |    len(a.toks) AS sz_in, len(b.toks) AS sz_of
          |  FROM t a JOIN t b ON a.doc_id <> b.doc_id
          |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          |      len(a.toks) >= 0.8
          |    AND (len(b.toks) > len(a.toks) OR
          |      (len(b.toks) = len(a.toks) AND b.doc_id < a.doc_id))),
          |w AS (SELECT d_in AS doc_id, d_of AS contained_in, containment
          |  FROM (SELECT d_in, d_of, containment, row_number() OVER (
          |      PARTITION BY d_in
          |      ORDER BY containment DESC, d_of ASC) AS rk FROM pr) x
          |  WHERE rk = 1)
          |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_shingles,
          |  w.contained_in IS NULL AS kept, w.contained_in, w.containment
          |FROM t LEFT JOIN w USING (doc_id)
          |ORDER BY t.doc_id""".stripMargin,

      // exact all-ORDERED-pairs containment (a ≠ b, |A∩B| >= 0.8|A|) —
      // string shingles stand in for the FNV hashes (same cardinalities,
      // the q_dedup_jaccard precedent)
      "q_dedup_contain" ->
        s"""WITH t AS (SELECT doc_id,
          |    list_distinct(list_transform(
          |      range(0, greatest(len(string_split($normSql, ' ')) - 4, 1)),
          |      i -> array_to_string(string_split($normSql, ' ')[i+1:i+5],
          |        ' '))) AS toks
          |  FROM documents)
          |SELECT a.doc_id AS d_in, b.doc_id AS d_of,
          |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          |    len(a.toks), 6) AS containment
          |FROM t a JOIN t b ON a.doc_id <> b.doc_id
          |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          |    len(a.toks) >= 0.8
          |ORDER BY d_in, d_of""".stripMargin,

      // MinHash: regenerate the FNV-1a shingle hashes and splitmix64
      // signature family in SQL (graft.engine.OracleHash), band on raw
      // 4-minhash slices, verify candidates with exact Jaccard — the
      // exact relational twin of TextDedup.minHashLshPairs.
      // same signature CTE chain; per-pair positional match fold
      "q_minhash_calibration" -> {
        import graft.engine.OracleHash._
        s"""WITH $shingleCtes,
           |v AS (SELECT doc_id, toks, len(toks) AS sz FROM sh),
           |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
           |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |      (a.sz + b.sz - len(list_intersect(a.toks, b.toks))), 6)
           |      AS jacc
           |  FROM v a JOIN v b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |      (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
           |    >= 0.6),
           |ex AS (SELECT doc_id, unnest(toks) AS h FROM sh),
           |exk AS (SELECT doc_id, k, h
           |  FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS k)),
           |${splitmixStages("exk", "doc_id, k",
              "xor(h, " + u64mul(golden, "(k+1)::UBIGINT") + ")")},
           |mh AS (SELECT doc_id, k, min(xor(z3, z3 >> 31)) AS m
           |  FROM p3_ GROUP BY doc_id, k),
           |sig AS (SELECT doc_id, list(m ORDER BY k) AS sg
           |  FROM mh GROUP BY doc_id),
           |pm AS (SELECT p.d1, p.d2, p.jacc,
           |    CAST(sum(CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)
           |      AS BIGINT) AS m
           |  FROM pairs p
           |  JOIN sig a ON a.doc_id = p.d1
           |  JOIN sig b ON b.doc_id = p.d2
           |  CROSS JOIN (SELECT unnest(range(1, 17)) AS i)
           |  GROUP BY 1, 2, 3)
           |SELECT m AS n_match, count(*) AS n_pairs,
           |  CAST((m * 1000000) // 16 AS DOUBLE) / 1e6 AS est_jaccard,
           |  CAST(CAST(sum(CAST(floor(jacc * 1e6 + 0.5e0) AS BIGINT))
           |      AS BIGINT) // count(*) AS DOUBLE) / 1e6
           |    AS avg_exact_jaccard
           |FROM pm GROUP BY m ORDER BY n_match""".stripMargin
      },

      "q_dedup_minhash" -> {
        import graft.engine.OracleHash._
        s"""WITH $shingleCtes,
           |ex AS (SELECT doc_id, unnest(toks) AS h FROM sh),
           |exk AS (SELECT doc_id, k, h
           |  FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS k)),
           |${splitmixStages("exk", "doc_id, k",
              "xor(h, " + u64mul(golden, "(k+1)::UBIGINT") + ")")},
           |mh AS (SELECT doc_id, k, min(xor(z3, z3 >> 31)) AS m
           |  FROM p3_ GROUP BY doc_id, k),
           |sig AS (SELECT doc_id, list(m ORDER BY k) AS sg
           |  FROM mh GROUP BY doc_id),
           |bk AS (SELECT doc_id, b, sg[(b*4+1):(b*4+4)] AS key
           |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM bk x JOIN bk y
           |  ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
           |v AS (SELECT doc_id, toks, len(toks) AS sz FROM sh)
           |SELECT cand.d1, cand.d2,
           |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    (a.sz + b.sz - len(list_intersect(a.toks, b.toks))), 6)
           |    AS jacc
           |FROM cand JOIN v a ON a.doc_id = cand.d1
           |  JOIN v b ON b.doc_id = cand.d2
           |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    (a.sz + b.sz - len(list_intersect(a.toks, b.toks))) >= 0.7
           |ORDER BY d1, d2""".stripMargin
      },

      // exact pairs from the hashed shingle sets (cardinality-identical
      // to string shingles) + the q_dedup_minhash candidate chain, then
      // one pair-keyed comparison
      "q_dedup_recall" -> {
        import graft.engine.OracleHash._
        s"""WITH $shingleCtes,
           |v AS (SELECT doc_id, toks, len(toks) AS sz FROM sh),
           |exact AS (SELECT a.doc_id AS d1, b.doc_id AS d2
           |  FROM v a JOIN v b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
           |    >= 0.7),
           |ex AS (SELECT doc_id, unnest(toks) AS h FROM sh),
           |exk AS (SELECT doc_id, k, h
           |  FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS k)),
           |${splitmixStages("exk", "doc_id, k",
              "xor(h, " + u64mul(golden, "(k+1)::UBIGINT") + ")")},
           |mh AS (SELECT doc_id, k, min(xor(z3, z3 >> 31)) AS m
           |  FROM p3_ GROUP BY doc_id, k),
           |sig AS (SELECT doc_id, list(m ORDER BY k) AS sg
           |  FROM mh GROUP BY doc_id),
           |bk AS (SELECT doc_id, b, sg[(b*4+1):(b*4+4)] AS key
           |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM bk x JOIN bk y
           |  ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
           |lsh AS (SELECT cand.d1, cand.d2
           |  FROM cand JOIN v a ON a.doc_id = cand.d1
           |    JOIN v b ON b.doc_id = cand.d2
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
           |    >= 0.7),
           |h AS (SELECT count(*) AS n_true,
           |    CAST(sum(CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_hit
           |  FROM exact e LEFT JOIN lsh l
           |    ON e.d1 = l.d1 AND e.d2 = l.d2),
           |nc AS (SELECT count(*) AS n_cand FROM lsh)
           |SELECT n_true, n_cand, n_hit,
           |  round(CAST(n_hit AS DOUBLE) / n_true, 6) AS recall,
           |  round(CAST(n_hit AS DOUBLE) / n_cand, 6) AS precision
           |FROM h CROSS JOIN nc""".stripMargin
      },

      // panel = per-source 16 smallest splitmix64(doc_id*487+13)-ranked
      // docs (prefix-q hash chain; the minhash chain keeps prefix p);
      // Wilson 95% in one mirrored double expression
      "q_dedup_recall_ci" -> {
        import graft.engine.OracleHash._
        s"""WITH ${splitmixStages("documents", "doc_id, source, text",
              "CAST(doc_id*487+13 AS UBIGINT)", prefix = "q")},
           |ph AS (SELECT doc_id, source, text,
           |    (xor(z3, z3 >> 31) >> 8) AS hk FROM q3_),
           |panel AS (SELECT doc_id, text FROM (
           |    SELECT doc_id, text, row_number() OVER (
           |      PARTITION BY source ORDER BY hk, doc_id) AS srn
           |    FROM ph) t WHERE srn <= 16),
           |${shingleCtesFrom("panel")},
           |v AS (SELECT doc_id, toks, len(toks) AS sz FROM sh),
           |exact AS (SELECT a.doc_id AS d1, b.doc_id AS d2
           |  FROM v a JOIN v b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
           |    >= 0.7),
           |ex AS (SELECT doc_id, unnest(toks) AS h FROM sh),
           |exk AS (SELECT doc_id, k, h
           |  FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS k)),
           |${splitmixStages("exk", "doc_id, k",
              "xor(h, " + u64mul(golden, "(k+1)::UBIGINT") + ")")},
           |mh AS (SELECT doc_id, k, min(xor(z3, z3 >> 31)) AS m
           |  FROM p3_ GROUP BY doc_id, k),
           |sig AS (SELECT doc_id, list(m ORDER BY k) AS sg
           |  FROM mh GROUP BY doc_id),
           |bk AS (SELECT doc_id, b, sg[(b*4+1):(b*4+4)] AS key
           |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM bk x JOIN bk y
           |  ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
           |lsh AS (SELECT cand.d1, cand.d2
           |  FROM cand JOIN v a ON a.doc_id = cand.d1
           |    JOIN v b ON b.doc_id = cand.d2
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
           |    >= 0.7),
           |hh AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
           |    CAST(sum(CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_hit
           |  FROM exact e LEFT JOIN lsh l
           |    ON e.d1 = l.d1 AND e.d2 = l.d2),
           |wils AS (SELECT n_true, n_hit,
           |    CAST(n_true AS DOUBLE) AS nd,
           |    CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) AS p
           |  FROM hh)
           |SELECT n_true, n_hit,
           |  CASE WHEN n_true > 0 THEN
           |    floor(p * 1e6 + 0.5e0) / 1e6 END AS recall,
           |  CASE WHEN n_true > 0 THEN floor(
           |    ((p + 1.959964e0*1.959964e0/(2.0e0*nd))
           |       / (1.0e0 + 1.959964e0*1.959964e0/nd)
           |     - 1.959964e0 * sqrt(p*(1.0e0-p)/nd
           |         + 1.959964e0*1.959964e0/(4.0e0*nd*nd))
           |       / (1.0e0 + 1.959964e0*1.959964e0/nd)) * 1e6 + 0.5e0)
           |    / 1e6 END AS recall_lo95,
           |  CASE WHEN n_true > 0 THEN floor(
           |    ((p + 1.959964e0*1.959964e0/(2.0e0*nd))
           |       / (1.0e0 + 1.959964e0*1.959964e0/nd)
           |     + 1.959964e0 * sqrt(p*(1.0e0-p)/nd
           |         + 1.959964e0*1.959964e0/(4.0e0*nd*nd))
           |       / (1.0e0 + 1.959964e0*1.959964e0/nd)) * 1e6 + 0.5e0)
           |    / 1e6 END AS recall_hi95
           |FROM wils""".stripMargin
      },

      // one shared sig CTE, three slicings — band config b slices
      // sg[(j*R+1):(j*R+R)] with R = 16/b; each candidate set verifies
      // exactly, then the three counts union
      "q_lsh_tuning" -> {
        import graft.engine.OracleHash._
        val configs = Seq(2, 4, 8)
        val perConfig = configs.map { b =>
          val r = 16 / b
          s"""bk$b AS (SELECT doc_id, b, sg[(b*$r+1):(b*$r+$r)] AS key
             |  FROM sig CROSS JOIN (SELECT unnest(range(0, $b)) AS b)),
             |cand$b AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             |  FROM bk$b x JOIN bk$b y
             |  ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
             |f$b AS (SELECT $b AS bands, $r AS rows,
             |    count(*) AS n_found
             |  FROM cand$b JOIN v a ON a.doc_id = cand$b.d1
             |    JOIN v bb ON bb.doc_id = cand$b.d2
             |  WHERE CAST(len(list_intersect(a.toks, bb.toks)) AS DOUBLE)
             |    / (a.sz + bb.sz - len(list_intersect(a.toks, bb.toks)))
             |    >= 0.7)""".stripMargin
        }.mkString(",\n")
        s"""WITH $shingleCtes,
           |v AS (SELECT doc_id, toks, len(toks) AS sz FROM sh),
           |tt AS (SELECT count(*) AS n_true
           |  FROM v a JOIN v b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
           |    >= 0.7),
           |ex AS (SELECT doc_id, unnest(toks) AS h FROM sh),
           |exk AS (SELECT doc_id, k, h
           |  FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS k)),
           |${splitmixStages("exk", "doc_id, k",
              "xor(h, " + u64mul(golden, "(k+1)::UBIGINT") + ")")},
           |mh AS (SELECT doc_id, k, min(xor(z3, z3 >> 31)) AS m
           |  FROM p3_ GROUP BY doc_id, k),
           |sig AS (SELECT doc_id, list(m ORDER BY k) AS sg
           |  FROM mh GROUP BY doc_id),
           |$perConfig,
           |u AS (SELECT * FROM f2 UNION ALL SELECT * FROM f4
           |  UNION ALL SELECT * FROM f8)
           |SELECT CAST(bands AS BIGINT) AS bands,
           |  CAST(rows AS BIGINT) AS rows, n_true,
           |  CAST(n_found AS BIGINT) AS n_found,
           |  round(CAST(n_found AS DOUBLE) / n_true, 6) AS recall
           |FROM u CROSS JOIN tt ORDER BY bands""".stripMargin
      },

      // SimHash: same FNV shingle hashes; per-bit majority vote, 16-bit
      // chunk blocking, Hamming via bit_count(xor) — the relational twin
      // of TextDedup.simHashPairs.
      "q_dedup_simhash" -> {
        import graft.engine.OracleHash._
        s"""WITH $shingleCtes,
           |eb AS (SELECT doc_id, b,
           |    CASE WHEN 2 * len(list_filter(toks,
           |          h -> ((h >> CAST(b AS INT)) & 1::UBIGINT) = 1::UBIGINT))
           |          > len(toks)
           |         THEN (1::UBIGINT << CAST(b AS INT))
           |         ELSE 0::UBIGINT END AS bit
           |  FROM sh CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
           |sim AS (SELECT doc_id,
           |    CAST(sum(bit::HUGEINT) % 18446744073709551616 AS UBIGINT)
           |      AS sg
           |  FROM eb GROUP BY doc_id),
           |ch AS (SELECT doc_id, sg, c,
           |    (sg >> CAST(c*16 AS INT)) & 65535::UBIGINT AS cv
           |  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
           |    CAST(bit_count(xor(x.sg, y.sg)) AS INT) AS hamming
           |  FROM ch x JOIN ch y
           |  ON x.c = y.c AND x.cv = y.cv AND x.doc_id < y.doc_id)
           |SELECT d1, d2, hamming FROM cand WHERE hamming <= 3
           |ORDER BY d1, d2""".stripMargin
      },

      // the auto dispatcher's oracle pins its SMALL (exact) branch —
      // sf0.01 is orders of magnitude under ExactPairsMaxDocs
      // small branch == q_dedup_ngram (the sampled exact miner) — same
      // stratified-sample CTE chain
      "q_dedup_ngram_auto" -> {
        import graft.engine.OracleHash._
        s"""WITH n AS (SELECT doc_id,
           |    regexp_replace(lower(trim(text)), '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g') AS nt
           |  FROM documents),
           |g0 AS (SELECT doc_id,
           |    list_distinct(list_transform(range(0, length(nt) - 2),
           |      i -> substring(nt, i + 1, 3))) AS grams
           |  FROM n),
           |g1 AS (SELECT doc_id, grams, len(grams) AS sz FROM g0
           |  WHERE len(grams) > 0),
           |${splitmixStages("g1", "doc_id, grams, sz",
              "(doc_id*613+29)::UBIGINT")},
           |h AS (SELECT doc_id, grams, sz,
           |    (xor(z3, z3 >> 31) >> 8) AS hk FROM p3_),
           |g AS (SELECT doc_id, grams FROM (
           |    SELECT doc_id, grams, row_number() OVER (
           |      PARTITION BY length(CAST(sz AS VARCHAR))
           |      ORDER BY hk, doc_id) AS srn FROM h) t
           |  WHERE srn <= 192)
           |SELECT d1, d2, jacc FROM (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2,
           |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
           |      (len(a.grams) + len(b.grams)
           |       - len(list_intersect(a.grams, b.grams))), 6) AS jacc
           |  FROM g a JOIN g b ON a.doc_id < b.doc_id) t
           |WHERE jacc >= 0.8 ORDER BY d1, d2""".stripMargin
      },

      // sampled ground truth (r13): digit-count size strata, 192
      // smallest splitmix64-ranked docs per stratum — mirrors the Spark
      // miner's deterministic stratified sample exactly
      "q_dedup_ngram" -> {
        import graft.engine.OracleHash._
        s"""WITH n AS (SELECT doc_id,
           |    regexp_replace(lower(trim(text)), '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g') AS nt
           |  FROM documents),
           |g0 AS (SELECT doc_id,
           |    list_distinct(list_transform(range(0, length(nt) - 2),
           |      i -> substring(nt, i + 1, 3))) AS grams
           |  FROM n),
           |g1 AS (SELECT doc_id, grams, len(grams) AS sz FROM g0
           |  WHERE len(grams) > 0),
           |${splitmixStages("g1", "doc_id, grams, sz",
              "(doc_id*613+29)::UBIGINT")},
           |h AS (SELECT doc_id, grams, sz,
           |    (xor(z3, z3 >> 31) >> 8) AS hk FROM p3_),
           |g AS (SELECT doc_id, grams FROM (
           |    SELECT doc_id, grams, row_number() OVER (
           |      PARTITION BY length(CAST(sz AS VARCHAR))
           |      ORDER BY hk, doc_id) AS srn FROM h) t
           |  WHERE srn <= 192)
           |SELECT d1, d2, jacc FROM (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2,
           |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
           |      (len(a.grams) + len(b.grams)
           |       - len(list_intersect(a.grams, b.grams))), 6) AS jacc
           |  FROM g a JOIN g b ON a.doc_id < b.doc_id) t
           |WHERE jacc >= 0.8 ORDER BY d1, d2""".stripMargin
      },

      // chunking via unnest + generate_subscripts (DuckDB's range()
      // cannot take lateral parameters); string_agg ORDER BY ord
      // rebuilds exactly Spark's slice(toks, i*10+1, 10) chunks
      "q_dedup_lines" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
          |    FROM documents),
          |x AS (SELECT doc_id, unnest(toks) AS tok,
          |    generate_subscripts(toks, 1) AS ord FROM t),
          |c AS (SELECT doc_id, CAST((ord - 1) // 10 AS INT) AS idx,
          |    string_agg(tok, ' ' ORDER BY ord) AS chunk
          |  FROM x GROUP BY doc_id, (ord - 1) // 10),
          |f AS (SELECT *, doc_id * 100000 + idx AS k,
          |    min(doc_id * 100000 + idx) OVER (
          |      PARTITION BY chunk) AS first_k
          |  FROM c)
          |SELECT doc_id, count(*) AS n_kept,
          |  string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
          |FROM f WHERE k = first_k
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // integer-arithmetic thresholds (lev*10 <= 3*mx): see the query
      // comment — a 0.3 literal is decimal here but double in Spark
      "q_dedup_editdist" ->
        """WITH b AS (SELECT doc_id, text, split_part(text, ' ', 1) AS w,
          |    length(text) AS len FROM documents)
          |SELECT d1, d2, lev, round(1.0 - CAST(lev AS DOUBLE) / mx, 6) AS sim
          |FROM (
          |  SELECT a.doc_id AS d1, c.doc_id AS d2,
          |    CAST(levenshtein(a.text, c.text) AS BIGINT) AS lev,
          |    greatest(a.len, c.len) AS mx
          |  FROM b a JOIN b c ON a.w = c.w AND a.doc_id < c.doc_id
          |  WHERE abs(a.len - c.len) * 10 <= 3 * greatest(a.len, c.len)) t
          |WHERE lev * 10 <= 3 * mx
          |ORDER BY d1, d2""".stripMargin,

      // identical md5-prefix bucketing (hex prefix < 2^32, % 256)
      "q_feature_hash" ->
        s"""WITH tok AS (SELECT unnest(string_split($normSql, ' ')) AS t
           |  FROM documents),
           |b AS (SELECT t,
           |    ('0x' || substr(md5(t), 1, 8))::BIGINT % 256 AS bucket
           |  FROM tok WHERE length(t) > 0)
           |SELECT bucket, count(*) AS n_tokens,
           |  count(DISTINCT t) AS n_distinct
           |FROM b GROUP BY 1
           |ORDER BY n_tokens DESC, bucket LIMIT 20""".stripMargin,

      // same (ln rank, ln freq) OLS over the top-1000 words
      // per-(source,char) nano-quantized entropy terms integer-summed
      "q_char_entropy" ->
        s"""WITH cc AS (SELECT source, ch, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT source,
           |      unnest(string_split($normSql, '')) AS ch
           |    FROM documents) t
           |  WHERE length(ch) > 0 GROUP BY 1, 2),
           |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
           |  FROM cc GROUP BY 1),
           |tm AS (SELECT cc.source, ns.ns,
           |    CAST(floor(-(CAST(c AS DOUBLE) / CAST(ns.ns AS DOUBLE))
           |      * log2(CAST(c AS DOUBLE) / CAST(ns.ns AS DOUBLE))
           |      * 1e9 + 0.5e0) AS BIGINT) AS t_u
           |  FROM cc JOIN ns ON ns.source = cc.source)
           |SELECT source, CAST(max(ns) AS BIGINT) AS n_chars,
           |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
           |  round(CAST(sum(t_u) AS DOUBLE) / 1e9, 6) AS entropy_bits
           |FROM tm GROUP BY 1 ORDER BY 1""".stripMargin,

      // same shingle chain as q_source_overlap; corpus-wide occurrence
      // counts; exact integer micro share
      "q_dup_ngram_coverage" ->
        s"""WITH ${graft.engine.OracleHash.shingleCtes},
           |ex AS (SELECT doc_id, unnest(toks) AS g FROM sh),
           |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c
           |  FROM ex GROUP BY 1),
           |j AS (SELECT d.source, cnt.c
           |  FROM ex JOIN documents d USING (doc_id)
           |  JOIN cnt ON cnt.g = ex.g),
           |agg AS (SELECT source,
           |    CAST(count(*) AS BIGINT) AS n_shingles,
           |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_duplicated
           |  FROM j GROUP BY 1)
           |SELECT source, n_shingles, n_duplicated,
           |  CAST((n_duplicated * 1000000) // n_shingles AS DOUBLE) / 1e6
           |    AS dup_share
           |FROM agg ORDER BY source""".stripMargin,

      // vocab-keyed counts; nano-quantized per-(source,word) terms
      // integer-summed per source
      "q_source_kl" ->
        s"""WITH sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT source,
           |      unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1, 2),
           |cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cc
           |  FROM sw GROUP BY 1),
           |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
           |  FROM sw GROUP BY 1),
           |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM sw),
           |tm AS (SELECT sw.source,
           |    CAST(floor((CAST(c AS DOUBLE) / CAST(ns.ns AS DOUBLE))
           |      * ln((CAST(c AS DOUBLE) / CAST(ns.ns AS DOUBLE))
           |        / (CAST(cc AS DOUBLE) / CAST(nt AS DOUBLE)))
           |      * 1e9 + 0.5e0) AS BIGINT) AS t_u
           |  FROM sw JOIN cw USING (w) JOIN ns ON ns.source = sw.source
           |  CROSS JOIN nt)
           |SELECT tm.source,
           |  CAST(max(ns.ns) AS BIGINT) AS n_tokens,
           |  CAST(count(*) AS BIGINT) AS vocab_size,
           |  round(CAST(sum(t_u) AS DOUBLE) / 1e9, 6) AS kl_nats
           |FROM tm JOIN ns ON ns.source = tm.source
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      // same tokenization; sum of squared counts in HUGEINT
      "q_yule_k" ->
        s"""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS v_types,
           |    CAST(sum(c) AS BIGINT) AS n_tokens,
           |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS v1_hapax,
           |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
           |  FROM wc)
           |SELECT n_tokens, v_types, v1_hapax,
           |  round(1e4 * (CAST(sc2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
           |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)),
           |    6) AS yule_k
           |FROM m""".stripMargin,

      "q_zipf_fit" ->
        s"""WITH wc AS (SELECT w, count(*) AS c FROM (
           |    SELECT unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1
           |  ORDER BY c DESC, w LIMIT 1000),
           |r AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w)
           |      AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM wc),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
           |    sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy,
           |    sum(y * y) AS syy FROM r)
           |SELECT n AS n_words,
           |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           |    AS slope,
           |  round((sy - sx * ((n * sxy - sx * sy) /
           |    (n * sxx - sx * sx))) / n, 6) AS intercept,
           |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
           |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
           |FROM m""".stripMargin,

      // same stopword-run phrase ids (running count incl. current row);
      // per-word deg/freq ratios as exact HUGEINT micro-divisions
      "q_rake_keywords" ->
        s"""WITH toks AS (SELECT doc_id, i AS pos, ws[i + 1] AS w
           |  FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
           |    FROM documents) dd,
           |  unnest(range(0, len(ws))) AS t(i)),
           |mk AS (SELECT doc_id, pos, w,
           |    (w IN ('the', 'a') OR length(w) = 0) AS stop
           |  FROM toks),
           |sd AS (SELECT doc_id, pos, w, stop,
           |    CAST(sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
           |      PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS sid
           |  FROM mk),
           |ph AS (SELECT doc_id, pos, w, sid FROM sd WHERE NOT stop),
           |inst AS (SELECT doc_id, sid,
           |    array_to_string(list(w ORDER BY pos), ' ') AS phrase,
           |    count(*) AS len
           |  FROM ph GROUP BY 1, 2),
           |pw AS (SELECT p.w, p.doc_id, p.sid, i.phrase, i.len
           |  FROM ph p JOIN inst i USING (doc_id, sid)),
           |stats AS (SELECT w, CAST(sum(len) AS BIGINT) AS dg,
           |    count(*) AS fq
           |  FROM pw GROUP BY 1),
           |sc AS (SELECT doc_id, sid, phrase,
           |    CAST(sum((CAST(dg AS HUGEINT) * 1000000) // fq)
           |      AS BIGINT) AS score_u
           |  FROM pw JOIN stats USING (w) GROUP BY 1, 2, 3)
           |SELECT phrase, count(*) AS n_inst,
           |  CAST(max(score_u) AS BIGINT) AS score_u,
           |  CAST(max(score_u) AS DOUBLE) / 1e6 AS score
           |FROM sc GROUP BY 1
           |ORDER BY score_u DESC, n_inst DESC, phrase LIMIT 20"""
          .stripMargin,

      // exact integer bigram-type aggregates; one mirrored double closed
      // form with the fixed D = 0.75 discount
      "q_kn_bigram" ->
        s"""WITH w AS (SELECT string_split($normSql, ' ') AS ws
           |  FROM documents),
           |bg AS (SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
           |  FROM w, unnest(range(0, len(ws) - 1)) AS t(i)
           |  WHERE length(ws[i + 1]) > 0 AND length(ws[i + 2]) > 0),
           |c AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
           |lf AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
           |    count(*) AS n1p_fw
           |  FROM c GROUP BY 1),
           |rt AS (SELECT w2, count(*) AS n1p_bw FROM c GROUP BY 1),
           |bt AS (SELECT count(*) AS bb FROM c)
           |SELECT w1, w2, c12, c1, n1p_fw, n1p_bw,
           |  floor(((c12 - 0.75e0) / c1 + 0.75e0 * n1p_fw / c1
           |    * (CAST(n1p_bw AS DOUBLE) / bb)) * 1e6 + 0.5e0) / 1e6
           |    AS p_kn
           |FROM c JOIN lf USING (w1) JOIN rt USING (w2) CROSS JOIN bt
           |ORDER BY c12 DESC, w1, w2 LIMIT 20""".stripMargin,

      // exact r ↔ r+1 self-join on the bounded count-of-counts frame;
      // r* micro-quantized by integer division (HUGEINT-safe)
      "q_good_turing" ->
        s"""WITH wc AS (SELECT w, count(*) AS r FROM (
           |    SELECT unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1),
           |coc AS (SELECT r, count(*) AS n_r FROM wc GROUP BY r),
           |lo AS (SELECT r, n_r FROM coc ORDER BY r LIMIT 12),
           |t AS (SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
           |    CAST(count(*) AS BIGINT) AS vocab FROM wc)
           |SELECT CAST(lo.r AS BIGINT) AS r,
           |  CAST(lo.n_r AS BIGINT) AS n_r,
           |  CAST(coalesce(nxt.n_r, 0) AS BIGINT) AS n_r_next,
           |  CAST(((lo.r + 1) * coalesce(nxt.n_r, 0) * 1000000)
           |    // lo.n_r AS DOUBLE) / 1e6 AS r_star,
           |  n_tokens, vocab
           |FROM lo LEFT JOIN coc nxt ON nxt.r = lo.r + 1 CROSS JOIN t
           |ORDER BY r""".stripMargin,

      // zero-count docs enter the moments analytically; N is a scalar
      "q_burstiness" ->
        s"""WITH wd AS (SELECT w, doc_id, count(*) AS c FROM (
           |    SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t
           |  WHERE length(w) > 0 GROUP BY 1, 2),
           |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
           |SELECT w, count(*) AS n_docs_present,
           |  CAST(sum(c) AS BIGINT) AS tot,
           |  round((CAST(sum(c * c) AS DOUBLE) -
           |    CAST(sum(c) AS DOUBLE) * sum(c) / any_value(n)) /
           |    sum(c), 6) AS vmr
           |FROM wd, nd GROUP BY w
           |ORDER BY tot DESC, w LIMIT 20""".stripMargin,

      // same splitmix ranking; pure-integer 80/10/10 cut compares
      "q_stratified_split" -> {
        import graft.engine.OracleHash._
        s"""WITH ${splitmixStages("documents", "doc_id, lang, n_chars",
              "doc_id::UBIGINT")},
           |h AS (SELECT doc_id, lang, n_chars,
           |    (xor(z3, z3 >> 31) >> 8) AS hq FROM p3_),
           |r AS (SELECT doc_id, lang, n_chars,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY hq, doc_id) AS rnk,
           |    count(*) OVER (PARTITION BY lang) AS nl
           |  FROM h),
           |sp AS (SELECT lang, n_chars, nl,
           |    CASE WHEN rnk * 10 <= nl * 8 THEN 'train'
           |         WHEN rnk * 10 <= nl * 9 THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM r)
           |SELECT lang, split, count(*) AS n_docs,
           |  CAST(max(nl) AS BIGINT) AS n_lang,
           |  round(avg(n_chars), 6) AS avg_chars,
           |  CAST((1000000 * count(*)) // max(nl) AS BIGINT) AS share_u
           |FROM sp GROUP BY lang, split ORDER BY lang, split""".stripMargin
      },

      // the naive quadratic twin of the prefix-filtered pair mining at
      // the base threshold; stricter settings are integer filters on
      // the micro-quantized similarity; thresholds densified
      "q_dedup_sweep" ->
        s"""WITH t AS (SELECT doc_id,
          |    list_distinct(list_transform(
          |      range(0, greatest(len(string_split($normSql, ' ')) - 4, 1)),
          |      i -> array_to_string(string_split($normSql, ' ')[i+1:i+5],
          |        ' '))) AS toks
          |  FROM documents),
          |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
          |    CAST(floor(round(
          |      CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          |      (len(a.toks) + len(b.toks)
          |       - len(list_intersect(a.toks, b.toks))), 6)
          |      * 1e6 + 0.5e0) AS BIGINT) AS jq
          |  FROM t a JOIN t b ON a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          |      (len(a.toks) + len(b.toks)
          |       - len(list_intersect(a.toks, b.toks))) >= 0.5),
          |th AS (SELECT CAST(unnest([500000, 700000, 900000]) AS BIGINT)
          |    AS thr_u),
          |f AS (SELECT thr_u, d1, d2 FROM p CROSS JOIN th
          |  WHERE jq >= thr_u),
          |ag AS (SELECT thr_u, count(*) AS n_pairs,
          |    count(DISTINCT d2) AS n_removed_bound FROM f GROUP BY 1),
          |ad AS (SELECT thr_u, count(DISTINCT doc) AS n_docs_affected
          |  FROM (SELECT thr_u, d1 AS doc FROM f
          |    UNION ALL SELECT thr_u, d2 FROM f) u GROUP BY 1),
          |nn AS (SELECT count(*) AS n FROM documents)
          |SELECT th.thr_u,
          |  CAST(coalesce(ag.n_pairs, 0) AS BIGINT) AS n_pairs,
          |  CAST(coalesce(ad.n_docs_affected, 0) AS BIGINT)
          |    AS n_docs_affected,
          |  CAST(coalesce(ag.n_removed_bound, 0) AS BIGINT)
          |    AS n_removed_bound,
          |  CAST((1000000 * (nn.n - coalesce(ag.n_removed_bound, 0)))
          |    // nn.n AS BIGINT) AS retention_u
          |FROM th LEFT JOIN ag USING (thr_u) LEFT JOIN ad USING (thr_u)
          |CROSS JOIN nn ORDER BY th.thr_u""".stripMargin,

      // same Dirichlet-prior log-odds expression; micro-quantized |z|
      // ranking with the word tiebreak
      "q_log_odds" ->
        s"""WITH tk AS (SELECT
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en, w
           |  FROM (SELECT lang,
           |      unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t WHERE length(w) > 0),
           |byw AS (SELECT w, CAST(sum(en) AS BIGINT) AS y1,
           |    CAST(sum(1 - en) AS BIGINT) AS y2 FROM tk GROUP BY 1),
           |tot AS (SELECT CAST(sum(y1) AS BIGINT) AS n1,
           |    CAST(sum(y2) AS BIGINT) AS n2, count(*) AS v FROM byw),
           |z AS (SELECT w, y1, y2,
           |    ln((CAST(y1 AS DOUBLE) + 0.01e0)
           |      / (CAST(n1 AS DOUBLE) + CAST(v AS DOUBLE) * 0.01e0
           |        - (CAST(y1 AS DOUBLE) + 0.01e0)))
           |    - ln((CAST(y2 AS DOUBLE) + 0.01e0)
           |      / (CAST(n2 AS DOUBLE) + CAST(v AS DOUBLE) * 0.01e0
           |        - (CAST(y2 AS DOUBLE) + 0.01e0))) AS delta,
           |    sqrt(1.0e0 / (CAST(y1 AS DOUBLE) + 0.01e0)
           |      + 1.0e0 / (CAST(y2 AS DOUBLE) + 0.01e0)) AS se
           |  FROM byw CROSS JOIN tot),
           |q AS (SELECT w, y1, y2, delta,
           |    CAST(floor(delta / se * 1e6 + 0.5e0) AS BIGINT) AS zq
           |  FROM z)
           |SELECT w, y1, y2, round(delta, 6) AS log_odds,
           |  CAST(zq AS DOUBLE) / 1e6 AS z
           |FROM q ORDER BY abs(zq) DESC, w LIMIT 20""".stripMargin,

      // first-appearance deciles; 10-row prefix sums; micro-quantized
      // ln-ln OLS
      "q_heaps_law" ->
        s"""WITH nn AS (SELECT count(*) AS nd FROM documents),
           |tok AS (SELECT doc_id, w FROM (SELECT doc_id,
           |      unnest(string_split($normSql, ' ')) AS w
           |    FROM documents) t WHERE length(w) > 0),
           |pd AS (SELECT least((doc_id * 10) // nd, 9) AS dec,
           |    count(*) AS toks FROM tok CROSS JOIN nn GROUP BY 1),
           |fs AS (SELECT least((fd * 10) // nd, 9) AS dec,
           |    count(*) AS newtypes FROM (
           |    SELECT w, min(doc_id) AS fd FROM tok GROUP BY 1) f
           |  CROSS JOIN nn GROUP BY 1),
           |curve AS (SELECT pd.dec,
           |    CAST(sum(pd.toks) OVER w AS BIGINT) AS n_cum,
           |    CAST(sum(coalesce(fs.newtypes, 0)) OVER w AS BIGINT)
           |      AS v_cum
           |  FROM pd LEFT JOIN fs USING (dec)
           |  WINDOW w AS (ORDER BY pd.dec ROWS BETWEEN UNBOUNDED
           |    PRECEDING AND CURRENT ROW)),
           |lq AS (SELECT dec, n_cum, v_cum,
           |    CAST(floor(ln(CAST(n_cum AS DOUBLE)) * 1e6 + 0.5e0)
           |      AS BIGINT) AS lnn,
           |    CAST(floor(ln(CAST(v_cum AS DOUBLE)) * 1e6 + 0.5e0)
           |      AS BIGINT) AS lnv
           |  FROM curve),
           |fit AS (SELECT count(*) AS np,
           |    sum(CAST(lnn AS HUGEINT)) AS sx,
           |    sum(CAST(lnv AS HUGEINT)) AS sy,
           |    sum(CAST(lnn AS HUGEINT) * lnn) AS sxx,
           |    sum(CAST(lnn AS HUGEINT) * lnv) AS sxy
           |  FROM lq),
           |est AS (SELECT
           |    CASE WHEN CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
           |      THEN round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           |        / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END
           |      AS beta,
           |    CASE WHEN CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
           |      THEN round((CAST(sy AS DOUBLE)
           |        - (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
           |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           |          / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
           |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           |          * CAST(sx AS DOUBLE)) / CAST(np AS DOUBLE) / 1e6, 6)
           |      END AS ln_k
           |  FROM fit)
           |SELECT CAST(dec AS BIGINT) AS decile, n_cum, v_cum,
           |  beta, ln_k
           |FROM lq CROSS JOIN est ORDER BY decile""".stripMargin,

      // identical deterministic contact tail; Java∩RE2-portable patterns;
      // DuckDB regexp_replace needs the explicit 'g' flag to match
      // Spark's replace-all default
      "q_pii_scrub" ->
        """WITH t AS (SELECT doc_id,
          |    text || ' contact user' || CAST(doc_id AS VARCHAR)
          |      || '@example.com or call +1-555-'
          |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
          |      || '.0.1' AS t
          |  FROM documents),
          |s AS (SELECT doc_id,
          |    CAST(len(regexp_extract_all(t,
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |      AS BIGINT) AS n_emails,
          |    CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}'))
          |      AS BIGINT) AS n_phones,
          |    CAST(len(regexp_extract_all(t,
          |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
          |      AS BIGINT) AS n_ips,
          |    regexp_replace(regexp_replace(regexp_replace(t,
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          |      '[EMAIL]', 'g'),
          |      '\+1-555-[0-9]{4}', '[PHONE]', 'g'),
          |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
          |      '[IP]', 'g') AS scrubbed
          |  FROM t)
          |SELECT doc_id, n_emails, n_phones, n_ips,
          |  CAST(len(scrubbed) AS BIGINT) AS scrub_len,
          |  md5(scrubbed) AS scrub_md5
          |FROM s ORDER BY doc_id""".stripMargin,

      // exact integer class counts; ratios from group-total integer sums
      "q_script_profile" ->
        """WITH c AS (SELECT lang,
          |    CAST(len(text) AS BIGINT) AS n,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT)
          |      AS a,
          |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
          |      AS dg,
          |    CAST(len(regexp_extract_all(text, ' ')) AS BIGINT) AS sp
          |  FROM documents),
          |g AS (SELECT lang, count(*) AS n_docs, sum(n) AS tn,
          |    sum(a) AS ta, sum(dg) AS td, sum(sp) AS ts
          |  FROM c GROUP BY 1)
          |SELECT lang, n_docs,
          |  floor(CAST(ta AS DOUBLE) / tn * 1e6 + 0.5e0) / 1e6
          |    AS alpha_ratio,
          |  floor(CAST(td AS DOUBLE) / tn * 1e6 + 0.5e0) / 1e6
          |    AS digit_ratio,
          |  floor(CAST(ts AS DOUBLE) / tn * 1e6 + 0.5e0) / 1e6
          |    AS space_ratio,
          |  floor(CAST(tn - ta - td - ts AS DOUBLE) / tn * 1e6 + 0.5e0)
          |    / 1e6 AS other_ratio
          |FROM g ORDER BY lang""".stripMargin
    )
  }
}
