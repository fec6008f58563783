package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.ParquetState

/** Text analysis operators for training-data pipelines (EXTENSION,
  * SURVEY.md §2.K q_text_*). Everything is built from codegen'd
  * functions (split/regexp/aggregate) — no UDFs, so whole-stage codegen
  * spans the full pipeline and the ops scale as plain projections.
  */
object TextAnalysis {

  /** Whitespace tokens. Caveat shared by every `\s+` split in this repo
    * and its oracles: Java's `\s` includes vertical tab (U+000B), RE2's
    * (DuckDB) does not — a document containing one would tokenize
    * differently across engines. The fixtures contain none; a corpus
    * that might should normalize control characters upstream. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** BPE-ish subword-ish token count: word pieces + punctuation as units
    * (the standard `\w+|[^\w\s]` pre-tokenizer regex). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Per-doc length/structure statistics in one projection. */
  def textStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val toks = tokens(txt)
    docs.select(
      col(idCol),
      length(txt).as("n_chars"),
      size(toks).as("n_tokens"),
      bpeishTokenCount(txt).as("n_bpeish"),
      round(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
        greatest(size(toks), lit(1)), 4).as("mean_token_len"))
  }

  /** Tiny fixed stopword profiles per language — the n-gram-free heuristic
    * language-ID: argmax of stopword-hit counts, 'und' (undetermined) when
    * nothing matches. Deterministic, SQL-expressible, extensible. */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "auf", "ein"),
  )

  /** Language-ID scores + argmax. Ties broken by profile order (en first). */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val scores = stopwordProfiles.map { case (lang, words) =>
      size(array_intersect(toks, typedLit(words))).as(s"hits_$lang")
    }
    val withScores = docs.select((col(idCol) +: scores): _*)
    // argmax via the max of (hits, -order) structs
    val ranked = array(stopwordProfiles.zipWithIndex.map { case ((lang, _), i) =>
      struct(col(s"hits_$lang").as("hits"), lit(-i).as("nego"), lit(lang).as("lang"))
    }: _*)
    withScores.withColumn("best", array_max(ranked))
      .withColumn("lang_pred",
        when(col("best.hits") > 0, col("best.lang")).otherwise("und"))
      .drop("best")
  }

  /** Quality score: a fixed linear blend of length band, punctuation ratio,
    * stopword ratio and mean word length — the usual cheap pre-filter for
    * training-corpus pruning (heuristic, deterministic). */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val toks = tokens(txt)
    val nTok = size(toks).cast("double")
    val nChar = length(txt).cast("double")
    val punct = (nChar - length(regexp_replace(txt, "[\\p{Punct}]", ""))).cast("double")
    val stop = size(array_intersect(tokens(lower(txt)),
      typedLit(stopwordProfiles.head._2))).cast("double")
    docs.select(
      col(idCol),
      round((nChar - punct * 2) / greatest(nChar, lit(1.0)), 4).as("punct_score"),
      round(least(stop / greatest(nTok, lit(1.0)) * 5, lit(1.0)), 4).as("stop_score"),
      round(least(nTok / 100.0, lit(1.0)), 4).as("len_score"))
      .withColumn("quality",
        round((col("punct_score") + col("stop_score") + col("len_score")) / 3, 4))
  }

  /** Gopher-style document-quality rule breakdown (Rae et al. 2021 §A1.1
    * — public): per document, the raw signals and a boolean per rule,
    *   - word count within [minWords, maxWords],
    *   - mean word length within [3, 10] chars,
    *   - fraction of words containing an alphabetic char >= 0.8 (the
    *     paper REMOVES docs below 80%, so the boundary doc is kept),
    * plus `pass` = all three. Unlike [[qualityScore]]'s blended scalar,
    * this keeps each rule auditable — the form used when tuning which
    * filter removes what.
    *
    * Scale: a pure projection; word chars come from one regexp_replace
    * over the text (codegen'd) rather than a per-token closure, the
    * alpha-word count is the only higher-order filter (per-token rlike;
    * a few dozen evals per row). No shuffle at any corpus size. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val txt = col(textCol)
    val toks = tokens(txt)
    val nWords = coalesce(size(toks), lit(0)).cast("long")
    // total in-token chars == all non-whitespace chars of the text
    val tokChars = coalesce(
      length(regexp_replace(txt, "\\s+", "")), lit(0)).cast("double")
    val mwl = when(nWords > 0, round(tokChars / nWords, 6)).otherwise(0.0)
    val alphaWords = coalesce(
      size(filter(toks, w => w.rlike("[A-Za-z]"))), lit(0)).cast("double")
    val alphaFrac =
      when(nWords > 0, round(alphaWords / nWords, 6)).otherwise(0.0)
    docs.select(col(idCol), nWords.as("n_words"), mwl.as("mean_word_len"),
        alphaFrac.as("alpha_frac"))
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mwl",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("ok_alpha", col("alpha_frac") >= 0.8)
      .withColumn("pass", col("ok_words") && col("ok_mwl") && col("ok_alpha"))
  }

  /** Repetition scoring (the Gopher-style repetitious-text filters, Rae et
    * al. 2021 §A1.1 — public): per document,
    *   - dup_word_frac    = 1 − distinct words / words,
    *   - top_bigram_frac  = occurrences of the most frequent bigram / bigrams,
    *   - dup_bigram_frac  = occurrences of bigrams appearing >1 time / bigrams.
    * Docs with fewer than two words have no bigrams and drop out (as in the
    * SQL formulation).
    *
    * Scale: one explode keyed on (doc_id, bigram), then per-doc partial
    * aggs — no driver state, no windows. */
  def repetitionScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = split(lower(col(textCol)), "\\s+")
    val wstats = docs.select(col(idCol).as("doc_id"),
      size(w).as("n_words"), size(array_distinct(w)).as("n_distinct"))
    val bg = Parallelism.widen(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.ShingleUtil.shingleAllCol(col(textCol), 2)).as("b"))
    val bgc = bg.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val bstats = bgc.groupBy("doc_id").agg(
      sum("c").as("n_bg"), max("c").as("top_c"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
    wstats.join(bstats, "doc_id").select(
      col("doc_id"),
      round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 6)
        .as("dup_word_frac"),
      round(col("top_c").cast("double") / col("n_bg"), 6).as("top_bigram_frac"),
      round(col("dup_c").cast("double") / col("n_bg"), 6).as("dup_bigram_frac"))
  }

  /** PII patterns for corpus scrubbing — deliberately restricted to the
    * regex subset Java and RE2 agree on (no lookaround), so the scrub is
    * reproducible across engines. Order matters: email first (an email
    * contains dot-runs an IP pattern could nibble at). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"))

  /** Replace every PII match with its placeholder token (map-only). */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, re, repl)) =>
      regexp_replace(t, re, repl)
    }

  /** Per-kind PII match counts, one column per pattern. */
  def piiCounts(text: Column): Seq[Column] =
    piiPatterns.map { case (name, re, _) =>
      size(regexp_extract_all(text, lit(re), lit(0))).as(s"n_$name")
    }

  /** Document fingerprint: md5 of the normalized text (case/whitespace/
    * punctuation-insensitive) — the exact-after-normalization dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** TF-IDF top terms per document: explode tokens, per-doc term counts,
    * corpus document frequencies, score = (tf/len)·ln(N/df), top-k by
    * (score, term) per doc. Two keyed shuffles (doc terms, corpus df) and
    * a window — no driver-side vocabulary. */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // widen (r12, [[Parallelism.widen]], also on the other tokenize
    // sites below): per-token explode+hash dwarfs the scan bytes, and a
    // single-row-group corpus file pins the parse to one task
    val toks = Parallelism.widen(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val len = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(len, "doc_id").join(df, "term")
      .crossJoin(broadcast(corpusSize(docs)))
      .withColumn("tfidf",
        round(col("tf") / col("len") * log(col("_n") / col("df")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("doc_id", "term", "tfidf", "rk")
  }

  /** Sparse TF-IDF cosine near-dup pairs — the LEXICAL complement of the
    * dense embedding dedup ([[Similarity]]): docs are tf-idf vectors over
    * terms with df ≤ `maxTermDf` (hot terms carry ~zero idf weight AND
    * would make the inverted self-join quadratic — dropping them from the
    * vectors entirely keeps semantics self-consistent: dot products and
    * norms use the same vocabulary), pairs discovered by the inverted
    * self-join on shared terms (df ≥ 2 implicitly), cosine =
    * dot / (norm_a · norm_b).
    *
    * Scale shape: one token shuffle into tf, df and norms are aggregates
    * OF tf, the pair shuffle is keyed on (id_a, id_b) over rare-term
    * buckets bounded by maxTermDf² per term — the
    * [[Dedup.ngramJaccardPairsFrom]] discipline with weights. Weight =
    * (tf/len)·ln(N/df) ([[tfIdfTopTerms]]'s formula): the ln makes every
    * score irrational, so a 6-dp round replays across engines without a
    * decimal bridge. */
  def tfIdfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxTermDf: Long = 1000L): DataFrame = {
    val toks = Parallelism.widen(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val len = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTermDf)
    // the weight frame is consumed FOUR times (both self-join sides +
    // two norm joins) — persist it once (the bigramLogProb shared-stage
    // discipline) so the tokenize→tf→df→N subtree runs once, not four
    // times, and the plan keeps exactly one one-row N broadcast
    val w = tf.join(dft, Seq("term")).join(len, Seq("doc_id"))
      .crossJoin(broadcast(corpusSize(docs)))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") / col("len") *
          log(col("_n") / col("df"))).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val a = w.select(col("term"), col("doc_id").as("id_a"), col("w").as("wa"))
    val b = w.select(col("term"), col("doc_id").as("id_b"), col("w").as("wb"))
    val dot = a.join(b, Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dot
      .join(norms.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("norm", "na"), Seq("id_a"))
      .join(norms.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("norm", "nb"), Seq("id_b"))
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Vocabulary drift between two corpus snapshots — the text twin of
    * [[Similarity.embeddingDrift]]: per-term occurrence counts and
    * relative-frequency shift for the `topK` highest-combined-count
    * terms (ties by term ascending — deterministic). A changed source
    * mix, a new boilerplate pattern, or a tokenization regression shows
    * up as frequency shift on head terms; a term present in only one
    * snapshot surfaces with a zero count on the other side.
    *
    * Scale shape: one tokenize + keyed count per side (the only
    * corpus-sized shuffles), totals as broadcast one-row frames, a
    * vocab-sized full-outer join, and TakeOrdered for the top-k — the
    * corpus never re-shuffles. Frequencies are exact rationals
    * (count/total of the SAME integers in both engines), rounded at
    * 6 dp. */
  /** Zipf-law fit over the head of the term-frequency distribution —
    * the corpus-shape diagnostic (a healthy natural-language corpus has
    * ln(freq) ≈ intercept − s·ln(rank) with s ≈ 1; heavy boilerplate or
    * duplication bends the head, template spam flattens it). OLS on the
    * top `topN` (ln rank, ln freq) points.
    *
    * Scale shape: ONE tokenize + keyed count scan (map-side combined);
    * the head cut is a TakeOrdered (per-task heap, never a vocab sort);
    * ranks and the regression run over topN rows. The four regression
    * sums go through per-term DECIMAL(38,18) casts so they are
    * accumulation-order-independent; slope/intercept finish in doubles
    * with one fixed expression shape.
    *
    * @return one row: (n_terms, slope, intercept) — unrounded */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"zipfFit needs topN >= 2, got $topN")
    val counts = Parallelism.widen(docs, col(textCol))
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(topN) // TakeOrdered: a topN-row frame
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term")) // topN rows — bounded
    val pts = counts
      .withColumn("x", log(row_number().over(w).cast("double")))
      .withColumn("y", log(col("cnt").cast("double")))
    val dec = (c: Column) => c.cast("decimal(38,18)")
    val s = pts.agg(
      count(lit(1)).as("n_terms"),
      sum(dec(col("x"))).cast("double").as("sx"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum(dec(col("x") * col("y"))).cast("double").as("sxy"),
      sum(dec(col("x") * col("x"))).cast("double").as("sxx"))
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
      (col("n_terms") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n_terms"), slope.as("slope"),
      ((col("sy") - slope * col("sx")) / col("n_terms")).as("intercept"))
  }

  def vocabDrift(oldDocs: DataFrame, newDocs: DataFrame, textCol: String,
      topK: Int = 50): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    def counts(df: DataFrame, cCol: String) = Parallelism.widen(df, col(textCol))
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as(cCol))
    val o = counts(oldDocs, "c_old")
    val n = counts(newDocs, "c_new")
    val totals = o.agg(coalesce(sum("c_old"), lit(0L)).as("_to"))
      .crossJoin(n.agg(coalesce(sum("c_new"), lit(0L)).as("_tn")))
    o.join(n, Seq("term"), "full_outer")
      .na.fill(0L, Seq("c_old", "c_new"))
      .crossJoin(broadcast(totals))
      .select(col("term"), col("c_old"), col("c_new"),
        round(col("c_new").cast("double") / col("_tn")
          - col("c_old").cast("double") / col("_to"), 6).as("freq_shift"))
      .orderBy((col("c_old") + col("c_new")).desc, col("term"))
      .limit(topK)
  }

  /** HTML entities decoded by [[stripHtml]], applied via literal
    * `replace` (no regex): `&amp;` LAST so double-encoded text
    * (`&amp;lt;`) decodes one level per pass, the standard behavior. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** HTML → text extraction for web-corpus prep (the first stage of any
    * crawl-derived training pipeline): drop `<script>`/`<style>` blocks
    * wholesale (their payload is code, not prose), then comments, then
    * every remaining tag; decode the common entities; collapse runs of
    * whitespace to one space and trim. Regexes stay in the Java∩RE2
    * subset (inline `(?is)` flags, lazy quantifiers, no lookaround) so
    * an external engine replays the exact pipeline. Pure codegen'd
    * projection — map-only at any corpus size. Null html → null. */
  def stripHtml(html: Column): Column = {
    val noBlocks = Seq(
      "(?is)<script[^>]*>.*?</script>",
      "(?is)<style[^>]*>.*?</style>",
      "(?s)<!--.*?-->",
      "(?s)<[^>]+>").foldLeft(html)((c, re) => regexp_replace(c, re, " "))
    val decoded = htmlEntities.foldLeft(noBlocks) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Line-level boilerplate removal (the RefinedWeb / CCNet shape): a
    * LINE is boilerplate when its exact content appears in at least
    * `minDocs` distinct documents (cookie banners, copyright footers,
    * nav text — the cross-doc repeated furniture of a crawl). Each doc's
    * text is rewritten with those lines removed, remaining lines in
    * original order. Distinct from [[graft.operators.Dedup.stripDuplicatedSpans]]:
    * spans cut repeated token WINDOWS anywhere in the text; this drops
    * whole structural lines by corpus-wide document frequency.
    *
    * Returns (idCol, clean_text, n_kept, n_dropped). Null text is
    * treated as "" (one empty line) so every doc gets a rewrite row.
    * EMPTY lines are never boilerplate: they are paragraph separators,
    * and on any real corpus ≥ minDocs docs contain one — counting them
    * in the document-frequency agg would silently flatten every doc's
    * paragraph structure corpus-wide.
    *
    * Scale (100 TB): lines shuffle ONCE keyed by md5(line) — 16-byte
    * keys, not line bodies — for the distinct-doc-frequency agg; the
    * hot-line set is usually tiny (it IS the boilerplate), but "usually"
    * is not a plan: the set is localCheckpoint'ed (one execution, gate
    * reads only its count) and the flagging join broadcasts ONLY while
    * the estimated build side fits `broadcastBudgetBytes`, falling back
    * to a shuffled join past it — a crawl where half the web shares
    * ≥ minDocs lines degrades to one extra shuffle instead of an
    * executor OOM (the [[Similarity.nearDupPairsAuto]] gate discipline).
    * Reassembly is one groupBy(doc) with a per-doc collect_list +
    * array_sort — bounded by the doc's own size, never a window over
    * the corpus. */
  def stripBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long, broadcastBudgetBytes: Long = 64L << 20): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val id = col(idCol)
    val lines = docs.select(id,
      posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("idx", "line")))
    val hot = lines
      .filter(col("line") =!= "")
      .groupBy(md5(col("line")).as("lh"))
      .agg(countDistinct(id).as("df"))
      .filter(col("df") >= minDocs)
      .select("lh")
      // eager: the hot agg runs exactly once (count gate + join probe
      // both read the checkpointed blocks, not a recomputed lineage)
      .localCheckpoint()
    // 32-hex-char key + UnsafeRow/HashedRelation overhead ≈ 64 B/row.
    // Past budget the shuffle_hash hint is explicit — checkpoint stats
    // could otherwise still tempt the optimizer into the broadcast this
    // gate exists to forbid (and SMJ would re-sort the corpus lines)
    val hotFlag = hot.withColumn("__hot", lit(true))
    val build =
      if (hot.count() * 64L <= broadcastBudgetBytes) broadcast(hotFlag)
      else hotFlag.hint("shuffle_hash")
    lines.join(build, md5(col("line")) === col("lh"), "left")
      .groupBy(id)
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__hot").isNull,
            struct(col("idx"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"),
        count(when(col("__hot").isNull, 1)).as("n_kept"),
        count(col("__hot")).as("n_dropped"))
  }

  /** Corpus bigram language-model scoring (the CCNet/KenLM-style quality
    * signal, n-gram flavored): fit a bigram model ON the corpus itself
    * (`c(w1,w2)` / left-context totals, add-one smoothed over the corpus
    * vocabulary) and score every document with its mean bigram
    * log-probability — low-probability documents read as gibberish /
    * boilerplate / wrong-language relative to the corpus.
    *
    * Returns (idCol, n_bigrams, avg_logp) — `avg_logp` is
    * `Σ c·ln((c_bi+1)/(c_w1+V)) / Σ c` over the doc's bigram multiset,
    * null for docs with < 2 tokens.
    *
    * Scale (100 TB): the doc-side bigram multiset aggregates to
    * (doc, w1, w2, count) BEFORE any join, so each doc contributes at
    * most its distinct-bigram count to the model joins; the model and
    * left-context tables are corpus-wide keyed aggregations (never
    * broadcast — they grow with the corpus) and the scoring joins are
    * plain keyed shuffles on (w1,w2)/(w1). Stopword-pair keys are the
    * hot-key risk; they are bounded per doc by the pre-aggregation, and
    * a skewed corpus can reuse [[SkewJoin]]'s salting on the w1 join.
    * The shared bigram stage is persisted — it feeds the model, the
    * left-context totals, and the scoring pass (three consumers, one
    * materialization; the [[graft.operators.Dedup]] shared-shingle
    * discipline). Vocabulary size rides along as a one-row broadcast
    * cross join, not a driver scalar.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val docBi = docBigrams(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = docBi.groupBy("w1", "w2").agg(sum("c").as("c_bi"))
    val leftTotals = model.groupBy("w1").agg(sum("c_bi").as("c_w1"))
    val scored = docBi
      .join(model, Seq("w1", "w2"))
      .join(leftTotals, Seq("w1"))
      .crossJoin(broadcast(vocabSize(docs, textCol)))
      .groupBy(id)
      .agg(sum(col("c")).as("n_bigrams"),
        (sum(col("c") * log((col("c_bi") + lit(1.0)) /
          (col("c_w1") + col("v")).cast("double"))) /
          sum(col("c"))).as("_lp"))
    docs.select(id).join(scored, Seq(idCol), "left")
      .select(id, coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("_lp"), 6).as("avg_logp"))
  }

  /** The per-doc bigram multiset, pre-aggregated to (id, w1, w2, c) so a
    * doc contributes at most its DISTINCT-bigram count to any downstream
    * join. */
  private def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val toks = tokens(lower(col(textCol)))
    // widen the bigram parse (r12, [[Parallelism.widen]]) — same
    // single-row-group-scan starvation as ClassifierTrain's bag stage
    Parallelism.widen(docs, id)
      .select(id, toks.as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(id, explode(transform(sequence(lit(1), size(col("_w")) - 1),
        i => struct(element_at(col("_w"), i).as("w1"),
          element_at(col("_w"), i + 1).as("w2")))).as("bg"))
      .select(id, col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(id, col("w1"), col("w2")).agg(count(lit(1)).as("c"))
  }

  /** One-row distinct-token count (the smoothing denominator), kept as a
    * frame so it rides the plan as a broadcast cross join instead of a
    * driver scalar. */
  private def vocabSize(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(lower(col(textCol)))).as("w"))
      .agg(countDistinct(col("w")).as("v"))

  /** One-row corpus size N for the idf numerator — same discipline as
    * [[vocabSize]]: a broadcast one-row frame instead of an eager
    * `docs.count()`, so composing a tf-idf operator into a multi-op
    * pipeline adds no extra corpus scan at plan-build time. Consumers
    * attach it with crossJoin(broadcast(..)) — a one-row-build
    * BroadcastNestedLoopJoin, the intended shape (a constant-key equi
    * join folds back to the same plan under ConstantPropagation).
    * DOUBLE because every consumer divides it. */
  private def corpusSize(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).cast("double").as("_n"))

  /** Incremental form of [[bigramLogProb]] (the
    * [[graft.operators.Dedup.dedupAgainstCorpus]] discipline applied to
    * LM scoring): fit the bigram model on an EXISTING corpus, score NEW
    * probe docs against it — the fresh-crawl-vs-trusted-corpus quality
    * gate. Unseen mass backs off explicitly: a known-w1/unseen-pair
    * bigram scores ln(1/(c_w1+V)), an unknown-w1 bigram ln(1/V) — one
    * formula via coalesce, so the joins stay plain left equi-joins.
    * The corpus side is scanned for the model only; probe×probe and
    * corpus×corpus never meet. */
  def bigramLogProbAgainst(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val corpusBi = docBigrams(corpus, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = corpusBi.groupBy("w1", "w2").agg(sum("c").as("c_bi"))
    val leftTotals = model.groupBy("w1").agg(sum("c_bi").as("c_w1"))
    val scored = docBigrams(probes, idCol, textCol)
      .join(model, Seq("w1", "w2"), "left")
      .join(leftTotals, Seq("w1"), "left")
      .crossJoin(broadcast(vocabSize(corpus, textCol)))
      .groupBy(id)
      .agg(sum(col("c")).as("n_bigrams"),
        sum(when(col("c_bi").isNull, col("c")).otherwise(0L)).as("n_unseen"),
        (sum(col("c") * log((coalesce(col("c_bi"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c_w1"), lit(0L)) + col("v")).cast("double"))) /
          sum(col("c"))).as("_lp"))
    probes.select(id).join(scored, Seq(idCol), "left")
      .select(id, coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        round(col("_lp"), 6).as("avg_logp"))
  }

  /** BM25 keyword retrieval (Okapi BM25 with the "+1" idf that keeps
    * scores positive): score every document against each probe term and
    * keep the top `topK` per term. The probe terms are derived from the
    * corpus itself — the `nTerms` highest-document-frequency terms of
    * length ≥ `minTermLen` (df desc, term asc ties) — so the operator is
    * self-contained and deterministic on any fixture. This is the exact
    * lexical complement to the ANN family ([[Similarity]]): hybrid
    * retrieval runs both and fuses.
    *
    * Shape: tokens shuffle ONCE into the (doc, term) tf agg; document
    * length comes from the same tf frame (second, much smaller keyed
    * agg); df and the probe-term pick are aggregates OF the tf frame
    * (tiny); probe terms then broadcast back onto tf, so the
    * corpus-sized side never shuffles again; avgdl/N ride a broadcast
    * one-row frame. Top-k per term is the bounded-heap
    * [[graft.functions.TopKAgg]] — ≤ k rows per term per mapper cross
    * the wire, never a per-term sort of every matching document.
    *
    * Determinism: idf = ln(1 + (N − df + ½)/(df + ½)) is irrational on
    * integer inputs, so the 6-dp round is immune to cross-engine
    * half-point splits (BASELINE.md, rational-rounds audit); the tf/dl
    * factor is computed in doubles with one fixed expression shape.
    */
  def bm25TopDocs(docs: DataFrame, idCol: String, textCol: String,
      nTerms: Int = 3, minTermLen: Int = 6, k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 10): DataFrame =
    bm25TopDocsFromTf(docTermFreq(docs, idCol, textCol),
      nTerms, minTermLen, k1, b, topK)

  /** The (doc_id, term, tf) frame every lexical ranker starts from — the
    * ONE corpus-sized tokenize + shuffle. Exposed as a seam (r13, r12
    * VERDICT item 5) so composite pipelines (searchEval's lex ranker +
    * its fusion's internal BM25) tokenize the corpus ONCE and share the
    * frame instead of re-deriving it per ranker. */
  private[operators] def docTermFreq(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Parallelism.widen(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** [[bm25TopDocs]] from a pre-built [[docTermFreq]] frame — identical
    * math and output; callers that run several rankers over one corpus
    * pass the same tf frame so its tokenize subtree plans (and reuses)
    * once. */
  private[operators] def bm25TopDocsFromTf(tf: DataFrame,
      nTerms: Int, minTermLen: Int, k1: Double,
      b: Double, topK: Int): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus constants from the docs that HAVE tokens (empty docs can't
    // match any term; excluding them keeps N/avgdl self-consistent)
    val consts = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val probes = dft.filter(length(col("term")) >= minTermLen)
      .orderBy(col("df").desc, col("term"))
      .limit(nTerms) // TakeOrdered: an nTerms-row frame, broadcast below
    val scored = tf
      .join(broadcast(probes), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(consts))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("score",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
              (col("n_docs").cast("double") / col("sum_dl").cast("double")))))
    scored.groupBy("term")
      .agg(graft.functions.SketchAggregates.topKAgg(
        col("score"), col("doc_id"), topK).as("top"))
      .select(col("term"), posexplode(col("top")))
      .select(col("term"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("doc_id"), round(col("col.score"), 6).as("score"))
  }

  private final val TextIndexMetaFile = "_text_index_meta.json"

  /** Persisted inverted index for BM25 probing — the LEXICAL member of
    * the materialized-index family (buildLshIndex / buildIvfIndex /
    * buildPqIndex discipline): pay the corpus tokenization + tf shuffle
    * ONCE at build, then every query is a partition-pruned point lookup.
    *
    * Layout under `path`:
    *   postings/bucket=<b>/  (doc_id, term, tf, dl) — dl DENORMALIZED
    *     into the posting so probes never join the doc-length table
    *   terms/                (term, df, bucket) — vocab-sized
    *   consts/               one row (n_docs, sum_dl)
    *   _text_index_meta.json nBuckets + tokenizer tag, validated at
    *     probe time (a probe hashing terms with a different bucket count
    *     would silently read the wrong partitions — the meta turns that
    *     into an error, the LshMeta discipline)
    *
    * Buckets cluster before the dynamic-partition write (one task per
    * bucket dir, no committer churn). At 100 TB the postings table is
    * corpus-sized but each probe reads only the probed terms' buckets —
    * the PartitionFilters pruning PlanQualitySpec asserts. */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val toks = Parallelism.widen(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
    tf.join(dl, Seq("doc_id"))
      .withColumn("bucket", bucket)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/postings")
    tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("bucket", bucket)
      .write.mode("overwrite").parquet(s"$path/terms")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/consts")
    val p = new org.apache.hadoop.fs.Path(path, TextIndexMetaFile)
    val fs = p.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(s"""{"nBuckets": $nBuckets, "tokenizer": "ws-lower"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Read + validate the `_text_index_meta.json` of a [[buildTextIndex]]
    * layout (shared by probe and refresh — both must fail loudly on a
    * foreign tokenizer or a non-index path). */
  private def readTextIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val metaPath = new org.apache.hadoop.fs.Path(path, TextIndexMetaFile)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish a compaction swap a crash interrupted (see compactTextIndex)
    Similarity.recoverDirSwap(fs, path)
    require(fs.exists(metaPath), s"no $TextIndexMetaFile under $path — not a text index")
    val metaJson = {
      val in = fs.open(metaPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    require(metaJson.contains("\"tokenizer\": \"ws-lower\""),
      s"text index at $path was built with a different tokenizer: $metaJson")
    metaJson
  }

  /** Incremental maintenance for a [[buildTextIndex]] layout — the
    * [[Dedup.dedupAgainstCorpus]] discipline applied to the index family:
    * fold `newDocs` in WITHOUT touching the existing corpus's postings.
    * Cost is proportional to the NEW docs (their tokenization + tf
    * shuffle) plus the vocab-sized terms merge — never a rebuild's
    * full-corpus scan; at 100 TB an append-heavy corpus refreshes at the
    * marginal cost of its appends. Postings files land only in the new
    * terms' bucket partitions (append), the (term, df) table merges via
    * one vocab-sized full-outer join, and consts advance by the new
    * docs' deltas. The result is bit-identical to rebuilding over
    * old ∪ new (spec-pinned: refresh ≡ rebuild).
    *
    * Precondition: `newDocs` ids must be DISJOINT from the indexed docs —
    * re-ingesting an already-indexed doc would double its postings.
    * `checkDisjoint = true` verifies (one postings-scan anti-join — the
    * honest check, priced like a rebuild's scan, so off by default;
    * callers with an append-only id discipline skip it).
    *
    * Atomicity: the three sub-writes (postings append, terms overwrite,
    * consts overwrite) are not transactional — a refresh that dies
    * between them leaves the index stale-but-detectable (postings ahead
    * of consts); re-run the refresh only after a rebuild, or wrap the
    * path swap in the caller's own staging discipline. */
  def refreshTextIndex(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, checkDisjoint: Boolean = false): Unit = {
    val spark = newDocs.sparkSession
    val metaJson = readTextIndexMeta(spark, path)
    val nBuckets = """"nBuckets":\s*(\d+)""".r.findFirstMatchIn(metaJson)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"text index meta at $path has no nBuckets: $metaJson"))
    if (checkDisjoint) {
      val overlap = ParquetState.read(spark, s"$path/postings")
        .select(col("doc_id")).distinct()
        .join(newDocs.select(col(idCol).as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi").count()
      require(overlap == 0,
        s"$overlap of the new doc ids are already indexed at $path — " +
          "refresh requires disjoint ids (rebuild instead)")
    }
    val toks = newDocs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
    // shared stage: tf feeds the postings write, the df merge AND (via
    // dl) the consts delta — persist once, not three tokenizations
    tf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tf.join(dl, Seq("doc_id"))
        .withColumn("bucket", bucket)
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
      // vocab-sized merge; localCheckpoint materializes BEFORE the
      // overwrite deletes the directory being read
      val merged = ParquetState.read(spark, s"$path/terms")
        .select(col("term"), col("df"))
        .join(tf.groupBy("term").agg(count(lit(1)).as("df_new")),
          Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("df_new"), lit(0L)))
            .as("df"))
        .withColumn("bucket", bucket)
        .localCheckpoint()
      merged.write.mode("overwrite").parquet(s"$path/terms")
      val delta = dl.agg(count(lit(1)).as("dn"),
        coalesce(sum(col("dl")), lit(0L)).as("ds")).head()
      val old = ParquetState.read(spark, s"$path/consts").head()
      import spark.implicits._
      Seq((old.getLong(0) + delta.getLong(0), old.getLong(1) + delta.getLong(1)))
        .toDF("n_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/consts")
    } finally tf.unpersist()
  }

  /** Mark documents DELETED in a [[buildTextIndex]] layout — the Lucene
    * tombstone discipline: postings are term-major, so physically
    * removing one document's rows would cost a full postings scan; a
    * delete instead appends the ids to `path/tombstones` (O(ids)), and
    * probes anti-join them out. Between a delete and the next
    * [[compactTextIndex]], probe VISIBILITY is exact (a deleted doc is
    * never returned) but the scoring statistics (N, df, avgdl) still
    * include the deleted docs — the standard stale-stats window every
    * tombstone index accepts; compaction restores exact stats. */
  def deleteFromTextIndex(docIds: DataFrame, idCol: String,
      path: String): Unit = {
    readTextIndexMeta(docIds.sparkSession, path)
    docIds.select(col(idCol).as("doc_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** Fold tombstones in and rewrite the index — the merge half of the
    * tombstone discipline. Everything rebuilds from the POSTINGS
    * themselves (they carry doc_id, term, tf, dl — the whole model), so
    * compaction costs one postings scan + the usual aggregates, never a
    * corpus re-tokenization; after it the index is BIT-IDENTICAL to one
    * built over the surviving documents (spec-pinned), and the
    * tombstone set is cleared. The whole rewritten index (postings,
    * terms, consts, meta) is staged under `${path}_compacting` and
    * swapped in by [[Similarity.atomicDirSwap]] — the live index is
    * never rewritten in place, and a crash anywhere is replayed by
    * [[Similarity.recoverDirSwap]] at the next lifecycle entry. */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    readTextIndexMeta(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = s"${path}_compacting"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true) // a crashed run's leftovers
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val postings = ParquetState.read(spark, s"$path/postings")
    val surviving =
      if (!fs.exists(tombPath)) postings
      else postings.join(ParquetState.read(spark, s"$path/tombstones"),
        Seq("doc_id"), "left_anti")
    // bucket is read back as a partition column — reuse it verbatim
    surviving.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$staging/postings")
    val compacted = ParquetState.read(spark, s"$staging/postings")
    // terms/consts recompute from the COMPACTED copy (no self-reference)
    val bucket = col("bucket")
    compacted.groupBy("term")
      .agg(count(lit(1)).as("df"), first(bucket).as("bucket"))
      .write.mode("overwrite").parquet(s"$staging/terms")
    compacted.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/consts")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(path, TextIndexMetaFile), fs,
      new org.apache.hadoop.fs.Path(staging, TextIndexMetaFile),
      false, spark.sparkContext.hadoopConfiguration)
    // the staged copy carries no tombstones: the swap clears them
    Similarity.atomicDirSwap(fs, path, staging, "compactTextIndex")
  }

  /** BM25 probe against a [[buildTextIndex]] layout: probe terms are the
    * `nTerms` highest-df vocab terms of length ≥ `minTermLen` (the
    * [[bm25TopDocs]] derivation — a vocab-table TakeOrdered, never a
    * corpus scan), their (term, df, bucket) rows come to the driver
    * (nTerms-sized), and the postings scan reads ONLY the probed
    * buckets' partitions. Scores and output shape are identical to
    * [[bm25TopDocs]] on the same corpus. Tombstoned docs
    * ([[deleteFromTextIndex]]) are anti-joined out — exact visibility,
    * stats stale until [[compactTextIndex]]. */
  def bm25TopDocsIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, nTerms: Int = 3, minTermLen: Int = 6, k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 10): DataFrame = {
    readTextIndexMeta(spark, path)

    val probes = ParquetState.read(spark, s"$path/terms")
      .filter(length(col("term")) >= minTermLen)
      .orderBy(col("df").desc, col("term"))
      .limit(nTerms)
      .collect() // nTerms rows — driver-sized by construction
    val buckets = probes.map(_.getAs[Int]("bucket")).distinct.toSeq
    val probeDf = spark.createDataFrame(
      java.util.Arrays.asList(probes.toSeq.map(r =>
        org.apache.spark.sql.Row(r.getAs[String]("term"), r.getAs[Long]("df"))): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("df",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val rawPostings = ParquetState.read(spark, s"$path/postings")
      .filter(col("bucket").isin(buckets: _*))
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val tombFs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val postings =
      if (!tombFs.exists(tombPath)) rawPostings
      else rawPostings.join(ParquetState.read(spark, s"$path/tombstones"),
        Seq("doc_id"), "left_anti")
    val consts = ParquetState.read(spark, s"$path/consts")
    val scored = postings
      .join(broadcast(probeDf), Seq("term"))
      .crossJoin(broadcast(consts))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("score",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
              (col("n_docs").cast("double") / col("sum_dl").cast("double")))))
    scored.groupBy("term")
      .agg(graft.functions.SketchAggregates.topKAgg(
        col("score"), col("doc_id"), topK).as("top"))
      .select(col("term"), posexplode(col("top")))
      .select(col("term"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("doc_id"), round(col("col.score"), 6).as("score"))
  }

  /** Rolling-hash (Rabin–Karp base-31 mod 2^61-1) fingerprint over tokens —
    * order-sensitive unlike md5-of-sorted; expressed as an aggregate fold,
    * still codegen'd. */
  def rollingHash(text: Column): Column = {
    // modulus < 2^63/31 so acc*31 + term never overflows a long (ANSI-safe)
    val M = lit(288230376151711717L)
    aggregate(tokens(lower(text)),
      lit(0L),
      (acc, t) => pmod(acc * 31 + pmod(xxhash64(t), M), M))
  }
}
