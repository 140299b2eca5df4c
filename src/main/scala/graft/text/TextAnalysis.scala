package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality / language-ID / token-count operators (north-star
  * training-data surface). All pure Column expressions — codegen'd,
  * no UDFs, fully pushdown-friendly.
  */
object TextAnalysis {

  import graft.functions.TextHashExpressions

  /** Whitespace token count (engine-portable: equals the SQL oracle's
    * `1 + len - len(replace(t, ' ', ''))` for non-empty text — the
    * codegen'd char count avoids the replaced-copy allocation). */
  def tokenCountWhitespace(text: Column): Column =
    when(length(text) === 0, 0L)
      .otherwise(TextHashExpressions.charClassCount(text, " ") + lit(1))
      .cast("long")

  /** BPE-ish subword count heuristic: words plus extra tokens for every
    * 4 chars beyond the first 4 of each word (public rule of thumb:
    * ~4 chars/token). ceil(len/4) summed over words, as ONE codegen'd
    * pass (value-identical to the aggregate() over split — see
    * TextHash.bpeIshCount). */
  def tokenCountBpeIsh(text: Column): Column =
    TextHashExpressions.bpeIshCount(text)

  /** Character classes for quality scoring (codegen'd ASCII byte
    * scans; each equals `len - len(regexp_replace(t, class, ''))`). */
  def punctCount(text: Column): Column =
    TextHashExpressions.charClassCount(text, ".,;:!?")
  def digitCount(text: Column): Column =
    TextHashExpressions.charClassCount(text, "0123456789")

  /** Heuristic quality score in [0,1]: penalize extreme length, high
    * punct/digit density, low word diversity. Weights are fixed
    * constants; the score is a deterministic arithmetic expression. */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val toks = tokenCountWhitespace(text).cast("double")
    val avgWord = when(toks > 0, len / toks).otherwise(lit(0.0))
    val punctR = when(len > 0, punctCount(text).cast("double") / len).otherwise(lit(0.0))
    val digitR = when(len > 0, digitCount(text).cast("double") / len).otherwise(lit(0.0))
    val lenScore = when(len >= 50 && len <= 10000, lit(1.0))
      .when(len < 50, len / 50.0)
      .otherwise(lit(10000.0) / len)
    val wordScore = when(avgWord >= 3.0 && avgWord <= 12.0, lit(1.0)).otherwise(lit(0.5))
    lenScore * wordScore * (lit(1.0) - punctR) * (lit(1.0) - digitR)
  }

  /** Stopword lists for the n-gram/stopword language-ID heuristic —
    * small public function-word sets per language. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " to ", " in "),
    "de" -> Seq(" der ", " und ", " die ", " das ", " ist "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des "),
    "es" -> Seq(" el ", " los ", " las ", " una ", " y "),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Count occurrences of a literal substring — codegen'd scan,
    * value-identical to the portable length-difference-after-replace
    * form the SQL oracles use (non-overlapping left-to-right). */
  def substrCount(text: Column, sub: String): Column =
    TextHashExpressions.substringCount(text, sub)

  /** Language-ID by stopword vote: score each language by summed
    * stopword occurrences in the padded text; argmax with
    * deterministic (alphabetical) tie-break; 'und' (undetermined) when
    * all scores are zero. */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val score = words.map(w => substrCount(padded, w)).reduce(_ + _)
      struct(score.as("score"), lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs orders by score then lang —
    // but we need ties to pick the ALPHABETICALLY FIRST lang, so order
    // by (score, negated-rank) instead: precompute rank by index.
    val ranked = scored.zipWithIndex.map { case (s, i) =>
      struct(s.getField("score").as("score"), lit(-i).as("nrank"), s.getField("lang").as("lang"))
    }
    val best = array_max(array(ranked: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Gopher-style repetition signal (public quality-filter heuristic,
    * Rae et al. 2021 appendix A1.1): the fraction of word n-gram
    * windows that are duplicates of an earlier window — high values
    * flag boilerplate/spam. n=1 gives 1 − type/token ratio. 0.0 when
    * the text has no full window. */
  def duplicateNgramFraction(text: Column, n: Int): Column = {
    val words = split(text, " ")
    val total = greatest(size(words) - (n - 1), lit(0))
    val distinctN = size(Dedup.wordShingles(text, n))
    when(total > 0,
      lit(1.0) - distinctN.cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Duplicate-line fraction (same family): 1 − distinct/total lines. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = split(text, "\n")
    when(size(lines) > 0,
      lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Stopword fraction (Gopher rule: require a minimum number of
    * common function words): summed stopword occurrences over the
    * word count. Uses the codegen'd substring counter. */
  def stopwordFraction(text: Column, lang: String = "en"): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val hits = stopwords(lang).map(w => substrCount(padded, w)).reduce(_ + _)
    val toks = tokenCountWhitespace(text)
    when(toks > 0, hits.cast("double") / toks.cast("double")).otherwise(lit(0.0))
  }

  /** PII-ish pattern counts (curation/redaction gating): emails and
    * URLs per document. The patterns are deliberately simple enough to
    * behave identically in Java regex and RE2-style engines. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^ ]+"
  def emailCount(text: Column): Column = regexp_count(text, lit(emailPattern)).cast("long")
  def urlCount(text: Column): Column = regexp_count(text, lit(urlPattern)).cast("long")

  /** PII redaction: replace emails/URLs with placeholder tokens —
    * row-local codegen'd regexp_replace chain (Spark replaces ALL
    * occurrences; the oracle mirrors with DuckDB's 'g' flag; both
    * regex dialects agree on these character-class patterns, the same
    * ones the count oracles already prove portable). Emails first:
    * a URL with an embedded userinfo '@' must not leave a partial
    * email behind after URL removal. */
  def redactPii(text: Column,
      emailToken: String = "<EMAIL>", urlToken: String = "<URL>"): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, emailToken),
      urlPattern, urlToken)

  /** In-corpus MLE bigram language model — the statistical complement
    * of the heuristic qualityScore (CCNet/Gopher-style pipelines gate
    * on exactly this LM signal). One exploded pass over ALL bigram
    * occurrences (codegen'd WordNgramsExpr — occurrence counts, not
    * the distinct shingles dedup uses):
    *   logp(w1 w2) = round(ln(c(w1 w2) / ctx(w1)), 6)
    * with ctx(w1) = Σ_w2 c(w1 w2) derived from the SAME counts (no
    * second scan). Bigrams below `minCount` drop (they score as OOV);
    * `maxVocab` caps the model via a deterministic (count desc, gram)
    * top-V — TakeOrderedAndProject, and the bound is what makes the
    * scoring-side broadcast join safe at 100 TB. logp is rounded at
    * SIX digits so its dec(15,6) image is exact on any engine
    * (invariant 1). */
  def bigramLmModel(
      docs: DataFrame, textCol: String,
      minCount: Long = 2L, maxVocab: Int = 1000000): DataFrame = {
    val counts = docs
      .select(explode(graft.functions.TextHashExpressions.wordNgrams(col(textCol), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val ctx = counts
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("c")).as("ctx"))
    counts.filter(col("c") >= minCount)
      .orderBy(col("c").desc, col("g"))
      .limit(maxVocab)
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(ctx, "w1")
      .select(col("g"),
        round(log(col("c").cast("double") / col("ctx").cast("double")), 6).as("logp"))
  }

  /** Per-document LM score: exact-decimal mean of model logp over the
    * document's bigram occurrences, OOV bigrams contributing
    * `oovLogProb`. The model (bounded by maxVocab) broadcasts; the
    * corpus text never shuffles — only (id, gram) pairs do. Documents
    * with fewer than two words have no bigrams and are absent. */
  def bigramLmScores(
      docs: DataFrame, idCol: String, textCol: String, model: DataFrame,
      oovLogProb: Double = -20.0): DataFrame = {
    import graft.stats.Moments
    docs
      .select(col(idCol),
        explode(graft.functions.TextHashExpressions.wordNgrams(col(textCol), 2)).as("g"))
      .join(broadcast(model), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        Moments.meanOf(
          Moments.sumExact(coalesce(col("logp"), lit(oovLogProb))),
          count(lit(1))).as("lm_score"))
  }

  /** Document fingerprint: first 16 hex chars of md5 (content-stable,
    * engine-portable). For a rolling/locality-sensitive fingerprint see
    * Dedup.simHash and winnowingFingerprints. */
  def fingerprint(text: Column): Column =
    substring(md5(text.cast("binary")), 1, 16)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * scheme): hash every k-gram, then keep the minimum hash of each
    * sliding window of `w` consecutive k-gram hashes; the distinct
    * minima are the document's fingerprint set. Guarantees any shared
    * substring of length >= w+k-1 yields a shared fingerprint.
    *
    * Entirely row-local and ONE codegen'd pass (WinnowingExpr) — no
    * explode, no shuffle, no interpreted HOF chain; pair-matching on
    * fingerprints is then an equi-join on the exploded fingerprint
    * set. Values are bit-identical to the
    * sequence/transform/slice/array_min formulation (spec-asserted). */
  def winnowingFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    TextHashExpressions.winnowing(text, k, w)

  /** Corpus vocabulary top-k: the k most frequent whitespace tokens
    * with a deterministic tie-break on the token itself. The
    * orderBy+limit plans as TakeOrderedAndProject — per-partition
    * top-k then a k-row driver merge, never a global sort.
    *
    * The delimiter class is spelled out rather than `\s` because Java
    * regex `\s` includes `\x0B` while RE2 (the DuckDB oracle) does not
    * — an explicit class is identical in both engines. */
  def topTokens(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(split(col(textCol), "[\\t\\n\\f\\r ]+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Token-window CHUNKING: split each document into overlapping
    * word-window chunks (RAG / fixed-context training prep). Entirely
    * row-local — one explode per doc, no shuffle; chunk k covers
    * 1-indexed words [k·stride+1, k·stride+chunkTokens] with
    * stride = chunkTokens − overlap, and the chunk count
    * 1 + ⌈(nw − chunkTokens)/stride⌉ (min 1) is pure integer
    * arithmetic — the whole operator replays in SQL via list slicing.
    * Output: input id + (chunk_idx, chunk_text, n_chunk_tokens). */
  def chunkByTokens(
      docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens ($overlap, $chunkTokens)")
    val stride = chunkTokens - overlap
    val words = split(col(textCol), " ")
    val nw = size(words).cast("long")
    val nChunks = when(nw <= chunkTokens, lit(1L))
      .otherwise(lit(1L) + expr(s"(size(split($textCol, ' ')) - $chunkTokens + $stride - 1) div $stride"))
    docs
      .withColumn("_nc", nChunks)
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("_nc") - 1)))
      .select(
        col(idCol),
        col("chunk_idx"),
        array_join(slice(words, (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens.toLong), nw - col("chunk_idx") * stride)
          .as("n_chunk_tokens"))
  }

  /** Corpus TF-IDF with per-document top-k terms — the classic
    * keyword/feature extractor over a training corpus. Plan shape:
    * one explode→(doc, term) count shuffle builds TF; DF is a second
    * agg over the SAME grouped frame (term keys — uniform); idf joins
    * back keyed by term; the top-k is a per-document window
    * ([[graft.ops.DistributedRank.topKPerKey]] — partitioned by doc,
    * never a global sort). `n` (total docs) is the one driver scalar.
    *
    * Oracle parity: idf = round(ln(N/df), 9) — the transcendental is
    * rounded identically on both sides (invariant 1); tf·idf then
    * multiplies identical doubles. Output: idCol, term, tf, tfidf, rn.
    *
    * The DF branch re-derives the (doc, term) counts (Catalyst plans a
    * second scan — the two aggregations key differently, so the
    * exchange is not reusable). At warehouse scale, materialize the
    * term-count stage once (ops.Storage) and feed both branches from
    * it instead of re-scanning the corpus; here the corpus scan is the
    * cheap part and a persist would cache the widest intermediate.
    */
  def tfIdfTopTerms(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val n = docs.count()
    val tf = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("_df"))
      .withColumn("idf",
        round(log(lit(n.toDouble) / col("_df").cast("double")), 9))
      .select(col("term"), col("idf"))
    val scored = tf.join(idf, "term")
      .withColumn("tfidf", col("tf").cast("double") * col("idf"))
      .select(col(idCol), col("term"), col("tf"), col("tfidf"))
    graft.ops.DistributedRank.topKPerKey(
      scored, Seq(idCol), "tfidf", ascending = false, tieCols = Seq("term"), k)
  }
}
