package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything here is a pure `Column` expression built from
  * `org.apache.spark.sql.functions` — codegen'd inside whole-stage codegen,
  * no UDFs, so a 100 TB scan stays a single fused pipeline with filters
  * pushed to the parquet reader.
  */
object TextFunctions {

  /** Evaluate `c` ONCE and pass it to `f` as a lambda-bound value. An outer
    * expression referenced inside a higher-order-function lambda is
    * re-evaluated per element (projection collapse makes this easy to hit);
    * wrapping it in a 1-element array binds it to a lambda variable instead.
    * Turned shingle generation from O(len²) regex work to O(len).
    */
  def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Whitespace tokens of a text column (empty string → empty array). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword proxy count: words + extra units for long words
    * (every 4 chars beyond the first 4) — a cheap deterministic stand-in for
    * a real tokenizer's token count, expressible as pure SQL.
    */
  def approxBpeCount(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, w) => acc + lit(1L) + floor(greatest(length(w) - 4, lit(0)) / 4).cast("long"))

  /** Overlapping token-window chunks — the standard long-document split
    * before tokenization/training. Chunk i covers tokens
    * `[i*(size-overlap), i*(size-overlap)+size)`; the last chunk may be
    * short; a doc of ≤ `size` tokens yields exactly one chunk; an empty doc
    * yields none. Returns `array<struct<chunk_id int, chunk string>>` —
    * `posexplode`/`explode` for one row per chunk. Pure expressions
    * (plan-time literals for size/step), so chunking stays inside the scan
    * projection with no shuffle.
    */
  def chunks(text: Column, size: Int, overlap: Int = 0): Column = {
    require(size > 0 && overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val step = size - overlap
    // bindOnce: `toks` is referenced inside the transform lambda, where an
    // unbound outer expression is re-evaluated PER ELEMENT (the split would
    // run once per chunk)
    bindOnce(tokens(text)) { toks =>
      val n = org.apache.spark.sql.functions.size(toks)
      val nChunks = when(n <= size, lit(1))
        .otherwise(lit(1) + ceil((n - size).cast("double") / step).cast("int"))
      when(n === 0, array().cast("array<struct<chunk_id:int,chunk:string>>"))
        .otherwise(transform(sequence(lit(0), nChunks - 1), i =>
          struct(i.cast("int").as("chunk_id"),
            array_join(slice(toks, i * step + 1, lit(size)), " ").as("chunk"))))
    }
  }

  /** TOKENIZER-BUDGET chunking: word-boundary chunks sized by BPE token
    * count instead of word count — word `i` lands in chunk
    * `⌊(Σ_{j<i} bpe(word_j)) / budget⌋`, so every chunk except possibly
    * the last carries ~`budget` tokenizer tokens regardless of how the
    * corpus tokenizes (code/CJK chunked by words overflows real sequence
    * buffers by multiples). Same output shape as [[chunks]]
    * (`array<struct<chunk_id, chunk>>`, empty doc → empty array); word
    * counts come from one [[graft.functions.BpeExpressions]] kernel call
    * per word against the plan-literal merge list. The prefix-sum
    * accumulator is a growing array — O(words²) element copies per doc —
    * which is fine at document scale (docs are bounded; corpora are not).
    */
  def chunksByBudget(spark: org.apache.spark.sql.SparkSession, text: Column,
      merges: Column, budget: Int): Column = {
    require(budget > 0, "budget must be positive")
    bindOnce(tokens(text)) { toks =>
      bindOnce(aggregate(toks, array(lit(0L)), (acc, w) =>
        concat(acc, array(element_at(acc, -1) +
          graft.functions.BpeExpressions.tokenCount(spark, w, merges))))) { prefix =>
        val n = org.apache.spark.sql.functions.size(toks)
        val total = element_at(prefix, -1)
        // the highest OCCUPIED chunk is the last word's — deriving the
        // count from `total` would emit a trailing empty chunk whenever
        // the last word starts below a boundary the total crosses
        val nChunks =
          (floor(element_at(prefix, -2).cast("double") / budget) + 1).cast("int")
        when(n === 0 || total === 0,
            array().cast("array<struct<chunk_id:int,chunk:string>>"))
          .otherwise(filter(transform(sequence(lit(0), nChunks - 1), k =>
            struct(k.cast("int").as("chunk_id"),
              array_join(filter(zip_with(toks, slice(prefix, lit(1), n),
                  (w, before) => when(floor(before.cast("double") / budget)
                    .cast("int") === k, w)),
                w => w.isNotNull), " ").as("chunk"))),
            // a single word counting past the budget makes the prefix jump
            // a whole chunk index — skipped ids stay skipped, not empty
            st => st.getField("chunk") =!= ""))
      }
    }
  }

  /** Fraction of non-blank lines that are duplicates of an earlier line —
    * the Gopher-style repetition signal for boilerplate/spam filtering
    * (0 for docs with no non-blank lines).
    */
  def dupLineRatio(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val n = org.apache.spark.sql.functions.size(lines)
    when(n === 0, 0.0)
      .otherwise((n - org.apache.spark.sql.functions.size(array_distinct(lines)))
        .cast("double") / n)
  }

  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val punct = length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]{}-]", ""))
    when(length(text) === 0, 0.0).otherwise(punct.cast("double") / length(text))
  }

  /** Ratio of uppercase chars to letters. */
  def upperRatio(text: Column): Column = {
    val uppers = length(text) - length(regexp_replace(text, "[A-Z]", ""))
    val letters = length(text) - length(regexp_replace(text, "[A-Za-z]", ""))
    when(letters === 0, 0.0).otherwise(uppers.cast("double") / letters)
  }

  /** Ratio of digit chars to total chars. */
  def digitRatio(text: Column): Column = {
    val digits = length(text) - length(regexp_replace(text, "[0-9]", ""))
    when(length(text) === 0, 0.0).otherwise(digits.cast("double") / length(text))
  }

  /** Mean word length (0 for empty text). Sum of token lengths ==
    * non-whitespace char count of the trimmed text, so this needs no
    * higher-order function (HOFs are CodegenFallback: interpreted + boxed)
    * — one codegen'd regex pass instead of a per-token interpreted fold.
    */
  def meanWordLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, 0.0)
      .otherwise(length(regexp_replace(trim(text), "\\s", "")).cast("double") / n)
  }

  /** Small per-language stopword lists (public, frequency-derived). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "sur"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"))

  /** Fraction of tokens that are stopwords of `lang`. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val stops = array(stopwords(lang).map(lit): _*)
    val n = tokenCount(text)
    val hits = size(filter(tokens(text), t => array_contains(stops, lower(t))))
    when(n === 0, 0.0).otherwise(hits.cast("double") / n)
  }

  /** Table-level language ID — the scale shape of `langId`. Explodes tokens
    * once and counts stopword hits per language as conditional sums
    * (codegen'd, map-side combined), then argmaxes. One pass over tokens
    * instead of 5 interpreted HOF filter chains per row; identical output
    * (same argmax tie-break: max by (hits, lang)). Docs with no tokens get
    * a null `lang_pred` (explode_outer keeps them).
    */
  def langIdByDoc(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val langs = stopwords.toSeq.sortBy(_._1)
    val exploded = df.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("__t"))
    val counts = langs.map { case (lang, stops) =>
      sum(when(lower(col("__t")).isInCollection(stops), 1).otherwise(0)).as(s"__c_$lang")
    }
    val best = array_max(array(langs.map { case (lang, _) =>
      struct(col(s"__c_$lang").cast("int").as("hits"), lit(lang).as("lang"))
    }: _*))
    exploded.groupBy(idCol).agg(counts.head, counts.tail: _*)
      .select(col(idCol),
        when(best.getField("hits") > 0, best.getField("lang"))
          .otherwise(lit(null).cast("string")).as("lang_pred"))
  }

  /** Table-level top n-gram character fraction — the second Gopher
    * repetition signal: the share of the document's characters covered by
    * occurrences of its single most frequent token n-gram. Boilerplate and
    * generated spam score high; natural prose scores low. Scale shape =
    * explode n-grams once → (doc, gram) counts with map-side combine →
    * per-doc max → ratio; no per-row quadratic work, no self-join. Docs
    * with fewer than `n` tokens score 0.
    */
  def topNgramCharRatioByDoc(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n >= 1")
    // bindOnce: same per-element re-evaluation trap as `chunks`
    val grams = bindOnce(tokens(col(textCol))) { toks =>
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
    }
    val exploded = df.select(col(idCol), length(col(textCol)).as("__len"),
      explode_outer(grams).as("__g"))
    exploded
      .groupBy(col(idCol), col("__len"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol), col("__len"))
      // chars covered by the most frequent gram = count * (gram chars)
      .agg(max(when(col("__g").isNull, 0L)
        .otherwise(col("__c") * length(col("__g")))).as("__top"))
      .select(col(idCol),
        when(col("__len") === 0, 0.0)
          .otherwise(col("__top").cast("double") / col("__len")).as("top_ngram_char_ratio"))
  }

  /** Heuristic language ID: argmax over per-language stopword-hit counts,
    * null when no language scores a hit (the n-gram-free variant of public
    * langid heuristics; deterministic, pure SQL). Per-row scalar face; for
    * whole-table scans prefer `langIdByDoc` (one exploded-token pass, fully
    * codegen'd).
    */
  def langId(text: Column): Column =
    bindOnce(tokens(text)) { toks =>
      val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, stops) =>
        val arr = array(stops.map(lit): _*)
        struct(size(filter(toks, t => array_contains(arr, lower(t)))).as("hits"),
          lit(lang).as("lang"))
      }
      val best = array_max(array(scored: _*))
      when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit(null).cast("string"))
    }

  /** Document quality score in [0,1]: penalizes extreme length, high
    * punctuation/digit density, and very short docs — the standard cheap
    * pre-filter shape for web-scale corpora (length/punct/stopword ratios).
    *
    * HOF-free by construction (see `meanWordLen`): the whole score is one
    * whole-stage-codegen'd expression where repeated subtrees (the token
    * split, `length(text)`) are shared by Spark's subexpression elimination
    * instead of re-evaluated per sub-term.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val letters = length(text) - length(regexp_replace(text, "[A-Za-z\\u00C0-\\u024F\\u4E00-\\u9FFF]", ""))
    val alphaRatio = when(length(text) === 0, 0.0).otherwise(letters.cast("double") / length(text))
    val lengthOk = when(n.between(5, 10000), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) < 0.3, 1.0).otherwise(0.0)
    val digitOk = when(digitRatio(text) < 0.3, 1.0).otherwise(0.0)
    val wordLenOk = when(meanWordLen(text).between(2.0, 12.0), 1.0).otherwise(0.0)
    val alphaOk = when(alphaRatio >= 0.6, 1.0).otherwise(0.0)
    round((lengthOk * 0.3) + (punctOk * 0.15) + (digitOk * 0.15) + (wordLenOk * 0.1) + (alphaOk * 0.3), 4)
  }

  /** Gopher-style document quality RULES (Rae et al. 2021, "Scaling
    * Language Models", Appendix A1.1 — the published web-corpus filter):
    * per-rule boolean flags plus their conjunction `keep`, so a pipeline
    * can both filter and AUDIT which rule rejected each document. Rules
    * (published thresholds, parameterized):
    *
    *  - `g_word_count`: whitespace word count in [minWords, maxWords]
    *  - `g_mean_word_len`: mean word length in [3, 10]
    *  - `g_symbol`: ('#' + '...')-to-word ratio <= 0.1
    *  - `g_bullet`: fraction of non-blank lines starting with a bullet
    *    (-, *, •) <= 0.9
    *  - `g_ellipsis`: fraction of non-blank lines ending in '...' <= 0.3
    *  - `g_alpha`: fraction of words containing an alphabetic char >= 0.8
    *  - `g_stop`: at least 2 distinct hits from the English stopword list
    *
    * Ratio rules evaluate over empty denominators as 0 (vacuously
    * passing); the word-count floor already rejects empty documents.
    * Returns `struct(word_count, mean_word_len, flags..., keep)` — one
    * projection, no shuffle, the 100 TB per-row filter shape.
    */
  def gopherRules(text0: Column, minWords: Int = 50, maxWords: Int = 100000): Column = {
    val text = coalesce(text0, lit(""))
    val words = tokens(text)
    val wc = size(words)
    val meanLen = meanWordLen(text)
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val ellipses = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolFrac = when(wc === 0, 0.0).otherwise((hashes + ellipses).cast("double") / wc)
    val nbLines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nLines = size(nbLines)
    def lineFrac(pred: Column => Column) = when(nLines === 0, 0.0)
      .otherwise(size(filter(nbLines, pred)).cast("double") / nLines)
    val bulletFrac = lineFrac(l => substring(ltrim(l, " \t"), 1, 1).isin("-", "*", "•"))
    val ellipsisFrac = lineFrac(l => rtrim(l, " \t").endsWith("..."))
    val alphaFrac = when(wc === 0, 0.0)
      .otherwise(size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / wc)
    val stops = array(stopwords("en").map(lit): _*)
    // bindOnce: without it the lowercased-words array is rebuilt once PER
    // STOPWORD inside the filter lambda (the HOF re-evaluation trap the
    // helper exists for)
    val stopHits = bindOnce(transform(words, w => lower(w)))(lw =>
      size(filter(stops, s => array_contains(lw, s))))
    val flags = Seq(
      (wc >= minWords && wc <= maxWords).as("g_word_count"),
      (meanLen >= 3.0 && meanLen <= 10.0).as("g_mean_word_len"),
      (symbolFrac <= 0.1).as("g_symbol"),
      (bulletFrac <= 0.9).as("g_bullet"),
      (ellipsisFrac <= 0.3).as("g_ellipsis"),
      (alphaFrac >= 0.8).as("g_alpha"),
      (stopHits >= 2).as("g_stop"))
    struct((wc.cast("long").as("word_count") +: round(meanLen, 4).as("mean_word_len") +:
      flags :+ flags.reduce(_ && _).as("keep")): _*)
  }

  /** Email address shape (conservative: requires a dotted TLD). Patterns
    * use only syntax with identical semantics in Java regex and RE2, so a
    * DuckDB oracle can apply the same literal pattern.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American phone shape NNN[-. ]NNN[-. ]NNNN on word boundaries. */
  val PhonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Dotted-quad IPv4 shape on word boundaries (not range-validated —
    * redaction prefers false positives over leaks).
    */
  val Ipv4Pattern = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** PII redaction for training corpora: emails → `<EMAIL>`, then phone
    * numbers → `<PHONE>`, then IPv4 addresses → `<IP>` — the C4/RefinedWeb
    *-style scrub pass. Application order is fixed and load-bearing: the
    * three shapes cannot partially overlap each other's replacements
    * (replacement tokens contain no digits or `@`). One codegen'd
    * expression chain, no UDF — at 100 TB this runs inside whole-stage
    * codegen like any other projection.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  /** Per-category PII hit counts as a struct `(emails, phones, ips)` —
    * the audit face of [[redactPii]] (count before you scrub).
    */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(EmailPattern)).as("emails"),
    regexp_count(text, lit(PhonePattern)).as("phones"),
    regexp_count(text, lit(Ipv4Pattern)).as("ips"))

  /** Normalization fingerprint: md5 of lowercased, whitespace-collapsed text.
    * Two docs differing only in case/spacing share a fingerprint.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Character n-gram shingles of the normalized text (distinct). */
  def shingles(text: Column, n: Int = 5): Column =
    bindOnce(lower(regexp_replace(trim(text), "\\s+", " "))) { norm =>
      val count = length(norm) - (n - 1)
      // sequence(1,0) is DESCENDING [1,0] in Spark — guard short texts explicitly
      when(count < 1, array().cast("array<string>"))
        .otherwise(array_distinct(transform(sequence(lit(1), count), i => norm.substr(i, lit(n)))))
    }

  /** Okapi BM25 relevance of every document against a bag of query terms —
    * the standard corpus-relevance score for retrieval-style filtering of
    * training data. Output: (`idCol`, `bm25` double; 0.0 for docs matching
    * no term). Tokenization is lowercased whitespace (matches [[tokens]]).
    *
    * Scale shape: ONE explode pass, filtered to the query terms BEFORE any
    * shuffle (shuffle volume = matching tokens only, not the corpus);
    * document length comes from a narrow [[tokenCount]] projection, never
    * a second explode; per-term document frequencies derive from the tf
    * aggregate (|q| rows, broadcast); the corpus constants N and avgdl
    * ride as a 1-row broadcast cross join — no driver action, no collect.
    */
  def bm25(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val qtoks = df.select(col(idCol).as("__id"),
      explode(tokens(lower(col(textCol)))).as("__t"))
      .filter(col("__t").isin(queryTerms: _*))
    val tf = qtoks.groupBy("__id", "__t").agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).cast("double").as("__df"))
    val dls = df.select(col(idCol).as("__id"), tokenCount(col(textCol)).cast("double").as("__dl"))
    val stats = df.agg(count(lit(1)).cast("double").as("__n"))
      .crossJoin(df.select(tokenCount(col(textCol)).as("__c")).agg(avg("__c").as("__avgdl")))
    val perTerm = tf
      .join(broadcast(dfreq), "__t")
      .join(dls, "__id")
      .crossJoin(broadcast(stats))
      .withColumn("__idf", log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__s", col("__idf") * (col("__tf") * (k1 + 1)) /
        (col("__tf") + (col("__dl") / col("__avgdl") * b + (1 - b)) * k1))
    val scores = perTerm.groupBy("__id").agg(sum("__s").as("bm25"))
    df.select(col(idCol).as("__id")).join(scores, Seq("__id"), "left")
      .select(col("__id").as(idCol), coalesce(col("bm25"), lit(0.0)).as("bm25"))
  }
}
