package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §2.4): language-ID heuristic, quality scoring, token
  * counting, document fingerprinting. All narrow Column expressions —
  * no shuffle, no UDFs, codegen-friendly, linear at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens (literal single-space split of normalized text). */
  def tokens(text: Column): Column =
    split(trim(regexp_replace(text, "\\s+", " ")), " ")

  /** Token count (whitespace tokenizer); empty/null-safe. */
  def tokenCount(text: Column): Column =
    when(text.isNull || length(trim(text)) === 0, lit(0))
      .otherwise(size(tokens(text)))

  /** BPE-ish subword token estimate: runs of letters, runs of digits, and
    * single non-alphanumeric marks each count as a token. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Word n-gram STRINGS of the lowercased whitespace-tokenized text —
    * the literal-string twin of [[graft.dedup.Dedup.shingles]] (which
    * emits 64-bit gram hashes): reporting operators like
    * [[heavyHitters]] need the gram text back, not its key. Documents
    * with fewer than n tokens yield an empty array (the `when` guard
    * matters: Spark's `sequence(1, m)` with m <= 0 DESCENDS instead of
    * returning empty). Narrow codegen'd expression, no shuffle. */
  def gramStrings(text: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be >= 1; got $n")
    val toks = tokens(lower(text))
    // Bind the token array ONCE via a 1-element array + transform: a
    // lambda reads its variable as an evaluated value, while a bare
    // sub-expression reference re-runs the regex+split on every access
    // — HOFs get no CSE across the lambda boundary, so the direct
    // element_at(toks, i+j) form re-tokenized the document 3× per gram
    // (measured 22× slower on q117's sf0.1 gram explode: 10.3 s → 0.46 s
    // for an identical gram multiset).
    element_at(transform(array(toks), a => {
      val m = size(a) - (n - 1)
      when(m >= 1,
        transform(sequence(lit(1), m),
          i => concat_ws(" ", slice(a, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }), 1)
  }

  private val defaultStopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(lower(text))
    val n = size(toks)
    when(n > 0,
      size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean word length (alpha runs). */
  def meanWordLength(text: Column): Column = {
    val words = regexp_extract_all(text, lit("[A-Za-z]+"), lit(0))
    when(size(words) > 0,
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        size(words).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Heuristic document quality score in [0,1]: penalizes extreme length,
    * high punctuation, zero stopwords (non-prose), and very short/long
    * mean word length. Weights are deliberately simple and documented. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenOk = when(nTok >= 10 && nTok <= 100000, lit(1.0)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) <= 0.2, lit(1.0)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(text) > 0.0, lit(1.0)).otherwise(lit(0.0))
    val mwl = meanWordLength(text)
    val wordOk = when(mwl >= 2.0 && mwl <= 12.0, lit(1.0)).otherwise(lit(0.0))
    (lenOk * 0.25) + (punctOk * 0.25) + (stopOk * 0.25) + (wordOk * 0.25)
  }

  /** Language-ID n-gram heuristic: score text against small per-language
    * marker-word sets; returns the best-scoring language code or "und".
    * A real system would use char-trigram profiles; the structure (narrow
    * per-row scoring, no shuffle) is the point here. */
  val languageMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  /** Native single-pass scorer (LangIdExpr): column-level composition
    * recomputes the tokenizer once per language because project collapsing
    * re-inlines the alias — one expression avoids that. */
  def langIdFromTokens(toks: Column): Column =
    graft.functions.TextFunctions.langId(toks, languageMarkers)

  def langIdHeuristic(text: Column): Column =
    langIdFromTokens(tokens(lower(text)))

  /** Per-document language-MIXING profile — the code-switching /
    * boilerplate-contamination detector corpus curation needs beyond
    * whole-doc lang-ID (a doc that is half English half German IDs as
    * one of them and pollutes both): the token stream splits into
    * fixed `chunkTokens`-token windows, each window gets the q44
    * marker-scorer verdict ([[langIdFromTokens]], 'und' when no
    * markers), and the profile reports
    * `(n_chunks, n_langs, dominant_lang, mixed)` — `n_langs` counts
    * DISTINCT chunk verdicts INCLUDING 'und' (a marker-free span is
    * evidence of foreign/no-language content, documented convention),
    * `dominant_lang` is the most frequent verdict with count ties
    * broken by the lexicographically smallest code (pinned identically
    * in the SQL twin), `mixed` ⟺ n_langs > 1.
    *
    * Entirely PER-ROW: chunking is a `sequence`+`slice` transform, the
    * dominant pick a sorted-run fold — no shuffle, no explode; the
    * fact table scans once. Empty/whitespace-only docs profile as
    * zero chunks, no langs, null dominant, not mixed. */
  def languageMixProfile(df: DataFrame, idCol: String, textCol: String,
                         chunkTokens: Int = 16): DataFrame =
    chunkedLanguageMix(df, idCol, textCol, chunkTokens)(langIdFromTokens)

  /** The chunked language profile with `classify` giving one chunk's
    * verdict from its token slice: [[languageMixProfile]]'s marker
    * scorer, or [[languageMixProfileNb]]'s trained classifier. */
  private def chunkedLanguageMix(df: DataFrame, idCol: String, textCol: String,
                                 chunkTokens: Int)(classify: Column => Column): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1; got $chunkTokens")
    val toks = when(col(textCol).isNull ||
        length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(tokens(lower(col(textCol))))
    val nCh = call_function("div",
      size(col("__toks")).cast("long") + (chunkTokens - 1),
      lit(chunkTokens.toLong))
    val chunkLangs = when(col("__nch") === 0,
        array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0L), col("__nch") - 1),
        i => classify(
          slice(col("__toks"), (i * chunkTokens + 1).cast("int"),
            lit(chunkTokens)))))
    // dominant = longest run of the ASC-sorted verdicts; strict `>`
    // keeps the FIRST maximal run, i.e. count ties break to the
    // smallest code
    val dom = aggregate(
      array_sort(col("__cl")),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(null).cast("string").as("best"), lit(0L).as("bestrun")),
      (st, x) => {
        val run = when(x === st.getField("prev"),
          st.getField("run") + 1).otherwise(lit(1L))
        val better = run > st.getField("bestrun")
        struct(x.as("prev"), run.as("run"),
          when(better, x).otherwise(st.getField("best")).as("best"),
          when(better, run).otherwise(st.getField("bestrun"))
            .as("bestrun"))
      },
      st => st.getField("best"))
    df.withColumn("__toks", toks)
      .withColumn("__nch", nCh)
      .withColumn("__cl", chunkLangs)
      .select(col(idCol), col("__nch").as("n_chunks"),
        size(array_distinct(col("__cl"))).cast("long").as("n_langs"),
        dom.as("dominant_lang"),
        (size(array_distinct(col("__cl"))) > 1).as("mixed"))
  }

  /** Content-defined fingerprint: md5 of whitespace-normalized lowercase
    * text — stable across engines (md5 is standard), used for exact dedup. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Rolling (order-sensitive) fingerprint of the token stream, unlike
    * md5-of-all: a left fold chaining xxhash64(acc, token) — overflow-free
    * under ANSI mode and still a narrow codegen'd expression. */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  /** Count of the most frequent element of a string array, computed
    * per-row with NO shuffle: sort the array so equal elements are
    * adjacent, then fold once tracking the longest run. Empty → 0. */
  private def topElementCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(x <=> acc("prev"), acc("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))

  /** Gopher-style repetition / lexical-diversity profile (Rae et al.
    * 2021 §A1.1 quality heuristics, adapted to token-level metrics for
    * line-less corpora): per document, token and bigram counts, the
    * share of the most frequent token and bigram, type-token ratio, and
    * an integer-arithmetic low-quality flag (top-bigram share > 18%, or
    * top-token share > 20%, or type-token ratio < 30%).
    *
    * Scale design: every metric is computed per-row over the document's
    * own token array (sorted-run fold, see [[topElementCount]]) — a pure
    * map, no explode, no shuffle. The groupBy-token alternative would
    * shuffle the corpus's entire token stream to compute what is a
    * per-document quantity. The flag uses integer cross-multiplication,
    * so the fraction columns are presentation-only. */
  /** Filter to documents that PASS the repetition-quality gate — the
    * [[repetitionProfile]] flag for pipelines that only gate and don't
    * need the profile.
    *
    * The gated stage is MATERIALIZED (lazy localCheckpoint) before the
    * filter. Without the barrier, predicate pushdown substitutes the
    * flag's aliases through every projection, re-deriving the tokenize
    * chain — and everything upstream of it, e.g. a PII scrub — once per
    * flag subterm: measured at sf0.1, 54 regexp_replace nodes in the
    * collapsed plan and 3.6s vs 1.3s staged. The checkpoint is the batch
    * twin of writing the silver table between pipeline stages, which is
    * exactly what a 100 TB run does anyway (swap for a durable write +
    * re-read when lineage must survive executor loss). The flag computes
    * once per row inside the stage (layered multi-use aliases survive
    * CollapseProject; ProjectExec CSE dedups the repeated subtrees);
    * only (row, flag) is stored — the token arrays are dropped first. */
  def repetitionGate(df: DataFrame, textCol: String): DataFrame = {
    val nTok = size(col("__toks")).cast("long")
    val flag =
      (topElementCount(col("__bigrams")) * 100 >
        size(col("__bigrams")).cast("long") * 18) ||
      (topElementCount(col("__toks")) * 5 > nTok) ||
      (size(array_distinct(col("__toks"))).cast("long") * 10 < nTok * 3)
    val tail = greatest(size(col("__toks")) - 1, lit(0))
    df.withColumn("__toks", tokens(lower(col(textCol))))
      .withColumn("__bigrams", zip_with(
        slice(col("__toks"), lit(1), tail), slice(col("__toks"), lit(2), tail),
        (a, b) => concat_ws(" ", a, b)))
      .withColumn("__lowq", flag)
      .drop("__toks", "__bigrams")
      .localCheckpoint(eager = false)
      .filter(!col("__lowq"))
      .drop("__lowq")
  }

  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val tail = greatest(size(col("toks")) - 1, lit(0))
    val bigrams = zip_with(
      slice(col("toks"), lit(1), tail), slice(col("toks"), lit(2), tail),
      (a, b) => concat_ws(" ", a, b))
    docs
      .select(col(idCol), toks.as("toks"))
      .withColumn("bigrams", bigrams)
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        topElementCount(col("toks")).as("top_token_n"),
        size(col("bigrams")).cast("long").as("n_bigrams"),
        topElementCount(col("bigrams")).as("top_bigram_n"))
      .withColumn("distinct_ratio",
        round(col("n_distinct_tokens") / col("n_tokens"), 4))
      .withColumn("top_token_frac", round(col("top_token_n") / col("n_tokens"), 4))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(round(col("top_bigram_n") / col("n_bigrams"), 4)))
      .withColumn("low_quality",
        (col("top_bigram_n") * 100 > col("n_bigrams") * 18 ||
          col("top_token_n") * 5 > col("n_tokens") ||
          col("n_distinct_tokens") * 10 < col("n_tokens") * 3).cast("int"))
  }

  /** PII patterns, restricted to the regex subset with identical
    * semantics in Java (Spark, codegen'd regexp_replace) and RE2
    * (DuckDB oracle, and Go/Rust scrubbers a pipeline may interop
    * with): character classes, bounded repetition, and \b word
    * boundaries only — no lookaround, no backreferences. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern: String = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and NANP-style phone numbers with
    * typed placeholders. Email first (its local part may contain digit
    * runs that the narrower patterns could nibble at). Pure map — three
    * codegen'd regexp_replace passes, no UDF, no shuffle. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Per-document PII audit: match counts per category (on the original
    * text) plus the scrubbed text. Counts are what a compliance report
    * aggregates; the scrubbed column is what ships to training. */
  def piiProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(ipv4Pattern), lit(0)))
        .as("n_ipv4"),
      size(regexp_extract_all(col(textCol), lit(phonePattern), lit(0)))
        .as("n_phones"),
      scrubPii(col(textCol)).as("scrubbed"))

  /** TF-IDF top terms over a corpus. Term frequency from the full token
    * stream, document frequency from per-document DISTINCT tokens; both
    * are one explode + one aggregation (classic partial-agg shapes —
    * map-side combine keeps the shuffle proportional to distinct terms,
    * not token volume). The score is tf·N/df with exact integer inputs
    * and one IEEE division — bitwise-reproducible across engines, so it
    * is oracle-gated. Deterministic top-k by (score desc, term asc). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
      .filter(length(col("term")) > 0)
    // corpus size as a broadcast 1-row scalar — part of the one query
    // plan, not a separate driver action
    val nDocs = broadcast(docs.select(countDistinct(col(idCol)).as("n_docs")))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("tf"))
    val df_ = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, "term").crossJoin(nDocs)
      // double-first arithmetic: tf·N can overflow long at corpus scale
      .withColumn("score",
        (col("tf").cast("double") * col("n_docs").cast("double")) /
          col("df").cast("double"))
    import org.apache.spark.sql.expressions.Window
    // distributed top-k (TakeOrderedAndProject), THEN rank the k rows —
    // never a global row_number over the whole vocabulary
    scored.orderBy(col("score").desc, col("term").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("term").asc)))
      .select("rank", "term", "tf", "df", "score")
  }

  /** Sequence packing for training pipelines: assign documents to fixed
    * token-budget bins by exclusive running token count, packed WITHIN a
    * shard (partitioned window — the global-order variant would funnel
    * the corpus through one partition; per-shard packing is what real
    * pipelines do, and shards pack in parallel at any scale).
    * Deterministic: shard + doc order fix every bin. Returns per-bin
    * stats (docs, tokens) — the bin table that a downstream writer
    * would co-partition batches by. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    tokenBudget: Int, shardCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol).as("id"), shardCol.as("shard"),
        tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_tok")).cast("double") / lit(tokenBudget.toDouble)))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
  }

  /** Deterministic, engine-portable hash sampling: keep rows whose
    * md5-derived 32-bit key falls in [0, pctTimes100) of the modulus —
    * the reproducible corpus-subset primitive (ablations, eval splits,
    * oracle-friendly down-sampling). Narrow, no shuffle; the same
    * expression is reproducible in any engine with md5
    * (('0x'||substr(md5(x),1,8))::UINTEGER in DuckDB). */
  def hashSampleKey(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10).cast("long")

  /** Deterministic STRATIFIED sampling: per-stratum keep rates (out of a
    * common modulus) over the same md5 residue key — the
    * language/domain-rebalancing primitive of corpus curation (e.g.
    * down-weight an over-represented language, keep all of a rare one).
    * The rate table joins in as a broadcast dimension — never a
    * driver-side when-chain — so it scales to thousands of strata, and
    * the fact side stays a narrow filter. Unlisted strata fall back to
    * `defaultKeep`. */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           modulus: Int, keepByStratum: Map[String, Int],
                           defaultKeep: Int): DataFrame = {
    require(modulus > 0 && defaultKeep >= 0 && defaultKeep <= modulus)
    require(keepByStratum.values.forall(k => k >= 0 && k <= modulus),
      s"every keep rate must lie in [0, $modulus]")
    import df.sparkSession.implicits._
    val rates = keepByStratum.toSeq.toDF(strataCol, "__keep")
    df.join(broadcast(rates), Seq(strataCol), "left")
      .withColumn("__keep", coalesce(col("__keep"), lit(defaultKeep)))
      .filter(hashSampleKey(col(idCol)) % modulus < col("__keep"))
      .drop("__keep")
  }

  def hashSample(df: DataFrame, idCol: String, modulus: Int, keep: Int): DataFrame = {
    require(modulus > 0 && keep >= 0 && keep <= modulus)
    df.filter(hashSampleKey(col(idCol)) % modulus < keep)
  }

  /** Leakage-safe train/val/test assignment: the split key is a hash
    * of the GROUP (duplicate cluster, source domain, author — whatever
    * leaks), never the row id, so every member of a group lands in the
    * SAME split — the eval-contamination failure mode of row-hash
    * splits (a near-duplicate of a training doc scoring the val set)
    * is structurally impossible. `splits` are (name, weight) residue
    * ranges over the md5 key modulo Σweights — deterministic,
    * retry-stable, engine-replayable ([[hashSampleKey]]). Narrow (one
    * projection, no shuffle); adds a `split` column. */
  def groupAwareSplit(df: DataFrame, groupKey: Column,
                      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    require(splits.map(_._1).distinct.size == splits.size,
      "split names must be distinct")
    val modulus = splits.map(_._2).sum
    val r = pmod(hashSampleKey(groupKey), lit(modulus))
    val uppers = splits.map(_._2).scanLeft(0)(_ + _).tail
    val splitCol = splits.zip(uppers).init
      .foldRight(lit(splits.last._1)) { case (((name, _), hi), rest) =>
        when(r < hi, lit(name)).otherwise(rest)
      }
    df.withColumn("split", splitCol)
  }

  /** Capped WATER-FILLING mixture allocation — the corpus-budgeting
    * closed form: given per-source available token mass `a_i`, target
    * mixture weights `w_i`, and a token budget B (a `num/den` fraction
    * of the total mass), allocate B proportionally to the weights
    * EXCEPT that no source can give more than it has; freed budget
    * redistributes to the unsaturated sources by weight. This is the
    * deterministic core of every data-mixture recipe ("30% code, 30%
    * web, 40% books — but books run out"): DoReMi-style weight tuning
    * produces the `w_i`, this operator turns them into exact row
    * budgets downstream samplers ([[stratifiedHashSample]]) consume.
    *
    * Closed form, no iteration: sorted ascending by the fill ratio
    * `a_i/w_i`, the saturated set is a prefix, and membership is the
    * per-row test  a_i · Wsuf_i ≤ (B − Apre_i) · w_i  over prefix
    * sums — PROVABLY consistent row-local (if row i fails the test,
    * every later row fails: θ_{i+1} < θ_i < r_i ≤ r_{i+1}), so one
    * window pass decides what a sequential greedy would. Both
    * cross-products run in DECIMAL(38,0) (no overflow at any corpus
    * size); unsaturated allocations are floor `(B−A_sat)·w_i / W_unsat`
    * (remainder ≤ W_unsat tokens stays unallocated — deterministic,
    * documented). The sort key `a_i/w_i` is ONE correctly-rounded IEEE
    * division (identical in every engine; ties break by (a_i, key)),
    * and it only ORDERS — every decision is exact-integer.
    *
    * Shape: input is the per-source AGGREGATE (source-cardinality
    * rows); the global windows are the documented catalog-sized
    * SinglePartition class (thousands of sources, metadata). The
    * fact-scale token count happens before this operator, map-side. */
  def mixtureAllocation(avail: DataFrame, keyCol: String,
                        availCol: String, weightCol: String,
                        budgetNum: Int, budgetDen: Int): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"budget fraction must be >= 0 with positive denominator; " +
        s"got $budgetNum/$budgetDen")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val base = avail
      .select(col(keyCol),
        when(col(availCol).isNull || col(availCol) < 0, raise_error(
            concat(lit("mixtureAllocation: null/negative available for "),
              col(keyCol).cast("string"))).cast("long"))
          .otherwise(col(availCol).cast("long")).as("available"),
        when(col(weightCol).isNull || col(weightCol) <= 0, raise_error(
            concat(lit("mixtureAllocation: null/non-positive weight for "),
              col(keyCol).cast("string"))).cast("long"))
          .otherwise(col(weightCol).cast("long")).as("weight"))
    val tot = Window.partitionBy()
    val ord = Window.orderBy(
      (col("available").cast("double") / col("weight").cast("double")).asc,
      col("available").asc, col(keyCol).asc)
    val pre = ord.rowsBetween(Window.unboundedPreceding, -1)
    val budget = call_function("div",
      sum(col("available")).over(tot).cast(dec) * budgetNum, lit(budgetDen))
    val staged = base
      .withColumn("budget", budget)
      .withColumn("__apre",
        coalesce(sum(col("available")).over(pre), lit(0L)))
      .withColumn("__wsuf",
        sum(col("weight")).over(tot) -
          coalesce(sum(col("weight")).over(pre), lit(0L)))
      .withColumn("saturated",
        col("available").cast(dec) * col("__wsuf") <=
          (col("budget") - col("__apre")).cast(dec) * col("weight"))
    staged
      .withColumn("__asat",
        sum(when(col("saturated"), col("available")).otherwise(0L))
          .over(tot))
      .withColumn("__wunsat",
        sum(when(col("saturated"), 0L).otherwise(col("weight"))).over(tot))
      .withColumn("allocated",
        when(col("saturated"), col("available"))
          .otherwise(call_function("div",
            (col("budget") - col("__asat")).cast(dec) * col("weight"),
            col("__wunsat"))))
      .select(col(keyCol), col("available"), col("weight"), col("budget"),
        col("saturated"), col("allocated"),
        (col("allocated").cast("double") /
          col("available").cast("double")).as("fill_frac"),
        (col("allocated").cast("double") /
          col("budget").cast("double")).as("budget_share"))
  }

  /** Deterministic weighted PRIORITY sample (Duffield–Lund–Thorup): keep
    * the k rows minimizing `hash(id) / weight` — inclusion probability
    * grows with weight, yet the sample is a pure function of the ids
    * (retry-stable, replayable, and the weighted analogue of
    * `hashSample`'s residue classes). The priority is ONE double
    * division of the exact 32-bit md5 key by the weight — division is
    * correctly rounded, so any engine replays the same order; ties
    * (identical priorities) break by id. Plan shape: TakeOrdered
    * (per-partition heap + driver merge of k), never a global sort —
    * the same top-k posture as q11. Rows with null/non-positive weight
    * are excluded (they'd have infinite/negative priority semantics). */
  def weightedPrioritySample(df: DataFrame, idCol: String,
                             weightCol: String, k: Int): DataFrame = {
    require(k >= 0, s"sample size must be >= 0, got $k")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__wp",
        hashSampleKey(col(idCol)).cast("double") / col(weightCol).cast("double"))
      .orderBy(col("__wp").asc, col(idCol).asc)
      .limit(k)
      .drop("__wp")
  }

  /** Temperature-scaled mixture sampling (the multilingual-pretraining
    * α-smoothing: sample stratum s with probability ∝ n_s^α, α<1
    * up-weighting rare strata — mBERT/XLM's exponent convention,
    * α expressed in quarters so the weight computes as a chain of
    * IEEE-correctly-rounded sqrts, never `pow`, whose libm results
    * differ across engines). Per-row keep probability
    * p_s = min(1, targetRows·w_s / (Σw · n_s)) with w_s = n_s^(q/4)
    * rounded to 6 dp and totalled as an exact decimal (order-free);
    * the keep test compares the 32-bit md5 id key against p_s — the
    * whole decision is a pure function of (id, stratum counts), so the
    * mixture is retry-stable and replayable. Two aggs + a broadcast
    * rate table; the corpus itself never shuffles. Realized stratum
    * sizes are binomial around the target (exact quotas would need the
    * per-group rank form — `weightedPrioritySamplePerGroup`). */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String,
                        alphaQuarters: Int, targetRows: Long): DataFrame = {
    require(alphaQuarters >= 0 && alphaQuarters <= 4,
      s"alphaQuarters in [0,4] (α = q/4), got $alphaQuarters")
    require(targetRows >= 0, "targetRows must be >= 0")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val nD = col("__n").cast("double")
    val sq = sqrt(nD)
    val qq = sqrt(sq)
    val w = alphaQuarters match {
      case 0 => lit(1.0)
      case 1 => qq
      case 2 => sq
      case 3 => sq * qq
      case 4 => nD
    }
    val weights = counts.select(col(strataCol), col("__n"),
      round(w, 6).cast("decimal(18,6)").as("__w"))
    // empty input → the sum aggregate is SQL NULL; return an empty frame
    // with the input schema instead of NPE-ing on getDecimal (ADVICE r12)
    val totRow = weights.agg(sum(col("__w"))).head()
    if (totRow.isNullAt(0)) return df.limit(0)
    val totD = totRow.getDecimal(0).doubleValue()
    val rates = weights.select(col(strataCol),
      least(lit(1.0),
        col("__w").cast("double") * lit(targetRows.toDouble) / lit(totD) /
          col("__n").cast("double")).as("__p"))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(hashSampleKey(col(idCol)).cast("double") / lit(4294967296.0) <
        col("__p"))
      .drop("__p")
  }

  /** Token-budget temperature mixture: [[temperatureSample]] weights
    * strata by DOC counts, but LLM training mixtures budget TOKENS — a
    * stratum of few huge documents must count by its token mass, not
    * its row count (the q68 packer's unit). Stratum mass
    * m_s = Σ tokenCol (rows whose token count is null or non-positive
    * are excluded — they carry no budget and would divide by zero);
    * smoothing weight w_s = m_s^(α/4) via the same
    * IEEE-exact sqrt chain (α in quarters, rounded to 6 dp, totalled
    * as an exact decimal — DECIMAL(28,6): token masses reach 10^13+ at
    * corpus scale, beyond the doc-count variant's (18,6) headroom).
    * Per-row keep probability p_s = min(1, targetTokens·w_s / (Σw·m_s)),
    * so stratum s contributes m_s·p_s ≈ targetTokens·w_s/Σw tokens in
    * expectation and the realized corpus totals ≈ targetTokens. The
    * keep decision stays a pure function of (id, stratum masses) —
    * retry-stable, replayable. Two aggs + a broadcast rate table; the
    * corpus never shuffles (the groupBy moves (stratum, count) pairs,
    * not documents). */
  def temperatureSampleByTokens(df: DataFrame, idCol: String,
                                strataCol: String, tokenCol: String,
                                alphaQuarters: Int,
                                targetTokens: Long): DataFrame = {
    require(alphaQuarters >= 0 && alphaQuarters <= 4,
      s"alphaQuarters in [0,4] (α = q/4), got $alphaQuarters")
    require(targetTokens >= 0, "targetTokens must be >= 0")
    val rows = df.filter(col(tokenCol).isNotNull && col(tokenCol).cast("long") > 0)
    val masses = rows.groupBy(col(strataCol))
      .agg(sum(col(tokenCol).cast("long")).as("__m"))
    val mD = col("__m").cast("double")
    val sq = sqrt(mD)
    val qq = sqrt(sq)
    val w = alphaQuarters match {
      case 0 => lit(1.0)
      case 1 => qq
      case 2 => sq
      case 3 => sq * qq
      case 4 => mD
    }
    val weights = masses.select(col(strataCol), col("__m"),
      round(w, 6).cast("decimal(28,6)").as("__w"))
    // empty input (or all-zero-token input) → NULL sum; empty result,
    // same guard as temperatureSample
    val totRow = weights.agg(sum(col("__w"))).head()
    if (totRow.isNullAt(0)) return df.limit(0)
    val totD = totRow.getDecimal(0).doubleValue()
    val rates = weights.select(col(strataCol),
      least(lit(1.0),
        col("__w").cast("double") * lit(targetTokens.toDouble) / lit(totD) /
          col("__m").cast("double")).as("__p"))
    rows.join(broadcast(rates), Seq(strataCol))
      .filter(hashSampleKey(col(idCol)).cast("double") / lit(4294967296.0) <
        col("__p"))
      .drop("__p")
  }

  /** Per-group weighted priority sample: the k-smallest-priority rows
    * WITHIN each group (the per-source / per-language quota form of
    * `weightedPrioritySample` — "keep 1000 length-weighted docs per
    * domain"). One window shuffle on the group key, rank filter; at
    * 100 TB a hot group is the usual salted-rank territory
    * (`Skew.saltedRowNumber` accepts the same (priority, id) order) —
    * this plain form keeps the gate-replayable single-window shape. */
  def weightedPrioritySamplePerGroup(df: DataFrame, idCol: String,
                                     weightCol: String, groupCol: String,
                                     kPerGroup: Int): DataFrame = {
    require(kPerGroup >= 0, s"sample size must be >= 0, got $kPerGroup")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy((hashSampleKey(col(idCol)).cast("double") /
        col(weightCol).cast("double")).asc, col(idCol).asc)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= kPerGroup)
      .drop("__rn")
  }

  /** Data-quality column profile: one row per column with row/null/
    * distinct counts — the standard ingest QA pass before a corpus joins
    * a training pipeline. All counts computed in a single aggregation
    * (Catalyst expands the multi-distinct into its Expand plan), then
    * unpivoted; no per-column scans of the table. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__d_$c"))
    } :+ count(lit(1)).as("__rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("col_name"), col("__rows").as("n_rows"),
        col(s"__n_$c").as("n_nulls"), col(s"__d_$c").as("n_distinct"))
    }
    one.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** Overlapping token-window chunking — the context-window prep step
    * for training corpora and retrieval indexes: windows of `win` tokens
    * starting every `stride` tokens (stride < win ⇒ adjacent chunks
    * overlap by win − stride). Starts are 1, 1+stride, … while ≤
    * n_tokens, so trailing chunks may be shorter than `win`; documents
    * with no tokens produce no chunks. Output: (id, chunk_idx,
    * start_pos, n_chunk_tokens, chunk_text).
    *
    * Scale shape: a per-row `transform` + `posexplode` — a pure map, no
    * shuffle; output volume is corpus tokens × win/stride overlap
    * factor, and the chunk rows stream straight into downstream
    * tokenize/pack stages (e.g. [[packSequences]]). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  win: Int, stride: Int): DataFrame = {
    require(win >= 1 && stride >= 1, s"win/stride must be >= 1; got $win/$stride")
    docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), col("__n"), lit(stride)), s =>
          struct(s.cast("int").as("start_pos"),
            least(lit(win), col("__n") - s + 1).cast("int").as("n_chunk_tokens"),
            concat_ws(" ", slice(col("__toks"), s, lit(win))).as("chunk_text"))))
          .as(Seq("__i", "__c")))
      .select(col(idCol), col("__i").cast("int").as("chunk_idx"),
        col("__c.start_pos"), col("__c.n_chunk_tokens"), col("__c.chunk_text"))
  }

  /** Deterministic source-mixture sampling — the data-mixing step of
    * training-corpus assembly (fixed-weight mixtures à la The Pile;
    * weights typically come from an upstream ablation). Each stratum's
    * target count is budget·wₛ/Σw; its keep rate is the integer residue
    * fraction target/available out of `modulus` (capped at 1); rows then
    * keep deterministically by md5 residue ([[hashSampleKey]]). All rate
    * arithmetic is integer (`div`), so the selected row set is
    * engine-portable and re-runs identically. A stratum scarcer than its
    * target keeps everything (the cap) — re-balancing budget across
    * strata (water-filling) is a policy knob deliberately left out.
    *
    * Scale shape: one partial-aggregating count pass over the fact
    * (stratum-sized result), rates join back as a broadcast dimension,
    * and the sample itself is a narrow filter — [[stratifiedHashSample]]
    * with computed rather than hand-set rates. Strata absent from
    * `weights` are dropped. Output keeps the input columns plus
    * `keep_k` (the stratum's residue keep count). */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
                    weights: Map[String, Int], budget: Long,
                    modulus: Int): DataFrame = {
    require(modulus > 0 && budget >= 0, s"need modulus > 0, budget >= 0")
    require(weights.nonEmpty && weights.values.forall(_ >= 0) &&
      weights.values.exists(_ > 0), "weights must be non-negative, not all zero")
    import df.sparkSession.implicits._
    val wSum = weights.values.map(_.toLong).sum
    val wdf = weights.toSeq.toDF(strataCol, "__w")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val rates = counts.join(broadcast(wdf), Seq(strataCol))
      .withColumn("__target", expr(s"(${budget}L * __w) div ${wSum}L"))
      .withColumn("keep_k",
        least(lit(modulus.toLong), expr(s"(${modulus}L * __target) div __n"))
          .cast("int"))
      .select(col(strataCol), col("keep_k"))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(hashSampleKey(col(idCol)) % modulus < col("keep_k"))
  }

  /** Vocabulary coverage / OOV rate: build the top-`vocabSize` corpus
    * vocabulary (count desc, token asc — a total order, so the cut is
    * deterministic) and report, per document, the fraction of token
    * OCCURRENCES falling outside it — the tokenizer-coverage /
    * domain-shift signal that decides whether a corpus needs its own
    * vocabulary before training.
    *
    * Scale shape: the vocab build is a map-side-combined count + a
    * distributed TakeOrdered (top-V fits in memory by definition — that
    * is what a vocabulary IS); it joins back as a broadcast, so the
    * token stream never shuffles for the lookup — only the per-doc
    * count aggregation partitions by doc id. */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1; got $vocabSize")
    val toks = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("tk"))
    val vocab = toks.groupBy(col("tk")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tk").asc)
      .limit(vocabSize)
      .select(col("tk"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tk"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Per-stratum quality-quantile gate (per-domain thresholds à la
    * FineWeb: an absolute score cut over-prunes clean domains and
    * under-prunes noisy ones — rank within the domain instead): keep the
    * top `keepFrac` of each stratum by `scoreCol`, ties broken by
    * `tieCol` for a total order. percent_rank = (rank−1)/(n−1) —
    * integer counts and one IEEE division, so the kept set is
    * engine-portable whenever the score itself is.
    *
    * Scale shape: one window shuffle keyed by the stratum; strata are
    * domains/languages (many, each large), so skew stays bounded. For a
    * pathological single giant stratum — one domain holding most of a
    * 100 TB corpus would serialize into a single task's sort — set
    * `maxExactStratumRows`: strata above the knob switch to an
    * approximate threshold (percentile_approx over the score, a
    * mergeable sketch that partial-aggregates map-side — no window, no
    * per-stratum sort) + a plain filter. Same kept set to within sketch
    * error; ties AT the threshold are all kept; `pr` is null on the
    * approx path (a rank would cost the sort the fallback exists to
    * avoid). The default knob (MaxValue) keeps the gate fully exact —
    * the oracle-gated q90 path — with no counting pre-pass in the plan. */
  def stratumQuantileGate(df: DataFrame, strataCol: String, scoreCol: Column,
                          tieCol: Column, keepFrac: Double,
                          maxExactStratumRows: Long = Long.MaxValue,
                          accuracy: Int = 10000): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac in (0,1]; got $keepFrac")
    require(!df.columns.contains("pr"),
      "input already has a 'pr' column; the gate outputs its rank there — " +
        "rename the input column (silent overwrite would eat user data)")
    val exact: DataFrame => DataFrame = part => {
      val w = Window.partitionBy(col(strataCol)).orderBy(scoreCol.asc, tieCol.asc)
      part.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= lit(1.0) - lit(keepFrac))
    }
    if (maxExactStratumRows == Long.MaxValue) exact(df)
    else {
      // temp names must not collide with user columns (a pre-existing
      // `__stratum_n`/`__thr` would make the join/drop ambiguous)
      def tmp(base: String): String = {
        var n = base
        while (df.columns.contains(n)) n += "_"
        n
      }
      val nCol = tmp("__stratum_n")
      val thrCol = tmp("__thr")
      // per-stratum sizes: one partial-aggregated count, broadcast back
      // (strata counts are a metadata-sized relation: one row per domain)
      val sizes = df.groupBy(col(strataCol))
        .agg(count(lit(1)).as(nCol))
      val sized = df.join(broadcast(sizes), Seq(strataCol))
      val small = sized.filter(col(nCol) <= maxExactStratumRows)
        .drop(nCol)
      val bigRows = sized.filter(col(nCol) > maxExactStratumRows)
        .drop(nCol)
      // approx path: sketch threshold per oversized stratum (partial-agg,
      // NO sort), broadcast the per-stratum thresholds, plain filter
      val thresholds = bigRows.groupBy(col(strataCol))
        .agg(percentile_approx(scoreCol, lit(1.0 - keepFrac), lit(accuracy))
          .as(thrCol))
      val keptBig = bigRows.join(broadcast(thresholds), Seq(strataCol))
        .filter(scoreCol >= col(thrCol))
        .drop(thrCol)
        .withColumn("pr", lit(null).cast("double"))
      exact(small).unionByName(keptBig)
    }
  }

  /** Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    * `nMerges` merge rules over the corpus word-frequency table. Each
    * round counts adjacent symbol pairs (weighted by word frequency),
    * takes a BATCH of merges under a TOTAL order (count desc, then pair
    * asc — ties are where BPE implementations silently diverge), and
    * rewrites the symbol strings with leftmost-non-overlapping merges.
    *
    * Batching rule (the round-count cut for distributed training): a
    * round takes the longest PREFIX of the sorted pair table whose
    * pairs are pairwise symbol-DISJOINT, stopping at the first pair
    * that conflicts with an earlier selection (capped at `batchCap`).
    * The prefix rule — unlike skip-and-continue greedy — is provably
    * equal to one-merge-at-a-time training whenever the round's pair
    * counts are tie-free: (1) disjoint merges neither create nor
    * destroy each other's adjacencies, so batched counts equal serial
    * recounts; (2) every NEW pair created by merging (a,b) is bounded
    * by a generator pair sharing a or b — count(x,ab) <= count(x,a),
    * count(ab,y) <= count(b,y) — and any such conflicting pair ranked
    * above a batched pair would have STOPPED the prefix first, so no
    * new pair can outrank a batched one mid-batch. (Skip-and-continue
    * fails exactly there: a skipped conflicting pair keeps its count
    * and serial would merge it before the batch's later picks.) With
    * exact count ties across the batch boundary the model can reorder
    * commuting merges; segmentation output is unaffected.
    *
    * Scale shape: training runs on DISTINCT words + counts — the
    * classic collapse that makes BPE tractable (corpus tokens → unique
    * words); pair counting partial-aggregates map-side; the per-round
    * batch is a <= batchCap-row collect (the merge rules ARE the model —
    * a metadata-sized driver value, like connected-components'
    * convergence flag); each round's rewrite chains the batch's
    * replaces in ONE narrow projection over the word table, lineage
    * truncated per round (lazy localCheckpoint) exactly as in
    * [[graft.dedup.Dedup.connectedComponents]]. Word-frequency skew is
    * irrelevant: the heavy word is ONE row here. Training is iterative
    * (not SQL-expressible); segmentation is oracle-gated on the frozen
    * [[BpeFixture]] model (q94). */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int,
               batchCap: Int = 64): Seq[(String, String)] =
    bpeTrainWithStats(docs, textCol, nMerges, batchCap)._1

  /** [[bpeTrain]] plus the number of Spark rounds it took — the measured
    * quantity the batching exists to cut (serial = one round per merge;
    * prefix batching = one round per disjoint prefix).
    *
    * Batches follow the provably-serial-equal prefix rule. Measured
    * bound (SCALE.md): the prefix stops at the FIRST symbol conflict,
    * and the top of a natural pair table is dominated by a few hot
    * symbols, so batches average ~3–4 merges regardless of batchCap
    * (50k-word Zipf corpus: 1000 merges / 297 rounds). That bound is
    * inherent — skipping a conflicted pair and continuing is NOT
    * serial-equal (the skipped pair may still outrank later picks after
    * the batch applies; see the batching-rule scaladoc above). */
  def bpeTrainWithStats(docs: DataFrame, textCol: String, nMerges: Int,
                        batchCap: Int = 64): (Seq[(String, String)], Int) = {
    import java.util.regex.Matcher
    require(nMerges >= 0, s"nMerges must be >= 0; got $nMerges")
    require(batchCap >= 1, s"batchCap must be >= 1; got $batchCap")
    var words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(concat(concat_ws(" ", split(col("w"), "")), lit(" </w>")).as("syms"),
        col("cnt"))
      .localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    var rounds = 0
    while (merges.length < nMerges && !exhausted) {
      val take = math.min(batchCap, nMerges - merges.length)
      val tail = greatest(size(col("s")) - 1, lit(0))
      val top = words.withColumn("s", split(col("syms"), " "))
        .select(col("cnt"), explode(zip_with(
          slice(col("s"), lit(1), tail), slice(col("s"), lit(2), tail),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(take).collect()
      if (top.isEmpty) exhausted = true
      else {
        rounds += 1
        val used = scala.collection.mutable.HashSet.empty[String]
        val pairs = top.iterator.map(row => (row.getString(0), row.getString(1)))
        // longest pairwise-disjoint PREFIX: stop at the first conflict
        // (the head never conflicts, so every round advances >= 1
        // merge; a self-pair (a,a) just claims its one symbol)
        val selected = pairs.takeWhile { case (l, r) =>
          val ok = !used.contains(l) && !used.contains(r)
          if (ok) { used += l; used += r }
          ok
        }.toSeq
        merges ++= selected
        val rewritten = selected.foldLeft(col("syms")) { case (e, (l, r)) =>
          regexp_replace(e, mergePattern(l, r), Matcher.quoteReplacement(l + r))
        }
        words = words.withColumn("syms", rewritten)
          .localCheckpoint(eager = false)
      }
    }
    (merges.toSeq, rounds)
  }

  /** Leftmost-non-overlapping whole-symbol pair match: lookaround keeps
    * the delimiting spaces unconsumed so adjacent merge sites ("a b a b")
    * all rewrite in one pass. Executor-side Java regex only (training /
    * segmentation never feeds a SQL oracle, so RE2 portability is not
    * required here, unlike the PII patterns). */
  private def mergePattern(l: String, r: String): String = {
    import java.util.regex.Pattern
    "(?<=\\s|^)" + Pattern.quote(l) + " " + Pattern.quote(r) + "(?=\\s|$)"
  }

  /** Apply learned BPE merges to a text column: per word, split to
    * characters + the `</w>` end marker, then replay the merge rules in
    * rank order. A pure narrow map (nMerges chained regexp_replace
    * kernels inside one `transform` lambda — no shuffle, no UDF);
    * returns the array of subword tokens. */
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column = {
    import java.util.regex.Matcher
    val segmentWord: Column => Column = w => {
      val base = concat(concat_ws(" ", split(w, "")), lit(" </w>"))
      merges.foldLeft(base) { case (e, (l, r)) =>
        regexp_replace(e, mergePattern(l, r), Matcher.quoteReplacement(l + r))
      }
    }
    // tokens('') yields [""]; drop empty tokens so whitespace-only docs
    // segment to [] rather than a spurious ["", "</w>"].
    val words = filter(tokens(lower(text)), w => length(w) > lit(0))
    flatten(transform(words, w => split(segmentWord(w), " ")))
  }

  /** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer TRAINING —
    * the BPE sibling: instead of greedy pair merges, a piece VOCABULARY
    * with costs, fit by hard (Viterbi) EM:
    *
    *   seed  — every substring of length ≤ `maxPieceLen` of the
    *           DISTINCT-word table (the q116 collapse: corpus tokens →
    *           unique words × counts), weighted by word count; the top
    *           `vocabSize` by (freq desc, piece asc) plus ALL single
    *           characters (coverage);
    *   E     — segment each distinct word by Viterbi under the current
    *           integer milli-nat costs
    *           ([[graft.functions.UnigramSegmentExpr]] — the model is
    *           metadata-sized and rides the expression, so the E-step
    *           is ONE distributed narrow pass over the word table);
    *   M     — piece counts from the segmentation (weighted by word
    *           count, exact integer aggregation) → new costs
    *           cost(p) = round(−1000·ln(count_p / Σcounts));
    *   prune — keep single chars + the top multi-char pieces by
    *           (count desc, piece asc) — an integer/lexicographic
    *           decision, no float in the keep/drop rule.
    *
    * MONOTONICITY (spec-gated): per round, the total integer Viterbi
    * cost Σ_w cnt_w · cost(viterbi_w) is non-increasing up to the
    * documented rounding slack — the E-step minimizes cost under the
    * current model, the M-step minimizes expected cost under the new
    * counts (Gibbs), and the only leak is the ±0.5 milli-nat rounding
    * of each piece cost, bounded by half the total piece occurrences.
    * Full soft-EM (forward-backward expected counts) trades this
    * integer audit trail for marginally better likelihood; the hard-EM
    * form is the one whose every decision an oracle can replay.
    *
    * Scale shape: rounds × one job over DISTINCT words (never corpus
    * tokens); the model is a ≤ vocabSize collect per round (the
    * centroid/codebook convention); segmentation at inference is the
    * frozen-fixture gated operator (q223, the q94 discipline).
    * Returns (vocab as (piece, count, costMilli) sorted by piece,
    * per-round total Viterbi costs). */
  def unigramTrainWithStats(docs: DataFrame, textCol: String,
                            vocabSize: Int, maxPieceLen: Int = 4,
                            emRounds: Int = 4, unkCost: Long = 20000L)
      : (Seq[(String, Long, Long)], Seq[Long]) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1; got $vocabSize")
    require(emRounds >= 1, s"emRounds must be >= 1; got $emRounds")
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)

    def toCosts(counts: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
      val total = counts.map(_._2).sum.toDouble
      counts.map { case (p, c) =>
        (p, c, math.round(1000.0 * math.log(total / c))) }
    }
    def pruned(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
      // "single char" = single CODE POINT (Spark's substr/length and
      // the segmenter's UNK fallback are both code-point based)
      val (singles, multi) =
        counts.partition(p => p._1.codePointCount(0, p._1.length) == 1)
      singles ++ multi.sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - singles.size))
    }

    // seed vocabulary from substring frequencies
    val pieceCounts = words.select(col("cnt"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => col("w").substr(i, l))))).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("n"))
      .persist()
    // top substrings by frequency, PLUS every single character: the
    // alphabet is metadata-sized, and a rare single outside the top
    // 4x substrings must still enter the seed vocab (coverage — UNK
    // is the fallback for unseen text, not for the training corpus's
    // own alphabet)
    val subFreq = try {
      val top = pieceCounts
        .orderBy(col("n").desc, col("p").asc)
        .limit(vocabSize * 4) // metadata-sized: bounded by 4x target vocab
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val singles = pieceCounts.filter(length(col("p")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      (top ++ singles).distinct.toSeq
    } finally { pieceCounts.unpersist(blocking = false); () }
    var vocab = toCosts(pruned(subFreq))

    val roundCosts = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 1 to emRounds) {
      val segs = graft.functions.TextFunctions.unigramSegment(col("w"),
        vocab.map(_._1), vocab.map(_._3), unkCost, maxPieceLen)
      val costMap = map(vocab.flatMap { case (p, _, c) =>
        Seq(lit(p), lit(c)) }: _*)
      // ONE pass: per-word segments + their exact integer cost
      val seg = words.select(col("cnt"), segs.as("segs"))
        .withColumn("wcost", aggregate(col("segs"), lit(0L),
          (acc, p) => acc + coalesce(element_at(costMap, p), lit(unkCost))))
        .localCheckpoint(eager = false)
      val r = seg.agg(sum(col("cnt") * col("wcost"))).head()
      roundCosts += (if (r.isNullAt(0)) 0L else r.getLong(0))
      val newCounts = seg
        .select(col("cnt"), explode(col("segs")).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("n"))
        .collect().map(r2 => (r2.getString(0), r2.getLong(1))).toSeq
      vocab = toCosts(pruned(newCounts))
    }
    (vocab.sortBy(_._1), roundCosts.toSeq)
  }

  /** Corpus-LM fluency proxy: per document, the mean corpus frequency of
    * its word bigrams. Documents whose bigrams are common corpus-wide
    * read as fluent (or templated); documents full of corpus-rare
    * bigrams are noisy or novel — the cheap distributed stand-in for a
    * perplexity filter when no trained LM is in the loop (cf. CCNet's
    * LM-based quality bucketing, Wenzek et al. 2020). Frequencies are
    * exact integers (the q64 bigram LM as a table); `avg_freq` is the
    * single final IEEE division, so results are engine-portable.
    *
    * Scale shape: the (doc, bigram) stream is linear in corpus tokens;
    * the LM groupBy partial-aggregates map-side; the stream↔LM join
    * shuffles (gram, id, count) rows only — at corpus scale swap the
    * gram string for its md5-low64 hash (8-byte keys, same plan), and
    * persist/write the tokenized stream once instead of deriving it in
    * both branches. Docs with < 2 tokens report n_bigrams = 0 and
    * avg_freq = 0. */
  /** Smoothed bigram language-model scoring (the CCNet-style quality
    * filter shape): train add-one-smoothed conditional probabilities
    * p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) on `train`, score EVERY document
    * in `docs` by its mean bigram probability — unseen grams and unseen
    * history words fall back to the smoothing mass instead of zeroing
    * the score, which is the point of running it on data the counts
    * never saw. [[bigramFluency]] is the unsmoothed in-corpus variant.
    *
    * Engine-parity: counts and V are exact integers; each per-bigram
    * probability is ONE IEEE division rounded to 12 dp (double→decimal
    * cast, identical in Spark and DuckDB — the dotExact policy), the
    * per-doc sum is decimal (order-free), and the mean is one final
    * IEEE division rounded to 4 dp.
    *
    * Scale shape: two gram-keyed count aggregations over the train
    * split (map-side combine), two gram-keyed joins back on the scored
    * stream, a 1-row broadcast for V — no driver participation, no
    * vocabulary in the plan. Returns (id, n_bigrams, lm_score). */
  def bigramLmScore(docs: DataFrame, train: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    def bigrams(df: DataFrame) = {
      val toks = tokens(lower(col(textCol)))
      val tail = greatest(size(col("__toks")) - 1, lit(0))
      df.select(col(idCol), toks.as("__toks"))
        .withColumn("__pairs", zip_with(
          slice(col("__toks"), lit(1), tail), slice(col("__toks"), lit(2), tail),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .select(col(idCol), explode(col("__pairs")).as("bg"))
        .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    }
    val trainToks = train
      .select(explode(tokens(lower(col(textCol)))).as("w"))
    val c1 = trainToks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("v"))
    val c12 = bigrams(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val scored = bigrams(docs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1.select(col("w").as("w1"), col("c1")), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        ((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          .cast("decimal(30,12)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("psum"))
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("lm_score",
        when(col("n_bigrams") > 0,
          round(col("psum").cast("double") / col("n_bigrams").cast("double"), 4))
          .otherwise(lit(0.0)))
      .select(col(idCol), col("n_bigrams"), col("lm_score"))
  }

  /** Train an integer-count Naive-Bayes-family text classifier — the
    * trained-gate stage (FineWeb-Edu / CCNet-classifier pattern) the
    * heuristic curation stack composes with, built entirely on exact
    * counts so scoring replays bit-identically in any engine.
    *
    * Features are HASHED tokens: bucket = md5-low64(token) mod
    * `buckets` (power of two REQUIRED — the signed-Spark / unsigned-
    * DuckDB residues only agree when `buckets` divides 2^64). Feature
    * hashing is what bounds the model at scale: ≤ classes × buckets
    * rows whatever the corpus vocabulary, one partial-aggregating pass
    * over (label, bucket) to train (the bigramLmScore discipline).
    *
    * Model rows: (label, bucket, cnt) sparse counts, denormalized with
    * per-class totals (class_tokens, class_docs) — self-contained for
    * [[nbScore]], for a stored model table, and for the metadata-sized
    * [[nbModelCollect]] the chunk scorer uses. */
  def nbTrain(train: DataFrame, labelCol: String, textCol: String,
              buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2; got $buckets")
    val base = train.filter(col(labelCol).isNotNull &&
      col(textCol).isNotNull && length(trim(col(textCol))) > 0)
    val toks = base
      .select(col(labelCol).as("label"),
        explode(tokens(lower(col(textCol)))).as("__w"))
      .select(col("label"),
        pmod(KmvDistinct.md5Low64(col("__w")), lit(buckets.toLong))
          .as("bucket"))
    val cnts = toks.groupBy(col("label"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val ctok = toks.groupBy(col("label"))
      .agg(count(lit(1)).as("class_tokens"))
    val cdoc = base.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("class_docs"))
    cnts.join(ctok, Seq("label")).join(cdoc, Seq("label"))
  }

  /** Score documents with an [[nbTrain]] model — ZERO floating point
    * in the decision. With add-one smoothing over the fixed bucket
    * space, the summed per-token likelihood collapses to ONE exact
    * rational per class:
    *
    *   Σ_t (cnt(c, b_t) + 1) / (class_tokens_c + B)
    *     = (n_tokens + S_c) / (class_tokens_c + B),
    *   S_c = Σ_t cnt(c, b_t)   (exact integer match mass)
    *
    * and with the class prior the score is the rational
    * class_docs_c · (n_tokens + S_c) / (class_tokens_c + B) — so the
    * argmax is a CROSS-MULTIPLIED integer comparison (decimal(38,0)
    * products; the q201 rationals-order-without-division discipline),
    * ties to the lexicographically smallest label, no libm anywhere.
    * Unseen-token mass is where this form earns its keep: a doc whose
    * tokens never hit a trained bucket still scores
    * class_docs·n/(class_tokens+B) per class — never zero, and the
    * prediction falls back to the prior/denominator argmax (spec'd).
    *
    * Scale shape: tokens hash to 8-byte bucket keys; the score join
    * shuffles (bucket, id, tf) rows against the ≤ classes×B model;
    * class stats broadcast (classes-sized); the per-doc argmax folds a
    * classes-length collected array. Docs with no tokens (null/empty/
    * whitespace text) are unclassifiable and ABSENT from the output —
    * document, don't silently default. Returns (id, n_tokens,
    * pred_label, s_match) — s_match is the predicted class's match
    * mass.
    *
    * What the SUM form can and cannot learn (documented, measured):
    * classes separated by VOCABULARY (language ID, topic markers —
    * q211 recovers planted classes 100/100 across the split) are its
    * home turf; threshold-style concepts (doc length, punct ratio —
    * the q90 percentile gate) are invisible to aggregate unigram match
    * mass, and q212 measures exactly that disagreement. The product/
    * log NB that could weight rare tokens is deliberately NOT offered:
    * libm log is not engine-portable (parity rule #6), and a
    * classifier gate whose replay can drift cannot be oracle-gated.
    * Envelope: the cross-multiplied products need class_docs·(n+S)·
    * (class_tokens+B) < 10^38 — pre-scale counts past ~10^12-token
    * classes. */
  def nbScore(docs: DataFrame, model: DataFrame, idCol: String,
              textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2; got $buckets")
    val dec = "decimal(38,0)"
    val classStats = model
      .select(col("label"), col("class_tokens"), col("class_docs"))
      .distinct()
    val docToks = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .select(col(idCol),
        pmod(KmvDistinct.md5Low64(col("__w")), lit(buckets.toLong))
          .as("bucket"))
    val tf = docToks.groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("__tf"))
    val nTok = docToks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"))
    val s = tf
      .join(model.select(col("label"), col("bucket"), col("cnt")),
        Seq("bucket"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("__tf") * col("cnt")).as("__s"))
    val cand = nTok.crossJoin(broadcast(classStats))
      .join(s, Seq(idCol, "label"), "left")
      .withColumn("__s", coalesce(col("__s"), lit(0L)))
      .select(col(idCol), col("n_tokens"), struct(
        col("label"),
        (col("class_docs").cast(dec) *
          (col("n_tokens") + col("__s")).cast(dec)).as("num"),
        (col("class_tokens") + lit(buckets.toLong)).cast(dec).as("den"),
        col("__s").as("s")).as("__c"))
    // order-independent argmax fold: strictly-greater rational wins,
    // equal rationals break to the smaller label
    val best = aggregate(col("__cs"),
      lit(null).cast(
        "struct<label:string,num:decimal(38,0),den:decimal(38,0),s:bigint>"),
      (b, c) => when(b.isNull ||
          c.getField("num") * b.getField("den") >
            b.getField("num") * c.getField("den") ||
          (c.getField("num") * b.getField("den") ===
            b.getField("num") * c.getField("den") &&
            c.getField("label") < b.getField("label")),
        c).otherwise(b))
    cand.groupBy(col(idCol))
      .agg(max(col("n_tokens")).as("n_tokens"),
        collect_list(col("__c")).as("__cs"))
      .withColumn("__best", best)
      .select(col(idCol), col("n_tokens"),
        col("__best.label").as("pred_label"),
        col("__best.s").as("s_match"))
  }

  /** Collected [[nbTrain]] model for expression-level scoring — the
    * centroid/codebook convention: the collect is METADATA-sized
    * (≤ classes × buckets rows, independent of corpus size), so the
    * driver never touches fact-scale data. */
  case class NbLocalModel(labels: Seq[String], counts: Seq[Map[Long, Long]],
                          classTokens: Seq[Long], classDocs: Seq[Long],
                          buckets: Int)

  def nbModelCollect(model: DataFrame, buckets: Int = 4096): NbLocalModel = {
    val rows = model
      .select(col("label"), col("bucket"), col("cnt"),
        col("class_tokens"), col("class_docs"))
      .collect() // <= classes x buckets rows by construction
    val byLabel = rows.groupBy(_.getAs[String]("label")).toSeq.sortBy(_._1)
    NbLocalModel(
      labels = byLabel.map(_._1),
      counts = byLabel.map(_._2.map(r =>
        r.getAs[Long]("bucket") -> r.getAs[Long]("cnt")).toMap),
      classTokens = byLabel.map(_._2.head.getAs[Long]("class_tokens")),
      classDocs = byLabel.map(_._2.head.getAs[Long]("class_docs")),
      buckets = buckets)
  }

  /** [[languageMixProfile]] with the chunk scorer RE-POINTED at a
    * trained [[nbTrain]] classifier (VERDICT r15 "what's wrong #4":
    * the marker scorer is a handful of stopwords; a trained model
    * makes the mixing profile real). Same chunking, same dominant /
    * n_langs / mixed conventions — including 'und' for chunks with
    * zero match mass in EVERY class — but each chunk's verdict is the
    * exact-rational NB argmax over the collected model
    * ([[graft.functions.TextExprs NbClassifyExpr]], one native pass
    * per chunk, no shuffle, no float). */
  def languageMixProfileNb(df: DataFrame, idCol: String, textCol: String,
                           model: NbLocalModel,
                           chunkTokens: Int = 16): DataFrame =
    chunkedLanguageMix(df, idCol, textCol, chunkTokens)(chunk =>
      graft.functions.TextFunctions.nbClassify(chunk, model.labels, model.counts,
        model.classTokens, model.classDocs, model.buckets))

  def bigramFluency(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val tail = greatest(size(col("__toks")) - 1, lit(0))
    val base = docs
      .select(col(idCol), toks.as("__toks"))
      .withColumn("__bigrams", zip_with(
        slice(col("__toks"), lit(1), tail), slice(col("__toks"), lit(2), tail),
        (a, b) => concat_ws(" ", a, b)))
    val stream = base.select(col(idCol), explode(col("__bigrams")).as("bg"))
    val lm = stream.groupBy(col("bg")).agg(count(lit(1)).as("freq"))
    val perDoc = stream.join(lm, Seq("bg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("freq")).as("sum_freq"))
    base.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("sum_freq", coalesce(col("sum_freq"), lit(0L)))
      .withColumn("avg_freq",
        when(col("n_bigrams") > 0,
          col("sum_freq").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** EXACT φ-heavy hitters (φ = 1/supportDenom) via a Misra–Gries sketch
    * prefilter plus one exact confirming pass — identical output to
    * `groupBy(v).count().filter(cnt * D >= N)` (N = total non-null rows,
    * D = supportDenom), but without ever shuffling the full distinct-key
    * stream (Misra & Gries 1982; the merge bound is Agarwal et al.,
    * "Mergeable Summaries", PODS 2012).
    *
    * Three stages, one lazy plan:
    *  1. Per-partition MG summary of size D (`mapPartitions`): any global
    *     heavy hitter has c_p >= N_p/D in at least one partition
    *     (pigeonhole over Σc_p >= ΣN_p/D), and MG retains every key whose
    *     partition count exceeds N_p/(D+1) — so the union of summaries is
    *     a guaranteed SUPERSET of the heavy hitters. Each partition emits
    *     <= D (key, residual) rows plus one (null, N_p) marker.
    *  2. Candidate merge + prune: summed residuals underestimate a true
    *     count by at most N/(D+1) total, so a real heavy hitter's merged
    *     residual is >= N/D - N/(D+1) = N/(D(D+1)); candidates below that
    *     are provably not heavy and are dropped before the expensive pass.
    *     The compare runs in decimal(38,0) — `est * D * (D+1)` overflows
    *     Long at corpus scale.
    *  3. Exact confirm: re-scan values, semi-join to the candidate set
    *     (AQE broadcasts it when small — the realistic case), exact count,
    *     integer-exact threshold `cnt * D >= N`.
    *
    * 100 TB posture: stage 1's shuffle is <= D rows per upstream
    * partition regardless of key cardinality; stage 3 aggregates only
    * candidate-matching rows. The naive plan shuffles every distinct key
    * with its partial counts — fine for 10^6 keys, not for 10^11 (URL or
    * n-gram keyspaces). No accuracy trade: the result is exact, the
    * sketch only PRUNES. Null values are excluded (they are not items).
    *
    * The summary is lazily localCheckpoint'ed: totals and candidates both
    * branch from it, and the checkpoint materializes pass 1 once instead
    * of re-running it per branch (same convention as [[repetitionGate]]).
    */
  def heavyHitters(df: DataFrame, valueCol: Column, supportDenom: Int): DataFrame = {
    require(supportDenom >= 2 && supportDenom <= 10000000,
      s"supportDenom must be in [2, 1e7]; got $supportDenom")
    val spark = df.sparkSession
    import spark.implicits._
    val d = supportDenom
    val vals = df.select(valueCol.cast("string").as("v")).filter(col("v").isNotNull)
    val summaries = vals.as[String].mapPartitions { it =>
      // mutable long[1] cells, not boxed Longs: the hot path is one hash
      // lookup + in-place increment per row — a boxed-value map would
      // allocate a fresh Long per increment (measured ~2x slower on the
      // 64M-row fixture, SCALE.md "Heavy hitters"); null cell = missing key
      val m = new java.util.HashMap[String, Array[Long]](d * 2)
      var n = 0L
      while (it.hasNext) {
        val t = it.next(); n += 1
        val cell = m.get(t)
        if (cell != null) cell(0) += 1L
        else if (m.size < d) m.put(t, Array(1L))
        else {
          // MG decrement round: cancel one occurrence of every tracked key
          // against the new arrival (which is dropped at implicit count 0).
          // Amortized O(1) per item: each round consumes d+1 count units.
          val es = m.entrySet().iterator()
          while (es.hasNext) {
            val e = es.next()
            if (e.getValue()(0) == 1L) es.remove() else e.getValue()(0) -= 1L
          }
        }
      }
      import scala.jdk.CollectionConverters._
      Iterator.single((null: String, n)) ++
        m.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue()(0)))
    }.toDF("v", "c").localCheckpoint(eager = false)
    val totals = summaries.filter(col("v").isNull)
      .agg(coalesce(sum("c"), lit(0L)).as("n"))        // exactly one row
    val dec = "decimal(38,0)"
    val cands = summaries.filter(col("v").isNotNull)
      .groupBy("v").agg(sum("c").as("est"))
      .crossJoin(broadcast(totals))
      .filter(col("est").cast(dec) * lit(d.toLong * (d + 1L)) >= col("n").cast(dec))
      .select("v")
    // broadcast is EXPLICIT, not left to the planner: the candidate side
    // descends from a localCheckpoint whose size stats are unknown, so
    // Spark plans a sort-merge join — which shuffles the entire value
    // stream and erases the sketch's whole point (measured: 719 MB
    // shuffled at the 64M-row fixture of SCALE.md "Heavy hitters",
    // within noise of the naive plan). The hint is safe by construction:
    // survivors of the residual prune number <= D(D+1) (each has est >=
    // N/(D(D+1)) and the residuals sum to <= N), and realistic key
    // distributions leave far fewer.
    vals.join(broadcast(cands), "v")
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt").cast(dec) * lit(d.toLong) >= col("n").cast(dec))
      .select(col("v"), col("cnt"))
  }

  /** Token-distribution drift between two corpus slices — the mixture
    * monitoring pass that catches a source going stale or a scraper
    * changing behavior between snapshots. Pearson's chi-square over the
    * union token vocabulary, in the algebraically reduced form
    *   χ² = Σ_t (c1_t·N2 − c2_t·N1)² / (n_t·N1·N2),  n_t = c1_t + c2_t
    * (derivation: both expected-count terms share the factor
    * d = c1·N2 − c2·N1). Chi-square, not KL/G-test, on purpose: it is
    * RATIONAL — no libm log, whose last-ulp results differ across
    * engines and would break replay.
    *
    * Exactness: counts and d are exact DECIMAL(38,0) integers; each
    * token's contribution is ONE fixed-shape double expression (d²/n_t
    * — exact-int d cast to double, one multiply, one divide), which is
    * IEEE-identical in any replaying engine and per-row, so no
    * summation-order hazard exists in the output itself. Returns the
    * per-token contribution table (largest drivers first is one
    * orderBy away); the scalar χ² is Σ contribution / (N1·N2) — a
    * caller summing it across engines should apply the decimal-sum
    * policy (round 12 dp → decimal → exact sum, bigramLmScore-style).
    *
    * Scale posture: two token-count aggs (map-side combinable — the
    * shuffle carries (token, count), never the corpus), one full outer
    * join on the union vocabulary. Stopword-heavy tokens are heavy
    * VALUES here, not heavy join keys (counts are pre-aggregated, one
    * row per token per side). */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(explode(tokens(col(textCol))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as(out))
    val ca = counts(a, "__c1")
    val cb = counts(b, "__c2")
    val joined = ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("__c1"), lit(0L)).as("c1"),
        coalesce(col("__c2"), lit(0L)).as("c2"))
    val dec = "decimal(38,0)"
    val totals = joined.agg(sum(col("c1")).as("__n1"), sum(col("c2")).as("__n2"))
    // The contribution stays a PLAIN DOUBLE: it is per-row (never
    // aggregated), and the fixed-shape op chain (exact-int d → double,
    // one multiply, one divide) is IEEE-identical in any replaying
    // engine. A decimal cast here would actually BREAK parity — at
    // d²/n magnitudes the 12th decimal sits below the double's ulp,
    // where Spark's shortest-repr rounding and an exact-binary-
    // expansion rounding legitimately disagree (measured: 2-ulp
    // mismatches at 1e8). Decimal casts belong on SUMMED doubles
    // (bigramLm), not on per-row outputs.
    joined.crossJoin(broadcast(totals))
      .select(col("token"), col("c1"), col("c2"),
        {
          val d = (col("c1").cast(dec) * col("__n2").cast(dec) -
            col("c2").cast(dec) * col("__n1").cast(dec)).cast("double")
          (d * d / (col("c1") + col("c2")).cast("double")).as("contribution")
        })
  }

  /** Inverted index build: token → document frequency + the first
    * `maxPostings` posting doc ids — the grep-the-corpus tool every
    * curation pipeline grows (find the documents containing a leaked
    * eval answer / a PII string / a rare term) without re-scanning
    * 100 TB of text per lookup.
    *
    * Bounded state by construction: postings are capped BEFORE any
    * collect_list via a rank-limit window (`rn <= maxPostings`), which
    * Spark's InferWindowGroupLimit turns into a map-side group limit —
    * a stopword appearing in every document ships ≤ maxPostings rows
    * per map task, never its full posting list, and the list agg buffer
    * never exceeds maxPostings entries. The full document frequency
    * comes from a separate map-side-combinable count agg. Postings are
    * emitted as a comma-joined ascending id string (deterministic, and
    * replayable as DuckDB string_agg ORDER BY).
    *
    * Per-doc token dedup happens inside the row (`array_distinct`) —
    * no corpus-wide distinct shuffle; what shuffles is (token, doc_id)
    * pairs, 16 bytes each, never text. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int): DataFrame = {
    require(maxPostings > 0, s"maxPostings must be > 0, got $maxPostings")
    // distinct() across ROWS, not just within one (array_distinct): a
    // doc id appearing in several input rows (re-crawl, sharded text)
    // must still count once per token — without this, doc_freq inflates
    // and postings repeat ids. The pairs are 16-byte (token, id) rows;
    // the distinct shuffles exactly what the window shuffles anyway.
    val pairs = docs
      .select(col(idCol).as("__doc"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val dfCounts = pairs.groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("__doc").asc)
    val postings = pairs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPostings)
      .groupBy(col("token"))
      // sort the TYPED ids, then render: sorting string-cast ids would
      // order "10" before "9"
      .agg(array_join(transform(sort_array(collect_list(col("__doc"))),
        d => d.cast("string")), ",").as("postings"))
    dfCounts.join(postings, Seq("token"))
  }
}
