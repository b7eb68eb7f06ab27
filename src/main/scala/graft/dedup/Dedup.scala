package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup operators (SURVEY.md §2.1 R9–R12, §2.4).
  *
  * The reference's core relational construct is "latest change per key"
  * (`tasks/user_profile/clevertap.py:30-53`): a CTE computing the per-key
  * max `_commit_timestamp` self-joined back to the change set, plus a
  * `row_number` rank filter. The idiomatic Spark form is a single window —
  * one shuffle, no self-join. Tie semantics (SURVEY R11): the reference's
  * join form lets equal-timestamp duplicates survive; we use an explicit
  * deterministic tiebreak instead and keep the join form for equivalence
  * tests.
  */
object Dedup extends graft.core.Logging {

  /** R9–R12 window form: latest row per key with a deterministic tiebreak.
    * One hash-partition shuffle on `keys`; scales linearly — at 100 TB the
    * only knob is shuffle partition count (plus AQE skew splitting for hot
    * keys, which Spark applies to this exchange automatically). */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Latest-per-key as an aggregation: `max(struct(orderCols…, rest…))`
    * per key. Semantically identical to the window form with all-ascending
    * tiebreaks reversed (latest = max), but the physical plan does
    * MAP-SIDE PARTIAL AGGREGATION: only one candidate row per key per
    * input partition crosses the shuffle, so a hot key costs one row per
    * upstream task instead of its entire change history — the form to
    * prefer at 100 TB when keys are skewed. The struct puts the ordering
    * columns first; remaining columns make the comparison total. */
  def latestPerKeyAgg(df: DataFrame, keys: Seq[String],
                      orderColNames: Seq[String]): DataFrame = {
    val rest = df.columns.toSeq.filterNot(c => keys.contains(c) || orderColNames.contains(c))
    val packedCols = (orderColNames ++ rest).map(col)
    val out = keys.map(col) ++ (orderColNames ++ rest).map(c => col(s"__m.$c").as(c))
    df.groupBy(keys.map(col): _*)
      .agg(max(struct(packedCols: _*)).as("__m"))
      .select(out: _*)
      // restore the input column order
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Two-stage salted window form of [[latestPerKey]] for skewed keys.
    *
    * Stage 1 ranks within (keys, salt) — the hot key's history spreads
    * over `salts` shuffle partitions, each sorting 1/salts of it — and
    * keeps one survivor per (key, salt). Stage 2 ranks the at-most-`salts`
    * survivors per key globally.
    *
    * MEASURED CAVEAT (SCALE.md skew table + trend, round 9): on Spark
    * 3.5+ the plain [[latestPerKey]] is already skew-proof for this
    * shape — `InferWindowGroupLimit` turns the rn=1 filter into a
    * map-side group limit, so the hot key ships ≤1 row per map task and
    * this rewrite's second shuffle is overhead at moderate sizes
    * (0.98 s vs 0.60 s on the 50 %-hot-key fixture; at 4× that fixture
    * the ordering flips — 2.61 s vs 3.26 s — because both forms are
    * dominated by the per-task partial sort and (key, salt) partitions
    * sort smaller runs). Either way [[latestPerKeyAgg]] beats both at
    * every measured size (exponent 0.30); prefer it for scale, the
    * plain form for convenience, and this form for engines/plan shapes
    * without group-limit inference. For windows whose FULL output is
    * needed (no rank filter — the shape group-limit cannot prune), see
    * [[graft.core.Skew.saltedRowNumber]].
    *
    * `saltExpr` must be independent of `keys` and deterministic per row
    * (derive from a row identity, not `rand()` — retries re-draw). It is
    * normalized with `coalesce(pmod(_, salts), 0)` so misuse can't route
    * rows outside [0, salts) (see [[graft.core.Skew.saltedJoinBy]]). */
  def latestPerKeySalted(df: DataFrame, keys: Seq[String], orderBy: Seq[Column],
                         saltExpr: Column, salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1; got $salts")
    // same guard as Skew.saltedRowNumber / Similarity.topKPerQuery:
    // withColumn would silently replace a caller's column of the same
    // name and the final drop would destroy it
    val clash = Seq("__salt", "__rn").filter(df.columns.contains)
    require(clash.isEmpty,
      s"latestPerKeySalted: column(s) ${clash.mkString(", ")} already exist in input")
    val salted = df.withColumn("__salt",
      coalesce(pmod(saltExpr.cast("long"), lit(salts.toLong)), lit(0L)))
    val w1 = Window.partitionBy((keys :+ "__salt").map(col): _*).orderBy(orderBy: _*)
    val survivors = salted
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1)
      .drop("__rn", "__salt")
    latestPerKey(survivors, keys, orderBy)
  }

  /** Exact dedup on a subset of columns, keeping the row with the smallest
    * value of `keep` (deterministic, unlike dropDuplicates). */
  def exactDedup(df: DataFrame, keys: Seq[String], keep: Column): DataFrame =
    latestPerKey(df, keys, Seq(keep.asc))

  // --------------------------------------------------------------------
  // Near-duplicate text dedup: shingle → MinHash → LSH bands → candidate
  // pairs → exact-Jaccard verify. All set math happens on hashed shingles
  // (ints), never on raw text, so the shuffle payload stays small at scale.
  // --------------------------------------------------------------------

  /** Normalize text for dedup: lowercase, collapse whitespace. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Shared gram-hash selector for every token-gram kernel in this file
    * (the span family's `gramHash` contract generalized): "xxhash64" =
    * chained token xxhash64 — the fast production default for the
    * shingle/minhash/jaccard/contamination family, no per-gram string
    * allocation; "md5" = md5-low64 of the literal space-joined gram —
    * allocation-heavier but cross-engine reproducible (DuckDB:
    * ('0x'||substr(md5(gram),1,16))::UBIGINT), which is what lets an
    * external engine replay the gram KEYS themselves. Both yield 8-byte
    * keys with the same collision math (≈ n²/2⁶⁵ spurious gram merges);
    * set-level results (Jaccard values, shared-gram counts) are
    * hash-independent because gram equality ⇔ key equality either way. */
  private def md5GramFlag(gramHash: String): Boolean = gramHash match {
    case "md5"      => true
    case "xxhash64" => false
    case other => throw new IllegalArgumentException(
      s"gramHash must be 'md5' or 'xxhash64'; got '$other'")
  }

  /** Word n-gram shingles of normalized text as a deduped array of 64-bit
    * hashes — a native expression (graft.functions.ShingleHashExpr): one
    * imperative pass per row, no per-gram string concatenation on the
    * default xxhash64 path (see [[md5GramFlag]] for the hash choice). */
  def shingles(c: Column, n: Int, gramHash: String = "xxhash64"): Column =
    // split(trim, \s+) ≡ split-on-space of collapse-whitespace, one regex
    // pass instead of two over the document
    graft.functions.HashFunctions.shingleHashes(split(trim(lower(c)), "\\s+"), n,
      md5GramFlag(gramHash))

  /** MinHash signature of a shingle-hash array: k reseeded hash-mins,
    * computed in one imperative pass per row (narrow, no shuffle). */
  def minhashSignature(shingleHashes: Column, k: Int): Column =
    graft.functions.HashFunctions.minhashSig(shingleHashes, k)

  /** LSH banding: signature array → `bands` band keys, each hashing `rowsPerBand`
    * consecutive signature entries. Rows sharing any band key are candidates.
    * One `transform` over the band indices keeps the expression tree and
    * its generated code one band wide at any band count: spelled out per
    * band, 32 bands generate a method past HotSpot's 8 KB huge-method
    * limit, which the JIT leaves interpreted. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)))).as("bucket")))

  /** Exact Jaccard similarity of two SORTED shingle-hash arrays (as
    * produced by shingles()): intersection via native merge scan —
    * |A∪B| = |A|+|B|−|A∩B|, no per-row hash set. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.HashFunctions.sortedIntersectSize(a, b).cast("double")
    val uni = size(a).cast("double") + size(b).cast("double") - inter
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** MinHash+LSH near-duplicate pairs over `df(idCol, textCol)`.
    *
    * Pipeline: shingle+sign per row (narrow) → explode band keys →
    * self-join on (band,bucket) (shuffle on band key, NOT on text) →
    * dedupe candidate pairs → exact-Jaccard verify on the candidates only.
    * At scale the candidate set is a tiny fraction of the n² pair space;
    * band-key hot buckets (boilerplate text) are the skew risk — AQE skew
    * join handles the exchange, and `maxBucket` caps pathological buckets.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, threshold: Double = 0.8,
                      gramHash: String = "xxhash64"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val base = df.select(col(idCol).as("id"),
        shingles(col(textCol), shingleN, gramHash).as("sh"))
      .filter(size(col("sh")) > 0)
    val banded = base
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))

    // Candidate ID pairs first (narrow shuffle payload: ids + band keys),
    // THEN join the shingle arrays back by id for the exact verify — the
    // wide arrays never ride through the band join. `selfJoin` keeps the
    // two sides one relation, so the signatures are computed once.
    val cand = selfJoin(banded, "bk")
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus near-duplicate join (MinHash+LSH between two tables):
    * which left-side documents have a near-duplicate on the right —
    * the NEAR-DUP form of benchmark decontamination ([[contamination]]
    * is the exact-n-gram form; paraphrased/lightly-edited leakage needs
    * this one). Both sides band independently (narrow signature passes);
    * candidates come from an ids-only equi-join on band keys ACROSS the
    * corpora (never within one), and every candidate is verified with
    * exact Jaccard — output is exact whenever LSH recall holds, same
    * contract and parameters as [[minhashNearDups]]. */
  def crossNearDups(left: DataFrame, right: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3, numHashes: Int = 64,
                    bands: Int = 16, threshold: Double = 0.8,
                    gramHash: String = "xxhash64"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    def prep(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"id_$side"),
          shingles(col(textCol), shingleN, gramHash).as(s"sh_$side"))
        .filter(size(col(s"sh_$side")) > 0)
    def banded(base: DataFrame, side: String) = base
      .withColumn("sig", minhashSignature(col(s"sh_$side"), numHashes))
      .select(col(s"id_$side"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
    val lb = prep(left, "a"); val rb = prep(right, "b")
    val cand = banded(lb, "a").join(banded(rb, "b"), Seq("bk"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(lb, Seq("id_a"))
      .join(rb, Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash (64-bit) of a token array: per-bit majority vote of token
    * hashes — a native expression (one imperative pass per row).
    * `md5Compat` swaps the token hash for the first 8 bytes of md5(token),
    * reproducible in any engine with md5 (used for oracle verification);
    * the default xxhash64 is faster and is the production path. */
  def simhash(tokens: Column, md5Compat: Boolean = false): Column =
    graft.functions.HashFunctions.simhash64(tokens, md5Compat)

  /** Hamming distance between two 64-bit simhashes via bit_count(xor). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on `maxHamming + 1` bit-chunks of the
    * 64-bit signature (pigeonhole: two signatures within Hamming distance
    * `maxHamming` differ in at most `maxHamming` chunks, so they must agree
    * exactly on at least one), then verify exact Hamming distance. The result
    * is EXACT for any `maxHamming` in [0, 63].
    *
    * Scale note: blocking selectivity degrades as chunks shrink — at
    * `maxHamming = 3` each chunk is 16 bits (65k buckets); at
    * `maxHamming = 8` each is ~7 bits (~128 buckets), so candidate volume
    * approaches n²/128 per chunk. Radius ≤ 4 is the STATED exact-mode
    * operating point (Manku et al., WWW'07 use 3–4 on 64-bit simhashes;
    * measured at 4× corpus scale the radius-8 exact path ran at exponent
    * 1.75 vs the banded mitigation's 0.97 — SCALE.md). A wider radius
    * therefore requires an explicit `allowWideRadius = true` opt-in;
    * without it the call fails fast and points at
    * [[simhashNearDupsBanded]], the measured scale-safe form. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, md5Compat: Boolean = false,
                      allowWideRadius: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    require(maxHamming <= 4 || allowWideRadius,
      s"simhashNearDups maxHamming=$maxHamming is past the exact-mode " +
        s"operating point (radius <= 4, Manku et al. WWW'07): blocking " +
        s"chunks shrink to ~${64 / (maxHamming + 1)} bits and candidate " +
        s"volume grows toward n^2/2^${64 / (maxHamming + 1)} (measured " +
        "super-linear at corpus scale, SCALE.md). Use " +
        "simhashNearDupsBanded(maxHamming, nChunks) for the measured " +
        "scale-safe form, or pass allowWideRadius = true to keep exact " +
        "recall at the documented super-linear cost.")
    if (maxHamming > 4)
      logger.warn(
        s"simhashNearDups maxHamming=$maxHamming blocks on ${maxHamming + 1} " +
          s"chunks of ~${64 / (maxHamming + 1)} bits — candidate volume grows " +
          s"toward n^2/2^(64/${maxHamming + 1}) on large corpora. Keep the " +
          "radius <= 4 at scale (Manku et al., WWW'07) or use " +
          "simhashNearDupsBanded for explicit recall/cost control.")
    simhashChunkJoin(df, idCol, textCol, maxHamming, maxHamming + 1, md5Compat)
  }

  /** Banded (APPROXIMATE) simhash blocking for high radii: block on
    * `nChunks` < maxHamming+1 wider chunks. Wider chunks mean far more
    * selective buckets (2^(64/nChunks) keys), at the cost of recall: a
    * true pair is found only if at least one chunk is error-free, which
    * for distance d is 1 − C(missing)/C(total) hypergeometrically — e.g.
    * d=8 over 4×16-bit chunks finds ≈ 77% of pairs, d=4 ≈ 95% — IF error
    * bits land uniformly. On real text they correlate (shared tokens
    * flip clustered bit groups): measured 47% at d≤8 on the sf0.01
    * corpus (q99 vs q41) — budget recall empirically per corpus, not
    * from the hypergeometric bound. The exact variant (simhashNearDups)
    * is the default; this is the documented scale escape hatch when a
    * wide radius is genuinely required (measured exponent 0.97 — linear —
    * vs the exact path's 1.75 at 4× corpus scale — SCALE.md round 8). */
  def simhashNearDupsBanded(df: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int, nChunks: Int,
                            md5Compat: Boolean = false): DataFrame = {
    require(nChunks >= 1 && nChunks <= 64, s"nChunks must be in [1, 64], got $nChunks")
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    simhashChunkJoin(df, idCol, textCol, maxHamming, nChunks, md5Compat)
  }

  private def simhashChunkJoin(df: DataFrame, idCol: String, textCol: String,
                               maxHamming: Int, nChunks: Int,
                               md5Compat: Boolean): DataFrame =
    hammingPairsFromSigs(
      df.select(col(idCol).as("id"),
        simhash(split(normalizeText(col(textCol)), " "), md5Compat).as("sig")),
      maxHamming, nChunks)

  /** Hamming-radius pair search over ANY 64-bit signature table
    * (`id`, `sig`) — the chunk-blocking machinery behind
    * [[simhashNearDups]]/[[simhashNearDupsBanded]], factored out so other
    * 64-bit sketches (perceptual image hashes — [[imageNearDups]]) reuse
    * it. Blocks on `nChunks` bit-chunks of the signature: exact for
    * `nChunks >= maxHamming + 1` (pigeonhole), banded-approximate below
    * that (a pair surfaces iff at least one chunk is error-free).
    * Returns (id_a, id_b, hamming) with id_a < id_b. */
  def hammingPairsFromSigs(sigs: DataFrame, maxHamming: Int,
                           nChunks: Int): DataFrame = {
    val chunked = chunkKeys(sigs, Seq("id", "sig"), maxHamming, nChunks)
    // Bucket self-join streams candidate pairs (no per-bucket array
    // materialization — simhash chunk keys are SKEWED because similar
    // documents share chunk values, so hot buckets are the norm, and an
    // O(B²) collect_list expansion materializes them). The Hamming filter
    // runs BEFORE dropDuplicates: the dedup then sees only qualifying
    // pairs (a tiny set) instead of the full candidate volume. Both
    // sides are one relation (`selfJoin`), so the signature subtree runs
    // once and the second side reads the first's exchange.
    selfJoin(chunked, "ck")
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hamming64(col("l.sig"), col("r.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Bucket self-join of `df` on its `key` column, sides aliased `l` and
    * `r`. Both sides are the same relation under one sort-merge join, so
    * each sits on an identical `ENSURE_REQUIREMENTS` hash exchange and
    * Spark's exchange reuse evaluates `df` — its scan and signature
    * kernels — once; the second side is a `ReusedExchange`. Left to
    * itself the planner broadcasts one side at small sizes, and then
    * nothing is shared and every kernel runs once per side. The `merge`
    * hint pins the sort-merge join the planner picks at scale anyway,
    * which keeps AQE's skew-join split for hot buckets: that split
    * accepts only `ENSURE_REQUIREMENTS` shuffles, so a
    * `repartition(key)` exchange would lose it. */
  private def selfJoin(df: DataFrame, key: String): DataFrame =
    df.as("l").join(df.as("r").hint("merge"), col(s"l.$key") === col(s"r.$key"))

  /** `sigs`' `keep` columns with one row per bit-chunk of the 64-bit
    * `sig`: `ck` = (chunk, key), the chunk's bits shifted down. The
    * `nChunks` widths differ by at most one bit and cover all 64. */
  private def chunkKeys(sigs: DataFrame, keep: Seq[String], maxHamming: Int,
                        nChunks: Int): DataFrame = {
    require(nChunks >= 1 && nChunks <= 64, s"nChunks must be in [1, 64], got $nChunks")
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val widths = Array.tabulate(nChunks)(i =>
      64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    sigs.select(keep.map(col) :+
      explode(array((0 until nChunks).map { i =>
        struct(lit(i).as("chunk"),
          shiftright(col("sig"), offsets(i)).bitwiseAND(mask(widths(i))).as("key"))
      }: _*)).as("ck"): _*)
  }

  /** Perceptual-hash IMAGE near-duplicate pairs — the multimodal-corpus
    * dedup step (re-encodes, resizes, and small edits of the same image
    * survive byte-level exact dedup): decode each blob to a pooled
    * grayscale raster, compute a 64-bit perceptual hash
    * ([[graft.multimodal.MultiModal.dHash64]] gradient-sign), then find
    * Hamming-radius pairs with the SAME chunk-blocking machinery the text
    * simhash family uses ([[hammingPairsFromSigs]]), blocked on
    * `maxHamming + 1` chunks: exact by pigeonhole.
    *
    * Scale shape: the decode+hash pass is partition-local (mapPartitions,
    * one pass per blob, memory bounded by the largest image); everything
    * after shuffles 16-byte (id, chunk-key) rows — image bytes never
    * shuffle. Returns (id_a, id_b, hamming), id_a < id_b. */
  def imageNearDups(media: DataFrame, idCol: String, bytesCol: String,
                    maxHamming: Int = 4): DataFrame = {
    // materialize the 16-byte signature table: both self-join sides of
    // the chunk blocking read it, and the subtree ABOVE it (blob decode
    // + pooling + hash — the modality's dominant CPU) must run once,
    // not once per side. Cheap for text simhash (left lazy there);
    // decisive when the signature pass decodes media bytes.
    val sigs = graft.multimodal.MultiModal
      .perceptualHashes(media, idCol, bytesCol)
      .localCheckpoint(true)
    hammingPairsFromSigs(sigs, maxHamming, maxHamming + 1)
  }

  /** Perceptual-hash AUDIO near-duplicate pairs — the audio twin of
    * [[imageNearDups]] (re-encodes, level changes, and low-amplitude
    * noise survive byte-level exact dedup): decode each WAV/PCM blob,
    * compute the 64-bit envelope hash
    * ([[graft.multimodal.MultiModal.audioEnvelopeHash64]] — gradient
    * signs of the 65-frame energy envelope, gain-invariant), then find
    * Hamming-radius pairs with the shared chunk-blocking machinery
    * ([[hammingPairsFromSigs]]), blocked on `maxHamming + 1` chunks:
    * exact by pigeonhole.
    *
    * Scale shape: identical to the image path — decode+hash is
    * partition-local (one pass per blob, memory bounded by the largest
    * blob); only 16-byte (id, chunk-key) rows shuffle, audio bytes never
    * do. Returns (id_a, id_b, hamming), id_a < id_b. */
  def audioNearDups(media: DataFrame, idCol: String, bytesCol: String,
                    maxHamming: Int = 4): DataFrame = {
    // materialized for the same reason as imageNearDups (decode once)
    val sigs = graft.multimodal.MultiModal
      .audioPerceptualHashes(media, idCol, bytesCol)
      .localCheckpoint(true)
    hammingPairsFromSigs(sigs, maxHamming, maxHamming + 1)
  }

  /** Hamming-radius pair search over a POSITIONED 64-bit signature table
    * (`id`, `role`, `sig`) — [[hammingPairsFromSigs]] generalized to
    * entities carrying one signature per role (video probe frames:
    * first/middle/last). A pair surfaces iff AT LEAST ONE shared role
    * matches within `maxHamming`; the reported `hamming` is the MINIMUM
    * over matching roles (deterministic). Blocking is on
    * (role, chunk, key) so candidates only form within a role — the
    * same pigeonhole guarantee as the flat variant applies per role:
    * exact for `nChunks >= maxHamming + 1`. Only (id, role, chunk-key)
    * rows shuffle. Returns (id_a, id_b, hamming), id_a < id_b. */
  def hammingPairsFromRoledSigs(sigs: DataFrame, maxHamming: Int,
                                nChunks: Int): DataFrame = {
    val chunked = chunkKeys(sigs, Seq("id", "role", "sig"), maxHamming, nChunks)
    val l = chunked.select(col("role"), col("ck"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("role"), col("ck"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // same streaming shape as hammingPairsFromSigs: the Hamming filter
    // runs before any pair materialization; the min-aggregation then
    // sees only qualifying (pair, role) rows — a tiny set
    l.join(r, Seq("role", "ck"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("h", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("h") <= maxHamming)
      .groupBy("id_a", "id_b")
      .agg(min(col("h")).cast("int").as("hamming"))
      .select("id_a", "id_b", "hamming")
  }

  /** Perceptual-hash VIDEO near-duplicate pairs — the fourth modality of
    * the perceptual family (text simhash, image dHash, audio envelope):
    * probe each video at three positional roles (first/middle/last frame,
    * [[graft.multimodal.MultiModal.videoPerceptualHashes]]), dHash each
    * probe frame, and pair videos whose signatures match within
    * `maxHamming` at ANY shared role ([[hammingPairsFromRoledSigs]]) —
    * a re-encode/re-mux keeps all three probes, a trim or splice usually
    * keeps at least one. Blocked on `maxHamming + 1` chunks per role:
    * exact by pigeonhole.
    *
    * Scale shape: container parse + 3 frame decodes per blob,
    * partition-local (NOT every frame — probe cost is O(1) per video);
    * only 24-byte (id, role, chunk-key) rows shuffle, video bytes never
    * do. Returns (id_a, id_b, hamming), id_a < id_b, hamming = min over
    * matching roles. */
  def videoNearDups(media: DataFrame, idCol: String, bytesCol: String,
                    maxHamming: Int = 4): DataFrame = {
    // materialized for the same reason as imageNearDups (decode once;
    // video decodes three probe frames per blob)
    val sigs = graft.multimodal.MultiModal
      .videoPerceptualHashes(media, idCol, bytesCol)
      .localCheckpoint(true)
    hammingPairsFromRoledSigs(sigs, maxHamming, maxHamming + 1)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03) of normalized
    * text: md5-hashed word n-grams, per-window unsigned minima, distinct.
    * The standard robust document sketch: any shared run of n+w-1 tokens
    * yields a shared fingerprint, and sketch size is ~2/(w+1) of the gram
    * count — a tunable, bounded summary per document. */
  def winnowFingerprints(textCol: Column, n: Int = 3, w: Int = 4,
                         gramHash: String = "md5"): Column =
    graft.functions.HashFunctions.winnowFingerprints(
      split(normalizeText(textCol), " "), n, w, md5GramFlag(gramHash))

  /** Document pairs sharing at least `minShared` winnowed fingerprints.
    * Candidates come from an (fp, id) explode + self-join — the shuffle
    * carries 16-byte rows, never text; pair counting is one aggregation.
    * Fingerprints are rare by construction (window minima), so fp buckets
    * stay small and the join volume is near-linear in corpus size. */
  def winnowedPairs(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, w: Int = 4, minShared: Int = 3,
                    gramHash: String = "md5"): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
        explode(winnowFingerprints(col(textCol), n, w, gramHash)).as("fp"))
    val l = fps.select(col("fp"), col("id").as("id_a"))
    val r = fps.select(col("fp"), col("id").as("id_b"))
    l.join(r, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components over a pair graph (near-dup clusters): each
    * node's label converges to the MINIMUM id reachable from it —
    * deterministic, so survivorship ("keep the lowest id per cluster")
    * is reproducible. Iterative min-label propagation: per round, every
    * node takes min(own label, neighbors' labels); rounds ≤ graph
    * diameter (capped by `maxIter`).
    *
    * Scale posture: each round is one join + one aggregation on
    * (id, label) pairs — narrow 16-byte rows; the frontier is
    * MATERIALIZED per round via an eager `localCheckpoint` (the
    * change-count rides the SAME materializing action through an
    * Observation) so lineage stays O(1) instead of exponential.
    *
    * Checkpoint, NOT persist: a persisted round registers a
    * CacheManager entry carrying the round's full logical plan (the
    * whole pair-graph build plus every previous hop), and CacheManager
    * entries are only freed by an explicit unpersist — the
    * ContextCleaner never collects them. The final round's entry
    * outlives the call, and every later `persist()`/plan-cache lookup
    * in the session walks those giant trees (MEASURED: q70 10.4s when
    * run after three leaked q63 rounds vs 3.7s isolated, sf0.1).
    * `localCheckpoint` truncates to a LogicalRDD with no cache-manager
    * footprint, and the blocks free via the ContextCleaner as soon as
    * the round's RDD is unreferenced.
    *
    * Round-structure experiments, MEASURED at sf0.1 (47-cluster near-dup
    * graph, 5 rounds, local[32]) and kept single-hop on the evidence:
    * two hops per materialized round re-computes the mid-hop (diamond
    * DAG: its output feeds both the label table and the neighbor-min
    * build of hop 2) — 3.7s → 7.0s; persisting the mid-hop to break the
    * diamond trades recompute for per-round cache bookkeeping — 11.8s.
    * Per-round fixed cost is real but the single join+agg round is the
    * cheapest shape that keeps lineage O(1).
    *
    * THROWS when `maxIter` rounds end before the labels stop changing:
    * partially-propagated labels are structurally valid rows whose
    * clusters may still be split, so returning them would be silently
    * wrong. Rounds ≈ graph diameter, so raise `maxIter` for long
    * chains. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          onConverge: Int => Unit = _ => ()): DataFrame = {
    def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    // The union below references `pairs` twice; for an expensive pair
    // pipeline (PPJoin candidate generation) only the shuffle exchanges
    // are reused across the two branches — the joins above them would
    // execute twice. Materialize the (tiny, two-id-column) pair set once.
    val pairRows = materialize(pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    val edges = pairRows.select(col("a").as("src"), col("b").as("dst"))
      .union(pairRows.select(col("b").as("src"), col("a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    /** One propagation hop: label := min(label, min over in-neighbors).
      * Name-based joins only (fresh aliases per call), so two hops chain
      * in a single plan without ambiguous self-join references; extra
      * columns (label0) pass through untouched. */
    def hop(lbl: DataFrame): DataFrame = {
      val nm = edges
        .join(lbl.select(col("id").as("__nid"), col("label").as("__nlbl")),
          col("dst") === col("__nid"))
        .groupBy(col("src")).agg(min(col("__nlbl")).as("__nmin"))
      // (r20 A/B, rejected: POINTER-JUMP shortcut — also folding in
      // label(label) from the same materialized round via a second
      // lbl self-join, halving rounds on deep graphs. Measured on q215
      // at sf0.1/32c: jobs 49 → 55, wall flat — the gated dedup graphs
      // are too shallow for round reduction to repay the extra
      // broadcast stage every round adds. Same fate as r19's hop∘hop.)
      lbl.join(nm, col("id") === col("src"), "left")
        .withColumn("label", least(col("label"), coalesce(col("__nmin"), col("label"))))
        .drop("src", "__nmin")
    }

    // init = round 1 for free (r20): with labels starting at own ids,
    // the first hop computes min(id, min neighbor id) — exactly one
    // groupBy over the edge set, the same exchange the plain
    // distinct-ids init already paid. Seeding the loop with that state
    // saves one full materialized round (join + agg + checkpoint + its
    // AQE stage jobs) on every solve; the node set (distinct src) and
    // the fixed point are unchanged.
    var labels = materialize(
      edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("__mn"))
        .select(col("id"), least(col("id"), col("__mn")).as("label")))
    try {
      var i = 0
      var converged = false
      while (!converged && i < maxIter) {
        // the change count rides the SAME action that materializes the
        // round: Dataset.checkpoint executes under withAction, so the
        // Observation listener fires on the checkpoint job — one Spark
        // job per round, not two.
        // (r19 A/B, rejected: TWO hops per materialization — same fixed
        // point, half the checkpoints — measured MORE wall and ~60% MORE
        // jobs at bench scale: each AQE exchange materializes as its own
        // job, so the doubled per-round exchange count outweighs the
        // halved round count on the shallow graphs the gated operators
        // produce.)
        val obs = org.apache.spark.sql.Observation(s"cc_round_$i")
        val updated = materialize(hop(labels.withColumn("label0", col("label")))
          .observe(obs, sum((col("label") =!= col("label0")).cast("long"))
            .as("n_changed"))
          .select(col("id"), col("label")))
        // sum over an empty frontier (empty pair graph) observes NULL
        val changed = obs.get("n_changed") match {
          case null => 0L
          case v    => v.asInstanceOf[Long]
        }
        labels = updated
        converged = changed == 0
        i += 1
      }
      // the result is already materialized (checkpointed, O(1)-plan);
      // never collected — clusters can be huge. Checkpoint blocks free
      // via the ContextCleaner once each round's RDD is unreferenced.
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds " +
          "(label propagation needs ~1 round per diameter hop); raise maxIter")
      onConverge(i)
      labels.select(col("id"), col("label").as("cluster_id"))
    } finally edges.unpersist(blocking = false)
  }

  /** INCREMENTAL connected components — the nightly identity-stitching
    * / dedup-cluster refresh that never re-reads the edge archive (the
    * q82/q195/q204 incremental discipline applied to graphs): stored
    * per-node labels are a LOSSLESS state for connectivity, because
    * label rows (id, cluster_id) are exactly the star edges of the
    * converged components — re-running CC over (stored star edges ∪
    * delta pairs) reaches every answer a full rebuild over (archived
    * edges ∪ delta) would: within an old component every member stays
    * connected through its old root, and a delta edge bridging two old
    * components merges them with the new min as the root (min-of-union
    * — min-label's contract). Rows into the job: |labels| + |delta|,
    * never |edge archive|. Round count: min-label needs ~1 round per
    * diameter hop of the MERGED graph (stored star edges ∪ delta) —
    * each star contributes diameter ≤ 2, so rounds scale with the
    * longest CHAIN of old components the delta bridges (a delta
    * daisy-chaining c components costs ~3c hops), NOT with how deep
    * the original graph was before it collapsed to stars. A delta that
    * chains more components than `maxIter` rounds can close fails
    * loudly, as [[connectedComponents]] does (raise maxIter — rounds
    * are |labels|-scale cheap) instead of returning silently split
    * clusters.
    *
    * New nodes appearing only in `deltaPairs` join as usual; stored
    * singletons (label = own id) are preserved if passed in, or may be
    * omitted (they re-emerge as singletons only if the delta touches
    * them — same absent-singleton convention as
    * [[connectedComponents]]). Output: the refreshed (id, cluster_id)
    * label table. */
  def incrementalComponents(labels: DataFrame, deltaPairs: DataFrame,
                            aCol: String, bCol: String,
                            maxIter: Int = 20,
                            onConverge: Int => Unit = _ => ()): DataFrame = {
    val starEdges = labels
      .select(col("id").as("__a"), col("cluster_id").as("__b"))
      .filter(col("__a") =!= col("__b")) // self-labels carry no edge
    val selfOnly = labels.filter(col("id") === col("cluster_id"))
      .select(col("id"))
    val delta = deltaPairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val merged = connectedComponents(
      starEdges.union(delta), "__a", "__b", maxIter = maxIter,
      onConverge = onConverge)
    // stored singletons untouched by the delta have no edge rows in the
    // union — restore them explicitly (they ARE state, unlike the
    // batch form's never-seen nodes)
    val untouched = selfOnly.join(merged.select(col("id")), Seq("id"),
        "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    merged.union(untouched)
  }

  /** Identity stitching (cross-device/cross-channel person resolution)
    * — the martech identity-graph core: entities sharing ANY
    * identifier (email, device id, phone…) merge into one person;
    * shared identifiers chain transitively (A~email~B, B~device~C ⇒
    * one person).
    *
    * Construction: per identifier, the MIN member entity is the hub
    * and every other member gets one (entity, hub) edge — LINEAR in
    * membership rows, never the per-identifier k² pair explosion a
    * same-identifier self-join would build (a popular identifier — a
    * shared corporate email — has thousands of members; stars keep it
    * linear, [[connectedComponents]] closes the chains). Entities with
    * only unique identifiers are singleton persons (person_id = own
    * id). Returns one `(entityCol, person_id)` row per distinct
    * entity; person_id = min entity of the component. */
  def stitchIdentities(ids: DataFrame, entityCol: String,
                       idTypeCol: String, idValueCol: String,
                       maxIter: Int = 20): DataFrame = {
    val m = ids
      .filter(col(idValueCol).isNotNull && col(idTypeCol).isNotNull)
      .select(col(entityCol).as("__ent"),
        // "\u0001" separator (matches the oracle twin's chr(1)): a bare
        // concat would merge distinct pairs like ("id1","23") and
        // ("id12","3") into one identifier, silently stitching
        // unrelated entities (ADVICE r14 — the raw control char was
        // invisible in source; escaped form per the parity playbook)
        concat_ws("\u0001", col(idTypeCol), col(idValueCol)).as("__ident"))
      .distinct()
    val hubs = m.groupBy(col("__ident")).agg(min(col("__ent")).as("__hub"))
    val edges = m.join(hubs, Seq("__ident"))
      .filter(col("__ent") =!= col("__hub"))
      .select(col("__ent").as("a"), col("__hub").as("b"))
      .distinct()
    val comp = connectedComponents(edges, "a", "b", maxIter)
    ids.select(col(entityCol)).distinct()
      .join(comp.select(col("id").as(entityCol),
        col("cluster_id").as("__pid")), Seq(entityCol), "left")
      .select(col(entityCol),
        coalesce(col("__pid"), col(entityCol)).as("person_id"))
  }

  /** Benchmark decontamination: which probe (eval/test) documents share
    * at least `minShared` distinct word n-grams with the training
    * corpus — the standard pre-training overlap check. The corpus side
    * reduces to DISTINCT gram hashes (8-byte rows; map-side combine
    * collapses repeats before the shuffle) and the join carries
    * (gram-hash, probe-id) only — text never shuffles, and the output is
    * probe-sized. Returns (probe id, n_hit_grams). */
  def contamination(corpus: DataFrame, probes: DataFrame, idCol: String,
                    textCol: String, n: Int = 3, minShared: Int = 1,
                    gramHash: String = "xxhash64"): DataFrame = {
    val cg = corpus.select(explode(shingles(col(textCol), n, gramHash)).as("g"))
      .distinct()
    // shingles() already dedups within a document, so rows are distinct
    // (probe, gram) pairs and the count below is distinct shared grams
    val pg = probes.select(col(idCol),
      explode(shingles(col(textCol), n, gramHash)).as("g"))
    pg.join(cg, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
      .filter(col("n_hit_grams") >= minShared)
  }

  /** Repeated-span duplication coverage (the distributed approximation
    * of suffix-array exact-substring dedup, Lee et al. 2022,
    * arXiv:2107.06499): a k-token span occurring in ≥ `minDocs` distinct
    * documents is "duplicated"; per document, report how many token
    * positions lie under at least one duplicated span and flag documents
    * whose coverage reaches 20%. Unlike whole-doc near-dup (Jaccard /
    * MinHash), this catches boilerplate PASSAGES embedded in otherwise
    * unique documents — the case suffix arrays exist for.
    *
    * Scale shape: the span table is (gram, doc, pos) — one row per token
    * position, linear in corpus tokens; duplicate detection is a
    * partial-aggregating groupBy on the gram key; coverage is an
    * ids-only join back plus an interval explode bounded by k·dups.
    * Gram keys are md5-low64 hashes (8-byte shuffle rows, oracle-gated
    * on both engines — see [[kGramPositions]]). */
  def duplicatedSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 5, minDocs: Int = 2,
                             gramHash: String = "md5"): DataFrame = {
    require(k >= 1 && minDocs >= 2, s"need k >= 1, minDocs >= 2; got $k, $minDocs")
    val toks = docs
      .select(col(idCol), split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val occ = sharedGramPositions(docs, idCol, textCol, k, minDocs,
      gramHash = gramHash)
    val nds = occ.groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_spans"))
    val covered = occ
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_covered"))
    toks.select(col(idCol), col("n_tokens"))
      .join(nds, Seq(idCol), "left")
      .join(covered, Seq(idCol), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("covered_frac", round(col("n_covered") / col("n_tokens"), 4))
      .withColumn("flagged",
        (col("n_covered") * 5 >= col("n_tokens")).cast("int"))
  }

  /** Shared (id, pos, gram) construction for the span-dedup family:
    * one row per k-gram start position (1-based), gram key = the
    * md5-low64 hash of the literal normalized k-token string
    * ([[graft.analyze.KmvDistinct.md5Low64]] — codegen'd built-ins,
    * DuckDB-replayable, so the HASHED path is what the q79/q103–q106
    * oracles gate). 8-byte shuffle keys instead of k-token strings:
    * at corpus scale the gram-key shuffle is this family's dominant
    * byte volume, ~5× narrower hashed. A 64-bit collision would merge
    * two unrelated grams (≈ n²/2⁶⁵ pair probability — at 10¹² grams,
    * ~0.03 expected collisions corpus-wide, each costing at most one
    * spurious k-token span); both engines hash identically, so parity
    * is unaffected either way. */
  /** Gram-key hash selection for the span family. "md5" (default) =
    * [[graft.analyze.KmvDistinct.md5Low64]] — engine-portable, what the
    * q79/q103–q106 DuckDB oracles replay, but allocation-heavy (hex
    * string + radix conv per gram). "xxhash64" = Spark's native codegen'd
    * 64-bit hash — same 8-byte shuffle keys and identical plan, measurably
    * cheaper map CPU, for production corpora where cross-engine replay of
    * the keys isn't needed. Same collision math either way (≈ n²/2⁶⁵
    * spurious-merge probability). */
  private def gramHashCol(gramHash: String, gram: Column): Column =
    gramHash match {
      case "md5"      => graft.analyze.KmvDistinct.md5Low64(gram)
      case "xxhash64" => xxhash64(gram)
      case other => throw new IllegalArgumentException(
        s"gramHash must be 'md5' or 'xxhash64'; got '$other'")
    }

  private def kGramPositions(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, gramHash: String = "md5"): DataFrame =
    docs.select(col(idCol), split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .select(col(idCol), posexplode(
          when(size(col("toks")) >= k,
            transform(sequence(lit(1), size(col("toks")) - (k - 1)),
              i => concat_ws(" ", slice(col("toks"), i, lit(k)))))
            .otherwise(array()))
          .as(Seq("pos0", "gram")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"),
        gramHashCol(gramHash, col("gram")).as("gram"))

  /** Start positions whose k-gram occurs in ≥ `minDocs` DISTINCT
    * documents: the anchor set for cross-document exact-substring dedup.
    * One partial-aggregating groupBy on the gram key + an ids-only join
    * back — text never shuffles twice. */
  private def sharedGramPositions(docs: DataFrame, idCol: String,
                                  textCol: String, k: Int, minDocs: Int,
                                  keepGram: Boolean = false,
                                  gramHash: String = "md5"): DataFrame = {
    val spans = kGramPositions(docs, idCol, textCol, k, gramHash)
    val dupGrams = spans.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")
    val joined = spans.join(dupGrams, Seq("gram"))
    if (keepGram) joined.select(col(idCol), col("pos"), col("gram"))
    else joined.select(col(idCol), col("pos"))
  }

  /** Maximal cross-document duplicated spans (Lee et al. 2022,
    * arXiv:2107.06499 — the distributed anchor-grouping stand-in for
    * their suffix-array pass): a k-token gram occurring in ≥ `minDocs`
    * distinct documents is a duplicated anchor; per document, maximal
    * RUNS of consecutive anchor start positions merge into one span of
    * `run + k − 1` tokens — exactly the verbatim substrings (length
    * ≥ k tokens) that appear in other documents: licenses, boilerplate,
    * templated spam. Returns (id, span_start, span_end, n_tokens),
    * positions 1-based inclusive over the normalized token sequence.
    *
    * Where [[duplicatedSpanCoverage]] reports per-doc summary counts,
    * this emits the actual span BOUNDARIES — the input a removal pass
    * ([[stripCrossDocSpans]]) or a manual review queue needs.
    *
    * Scale shape: gram-key aggregation (map-side combine collapses
    * within-partition repeats), an ids-only join back, then ONE per-doc
    * window for the gaps-and-islands merge — grouping key (id, pos−rank)
    * is computed inside the window pass, no extra shuffle. Span count is
    * bounded by anchor count; nothing quadratic. */
  def crossDocSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, minDocs: Int = 2,
                    gramHash: String = "md5"): DataFrame = {
    require(k >= 1 && minDocs >= 2, s"need k >= 1, minDocs >= 2; got $k, $minDocs")
    // (r20, VERDICT r19 item 7) the (id, pos, gram) table feeds the
    // duplicate-gram aggregation AND the join back, so the per-position
    // tokenize + gram-hash subtree executed twice per call. Materialized
    // HERE, in the one operator whose action consumes the whole span
    // pipeline — NOT inside sharedGramPositions: q79/q104/q105 end in
    // left joins against unique-keyed aggregates that a count action
    // ELIMINATES, and an eager checkpoint there forces work those
    // queries never evaluate (r19's measured revert).
    val spans = kGramPositions(docs, idCol, textCol, k, gramHash)
      .localCheckpoint(true)
    val dupGrams = spans.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")
    val marked = spans.join(dupGrams, Seq("gram"))
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .withColumn("n_tokens", col("span_end") - col("span_start") + 1)
      .select(col(idCol), col("span_start"), col("span_end"), col("n_tokens"))
  }

  /** Cross-document exact-substring REMOVAL: drop every token position
    * covered by a duplicated k-gram anchor (the C4/Lee-style boilerplate
    * strip; this removes ALL occurrences — keep-first-occurrence is a
    * policy layer on top of [[crossDocSpans]], not this operator).
    * Returns (id, n_tokens, n_removed, clean_text) where `clean_text`
    * re-joins the surviving tokens of the NORMALIZED sequence in order.
    *
    * Scale shape: covered positions per doc are collected into one
    * per-doc set — bounded by the doc's own token count, the same bound
    * as the tokenization array itself — then the strip is a narrow
    * per-row array filter; no driver collection, one join. */
  def stripCrossDocSpans(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, minDocs: Int = 2,
                         gramHash: String = "md5"): DataFrame = {
    require(k >= 1 && minDocs >= 2, s"need k >= 1, minDocs >= 2; got $k, $minDocs")
    stripPositions(docs, idCol, textCol,
      coveredPositions(sharedGramPositions(docs, idCol, textCol, k, minDocs,
          gramHash = gramHash),
        idCol, k))
  }

  /** Expand anchor start positions to their k-token coverage sets, one
    * row per doc: (id, cov: array<long>) — bounded by per-doc length. */
  private def coveredPositions(anchors: DataFrame, idCol: String,
                               k: Int): DataFrame =
    anchors
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()
      .groupBy(col(idCol)).agg(collect_set(col("p")).as("cov"))

  /** Shared strip tail: drop every token position in `removed`'s per-doc
    * `cov` set, emit (id, n_tokens, n_removed, clean_text). Kept
    * positions come from `array_except(all_positions, cov)` — a hash-set
    * difference, O(tokens + |cov|) per document — rather than a
    * per-token `array_contains` scan, which is O(tokens × |cov|) and
    * quadratic exactly on the long, heavily-covered boilerplate docs
    * this operator targets. `array_except` preserves first-argument
    * order, so surviving tokens re-join in document order. */
  private def stripPositions(docs: DataFrame, idCol: String, textCol: String,
                             removed: DataFrame): DataFrame =
    docs.select(col(idCol), split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .join(removed, Seq(idCol), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<long>")))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        array_join(transform(
            array_except(
              when(size(col("toks")) >= 1,
                sequence(lit(1L), size(col("toks")).cast("long")))
                .otherwise(array().cast("array<long>")),
              col("cov")),
            p => element_at(col("toks"), p.cast("int"))), " ")
          .as("clean_text"))

  /** Span-level benchmark DECONTAMINATION (the removal form of
    * [[contamination]]'s detection): strip from `corpus` every token
    * position lying under a k-gram that ALSO occurs anywhere in
    * `probes` (the eval/test set) — q74 counts shared grams, q80 finds
    * paraphrased near-dups, this one actually removes the verbatim
    * leakage so the cleaned training text can ship. Same output shape
    * as [[stripCrossDocSpans]].
    *
    * Scale shape: the probe side reduces to DISTINCT grams (the eval
    * set is small by definition; broadcast-ready but never required —
    * it's a semi join on the gram key), the corpus side is one gram
    * pass + the per-doc position-set strip; corpus text shuffles
    * nowhere. */
  def stripSpansSharedWith(corpus: DataFrame, probes: DataFrame,
                           idCol: String, textCol: String,
                           k: Int = 5, gramHash: String = "md5"): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    val probeGrams = kGramPositions(probes, idCol, textCol, k, gramHash)
      .select("gram").distinct()
    val anchors = kGramPositions(corpus, idCol, textCol, k, gramHash)
      .join(probeGrams, Seq("gram"), "left_semi")
    stripPositions(corpus, idCol, textCol,
      coveredPositions(anchors, idCol, k))
  }

  /** Cross-document exact-substring removal, KEEP-FIRST policy (the
    * Lee et al. 2022 semantics: one occurrence of each duplicated
    * substring survives corpus-wide, unlike [[stripCrossDocSpans]]'s
    * C4-style remove-all). Each shared k-gram's canonical copy is its
    * occurrence at the minimum (doc, pos); a covered token position is
    * kept iff SOME anchor covering it is a canonical copy — so the
    * first document containing a boilerplate passage keeps it intact
    * and every later document loses it. Deterministic (min-struct
    * ownership, no RNG). "First" means the MINIMUM (id, pos) under the
    * id column's natural sort order — lexicographic for string ids, so
    * doc "10" precedes doc "2"; callers wanting ingestion or numeric
    * order should pass a column that sorts that way (zero-padded or
    * numeric ids). Returns (id, n_tokens, n_removed, clean_text) over
    * the normalized token sequence, like the remove-all form.
    *
    * Scale shape: identical to [[stripCrossDocSpans]] plus ONE extra
    * gram-keyed aggregation (min(struct(doc,pos)) — map-side partial)
    * and an anchor-level join against it; covered/protected position
    * sets stay bounded by per-doc token counts. */
  def keepFirstCrossDocSpans(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 5, minDocs: Int = 2,
                             gramHash: String = "md5"): DataFrame = {
    require(k >= 1 && minDocs >= 2, s"need k >= 1, minDocs >= 2; got $k, $minDocs")
    val occ = sharedGramPositions(docs, idCol, textCol, k, minDocs,
      keepGram = true, gramHash = gramHash)
    // canonical copy per gram: the (doc, pos)-minimal occurrence
    val owner = occ.groupBy(col("gram"))
      .agg(min(struct(col(idCol).as("odoc"), col("pos").as("opos"))).as("__o"))
      .select(col("gram"), col("__o.odoc").as("odoc"), col("__o.opos").as("opos"))
    val anchors = occ.join(owner, Seq("gram"))
      .withColumn("protected",
        col(idCol) === col("odoc") && col("pos") === col("opos"))
    def positions(df: DataFrame): DataFrame = df
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()
    val covered = positions(anchors)
    val kept = positions(anchors.filter(col("protected")))
    val removed = covered.join(kept, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol)).agg(collect_set(col("p")).as("cov"))
    stripPositions(docs, idCol, textCol, removed)
  }

  /** Near-dup SURVIVORSHIP by cluster: connected components over the
    * pair graph, keep exactly the minimum id of each cluster (plus every
    * document in no pair). This is the standard corpus-dedup policy —
    * transitive: with pairs (1,3) and (2,3), document 2 falls as a
    * transitive duplicate of 1 even though (1,2) was never a pair,
    * whereas the pairwise drop-the-higher-id form (q53) would keep it.
    * Deterministic (labels are min reachable ids); the losers table is
    * ids-only and anti-joins back against the full corpus. */
  def survivorsByCluster(df: DataFrame, pairs: DataFrame, idCol: String,
                         aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Golden-record merge: collapse each entity cluster to ONE record
    * whose every field comes from the highest-priority row that HAS
    * that field — the survivorship step after record linkage
    * ([[editDistancePairs]] → [[connectedComponents]] →
    * [[survivorsByCluster]] keeps one whole ROW; this merges per
    * FIELD, the policy real MDM pipelines want: take the freshest
    * non-null phone even when the freshest row's phone is null).
    *
    * Per field f: value = f of the row maximizing (priority, id) among
    * the cluster's rows where f is non-null — a lexicographic
    * struct-max (priority desc, ties to the LARGER id), so the pick is
    * deterministic under any partitioning and exactly replayable as a
    * per-field filtered rank in SQL. A cluster whose rows are all null
    * in f yields null.
    *
    * ONE partial-aggregating groupBy — p fields cost p struct-max agg
    * buffers of one (priority, id, value) triple each, not p passes
    * and never a per-cluster row list; map-side combine collapses each
    * partition's cluster rows before the shuffle. */
  def goldenRecord(df: DataFrame, clusterCol: String, priorityCol: String,
                   idCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "goldenRecord needs at least one field")
    val aggs = fields.map { f =>
      max(when(col(f).isNotNull,
        struct(col(priorityCol).as("p"), col(idCol).as("i"), col(f).as("v"))))
        .getField("v").as(f)
    }
    df.groupBy(col(clusterCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Exact n-gram Jaccard pairs with prefix filtering (PPJoin-style).
    *
    * A naive shingle self-join explodes on common shingles (every shared
    * shingle emits a pair row). Prefix filtering keeps the result EXACT
    * while joining only on each document's rarest shingles: order shingles
    * by global document frequency; any pair with J(A,B) ≥ t must satisfy
    * |A∩B| ≥ t·|A|, so the first |A| − ⌈t·|A|⌉ + 1 shingles of A (in that
    * global order) must intersect B's prefix. Candidates come from a
    * prefix-only self-join, then the full arrays verify exact Jaccard.
    * Shuffle payload: (shingle, id) prefix rows — linear in corpus size
    * for a fixed threshold. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        gramHash: String = "xxhash64"): DataFrame =
    ngramJaccardPairsFromShingles(
      df.select(col(idCol).as("id"),
        shingles(col(textCol), shingleN, gramHash).as("sh")),
      threshold)

  /** [[ngramJaccardPairs]] over an ALREADY-SHINGLED frame (`id`, `sh` =
    * sorted distinct gram hashes) — for callers that hold a materialized
    * shingle table (the nightly composite chain checkpoints its survivor
    * set; the streaming refresh STORES shingles at ingest). The plain
    * text entry point re-shingles its input once per physical subtree —
    * six times per call (df-frequency ×2, prefix window ×2, both verify
    * sides); over a checkpointed shingle frame each subtree is a memory
    * scan instead. The verified pair set is identical. NOT materialized
    * here: a lazy (e.g. parquet-backed) `shingled` keeps its planner
    * size estimates, which is measurably better for raw-table callers
    * (broadcastable df-frequency / verify sides). */
  def ngramJaccardPairsFromShingles(shingled: DataFrame,
                                    threshold: Double): DataFrame = {
    val sh = shingled.select(col("id"), col("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")))
    val ex = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id")).orderBy(col("df").asc, col("g").asc)
    val prefix = ex.join(dfreq, Seq("g"))
      .withColumn("rnk", row_number().over(wOrd))
      .filter(col("rnk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("g", "id", "sz")

    // length filter: J(A,B) ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)
    val cand = prefix.select(col("g"), col("id").as("id_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("g"), col("id").as("id_b"), col("sz").as("sz_b")), Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** ASYMMETRIC containment near-dup pairs — C(A→B) = |A∩B| / |A| ≥ t
    * over the distinct shingle sets: the SUBSET-duplication detector
    * symmetric Jaccard structurally misses (a 50-gram license block
    * embedded verbatim in a 5 000-gram document has containment 1.0
    * and Jaccard ~0.01 — Lee et al. 2022 dedup this class by
    * containment, not Jaccard). Ordered pairs: (id_a contained-in
    * id_b); both directions can qualify.
    *
    * Blocking is the same pigeonhole prefix filter as
    * [[ngramJaccardPairs]], but ONE-SIDED: if |A∩B| ≥ ⌈t·|A|⌉, ANY
    * (|A|−⌈t·|A|⌉+1)-subset of A intersects B, so only A's
    * rarest-gram prefix joins — against the FULL posting list of the
    * other side (containment puts no lower bound on |B|, so the
    * Jaccard length filter does not apply; the rarity order keeps the
    * hot-gram blowup down and the exact intersect verify keeps the
    * result exact). Shuffles carry (gram, id) rows only; texts never
    * move; the verify joins the two shingle arrays on candidate pairs
    * only. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.5,
                       gramHash: String = "xxhash64"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]; got $threshold")
    // one shingle pass (the ngramJaccardPairs materialization rationale:
    // five subtree executions otherwise — dfreq, prefix, the full posting
    // side of the candidate join, and both verify sides)
    val sh = df.select(col(idCol).as("id"),
        shingles(col(textCol), shingleN, gramHash).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")))
      .localCheckpoint(true)
    val ex = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("g").asc)
    val prefix = ex.join(dfreq, Seq("g"))
      .withColumn("rnk", row_number().over(wOrd))
      .filter(col("rnk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("g"), col("id").as("id_a"))
    val cand = prefix
      .join(ex.select(col("g"), col("id").as("id_b")), Seq("g"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.HashFunctions.sortedIntersectSize(
          col("sh_a"), col("sh_b")).cast("long"))
      .filter(col("inter").cast("double") >=
        lit(threshold) * col("sz_a").cast("double"))
      .select(col("id_a"), col("id_b"), col("sz_a").cast("long").as("sz_a"),
        col("inter"),
        (col("inter").cast("double") / col("sz_a").cast("double"))
          .as("containment"))
  }

  /** Agreement report between two near-dup PAIR sets — the tuning
    * metric for every sketch in this file: precision = how many of the
    * candidate detector's pairs the reference confirms, recall = how
    * many reference pairs the candidate finds (e.g. simhash radius vs
    * exact Jaccard threshold — the radius/threshold trade is chosen off
    * exactly this report). Detector-agnostic: at corpus scale feed it
    * [[simhashNearDupsBanded]] (q102) rather than the exact wide-radius
    * detector (q92), whose cost is super-linear by design. One output
    * row.
    *
    * Scale shape: ids-only joins and three single-row counts — the
    * evaluation never touches documents, so it costs nothing beyond the
    * two detectors themselves; run it on the deterministic hash-sample
    * (q69) when even the detectors are too big to run corpus-wide. */
  def pairAgreement(ref: DataFrame, cand: DataFrame,
                    aCol: String, bCol: String): DataFrame = {
    // NOT materialized (r19 A/B, rejected): the three aggregates below
    // share one job, whose scheduler overlaps the two detector pipelines
    // across the cores and reuses their identical exchanges
    // (ReuseExchange fires within a single plan); eager checkpoints
    // serialized the detectors and measured 1.5-2x slower on q92/q102.
    val r = ref.select(col(aCol).as("a"), col(bCol).as("b"))
    val c = cand.select(col(aCol).as("a"), col(bCol).as("b"))
    val nr = r.agg(count(lit(1)).as("n_ref"))
    val nc = c.agg(count(lit(1)).as("n_cand"))
    val nb = r.join(c, Seq("a", "b"), "left_semi").agg(count(lit(1)).as("n_both"))
    nr.crossJoin(nc).crossJoin(nb)
      .withColumn("precision",
        when(col("n_cand") > 0,
          col("n_both").cast("double") / col("n_cand").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("n_ref") > 0,
          col("n_both").cast("double") / col("n_ref").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Edit-distance self-join (record linkage / near-key dedup): all
    * id pairs whose strings are within Levenshtein distance
    * `maxDist` (≤ 2). SymSpell deletion-neighborhood blocking: each
    * string expands to its ≤d-deletion variants (a native expression;
    * C(n,d)-ish variants per row), candidates come from an equi-join
    * on the variants' 8-byte hashes — the candidate-generation shuffle
    * carries only (hash, id) pairs, never the strings (PlanSpec-
    * asserted) — and the exact `levenshtein` verify runs only on the
    * deduped candidate id pairs after joining the two strings back by
    * id (a broadcast of the candidate ids while they fit; beyond that
    * the string re-join shuffles (id, string) pairs once — linear in
    * matched rows, not in the corpus). Complete by the SymSpell property (any
    * distance-d pair shares a ≤d-deletion variant: substitutions
    * delete on both sides, insertions on one); hash collisions and
    * shared-variant non-matches are killed by the verify, so the
    * result EXACTLY equals the quadratic all-pairs filter the oracle
    * runs. The 100 TB posture is the MinHash shape: candidate volume
    * scales with variant-bucket density, not corpus². */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2, s"maxDist in [0,2], got $maxDist")
    import graft.functions.TextFunctions
    val base = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("__id"), col(strCol).as("__s"))
    val variants = base.select(col("__id"),
        explode(TextFunctions.deletionNeighborhood(col("__s"), maxDist)).as("__v"))
      .select(col("__id"), xxhash64(col("__v")).as("__h"))
    val cand = variants.as("a")
      .join(variants.as("b"), col("a.__h") === col("b.__h") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")), Seq("id_a"))
      .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")), Seq("id_b"))
      // banded threshold levenshtein: exact distance when <= maxDist,
      // -1 beyond — O(maxDist·n) with early exit instead of the full
      // O(n·m) DP, and `>= 0` is exactly the old `<= maxDist` filter
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
