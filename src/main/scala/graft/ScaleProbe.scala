package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-exponent probe for the candidate-join family (SCALE.md round-7
  * entry): build an S× perturbed derivative of sf0.1's documents and
  * time the bucketed dedup/clustering queries at both scales; the
  * per-query exponent is log(tS/t1)/log(S). The perturbation inserts a
  * UNIQUE marker token (hash of doc, replica, position) after every 3rd
  * word, so replicas are NOT near-dups of each other or of the original
  * (shingles differ). Markers are keyed per (doc, replica, position), so
  * the two members of an original near-dup pair draw DIFFERENT markers —
  * dilution shifts Jaccard/hamming similarity downward relative to the
  * raw corpus. Both timings therefore run on marker-perturbed
  * derivatives (t1 on a scale-1 derivative, tS on the scale-S one) so
  * they share the same diluted similarity/candidate structure and the
  * exponent measures SCALE, not a structure change; the null hypothesis
  * is ~linear scaling. Markers must be UNIQUE, not
  * replica-wide: a shared marker repeated every 3rd token dominates the
  * simhash weighted majority and artificially correlates every replica-N
  * signature (measured: it pushed the banded mitigation from ~linear to
  * exponent 2.55). A super-linear exponent flags candidate explosion no
  * single-scale run can see. Results append to /tmp/scale_results.txt
  * line-by-line (crash-safe). */
object ScaleProbe {
  private val Queries = Seq(
    "q40_minhash_neardups", "q41_simhash_neardups", "q42_ngram_jaccard",
    "q53_corpus_prep", "q63_neardup_clusters", "q70_cluster_survivors",
    "q92_dedup_agreement", "q217_containment_pairs",
    "q221_nightly_composite", "q225_dirty_nightly", "q223_unigram_segment",
    // ANN family: the vec_id < 8 filter keeps the query COUNT at 8 at
    // every scale (at high replication those are near-identical replicas
    // of the lowest originals — fine for timing); corpus grows scale×
    "q33_cosine_topk", "q48_ivf_topk", "q81_pq_topk", "q83_ivfpq_topk")

  // The span family (q103/q104 shapes) is probed by a DEDICATED block on a
  // planted-boilerplate derivative, not via the generic query list: the
  // marker corpus above has ZERO shared 5-grams by construction (a unique
  // marker lands inside every 5-gram window), so the span queries there
  // time the gram aggregation but leave the anchor join, window merge, and
  // strip tail with EMPTY inputs — and a bare count() of the strip output
  // doesn't even run the pipeline (left-join elimination on the unique-key
  // removal side + the 1-row ungrouped-agg shortcut; measured 0.23 s flat
  // across 4×).
  private val SpanProbe = "span_planted"

  // The perceptual families (image/audio/video dedup) are probed on a
  // DEDICATED hash-diverse media corpus, not the q113/q114/q115 fixtures:
  // those fixtures put ~N/5 docs in each of 5 signature groups, so their
  // pair OUTPUT is quadratic by construction and a scale sweep would time
  // pair materialization, not the operator. The probe corpus instead has
  // constant-size dup groups (5 consecutive ids share a hash-seeded
  // raster/envelope, with per-id noise) over otherwise ~uniform 64-bit
  // signatures — linear expected output, realistic Poisson chunk-key
  // collision structure.
  private val PerceptualProbe = "perceptual"

  // The heavy-hitters family is probed on a DEDICATED wide-keyspace
  // derivative, not the q117 fixture: documents has only ~16k trigram
  // types, so the naive plan's distinct-key shuffle there is trivially
  // small and both plans would time the same scan. The probe regime is
  // the one the sketch exists for: tail-key CARDINALITY grows with the
  // corpus (id-keyed), so the naive groupBy's shuffle grows S× while the
  // Misra–Gries path ships <= D rows per partition + the candidate set.
  private val HeavyProbe = "heavy_hitters"

  // Interval-join probe: the grid-blocked overlap join vs the naive
  // theta join (which plans as a nested-loop product). Density is held
  // constant (the time domain grows with the corpus — the realistic
  // regime: more data covers more wall-clock), so pair output grows
  // ~S× and the null hypothesis for the grid join is ~linear. The
  // naive plan is timed only at a REDUCED size — it is quadratic by
  // construction and would not finish at the probe sizes; the speedup
  // figure is reported at the common reduced size, the exponent from
  // the grid join's own 1×/S× pair.
  private val IntervalProbe = "interval_join"

  // Edit-distance-join probe: SymSpell deletion blocking vs the
  // quadratic cross-join + levenshtein filter. Corpus: name-like
  // strings over a keyspace that grows with n (constant match density
  // — each string has a handful of distance-1 neighbors), d = 1.
  private val EditDistProbe = "editdist_join"

  // Graph-family probe: PageRank (5 iters), label propagation (4
  // iters), and triangle counting on a synthesized graph with a 10%
  // hub (every 10th edge points at node 0 — the power-law stand-in
  // that stresses the wedge bound and the per-iteration aggs). Edges
  // grow S×, nodes with them (constant average degree ~10).
  private val GraphProbe = "graph"
  private val PageProbe = "pagination"
  private val InvIdxProbe = "inverted_index"
  // Attribution probe: next-conversion assignment as ONE descending-scan
  // window vs the naive touch⋈conversion interval join — the pair
  // explosion is touches×convs-in-lookback per entity, and a hot entity
  // makes it quadratic while the window form stays linear in rows.
  private val AttributionProbe = "attribution"
  // Incremental-rollup probe (round 15, q195): nightly reach refresh as
  // stored-state merge + delta aggregation vs full recompute over the
  // fact archive. The claim being measured: incremental reads
  // |state| + |delta| rows, recompute reads |facts| + |delta| — the
  // ratio is the per-entity event multiplicity.
  private val IncrementalProbe = "incremental"
  // Markov-solve probe (VERDICT r14 task 5): the removal-effects
  // absorption runs DRIVER-side over the channel-cardinality state
  // space; this measures that BigInt fixed point at ~10³ states
  // (maxChannels-guard territory) so the operating envelope is a
  // recorded number, not a vibe. Cost model: (C+1) absorptions ×
  // k rounds × E edges.
  private val MarkovProbe = "markov_solve"
  // Stitching probe: per-identifier star edges (linear in memberships)
  // vs the naive same-identifier pair self-join (k² per popular
  // identifier) feeding the same connected components.
  private val StitchProbe = "stitching"
  // Sketch-overlap probe: the audience-overlap matrix recomputed EXACT
  // from the fact archive (distinct + entity-grain pair self-join)
  // vs read from the stored O(k) KMV state table
  // (KmvAlgebra.overlapFromStates) — wall-clock, rows entering the
  // job, and the estimator's actual relative error, so the
  // sketch-vs-exact tradeoff is a recorded number.
  private val SketchOverlapProbe = "sketch_overlap"

  // Martech-analytics scale points (VERDICT r15 task 7): Shapley
  // attribution and matched-market geo-lift at 1M/4M events. The claim
  // being measured: both are dominated by their ONE fact-scale stage
  // (Shapley's claim-scan window / matched-market's day-grain
  // aggregation) — exponent ~1 — while the set algebra (≤ |T|-element
  // channel sets) and the treated×donor SSE grid stay metadata-sized.
  private val MartechProbe = "martech_scale"
  // CC A/B probe (VERDICT r15 task 5): min-label propagation (rounds =
  // diameter) vs large-star/small-star edge rewriting (rounds =
  // O(log² n)) on three graph shapes — shallow hub-heavy (what dedup
  // and identity stitching actually produce), a div-2 tree (moderate
  // diameter ~2·log n), and 96-long chains (the high-diameter case the
  // star algorithm exists for). Records rounds AND wall at two edge
  // scales; label maps are required identical.
  private val CcAbProbe = "cc_ab"
  // Incremental-CC probe (round 16, q215): nightly cluster refresh as
  // stored-labels (star edges, diameter <= 2) + delta pairs vs a full
  // rebuild over the edge archive. The measured claim: refresh cost
  // follows the DELTA's bridging structure (few rounds), not the
  // archive's diameter (the tree costs min-label ~23 rounds from
  // scratch), and the job reads |labels| + |delta| rows, not the
  // archive (here the archive is a 10x-observed multigraph — dedup
  // detectors re-emit pairs nightly).
  private val CcIncProbe = "cc_incremental"
  // Nightly-composite probe (round 17, q221): the whole incremental
  // family chained — label refresh → state re-key → agg/HDR/KMV state
  // merges — against the from-scratch rebuild, at 1% and 10% deltas.
  // The number that matters is rows INTO each job: the incremental
  // path reads labels + state rows + the delta; the rebuild re-reads
  // the fact archive and the edge archive.
  private val CompositeProbe = "nightly_composite"
  // HDR rollup probe (round 17, q216): state-size vs fact-volume (state
  // rows must stay flat at <= (64-s)*2^s per key while the exact
  // percentile input grows linearly), 7-shard merge cost, read cost.
  private val HdrProbe = "hdr_rollup"
  // Anchored-funnel probe (round 16, q210): the re-anchored fold is
  // O(anchors × events) per entity on the collected array — fine on
  // human entities (a handful of anchors), quadratic on a bot. This
  // measures (a) the corpus cost at 1M/4M events with normal entities
  // (expect ~linear), and (b) one bot entity at growing event counts
  // with and without maxEventsPerEntity — the number that proves the
  // cap is the bound, not a vibe.
  private val AnchoredProbe = "anchored_funnel"
  // Storage-layout probe: measures BYTES READ (not wall-clock — local
  // page cache makes every layout look fast) for selective filters over
  // three physical layouts of the same table: unsorted, sorted by x,
  // z-ordered on (x, y). The classic tradeoff table: a single-column
  // sort prunes its own dimension perfectly and the other not at all;
  // z-order prunes both well; unsorted prunes nothing.
  private val LayoutProbe = "layout"

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scale = if (args.length > 1) args(1).toInt else 4
    val only = if (args.length > 2) args(2).split(",").map(_.trim).toSet
               else Queries.toSet + SpanProbe + PerceptualProbe + HeavyProbe +
                 LayoutProbe + IntervalProbe + EditDistProbe + GraphProbe +
                 PageProbe + InvIdxProbe + AttributionProbe + StitchProbe +
                 MarkovProbe + IncrementalProbe + SketchOverlapProbe +
                 CcAbProbe + MartechProbe + CcIncProbe + AnchoredProbe +
                 CompositeProbe + HdrProbe
    val out = s"/tmp/graft_scale$scale"
    val base = "/tmp/graft_scale_base1"
    val log = new java.io.PrintWriter(
      new java.io.FileWriter("/tmp/scale_results.txt", true), true)
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // One writer for every scale INCLUDING 1: the baseline must carry the
    // identical marker perturbation (rep = 0 only) or the two timings
    // compare different similarity structures, not different scales.
    def writeDerivative(s: Int, dir: String): Unit = {
      Tables.load(spark, sf, "documents")
        .withColumn("rep", explode(lit((0 until s).toArray)))
        .select(
          (col("doc_id") * s + col("rep")).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            (w, i) => when(i % 3 === 2,
              concat(w, lit(" zq"),
                abs(xxhash64(col("doc_id"), col("rep"), i)).cast("string")))
              .otherwise(w)), " ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("int"))
        .write.mode("overwrite").parquet(s"file:$dir/documents.parquet")
      // embeddings derivative: replicas get a small deterministic per-rep
      // shift (distinct vectors, same distribution); vec_id < 8 still
      // selects exactly 8 query vectors at every scale
      Tables.load(spark, sf, "embeddings")
        .withColumn("rep", explode(lit((0 until s).toArray)))
        .select((col("vec_id") * s + col("rep")).as("vec_id"),
          transform(col("embedding"),
            x => x + col("rep").cast("float") * lit(0.001f)).as("embedding"))
        .write.mode("overwrite").parquet(s"file:$dir/embeddings.parquet")
    }
    writeDerivative(scale, out)
    // the base1 derivative is input-deterministic, so reuse it across
    // runs/scales (delete /tmp/graft_scale_base1 manually if the source
    // sf dir changes); regenerating it every run would also race a
    // concurrent probe timing t1 against the same shared path.
    // Completeness = BOTH tables' _SUCCESS (a crash between the two
    // writes must not pass as complete), and the build goes to a temp
    // dir renamed into place so a partial write can never be reused.
    def complete(dir: String): Boolean =
      new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists() &&
        new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists()
    if (!complete(base)) {
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      val tmp = new java.io.File(base + ".tmp")
      rmrf(tmp); rmrf(new java.io.File(base))
      writeDerivative(1, tmp.getPath)
      require(tmp.renameTo(new java.io.File(base)),
        s"rename $tmp -> $base failed")
    } else System.err.println(s"[scaleprobe] reusing existing $base")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def best(f: => Unit): Double = {
      System.gc(); time(f); math.min(time(f), time(f))
    }
    Queries.filter(only.contains).foreach { q =>
      def run(dir: String): Unit = SparkEntry.queries(q)(spark, dir).count()
      val t1 = best(run(base))
      val tS = best(run(out))
      val exp = math.log(tS / t1) / math.log(scale.toDouble)
      log.println(f"""{"query":"$q","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f}""")
    }
    // the documented mitigation for the radius-8 regime, measured at S×:
    // banded 4×16-bit chunks (2^16 bucket keys vs 2^7) at ~77% recall
    if (only.contains("q41_simhash_neardups")) {
      import graft.dedup.Dedup
      def banded(dir: String): Unit =
        Dedup.simhashNearDupsBanded(Tables.load(spark, dir, "documents"),
          "doc_id", "text", maxHamming = 8, nChunks = 4).count()
      val t1 = best(banded(base))
      val tS = best(banded(out))
      val exp = math.log(tS / t1) / math.log(scale.toDouble)
      log.println(f"""{"query":"q41_banded_4x16(mitigation)","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f}""")
    }
    // Span family on a PLANTED-boilerplate derivative (see SpanProbe note
    // at the top): same unique-marker body as the main derivative — no
    // accidental cross-doc gram sharing, for the same reason the main
    // derivative uses markers — plus a fixed 40-token passage appended to
    // every 5th doc and a 25-token one to every 7th. Shared-span STRUCTURE
    // is scale-invariant (a constant fraction of docs carries each
    // passage; per-doc cov is bounded by the passage lengths) while the
    // corpus, anchor count, and flagged-doc count all grow S× — the null
    // hypothesis is ~linear. The strip timing forces the full pipeline
    // through a 1-row checksum COLLECTED (not counted) so nothing is
    // eliminated.
    if (only.contains(SpanProbe)) {
      import graft.dedup.Dedup
      val boiler1 = (1 to 40).map(i => s"bp$i").mkString(" ")
      val boiler2 = (1 to 25).map(i => s"lic$i").mkString(" ")
      def writeSpanDerivative(s: Int, dir: String): Unit =
        Tables.load(spark, sf, "documents")
          .withColumn("rep", explode(lit((0 until s).toArray)))
          .withColumn("nid", col("doc_id") * s + col("rep"))
          .select(col("nid").as("doc_id"),
            concat(
              array_join(transform(split(col("text"), " "),
                (w, i) => when(i % 3 === 2,
                  concat(w, lit(" zq"),
                    abs(xxhash64(col("doc_id"), col("rep"), i)).cast("string")))
                  .otherwise(w)), " "),
              when(pmod(col("nid"), lit(5L)) === 0, lit(" " + boiler1))
                .otherwise(lit("")),
              when(pmod(col("nid"), lit(7L)) === 0, lit(" " + boiler2))
                .otherwise(lit(""))).as("text"))
          .write.mode("overwrite").parquet(s"file:$dir/documents.parquet")
      val spanBase = "/tmp/graft_span_base1"
      val spanOut = s"/tmp/graft_span_scale$scale"
      if (!new java.io.File(s"$spanBase/documents.parquet/_SUCCESS").exists())
        writeSpanDerivative(1, spanBase)
      else System.err.println(s"[scaleprobe] reusing existing $spanBase")
      writeSpanDerivative(scale, spanOut)
      def docs(dir: String): DataFrame =
        spark.read.parquet(s"file:$dir/documents.parquet")
      def spans(dir: String): Unit = {
        Dedup.crossDocSpans(docs(dir), "doc_id", "text",
          k = 5, minDocs = 2).count(); ()
      }
      def strip(dir: String): Unit = {
        Dedup.stripCrossDocSpans(docs(dir), "doc_id", "text",
            k = 5, minDocs = 2)
          .select(sum(length(col("clean_text"))), sum(col("n_removed")))
          .collect(); ()
      }
      Seq("q103_spans(planted)" -> (spans _),
          "q104_strip(planted)" -> (strip _)).foreach { case (nm, f) =>
        val t1 = best(f(spanBase))
        val tS = best(f(spanOut))
        val exp = math.log(tS / t1) / math.log(scale.toDouble)
        log.println(f"""{"query":"$nm","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f}""")
      }
    }
    if (only.contains(PerceptualProbe)) {
      import graft.dedup.Dedup
      import graft.multimodal.MultiModal
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      def smix(a: Long): Long = {
        var z = a + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      // per-id noise in [-2, 2] — the near-dup perturbation within a group
      def nz(id: Long, pos: Long): Int =
        java.lang.Math.floorMod(smix(id * 31 + pos), 5L).toInt - 2
      def grayPng(p: (Int, Int) => Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 8; x <- 0 until 9) {
          val v = math.max(0, math.min(255, p(x, y)))
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        out.toByteArray
      }
      // hash-seeded gray value in [64, 192): adjacent-cell differences are
      // ~triangular over ±128, so the ±2 noise flips a gradient sign on
      // ~3% of bits — same-group members land ~2 bits apart (inside the
      // radius-4 gate), cross-group signatures are ~uniform 64-bit
      def rv(g: Long, k: Long, x: Int, y: Int): Int =
        64 + java.lang.Math.floorMod(
          smix(g * 1315423911L + k * 2654435761L + y * 9 + x), 128L).toInt
      val mediaSchema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("content", BinaryType, nullable = false)))
      def writeMedia(n: Long, dir: String, make: Long => Array[Byte]): Unit = {
        val rdd = spark.range(n).rdd.map(id => Row(id, make(id)))
        spark.createDataFrame(rdd, mediaSchema)
          .write.mode("overwrite").parquet(s"file:$dir")
      }
      def image(id: Long): Array[Byte] = {
        val g = id / 5
        grayPng((x, y) => rv(g, 0, x, y) + nz(id, y * 9L + x))
      }
      def audio(id: Long): Array[Byte] = {
        val g = id / 5
        // 65 hash-seeded envelope frames in [2000, 6000), 8 samples each:
        // adjacent-frame differences ≫ the ±2 noise, so same-group hashes
        // are ~identical while cross-group envelopes are independent
        val env = Array.tabulate(65)(f =>
          2000 + java.lang.Math.floorMod(smix(g * 7919 + f), 4000L).toInt)
        val samples = Array.tabulate(65 * 8) { i =>
          val mag = env(i / 8) + nz(id, i.toLong)
          (if (i % 2 == 0) mag else -mag).toShort
        }
        MultiModal.encodeWav(16000, samples)
      }
      def video(id: Long): Array[Byte] = {
        val g = id / 5
        val frames = (0 until 3).map(k =>
          grayPng((x, y) => rv(g, k, x, y) + nz(id, k * 72L + y * 9L + x)))
        MultiModal.encodeAvi(frames, 9, 8, fps = 25)
      }
      // base sizes: large enough that the hash+join dominates fixed job
      // overhead at scale 1, small enough that 16x stays /tmp-friendly
      val probes: Seq[(String, Long, Long => Array[Byte],
                       DataFrame => DataFrame)] = Seq(
        ("image_neardups(probe)", 8000L, image,
          m => Dedup.imageNearDups(m, "id", "content", maxHamming = 4)),
        ("audio_neardups(probe)", 4000L, audio,
          m => Dedup.audioNearDups(m, "id", "content", maxHamming = 4)),
        ("video_neardups(probe)", 6000L, video,
          m => Dedup.videoNearDups(m, "id", "content", maxHamming = 4)))
      probes.foreach { case (nm, n1, make, op) =>
        val tag = nm.takeWhile(_ != '_')
        val base1 = s"/tmp/graft_media_${tag}_base1"
        val outS = s"/tmp/graft_media_${tag}_scale$scale"
        if (!new java.io.File(s"$base1/_SUCCESS").exists())
          writeMedia(n1, base1, make)
        else System.err.println(s"[scaleprobe] reusing existing $base1")
        writeMedia(n1 * scale, outS, make)
        def run(dir: String): Long =
          op(spark.read.parquet(s"file:$dir")).count()
        var p1 = 0L; var pS = 0L
        val t1 = best { p1 = run(base1) }
        val tS = best { pS = run(outS) }
        val exp = math.log(tS / t1) / math.log(scale.toDouble)
        log.println(f"""{"query":"$nm","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f,"pairs1":$p1,"pairs$scale":$pS}""")
      }
    }
    if (only.contains(HeavyProbe)) {
      import graft.analyze.TextAnalysis
      // D = 1000 (support 0.1%). Fixture: 5% of rows spread over 20 heavy
      // keys (each 0.25% = 2.5x threshold -> all 20 qualify at every
      // scale); the other 95% over an id-keyed tail of cardinality n/2
      // (~2 occurrences each -> MG residuals die in decrements, pruned at
      // the N/(D(D+1)) cutoff). Per-partition distinct keys >> D, so the
      // decrement path runs hot — the regime TextSpec can only touch.
      val d = 1000
      def writeHeavy(s: Int, dir: String): Unit = {
        val n = 4000000L * s
        spark.range(n).select(
          when(pmod(xxhash64(col("id"), lit("hh")), lit(20L)) === 0,
            concat(lit("H"), pmod(xxhash64(col("id"), lit("pick")), lit(20L))
              .cast("string")))
            .otherwise(concat(lit("t"),
              pmod(xxhash64(col("id"), lit("tail")), lit(n / 2)).cast("string")))
            .as("v"))
          .write.mode("overwrite").parquet(s"file:$dir")
      }
      val hhBase = "/tmp/graft_hh_base1"
      val hhOut = s"/tmp/graft_hh_scale$scale"
      if (!new java.io.File(s"$hhBase/_SUCCESS").exists()) writeHeavy(1, hhBase)
      else System.err.println(s"[scaleprobe] reusing existing $hhBase")
      writeHeavy(scale, hhOut)
      def sketch(dir: String): Long =
        TextAnalysis.heavyHitters(
          spark.read.parquet(s"file:$dir"), col("v"), d).count()
      def naive(dir: String): Long = {
        val df = spark.read.parquet(s"file:$dir").filter(col("v").isNotNull)
        df.groupBy("v").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(df.agg(count(lit(1)).as("n"))))
          .filter(col("cnt") * d >= col("n")).count()
      }
      // Shuffle-write accounting: locally shuffles run at RAM speed, so
      // wall-clock alone undersells the sketch (the naive Tungsten agg
      // wins CPU-wise up to at least 64M rows in one JVM). On a cluster
      // the term that matters is bytes crossing the network/disk: the
      // no-repeat tail defeats map-side combine, so the naive partial agg
      // ships ~every distinct key, while MG ships <= D rows/partition.
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val mtr = te.taskMetrics
          if (mtr != null)
            shuffleBytes.addAndGet(mtr.shuffleWriteMetrics.bytesWritten); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def measured(f: => Unit): (Double, Long) = {
        val t = best(f)                       // timing: best-of-2 after prime
        // the listener bus drains asynchronously (waitUntilEmpty is
        // private[spark]); a settle pause before reset and before read
        // keeps stragglers from the timing runs out of the byte count
        Thread.sleep(500)
        shuffleBytes.set(0L)                  // bytes: one clean extra run
        f
        Thread.sleep(500)
        (t, shuffleBytes.get)
      }
      var s1 = 0L; var sS = 0L; var n1 = 0L; var nS = 0L
      val (st1, _) = measured { s1 = sketch(hhBase) }
      val (stS, sbS) = measured { sS = sketch(hhOut) }
      val (nt1, _) = measured { n1 = naive(hhBase) }
      val (ntS, nbS) = measured { nS = naive(hhOut) }
      spark.sparkContext.removeSparkListener(listener)
      require(s1 == n1 && sS == nS,
        s"heavy-hitter sketch/naive disagree: $s1/$n1 at 1x, $sS/$nS at ${scale}x")
      val sExp = math.log(stS / st1) / math.log(scale.toDouble)
      val nExp = math.log(ntS / nt1) / math.log(scale.toDouble)
      log.println(f"""{"query":"heavy_hitters_sketch(probe)","t1":$st1%.3f,"t$scale":$stS%.3f,"ratio":${stS / st1}%.2f,"exponent":$sExp%.2f,"hitters1":$s1,"hitters$scale":$sS,"shuffle_mb_$scale":${sbS / 1e6}%.2f}""")
      log.println(f"""{"query":"heavy_hitters_naive(probe)","t1":$nt1%.3f,"t$scale":$ntS%.3f,"ratio":${ntS / nt1}%.2f,"exponent":$nExp%.2f,"speedup_at_$scale":${ntS / stS}%.2f,"shuffle_mb_$scale":${nbS / 1e6}%.2f}""")
    }
    if (only.contains(IntervalProbe)) {
      import graft.relational.Relational
      // synthesized on the fly (deterministic in (side, id)): starts
      // hash-uniform over a domain that scales with n, spans 1..40 —
      // ~4 expected overlaps per left interval at every scale
      val nBase = 200000L
      def mk(n: Long, domain: Long, side: String): DataFrame =
        spark.range(n).select(
          col("id"),
          pmod(xxhash64(col("id"), lit(side)), lit(domain)).as("st"))
          .select(col("id").as(s"${side}_id"), col("st").as(s"${side}_s"),
            (col("st") + pmod(xxhash64(col("id"), lit(side + "len")), lit(40L)) + 1)
              .as(s"${side}_e"))
      def grid(n: Long, domain: Long): Long =
        Relational.intervalJoin(mk(n, domain, "l"), mk(n, domain, "r"),
          "l_s", "l_e", "r_s", "r_e", bucketWidth = 32L).count()
      def naive(n: Long, domain: Long): Long =
        mk(n, domain, "l").join(mk(n, domain, "r"),
          col("l_s") <= col("r_e") && col("r_s") <= col("l_e")).count()
      val dom1 = 2000000L
      var c1 = 0L; var cS = 0L
      val t1 = best { c1 = grid(nBase, dom1) }
      val tS = best { cS = grid(nBase * scale, dom1 * scale) }
      val exp = math.log(tS / t1) / math.log(scale.toDouble)
      // reduced-size head-to-head at TWO sizes: counts must agree (the
      // naive theta join IS the ground truth) and each plan gets its
      // own measured exponent on the same inputs — the naive product's
      // quadratic term shows up between the two points even where
      // absolute times still look harmless
      val nSmall = 20000L; val domSmall = dom1 / 10
      var g1 = 0L; var g4 = 0L; var nv1 = 0L; var nv4 = 0L
      val tg1 = best { g1 = grid(nSmall, domSmall) }
      val tn1 = best { nv1 = naive(nSmall, domSmall) }
      val tg4 = best { g4 = grid(nSmall * scale, domSmall * scale) }
      val tn4 = best { nv4 = naive(nSmall * scale, domSmall * scale) }
      require(g1 == nv1 && g4 == nv4,
        s"interval grid/naive disagree: $g1/$nv1 at 1x, $g4/$nv4 at ${scale}x")
      val gExp = math.log(tg4 / tg1) / math.log(scale.toDouble)
      val nExp = math.log(tn4 / tn1) / math.log(scale.toDouble)
      log.println(f"""{"query":"interval_grid(probe)","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f,"pairs1":$c1,"pairs$scale":$cS}""")
      log.println(f"""{"query":"interval_grid_head2head(probe)","t1":$tg1%.3f,"t$scale":$tg4%.3f,"exponent":$gExp%.2f,"n_side":$nSmall,"pairs$scale":$g4}""")
      log.println(f"""{"query":"interval_naive_head2head(probe)","t1":$tn1%.3f,"t$scale":$tn4%.3f,"exponent":$nExp%.2f,"speedup_at_$scale":${tn4 / tg4}%.2f}""")
    }
    if (only.contains(EditDistProbe)) {
      import graft.dedup.Dedup
      // "Customer#NNNNNNN"-shaped strings over a number space 10× the
      // row count: duplicates and 1-digit-apart neighbors occur at a
      // constant per-row rate at every scale (match density fixed)
      def corpus(n: Long): DataFrame =
        spark.range(n).select(col("id"),
          concat(lit("Name#"), lpad(pmod(xxhash64(col("id"), lit("ed")),
            lit(n * 10)).cast("string"), 8, "0")).as("nm"))
      def blocked(n: Long): Long =
        Dedup.editDistancePairs(corpus(n), "id", "nm", 1).count()
      def naive(n: Long): Long = {
        val a = corpus(n)
        val b = corpus(n).withColumnRenamed("id", "id_b")
          .withColumnRenamed("nm", "nm_b")
        a.join(b, col("id") < col("id_b") &&
          levenshtein(col("nm"), col("nm_b")) <= 1).count()
      }
      val nProbe = 50000L
      var b1 = 0L; var bS = 0L
      val tb1 = best { b1 = blocked(nProbe) }
      val tbS = best { bS = blocked(nProbe * scale) }
      val bExp = math.log(tbS / tb1) / math.log(scale.toDouble)
      // naive head-to-head at a reduced size (quadratic by construction)
      val nSmall = 10000L
      var bh1 = 0L; var bhS = 0L; var nv1 = 0L; var nvS = 0L
      val tbh1 = best { bh1 = blocked(nSmall) }
      val tnv1 = best { nv1 = naive(nSmall) }
      val tbhS = best { bhS = blocked(nSmall * scale) }
      val tnvS = best { nvS = naive(nSmall * scale) }
      require(bh1 == nv1 && bhS == nvS,
        s"editdist blocked/naive disagree: $bh1/$nv1 at 1x, $bhS/$nvS at ${scale}x")
      val bhExp = math.log(tbhS / tbh1) / math.log(scale.toDouble)
      val nvExp = math.log(tnvS / tnv1) / math.log(scale.toDouble)
      log.println(f"""{"query":"editdist_blocked(probe)","t1":$tb1%.3f,"t$scale":$tbS%.3f,"ratio":${tbS / tb1}%.2f,"exponent":$bExp%.2f,"pairs1":$b1,"pairs$scale":$bS}""")
      log.println(f"""{"query":"editdist_head2head(probe)","blocked_exp":$bhExp%.2f,"naive_exp":$nvExp%.2f,"speedup_at_$scale":${tnvS / tbhS}%.2f,"n_side":$nSmall,"pairs$scale":$bhS}""")
    }
    if (only.contains(GraphProbe)) {
      import graft.analyze.GraphOps
      val mBase = 1000000L
      def graph(m: Long): (DataFrame, DataFrame) = {
        val nNodes = m / 10
        val edges = spark.range(m).select(
          pmod(xxhash64(col("id"), lit("gs")), lit(nNodes)).as("src"),
          when(col("id") % 10 === 0, lit(0L))
            .otherwise(pmod(xxhash64(col("id"), lit("gd")), lit(nNodes))).as("dst"),
          (pmod(xxhash64(col("id"), lit("gw")), lit(9L)) + 1).as("w"))
        (spark.range(nNodes).select(col("id").as("node")), edges)
      }
      def pr(m: Long): Long = {
        val (n, e) = graph(m)
        GraphOps.pageRankFixedPoint(n, e, iterations = 5).count()
      }
      def lpa(m: Long): Long = {
        val (n, e) = graph(m)
        GraphOps.labelPropagation(n, e, iterations = 4).count()
      }
      def tri(m: Long): Long = {
        val (_, e) = graph(m)
        GraphOps.triangleCount(e).head().getLong(2)
      }
      for ((tag, f) <- Seq[(String, Long => Long)](
          ("pagerank_5it", pr), ("lpa_4it", lpa), ("triangles", tri))) {
        var r1 = 0L; var rS = 0L
        val t1 = best { r1 = f(mBase) }
        val tS = best { rS = f(mBase * scale) }
        val exp = math.log(tS / t1) / math.log(scale.toDouble)
        log.println(f"""{"query":"graph_$tag(probe)","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f,"out1":$r1,"out$scale":$rS}""")
      }
    }
    if (only.contains(PageProbe)) {
      import graft.relational.Relational
      // pagination probe: page (k=100) latency as the OFFSET moves deep
      // into an n-row table, bucketed operator vs the literal
      // sort-offset-limit plan. The bucketed page must stay ~flat in m
      // (only the intersecting buckets sort); the literal plan's cost
      // grows with m (it materializes the global order up to m+k).
      val nRows = 2000000L * scale
      def tbl(n: Long): DataFrame = spark.range(n).select(
        col("id"), xxhash64(col("id"), lit("pg")).as("v"))
      val k = 100
      def page(n: Long, m: Long): Seq[Long] =
        Relational.topKWithOffset(tbl(n), col("v"), descending = true,
          tieBreakers = Seq(col("id").asc), k = k, offset = m, buckets = 64)
          .orderBy("rn").select("id")
          .collect().map(_.getLong(0)).toSeq
      def naive(n: Long, m: Long): Seq[Long] = {
        // ADVICE r13: .offset takes Int — a large --scale would silently
        // wrap m past Int.MaxValue and probe the wrong page
        require(m <= Int.MaxValue,
          s"naive pagination probe: offset $m exceeds Int range; lower scale")
        tbl(n).orderBy(col("v").desc, col("id").asc)
          .offset(m.toInt).limit(k).select("id")
          .collect().map(_.getLong(0)).toSeq
      }
      for (m <- Seq(1000L, nRows / 2, nRows - 2 * k)) {
        var pIds: Seq[Long] = Nil; var nIds: Seq[Long] = Nil
        val tp = best { pIds = page(nRows, m) }
        val tn = best { nIds = naive(nRows, m) }
        require(pIds == nIds,
          s"pagination page/naive disagree at offset $m: ${pIds.take(3)} vs ${nIds.take(3)}")
        log.println(f"""{"query":"pagination_offset_${m}(probe)","n":$nRows,"bucketed":$tp%.3f,"naive":$tn%.3f,"speedup":${tn / tp}%.2f}""")
      }
      // ---- Parquet row-group pruning of the page scan ----
      // The deep-page job filters by a RANGE predicate on the raw order
      // value; on a value-clustered table Parquet min/max stats must
      // skip the row groups outside the page's value interval. The two
      // stats passes run eagerly at operator-construction time (driver
      // collects), so a listener attached AFTER construction measures
      // the page scan alone. Clustered vs unclustered layouts isolate
      // the pruning (same data, same plan, different row-group stats).
      val dirC = "/tmp/graft_page_clustered"
      val dirU = "/tmp/graft_page_unclustered"
      val base = tbl(nRows)
      base.repartitionByRange(32, col("v")).sortWithinPartitions("v")
        .write.mode("overwrite").parquet(dirC)
      base.repartition(32).write.mode("overwrite").parquet(dirU)
      val recsRead = new java.util.concurrent.atomic.AtomicLong()
      val prListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (te.taskMetrics != null)
            recsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
          ()
        }
      }
      def pageScanRecords(dir: String): (Long, Long) = {
        val df = spark.read.parquet(dir)
        val pg = Relational.topKWithOffset(df, col("v"), descending = true,
          tieBreakers = Seq(col("id").asc), k = k, offset = nRows / 2,
          buckets = 64, shallowLimit = 0L) // stats passes run HERE
        spark.sparkContext.addSparkListener(prListener)
        try {
          recsRead.set(0L)
          val n = pg.count()
          (recsRead.get, n)
        } finally spark.sparkContext.removeSparkListener(prListener)
      }
      val (rc, nc) = pageScanRecords(dirC)
      val (ru, nu) = pageScanRecords(dirU)
      require(nc == k && nu == k, s"page sizes wrong: $nc/$nu")
      log.println(f"""{"query":"pagination_rowgroup_skip(probe)","n":$nRows,"page_scan_records_clustered":$rc,"page_scan_records_unclustered":$ru,"skip_ratio":${ru.toDouble / math.max(1, rc)}%.1f}""")
    }
    if (only.contains(InvIdxProbe)) {
      import graft.analyze.TextAnalysis
      import org.apache.spark.sql.expressions.Window
      // hot-vocabulary stress: every token is shared by ~nDocs/1000 to
      // nDocs docs. The group-limit form must keep the post-dedup
      // shuffle and the list-agg buffer bounded at maxPostings per
      // token per task; the naive form (collect the full posting list,
      // slice after) ships and buffers corpus-sized lists — the OOM
      // shape at scale. Records alone under-count the naive side (a
      // partial list of 2M ids is ONE record), so shuffle BYTES are
      // recorded too. Outputs must be identical.
      val nDocs = 500000L * scale
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(lit("the a"), pmod(col("id"), lit(1000L)).cast("string"),
          lit(" b"), pmod(col("id"), lit(97L)).cast("string")).as("text"))
      def naive(): DataFrame = {
        val pairs = docs.select(col("doc_id").as("__doc"),
            explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
          .filter(length(col("token")) > 0).distinct()
        pairs.groupBy(col("token"))
          .agg(count(lit(1)).as("doc_freq"),
            array_join(transform(slice(sort_array(collect_list(col("__doc"))), 1, 8),
              d => d.cast("string")), ",").as("postings"))
      }
      val shuffleRecs = new java.util.concurrent.atomic.AtomicLong()
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (te.taskMetrics != null) {
            shuffleRecs.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
            shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
          }
          ()
        }
      }
      // noop sink, NOT count(): count() lets the optimizer PRUNE the
      // posting-list aggregation entirely (the list column is unused),
      // so a counted "naive" run measures an empty plan
      def sink(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def measured(f: => Unit): (Double, Long, Long) = {
        spark.sparkContext.addSparkListener(listener)
        try {
          time { f } // prime
          shuffleRecs.set(0L); shuffleBytes.set(0L)
          val t = time { f }
          (t, shuffleRecs.get, shuffleBytes.get)
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      val (tb, sb, bb) = measured(
        sink(TextAnalysis.invertedIndex(docs, "doc_id", "text", 8)))
      val (tn, sn, bn) = measured(sink(naive()))
      // full-result equality, not just counts: the cap semantics must
      // match the slice-after form exactly
      val diff = TextAnalysis.invertedIndex(docs, "doc_id", "text", 8)
        .exceptAll(naive()).count()
      require(diff == 0L, s"inverted index bounded/naive disagree: diff $diff")
      log.println(f"""{"query":"inverted_index(probe)","n_docs":$nDocs,"bounded_s":$tb%.3f,"naive_s":$tn%.3f,"bounded_shuffle":[$sb,$bb],"naive_shuffle":[$sn,$bn],"bytes_reduction":${bn.toDouble / math.max(1, bb)}%.2f}""")
    }
    if (only.contains(LayoutProbe)) {
      import graft.source.Layout
      // 8M rows, 64-char payload so bytes are dominated by data, not
      // metadata; x and y hash-uniform over [0, 1e6)
      val n = 8000000L
      val dom = 1000000L
      val base = spark.range(n).select(
        col("id"),
        pmod(xxhash64(col("id"), lit("x")), lit(dom)).as("x"),
        pmod(xxhash64(col("id"), lit("y")), lit(dom)).as("y"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string"))).as("payload"))
      val dirU = "/tmp/graft_layout_unsorted"
      val dirX = "/tmp/graft_layout_xsorted"
      val dirZ = "/tmp/graft_layout_zorder"
      if (!new java.io.File(s"$dirZ/_SUCCESS").exists()) {
        base.repartition(32).write.mode("overwrite").parquet(dirU)
        base.repartitionByRange(32, col("x")).sortWithinPartitions("x")
          .write.mode("overwrite").parquet(dirX)
        Layout.writeZOrdered(base, dirZ, Seq("x", "y"), files = 32, bits = 8)
      } else System.err.println("[scaleprobe] reusing existing layout dirs")
      val bytesRead = new java.util.concurrent.atomic.AtomicLong()
      val recsRead = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val mtr = te.taskMetrics
          if (mtr != null) {
            bytesRead.addAndGet(mtr.inputMetrics.bytesRead)
            recsRead.addAndGet(mtr.inputMetrics.recordsRead)
          }
          ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      // filter shapes: x-only (1/16 of the x domain), y-only (1/16 of y),
      // both (1/16 x 1/16 = 1/256 of rows). Aggregate forces the scan but
      // keeps result sizes trivial; expected counts sanity-checked across
      // layouts (layout-only invariant).
      val w = dom / 16
      def shapes(df: DataFrame): Seq[(String, DataFrame)] = Seq(
        "x_only" -> df.filter(col("x") >= 3 * w && col("x") < 4 * w),
        "y_only" -> df.filter(col("y") >= 3 * w && col("y") < 4 * w),
        "both" -> df.filter(col("x") >= 3 * w && col("x") < 4 * w &&
          col("y") >= 3 * w && col("y") < 4 * w))
      val layouts = Seq("unsorted" -> dirU, "x_sorted" -> dirX, "zorder" -> dirZ)
      val counts = scala.collection.mutable.Map[String, Set[Long]]()
      layouts.foreach { case (lname, dir) =>
        val df = spark.read.parquet(s"file:$dir")
        shapes(df).foreach { case (sname, q) =>
          def run(): Long = q.agg(count(lit(1))).head().getLong(0)
          run()                          // prime (footer reads, codegen)
          Thread.sleep(500); bytesRead.set(0L); recsRead.set(0L)
          val t0 = System.nanoTime(); val c = run()
          val secs = (System.nanoTime() - t0) / 1e9
          Thread.sleep(500)
          counts(sname) = counts.getOrElse(sname, Set.empty) + c
          log.println(f"""{"query":"layout_scan(probe)","layout":"$lname","filter":"$sname","mb_read":${bytesRead.get / 1e6}%.1f,"rows_scanned":${recsRead.get},"t":$secs%.3f,"rows":$c}""")
        }
      }
      spark.sparkContext.removeSparkListener(listener)
      require(counts.values.forall(_.size == 1),
        s"layouts disagree on filter results: $counts")
    }
    if (only.contains(IncrementalProbe)) {
      import graft.analyze.Reach
      // n archived facts over n/50 entities x 5 types (~10 events per
      // (type, entity) state row), 1% nightly delta. Archive facts and
      // the reach state both live on parquet — the production posture:
      // the state is a maintained table, not a cached plan.
      val n = 500000L * scale
      def ev(start: Long, cnt: Long): DataFrame =
        spark.range(start, start + cnt).select(
          pmod(xxhash64(col("id"), lit("u")), lit(n / 50)).as("user_id"),
          concat(lit("t"),
            pmod(xxhash64(col("id"), lit("t")), lit(5L))).as("event_type"))
      val archDir = s"$out/inc_facts"; val stateDir = s"$out/inc_state"
      ev(0, n).write.mode("overwrite").parquet(archDir)
      Reach.reachState(spark.read.parquet(archDir), "user_id", "event_type")
        .write.mode("overwrite").parquet(stateDir)
      val delta = ev(n, n / 100).cache(); delta.count()
      def sink(df: DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save()
        df.count()
      }
      def recompute(): DataFrame = Reach.reachFrequency(
        spark.read.parquet(archDir).unionByName(delta),
        "user_id", "event_type")
      def incremental(): DataFrame = Reach.reachFrequencyFromState(
        Reach.mergeReachStates(spark.read.parquet(stateDir),
          Reach.reachState(delta, "user_id", "event_type"),
          "user_id", "event_type"),
        "user_id", "event_type")
      // Wall-clock alone undersells the merge in one warm JVM (a local
      // scan of the archive runs at RAM speed); the term that matters
      // on a cluster is ROWS ENTERING THE JOB — recompute re-reads the
      // fact archive every night, incremental reads the state + delta.
      val inRecords = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val mtr = te.taskMetrics
          if (mtr != null) inRecords.addAndGet(mtr.inputMetrics.recordsRead)
          ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def measured(f: => Unit): (Double, Long) = {
        val t = best(f)
        Thread.sleep(500)
        inRecords.set(0L)
        f
        Thread.sleep(500)
        (t, inRecords.get)
      }
      var nr = 0L; var ni = 0L
      val (tr, rr) = measured { nr = sink(recompute()) }
      val (ti, ri) = measured { ni = sink(incremental()) }
      spark.sparkContext.removeSparkListener(listener)
      require(nr == ni,
        s"incremental reach row counts differ: $nr vs $ni")
      val diff = recompute().exceptAll(incremental()).count()
      require(diff == 0, s"incremental reach curves differ: $diff rows")
      log.println(f"""{"query":"reach_rollup(probe)","n":$n,"recompute":$tr%.3f,"incremental":$ti%.3f,"speedup":${tr / ti}%.2f,"rows_read_recompute":$rr,"rows_read_incremental":$ri,"read_ratio":${rr.toDouble / ri}%.2f,"curve_rows":$nr}""")
      delta.unpersist()
    }
    if (only.contains(SketchOverlapProbe)) {
      import graft.analyze.{KmvAlgebra, KmvDistinct}
      // n (segment, entity) memberships over 5 segments: entity e is in
      // segment s iff hash(e, s) % 3 == 0 (~1/3 membership, ~1/9
      // pairwise overlap) — the partial-overlap structure q202 gates.
      val n = 500000L * scale
      val k = 1024
      val facts = spark.range(n).select(
        pmod(col("id"), lit(n / 5)).as("ent"),
        concat(lit("s"),
          call_function("div", col("id") * 5, lit(n))).as("seg"))
        .filter(pmod(xxhash64(col("ent"), col("seg")), lit(3L)) === 0)
      val factDir = s"$out/ovl_facts"; val stateDir = s"$out/ovl_state"
      facts.write.mode("overwrite").parquet(factDir)
      // state build = the amortized nightly merge cost (fact-scale,
      // once); the refresh path reads ONLY the state table
      val tBuild = time {
        spark.read.parquet(factDir)
          .select(col("seg"),
            KmvDistinct.md5Low64(col("ent").cast("string")).as("h"))
          .groupBy(col("seg"))
          .agg(KmvDistinct.stateUdaf(k)(col("h")).as("st"))
          .write.mode("overwrite").parquet(stateDir)
      }
      def exactForm(): DataFrame = {
        val et = spark.read.parquet(factDir).distinct()
        val ia = et.select(col("seg").as("type_a"), col("ent"))
        val ib = et.select(col("seg").as("type_b"), col("ent"))
        val sizes = et.groupBy(col("seg")).agg(count(lit(1)).as("sz"))
        ia.join(ib, Seq("ent")).filter(col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("exact_inter"))
          .join(sizes.select(col("seg").as("type_a"),
            col("sz").as("exact_a")), Seq("type_a"))
          .join(sizes.select(col("seg").as("type_b"),
            col("sz").as("exact_b")), Seq("type_b"))
      }
      def sketchForm(): DataFrame = KmvAlgebra.overlapFromStates(
        spark.read.parquet(stateDir), "seg", "st", k)
      val inRecords = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val mtr = te.taskMetrics
          if (mtr != null) inRecords.addAndGet(mtr.inputMetrics.recordsRead)
          ()
        }
      }
      def sink(df: DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); df.count()
      }
      spark.sparkContext.addSparkListener(listener)
      def measured(f: => Unit): (Double, Long) = {
        val t = best(f); Thread.sleep(500)
        inRecords.set(0L); f; Thread.sleep(500)
        (t, inRecords.get)
      }
      val (te2, re) = measured { sink(exactForm()) }
      val (ts2, rs) = measured { sink(sketchForm()) }
      spark.sparkContext.removeSparkListener(listener)
      // estimator quality: max relative error across the 10 pairs
      val errRow = exactForm()
        .join(sketchForm(), Seq("type_a", "type_b"))
        .select(
          max(abs(col("est_intersection") - col("exact_inter")) /
            col("exact_inter")).as("mx"),
          avg(abs(col("est_intersection") - col("exact_inter")) /
            col("exact_inter")).as("mn"))
        .head()
      val (errMax, errMean) = (errRow.getDouble(0), errRow.getDouble(1))
      log.println(f"""{"query":"sketch_overlap(probe)","n":$n,"k":$k,"exact":$te2%.3f,"sketch":$ts2%.3f,"state_build":$tBuild%.3f,"speedup":${te2 / ts2}%.2f,"rows_read_exact":$re,"rows_read_sketch":$rs,"read_ratio":${re.toDouble / math.max(rs, 1L)}%.2f,"mean_rel_err":$errMean%.4f,"max_rel_err":$errMax%.4f}""")
    }
    if (only.contains(AttributionProbe)) {
      import graft.relational.Attribution
      // n events: entity 0 holds 25% (the hot funnel account every real
      // event table has); the rest spread over 10k entities. ~10%
      // purchases, lookback = span/100 seconds, so the naive interval
      // join pairs each hot-entity touch with ~convs/100 conversions
      // while the window form ships each row once.
      val n = 500000L * scale
      val lookback = n / 100
      val ev = spark.range(n).select(
        when(col("id") % 4 === 0, 0L)
          .otherwise(pmod(xxhash64(col("id"), lit("u")), lit(10000L)))
          .as("user_id"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        col("id").as("event_id"),
        when(pmod(xxhash64(col("id"), lit("t")), lit(10L)) === 0,
          "purchase")
          .when(pmod(xxhash64(col("id"), lit("t")), lit(2L)) === 0, "click")
          .otherwise("view").as("event_type"))
      def windowForm(): DataFrame =
        Attribution.attributeTouches(ev, "user_id", "ts", "event_type",
            "event_id", "purchase", Seq("click", "view"), lookback)
          .select(col("touch_id"), col("conv_id"))
      def naiveForm(): DataFrame = {
        // interval join touch->candidate convs, min conv per touch:
        // the join-then-rank shape the operator scaladoc forbids
        val touches = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id").as("touch_id"))
        val convs = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("cus"),
            col("event_id").as("conv_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("touch_id"))
          .orderBy(col("cus").asc, col("conv_id").asc)
        touches.join(convs, Seq("user_id"))
          .filter(col("cus") >= col("tus") &&
            col("cus") - col("tus") <= lookback * 1000000L)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("touch_id"), col("conv_id"))
      }
      def sink(df: DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save()
        df.count()
      }
      var nw = 0L; var nn = 0L
      val tw = best { nw = sink(windowForm()) }
      // log the window side IMMEDIATELY: at scale 8 the naive side's
      // hot-entity pair explosion sorts in one task and did not finish
      // inside an hour (the measured verdict) — a partial run must
      // still record the linear side. GRAFT_ATTR_SKIP_NAIVE=1 records
      // only it.
      log.println(f"""{"query":"attribution_window(probe)","n":$n,"window":$tw%.3f,"rows":$nw}""")
      if (!sys.env.contains("GRAFT_ATTR_SKIP_NAIVE")) {
        val tn = best { nn = sink(naiveForm()) }
        require(nw == nn, s"attribution window/naive row counts differ: $nw vs $nn")
        // spot equality beyond counts: assignments must be identical
        val diff = windowForm().exceptAll(naiveForm()).count()
        require(diff == 0, s"attribution window/naive assignments differ: $diff rows")
        log.println(f"""{"query":"attribution_assign(probe)","n":$n,"window":$tw%.3f,"naive_join":$tn%.3f,"speedup":${tn / tw}%.2f,"rows":$nw}""")
      }
    }
    if (only.contains(StitchProbe)) {
      import graft.dedup.Dedup
      // n entities: unique "u" ids, chain pairs via id div 2, and a
      // HOT identifier shared by every 50th entity (2% of n) — the
      // shared-corporate-email shape. Star edges stay linear; the
      // naive same-identifier self-join builds (n/50)²/2 pairs for the
      // hot identifier alone before CC even starts.
      val n = 100000L * scale
      val ents = spark.range(n).select(col("id").as("ent"))
      val ids = ents.select(col("ent"), lit("u").as("t"),
          col("ent").cast("string").as("v"))
        .unionByName(ents.select(col("ent"), lit("chain").as("t"),
          call_function("div", col("ent"), lit(2L)).cast("string").as("v")))
        .unionByName(ents.filter(col("ent") % 50 === 0)
          .select(col("ent"), lit("hot").as("t"), lit("0").as("v")))
      def checksum(df: DataFrame): (Long, String) = {
        // decimal sum: a long sum of 64-bit hashes overflows under ANSI
        val r = df.agg(count(lit(1)),
            sum(xxhash64(col("ent"), col("person_id")).cast("decimal(38,0)")))
          .head()
        (r.getLong(0), r.getDecimal(1).toString)
      }
      def starForm(): DataFrame =
        Dedup.stitchIdentities(ids, "ent", "t", "v")
      def naiveForm(): DataFrame = {
        val m = ids.select(col("ent"),
            concat_ws("", col("t"), col("v")).as("ident")).distinct()
        val pairs = m.join(m.withColumnRenamed("ent", "ent_b"), Seq("ident"))
          .filter(col("ent") < col("ent_b"))
          .select(col("ent").as("a"), col("ent_b").as("b")).distinct()
        val comp = Dedup.connectedComponents(pairs, "a", "b")
        ids.select(col("ent")).distinct()
          .join(comp.select(col("id").as("ent"), col("cluster_id").as("__p")),
            Seq("ent"), "left")
          .select(col("ent"), coalesce(col("__p"), col("ent")).as("person_id"))
      }
      var cs = (0L, ""); var cn = (0L, "")
      val ts = best { cs = checksum(starForm()) }
      val tn = best { cn = checksum(naiveForm()) }
      require(cs == cn, s"stitching star/naive person maps differ: $cs vs $cn")
      log.println(f"""{"query":"stitching(probe)","n":$n,"star":$ts%.3f,"naive_pairs":$tn%.3f,"speedup":${tn / ts}%.2f,"entities":${cs._1}}""")
    }
    if (only.contains(MartechProbe)) {
      import graft.relational.Shapley
      import graft.analyze.Experiment
      // conversion pick is HASH-based, never id%k: an arithmetic pick
      // correlates with the id%E entity assignment (10 | E made every
      // entity all-conv or all-touch — zero credit rows)
      def evts(n: Long): DataFrame = spark.range(n).select(
        pmod(col("id"), lit(math.max(100L, n / 100L))).as("ent"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64(col("id"), lit("t")), lit(5184000L))).as("ts"),
        when(pmod(xxhash64(col("id"), lit("k")), lit(10L)) === 0, lit("conv"))
          .otherwise(concat(lit("ch"),
            pmod(xxhash64(col("id"), lit("c")), lit(8L)))).as("et"),
        col("id").as("eid"))
      def shap(n: Long): Long =
        Shapley.shapleyAttribution(evts(n), "ent", "ts", "et", "eid",
          "conv", (0 until 8).map("ch" + _), lookbackSeconds = 86400L * 7)
          .count()
      def mm(n: Long): Long =
        Experiment.matchedMarketReadout(
          evts(n).withColumn("market",
            concat(lit("m"), pmod(col("ent"), lit(20L)))),
          "market", "ts", treated = Seq("m0", "m3", "m7"),
          cutoff = lit("2023-12-15").cast("date")).count()
      val mBase = 1000000L
      for ((tag, f) <- Seq[(String, Long => Long)](
          ("shapley", shap), ("matched_market", mm))) {
        var r1 = 0L; var rS = 0L
        val t1 = best { r1 = f(mBase) }
        val tS = best { rS = f(mBase * scale) }
        val exp = math.log(tS / t1) / math.log(scale.toDouble)
        log.println(f"""{"query":"martech_$tag(probe)","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f,"out1":$r1,"out$scale":$rS}""")
      }
    }
    if (only.contains(CcAbProbe)) {
      import graft.dedup.Dedup
      def hubGraph(n: Long): DataFrame =
        spark.range(n).select((col("id") + 1024L).as("a"),
            pmod(col("id"), lit(1024L)).as("b"))
          .union(spark.range(1, 1024L).select(col("id").as("a"),
            lit(0L).as("b")))
      def treeGraph(n: Long): DataFrame =
        spark.range(1, n).select(col("id").as("a"),
          call_function("div", col("id"), lit(2L)).as("b"))
      def chainGraph(n: Long): DataFrame =
        spark.range(1, n).filter(col("id") % 96 =!= 0)
          .select(col("id").as("a"), (col("id") - 1).as("b"))
      def checksum(df: DataFrame): (Long, String) = {
        val r = df.agg(count(lit(1)),
            sum(xxhash64(col("id"), col("cluster_id")).cast("decimal(38,0)")))
          .head()
        (r.getLong(0), r.getDecimal(1).toString)
      }
      for ((shape, mk) <- Seq[(String, Long => DataFrame)](
          ("hub", hubGraph), ("tree", treeGraph), ("chain", chainGraph));
           m <- Seq(1000000L, 1000000L * scale)) {
        val pairs = mk(m).localCheckpoint(true)
        var mlR = 0; var stR = 0
        var mlCs = (0L, ""); var stCs = (0L, "")
        val mlT = best { mlCs = checksum(Dedup.connectedComponents(
          pairs, "a", "b", maxIter = 200, onConverge = mlR = _)) }
        val stT = best { stCs = checksum(Dedup.connectedComponentsStar(
          pairs, "a", "b", maxIter = 64, onConverge = stR = _)) }
        require(mlCs == stCs,
          s"cc_ab $shape@$m: label maps differ $mlCs vs $stCs")
        log.println(f"""{"query":"cc_ab_$shape(probe)","edges":$m,"minlabel_s":$mlT%.3f,"minlabel_rounds":$mlR,"star_s":$stT%.3f,"star_rounds":$stR,"star_speedup":${mlT / stT}%.2f,"nodes":${mlCs._1}}""")
      }
    }
    if (only.contains(AnchoredProbe)) {
      import graft.relational.Relational
      val steps = Seq("s0", "s1", "s2")
      def corpus(n: Long): DataFrame = spark.range(n).select(
        pmod(col("id"), lit(n / 50L)).as("ent"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64(col("id"), lit("t")), lit(864000L))).as("ts"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit("e")), lit(3L)))
          .as("et"))
      // noop sink, NOT count(): count() prunes the fold columns and
      // times an empty plan (the playbook's naive-list-agg trap)
      def runSteps(df: DataFrame, cap: Int): Long = {
        val out = Relational.funnelStepsWindowedAnchored(
          df, "ent", "ts", "et", steps, stepWindowSeconds = 3600L,
          maxEventsPerEntity = cap)
        out.write.format("noop").mode("overwrite").save()
        0L
      }
      val mBase = 1000000L
      val t1 = best { runSteps(corpus(mBase), 0) }
      val tS = best { runSteps(corpus(mBase * scale), 0) }
      val exp = math.log(tS / t1) / math.log(scale.toDouble)
      log.println(f"""{"query":"anchored_corpus(probe)","t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f}""")
      // one bot entity: all events one user, dense anchors
      def bot(n: Long): DataFrame = spark.range(n).select(
        lit(0L).as("ent"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit("e")), lit(3L)))
          .as("et"))
      for (n <- Seq(4000L, 16000L)) {
        val tUncap = best { runSteps(bot(n), 0) }
        val tCap = best { runSteps(bot(n), 512) }
        log.println(f"""{"query":"anchored_bot(probe)","events":$n,"uncapped_s":$tUncap%.3f,"capped512_s":$tCap%.3f,"blowup":${tUncap / tCap}%.2f}""")
      }
    }
    if (only.contains(CcIncProbe)) {
      import graft.dedup.Dedup
      def checksum(df: DataFrame): (Long, String) = {
        val r = df.agg(count(lit(1)),
            sum(xxhash64(col("id"), col("cluster_id")).cast("decimal(38,0)"))
          ).head()
        (r.getLong(0), r.getDecimal(1).toString)
      }
      for (m <- Seq(1000000L, 1000000L * scale)) {
        // div-2 tree, each pair observed 10x (the re-emitting detector)
        val tree = spark.range(1, m).select(col("id").as("a"),
          call_function("div", col("id"), lit(2L)).as("b"))
        val archive = tree.crossJoin(
            spark.range(10).select(col("id").as("__rep"))).drop("__rep")
          .localCheckpoint(true)
        val isDelta = pmod(xxhash64(col("a"), col("b"), lit("d")),
          lit(100L)) === 0
        val stored = Dedup.connectedComponents(
          archive.filter(!isDelta), "a", "b", maxIter = 200)
          .localCheckpoint(true)
        val delta = archive.filter(isDelta).localCheckpoint(true)
        val nLbl = stored.count(); val nDelta = delta.count()
        var incR = 0; var fullR = 0
        var ci = (0L, ""); var cf = (0L, "")
        val ti = best { ci = checksum(Dedup.incrementalComponents(
          stored, delta, "a", "b", maxIter = 200, onConverge = incR = _)) }
        // the full rebuild's min-label rounds follow the TREE diameter
        val tf = best { cf = checksum(Dedup.connectedComponents(
          archive, "a", "b", maxIter = 200, onConverge = fullR = _)) }
        require(ci == cf, s"cc_incremental@$m: merge != rebuild $ci vs $cf")
        log.println(f"""{"query":"cc_incremental(probe)","edges":${m * 10},"labels":$nLbl,"delta":$nDelta,"incremental_s":$ti%.3f,"incremental_rounds":$incR,"rebuild_s":$tf%.3f,"rebuild_rounds":$fullR,"speedup":${tf / ti}%.2f}""")
      }
    }
    if (only.contains(CompositeProbe)) {
      import graft.dedup.Dedup
      import graft.relational.Relational
      import graft.analyze.{Hdr, KmvDistinct}
      // M entities in chain-blocks of B (clusters), EV events each.
      // Stored state = labels + per-cluster agg/HDR/KMV states, built
      // once OUTSIDE the timed region (they're last night's output).
      val M = 1000000L; val B = 10L; val EV = 5L
      val facts = spark.range(0, M * EV).select(
          call_function("div", col("id"), lit(EV)).as("e"),
          (pmod(col("id"), lit(997L)) + 1L).as("v"),
          concat(lit("s"), pmod(col("id"), lit(50L))).as("source"))
        .localCheckpoint(true)
      val archivePairs = spark.range(0, M)
        .filter(pmod(col("id"), lit(B)) =!= B - 1)
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
        .localCheckpoint(true)
      // closed-form CC of the block chains (≡ connectedComponents
      // output on archivePairs: min member labels the block)
      val storedLabels = spark.range(0, M).select(col("id"),
          (col("id") - pmod(col("id"), lit(B))).as("cluster_id"))
        .localCheckpoint(true)
      val histLab = facts.join(storedLabels,
          facts("e") === storedLabels("id"))
        .select(col("cluster_id").as("cid_old"), col("v"), col("source"))
      val storedAgg = Relational.aggState(histLab, Seq("cid_old"), "v")
        .localCheckpoint(true)
      val storedHdr = Hdr.hdrState(histLab, "cid_old", "v")
        .localCheckpoint(true)
      val storedKmv = histLab
        .select(col("cid_old"), KmvDistinct.md5Low64(col("source")).as("__h"))
        .groupBy("cid_old")
        .agg(KmvDistinct.stateUdaf(64)(col("__h")).as("__st"))
        .localCheckpoint(true)
      def checksumOut(df: DataFrame): (Long, String) = {
        val r = df.agg(count(lit(1)),
            sum(xxhash64(col("cluster_id"), col("n"), col("sum_v"),
              col("min_v"), col("max_v"), col("p50_bin"), col("n_sk"),
              col("kth")).cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1).toString)
      }
      def finalReport(agg: DataFrame, hdr: DataFrame,
                      kmv: DataFrame): DataFrame =
        agg.join(Hdr.hdrQuantiles(hdr, "cluster_id", Seq(50))
            .select(col("cluster_id"), col("bin").as("p50_bin")),
          Seq("cluster_id"))
        .join(kmv.select(col("cluster_id"),
            size(col("__st")).cast("long").as("n_sk"),
            element_at(col("__st"), -1).as("kth")), Seq("cluster_id"))
      for (fPct <- Seq(1, 10)) {
        val step = 100L / fPct
        // bridges: every step-th block chains to its successor
        val deltaPairs = spark.range(0, M / B - 1)
          .filter(pmod(col("id"), lit(step)) === 0)
          .select((col("id") * B).as("a"), ((col("id") + 1L) * B).as("b"))
          .localCheckpoint(true)
        // delta facts: f% of the nightly event volume, spread over
        // existing entities
        val deltaFacts = spark.range(0, M * EV * fPct / 100).select(
            pmod(col("id") * 7919L, lit(M)).as("e"),
            (pmod(col("id"), lit(997L)) + 1L).as("v"),
            concat(lit("s"), pmod(col("id"), lit(50L))).as("source"))
          .localCheckpoint(true)
        var ci = (0L, ""); var cf = (0L, "")
        val ti = best {
          val refreshed = Dedup.incrementalComponents(storedLabels,
            deltaPairs, "a", "b", maxIter = 60)
          val rootMap = refreshed.select(col("id").as("cid_old"),
            col("cluster_id").as("cid_new"))
          def rekey(st: DataFrame): DataFrame = st
            .join(rootMap, Seq("cid_old"), "left")
            .withColumn("cluster_id",
              coalesce(col("cid_new"), col("cid_old")))
            .drop("cid_old", "cid_new")
          val dLab = deltaFacts.join(refreshed
              .select(col("id"), col("cluster_id").as("__c")),
              deltaFacts("e") === col("id"), "left")
            .select(coalesce(col("__c"), col("e")).as("cluster_id"),
              col("v"), col("source"))
          val agg = Relational.mergeAggStates(
            Relational.reduceAggState(rekey(storedAgg), Seq("cluster_id")),
            Relational.aggState(dLab, Seq("cluster_id"), "v"),
            Seq("cluster_id"))
          val hdr = Hdr.mergeHdrStates("cluster_id", rekey(storedHdr),
            Hdr.hdrState(dLab, "cluster_id", "v"))
          val kmv = rekey(storedKmv).unionByName(dLab
              .select(col("cluster_id"),
                KmvDistinct.md5Low64(col("source")).as("__h"))
              .groupBy("cluster_id")
              .agg(KmvDistinct.stateUdaf(64)(col("__h")).as("__st")))
            .select(col("cluster_id"), explode(col("__st")).as("__h"))
            .groupBy("cluster_id")
            .agg(KmvDistinct.stateUdaf(64)(col("__h")).as("__st"))
          ci = checksumOut(finalReport(agg, hdr, kmv))
        }
        val tf = best {
          val clusters = Dedup.connectedComponents(
            archivePairs.unionByName(deltaPairs), "a", "b", maxIter = 200)
          val allF = facts.unionByName(deltaFacts)
          val lab = allF.join(clusters, allF("e") === clusters("id"), "left")
            .select(coalesce(col("cluster_id"), col("e")).as("cluster_id"),
              col("v"), col("source"))
          val agg = Relational.aggState(lab, Seq("cluster_id"), "v")
          val hdr = Hdr.hdrState(lab, "cluster_id", "v")
          val kmv = lab.select(col("cluster_id"),
              KmvDistinct.md5Low64(col("source")).as("__h"))
            .groupBy("cluster_id")
            .agg(KmvDistinct.stateUdaf(64)(col("__h")).as("__st"))
          cf = checksumOut(finalReport(agg, hdr, kmv))
        }
        require(ci == cf, s"nightly_composite@$fPct%: merge != rebuild $ci vs $cf")
        val rowsInc = storedLabels.count() + storedAgg.count() +
          storedHdr.count() + storedKmv.count() +
          deltaFacts.count() + deltaPairs.count()
        val rowsFull = facts.count() + archivePairs.count() +
          deltaFacts.count() + deltaPairs.count()
        log.println(f"""{"query":"nightly_composite(probe)","delta_pct":$fPct,"rows_incremental":$rowsInc,"rows_rebuild":$rowsFull,"incremental_s":$ti%.3f,"rebuild_s":$tf%.3f,"speedup":${tf / ti}%.2f,"rows_ratio":${rowsFull.toDouble / rowsInc}%.2f}""")
      }
    }
    if (only.contains(HdrProbe)) {
      import graft.analyze.Hdr
      // heavy-tailed positive values (exp-ish via bit tricks), K keys
      val K = 50L
      def facts(m: Long) = spark.range(0, m).select(
          col("id"),
          concat(lit("k"), pmod(col("id"), lit(K))).as("k"),
          (pmod(xxhash64(col("id")), lit(1000000L)) *
            pmod(xxhash64(col("id"), lit(7)), lit(1000L)) + 1L).as("v"))
        .localCheckpoint(true)
      for (m <- Seq(1000000L, 1000000L * scale)) {
        val f = facts(m)
        var stRows = 0L
        val tBuild = best {
          stRows = Hdr.hdrState(f, "k", "v").count()
        }
        // 7 DISJOINT shards (row-identity split) built once; merge +
        // read timed
        val shards = (0 until 7).map(i =>
          Hdr.hdrState(f.filter(pmod(col("id"), lit(7)) === i), "k", "v")
            .localCheckpoint(true))
        var mergedRows = 0L
        val tMerge = best {
          mergedRows = Hdr.mergeHdrStates("k", shards: _*).count()
        }
        val merged = Hdr.mergeHdrStates("k", shards: _*).localCheckpoint(true)
        // merge == recompute at state granularity (the q216 gate's claim)
        def stChecksum(df: DataFrame) = df.agg(
          sum(xxhash64(col("k"), col("bin"), col("cnt"))
            .cast("decimal(38,0)"))).head().getDecimal(0)
        require(stChecksum(merged) == stChecksum(Hdr.hdrState(f, "k", "v")),
          s"hdr 7-shard merge != full recompute at $m facts")
        val tRead = best {
          require(Hdr.hdrQuantiles(merged, "k", Seq(50, 90, 99))
            .count() == K * 3)
        }
        val bound = (64 - 6) * 64 // (64-s)*2^s at s=6
        require(stRows <= K * bound,
          s"hdr state rows $stRows exceed structural bound ${K * bound}")
        log.println(f"""{"query":"hdr_rollup(probe)","facts":$m,"state_rows":$stRows,"bound_per_key":$bound,"build_s":$tBuild%.3f,"merge7_s":$tMerge%.3f,"merged_rows":$mergedRows,"read_s":$tRead%.3f}""")
      }
    }
    if (only.contains(MarkovProbe)) {
      import graft.relational.MarkovAttribution
      import spark.implicits._
      // C channels, ~10 out-edges each (8 channel hops + CONV + NULL),
      // START fanning into 50 — a dense-ish journey graph at the guard
      // boundary. Deterministic seed: same graph every run.
      def solve(c: Int): Double = {
        val rng = new scala.util.Random(42)
        val edges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        for (i <- 0 until 50)
          edges += ((MarkovAttribution.Start, s"ch${rng.nextInt(c)}",
            1L + rng.nextInt(100)))
        for (i <- 0 until c) {
          for (_ <- 0 until 8)
            edges += ((s"ch$i", s"ch${rng.nextInt(c)}", 1L + rng.nextInt(50)))
          edges += ((s"ch$i", MarkovAttribution.Conv, 1L + rng.nextInt(20)))
          edges += ((s"ch$i", MarkovAttribution.Null, 1L + rng.nextInt(20)))
        }
        val df = edges.toSeq.toDF("src", "dst", "cnt")
          .groupBy("src", "dst").agg(sum("cnt").as("cnt"))
        time { assert(MarkovAttribution.removalEffects(df,
          maxChannels = c + 1).count() > 0) }
      }
      val c1 = 250
      val cS = 250 * scale
      val t1 = solve(c1)
      val tS = solve(cS)
      val exp = math.log(tS / t1) / math.log(scale.toDouble)
      log.println(f"""{"query":"markov_solve(probe)","channels1":$c1,"channels$scale":$cS,"t1":$t1%.3f,"t$scale":$tS%.3f,"ratio":${tS / t1}%.2f,"exponent":$exp%.2f}""")
    }
    log.close()
    spark.stop()
  }
}
