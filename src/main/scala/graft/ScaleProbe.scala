package graft

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
  * line-by-line (crash-safe).
  *
  * Usage: `ScaleProbe <sf> <scale> [q1,q2,…]`; without the list every
  * name in `Queries` runs. */
object ScaleProbe {
  private[graft] val Queries = Seq(
    "q40_minhash_neardups", "q41_simhash_neardups", "q42_ngram_jaccard",
    "q53_corpus_prep", "q63_neardup_clusters", "q70_cluster_survivors",
    "q92_dedup_agreement", "q217_containment_pairs",
    "q221_nightly_composite", "q225_dirty_nightly", "q223_unigram_segment",
    // ANN family: the vec_id < 8 filter keeps the query COUNT at 8 at
    // every scale (at high replication those are near-identical replicas
    // of the lowest originals — fine for timing); corpus grows scale×
    "q33_cosine_topk", "q48_ivf_topk", "q81_pq_topk", "q83_ivfpq_topk")

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scale = if (args.length > 1) args(1).toInt else 4
    val only = if (args.length > 2) args(2).split(",").map(_.trim).toSet
               else Queries.toSet
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
    log.close()
    spark.stop()
  }
}
