package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analyze.{Hdr, KmvDistinct, TextAnalysis => TA}
import graft.dedup.Dedup
import graft.relational.Relational
import graft.source.FsOps

/** The COMPOSED streaming twin of the nightly incremental refresh
  * (q221/q225's chain made continuous): each micro-batch of documents
  * drives the WHOLE family in one foreachBatch — exact dedup against
  * the survivor fingerprints, near-dup pair detection touching the
  * batch, incremental connected-components label refresh, and the
  * agg / HDR / KMV state re-key + merge (merged clusters COLLIDE and
  * their states combine) — then writes ONLY the epoch's DELTA under an
  * epoch-keyed directory.
  *
  * == State layout: bucketed, append-only (the 100 TB posture) ==
  *
  * Every epoch writes a DELTA-SIZED directory `epoch=<e>/` and never
  * rewrites history (r18's full-snapshot rewrite was the one
  * self-flagged scale gap in shipped code — write amplification
  * proportional to the corpus per epoch):
  *
  *   - `docs/`    the epoch's newly-SURVIVING documents, with their
  *                fingerprint and (sorted, distinct) shingle-hash set —
  *                shingled ONCE at ingest, never re-shingled. The
  *                current corpus is the plain union across epochs
  *                (append-only: docs are never superseded).
  *   - `grams/bkt=<b>/`  the PREFIX-gram posting list of the epoch's
  *                survivors, hash-bucketed by gram (`pmod(g, buckets)`).
  *                The prefix is the first |sh|−⌈t·|sh|⌉+1 hashes under
  *                GRAM-HASH-ascending order — a total order that never
  *                changes as the corpus grows (a df-rarity order, the
  *                batch optimization `Dedup.ngramJaccardPairs` uses,
  *                would re-rank history on every ingest). Both-sided
  *                prefix filtering under one global order is exact:
  *                J(A,B) ≥ t ⇒ |A∩B| ≥ max(⌈t|A|⌉,⌈t|B|⌉) = o, and two
  *                prefixes of length |X|−o+1 under the same order must
  *                share the smallest common element. The candidate join
  *                therefore reads ONLY the partitions whose bucket
  *                appears in the delta's gram set — directory-level
  *                pruning against the archive.
  *   - `labels/`  CHANGED rows only: (id, cluster_id) for new docs and
  *                for archive docs whose component merged. Ids never
  *                disappear, so the current mapping is latest-epoch-wins
  *                per id, no tombstones.
  *   - `agg/ hdr/ kmv/ report/`  state rows for clusters TOUCHED by the
  *                epoch (new, merged-into, or batch-extended), plus
  *                TOMBSTONES (`__del = true`) for roots that merged away.
  *                Current state = latest-epoch-wins per cluster, dead
  *                keys dropped.
  *
  * A `_COMMITTED` marker is the LAST file written in an epoch; every
  * reader (and [[latestEpoch]]) filters on it, so a crash mid-epoch can
  * never expose a torn snapshot (ADVICE r18). Replay idempotency stays
  * structural: epoch `e` reads only committed epochs `< e` and
  * overwrites exactly `epoch=<e>` — the lineage is identical whether
  * the epoch ran once or five times.
  *
  * Contract (the changelog convention): doc ids are append-ordered —
  * a batch's ids exceed every id already in the corpus — so
  * keep-lowest-id-per-fingerprint equals keep-first-arrival and the
  * stream's output matches a from-scratch batch recompute over the
  * union (Round18Spec pins the equality across forced cluster merges;
  * q228 puts the composed stream itself under the driver's oracle gate
  * against q221's from-scratch recompute).
  *
  * Scale notes, per epoch at a delta of d docs over a corpus of N:
  * shingling is O(d) (once per doc, at ingest); the candidate join
  * shuffles delta prefix grams against the PRUNED archive buckets (the
  * only stage whose reads grow with the archive's posting list — and
  * those are 24-byte (g, id, sz) rows, never text); the exact-Jaccard
  * verify joins candidate ids against the stored shingle sets through a
  * broadcast semi-filter, so only candidates' arrays shuffle; the label
  * refresh runs CC over the AFFECTED components only (their star edges
  * ∪ the delta's pairs — never the archive's edge set); state re-key
  * joins ride a broadcast of the delta-component-sized root map; and
  * every write is delta-sized. The corpus-sized work that remains is
  * column-pruned SCANS (fp for exact dedup, the label mapping, pruned
  * gram buckets) — reads, not shuffles, not writes. Long streams
  * compact periodically (union-of-epochs read cost grows with epoch
  * count — the same merge-on-read trade Delta/Iceberg make); the local
  * fixtures stay at ≤4 epochs. */
object NightlyRefresh {

  /** Epoch commit marker — written LAST; readers filter on it. */
  val CommittedMarker = "_COMMITTED"

  /** Default (no-op) `onEpoch` sentinel: when the caller does not ask
    * for the live-cluster count, the per-epoch report-union count job
    * is skipped entirely, not computed and discarded. */
  val NoOnEpoch: (Long, Long) => Unit = (_, _) => ()

  /** Runs `tasks` on `threads` threads and returns when all finish. A
    * failed task must not leave its siblings writing past the aborted
    * action on non-daemon threads: a quick same-JVM replay could race a
    * straggler overwriting the same paths. So the first failure
    * interrupts the in-flight tasks (shutdownNow), waits at most 60 s
    * for them (the abort stays prompt even if a task ignores the
    * interrupt), and rethrows. */
  private[graft] def runSiblings(threads: Int, tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(f => Future(f()))), Duration.Inf)
    catch { case t: Throwable =>
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      throw t
    }
    finally pool.shutdown()
  }

  private def fsOps(spark: SparkSession) = new FsOps(spark)

  /** Committed epoch ids strictly below `before` (all when None),
    * ascending. Un-marked (torn / in-flight) epoch dirs are invisible. */
  def committedEpochs(spark: SparkSession, statePath: String,
                      before: Option[Long] = None): Seq[Long] = {
    val fs = fsOps(spark)
    fs.listPrefixes(statePath.stripSuffix("/"))
      .flatMap { p =>
        val leaf = p.split('/').last
        if (leaf.startsWith("epoch=")) Some((p, leaf.drop(6).toLong)) else None
      }
      .collect { case (p, e)
        if before.forall(e < _) && fs.exists(s"$p/$CommittedMarker") => e }
      .sorted
  }

  /** Newest COMMITTED epoch. */
  def latestEpoch(spark: SparkSession, statePath: String): Option[Long] =
    committedEpochs(spark, statePath).lastOption

  // ---- readers over the append-only layout ----------------------------

  private def tablePaths(statePath: String, epochs: Seq[Long],
                         table: String): Seq[String] =
    epochs.map(e => s"${statePath.stripSuffix("/")}/epoch=$e/$table")

  /** Latest-epoch-wins per `key`, tombstones dropped. Rows arrive with
    * the `__epoch` data column baked in at write time. */
  private def resolve(df: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(col(key))
    df.withColumn("__mx", max(col("__epoch")).over(w))
      .filter(col("__epoch") === col("__mx") && !col("__del"))
      .drop("__epoch", "__mx", "__del")
  }

  private def docsOver(spark: SparkSession, statePath: String,
                       epochs: Seq[Long]): DataFrame =
    spark.read.parquet(tablePaths(statePath, epochs, "docs"): _*)

  /** Current full report (q221's output shape per surviving cluster),
    * resolved over every committed epoch. */
  def currentReport(spark: SparkSession, statePath: String): DataFrame =
    resolve(spark.read.parquet(
      tablePaths(statePath, committedEpochs(spark, statePath),
        "report"): _*), "cluster_id")

  // ---- state derivation helpers ---------------------------------------

  private def kmvOf(lab: DataFrame, k: Int): DataFrame = lab
    .filter(col("source").isNotNull)
    .select(col("cluster_id"), KmvDistinct.md5Low64(col("source")).as("__h"))
    .groupBy(col("cluster_id"))
    .agg(KmvDistinct.stateUdaf(k)(col("__h")).as("state"))

  /** Label a survivor frame with refreshed components (unlabeled docs
    * are their own singleton cluster). */
  private def labeled(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.join(labels.select(col("id").as("doc_id"),
        col("cluster_id").as("__c")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__c"), col("doc_id")).as("cluster_id"),
        col("n_chars"), col("source"))

  /** Start the composed refresh over a streaming document frame with
    * columns (doc_id, text, n_chars, source). `seedDocs` is the
    * historical corpus; it is folded into the FIRST epoch's batch (an
    * epoch with no committed predecessor runs the identical incremental
    * path against empty state — from-scratch init and steady ingest are
    * one code path). Epoch deltas land under
    * `statePath/epoch=<id>/{docs,grams,labels,agg,hdr,kmv,report}`;
    * read the composed output through [[currentReport]]. */
  def start(deltaDocs: DataFrame, seedDocs: DataFrame, statePath: String,
            checkpointDir: String, shingleN: Int = 3,
            threshold: Double = 0.3, k: Int = 64, subBits: Int = 6,
            gramBuckets: Int = 16,
            onEpoch: (Long, Long) => Unit = NoOnEpoch)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(gramBuckets >= 1, s"gramBuckets must be >= 1; got $gramBuckets")
    val st = statePath.stripSuffix("/")
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))

    deltaDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        // label every phase (guide §1.5): the epoch runs ~a dozen jobs
        // and an unlabeled UI/listener cannot attribute the wall time
        def phase[T](name: String)(f: => T): T = {
          spark.sparkContext.setJobDescription(s"nref e$epochId: $name")
          try f finally spark.sparkContext.setJobDescription(null)
        }
        val fs = fsOps(spark)
        val out = s"$st/epoch=$epochId"
        // a replayed epoch re-enters un-committed: drop the marker first
        // so readers never see a half-overwritten directory as committed
        fs.delete(s"$out/$CommittedMarker")
        val epochs = committedEpochs(spark, st, before = Some(epochId))
        val isFirst = epochs.isEmpty
        val eff = if (isFirst) seedDocs.unionByName(batch) else batch

        // empty prior-state frames carry the schemas the state builders
        // produce, so the first epoch runs the same incremental path
        val emptyLab = batch.filter(lit(false))
          .select(col("doc_id"), col("doc_id").as("cluster_id"),
            col("n_chars"), col("source"))
        def emptyLabels = emptyLab.select(col("doc_id").as("id"),
          col("cluster_id"))

        // one parquet relation over the committed epochs' docs tables,
        // shared by the fp anti-join and the shingle fetch (each consumer
        // column-prunes its own scan; the dir listing happens once)
        lazy val docsBefore = docsOver(spark, st, epochs)
        // ---- stage 1: exact dedup (in-batch window, then anti-join
        //      against the stored fingerprints — a column-pruned scan)
        val storedFps =
          if (isFirst) eff.filter(lit(false))
            .select(TA.fingerprint(col("text")).as("fp"))
          // no .distinct(): left_anti ignores right-side multiplicity,
          // so the dedup aggregation would be a pure corpus-sized shuffle
          else docsBefore.select("fp")
        val keptB = phase("s1 exact dedup") {
          eff
          .withColumn("fp", TA.fingerprint(col("text")))
          .withColumn("rn", row_number().over(wFp))
          .filter(col("rn") === 1).drop("rn")
          .join(storedFps, Seq("fp"), "left_anti")
          .withColumn("sh", Dedup.shingles(col("text"), shingleN))
          .withColumn("sz", size(col("sh")))
          .localCheckpoint(true)
        }

        // ---- stage 2: candidate pairs via the bucketed prefix-gram
        //      postings; every pair has >= 1 delta endpoint
        val prefLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1)
          .cast("int")
        val prefB = phase("s2 delta prefix") { keptB.filter(col("sz") > 0)
          .select(col("doc_id").as("id"), col("sz"),
            explode(slice(col("sh"), lit(1), prefLen)).as("g"))
          .withColumn("bkt", pmod(col("g"), lit(gramBuckets.toLong)))
          .localCheckpoint(true)
        }
        // the delta's bucket set: metadata-sized (<= gramBuckets values)
        val deltaBkts = phase("s2 bucket set") { prefB.select("bkt").distinct()
          .collect().map(_.getLong(0)) }
        val gramDirs = tablePaths(st, epochs, "grams")
          // an all-duplicate epoch writes no postings (partitionBy of an
          // empty frame leaves no schema-bearing file) — skip bare dirs
          .filter(p => fs.listPrefixes(p).exists(_.contains("bkt=")))
        // one read PER epoch dir, unioned: a single multi-path read would
        // run partition discovery across the epoch= parents and reject
        // the layout as conflicting; per-root reads each discover only
        // their own bkt= partitions, and the isin filter prunes those
        // directories per branch
        val archPref =
          if (gramDirs.isEmpty)
            prefB.filter(lit(false)).select("g", "id", "sz")
          else gramDirs.map(p => spark.read.parquet(p)
              .filter(col("bkt").isin(deltaBkts: _*)) // partition pruning
              .select(col("g"), col("id"), col("sz")))
            .reduce(_ unionByName _)
        // ---- exact-Jaccard-verified pairs with >= 1 delta endpoint.
        //      FIRST epoch: all docs are the delta — use the batch
        //      detector (its df-rarity prefix order keeps hot grams out
        //      of the candidate join; the verified pair SET is the same
        //      under any prefix order, so stored state is unaffected).
        //      Steady epochs: hash-ordered delta prefix against the
        //      bucket-pruned archive postings, then verify against only
        //      the CANDIDATES' stored shingle sets (broadcast
        //      semi-filter — arrays of non-candidates never shuffle; at
        //      100 TB the docs table is additionally id-bucketed so the
        //      scan itself row-group-prunes).
        val touching = (if (isFirst)
          // keptB already carries the stored shingle sets — the
          // from-shingles entry point skips the text kernel's six
          // re-shingling subtree executions (same verified pair set)
          Dedup.ngramJaccardPairsFromShingles(
              keptB.select(col("doc_id").as("id"), col("sh")), threshold)
            .select("id_a", "id_b")
        else {
          val rightPref = archPref.unionByName(prefB.select("g", "id", "sz"))
          val cand = phase("s2 candidate join") { prefB
            .select(col("g"), col("id").as("id_l"), col("sz").as("sz_l"))
            .join(rightPref.select(col("g"), col("id").as("id_r"),
              col("sz").as("sz_r")), Seq("g"))
            .filter(col("id_l") =!= col("id_r") &&
              least(col("sz_l"), col("sz_r")).cast("double") >=
                lit(threshold) * greatest(col("sz_l"), col("sz_r")).cast("double"))
            .select(least(col("id_l"), col("id_r")).as("id_a"),
              greatest(col("id_l"), col("id_r")).as("id_b"))
            .dropDuplicates("id_a", "id_b")
            // materialize: cand feeds the candIds broadcast AND the
            // verify join — lazy, the bucket-pruned archive candidate
            // join (the epoch's heaviest shuffle) would execute twice
            .localCheckpoint(true)
          }
          val shAll = docsBefore
            .select(col("doc_id").as("id"), col("sh"))
            .unionByName(keptB.select(col("doc_id").as("id"), col("sh")))
          val candIds = cand.select(col("id_a").as("id"))
            .union(cand.select(col("id_b").as("id"))).distinct()
          val shCand = phase("s2 cand shingles") {
            shAll.join(broadcast(candIds), Seq("id")).localCheckpoint(true) }
          cand
            .join(shCand.select(col("id").as("id_a"), col("sh").as("__sa")),
              Seq("id_a"))
            .join(shCand.select(col("id").as("id_b"), col("sh").as("__sb")),
              Seq("id_b"))
            .filter(Dedup.jaccard(col("__sa"), col("__sb")) >= threshold)
            .select("id_a", "id_b")
        })
        val touchingM = phase("s2 verified pairs")(touching.localCheckpoint(true))

        // ---- stage 3: label refresh over AFFECTED components only.
        //      Components are disjoint, so CC over (affected star edges
        //      ∪ delta pairs) equals the full-corpus incremental run
        //      restricted to affected nodes; untouched labels stand.
        //      The broadcast filters run BEFORE latest-wins resolution,
        //      so the resolve window shuffles only the affected subset,
        //      never the corpus-sized mapping. Filtering on the VALUE
        //      (cluster_id ∈ affRoots) before resolution is exact
        //      because affRoots are CURRENT roots: an id that ever
        //      mapped to a current root still maps to it (components
        //      only merge, and a merged-away root is no longer current),
        //      so every kept row for an id carries its one current root.
        val labelsRaw =
          if (isFirst) emptyLabels.withColumn("__epoch", lit(0L))
          else spark.read.parquet(tablePaths(st, epochs, "labels"): _*)
        def latestById(df: DataFrame): DataFrame = {
          val w = Window.partitionBy(col("id"))
          df.withColumn("__mx", max(col("__epoch")).over(w))
            .filter(col("__epoch") === col("__mx"))
            .drop("__epoch", "__mx")
        }
        val deltaIds = keptB.select(col("doc_id").as("id"))
        val archEnds = touchingM.select(col("id_a").as("id"))
          .union(touchingM.select(col("id_b").as("id"))).distinct()
          .join(deltaIds, Seq("id"), "left_anti")
        val affRoots = latestById(
            labelsRaw.join(broadcast(archEnds), Seq("id")))
          .select(col("cluster_id")).distinct()
        val affLabels = labelsRaw.join(broadcast(affRoots), Seq("cluster_id"))
          .select(col("id"), col("cluster_id"))
          .dropDuplicates("id", "cluster_id")
        val affLabelsM = phase("s3 affected labels")(affLabels.localCheckpoint(true))
        val refreshed = phase("s3 label refresh") {
          Dedup.incrementalComponents(affLabelsM, touchingM,
            "id_a", "id_b").localCheckpoint(true) }
        val labelsNew = refreshed
          .join(affLabelsM, Seq("id", "cluster_id"), "left_anti")

        // ---- stages 4–6: state re-key + merge, affected clusters only.
        //      Every old root of an affected component appears as a node
        //      in `refreshed` (star edges carry it), so an inner join
        //      against the broadcast root map selects exactly the
        //      affected old state rows; roots that mapped elsewhere
        //      become tombstones.
        val rootMap = refreshed
          .select(col("id").as("cid_old"), col("cluster_id").as("cid_new"))
        // affected old state rows: broadcast KEY-filter the raw epoch
        // deltas first, resolve latest-wins over that delta-sized
        // subset only (a key filter keeps every version of a kept key,
        // so the restricted resolve equals the full resolve restricted)
        def affectedOld(table: String, empty: => DataFrame): DataFrame = {
          val aff =
            if (isFirst) empty
            else resolve(
              spark.read.parquet(tablePaths(st, epochs, table): _*)
                .join(broadcast(rootMap
                  .select(col("cid_old").as("cluster_id")).distinct()),
                  Seq("cluster_id")),
              "cluster_id")
          aff.withColumnRenamed("cluster_id", "cid_old")
            .join(broadcast(rootMap), Seq("cid_old"))
        }
        // tombstone keys shared by every state table (r20): any node of
        // an affected component whose refreshed root differs from its id
        // — a superset of each table's own changed old roots. A
        // tombstone for a key a table never held resolves to "absent"
        // exactly as no row would (latest-wins drops __del rows), so the
        // shared set is resolution-identical while letting the three
        // affectedOld frames go LAZY: each previously fed two consumers
        // (rows build + its own deadKeys) and was checkpointed — three
        // jobs per epoch whose only second use was the dead-key scan.
        // (first epoch: no prior state exists, so nothing can die — and
        // the member superset would be seed-corpus-sized there)
        val deadRoots =
          if (isFirst) emptyLab.select(col("cluster_id"))
          else rootMap.filter(col("cid_old") =!= col("cid_new"))
            .select(col("cid_old").as("cluster_id"))
        def rekeyed(aff: DataFrame): DataFrame = aff
          .withColumn("cluster_id", col("cid_new"))
          .drop("cid_old", "cid_new")
        val bLab = labeled(keptB.select("doc_id", "n_chars", "source"),
          refreshed)

        // ---- stage 4 FUSED (r20 session 2 — the chain's s3-5 fusion
        // applied to the STREAM's state merge): the agg / HDR / KMV
        // family states previously built as three checkpointed trees —
        // each re-running the bLab label join and its own merge
        // aggregation, three driver actions per epoch. All three are
        // decomposable aggregates, so ONE (cluster, hdr-bin)-grain pass
        // over the union of the new-side rows and the three re-keyed
        // old-state PARTIALS builds every family (guide §1: fewer
        // actions; §2.4: one exchange where three ran). Identities, each
        // exact and already load-bearing in nightlyCompositeChain:
        // counts/decimal(22,2) sums add order-free, min/max fold, HDR
        // merge is count addition per bin, KMV union-trim is exact
        // (KmvOps.insert — merging singleton states ≡ inserting raw
        // hashes), and state(A ∪ B) ≡ merge(state(A), state(B)). Old
        // rows enter as partial rows: an agg state row carries its
        // (n, sum, min, max) with no hdr/kmv weight (ct = 0, st = null),
        // an hdr row carries (bin, cnt) only, a kmv row its state array
        // only — so each family's merged value sums exactly its own
        // pre-fusion inputs. The null-bin group reproduces hdrState's
        // positive-value filter; on non-null bins every new row has
        // n_chars > 0, so ct = nn there. The bin-grain frame is the ONE
        // checkpoint; the cluster rollup, hdr slice, kmv slice and
        // report derive lazily (each write re-aggregates the tiny
        // checkpointed frame instead of waiting on its own action).
        val aggAff = affectedOld("agg",
          Relational.aggState(emptyLab, Seq("cluster_id"), "n_chars"))
        val hdrAff = affectedOld("hdr",
          Hdr.hdrState(emptyLab, "cluster_id", "n_chars", subBits))
        val kmvAff = affectedOld("kmv", kmvOf(emptyLab, k))
        val sumT = "decimal(22,2)"
        val nullL = lit(null).cast("long")
        val nullSt = lit(null).cast("array<bigint>")
        val partials = bLab.select(col("cluster_id"),
            when(col("n_chars").isNotNull && col("n_chars") > 0,
              Hdr.hdrBin(col("n_chars"), subBits)).as("bin"),
            when(col("n_chars").isNotNull, lit(1L)).otherwise(lit(0L))
              .as("nn"),
            col("n_chars").cast("decimal(12,2)").cast(sumT).as("sv"),
            col("n_chars").as("mn"), col("n_chars").as("mx"),
            when(col("n_chars").isNotNull && col("n_chars") > 0, lit(1L))
              .otherwise(lit(0L)).as("ct"),
            when(col("source").isNotNull,
              array(KmvDistinct.md5Low64(col("source")))).as("st"))
          .unionByName(rekeyed(aggAff).select(col("cluster_id"),
            nullL.as("bin"), col("n").as("nn"),
            col("sum_v").cast(sumT).as("sv"),
            col("min_v").as("mn"), col("max_v").as("mx"),
            lit(0L).as("ct"), nullSt.as("st")))
          .unionByName(rekeyed(hdrAff).select(col("cluster_id"),
            col("bin"), lit(0L).as("nn"), lit(null).cast(sumT).as("sv"),
            nullL.as("mn"), nullL.as("mx"),
            col("cnt").as("ct"), nullSt.as("st")))
          .unionByName(rekeyed(kmvAff).select(col("cluster_id"),
            nullL.as("bin"), lit(0L).as("nn"), lit(null).cast(sumT).as("sv"),
            nullL.as("mn"), nullL.as("mx"),
            lit(0L).as("ct"), col("state").as("st")))
        val binned = phase("s4 fused states")(partials
          .groupBy(col("cluster_id"), col("bin"))
          .agg(sum(col("nn")).as("n"),
            sum(col("sv")).cast(sumT).as("sum_v"),
            min(col("mn")).as("min_v"), max(col("mx")).as("max_v"),
            sum(col("ct")).as("cnt"),
            KmvDistinct.stateMergeUdaf(k)(col("st")).as("__st"))
          .localCheckpoint(true))
        val rolled = binned.groupBy(col("cluster_id"))
          .agg(sum(col("n")).as("n"),
            sum(col("sum_v")).cast(sumT).as("sum_v"),
            min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
            KmvDistinct.stateMergeUdaf(k)(col("__st")).as("__st"))
        val aggRows = rolled.select(col("cluster_id"), col("n"),
          col("sum_v"), col("min_v"), col("max_v"))
        val hdrRows = binned.filter(col("bin").isNotNull)
          .select(col("cluster_id"), col("bin"), col("cnt"))
        // a cluster with no non-null source has an EMPTY merged state —
        // the pre-fusion kmv relation had no row for it (kmvOf filters
        // before grouping, old states are non-empty by construction)
        val kmvRows = rolled.filter(size(col("__st")) > 0)
          .select(col("cluster_id"), col("__st").as("state"))
        val reportRows = rolled.filter(size(col("__st")) > 0)
          .select(col("cluster_id"), col("n").as("n_docs"),
            col("sum_v").cast("long").as("sum_chars"),
            col("min_v").as("min_chars"), col("max_v").as("max_chars"),
            size(col("__st")).cast("long").as("n_src_sketch"),
            element_at(col("__st"), -1).as("src_kth_min"))
          .join(Hdr.hdrQuantiles(hdrRows, "cluster_id", Seq(50), subBits)
            .select(col("cluster_id"), col("bin").as("p50_bin"),
              col("q_low").as("p50_low")), Seq("cluster_id"))
          .select(col("cluster_id"), col("n_docs"), col("sum_chars"),
            col("min_chars"), col("max_chars"), col("p50_bin"),
            col("p50_low"), col("n_src_sketch"), col("src_kth_min"))

        // ---- write the epoch DELTA (overwrite ⇒ replay-idempotent),
        //      then the commit marker LAST
        def stamp(df: DataFrame): DataFrame = df
          .withColumn("__del", lit(false))
          .withColumn("__epoch", lit(epochId))
        def tombstone(dead: DataFrame, like: DataFrame): DataFrame = {
          val nulls = like.columns.filterNot(Set("cluster_id", "__del",
            "__epoch")).map(c =>
            lit(null).cast(like.schema(c).dataType).as(c))
          dead.select(col("cluster_id") +: nulls.toIndexedSeq: _*)
            .withColumn("__del", lit(true))
            .withColumn("__epoch", lit(epochId))
        }
        def writeState(rows: DataFrame, name: String): Unit = {
          val live = stamp(rows)
          live.unionByName(tombstone(deadRoots, live))
            .write.mode(SaveMode.Overwrite).parquet(s"$out/$name")
        }
        // the seven table writes are independent once their inputs are
        // materialized — overlap them (guide §2.6): later writes back-fill
        // executors freed by earlier writes' task tails, and the driver
        // plans them from separate threads. Every input is a checkpointed
        // frame or a pure function of one, so no write recomputes another
        // stage. Job descriptions are thread-local: set inside each task.
        val writes: Seq[(String, () => Unit)] = Seq(
          "docs" -> (() =>
            keptB.write.mode(SaveMode.Overwrite).parquet(s"$out/docs")),
          "grams" -> (() =>
            prefB.select(col("bkt"), col("g"), col("id"), col("sz"))
              .write.mode(SaveMode.Overwrite).partitionBy("bkt")
              .parquet(s"$out/grams")),
          "labels" -> (() =>
            labelsNew.withColumn("__epoch", lit(epochId))
              .write.mode(SaveMode.Overwrite).parquet(s"$out/labels")),
          "agg" -> (() => writeState(aggRows, "agg")),
          "hdr" -> (() => writeState(hdrRows, "hdr")),
          "kmv" -> (() => writeState(kmvRows, "kmv")),
          "report" -> (() => writeState(reportRows, "report")))
        runSiblings(4, writes.map { case (n, f) => () => phase(s"s6 write $n")(f()) })
        fs.writeString(s"$out/$CommittedMarker", "")
        // live-cluster count via partial-aggregated max_by, not the
        // window resolve — the count must not re-shuffle the corpus
        if (!(onEpoch eq NoOnEpoch)) phase("s7 onEpoch count")(onEpoch(epochId,
          spark.read.parquet(tablePaths(st,
              committedEpochs(spark, st, Some(epochId + 1)), "report"): _*)
            .groupBy(col("cluster_id"))
            .agg(max_by(col("__del"), col("__epoch")).as("__d"))
            .filter(!col("__d")).count()))
      }
      .start()
  }
}
