package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.relational.Relational

/** Structured Streaming twins of the batch operators (SURVEY §7 M6).
  * The reference hand-rolls incrementality with a bookmark table; its
  * one stateful step, latest-change-per-key (SURVEY §0 step 2), needs
  * no twin here: [[graft.dedup.Dedup.latestPerKeyAgg]] runs unchanged
  * over a `readStream` as an update-mode streaming aggregation whose
  * state is one row per key, the shape [[StreamingRollup]]'s twins
  * share. Spark's own streaming calls (watermarked `dropDuplicates`,
  * `window`/`session_window` counts, stream-static joins) are likewise
  * called directly.
  *
  * What stays holds its own code for a stated reason:
  *   - the `mapGroupsWithState`/`flatMapGroupsWithState` folds keep
  *     bounded per-key state (open islands, k funnel slots, live anchor
  *     chains, the current SCD2 version, the lookback's pending
  *     touches, the cap window's sends), where each batch operator is a
  *     window over a key's whole history. Re-running the batch operator
  *     per epoch over stored state plus the delta would not give the
  *     same rows: `scd2Merge` numbers versions from the closed history,
  *     and `intervalMerge` counts rows, not island weights. A fold
  *     shares its step with the batch twin where that twin runs the
  *     step in Scala ([[graft.relational.Relational.capAdmit]]);
  *   - [[intervalJoin]] and [[incrementalDedupStream]] hold their own
  *     predicate or composition;
  *   - the `foreachBatch` writers run a batch operator per epoch.
  */
object StreamingDedup {

  case class FunnelEvent(user: Long, ts: java.sql.Timestamp, etype: String)

  case class IvInterval(key: Long, s: Long, e: Long)
  case class IslandRec(s: Long, e: Long, n: Long)
  case class IslandsState(islands: Seq[IslandRec])

  /** Streaming twin of [[graft.relational.Relational.intervalMerge]]:
    * per-key islands maintained across micro-batches. Each arrival
    * merges with EVERY island it overlaps (shared endpoints merge, gap
    * of 1 stays separate — the batch semantics), so the fixpoint is the
    * maximal overlap-chain unions and therefore ORDER-INDEPENDENT:
    * unlike the funnel twin, equality with the batch scan holds under
    * ANY arrival order across batches (an island split can never be
    * needed — merging only ever coarsens). State is O(islands per key)
    * — bounded by the coverage structure, not the arrival count; a key
    * whose intervals chain into one session holds ONE record no matter
    * how many intervals arrived. Emits the key's current islands each
    * time the group changes (update semantics). */
  def intervalMergeStream(iv: Dataset[IvInterval])
      : Dataset[(Long, Seq[IslandRec])] = {
    import iv.sparkSession.implicits._
    iv.groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[IvInterval], state: GroupState[IslandsState]) =>
          var islands = state.getOption.map(_.islands.toVector)
            .getOrElse(Vector.empty[IslandRec])
          rows.toSeq.filter(r => r.s <= r.e).sortBy(r => (r.s, r.e)).foreach { r =>
            val (hit, miss) = islands.partition(i => i.s <= r.e && r.s <= i.e)
            val merged = IslandRec((r.s +: hit.map(_.s)).min,
              (r.e +: hit.map(_.e)).max, hit.map(_.n).sum + 1L)
            islands = (miss :+ merged).sortBy(i => (i.s, i.e))
          }
          state.update(IslandsState(islands))
          key -> islands
      }
  }

  /** Event time in exact integer micros, the batch funnels' `unix_micros`. */
  private def us(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The funnel twins' preamble: the batch operators' pre-shuffle step
    * filter (non-step events can never fill a slot, so dropping them
    * before grouping keeps state churn bounded AND keeps stream ≡ batch
    * on the output row set — entities with no step-relevant events are
    * absent from BOTH), then one group per user. */
  private def stepGroups(events: Dataset[FunnelEvent], steps: Seq[String]) = {
    import events.sparkSession.implicits._
    val stepSet = steps.toSet
    events.filter(e => stepSet.contains(e.etype)).groupByKey(_.user)
  }

  /** Streaming twin of [[graft.relational.Relational.funnelSteps]]: the
    * [[funnelStreamWindowed]] fold with no deadline, its exact-micros
    * slots mapped back to timestamps. State is k slots per entity —
    * O(k), never the event history — so a continuously-running funnel
    * stays bounded by the entity domain.
    *
    * Equality with the batch fold holds when each entity's events arrive
    * in event-time order ACROSS micro-batches (within a batch, events
    * are sorted by (micros, type) first — same tie order as the batch
    * sort_array fold). A prerequisite that arrives in a LATER batch than
    * its dependent step cannot resurrect it: the dependent event is gone
    * (bounded state means no replay). ExtraSpec pins both the equality
    * and this documented divergence. */
  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String])
      : Dataset[(Long, Seq[Option[java.sql.Timestamp]])] = {
    import events.sparkSession.implicits._
    funnelSlots(events, steps, Long.MaxValue)
      .select(col("_1"), transform(col("_2"), u => timestamp_micros(u)).as("_2"))
      .as[(Long, Seq[Option[java.sql.Timestamp]])]
  }

  /** Streaming twin of
    * [[graft.relational.Relational.funnelStepsWindowed]]: the k-slot
    * state machine with the per-step DEADLINE — slot i+1 fills only
    * within `stepWindowSeconds` of slot i (exact integer micros,
    * matching the batch fold). Same O(k) state bound and the same
    * in-order-arrival prerequisite as [[funnelStream]]; a stalled chain
    * stays stalled (greedy-anchor semantics — the batch contract).
    * Emits the slot micros on every change. */
  def funnelStreamWindowed(events: Dataset[FunnelEvent],
                           steps: Seq[String], stepWindowSeconds: Long)
      : Dataset[(Long, Seq[Option[Long]])] = {
    require(stepWindowSeconds > 0, "step window must be positive")
    funnelSlots(events, steps, stepWindowSeconds * 1000000L)
  }

  /** The k-slot fold of [[funnelStream]] and [[funnelStreamWindowed]]:
    * slot i+1 fills at the first step-(i+1) event strictly after slot i
    * and at most `wUs` micros after it (`Long.MaxValue`: no deadline). */
  private def funnelSlots(events: Dataset[FunnelEvent], steps: Seq[String],
                          wUs: Long): Dataset[(Long, Seq[Option[Long]])] = {
    import events.sparkSession.implicits._
    val k = steps.size
    stepGroups(events, steps)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[FunnelEvent],
         state: GroupState[WindowedFunnelState]) =>
          val slots = state.getOption.map(_.stepUs.toArray)
            .getOrElse(Array.fill(k)(Option.empty[Long]))
          rows.toSeq.sortBy(e => (us(e.ts), e.etype)).foreach { e =>
            val filled = slots.indexWhere(_.isEmpty) match {
              case -1 => k
              case i  => i
            }
            val eu = us(e.ts)
            if (filled < k && e.etype == steps(filled) &&
                (filled == 0 ||
                  slots(filled - 1).exists(p => eu > p && eu - p <= wUs)))
              slots(filled) = Some(eu)
          }
          state.update(WindowedFunnelState(slots.toSeq))
          user -> slots.toSeq
      }
  }

  case class WindowedFunnelState(stepUs: Seq[Option[Long]])

  /** Streaming twin of
    * [[graft.relational.Relational.funnelStepsWindowedAnchored]]: the
    * RE-ANCHORED windowed funnel. State per key is the set of ACTIVE
    * anchor chains (each a filled-prefix of ≤ k micros) plus one O(k)
    * best-so-far chain and the anchor counter — O(k × active anchors),
    * and active anchors are BOUNDED by eviction: under the in-order
    * arrival prerequisite all twins share, a chain whose frontier is
    * more than `stepWindowSeconds` behind the max seen event time can
    * never advance (every future event is ≥ that max), and a complete
    * chain never advances — both fold into the best-so-far summary and
    * leave the state. So live state holds only anchors whose window is
    * still open.
    *
    * Emits `(user, (n_anchors, step_us))` on every change, where
    * step_us is the max-depth / earliest-anchor chain over evicted AND
    * live chains — the batch form's exact tiebreak (chains are created
    * in anchor order and `better` replaces only on strictly deeper or
    * strictly earlier anchor at equal depth). */
  def funnelStreamWindowedAnchored(events: Dataset[FunnelEvent],
                                   steps: Seq[String],
                                   stepWindowSeconds: Long)
      : Dataset[(Long, (Long, Seq[Option[Long]]))] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    require(stepWindowSeconds > 0, "step window must be positive")
    val k = steps.size
    val wUs = stepWindowSeconds * 1000000L
    // (depth, anchor) order: deeper wins; earlier anchor at equal depth
    def better(a: Seq[Long], b: Seq[Long]): Boolean =
      a.size > b.size || (a.size == b.size && a.nonEmpty && b.nonEmpty &&
        a.head < b.head)
    stepGroups(events, steps)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[FunnelEvent],
         state: GroupState[AnchoredFunnelState]) =>
          val st = state.getOption
            .getOrElse(AnchoredFunnelState(0L, Seq.empty, Seq.empty, Long.MinValue))
          var active = st.active.map(_.toBuffer)
          var best = st.best
          var nAnchors = st.nAnchors
          var maxUs = st.maxSeenUs
          rows.toSeq.sortBy(e => (us(e.ts), e.etype)).foreach { e =>
            val eu = us(e.ts)
            maxUs = math.max(maxUs, eu)
            // advance every live chain this event extends (greedy: the
            // first valid event in order IS the earliest)
            active.foreach { c =>
              if (c.size < k && e.etype == steps(c.size) &&
                  eu > c.last && eu - c.last <= wUs)
                c += eu
            }
            // then maybe open a new anchor (after, so an event never
            // advances its own chain — matches the batch strict `>`)
            if (e.etype == steps.head) {
              active = active :+ scala.collection.mutable.Buffer(eu)
              nAnchors += 1L
            }
          }
          // evict complete chains and stalled chains (frontier expired
          // vs max seen time) into the best-so-far summary
          val (evict, live) = active.partition(c =>
            c.size == k || (c.size < k && maxUs - c.last > wUs))
          evict.map(_.toSeq).foreach { c =>
            if (best.isEmpty || better(c, best)) best = c
          }
          val liveSeqs = live.map(_.toSeq)
          state.update(AnchoredFunnelState(nAnchors, best, liveSeqs, maxUs))
          val top = (liveSeqs :+ best).filter(_.nonEmpty)
            .reduceOption((a, b) => if (better(b, a)) b else a)
            .getOrElse(Seq.empty)
          val padded = top.map(Option(_)) ++
            Seq.fill(k - top.size)(Option.empty[Long])
          user -> (nAnchors, padded)
      }
  }

  case class AnchoredFunnelState(nAnchors: Long, best: Seq[Long],
                                 active: Seq[Seq[Long]], maxSeenUs: Long)

  case class Scd2Change(key: Long, us: Long, id: Long, attr: String)
  case class Scd2Cur(attr: String, from: Long, version: Int)
  case class Scd2Emit(key: Long, attr: String, validFrom: Long,
                      validTo: Option[Long], isCurrent: Boolean, version: Int)

  /** Streaming twin of [[graft.relational.Scd2.scd2Build]]: SCD2
    * versions maintained continuously. State per key is ONLY the
    * current version — O(1), never the history (the closed versions
    * are emitted, not retained), so the state store is bounded by the
    * key domain like the streaming latest-per-key aggregation.
    *
    * Each batch's rows apply in (us, id) order (the batch total
    * order); a no-op restatement of the current attributes collapses
    * (nothing emitted — the batch lag-collapse), an attribute change
    * EMITS the closing of the old version (valid_to = new ts,
    * is_current = false — append-safe: a closed version is final and
    * never re-emitted) and the new current version (is_current = true,
    * re-emitted on every later change — update semantics: downstream
    * keeps the last emission per (key, version)). A stale row (ts <=
    * current valid_from) is dropped — the [[graft.relational.Scd2.scd2Merge]]
    * late-data policy, which is also what bounded state forces:
    * rewriting closed history would need the history. Equality with
    * the batch build holds when each key's changes arrive in
    * event-time order ACROSS batches; ExtraSpec pins it over a 2-batch
    * split. */
  def scd2Stream(changes: Dataset[Scd2Change]): Dataset[Scd2Emit] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Scd2Change], state: GroupState[Scd2Cur]) =>
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[Scd2Emit]()
          rows.toSeq.sortBy(r => (r.us, r.id)).foreach { r =>
            cur match {
              case None =>
                cur = Some(Scd2Cur(r.attr, r.us, 1))
              case Some(c) if r.us <= c.from => () // stale: drop
              case Some(c) if r.attr == c.attr => () // no-op: collapse
              case Some(c) =>
                out += Scd2Emit(key, c.attr, c.from, Some(r.us),
                  isCurrent = false, c.version)
                cur = Some(Scd2Cur(r.attr, r.us, c.version + 1))
            }
          }
          cur.foreach { c =>
            state.update(c)
            out += Scd2Emit(key, c.attr, c.from, None,
              isCurrent = true, c.version)
          }
          out.iterator
      }
  }

  case class AttrEvent(user: Long, us: Long, id: Long, etype: String)
  case class PendingTouches(touches: Seq[(Long, Long, String)])
  case class AttrEmit(convId: Long, touchId: Long, touchType: String,
                      position: Int, nTouches: Int)

  /** Streaming twin of [[graft.relational.Attribution.attributeTouches]]'
    * assignment: per entity, touches buffer until their NEXT conversion
    * arrives, which claims every buffered touch within the lookback and
    * clears the buffer (next-conversion semantics — a touch can never
    * credit two conversions). Emissions are final (append semantics): a
    * conversion's touch set is complete the moment it is claimed.
    *
    * State is the pending-touch buffer per entity, and it is BOUNDED BY
    * THE LOOKBACK, not the stream length: a touch older than
    * `lookbackSeconds` behind the entity's max seen event time can
    * never be claimed by any future conversion (conv_ts ≥ now >
    * touch_ts + lookback), so each batch evicts it. Equality with the
    * batch operator holds under event-time-ordered arrival per entity;
    * within a batch, rows sort (us, touch-before-conversion, id) — the
    * batch scan's tie rule, so a same-instant conversion claims the
    * touch and the smaller-id of two same-instant conversions claims
    * the buffer. */
  def attributionStream(events: Dataset[AttrEvent], conversionType: String,
                        touchTypes: Seq[String], lookbackSeconds: Long)
      : Dataset[AttrEmit] = {
    import events.sparkSession.implicits._
    val touchSet = touchTypes.toSet
    val lookUs = lookbackSeconds * 1000000L
    events
      .filter(e => e.etype == conversionType || touchSet.contains(e.etype))
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[AttrEvent],
         state: GroupState[PendingTouches]) =>
          var buf = state.getOption.map(_.touches.toVector)
            .getOrElse(Vector.empty[(Long, Long, String)])
          val out = scala.collection.mutable.ArrayBuffer[AttrEmit]()
          var maxUs = buf.lastOption.map(_._1).getOrElse(Long.MinValue)
          val ordered = rows.toSeq.sortBy(e =>
            (e.us, if (e.etype == conversionType) 1 else 0, e.id))
          ordered.foreach { e =>
            maxUs = math.max(maxUs, e.us)
            if (e.etype == conversionType) {
              val claimed = buf.filter(t => e.us - t._1 <= lookUs)
                .sortBy(t => (t._1, t._2))
              claimed.zipWithIndex.foreach { case ((_, tid, tty), i) =>
                out += AttrEmit(e.id, tid, tty, i + 1, claimed.size)
              }
              buf = Vector.empty // consumed OR unclaimable (older conv window)
            } else buf = buf :+ ((e.us, e.id, e.etype))
          }
          // lookback eviction: unclaimable by any future conversion
          buf = buf.filter(t => maxUs - t._1 <= lookUs)
          state.update(PendingTouches(buf))
          out.iterator
      }
  }

  case class CapEvent(user: Long, us: Long, id: Long)
  case class CapState(sent: Seq[Long])

  /** Streaming twin of
    * [[graft.relational.Relational.frequencyCapEnforce]]: the greedy
    * send-time gate as continuous state — per entity, the deque of its
    * last ≤ cap ALLOWED send times inside the window (suppressed sends
    * never enter state, exactly the batch semantics). State is O(cap)
    * per entity by construction, and each send runs the batch pass's
    * step, [[graft.relational.Relational.capAdmit]]. Append-final
    * emissions; equality with the batch pass holds under
    * event-time-ordered arrival (Round14Spec, 2-batch split). */
  def frequencyCapStream(events: Dataset[CapEvent], windowSeconds: Long,
                         cap: Int): Dataset[(Long, Long, Boolean)] = {
    import events.sparkSession.implicits._
    val winUs = windowSeconds * 1000000L
    events.groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[CapEvent], state: GroupState[CapState]) =>
          val sent = scala.collection.mutable.ArrayDeque.from(
            state.getOption.map(_.sent).getOrElse(Seq.empty))
          val out = rows.toSeq.sortBy(e => (e.us, e.id)).map { e =>
            (user, e.id, Relational.capAdmit(sent, e.us, winUs, cap))
          }
          state.update(CapState(sent.toSeq))
          out.iterator
      }
  }

  /** Streaming twin of the q82 incremental-ingest dedup: new documents
    * stream in, duplicates INSIDE the stream collapse on fingerprint
    * state (dropDuplicatesWithinWatermark — evicted one watermark delay
    * after first sighting, so state is bounded even though producers
    * retry with skewed timestamps), and anything already in the
    * historical fingerprint set anti-joins away. The history side is a
    * static DISTINCT-fingerprint table — 16-byte rows, the ONLY thing
    * the archive contributes; the stream-static anti join is stateless
    * on the stream side. At 100 TB the history table is bucketed by
    * fingerprint so each micro-batch probes its buckets without a
    * shuffle, and the accepted batch's fingerprints append back to it
    * downstream (the batch q82 runs that merge offline). */
  def incrementalDedupStream(docs: DataFrame, fpCol: String, tsCol: String,
                             watermark: String, historyFps: DataFrame): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fpCol)
      .join(historyFps.select(col(fpCol)).distinct(), Seq(fpCol), "left_anti")

  /** Watermarked stream–stream interval join: left events match right
    * events of the same key with rightTs in [leftTs − bound, leftTs].
    * Both sides carry watermarks, and the time-range predicate bounds the
    * join state — Spark evicts buffered rows once the watermark passes
    * the interval, so state is O(events within the bound), not the
    * stream history. The canonical attribution shape (view → purchase). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   bound: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $bound") &&
        r(rightTs) <= l(leftTs))
      .drop(r(key)) // single unambiguous key column in the output
  }

  /** Streaming egress, the streaming twin of HttpSink.sendBatchesKeyed
    * and of the batch jobs' results write. Each micro-batch runs the batch
    * sink with an idempotency key prefixed by the epoch id — Structured
    * Streaming replays whole epochs on failure, so (epochId, content-hash)
    * is stable across replays and destinations can dedupe. Per-epoch
    * results are WRITTEN to `resultsPath/epoch=<id>` and summarized by
    * observation on that one write — only the EgressStats totals reach
    * the driver via `onEpoch`. Epoch-keyed paths make replays overwrite
    * their own epoch (idempotent results, matching the epoch-keyed send
    * idempotency). As in the batch sink, each task calls `send`
    * concurrently, so `send` must be safe under concurrent calls. */
  def egressStreamToPath(payloads: DataFrame, payloadCol: String, batchSize: Int,
                         send: (String, Seq[String]) => (Int, String),
                         resultsPath: String,
                         onEpoch: (Long, graft.sink.EgressStats) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    payloads.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val stats = graft.sink.HttpSink.writeResults(
        graft.sink.HttpSink.sendBatchesKeyed(batch, payloadCol, batchSize,
          (key, rows) => send(s"$epochId-$key", rows)),
        s"$resultsPath/epoch=$epochId")
      onEpoch(epochId, stats)
    }

  /** Streaming half of the ANN maintenance cycle (q95 signal / q98
    * action, made continuous): each micro-batch of vectors is assigned
    * to the FROZEN index and its drift report lands at
    * `reportPath/epoch=<id>` — driver-light like [[egressStreamToPath]]
    * (epoch-keyed overwrite makes replays idempotent); `onEpoch`
    * receives only the per-epoch report row count, observed on the
    * report write so the report is never read back. Recentering stays
    * an offline decision fed by these reports: the index is a shipped
    * artifact, and swapping centroids mid-stream would make epoch
    * results non-replayable. Per-epoch output equals the batch
    * [[graft.analyze.Ivf.driftReport]] on the same rows (spec-pinned). */
  def driftReportStream(index: graft.analyze.Ivf.Index, vectors: DataFrame,
                        idCol: String, vecCol: String, reportPath: String,
                        onEpoch: (Long, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val rows = org.apache.spark.sql.Observation()
      graft.analyze.Ivf.driftReport(index, batch, idCol, vecCol)
        .observe(rows, count(lit(1)).as("rows"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$reportPath/epoch=$epochId")
      onEpoch(epochId, rows.get("rows").asInstanceOf[Long])
    }
}
