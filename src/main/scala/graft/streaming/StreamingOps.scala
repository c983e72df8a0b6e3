package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.10): the reference is pure
  * batch, but its expanding/rolling no-lookahead statistics (A5/W5/W6) are
  * *semantically online* operators — this module is their streaming form,
  * so the same engine can run over a live bar feed.
  *
  *  - [[windowedBarStats]]: event-time tumbling windows + watermark — the
  *    idiomatic aggregation path (state bounded by the watermark).
  *  - [[runningStats]]: `flatMapGroupsWithState` keyed by series — the
  *    expanding warmup-gate statistics (running count/mean/min/max and an
  *    exact expanding quantile over a bounded buffer), emitting one row
  *    per input bar with *only-past* state, i.e. the no-lookahead
  *    guarantee in streaming form.
  *
  * Scale: state is per-key (series), so parallelism = #series; the
  * quantile buffer is capped (`maxBuffer`) — beyond it the exact expanding
  * quantile degrades to a documented sliding approximation (the cap bounds
  * executor state at ~8·maxBuffer bytes/key, which is what survives an
  * unbounded stream).
  */
object StreamingOps {

  final case class Bar(series: String, tsUs: Long, value: Double)

  final case class RunningOut(series: String, tsUs: Long, value: Double,
      n: Long, runMean: Double, runMin: Double, runMax: Double,
      p95Prior: Option[Double])

  final case class RunState(n: Long, sum: Double, min: Double, max: Double,
      buf: Vector[Double], slots: Vector[Double])

  /** Exact exclusive quantile (PERCENTILE.EXC) over the state buffer —
    * identical semantics to the batch QuantileExactExclusive expression. */
  private def exclusiveQuantile(sorted: IndexedSeq[Double], q: Double): Option[Double] = {
    val m = sorted.length
    if (m == 0) None
    else {
      val h = q * (m + 1)
      if (h < 1.0) Some(sorted.head)
      else if (h >= m) Some(sorted.last)
      else {
        val fh = math.floor(h); val idx = fh.toInt
        Some(sorted(idx - 1) + (h - fh) * (sorted(idx) - sorted(idx - 1)))
      }
    }
  }

  /** Expanding per-series stats with the prior-only (no-lookahead) p95:
    * each emitted row carries state computed from STRICTLY EARLIER rows
    * (the reference's `ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING`
    * frame, gen111:49-52). Rows within a batch are processed in tsUs
    * order.
    */
  def runningStats(bars: Dataset[Bar], maxBuffer: Int = 10000): Dataset[RunningOut] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars.groupByKey(_.series)
      .flatMapGroupsWithState[RunState, RunningOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (series, rows, state: GroupState[RunState]) =>
          var st = state.getOption.getOrElse(
            RunState(0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity,
              Vector.empty, Vector.empty))
          val out = rows.toSeq.sortBy(b => (b.tsUs, b.value)).map { b =>
            val priorP95 = exclusiveQuantile(st.buf, 0.95)
            val o = RunningOut(series, b.tsUs, b.value,
              st.n + 1,
              (st.sum + b.value) / (st.n + 1),
              math.min(st.min, b.value), math.max(st.max, b.value),
              priorP95)
            // bounded state, EXPANDING semantics: past maxBuffer the
            // buffer is a deterministic uniform RESERVOIR sample of all
            // prior values (Vitter's algorithm R with byteswap64(n) as
            // the deterministic coin) — an unbiased estimate of the
            // expanding quantile. The previous cap dropped the head of
            // the value-SORTED vector, evicting the all-time minimum
            // each row: past the cap the buffer degenerated to the
            // top-maxBuffer values ever seen and priorP95 drifted
            // toward the all-time max (r13 review). `slots` carries the
            // sample in slot order; `buf` is the same multiset sorted
            // for the quantile read.
            val n1 = st.n + 1
            val (nextBuf, nextSlots) =
              if (st.slots.length < maxBuffer)
                (insertSorted(st.buf, b.value), st.slots :+ b.value)
              else {
                val j = (scala.util.hashing.byteswap64(n1) & Long.MaxValue) % n1
                if (j < maxBuffer) {
                  val evicted = st.slots(j.toInt)
                  (insertSorted(removeSorted(st.buf, evicted), b.value),
                    st.slots.updated(j.toInt, b.value))
                } else (st.buf, st.slots)
              }
            st = RunState(n1, st.sum + b.value,
              math.min(st.min, b.value), math.max(st.max, b.value),
              nextBuf, nextSlots)
            o
          }
          state.update(st)
          out.iterator
      }
  }

  // java.lang.Double.compare, not primitive '<': a NaN value compared
  // with '<' is false both ways, so binary search would insert NaN at the
  // FRONT of the buffer (unsorting it) and removeSorted could then delete
  // the wrong element, desyncing buf from slots permanently — the same
  // hole ExclusiveQuantileAgg closed. compare gives NaN a stable total
  // order (greater than every real), keeping both searches consistent.
  private def insertSorted(v: Vector[Double], x: Double): Vector[Double] = {
    var lo = 0; var hi = v.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(v(mid), x) < 0) lo = mid + 1 else hi = mid
    }
    (v.take(lo) :+ x) ++ v.drop(lo)
  }

  /** Remove ONE occurrence of x from a sorted vector (binary search to
    * the first occurrence). x is always present by construction — it
    * came out of the reservoir slot being replaced. */
  private def removeSorted(v: Vector[Double], x: Double): Vector[Double] = {
    var lo = 0; var hi = v.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(v(mid), x) < 0) lo = mid + 1 else hi = mid
    }
    v.take(lo) ++ v.drop(lo + 1)
  }

  /** Tumbling event-time windows with a watermark: per (window, series)
    * count/avg/min/max. Late data beyond the watermark is dropped and
    * state is evicted — the bounded-state aggregation path. */
  def windowedBarStats(bars: DataFrame, windowLen: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    bars
      .withColumn("event_time", timestamp_micros(col("tsUs")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("series"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))

  // ---------------------------------------------------------------------------
  // Streaming triple-barrier (B1 in §2.10 form): the batch engine scans a
  // pre-collected forward array per signal; a live feed has no forward
  // arrays — the scan becomes a per-series state machine over open trades.

  final case class StreamBar(series: String, tsUs: Long, eventId: Long,
      open: Double, high: Double, low: Double, close: Double, rn: Long)

  final case class BarrierConfig(tpPct: Double, slPct: Double, maxBars: Int)

  final case class StreamTrade(series: String, signalTsUs: Long,
      signalEventId: Long, entryPrice: Double, exitType: String,
      exitBar: Int, exitPrice: Double, returnPct: Double)

  /** One in-flight trade: `entryPrice` NaN ⇒ awaiting the next bar's open
    * (B5 next-bar-open entry); `barsSeen` counts barriers-scanned bars,
    * aligned with the batch engine's 1-based fwd-array index. */
  final case class OpenTrade(signalTsUs: Long, signalEventId: Long,
      entryPrice: Double, barsSeen: Int)

  final case class BarrierState(trades: List[OpenTrade])

  /** Direction-pattern signal detection over a live bar feed: maintains
    * (dir_1, dir_2) and the bar count per series in state and applies a
    * dir-pattern predicate — the streaming form of the formation registry's
    * dir-only patterns (the gated ones additionally need the rolling
    * quantile state of [[runningStats]]). Emits the input bar augmented
    * with (rn, dir_0, dir_1, dir_2, is_signal), so composing with
    * [[streamingTripleBarrier]] via `_.isSignal` gives the full
    * formation→barrier pipeline online. State is three ints per series.
    *
    * `warmupBars` mirrors the batch warmup gate (`rn > warmup`); rn here
    * counts arrived bars per series, matching the batch frame's row_number
    * when the feed starts at series start.
    */
  final case class FlaggedBar(series: String, tsUs: Long, eventId: Long,
      open: Double, high: Double, low: Double, close: Double, rn: Long,
      dir0: Int, dir1: Option[Int], dir2: Option[Int], isSignal: Boolean)

  final case class DirState(n: Long, dir1: Int, dir2: Int)

  def streamingFormationSignals(bars: Dataset[StreamBar],
      pattern: (Int, Option[Int], Option[Int]) => Boolean,
      warmupBars: Int = 100): Dataset[FlaggedBar] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars.groupByKey(_.series)
      .flatMapGroupsWithState[DirState, FlaggedBar](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (series, rows, state: GroupState[DirState]) =>
          var st = state.getOption.getOrElse(DirState(0L, -1, -1))
          val out = rows.toSeq.sortBy(b => (b.tsUs, b.eventId)).map { b =>
            val dir0 = if (b.close > b.open) 1 else 0
            val d1 = if (st.n >= 1) Some(st.dir1) else None
            val d2 = if (st.n >= 2) Some(st.dir2) else None
            val n = st.n + 1
            val fired = n > warmupBars && pattern(dir0, d1, d2)
            st = DirState(n, dir0, st.dir1)
            FlaggedBar(series, b.tsUs, b.eventId, b.open, b.high, b.low,
              b.close, n, dir0, d1, d2, fired)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming form of [[graft.operators.Barriers.tripleBarrier]]: signals
    * fire on `signalPred`, enter at the NEXT bar's open (B5, entry must be
    * > 0 — P3), then every arriving bar is scanned with the batch rules —
    * SL-wins-ties within a bar (AP-12), SL fills at `min(open, sl_price)`
    * (AP-13 gap fill), TP fills at exactly `tp_price`, and the trade times
    * out at `maxBars` bars with a close fill. Trades still open when the
    * stream ends stay in state — the batch twin classifies exactly those as
    * INCOMPLETE and drops them, so emitted trades match the batch engine
    * trade-for-trade (StreamingSpec pins this against q18's pipeline).
    *
    * Contract: bars arrive in (tsUs, eventId) order per series across
    * micro-batches (within a batch they are sorted here). State is
    * O(open trades) per series — bounded by maxBars × signal rate, NOT by
    * stream length; parallelism is the series axis, same as the batch
    * engine's partitioning.
    */
  def streamingTripleBarrier(bars: Dataset[StreamBar],
      signalPred: StreamBar => Boolean,
      cfg: BarrierConfig): Dataset[StreamTrade] =
    tripleBarrierCore(bars, identity[StreamBar], signalPred, cfg)

  /** Composition form: a [[streamingFormationSignals]] output drives the
    * barrier engine directly off its `isSignal` flags — the full online
    * formation→barrier pipeline. */
  def streamingTripleBarrier(flagged: Dataset[FlaggedBar],
      cfg: BarrierConfig): Dataset[StreamTrade] =
    tripleBarrierCore(flagged,
      (f: FlaggedBar) => StreamBar(f.series, f.tsUs, f.eventId,
        f.open, f.high, f.low, f.close, f.rn),
      (f: FlaggedBar) => f.isSignal, cfg)

  private def tripleBarrierCore[T](rows: Dataset[T], toBar: T => StreamBar,
      isSignal: T => Boolean, cfg: BarrierConfig): Dataset[StreamTrade] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(r => toBar(r).series)
      .flatMapGroupsWithState[BarrierState, StreamTrade](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (series, it, state: GroupState[BarrierState]) =>
          var open = state.getOption.map(_.trades).getOrElse(Nil)
          val completed = List.newBuilder[StreamTrade]
          it.toSeq.map(r => (toBar(r), isSignal(r)))
            .sortBy { case (b, _) => (b.tsUs, b.eventId) }
            .foreach { case (b, fired) =>
              // advance every in-flight trade through this bar, oldest first
              open = open.flatMap { t =>
                if (t.entryPrice.isNaN) {
                  // B5: this bar supplies the entry; P3 validity gate; the
                  // entry bar itself is also barrier-scanned (fwd index 1)
                  if (b.open > 0) scanBar(t.copy(entryPrice = b.open, barsSeen = 0), b, cfg, series, completed)
                  else None // invalid entry — batch drops the signal too
                } else scanBar(t, b, cfg, series, completed)
              }
              // detect a signal on this bar AFTER scanning (a trade entered
              // on a later bar can never scan its own signal bar)
              if (fired)
                open = open :+ OpenTrade(b.tsUs, b.eventId, Double.NaN, -1)
            }
          state.update(BarrierState(open))
          completed.result().iterator
      }
  }

  /** Advance one open trade through one bar; Some(updated) if still open,
    * None if completed (trade appended to `out`). Exit rules mirror
    * Barriers.tripleBarrier column-for-column. */
  private def scanBar(t: OpenTrade, b: StreamBar, cfg: BarrierConfig,
      series: String,
      out: scala.collection.mutable.Builder[StreamTrade, List[StreamTrade]])
      : Option[OpenTrade] = {
    val k = t.barsSeen + 1
    val tpPrice = t.entryPrice * (1.0 + cfg.tpPct)
    val slPrice = t.entryPrice * (1.0 - cfg.slPct)
    def emit(exitType: String, exitPrice: Double): None.type = {
      out += StreamTrade(series, t.signalTsUs, t.signalEventId, t.entryPrice,
        exitType, k, exitPrice, (exitPrice - t.entryPrice) / t.entryPrice)
      None
    }
    if (b.low <= slPrice) emit("SL", math.min(b.open, slPrice)) // AP-12 ties + AP-13 gap
    else if (b.high >= tpPrice) emit("TP", tpPrice)
    else if (k >= cfg.maxBars) emit("TIME", b.close)
    else Some(t.copy(barsSeen = k))
  }

  /** Streaming exact dedup over a document stream — the online form of
    * q24/q49's exact stage: key by content hash, keep only the FIRST
    * arrival, drop every later duplicate. State is one tombstone per
    * distinct hash with an event-time watermark bound
    * (`dropDuplicatesWithinWatermark`): duplicates separated by more than
    * the watermark re-emit (documented and inherent to bounded state —
    * the batch pipeline is the exact backstop).
    * Input needs (doc_id, ts_us, text). */
  def streamingExactDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  // ---------------------------------------------------------------------------
  // Streaming sessionization — q81 online, as INTERVAL-MERGE state: per
  // user the state holds the SET of open sessions (start-sorted, pairwise
  // separated by > gapUs), not a single open session. An arriving event
  // merges every open session within gapUs of it — zero (new session),
  // one (extend, either side), or two (the event BRIDGES its neighbors).
  // This is what makes stream ≡ batch hold under event-time disorder up
  // to the watermark: with a single open session, a late event preceding
  // the open session's start by MORE than the gap has nowhere to go and
  // either fuses sessions batch q81 splits (if merged) or corrupts the
  // open one (r13 review); here it simply opens an earlier parallel
  // session. Sessions flush when the watermark passes last + gap (no
  // arrival ≥ watermark can be within gap of them anymore) — on the
  // data path opportunistically and on the event-time timeout for quiet
  // users. State is O(open sessions per user), bounded by the watermark
  // delay / gap ratio per active user, not stream length. Events older
  // than the watermark (which Spark may still deliver to the operator)
  // keep first-arrival semantics: their session was already emitted, so
  // they open a fresh one — the documented straggler contract.

  final case class SessionEvent(userId: Long, tsUs: Long)

  final case class SessionOut(userId: Long, startTsUs: Long, endTsUs: Long,
      nEvents: Long, durUs: Long)

  final case class SessionState(startTsUs: Long, lastTsUs: Long, n: Long)

  final case class SessionsState(open: List[SessionState])

  def streamingSessionize(events: Dataset[SessionEvent],
      gapUs: Long = 30L * 60 * 1000 * 1000,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("tsUs")))
      .withWatermark("event_time", watermark)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionsState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[SessionsState]) =>
          var open = state.getOption.map(_.open).getOrElse(Nil)
          rows.map(_._2).toSeq.sorted.foreach { t =>
            val (touch, rest) = open.partition(s =>
              t >= s.startTsUs - gapUs && t <= s.lastTsUs + gapUs)
            val merged = SessionState(
              (t :: touch.map(_.startTsUs)).min,
              (t :: touch.map(_.lastTsUs)).max,
              touch.map(_.n).sum + 1)
            open = (merged :: rest).sortBy(_.startTsUs)
          }
          // flush every session the watermark has settled: no event that
          // can still arrive (≥ watermark) is within gap of it
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val (settled, stillOpen) = open.partition(_.lastTsUs + gapUs < wmUs)
          if (stillOpen.isEmpty) state.remove()
          else {
            state.update(SessionsState(stillOpen))
            // re-arm on the EARLIEST still-open session's deadline; the
            // ms floor can land ON the current watermark (Spark requires
            // strictly-greater), so clamp — the clamped timeout fires at
            // the next watermark advance and the µs-precise partition
            // above decides settlement either way
            state.setTimeoutTimestamp(math.max(
              stillOpen.map(_.lastTsUs + gapUs).min / 1000,
              state.getCurrentWatermarkMs() + 1))
          }
          settled.sortBy(_.startTsUs).iterator.map(s =>
            SessionOut(user, s.startTsUs, s.lastTsUs, s.n,
              s.lastTsUs - s.startTsUs))
      }
  }

  /** Streaming corpus curation — the online form of q50's quality gate +
    * q55's benchmark decontamination over a live document feed. Entirely
    * STATELESS: per-doc projections (token count, 5-gram hash set via the
    * same HashedWordNgrams kernel as the batch path) plus one stream-static
    * equi-join against a single broadcast row carrying the benchmark's
    * sorted gram-hash set — so it runs at source parallelism with zero
    * streaming state, and the benchmark set is shipped once per trigger,
    * not per row. `benchGrams` is a static (g: Long) relation (e.g. the
    * batch q55 benchmark extraction); flags match the batch semantics
    * row-for-row (StreamingSpec). */
  /** Per-row MinHash band keys (8 bands × 2 of 16 lanes over the hashed
    * word-bigram shingle set) — the q26/q49 signature computed as a
    * STATELESS per-row expression chain (HOF min per lane instead of the
    * batch path's explode + min aggregate; same lane formula, same band
    * keys by construction). */
  private val MinhashP = 2147483647L // 2^31 − 1
  private def bandKeyArray(text: Column): Column = {
    val shset = graft.functions.GraftFunctions.hashedWordBigrams(text)
    val lanes = (0 until 16).map { j =>
      array_min(transform(shset,
        h => (h * lit(2L * j + 1) + lit(j * 104729L)) % lit(MinhashP)))
    }
    // shset is NEVER empty: HashedWordNgrams' tail-slice contract emits
    // max(len−n+1, 1) grams, so even a token-less doc carries the
    // empty-gram hash as its one shingle — array_min is never null and
    // the 8 keys are always well-defined. The batch path explodes the
    // same non-empty set, so degenerate docs behave identically on both
    // sides: two empty docs ARE an LSH candidate pair there and here
    // (StreamingSpec pins this parity; an r13 review hypothesis that
    // empty sets produced null-collapsed keys was checked and refuted —
    // the empty set cannot occur).
    array((0 until 8).map { b =>
      graft.queries.TextOps.md5Int(
        concat_ws("_", lit(b), lanes(2 * b), lanes(2 * b + 1)))
    }: _*)
  }

  /** Occupied LSH bucket set of a static corpus: the distinct (band,
    * band_key) pairs hashed to one long each — the static side of
    * [[streamingNearDupGate]]. Computed with the same per-row expressions
    * as the stream side, so stream and index agree by construction. */
  def nearDupBandIndex(corpus: DataFrame): DataFrame =
    corpus.select(explode(bandKeyArray(col("text"))).as("bk")).distinct()

  /** Streaming NEAR-duplicate gate — the online form of q26/q49's LSH
    * candidate stage against a static reference corpus: a live doc is
    * flagged when any of its 8 MinHash band keys hits an occupied corpus
    * bucket. Entirely STATELESS (per-row signature + one broadcast row
    * carrying the sorted occupied-bucket set), so it runs at source
    * parallelism; the flag has exactly the batch path's LSH-candidate
    * semantics (a hit means "would have been candidate-paired with some
    * corpus doc", subject to the same banding probability).
    *
    * Scale bound: the single-row set broadcast holds to ~10⁷ occupied
    * buckets (80 MB); past that, route through the batch pipeline or a
    * state-store-backed stream-stream join — the signature side of this
    * operator is unchanged either way. */
  def streamingNearDupGate(docs: DataFrame, bandIndex: DataFrame): DataFrame = {
    val idx = bandIndex
      .agg(sort_array(collect_set(col("bk"))).as("bucket_set"))
      .withColumn("k", lit(1))
    docs
      .withColumn("bks", bandKeyArray(col("text")))
      .withColumn("k", lit(1))
      .join(broadcast(idx), Seq("k"))
      .withColumn("n_shared_bands",
        size(array_intersect(col("bks"), col("bucket_set"))))
      .select(col("doc_id"), col("n_shared_bands"),
        (col("n_shared_bands") > 0).as("near_dup_candidate"))
  }

  /** Streaming SEMANTIC near-dup gate — the q113 SemDeDup lane online
    * against a static reference corpus: each arriving embedding is
    * micro-unit-quantized and assigned to its k-means cell by the SAME
    * codegen'd kernel the batch lane uses (centroid table broadcast by
    * reference), then cosine-verified against ONLY that cell's static
    * members (per-cell struct arrays, broadcast stream-static join).
    * Entirely STATELESS — assignment and the member fold are per-row
    * projections — so it runs at source parallelism. The dot product is
    * the DotFold-equivalent builtin fold (same left-fold order, exact
    * float promotion), so flags agree bit-for-bit with a batch run of the
    * same projection (StreamingSpec pins the full-corpus replay).
    *
    * Scale bound (measured at 2M vectors / K = 31,250 — SCALE.md r12):
    * the broadcast index carries the whole reference corpus' vectors
    * grouped by cell (≈ N·(Dim·4 B) — ~256 MB per million vectors), and
    * the whole-index broadcast survives an 8 GB JVM only in a GC-thrash
    * regime. Past broadcast range the production form is assign-once +
    * sequential cid-range verify passes ([[semanticGateAssign]] then
    * [[semanticGateVerifyShard]] per shard — 55.1 s for a 100k-probe
    * batch vs 382.2 s unsharded); the single-DAG union form
    * ([[streamingSemanticGateSharded]]) bounds each broadcast OBJECT but
    * keeps all S relations resident at once and OOMs where the
    * sequential form is comfortable. The flat assignment head is O(K)
    * per row and grows with the corpus — [[streamingSemanticGateStaged]]
    * is the √K-scaling head for large K. */
  def streamingSemanticGate(vecs: DataFrame, cents: Seq[Seq[Long]],
      cellMembers: DataFrame, minCos: Double = 0.9): DataFrame =
    semanticVerify(semanticAssign(vecs, cents), cellMembers, minCos)

  /** The sharded form of [[streamingSemanticGate]] for reference corpora
    * past single-broadcast range: the member index splits into `nShards`
    * contiguous cid ranges, each stream branch filters to ITS range after
    * the (stateless, per-row) cell assignment and joins only that range's
    * broadcast slice — so each broadcast is ~1/S of the index and the
    * ranges partition the cid space, making the union row-identical to
    * the unsharded gate (StreamingSpec pins the full replay). The honest
    * trade: each arriving row evaluates the assignment projection once
    * per branch (S× the argmin kernel — map-side arithmetic, no state,
    * no shuffle), the price of keeping every branch a self-contained
    * stream-static broadcast join. */
  def streamingSemanticGateSharded(vecs: DataFrame, cents: Seq[Seq[Long]],
      cellMembers: DataFrame, nShards: Int, minCos: Double = 0.9): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards")
    val width = math.max(1, math.ceil(cents.length.toDouble / nShards).toInt)
    (0 until nShards).map { s =>
      semanticGateShard(vecs, cents, cellMembers, s * width, s * width + width,
        minCos)
    }.reduce(_ union _)
  }

  /** ONE cid-range branch of [[streamingSemanticGateSharded]] — public so a
    * memory-bounded consumer can drive the shards SEQUENTIALLY (one action
    * per shard, earlier broadcasts reclaimed between) instead of through
    * the union form, whose S branch relations are all resident at once on
    * any executor running every branch: the union bounds the size of each
    * broadcast OBJECT (collect spike, serialization limits, per-relation
    * allocation), not the sum — when the WHOLE index is past executor
    * memory, sequential shard passes (in streaming: one shard per
    * foreachBatch pass) are the bounded-residency form. The branches
    * partition the cid space, so the union of sequential results is
    * row-identical to the union form (pinned by StreamingSpec transitively
    * — the sharded gate is literally a union of these). */
  def semanticGateShard(vecs: DataFrame, cents: Seq[Seq[Long]],
      cellMembers: DataFrame, loCid: Int, hiCid: Int,
      minCos: Double = 0.9): DataFrame =
    semanticGateVerifyShard(semanticAssign(vecs, cents), cellMembers,
      loCid, hiCid, minCos)

  /** The assignment HEAD of the gate alone — exposed so a sequential-shard
    * consumer can pay the argmin kernel ONCE per probe batch and persist
    * the (tiny, probe-sized) assigned frame, instead of re-evaluating the
    * O(probes·K·Dim) assignment inside every [[semanticGateShard]] branch.
    * The centroid table is K·Dim·8 B (~16 MB at K = 31,250 — always
    * broadcastable); only the MEMBER index scales with the corpus, so the
    * assign-once + verify-per-shard split keeps the expensive residency
    * (members) at 1/S while making the S× kernel repeat — the union form's
    * honest price — a one-time cost. */
  def semanticGateAssign(vecs: DataFrame, cents: Seq[Seq[Long]]): DataFrame =
    semanticAssign(vecs, cents)

  /** The verify TAIL over one cid-range slice of an already-assigned probe
    * batch ([[semanticGateAssign]] output). `semanticGateShard ==
    * semanticGateVerifyShard ∘ semanticGateAssign` by construction, so the
    * StreamingSpec shard pins cover this split transitively. */
  def semanticGateVerifyShard(assigned: DataFrame, cellMembers: DataFrame,
      loCid: Int, hiCid: Int, minCos: Double = 0.9): DataFrame = {
    val inRange = col("cid") >= loCid && col("cid") < hiCid
    semanticVerify(assigned.filter(inRange), cellMembers.filter(inRange),
      minCos)
  }

  /** The ROUTED semantic gate — [[streamingSemanticGate]] with the flat
    * O(K)-per-row assignment kernel replaced by the q116 coarse-quantizer
    * route (coarse argmin over ~√K seeds, then in-cell argmin over the
    * routed cell's ~√K fine centroids): O(2√K·Dim) arithmetic per
    * arriving row, against an index whose cells are the ROUTED lane's
    * (built by `SimilarityQueries.semanticStreamIndexStaged`; boundaries
    * differ from the flat q113 cells — the two gates are separate
    * operators, oracle-checked as q126/q127). The head is staged: it
    * collects ONLY the O(√K) coarse table (~180 KB at K = 125,000) and
    * meets the K-row fine table — still a frame — in an equi join keyed
    * by the coarse route, so the routing state never has to fit on the
    * driver, the form that still fits at K ≥ 10⁷. The verify tail and
    * its cid-range sharding ([[semanticGateVerifyShard]]) apply
    * unchanged. */
  def streamingSemanticGateStaged(vecs: DataFrame,
      tables: graft.queries.SimilarityQueries.StagedGateTables,
      cellMembers: DataFrame, minCos: Double = 0.9): DataFrame =
    semanticVerify(semanticGateAssignStaged(vecs, tables), cellMembers, minCos)

  /** Staged assignment HEAD alone (assign-once sequential-shard
    * consumers, as [[semanticGateAssign]]). */
  def semanticGateAssignStaged(vecs: DataFrame,
      tables: graft.queries.SimilarityQueries.StagedGateTables): DataFrame =
    graft.queries.SimilarityQueries.stagedGateAssignApply(tables, "cid")(
      prepGateVecs(vecs))

  /** The ONLINE semantic-dedup ADMIT loop — gate and incremental index
    * composed into the production `foreachBatch` body: each arriving
    * batch is assigned under the index's FROZEN routing tables (passed
    * in, hoisted ONCE outside the stream — they are immutable between
    * rebuilds by contract, so per-batch reconstruction would be pure
    * startup waste), each vector is flagged iff a ≥ minCos neighbor
    * with a DIFFERENT vec_id is already admitted — in the accumulated
    * index or earlier (smaller vec_id) in this batch's same cell, the
    * q49 greedy-remove discipline — and the NEW survivors are appended
    * as a member delta (the shared [[graft.queries.SimilarityQueries
    * .writeMemberDelta]] path, range-laid-out like the base files).
    *
    * Ordering contract, stated honestly: within a batch the greedy runs
    * in vec_id order (deterministic), across batches arrival order wins
    * — so the admitted set is chunking-invariant exactly for vec_id-
    * MONOTONE streams (what StreamingSpec pins: chunked ≡ one-shot ≡ a
    * plain-Scala per-cell greedy); for out-of-order arrivals the loop is
    * first-arrival-wins, the standard online-dedup semantics.
    *
    * Replay-safe (foreachBatch is at-least-once): a vec_id already
    * admitted in its cell is neither re-appended nor flagged against
    * ITSELF (the verify tail's m.vec_id <> vec_id rule), so a re-run of
    * a committed batch returns the same flags and leaves the index
    * unchanged (StreamingSpec pins the double-replay).
    *
    * Per-batch cost is batch-bounded: the member read is PRUNED to the
    * batch's assigned cells before the generation merge (never the
    * whole accumulated index — the r11/r12 whole-index-residency lesson)
    * and per-cell work is the batch slice × that cell's admitted
    * members. Long-running loops bound generation accumulation by
    * calling [[graft.queries.SimilarityQueries.maintainIndex]] after
    * each admit (one file-size stat; compacts when the delta-commit
    * ledger reaches maxGens). Cosine uses the gate's exact rule (left-fold float→double
    * dot, HALF_UP round-6). Returns the per-batch flags as a LOCAL
    * frame (micro-batch-sized by contract — collected so the result
    * survives the index mutation that follows materialization; the
    * contract is ENFORCED: a batch over `maxBatchRows` raises a named
    * error before the collect rather than OOMing the driver inside it).
    *
    * The read→decide→append sequence is one TRANSACTION under the
    * index's cross-process file lock, so concurrent admit loops (or an
    * admit loop racing a CLI append/compact) serialize — neither can
    * read members the other is mid-way through extending. */
  def semanticAdmitBatch(idx: String,
      tables: graft.queries.SimilarityQueries.StagedGateTables,
      batch: DataFrame, minCos: Double = 0.9,
      maxBatchRows: Long = 1000000L): DataFrame = {
    require(maxBatchRows >= 1, s"maxBatchRows=$maxBatchRows (must be >= 1)")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = batch.sparkSession
    // the WHOLE read→decide→append transaction runs under the index
    // lock (withIndexLock is thread-reentrant, so the heal and
    // writeMemberDelta below re-enter rather than deadlock): without
    // the outer scope two concurrent admit processes on one index both
    // read members before either commits its delta, both compute
    // dup=false for mutual ≥minCos neighbors, and both append — the
    // index permanently violates the greedy-remove discipline and no
    // later read repairs it (r13 review)
    graft.queries.SimilarityQueries.withIndexLock(idx) {
      // GEOMETRY GUARD (r16): refuse index-bound tables that predate the
      // current geometry — a rebuild re-clustered since they were
      // loaded, so this batch's cid assignments name retired centroids;
      // committing them would scatter members into the wrong cells of
      // the rebuilt cid space (and the gate would have decided dup/admit
      // against the wrong neighborhoods). Checked INSIDE the lock, so a
      // rebuild cannot complete between the check and the commit.
      // Conservative: nothing was written — the caller reloads tables
      // (stagedGateTablesAt) and replays the batch. Tables with geom=-1
      // (not index-bound — the pre-r16 call shape) skip the check.
      if (tables.geom >= 0) {
        val cur = graft.queries.SimilarityQueries.indexGeometryVersion(idx)
        if (cur != tables.geom)
          throw new graft.queries.SimilarityQueries.StaleRoutingTablesException(
            s"semanticAdmitBatch: routing tables were loaded at geometry " +
              s"version ${tables.geom} but $idx is now at version $cur " +
              s"(a rebuild ran) — reload with stagedGateTablesAt and replay " +
              s"this batch")
      }
      // repair any compact interrupted by a previous process BEFORE the
      // member read — below the maintenance threshold maintainIndex runs
      // after this batch, too late for a missing live members dir
      graft.queries.SimilarityQueries.healInterruptedCompact(idx)
      val assigned = semanticGateAssignStaged(batch, tables)
        .select(col("cid"), col("vec_id"), col("e"), col("nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the per-batch flag collect below is driver-resident by design
        // (it orders the decide→append transaction), bounded by the
        // micro-batch contract — make the bound ENFORCED, not
        // conventional (r13 verdict LOW #2): a misconfigured source that
        // feeds a corpus-sized "batch" must fail with a named error
        // BEFORE the collect, not OOM the driver inside it. The count is
        // one cheap job over the just-persisted assignment.
        val nBatch = assigned.count()
        if (nBatch > maxBatchRows)
          throw new IllegalArgumentException(
            s"semanticAdmitBatch: batch has $nBatch rows, over the " +
              s"maxBatchRows=$maxBatchRows driver-collect bound — split the " +
              s"stream into smaller micro-batches or raise the bound " +
              s"explicitly if the driver heap is sized for it")
        // prune the accumulated members to the cells this batch touches
        // BEFORE merging generations: the touched-cid list is batch-bounded
        // (collected under the micro-batch contract) and goes into the SCAN
        // as an isin predicate the cid-sorted row-group layout skips on — a
        // join-side filter would only apply after a full O(index) scan
        val touchedCids = assigned.select(col("cid")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val members = graft.queries.SimilarityQueries
          .readCellMembersMerged(spark, idx, Some(touchedCids))
        val outSchema = StructType(Seq(
          StructField("vec_id", LongType, nullable = false),
          StructField("cid", IntegerType, nullable = false),
          StructField("e", ArrayType(FloatType, containsNull = false)),
          StructField("nrm", DoubleType, nullable = false),
          StructField("semantic_near_dup", BooleanType, nullable = false),
          StructField("newly_admitted", BooleanType, nullable = false)))
        def cos6(e: Array[Float], n: Double, e2: Array[Float], n2: Double): Double = {
          if (n * n2 == 0.0) return -2.0
          var a = 0.0
          var i = 0
          while (i < e.length) { a += e(i).toDouble * e2(i).toDouble; i += 1 }
          new java.math.BigDecimal(a / (n * n2))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        }
        // COGROUP the batch slice with the cell's members: each cell's
        // admitted-member payload ships across the shuffle ONCE, keyed by
        // cid — the previous probe-side join attached the full member
        // array to EVERY probe row, so a P-probe cell buffered P copies
        // of an M-member payload in the group iterator (r13 review)
        val probesKV = assigned
          .groupByKey((r: Row) => r.getInt(0))(org.apache.spark.sql.Encoders.scalaInt)
        val membersKV = members
          .groupByKey((r: Row) => r.getInt(0))(org.apache.spark.sql.Encoders.scalaInt)
        val out = probesKV
          .cogroup(membersKV) { (cid: Int, probes: Iterator[Row], mems: Iterator[Row]) =>
            val admitted =
              scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)]()
            mems.foreach { m =>
              m.getSeq[Row](1).foreach { mm =>
                admitted += ((mm.getLong(0), mm.getSeq[Float](1).toArray, mm.getDouble(2)))
              }
            }
            probes.toArray.sortBy(_.getLong(1)).iterator.map { r =>
              val id = r.getLong(1)
              val e = r.getSeq[Float](2).toArray
              val nrm = r.getDouble(3)
              // self-id excluded (replay safety): an at-least-once re-run of
              // a committed batch must not flag an original against itself
              val dup = admitted.exists { case (id2, e2, n2) =>
                id2 != id && cos6(e, nrm, e2, n2) >= minCos }
              val present = admitted.exists(_._1 == id)
              if (!dup && !present) admitted += ((id, e, nrm))
              Row(id, cid, e.toSeq, nrm, dup, !dup && !present)
            }
          }(org.apache.spark.sql.Encoders.row(outSchema))
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // ONE collect materializes the flags (BEFORE the index mutation
          // below invalidates the lineage — the merged-members read is part
          // of it) AND carries the delta decision: only a NON-empty delta
          // may touch the index — an all-duplicate (or fully-replayed)
          // batch must not mark a pristine index as appended, which would
          // lock raw readers out for nothing — and the old limit(1).count
          // probe paid a whole extra job per micro-batch for a fact this
          // batch-sized array already knows (r13 review)
          val flagRows = out.select(col("vec_id"), col("cid"),
            col("semantic_near_dup"), col("newly_admitted")).collect()
          if (flagRows.exists(_.getBoolean(3)))
            graft.queries.SimilarityQueries.writeMemberDelta(
              out.filter(col("newly_admitted"))
                .groupBy(col("cid"))
                .agg(collect_list(struct(col("vec_id"), col("e"), col("nrm"))).as("members")),
              idx)
          spark.createDataFrame(
            spark.sparkContext.parallelize(flagRows.toSeq.map(r =>
              Row(r.getLong(0), r.getInt(1), r.getBoolean(2)))),
            StructType(Seq(
              StructField("vec_id", LongType, nullable = false),
              StructField("cid", IntegerType, nullable = false),
              StructField("semantic_near_dup", BooleanType, nullable = false))))
        } finally out.unpersist()
      } finally assigned.unpersist()
    }
  }

  /** Shared e/nrm/mud preparation of an arriving embedding row — the
    * micro-unit quantization rule (round(x·1e6)) is bit-exactness-
    * critical against the DuckDB oracles and the index build, so the
    * flat and routed heads MUST share it. */
  private def prepGateVecs(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("e", col("embedding"))
      .withColumn("nrm",
        sqrt(graft.functions.GraftFunctions.dotFold(col("e"), col("e"))))
      .withColumn("mud",
        transform(col("e"), x => round(x * lit(1e6)).cast("long").cast("double")))

  /** Stateless per-row cell assignment (micro-unit quantize + codegen'd
    * argmin kernel against the broadcast-by-reference centroid table). */
  private def semanticAssign(vecs: DataFrame, cents: Seq[Seq[Long]]): DataFrame =
    prepGateVecs(vecs)
      .withColumn("cid",
        graft.functions.GraftFunctions.centroidArgmin(col("mud"), cents))

  /** Cosine verification against the assigned cell's static members via
    * one stream-static broadcast join (the shared tail of the sharded and
    * unsharded gates). */
  private def semanticVerify(withCid: DataFrame, cellMembers: DataFrame,
      minCos: Double): DataFrame =
    withCid
      .join(broadcast(cellMembers), Seq("cid"), "left")
      .withColumn("best_cos", expr(
        """coalesce(array_max(transform(
          |  filter(members, m -> m.vec_id <> vec_id),
          |  m -> round(aggregate(zip_with(e, m.e,
          |         (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |       CAST(0 AS DOUBLE), (a, v) -> a + v)
          |     / nullif(nrm * m.nrm, CAST(0 AS DOUBLE)), 6))), CAST(-2 AS DOUBLE))"""
          .stripMargin))
      .select(col("vec_id"), col("cid"),
        coalesce(size(col("members")), lit(0)).as("n_cell_members"),
        col("best_cos"),
        (col("best_cos") >= minCos).as("semantic_near_dup"))

  /** Stateless streaming DSIR selection gate (q66 online): each arriving
    * document is scored against the static corpus' hashed log-ratio
    * language model — the 4096-bucket table collapsed into ONE broadcast
    * map row — and kept iff its per-token score beats the static corpus
    * average, the same exact-integer cross-multiplication as q66. Scoring
    * is a per-row fold over the token array (no explode, no per-doc
    * aggregation state), so the gate runs at source parallelism with zero
    * streaming state; the md5-prefix hash is written in its SQL form,
    * bit-identical to Md5PrefixInt (pinned by GraftFunctionsSpec).
    *
    * `defaultLrMicro` covers buckets the static corpus never occupied
    * (stream-only vocabulary) with the same +1-smoothed ratio. */
  def streamingDsirGate(docs: DataFrame, model: graft.queries.CurationQueries.DsirModel)
      : DataFrame = {
    val lmMap = model.lm
      .agg(map_from_arrays(collect_list(col("hb")), collect_list(col("lr_micro")))
        .as("lr_map"))
      .withColumn("k", lit(1))
    docs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("k", lit(1))
      .join(broadcast(lmMap), Seq("k"))
      .withColumn("s_micro", expr(
        "aggregate(toks, 0L, (acc, w) -> acc + coalesce(" +
          "element_at(lr_map, cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint) % " + graft.queries.CurationQueries.DsirBuckets + "), " +
          s"${model.defaultLrMicro}L))"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("n_tok"), col("s_micro"),
        (col("s_micro") * lit(model.totN) > lit(model.totS) * col("n_tok")).as("keep"))
  }

  def streamingCurationGate(docs: DataFrame, benchGrams: DataFrame,
      minTokens: Int = 5): DataFrame = {
    val benchArr = benchGrams
      .agg(sort_array(collect_set(col("g"))).as("bench_set"))
      .withColumn("k", lit(1))
    docs
      .withColumn("n_tok", size(split(trim(col("text")), "\\s+")))
      .withColumn("gh",
        graft.functions.GraftFunctions.hashedWordNgrams(col("text"), 5))
      .withColumn("k", lit(1))
      .join(broadcast(benchArr), Seq("k"))
      .withColumn("contaminated", arrays_overlap(col("gh"), col("bench_set")))
      .withColumn("quality_ok", col("n_tok") >= minTokens)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        col("quality_ok"), col("contaminated"),
        (col("quality_ok") && !col("contaminated")).as("keep"))
  }

  // ---------------------------------------------------------------------------
  // Streaming as-of join — q100 online (operators/AsofJoin backward
  // semantics on a live feed): one tagged stream of left probes and right
  // snapshots per key; every left row is enriched with the key's
  // prevailing right row (greatest right ts ≤ left ts, same-ts inclusive).
  //
  // Event-time correctness across micro-batch disorder: a left row is
  // HELD until the watermark passes its timestamp — only then can no
  // earlier right row still arrive — and matched against the sorted
  // right buffer at emission. State per key is bounded: the in-flight
  // lefts and rights above the watermark, plus exactly ONE resolved
  // right (the prevailing snapshot, kept like any keyed enrichment
  // cache — that single row is what makes a quiet key still matchable
  // years later). Flushes ride the event-time timeout (quiet keys drain
  // when the global watermark moves), the same pattern as
  // streamingSessionize. Ties/uniqueness contract as in AsofJoin:
  // (key, ts) uniquely keys the right side.

  final case class AsofEvent(userId: Long, tsUs: Long, isLeft: Boolean, value: Double)

  final case class AsofOut(userId: Long, tsUs: Long, value: Double,
      matchTsUs: Option[Long], matchValue: Option[Double])

  final case class AsofState(
      pending: List[(Long, Double)], rights: List[(Long, Double)])

  def streamingAsofJoin(events: Dataset[AsofEvent],
      watermark: String = "10 minutes"): Dataset[AsofOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("tsUs")))
      .withWatermark("event_time", watermark)
      .as[(Long, Long, Boolean, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[AsofState]) =>
          val st0 = state.getOption.getOrElse(AsofState(Nil, Nil))
          var pending = st0.pending
          var rights = st0.rights
          rows.foreach { r =>
            if (r._3) pending ::= (r._2, r._4)
            else rights ::= (r._2, r._4)
          }
          rights = rights.sortBy(_._1)
          // getCurrentWatermarkMs floors to ms, so wmUs ≤ the true µs
          // watermark — emission is conservative, never premature.
          // ts <= wmUs is safe INCLUDING the boundary: Spark's stateful
          // late-row predicate is LessThanOrEqual(event_time, wm·1000)
          // (WatermarkSupport.watermarkExpression, verified on 4.1.2), so a
          // right with ts == wm is itself dropped and can never arrive to
          // match an emitted left — StreamingSpec pins this boundary
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, stillPending) = pending.partition(_._1 <= wmUs)
          val out = ready.sortBy(_._1).map { case (t, v) =>
            val m = rights.takeWhile(_._1 <= t).lastOption
            AsofOut(user, t, v, m.map(_._1), m.map(_._2))
          }
          // prune: drop rights strictly below the prevailing-at-watermark
          // (everything at or above it can still match a future left)
          val resolved = rights.takeWhile(_._1 <= wmUs)
          val keptRights =
            if (resolved.isEmpty) rights
            else rights.drop(resolved.length - 1)
          state.update(AsofState(stillPending, keptRights))
          if (stillPending.nonEmpty) {
            // fire once the watermark passes the oldest held left; must be
            // strictly beyond the current watermark (floor(ms) + guard)
            val wmMs = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
              math.max(stillPending.map(_._1).min / 1000L, wmMs + 1L))
          }
          out.iterator
      }
  }
}
