package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface (SURVEY.md §2.13): the reference is batch
  * with job-level incrementality (content-hash change detection, per-batch
  * progress counters); stream-ified here the idiomatic way —
  * `readStream → withWatermark → window agg → writeStream`, with
  * `foreachBatch` for the MERGE-shaped sink and `mapGroupsWithState` for
  * the per-job running counters the reference keeps in memory
  * (job-manager.ts:301-357).
  *
  * Scale notes: watermark bounds state; the windowed agg shuffles on
  * (window, event_type) — tiny cardinality; session state is per user_id,
  * hash-partitioned, and evicted by timeout.
  */
object EventsStreaming {

  /** Tumbling-window counts/sums with late-data handling — the streaming
    * twin of the batch q18 time-window query (same semantics per window
    * once the watermark passes). */
  def windowedCounts(events: DataFrame,
      windowLen: String = "1 day", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Exact streaming dedup — the streaming twin of the batch q25
    * content dedup: `dropDuplicatesWithinWatermark` on the content key
    * keeps each key's FIRST arrival and drops every duplicate that
    * lands inside the watermark horizon, with per-key state evicted
    * once the watermark passes (bounded state — the property plain
    * `dropDuplicates` on a stream does not have; its state grows
    * forever). Duplicates separated by more than the horizon are
    * re-admitted by design: that is the contract of horizon-bounded
    * dedup, and the batch backstop (q25 over the full corpus) catches
    * the long-range stragglers — exactly the production lambda split. */
  def dedupStream(events: DataFrame, keyCol: String = "content_key",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Gap-based session aggregation on the stream — `session_window`
    * with a watermark, the streaming twin of the batch q35 sessionize:
    * a session closes once the watermark passes its last event + gap,
    * and the finalized (user, session) row carries start/end, event
    * count, and cents. State per open session only; the watermark
    * bounds it. Append mode: rows emit exactly once, when final. */
  def sessionAggStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("cents"))

  final case class EventRow(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class UserProgress(user_id: Long, n_events: Long, total_cents: Long)

  /** Running per-user counters via mapGroupsWithState — the stateful analog
    * of the reference's in-memory job progress (counters survive across
    * micro-batches; processing-time timeout evicts idle users). */
  def userProgress(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.as[EventRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[UserProgress]) =>
          if (state.hasTimedOut) {
            val cur = state.get
            state.remove()
            cur
          } else {
            val prev = state.getOption.getOrElse(UserProgress(userId, 0L, 0L))
            val (n, cents) = rows.foldLeft((prev.n_events, prev.total_cents)) {
              case ((c, s), r) => (c + 1, s + math.round(r.value * 100))
            }
            val next = UserProgress(userId, n, cents)
            state.update(next)
            state.setTimeoutDuration("1 hour")
            next
          }
      }.toDF()
  }

  final case class ObsRow(key: Long, seq: Long, value: Option[Long])
  final case class ObsFilled(key: Long, seq: Long, value: Option[Long])

  /** Streaming forward fill (the cross-batch twin of
    * [[graft.etl.TimeJoins.forwardFill]]): nulls take the most recent
    * non-null value of the key, INCLUDING across micro-batches — the
    * carried value is the flatMapGroupsWithState state (one Long per key).
    * Rows within a batch fill in `seq` order; rows before a key's first
    * observation stay null, exactly like the batch operator. */
  def locfStream(obs: DataFrame): DataFrame = {
    import obs.sparkSession.implicits._
    obs.as[ObsRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[ObsRow], state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = rows.toSeq.sortBy(_.seq).map { r =>
            last = r.value.orElse(last)
            ObsFilled(key, r.seq, r.value.orElse(last))
          }
          last.foreach(state.update)
          out.iterator
      }.toDF()
  }

  final case class TransRow(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  final case class Transition(user_id: Long, prev_type: String,
      curr_type: String)

  /** Streaming Markov transitions (the cross-batch twin of
    * [[graft.etl.Events.transitionCounts]]): each user's last event type
    * is one tiny state cell, so a transition spanning two micro-batches is
    * emitted exactly like one inside a batch. Rows within a batch process
    * in timestamp order; downstream aggregation (groupBy prev/curr count)
    * is the caller's choice of output mode. */
  def transitionsStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("ts"), col("event_type")).as[TransRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[TransRow], state: GroupState[String]) =>
          var last: Option[String] = state.getOption
          val out = rows.toSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos))
            .map { r =>
              val t = last.map(Transition(user, _, r.event_type))
              last = Some(r.event_type)
              t
            }.flatten
          last.foreach(state.update)
          out.iterator
      }.toDF()
  }

  final case class PitRow(user_id: Long, event_id: Long, us: Long,
      is_click: Boolean)
  final case class PitFeature(user_id: Long, event_id: Long,
      trail_cnt: Long)

  /** Streaming point-in-time trailing count — the stateful twin of
    * [[graft.etl.TimeJoins.trailingCount]]: for every non-click row, the
    * number of that user's clicks in [t − window, t), computed as the
    * stream flows so the feature is available at serving time, not after
    * a batch job.
    *
    * State per user is ONLY the click timestamps still inside the window
    * horizon — rows process in (us, event_id) order and anything older
    * than newest − window is evicted (a later probe's window starts even
    * later, so evicted clicks are provably dead). State is therefore
    * O(clicks per window) per user, the same bound the batch plan gets
    * from its running-count difference; the batch-parity spec pins the
    * two surfaces to identical output across micro-batch boundaries. */
  def trailingCountStream(events: DataFrame, windowUs: Long): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_id"), col("us"),
        col("is_click")).as[PitRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[PitRow], state: GroupState[Vector[Long]]) =>
          var clicks = state.getOption.getOrElse(Vector.empty)
          val out = Seq.newBuilder[PitFeature]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            clicks = clicks.dropWhile(_ < r.us - windowUs)
            if (r.is_click) clicks = clicks :+ r.us
            else out += PitFeature(user, r.event_id,
              clicks.count(_ < r.us))
          }
          state.update(clicks)
          out.result().iterator
      }.toDF()
  }

  final case class BalRow(user_id: Long, us: Long, event_id: Long,
      delta: Long)
  final case class BalOut(user_id: Long, event_id: Long, balance: Long)

  /** Streaming floor-at-zero balance — the stateful twin of
    * [[graft.etl.Stats.clampedBalance]]: the batch side solves the
    * `max(0, prev + delta)` recurrence closed-form with the prefix-min
    * window identity; the stream carries the ONE number the recurrence
    * actually needs (the current balance) across micro-batches. State is
    * O(1) per user forever — no retained rows, no watermark pressure —
    * which is exactly why this recurrence is streaming-friendly even
    * though it looks sequential. Rows process in (us, event_id) order
    * within a batch; the parity spec pins stream ≡ batch across
    * micro-batch boundaries. */
  def clampedBalanceStream(deltas: DataFrame): DataFrame = {
    import deltas.sparkSession.implicits._
    deltas.select(col("user_id"), col("us"), col("event_id"),
        col("delta")).as[BalRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[BalRow], state: GroupState[Long]) =>
          var bal = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[BalOut]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            bal = math.max(0L, bal + r.delta)
            out += BalOut(user, r.event_id, bal)
          }
          state.update(bal)
          out.result().iterator
      }.toDF()
  }

  final case class DailyRow(k: String, d: Long, cnt: Long)
  final case class BurstOut(k: String, d: Long, cnt: Long,
      baseline_med: Option[Long], burst: Boolean)

  /** Streaming burst detector — the stateful twin of
    * [[graft.etl.Series.burstDays]]: as daily counts arrive per key,
    * each tick compares against the exact LOWER MEDIAN of the `n` PRIOR
    * ticks (cross-multiplied `cnt·den ≥ med·num`, no division), with
    * the same honest NULL cold start while fewer than `n` priors exist.
    * State per key is the last ≤ `n` counts — O(n) forever, no retained
    * rows, no watermark pressure; the baseline crosses micro-batch
    * boundaries so a spike in batch N is judged against quiet days from
    * batches N−k. Like the other stateful twins, cross-batch arrival is
    * assumed in day order per key (in-batch rows are sorted). */
  def burstStream(daily: DataFrame, n: Int = 7, num: Long = 3,
      den: Long = 2): DataFrame = {
    import daily.sparkSession.implicits._
    daily.select(col("k"), col("d"), col("cnt")).as[DailyRow]
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[DailyRow],
            state: GroupState[Vector[Long]]) =>
          var prior = state.getOption.getOrElse(Vector.empty)
          val out = Seq.newBuilder[BurstOut]
          rows.toSeq.sortBy(_.d).foreach { r =>
            val med =
              if (prior.size == n) Some(prior.sorted.apply((n + 1) / 2 - 1))
              else None
            out += BurstOut(k, r.d, r.cnt, med,
              med.exists(m => r.cnt * den >= m * num))
            prior = (prior :+ r.cnt).takeRight(n)
          }
          state.update(prior)
          out.result().iterator
      }.toDF()
  }

  final case class AsofProbe(key: Long, us: Long, probe_id: Long)
  final case class AsofQuote(key: Long, us: Long, pick: Long)
  final case class AsofEvent(key: Long, us: Long, is_probe: Boolean,
      probe_id: Long, pick: Long)
  final case class AsofOut(key: Long, probe_id: Long, us: Long,
      asof_pick: Option[Long])
  final case class LastQuote(us: Long, pick: Long)

  /** Streaming backward as-of join — the stateful twin of
    * [[graft.etl.TimeJoins.asofJoin]]: each probe row picks up the most
    * recent quote for its key at-or-before its event time, as the stream
    * flows. The two inputs are tagged and unioned into ONE keyed stream
    * (flatMapGroupsWithState takes a single input), so quote and probe
    * land on the same state partition with one shuffle — the same
    * single-shuffle shape the batch union+window plan has.
    *
    * State per key is ONE (us, pick) cell — the latest quote — carried
    * across micro-batches, so a probe in batch N matches a quote from
    * batch N−k with no retained history and no watermark pressure.
    * Batch-twin tie rules are preserved: at equal time quotes apply
    * before probes (<= semantics) and concurrent quotes resolve to the
    * max pick. Like the other stateful twins, cross-batch arrival is
    * assumed in time order per key (the `q.us <= r.us` guard makes a
    * late-arriving stale quote a no-op rather than a regression). */
  def asofJoinStream(probes: DataFrame, quotes: DataFrame): DataFrame = {
    import probes.sparkSession.implicits._
    val p = probes.select(col("key"), col("us"), lit(true).as("is_probe"),
      col("probe_id"), lit(Long.MinValue).as("pick"))
    val q = quotes.select(col("key"), col("us"), lit(false).as("is_probe"),
      lit(Long.MinValue).as("probe_id"), col("pick"))
    p.unionByName(q).as[AsofEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[AsofEvent], state: GroupState[LastQuote]) =>
          var st: Option[LastQuote] = state.getOption
          val out = Seq.newBuilder[AsofOut]
          // quotes (is_probe=false) sort before probes at equal us; equal-us
          // quotes ascend by pick so the last applied is the max — both
          // mirror the batch window's (_time, _tag, _pick) ordering
          rows.toSeq.sortBy(r => (r.us, r.is_probe, r.pick)).foreach { r =>
            if (!r.is_probe) {
              st = st match {
                case Some(q) if r.us < q.us => Some(q)
                case Some(q) if r.us == q.us =>
                  Some(LastQuote(r.us, math.max(q.pick, r.pick)))
                case _ => Some(LastQuote(r.us, r.pick))
              }
            } else {
              out += AsofOut(key, r.probe_id, r.us,
                st.filter(_.us <= r.us).map(_.pick))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }.toDF()
  }

  final case class DebRow(user_id: Long, event_type: String, us: Long,
      event_id: Long)
  final case class DebOut(user_id: Long, event_type: String, event_id: Long,
      kept: Boolean)

  /** Streaming debounce — the stateful twin of the batch q232 rule: an
    * event is KEPT iff it arrives more than `gapUs` after the previous
    * event of the same (user, type), previous event meaning the prior row
    * whether or not it was itself kept (exactly the batch lag-over-all
    * semantics). State per key is ONE timestamp carried across
    * micro-batches — O(1) forever, no watermark pressure — which is what
    * makes debounce an ingest-time filter rather than a batch cleanup. */
  def debounceStream(events: DataFrame, gapUs: Long): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_type"), col("us"),
        col("event_id")).as[DebRow]
      .groupByKey(r => (r.user_id, r.event_type))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), rows: Iterator[DebRow],
            state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = Seq.newBuilder[DebOut]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            val keep = last.forall(r.us - _ > gapUs)
            out += DebOut(key._1, key._2, r.event_id, keep)
            last = Some(r.us)
          }
          last.foreach(state.update)
          out.result().iterator
      }.toDF()
  }

  final case class TbRow(user_id: Long, us: Long, event_id: Long, cost: Long)
  final case class TbOut(user_id: Long, event_id: Long, allowed: Boolean,
      tokens_after: Long)
  final case class TbState(tokens: Long, last_us: Long)

  /** Streaming token-bucket rate limiter — the ingest-time guard a 100 TB
    * feed needs BEFORE the data lands (batch dedup cleans up after the
    * flood; this refuses it): each key's bucket refills `ratePerSec`
    * tokens (micro-token integer arithmetic — refill = Δus·rate div 10⁶,
    * floor, no float drift), caps at `capacity`, and an event is allowed
    * iff its cost fits, consuming on admit. State is two longs per key
    * carried across micro-batches. The min-AND-max clamped recurrence has
    * no prefix-scan closed form (unlike the one-sided
    * [[clampedBalanceStream]]), so the batch equivalent is genuinely
    * sequential — streaming state is the natural home, and the spec pins
    * it against a per-key sequential fold. */
  def tokenBucketStream(events: DataFrame, capacity: Long,
      ratePerSec: Long): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("us"), col("event_id"), col("cost"))
      .as[TbRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[TbRow], state: GroupState[TbState]) =>
          var st = state.getOption.getOrElse(TbState(capacity, Long.MinValue))
          val out = Seq.newBuilder[TbOut]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            val refill =
              if (st.last_us == Long.MinValue) 0L
              else (r.us - st.last_us) * ratePerSec / 1000000L
            val tokens = math.min(capacity, st.tokens + refill)
            val allowed = tokens >= r.cost
            val after = if (allowed) tokens - r.cost else tokens
            out += TbOut(user, r.event_id, allowed, after)
            st = TbState(after, r.us)
          }
          state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** K2/K3 parity sink: every micro-batch goes through the SAME
    * stage-to-temp + transactional MERGE path the batch side uses
    * (`Sinks.jdbcUpsert` → `Sinks.mergeSql`), closing the batch/streaming
    * seam — a row upserted from a stream is indistinguishable in the target
    * table from one upserted by a batch job, and replays of a micro-batch
    * after failure are idempotent because MERGE keys on the natural key. */
  def mergeUpsertSink(unified: DataFrame, jdbcUrl: String,
      props: java.util.Properties, target: String, keyCols: Seq[String],
      checkpointDir: String, nowExpr: String = "now()"): StreamingQuery = {
    // per-query staging table: concurrent upserts to the same target
    // (another stream, a batch job) must not clobber this stream's staged
    // rows between write and MERGE; micro-batches within one query are
    // sequential, so one suffix per query suffices
    val sid = "_s" + java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    unified.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.Sinks.jdbcUpsert(batch, jdbcUrl, props, target, keyCols,
          nowExpr, stagingSuffix = sid)
      }
      .start()
  }

  /** Streaming session windows: gap-based sessionization, the streaming
    * twin of the batch `TimeJoins.sessionize` (q35) — same output schema,
    * same merge semantics once the watermark closes a session. State is one
    * open session per user, evicted when the watermark passes its end. */
  def sessionizedCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup with bounded state (the streaming twin of the
    * batch exact-dedup q25): rows are keyed by content hash and
    * `dropDuplicatesWithinWatermark` evicts hashes older than the
    * watermark horizon — so at 100 TB/day the dedup state holds only the
    * horizon, not all of history. Exactness is within-horizon by design;
    * cross-horizon dups are the batch job's business. */
  def dedupedStream(unified: DataFrame, watermarkCol: String = "ts",
      watermark: String = "1 hour"): DataFrame = {
    val hashed = unified.withColumn("content_hash",
      sha2(to_json(struct(unified.columns.map(col): _*)), 256))
    hashed.withWatermark(watermarkCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Stream-stream inner join with an event-time range: attribute each
    * purchase to the same user's clicks in the preceding hour. Both sides
    * carry watermarks, and the range condition bounds the join state on
    * BOTH sides — click state older than (purchase watermark − 1h) and
    * purchase state older than its own watermark are evicted, so state
    * size tracks the horizon, not the stream length. */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      c("user_id") === p("p_user_id") &&
        c("click_ts") <= p("purchase_ts") &&
        c("click_ts") >= p("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  final case class ReqRow(pfx: String, us: Long, id: Long)
  final case class ReqHit(pfx: String, id: Long, hit: Boolean)

  /** Online KV-cache prefix-hit flagging — the stateful twin of
    * [[graft.etl.Inference.prefixHitRate]]: a request HITS if the same
    * prompt prefix was served within `horizonUs` (the LRU horizon). The
    * batch side answers it retrospectively with the horizon-bucketed
    * two-phase spelling; the stream answers it AS REQUESTS ARRIVE (the
    * number a router reads to decide live cache keying), carrying ONE
    * Long per prefix — the last-seen µs, which IS the max prior arrival,
    * the only number the horizon test needs. Rows process in (us, id)
    * order within a batch, so an equal-timestamp smaller-id predecessor
    * counts (distance 0), exactly like the batch op; the parity spec
    * pins stream ≡ batch across micro-batch boundaries. State is O(1)
    * per distinct prefix forever (no retained rows). */
  def prefixHitStream(requests: DataFrame, horizonUs: Long): DataFrame = {
    require(horizonUs > 0, s"horizonUs must be positive, got $horizonUs")
    import requests.sparkSession.implicits._
    requests.select(col("pfx"), col("us"), col("id")).as[ReqRow]
      .groupByKey(_.pfx)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (pfx: String, rows: Iterator[ReqRow], state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = rows.toSeq.sortBy(r => (r.us, r.id)).map { r =>
            val hit = last.exists(_ >= r.us - horizonUs)
            last = Some(r.us)
            ReqHit(pfx, r.id, hit)
          }
          last.foreach(state.update)
          out.iterator
      }.toDF()
  }

  final case class BandRow(band: Int, bucket: Long, id: Long)
  final case class CandPair(id_a: Long, id_b: Long, band: Int)

  /** Online LSH near-dup candidate stream — the streaming face of
    * [[graft.etl.Similarity.lshCandidatePairs]]: documents arrive with
    * their (band, bucket) signature rows already computed (the banding
    * is a stateless projection, so it runs on the stream itself), and
    * every arrival emits a candidate pair against each PRIOR member of
    * its bucket — online near-dup detection, pairs the moment the
    * second copy lands instead of at the nightly batch.
    *
    * State per (band, bucket) key is the member id list, PRE-CAPPED at
    * `maxBucket` (the shingle-engine contract, carried to streaming): a
    * boilerplate bucket stops admitting members once full — it emits
    * nothing further and its state stays ≤ maxBucket ids forever.
    * Deliberate semantic difference from the batch op, documented so
    * the parity spec's scope is honest: the batch engine sees bucket
    * sizes POST-HOC and drops over-cap buckets entirely; a stream
    * cannot retract pairs it already emitted, so it freezes the bucket
    * instead (the operational view). For buckets that never exceed the
    * cap the two agree exactly, and that is what the spec pins. Pairs
    * carry the band; downstream dedups across bands per its own window
    * (the batch op's `.distinct()`), keeping this op append-only.
    * Duplicate (bucket, id) arrivals (e.g. re-ingest) are ignored. */
  def lshCandidateStream(banded: DataFrame, maxBucket: Int = 64)
      : DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    import banded.sparkSession.implicits._
    banded.select(col("band"), col("bucket"), col("id")).as[BandRow]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: (Int, Long), rows: Iterator[BandRow],
            state: GroupState[Seq[Long]]) =>
          var members = state.getOption.getOrElse(Seq.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
          rows.toSeq.sortBy(_.id).foreach { r =>
            if (!members.contains(r.id) && members.size < maxBucket) {
              members.foreach { m =>
                out += CandPair(math.min(m, r.id), math.max(m, r.id),
                  key._1)
              }
              members = members :+ r.id
            }
          }
          state.update(members)
          out.iterator
      }.toDF()
  }

  final case class SrvRow(key: String, us: Long, id: Long,
      service_us: Long)
  final case class SrvOut(key: String, id: Long, c_us: Long,
      wait_us: Long)

  /** Streaming FIFO queueing replay — the online face of
    * [[graft.etl.Inference.fifoReplay]] (q490's engine): single server
    * per key, requests served in arrival order, each holding the server
    * for its service demand. The batch op spells the Lindley recurrence
    * C_i = max(arr_i, C_{i−1}) + s_i as a prefix sum + running max over
    * range buckets; the stream carries exactly that closed form's state
    * — (S, M) = (Σ service so far, max_j (arr_j − S_{j−1})) — TWO LONGS
    * per key, so completion C_i = S_i + M_i emits the moment request i
    * lands. Rows process in (us, id) order within a batch; cross-batch
    * parity with the batch op holds for in-event-time-order arrival,
    * which is what the spec pins (same contract as prefixHitStream). */
  def fifoReplayStream(requests: DataFrame): DataFrame = {
    import requests.sparkSession.implicits._
    requests.select(col("key"), col("us"), col("id"), col("service_us"))
      .as[SrvRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[SrvRow],
            state: GroupState[(Long, Long)]) =>
          var (s, m) = state.getOption.getOrElse((0L, Long.MinValue))
          val out = rows.toSeq.sortBy(r => (r.us, r.id)).map { r =>
            s += r.service_us
            val v = r.us - s + r.service_us // arr_i − S_{i−1}
            m = math.max(m, v)
            val c = s + m
            SrvOut(key, r.id, c, c - r.us - r.service_us)
          }
          state.update((s, m))
          out.iterator
      }.toDF()
  }

  /** Streaming embedding-distribution drift — the online face of
    * [[graft.etl.Similarity.embeddingDrift]] (q519), per the round-10
    * verdict: the natural alarm when a new encoder version or ingest
    * source lands is PANE-grained, not nightly. Each watermark-finalized
    * pane compares its arriving embeddings against a PROVIDED baseline
    * cohort per group — same posture as [[degradationStream]]: the batch
    * op derives both cohorts from the corpus, a stream can't see its own
    * future, so the baseline arrives as a static broadcast of the batch
    * op's own sufficient statistics
    * ([[graft.etl.Similarity.embeddingCohortStats]]: per group the
    * element-wise sum s_b of the quantized vectors and the count n_b).
    *
    * Exactness is the batch formula verbatim — vectors quantize to
    * milli-units, per dim term_d = (s_a·n_b − s_b·n_a)², drift_milli² =
    * ⌊Σ_d term_d div (n_a·n_b)²⌋, one floored division at the end, every
    * product in decimal(38,0) — so with the batch run's baseline stats
    * passed in, a pane's row equals the batch op run on (pane rows ∪
    * baseline rows), which is what the parity spec pins. Groups absent
    * from the baseline (or a dims mismatch between pane and baseline —
    * two encoder versions) emit NULL drift, never a fake 0.
    *
    * Plan shape: Structured Streaming allows ONE aggregation, so the
    * per-dim sums fold inside the single groupBy(window, group) via the
    * bounded [[graft.functions.VecSumAgg]] buffer (one dims-long vector
    * per group per partition map-side — no posexplode row blow-up on the
    * stream), then a stateless broadcast join against the baseline and
    * pure array arithmetic. State = open panes × groups × one vector:
    * watermark-bounded, never raw events. */
  def embeddingDriftStream(emb: DataFrame, baseline: DataFrame,
      groupCol: String, vecCol: String, pane: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame = {
    val vecsum = udaf(graft.functions.VecSumAgg(),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val paneStats = emb
      .withWatermark("ts", watermark)
      .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col("ts"), col(groupCol).as("_g"),
        graft.etl.Similarity.quantize(col(vecCol)).as("_q"))
      .groupBy(window(col("ts"), pane), col("_g"))
      .agg(vecsum(col("_q")).as("s_a"), count(lit(1)).as("n_a"))
    val base = broadcast(
      baseline.select(col(groupCol).as("_g"), col("s_b"), col("n_b")))
    // the arithmetic is Similarity.driftFromStats — ONE definition shared
    // with the batch timeline op, so batch and stream cannot diverge
    graft.etl.Similarity.driftFromStats(paneStats.join(base, Seq("_g"), "left"))
      .select(col("window.start").as("pane_start"), col("_g").as(groupCol),
        col("n_a"), col("n_b"), col("dims"), col("drift_milli2"),
        col("top_dim"), col("top_dim_milli2"))
  }

  /** Streaming sample-quantile sketch — the online face of
    * [[graft.etl.Sketches.sampleQuantiles]] (q521): per watermark-
    * finalized pane × group, the p50/p90/p99 estimates of `valueCol`
    * from a bottom-k-by-salted-sha256 uniform sample. The operational
    * question is pane-grained ("what was this minute's p99 latency per
    * service?"), and the sketch is the ONLY quantile spelling whose
    * state Structured Streaming can hold: the bounded
    * [[graft.functions.BottomKRowsAgg]] buffer folds inside the single
    * allowed groupBy(window, group) aggregation — state = open panes ×
    * groups × ≤k (hash, id, value) triples, never raw events, where an
    * exact per-pane percentile would have to retain every row of every
    * open pane.
    *
    * Every piece is SHARED with the batch op — `Sketches.hashRank` for
    * the draw, `Sketches.quantileRows` for the index arithmetic — so a
    * closed pane's row equals `sampleQuantiles` run on exactly that
    * pane's rows (same k, same salt), which is what the parity spec
    * pins. Determinism carries over: re-running the stream, or the
    * batch op over the pane's rows, re-derives the identical sample. */
  def quantileSketchStream(events: DataFrame, groupCol: String,
      idCol: String, valueCol: String, k: Int = 256,
      psPpm: Seq[Int] = Seq(500000, 900000, 990000), salt: String = "sq",
      pane: String = "1 minute", watermark: String = "10 minutes"): DataFrame = {
    val bk = udaf(graft.functions.BottomKRowsAgg(k))
    val paneSample = events
      .withWatermark("ts", watermark)
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col("ts"), col(groupCol).as("_g"),
        graft.etl.Sketches.hashRank(salt, col(idCol)).as("_hk"),
        col(idCol).cast("long").as("_id"),
        col(valueCol).cast("long").as("_v"))
      .groupBy(window(col("ts"), pane), col("_g"))
      .agg(count(lit(1)).as("n"), bk(col("_hk"), col("_id"), col("_v")).as("_top"))
      .select(col("window.start").as("pane_start"), col("_g"),
        col("n"), array_sort(expr("transform(_top, x -> x._3)")).as("vals"))
    graft.etl.Sketches.quantileRows(paneSample, psPpm)
      .select(col("pane_start"), col("_g").as(groupCol), col("p_ppm"),
        col("n"), col("m"), col("est"))
  }

  /** Streaming degradation-ladder classification — the online face of
    * q502 ([[graft.queries.ServingOps.q502DegradationLadder]]): each
    * watermark-finalized one-minute pane classifies as 'full' (at/below
    * the mean arrival rate), 'degraded' (≤ 2× mean) or 'shed' (above) —
    * the tier a load-shedding gate would have picked for that minute.
    * The batch op derives the mean from the corpus; a stream can't see
    * its own future, so the mean is a PROVIDED broadcast scalar (the
    * capacity-planning number, recomputed offline) — with the batch
    * run's mean passed in, the outputs agree exactly, which is what the
    * parity spec pins. Append mode: one emission per closed pane; state
    * is the open panes only, never raw events. */
  def degradationStream(events: DataFrame, meanPerMinute: Long,
      watermark: String = "10 minutes"): DataFrame = {
    require(meanPerMinute > 0,
      s"meanPerMinute must be positive, got $meanPerMinute")
    events.withWatermark("ts", watermark)
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n_m"))
      .withColumn("tier",
        when(col("n_m") <= meanPerMinute, "full")
          .when(col("n_m") <= 2 * meanPerMinute, "degraded")
          .otherwise("shed"))
      .select(col("window.start").as("minute_start"), col("n_m"),
        col("tier"))
  }

  final case class FunnelRow(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  final case class FunnelOutcome(user_id: Long, depth: Long,
      completed: Boolean, abandoned: Boolean)

  /** Streaming ordered-funnel outcomes with EVENT-TIME abandonment — the
    * one state-timeout mode the module didn't exercise
    * (userProgress uses processing time; everything else NoTimeout):
    * per user the furthest stage reached through an ORDERED funnel
    * (each stage only counts after all prior stages). Completing the
    * last stage emits immediately (completed=true, state cleared); a
    * user whose state sits idle past `gap` of EVENT time — the
    * watermark, not the wall clock, decides — times out and emits the
    * depth reached with abandoned=true. The product-analytics twin of
    * the batch ordered funnel (q107): the batch op reports conversion
    * retrospectively, this reports each abandonment as soon as the
    * stream's own time passes the deadline. State per user: one (depth,
    * last event-time ts) pair, held ONLY for users who have entered the
    * funnel (matched stage 0) — a user producing solely unrelated events
    * holds no state and emits no depth-0 abandonment, and a completed
    * user's later unrelated events don't re-open state. Rows process in
    * ts order within a batch; the per-(user, batch) `rows.toSeq` buffer
    * is bounded by one user's events in one micro-batch, the same
    * contract as the module's other flatMapGroupsWithState ops. */
  def funnelStream(events: DataFrame, stages: Seq[String],
      gap: String = "1 hour", watermark: String = "10 minutes")
      : DataFrame = {
    require(stages.nonEmpty)
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .as[FunnelRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[FunnelRow],
            state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (depth, _) = state.get
            state.remove()
            Iterator.single(FunnelOutcome(user, depth, completed = false,
              abandoned = true))
          } else {
            var (depth, lastMs) = state.getOption.getOrElse((0L, 0L))
            val out = rows.toSeq.sortBy(_.ts.getTime).flatMap { r =>
              lastMs = math.max(lastMs, r.ts.getTime)
              if (depth < stages.length &&
                  r.event_type == stages(depth.toInt)) {
                depth += 1
                if (depth == stages.length)
                  Some(FunnelOutcome(user, depth, completed = true,
                    abandoned = false))
                else None
              } else None
            }
            if (depth == stages.length) state.remove()
            else if (depth > 0) {
              state.update((depth, lastMs))
              state.setTimeoutTimestamp(lastMs, gap)
            }
            // depth == 0: the user never entered the funnel (or completed
            // it and only unrelated events followed) — hold no state, so
            // no spurious depth-0 abandonment row can ever emit
            out.iterator
          }
      }.toDF()
  }

  final case class TombRow(user_id: Long, us: Long, event_id: Long,
      event_type: String)
  final case class TombViolation(user_id: Long, event_id: Long,
      event_type: String, overshoot_us: Long)

  /** Online erasure enforcement — the stateful sibling of
    * [[graft.etl.Privacy.tombstoneAudit]]: once a user's erasure request
    * (`requestType` row) is seen, any OTHER event of that user arriving
    * more than `slaUs` after it is flagged the moment it lands, carrying
    * ONE Long per requested user (the latest request µs). Rows process
    * in (us, event_id) order within a batch. Deliberate semantic
    * difference from the batch audit, documented here so the parity
    * spec's scope is honest: the batch op judges lateness against the
    * user's LAST request overall (the retrospective compliance view);
    * the stream judges against the last request SEEN SO FAR (the
    * operational view — a re-consent arriving later does not un-flag
    * data that already leaked past the deadline). For in-event-time-
    * order arrival and single-request users the two agree exactly, and
    * that is what the spec pins. State is O(1) per requested user; users
    * who never request hold no state at all. */
  def tombstoneStream(events: DataFrame, requestType: String,
      slaUs: Long): DataFrame = {
    require(slaUs >= 0, s"slaUs must be non-negative, got $slaUs")
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("us"), col("event_id"),
        col("event_type")).as[TombRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[TombRow], state: GroupState[Long]) =>
          var req: Option[Long] = state.getOption
          val out = rows.toSeq.sortBy(r => (r.us, r.event_id)).flatMap { r =>
            if (r.event_type == requestType) {
              req = Some(req.fold(r.us)(math.max(_, r.us)))
              None
            } else req.collect {
              case t if r.us > t + slaUs =>
                TombViolation(user, r.event_id, r.event_type,
                  r.us - t - slaUs)
            }
          }
          req.foreach(state.update)
          out.iterator
      }.toDF()
  }

  /** Online SLO burn-rate alerting — the streaming face of q503's batch
    * readout, and the engine's sliding-window showcase (tumbling and
    * session windows live above; this is `window(ts, len, slide)`):
    * every event lands in 60 overlapping one-minute-slid panes, each
    * watermark-finalized pane aggregates (n, errors), and only panes
    * whose error rate clears `thresholdBp` emit — the integer-exact
    * comparison `e * 10000 >= threshold * n` avoids a division the two
    * engines could floor differently. Append mode: a pane emits once,
    * when the watermark passes its end, so downstream pagers see each
    * alert exactly once. State is the open panes only (≤ 60 per slide
    * step + watermark lag), never raw events. */
  def burnRateStream(events: DataFrame, thresholdBp: Long = 140,
      windowLen: String = "60 minutes", slide: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide))
      .agg(count(lit(1)).as("n"),
        sum((col("event_type") === "error").cast("long")).as("e"))
      .filter(col("e") * 10000 >= lit(thresholdBp) * col("n"))
      .select(col("window.start").as("w_start"), col("n"), col("e"))

  /** Online rejection-sampling yield monitor — the streaming face of
    * [[graft.etl.Preference.rejectionYield]] (q516): per (arm,
    * watermark-finalized tumbling window, acceptance threshold τ) the
    * draw count, keep count and keep rate — the live dashboard that
    * catches a reward-model drift or a generation regression WHILE the
    * synthetic-data run burns tokens, instead of at the nightly batch
    * readout. The τ grid crosses as a broadcast literal against the
    * stream (grid values join the aggregate key, so state is
    * panes × arms × |grid|, never raw events); append mode emits each
    * pane once. Same integer spelling as the batch op, so a pane's row
    * equals the batch table computed over that pane's rows. */
  def rejectionYieldStream(events: DataFrame, taus: Seq[Long],
      windowLen: String = "1 hour", watermark: String = "10 minutes")
      : DataFrame = {
    require(taus.nonEmpty)
    import events.sparkSession.implicits._
    val grid = broadcast(taus.toDF("tau"))
    events.withWatermark("ts", watermark)
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("value") >= 0)
      .select(col("ts"), col("event_type").as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("_c"))
      .crossJoin(grid)
      .groupBy(window(col("ts"), windowLen), col("arm"), col("tau"))
      .agg(count(lit(1)).as("n_drawn"),
        sum(when(col("_c") >= col("tau"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("window.start").as("w_start"), col("arm"), col("tau"),
        col("n_drawn"), col("n_kept"),
        expr("n_kept * 10000 div n_drawn").as("keep_bp"))
  }

  /** Stream-static enrichment: join the event stream against a static
    * dimension (e.g. the unified product table) — the dim is re-read per
    * micro-batch and broadcast, so the stream side never shuffles. */
  def enriched(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")
}
