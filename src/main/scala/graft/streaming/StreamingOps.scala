package graft.streaming

import graft.core.AreaDef
import graft.operators.BucketResampler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.BarrierSyntax

/** Structured Streaming surface (SURVEY §2.10). The reference is
  * batch-only; these operators extend the engine to incremental swath
  * ingestion. Bucket statistics (A1-A7) and EWA accumulation (A8) are
  * associative + commutative, so they stream directly as windowed
  * aggregations with watermarks; the kd-NN join is not streamable without
  * rework (documented limitation, same as the reference's precompute
  * model).
  */
object StreamingOps {

  /** Streaming bucket count/sum/mean over event-time windows: each incoming
    * point lands in its (window, cell) bucket; late data beyond the
    * watermark is dropped. Works on any streaming DataFrame carrying
    * (ts TIMESTAMP, lon, lat, value). */
  def bucketStats(
      stream: DataFrame,
      area: AreaDef,
      windowDuration: String = "1 minute",
      watermark: String = "2 minutes",
      valueCol: String = "value"): DataFrame = {
    val withCell = BucketResampler(area).withCell(stream)
    withCell
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col("cell"))
      .agg(
        count(lit(1)).as("n"),
        // decimal-sum discipline (same as sessionize / the batch bucket
        // family): the emitted sums are independent of micro-batch and
        // partial-merge order
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_v"))
      .withColumn("avg_v", col("sum_v") / col("n"))
  }

  /** Streaming OHLC bars — the stream twin of `Temporal.ohlcBars`:
    * tumbling event-time windows per series, open/close via (ts, id)-
    * struct `min_by`/`max_by`. These are DECLARATIVE aggregates, so
    * partial merges across micro-batches are order-independent and every
    * emitted bar equals the batch bar bit-for-bit (OhlcStreamSpec);
    * volume sums ride decimal. Watermark bounds state to the open
    * (window, series) rows. */
  def ohlcStream(
      stream: DataFrame,
      windowDuration: String = "6 hours",
      watermark: String = "12 hours",
      seriesCol: String = "event_type",
      valCol: String = "value",
      idCol: String = "event_id"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col(seriesCol))
      .agg(
        expr(s"min_by($valCol, struct(ts, $idCol))").as("open"),
        max(col(valCol)).as("high"),
        min(col(valCol)).as("low"),
        expr(s"max_by($valCol, struct(ts, $idCol))").as("close"),
        count(lit(1)).as("n_events"),
        sum(col(valCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_v"))

  /** One swath pixel on the stream. */
  final case class EwaPixel(ts: java.sql.Timestamp, y: Int, x: Int,
      lon: Double, lat: Double, value: Double)
  /** Keyed state: the scan's buffered pixels + max event time seen. */
  final case class ScanBuffer(pixels: Seq[(Int, Int, Double, Double, Double)], maxTs: Long)
  /** One scattered contribution: cell id, weight, weight x value. */
  final case class CellPartial(cell: Long, w: Double, wv: Double)

  /** Streaming EWA (extension of A8/J7 to incremental swaths): pixels of a
    * scan arrive out of order; each scan (block of `rowsPerScan` swath
    * rows) buffers in keyed state via `flatMapGroupsWithState` until its
    * event-time timeout fires (`flushDelayMs` past the scan's last pixel),
    * then the complete scan runs the per-scan Jacobian + footprint-scatter
    * kernel (`EwaResample.scatterScan` — identical semantics to the batch
    * pipeline) and emits per-cell (w, w*value) partials. Feed the result to
    * [[ewaRunningMean]] for the running per-cell weighted mean.
    *
    * State is O(rowsPerScan x scan width) per in-flight scan and is freed
    * on flush — bounded regardless of stream length. */
  def ewaStream(
      stream: DataFrame, // (ts TIMESTAMP, y, x, lon, lat, value)
      area: AreaDef,
      rowsPerScan: Int,
      flushDelayMs: Long = 60000L,
      watermark: String = "2 minutes",
      weightMin: Double = 0.01,
      weightDistanceMax: Double = 1.0,
      weightDeltaMax: Double = 10.0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark("ts", watermark)
      .as[EwaPixel]
      .groupByKey(p => if (rowsPerScan <= 0) 0L else (p.y / rowsPerScan).toLong)
      .flatMapGroupsWithState[ScanBuffer, CellPartial](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            graft.operators.EwaResample
              .scatterScan(buf.pixels, area, rowsPerScan,
                weightMin, weightDistanceMax, weightDeltaMax)
              .map { case (cell, w, wv) => CellPartial(cell, w, wv) }
          } else {
            val prev = state.getOption.getOrElse(ScanBuffer(Nil, 0L))
            val fresh = rows.map(p => ((p.y, p.x, p.lon, p.lat, p.value), p.ts.getTime)).toSeq
            val maxTs = (prev.maxTs +: fresh.map(_._2)).max
            state.update(ScanBuffer(prev.pixels ++ fresh.map(_._1), maxTs))
            state.setTimeoutTimestamp(maxTs + flushDelayMs)
            Iterator.empty
          }
      }
      .toDF()
  }

  /** Streaming exact deduplication on ingest (the streaming twin of
    * `Dedup.exact`): keep one document per content digest — the first
    * across micro-batches (inside a single micro-batch the survivor is
    * arbitrary), dropping later copies. State is the digest set, bounded by the
    * watermark: `dropDuplicatesWithinWatermark` evicts digests once they
    * age past it, so state is O(unique digests per watermark window), not
    * O(stream length) — the only way exact dedup stays bounded on an
    * unbounded ingest feed. Duplicates farther apart than the watermark are
    * left for the batch pass (the standard lambda split).
    *
    * At 100 TB-scale ingest the digest state shards by key across
    * executors (HDFSBackedStateStore / RocksDB), and the pre-watermark
    * dedup cuts the downstream write volume before anything lands.
    *
    * Caveat: Spark's initial watermark is 0, and rows at or below the
    * watermark are discarded as late BEFORE any stateful operator sees
    * them — an event time of exactly the epoch never enters the dedup
    * state (real feeds are unaffected; synthetic epoch-0 fixtures are). */
  def dedupStream(
      stream: DataFrame, // (ts TIMESTAMP, text, ...)
      watermark: String = "10 minutes",
      textCol: String = "text"): DataFrame =
    stream
      .withColumn("digest", md5(col(textCol))) // same digest as Dedup.exact
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming gap-based sessionization — the unbounded twin of the batch
    * q60 window-function formulation, expressed with Spark's native
    * `session_window` (merging session state per user, watermark-bounded;
    * sessions emit in append mode once the watermark passes their close).
    * Same semantics: a session extends while consecutive events arrive
    * within `gap`; `sum_v` goes through the decimal-sum discipline so the
    * emitted value is independent of micro-batch/merge order. */
  def sessionize(
      stream: DataFrame, // (ts TIMESTAMP, user_id, value, ...)
      gap: String = "30 minutes",
      watermark: String = "1 hour",
      valueCol: String = "value"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_v"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_v"))

  /** Streaming training-data ingest cleaner: token/quality stats +
    * language ID as PURE per-row expressions (higher-order `filter` over
    * the word array against literal keyword arrays — no join, no window,
    * fully codegen and stateless, so they run in append mode on an
    * unbounded stream), followed by watermark-bounded exact dedup
    * ([[dedupStream]]). The batch `TextAnalysis.quality`/`langId` use a
    * broadcast join + rank window — equivalent results, but those plans
    * are not executable on a stream; this is the streaming re-expression,
    * the standard quality-gate-then-dedup shape of a 100 TB ingest feed.
    *
    * Output adds: n_words, stop_ratio, punct_ratio, pred_lang (null when
    * no keyword hits — same no-row semantics as the batch argmax, kept as
    * null so the stream stays one-row-per-doc). Rows failing the gates are
    * dropped before dedup state is touched, shrinking the digest state.
    *
    * `maxTop2Frac` < 1.0 additionally gates on the Gopher repetition
    * filter (share of the modal word bigram, `TextAnalysis
    * .repetitionStats` semantics) — the fold is per-row and stateless, so
    * it streams unchanged; docs with fewer than 2 words pass the gate
    * (no bigrams to judge — `minWords` owns that case).
    *
    * `redact=true` prepends the `TextAnalysis.redactPii` scrub, replacing
    * the text column before anything else reads it. */
  def cleanIngest(
      stream: DataFrame, // (ts TIMESTAMP, doc_id, text, ...)
      watermark: String = "10 minutes",
      minWords: Int = 5,
      minStopRatio: Double = 0.0,
      maxPunctRatio: Double = 1.0,
      maxTop2Frac: Double = 1.0,
      redact: Boolean = false,
      stopwords: Seq[String] = graft.operators.TextAnalysis.EnStopwords,
      keywords: Seq[(String, String)] = graft.operators.TextAnalysis.LangKeywords,
      textCol: String = "text"): DataFrame = {
    import graft.operators.TextAnalysis
    // PII scrub first (per-row regexp_replace chain — streaming-safe), so
    // scoring, gating AND the dedup digest all see the scrubbed text
    val source =
      if (redact) stream.withColumn(textCol, TextAnalysis.redactedText(col(textCol)))
      else stream
    val scored0 = scoreDocs(source, stopwords, keywords, textCol)
      .filter(col("n_words") >= minWords &&
        col("stop_ratio") >= minStopRatio && col("punct_ratio") <= maxPunctRatio)
    val scored =
      if (maxTop2Frac >= 1.0) scored0
      else scored0
        .withColumn("_w", split(col(textCol), " "))
        .withColumn("_top2", expr(TextAnalysis.maxRunSql(TextAnalysis.gramsSql(2, "_w"))))
        .filter(col("n_words") < 2 ||
          col("_top2").cast("double") / (col("n_words") - 1) <= maxTop2Frac)
        .drop("_w", "_top2")
    dedupStream(scored, watermark, textCol)
  }

  /** The per-row scoring stage of [[cleanIngest]]: adds n_words,
    * stop_ratio, punct_ratio, pred_lang. Pure column expressions, so it
    * runs unchanged on a batch OR streaming DataFrame (the batch/stream
    * parity is spec-asserted against `TextAnalysis.langId`). */
  def scoreDocs(
      docs: DataFrame,
      stopwords: Seq[String] = graft.operators.TextAnalysis.EnStopwords,
      keywords: Seq[(String, String)] = graft.operators.TextAnalysis.LangKeywords,
      textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    val stopArr = array(stopwords.map(lit): _*)
    val nWords = size(words).cast("long")
    val stopHits = size(filter(words, w => array_contains(stopArr, w))).cast("long")
    val punct = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[.,!?;]", ""))).cast("long")
    // per-language hit counts -> argmax via min(struct(-hits, lang)):
    // -hits ascending == hits descending, lang ascending breaks ties —
    // identical selection to TextAnalysis.langId's (desc, asc) window
    val langStructs = keywords.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, kws) =>
      val kwArr = array(kws.map(k => lit(k._2)): _*)
      struct((-size(filter(words, w => array_contains(kwArr, w)))).as("neg"),
        lit(lang).as("lang"))
    }
    val best = array_min(array(langStructs: _*))
    docs
      .withColumn("n_words", nWords)
      .withColumn("stop_ratio", stopHits.cast("double") / nWords)
      .withColumn("punct_ratio", punct.cast("double") / length(col(textCol)))
      .withColumn("pred_lang", when(best.getField("neg") < 0, best.getField("lang")))
  }

  /** Streaming attribution: stream-stream INNER join of two event feeds
    * with an event-time range condition — every point (e.g. purchase) is
    * paired with the refs (e.g. clicks) by the same key whose timestamp
    * falls in `[point.ts - window, point.ts]`. The unbounded twin of the
    * batch [[graft.operators.Temporal.intervalJoin]] (binned equi-join);
    * here Spark's native interval-join state machine does the binning:
    * both sides are watermarked, and the range condition lets the engine
    * evict ref state older than `watermark + window` and point state
    * older than `watermark`, so state is bounded by rate × horizon, not
    * by stream length.
    *
    * Output: point columns prefixed `p_`, plus `r_ts` and `r_value` per
    * matching ref — one row per pair, same as the batch operator. */
  def attributionJoin(
      points: DataFrame, // (ts TIMESTAMP, user_id, ...)
      refs: DataFrame, // (ts TIMESTAMP, user_id, value, ...)
      window: String = "24 hours",
      watermark: String = "1 hour",
      valueCol: String = "value"): DataFrame = {
    val p = points
      .select(col("ts").as("p_ts"), col("user_id").as("p_user"),
        col("event_id").as("p_event_id"))
      .withWatermark("p_ts", watermark)
    val r = refs
      .select(col("ts").as("r_ts"), col("user_id").as("r_user"),
        col(valueCol).as("r_value"))
      .withWatermark("r_ts", watermark)
    p.join(r, expr(
      s"""p_user = r_user AND
          r_ts >= p_ts - interval $window AND r_ts <= p_ts"""))
      .select(col("p_event_id"), col("p_user"), col("p_ts"),
        col("r_ts"), col("r_value"))
  }

  /** Running per-cell weighted mean over [[ewaStream]] partials — an
    * incremental aggregation (update/complete output modes).
    *
    * Note: Spark statically flags any aggregation downstream of
    * flatMapGroupsWithState as a possible late-row hazard. The partials
    * here carry no event time and the aggregation is a running total
    * (complete/update mode — nothing is watermark-discarded), so the
    * warning does not apply; run the query with
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`. */
  def ewaRunningMean(partials: DataFrame, weightSumMin: Double = 0.01): DataFrame =
    partials
      .groupBy("cell")
      .agg(sum(col("wv")).as("_swv"), sum(col("w")).as("_sw"))
      .filter(col("_sw") >= weightSumMin)
      .select(col("cell"), (col("_swv") / col("_sw")).as("value"), col("_sw").as("weight_sum"))

  final case class DecayEvent(event_id: Long, user_id: Long, tus: Long, value: Double)
  final case class DecayOut(event_id: Long, user_id: Long, tus: Long, value: Double,
    n_hist: Long, decayed: Double, ewma: Option[Double], spike: Long)

  /** Streaming twin of [[graft.operators.Temporal.decayedHistory]]: the
    * bounded k-slot history lives in keyed state (a list of the k most
    * recent values, newest first), so each event is scored against
    * exactly the same lag fold as the batch window — term order, dyadic
    * weights, and the pre-division spike compare all match, and the
    * trailing `+ 0.0` terms the batch form adds for absent lags are IEEE
    * identities. In-order feeds (per key) therefore reproduce the batch
    * output bit-for-bit across micro-batch boundaries; out-of-order rows
    * within one micro-batch are sorted before folding, and rows late
    * across micro-batches score against the state as-is (the streaming
    * approximation — same contract as any no-watermark stateful op).
    *
    * 100 TB design: state is k doubles per ACTIVE key in the state store,
    * sharded by key; nothing grows with stream length. */
  def decayedHistoryStream(
      events: DataFrame,
      k: Int = 8): org.apache.spark.sql.Dataset[DecayOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    require(k >= 1 && k <= 52, "k must be in [1, 52]")
    events.select(col("event_id"), col("user_id"), col("tus"), col("value"))
      .as[DecayEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Double], DecayOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var hist = state.getOption.getOrElse(Nil) // newest first, length <= k
          val out = rows.toSeq.sortBy(e => (e.tus, e.event_id)).map { e =>
            val n = hist.length
            val decayed = hist.zipWithIndex.foldLeft(0.0) {
              case (acc, (v, i)) => acc + v / math.pow(2.0, i)
            }
            val wsum = if (n == 0) None else Some(2.0 - math.pow(0.5, n - 1))
            val ewma = wsum.map(decayed / _)
            val spike =
              if (n > 0 && e.value * wsum.get > 2.0 * decayed) 1L else 0L
            hist = (e.value :: hist).take(k)
            DecayOut(e.event_id, uid, e.tus, e.value, n.toLong, decayed, ewma, spike)
          }
          state.update(hist)
          out.iterator
      }
  }

  final case class FunnelEvent(ts: java.sql.Timestamp, event_id: Long, user_id: Long,
    tus: Long, event_type: String)
  final case class Pending(event_id: Long, tus: Long, bestConv: Option[Long])
  final case class AbandonState(views: List[Pending], convs: List[Long])
  final case class AbandonOut(user_id: Long, event_id: Long, tus: Long,
    next_conv_us: Option[Long], abandoned: Int)

  /** Streaming funnel abandonment — the EVENT-TIME TIMEOUT pattern, the
    * stream twin of `Temporal.abandonment`: a `fromType` event converts
    * at the EARLIEST `toType` event from the same user strictly inside
    * (tus, tus + windowUs]; it is emitted ABANDONED only once the
    * watermark proves no conversion can still arrive.
    *
    * Arrival order is free within the watermark, so BOTH sides hold:
    * pending from-events track their best (earliest) conversion seen so
    * far, and to-events are retained while tus > watermark (a later
    * from-event can still match them). A conversion is only FINAL when
    * the watermark passes its timestamp — an earlier qualifying to-event
    * can no longer arrive — and an abandonment when it passes the
    * deadline; emitting eagerly on first sight would disagree with the
    * batch operator whenever a cross-micro-batch out-of-order to-event
    * beats the one already seen (AbandonStreamSpec covers exactly that).
    * State is bounded per user by in-flight from-events × window plus
    * to-events within the watermark horizon — the textbook timeout-join
    * shape (cart abandonment, SLA breach detection). */
  def abandonmentStream(
      stream: DataFrame, // (ts TIMESTAMP, user_id, event_id, event_type)
      fromType: String = "view",
      toType: String = "purchase",
      windowUs: Long = 3600000000L,
      watermark: String = "10 minutes"): org.apache.spark.sql.Dataset[AbandonOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark("ts", watermark)
      // keep the watermarked ts attribute in the plan: event-time timeout
      // requires the watermark column to survive into the stateful op
      .select(col("ts"), col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("tus"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AbandonState, AbandonOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[AbandonState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption.getOrElse(AbandonState(Nil, Nil))
          var views = st.views
          var convs = st.convs
          if (!state.hasTimedOut) {
            for (e <- rows.toSeq.sortBy(e => (e.tus, e.event_id))) {
              if (e.event_type == fromType) {
                val best = convs.filter(c => e.tus < c && c <= e.tus + windowUs)
                views = Pending(e.event_id, e.tus,
                  if (best.isEmpty) None else Some(best.min)) :: views
              } else if (e.event_type == toType) {
                convs = e.tus :: convs
                views = views.map { v =>
                  if (v.tus < e.tus && e.tus <= v.tus + windowUs &&
                      v.bestConv.forall(e.tus < _))
                    v.copy(bestConv = Some(e.tus))
                  else v
                }
              }
            }
          }
          // finalize: a conversion is final once the watermark passes it
          // (nothing earlier can arrive); an abandonment once it passes
          // the deadline. Checked on data AND timeout invocations.
          val (done, live) = views.partition(v =>
            v.bestConv.exists(_ <= wmUs) || v.tus + windowUs < wmUs)
          val out = done.sortBy(v => (v.tus, v.event_id)).map { v =>
            val conv = v.bestConv.filter(_ <= wmUs)
            AbandonOut(uid, v.event_id, v.tus, conv, if (conv.isDefined) 0 else 1)
          }
          views = live
          convs = convs.filter(_ > wmUs) // only future from-events can match
          if (views.isEmpty && convs.isEmpty) state.remove()
          else {
            state.update(AbandonState(views, convs))
            // fire when the watermark passes the earliest finalization
            // point: a view's best conversion or its deadline; conv-only
            // state just waits for its own eviction horizon
            val deadlines = views.map(v => v.bestConv.getOrElse(v.tus + windowUs)) ++
              (if (views.isEmpty) convs else Nil)
            val next = deadlines.min / 1000L + 1L
            state.setTimeoutTimestamp(math.max(next, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Streaming HyperLogLog registers — the stream twin of
    * `Sketch.hllDistinct`'s build stage. `max(rho)` is a declarative
    * aggregate, so micro-batch partial merges are order-independent and
    * the maintained register file equals the batch registers
    * BIT-FOR-BIT whatever the arrival order (HllStreamSpec); read the
    * estimate off the sink with `Sketch.hllEstimate`.
    *
    * 100 TB design: state is ≤ groups × 2^b rows of (bucket, max-rho) in
    * the state store — CONSTANT in stream length; this is the textbook
    * case for sketches in streams (exact distinct state grows with the
    * key universe). */
  def hllStream(
      stream: DataFrame,
      keyCol: String,
      groupCol: String,
      b: Int = 8): DataFrame =
    graft.operators.Sketch.hllRegisters(stream, col(keyCol), Seq(groupCol), b)

  /** Streaming ANN serving against the PERSISTED IVF-PQ index
    * (`Similarity.writeIvfPqIndex` layout): each micro-batch of query
    * vectors runs the full indexed retrieval —
    * `Similarity.ivfPqTopKIndexed` — as a batch against the static,
    * partition-pruned code files, and `sink` receives the per-batch
    * top-k table. foreachBatch is the HONEST serving shape here: per-
    * query top-k is an aggregation + rank, which streaming-native
    * operators only allow under watermarked state the retrieval doesn't
    * need — a query batch is complete the moment it arrives, so batch
    * semantics per micro-batch is exactly right (and is how Spark's own
    * docs recommend joining streams against slowly-changing static
    * stores). The per-row stages (cell assignment, LUT build) remain
    * streaming-safe map work; state stays EMPTY — the index is on disk,
    * pruned per probe, and the micro-batch is the only in-flight data.
    * AnnServeStreamSpec pins stream output == batch output. */
  def annServe(
      queryStream: DataFrame,
      indexDir: String,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nProbe: Int = 2,
      rerankFactor: Int = 3)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = graft.operators.Similarity.ivfPqTopKIndexed(
          batch, indexDir, candidates, centroidVecs, codebooks,
          k, nProbe, rerankFactor)
        sink(out)
        // post-sink: file the batch's measured probe stats (files read
        // vs pruned, partitions, pending tombstones) for
        // [[ServeTelemetryListener]] observers — r12
        ServeTelemetry.record(out, indexDir, batchId)
      }
      .start()

  /** Streaming ingest dedup against the PERSISTED MinHash index
    * (`Dedup.writeMinhashIndex` layout — r11): each micro-batch of
    * incoming docs runs `Dedup.dedupAgainstMinhashIndex` as a batch
    * against the static banded-signature files, and `sink` receives the
    * batch rows with (keep, dup_of, n_ref_dups). The [[annServe]]
    * serving shape, on the dedup plane: a batch's dedup decision is
    * complete the moment it arrives (it compares against the REFERENCE,
    * not against other in-flight batches), state stays EMPTY, and an
    * `appendMinhashIndex` refresh between batches is picked up on the
    * next micro-batch with zero restart. To also dedup new batches
    * against EACH OTHER, have `sink` append each batch's survivors to
    * the index (the incremental-corpus loop) — or use [[dedupStream]]
    * for the watermarked exact-within-stream gate. */
  /** Streaming RANGE retrieval against the persisted IVF-PQ index
    * (r12 — the radius twin of [[annServe]], completing the serving
    * surface): each micro-batch of query vectors runs
    * `Similarity.ivfRangeSearchIndexed` as a batch — corpus assignment
    * from the stored rows, probed cells statically pruned, exact
    * rerank — and `sink` receives every (qid, cid, sim >= minSim) pair.
    * Same per-batch [[ServeTelemetry]] stats, same zero-restart pickup
    * of index maintenance between batches. */
  def annRangeServe(
      queryStream: DataFrame,
      indexDir: String,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      minSim: Double,
      nProbe: Int = 4)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = graft.operators.Similarity.ivfRangeSearchIndexed(
          batch, indexDir, candidates, centroidVecs, codebooks, minSim, nProbe)
        sink(out)
        ServeTelemetry.record(out, indexDir, batchId)
      }
      .start()

  /** Streaming ingest dedup against the PERSISTED image-fingerprint
    * index (`Multimodal.writeImageFpIndex` — r12): each micro-batch of
    * payloads decodes ONCE, probes the stored banded fingerprints, and
    * `sink` receives the batch rows with (keep, dup_of, n_ref_dups) —
    * the [[dedupServe]] serving shape on the multimodal plane, with the
    * same per-batch [[ServeTelemetry]] stats and the same zero-restart
    * pickup of appends/deletes/compactions/rebuilds between batches. */
  def imageDedupServe(
      docStream: DataFrame,
      indexDir: String,
      maxDist: Int = 4,
      idCol: String = "doc_id",
      binCol: String = "payload")(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mediaDedupServe(docStream, indexDir,
      graft.operators.Multimodal.dedupAgainstImageFpIndex(_, indexDir, maxDist, idCol, binCol))(sink)

  /** The audio twin of [[imageDedupServe]]
    * (`Multimodal.writeAudioFpIndex` layout). */
  def audioDedupServe(
      docStream: DataFrame,
      indexDir: String,
      maxDist: Int = 4,
      idCol: String = "doc_id",
      binCol: String = "payload")(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mediaDedupServe(docStream, indexDir,
      graft.operators.Multimodal.dedupAgainstAudioFpIndex(_, indexDir, maxDist, idCol, binCol))(sink)

  private def mediaDedupServe(
      docStream: DataFrame,
      indexDir: String,
      probe: DataFrame => DataFrame)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = probe(batch)
        sink(out)
        ServeTelemetry.record(out, indexDir, batchId)
      }
      .start()

  def dedupServe(
      docStream: DataFrame,
      indexDir: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleN: Int = 2,
      minMatches: Int = 4)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = graft.operators.Dedup.dedupAgainstMinhashIndex(
          batch, indexDir, textCol, idCol, numHashes, rowsPerBand, shingleN, minMatches)
        sink(out)
        ServeTelemetry.record(out, indexDir, batchId) // r12 observability
      }
      .start()

  /** Streaming INCREMENTAL CLUSTER MAINTENANCE (r13): each micro-batch's
    * near-dup pairs (from `pairsForBatch` — typically an index probe
    * plus intra-batch banding) merge into the PERSISTED label table at
    * `labelsDir` (`Dedup.writeClusterLabels` layout) via
    * `Dedup.mergeClusterLabels`: propagation over the batch-contracted
    * graph (r14 frontier-bounded form), a fresh generation, an atomic
    * manifest swap. The old
    * corpus's pairs are never regenerated, concurrent readers always
    * resolve a complete table, and `sink` receives the post-merge live
    * labels each batch. The batch IS the mutation, so this stream is the
    * label dir's SINGLE MUTATOR (the index planes' contract); empty pair
    * batches skip the generation write entirely (no churn).
    * `delta = true` (r14) is the per-micro-batch cadence shape: each
    * merge writes only the touched rows as a delta generation (parent
    * pointer; readers overlay the chain) and the chain auto-folds into
    * a full base every `maxChain` merges — O(touched) per batch instead
    * of a full O(corpus) label rewrite.
    * ClusterMaintainSpec pins streamed merges ≡ one-shot rebuild. */
  def clusterMaintain(
      docStream: DataFrame,
      labelsDir: String,
      delta: Boolean = false,
      maxChain: Int = 64)(
      pairsForBatch: DataFrame => DataFrame)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // materialize pairs ONCE: they feed both the emptiness probe and
        // the merge, and must not re-run the probe after the swap
        val pairs = pairsForBatch(batch).barrier()
        if (!pairs.isEmpty)
          graft.operators.Dedup.mergeClusterLabels(spark, labelsDir, pairs,
            delta = delta, maxChain = maxChain)
        // the merge fully consumed the eager checkpoint — reclaim its
        // reliable files NOW (r15 advice: the merge reap-scopes its own
        // internals, so with this the stream's per-batch reliable-root
        // growth is exactly zero; without it a long-running stream leaks
        // one checkpoint per micro-batch unless the ContextCleaner's
        // cleanCheckpoints was enabled at context start)
        graft.operators.Checkpoints.reapBarrier(pairs)
        sink(graft.operators.Dedup.readClusterLabels(spark, labelsDir))
      }
      .start()
}
