package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming re-expression of the reference's weekly
  * batch-incremental semantics (SURVEY §2.11 T1–T5).
  *
  * The reference simulates a stream with ordered weekly Airflow runs
  * (dag.py:63, 93–102); here the same semantics are a real stream:
  * file source → watermarked tumbling window → sink, with
  * mapGroupsWithState for the stateful retrain-trigger shape (T5).
  * `Trigger.AvailableNow` gives the reference's
  * process-everything-then-stop batch cadence on the same code path.
  */
object EventStream {

  /** Start a STATEFUL streaming query with a scoped state-partition
    * count: Spark pins the number of state-store partitions to
    * `spark.sql.shuffle.partitions` at the stream's FIRST batch (the
    * checkpoint records it forever), and every trigger then opens,
    * commits and snapshot-maintains one HDFS-backed store per
    * partition per stateful operator. That count is a DEPLOYMENT
    * decision — size it to state volume and ingest rate, not to the
    * driver's core count: a toy stream carrying kilobytes of state
    * across 32 partitions × 2 stateful operators × 4 triggers pays
    * 256 store commits of pure metadata (round-18 profile: ~1.3 s per
    * trigger of 65-task no-op stages). Default 8 locally;
    * SPARK_GRAFT_STREAM_STATE_PARTITIONS overrides for production
    * (set it to hundreds+ on a real cluster).
    *
    * The override covers `start` only: a streaming query runs on a
    * clone of the session taken when it starts, so the query keeps the
    * pinned count while the session's own value is restored as soon as
    * `start` returns, and batch queries on the session never see it.
    * The clone's batch-side shuffles do: a foreachBatch loop started
    * through here would run its batch jobs at the pinned count, so only
    * pure stateful streams start through it. */
  def withStatePartitions(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val target = sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
    spark.conf.set(key, target)
    try start finally spark.conf.set(key, prev)
  }

  /** T1/T3 — tumbling event-time window with a late-data watermark.
    * The reference has no late-data story (a week is complete or
    * skipped); the watermark is the principled generalization. */
  def tumblingCounts(events: DataFrame,
                     windowLen: String = "7 days",
                     watermark: String = "7 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class EventRow(user_id: Long, ts: Timestamp, value: Double)
  case class UserState(count: Long, total: Double)
  case class UserUpdate(user_id: Long, count: Long, total: Double, alert: Boolean)

  /** T5 — stateful per-key accumulator with a threshold trigger
    * (the retrain-decision shape: state + rule → signal), via
    * mapGroupsWithState. */
  def statefulUserTotals(events: Dataset[EventRow],
                         alertAt: Double = 100.0): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var c = prev.count; var t = prev.total
          rows.foreach { r => c += 1; t += r.value }
          state.update(UserState(c, t))
          UserUpdate(uid, c, t, t >= alertAt)
      }
  }

  /** Streaming drift monitor — the reference's retrain trigger
    * (macro-F1/PSI thresholding, dag_functions.py:61–99) as a real
    * stream: per event-time window, bucket the incoming score
    * distribution against fixed baseline decile `breaks`, compute PSI
    * against the baseline's `expected` bucket probabilities, and flag
    * windows whose PSI clears `threshold`. ONE streaming aggregation:
    * the per-bucket counts are conditional sums inside the window
    * group-by (chained streaming aggregations would be illegal), and
    * the PSI fold is a plain projection over the counts. The baseline
    * (breaks + expected) is driver-supplied — at scale it comes from
    * the training snapshot exactly like Psi.decileBreaks. */
  def psiDriftMonitor(scores: DataFrame, breaks: Seq[Double],
                      expected: Seq[Double], windowLen: String = "7 days",
                      watermark: String = "7 days",
                      threshold: Double = 0.2): DataFrame = {
    require(expected.length == breaks.length + 1,
      "expected must have one probability per bucket (breaks + 1)")
    // fold REVERSED so the smallest break is the outermost when —
    // score <= breaks(0) must win before any larger break matches
    val bucketOf = breaks.zipWithIndex.reverse.foldLeft(lit(breaks.length)) {
      case (acc, (b, i)) => when(col("score") <= b, i).otherwise(acc)
    }
    val counts = (0 to breaks.length).map(i =>
      sum(when(col("_bucket") === i, 1L).otherwise(0L)).as(s"c_$i"))
    val total = (0 to breaks.length).map(i => col(s"c_$i")).reduce(_ + _)
    // clamp EXACT ZEROS to 1e-4, like batch Psi (Psi.scala) — a rare but
    // nonempty bucket keeps its true proportion so the streaming monitor
    // and m8-style batch PSI agree on the same data
    val psi = (0 to breaks.length).map { i =>
      val raw = col(s"c_$i") / total.cast("double")
      val a = when(raw === 0.0, 1e-4).otherwise(raw)
      val e = lit(if (expected(i) == 0.0) 1e-4 else expected(i))
      (a - e) * log(a / e)
    }.reduce(_ + _)
    scores
      .withColumn("_bucket", bucketOf)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(counts.head, counts.tail: _*)
      .select(col("window.start").as("win_start"),
        total.as("n_scores"),
        round(psi, 6).as("psi"))
      .withColumn("retrain", col("psi") >= threshold)
  }

  /** Streaming exact dedup — the streaming twin of Dedup.exactDedup for
    * a continuously-arriving corpus: keep ONE document per content
    * fingerprint, elected DETERMINISTICALLY as the smallest `idCol`
    * among the fingerprint's rows in the first micro-batch that carries
    * it. A dropDuplicatesWithinWatermark here would keep whichever row
    * a task happened to see first — re-running the same batch could
    * publish a DIFFERENT surviving row, so at-least-once replays would
    * not converge. flatMapGroupsWithState (append mode) sees every row
    * of a fingerprint in the batch at once, elects min-id (order-free),
    * and keeps a seen-marker whose EventTimeTimeout expires at the
    * watermark horizon — the same bounded-state contract as
    * dropDuplicatesWithinWatermark (state never outlives
    * last-seen + watermark; duplicates separated by more than the
    * watermark are the batch layer's job — run d1 over the landed data,
    * the standard lambda split). `idCol` must be integral or string and
    * non-null (the election compares ids, not arrival order). */
  def streamingExactDedup(docs: DataFrame, tsCol: String, textCol: String,
                          idCol: String,
                          watermark: String = "1 hour"): DataFrame =
    streamingDedupByKey(docs, tsCol,
      graft.operators.TextAnalysis.fingerprint(col(textCol)), idCol, watermark)

  /** The generalized election: [[streamingExactDedup]] keyed on ANY
    * caller expression instead of the content fingerprint — the SFT
    * stream dedups on `prompt_fp` (one conversation per prompt), a CDC
    * stream might key on a business key. Same deterministic min-id
    * keeper, same bounded EventTimeTimeout state, bit-identical to
    * `streamingExactDedup` when `keyExpr` is the content fingerprint.
    * `keyExpr` is cast to string (the state key) and must be
    * non-null. */
  def streamingDedupByKey(docs: DataFrame, tsCol: String, keyExpr: org.apache.spark.sql.Column,
                          idCol: String,
                          watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val withFp = docs
      .withColumn("_fp", keyExpr.cast("string"))
      .withWatermark(tsCol, watermark)
    val schema = withFp.schema
    val fpIdx = schema.fieldIndex("_fp")
    val idIdx = schema.fieldIndex(idCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val numericId = schema(idIdx).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    // a beats b ⇔ a's id sorts strictly before b's — the only ordering
    // the election consults, so winner is independent of row arrival
    def beats(a: Row, b: Row): Boolean =
      if (numericId) a.getAs[Number](idIdx).longValue < b.getAs[Number](idIdx).longValue
      else String.valueOf(a.get(idIdx)) < String.valueOf(b.get(idIdx))
    withFp.as[Row](Encoders.row(schema))
      .groupByKey((r: Row) => r.getString(fpIdx))(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var winner: Row = null
            var maxTs = Long.MinValue
            rows.foreach { r =>
              val t = r.getAs[java.sql.Timestamp](tsIdx)
              if (t != null && t.getTime > maxTs) maxTs = t.getTime
              if (winner == null || beats(r, winner)) winner = r
            }
            val fresh = !state.exists
            state.update(true)
            // horizon = (this fp's newest event OR the current watermark,
            // whichever is later) + the watermark delay: always strictly
            // ahead of the watermark (setTimeoutTimestamp requires it),
            // and state for a fp that keeps re-arriving keeps sliding —
            // matching the within-watermark dedup contract
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()), watermark)
            if (fresh && winner != null) Iterator.single(winner)
            else Iterator.empty
          }
      }(Encoders.scalaBoolean, Encoders.row(schema))
      .drop("_fp")
  }

  /** Streaming corpus ingest — the llm_corpus_pipeline head as a real
    * stream: watermark → streaming exact dedup → map-side quality and
    * repetition gates → per-(event-time window, language) corpus
    * counters. Two stateful operators chained (the deterministic
    * flatMapGroupsWithState dedup, then the windowed aggregation —
    * legal in Spark 4's multi-stateful append pipelines because both
    * sides are watermarked); the filter stages are stateless
    * projections, so state is bounded by the watermark horizon at any
    * corpus rate.
    *
    * CALLER CONTRACT: start the query with
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`.
    * Spark's static checker flags ANY flatMapGroupsWithState upstream
    * of a stateful aggregation as "can emit late rows", because a
    * user function could emit arbitrary timestamps. This one cannot:
    * the election only ever emits a row OF THE CURRENT BATCH, carrying
    * its original event time — exactly what the checker-approved
    * dropDuplicatesWithinWatermark emits. The single behavioral
    * difference is where genuinely LATE INPUT dies: dDWW drops it at
    * the dedup, this pipeline lets the dedup emit it and the windowed
    * aggregation's own watermark drops it — the published counts are
    * identical either way, and in exchange the surviving-representative
    * election is deterministic under at-least-once replay (min-id, not
    * arrival order). */
  def streamingCorpusIngest(docs: DataFrame, tsCol: String, textCol: String,
                            idCol: String, langCol: String,
                            stopwords: Seq[String],
                            minQuality: Double = 0.4,
                            maxRepetition: Double = 0.5,
                            watermark: String = "1 hour",
                            windowLen: String = "1 hour"): DataFrame = {
    import graft.operators.TextAnalysis
    // score the CASE-FOLDED text: the dedup fingerprint is case-folded,
    // so any surviving representative of a duplicate set must gate the
    // same way — scoring the raw text would make window counts depend
    // on which case-variant arrived first. The watermark is re-declared
    // after the stateful dedup: flatMapGroupsWithState emits a fresh
    // schema without event-time metadata, and the downstream windowed
    // aggregation needs its own watermark column to close windows.
    streamingExactDedup(docs, tsCol, textCol, idCol, watermark)
      .withWatermark(tsCol, watermark)
      .withColumn("_q",
        TextAnalysis.qualityScore(lower(col(textCol)), stopwords))
      .withColumn("_rep",
        TextAnalysis.repetitionRatio(lower(col(textCol))))
      .filter(col("_q") >= minQuality && col("_rep") < maxRepetition)
      .groupBy(window(col(tsCol), windowLen), col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("tok_total"))
      .select(col("window.start").as("win_start"), col(langCol),
        col("n_docs"), col("tok_total"))
  }

  /** Streaming near-dup ingest against the at-rest store — the full
    * production loop as a stream: per micro-batch, (1) pair the batch
    * against the landed store (`incrementalNearDupFromStore` — the
    * corpus side is READ, never recomputed), (2) drop the batch docs
    * that near-dup something already landed, (3) append the SURVIVORS'
    * shingles and band keys so the next micro-batch dedups against
    * corpus ∪ survivors. foreachBatch is the right tool, not a stateful
    * operator: the dedup state IS the at-rest store (shared with the
    * batch layer, unbounded corpus), not a watermark-bounded state
    * store. Within-batch self-dups are `nearDupPairs` over the batch
    * alone — O(batch²) bounded by micro-batch size, never the corpus.
    * Returns a ready-to-start writer; survivors also land under
    * `keptDir` as the cleaned corpus, MANIFEST-COMMITTED
    * (`Sources.publishBatch` keyed by the stable batchId → exactly-once
    * delivery; read with `Sources.readPublished`). */
  def streamingNearDupIngest(docs: DataFrame, storeDir: String,
                             keptDir: String, idCol: String, textCol: String,
                             threshold: Double = 0.8,
                             compactStoreEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Dedup
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val sc = spark.sparkContext
        // every job carries its step's label, so the event log and any
        // listener group a trigger's jobs by step; the stream's own
        // description comes back when the trigger ends
        val streamDescription = sc.getLocalProperty("spark.job.description")
        def step(name: String): Unit =
          sc.setJobDescription(s"near-dup ingest batch $batchId: $name")
        try {
          step("fold")
          // in-loop store maintenance, BEFORE this trigger touches the
          // store: fold generations ≤ batchId — those came from
          // triggers that have committed (trigger N starting means
          // N−1's checkpoint committed), so no replay can ever
          // re-append a folded generation and duplicate its shingle
          // rows. This trigger's own generation (batchId + 1, possibly
          // half-landed by a crashed prior attempt) stays unfolded by
          // the bound. Best-effort like the exact loop's slot: a
          // maintenance failure must not fail a data trigger.
          if (compactStoreEvery > 0 && batchId > 0 &&
              batchId % compactStoreEvery == 0)
            try Dedup.compactNearDupStore(spark, storeDir,
              maxBatchId = batchId)
            catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(
                  s"[graft] near-dup store compaction of $storeDir " +
                    s"failed (batch $batchId, retried at the next " +
                    s"qualifying trigger): ${e.getMessage}")
            }
          // only blocks THIS batch persists are released at the end, so
          // a co-resident batch job's persists survive
          val preexisting = sc.getPersistentRDDs.keySet
          // the store is opened once per trigger, AFTER the maintenance
          // slot (which finishes a crashed swap) and before any store
          // file is read. The meta pins the shingle geometry, and the
          // WITHIN-batch judgment uses the same parameters as the
          // vs-store one, or two docs' dup verdict would depend on
          // whether they arrived in one micro-batch or two.
          val meta = Dedup.openNearDupStore(spark, storeDir)
          step("sign")
          // ONE tokenize → gram → hash pass and ONE minhash
          // aggregation per trigger, shared by the probe and the
          // survivor append. hB reads the raw batch only and sigB is
          // frozen, so neither can be recomputed against the store.
          val hB = Dedup.hashedShinglesFor(batch, idCol, textCol,
              meta("shingleSize").toInt)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // ONE action freezes on the driver the batch's signatures and
          // ALL its ids (a doc too short to shingle has no signature):
          // the ids gate the empty batch and bound the drop set. A local
          // sigB has its exact size, so the band-key join broadcasts it,
          // never the store's band keys. A signature row has a non-null
          // mh_0 (a min over at least one shingle); an id row has none
          val sigs = Dedup.signaturesFor(hB, meta)
          val (sigRows, idRows) = sigs
            .unionByName(batch.select(col(idCol).as("id")),
              allowMissingColumns = true)
            .collect().partition(r => !r.isNullAt(r.fieldIndex("mh_0")))
          val batchIds = idRows.map(_.get(0))
          if (batchIds.nonEmpty) {
            val sigB = spark.createDataFrame(
              java.util.Arrays.asList(sigRows: _*), sigs.schema)
            // replay guard — a manifest entry for this batch means a prior
            // attempt fully published it. Re-probing is WRONG there: the
            // store may already hold the batch's own shingles (crash
            // between the store append and the checkpoint commit), so
            // every doc near-dups ITSELF and the append would erase the
            // batch's fingerprints. The as-published batch IS the kept set.
            val alreadyPublished = graft.sources.Sources
              .publishedBatches(spark, keptDir).contains(batchId + 1)
            step("probe")
            // the drop set is FROZEN before the first write: the publish and
            // the append slice by it, so no write can recompute the probe
            val dropIds: Set[Any] =
              if (alreadyPublished)
                batchIds.toSet -- graft.sources.Sources
                  .readPublishedBatch(spark, keptDir, batchId + 1)
                  .select(idCol).collect().map(_.get(0))
              else {
                // vs the landed corpus, and within the batch (keep the
                // smallest id of each near-dup pair): one action
                val candidates = Dedup.nearDupStoreCandidates(sigB,
                  storeDir, meta)
                val vsStore = Dedup.jaccardVsStore(hB, candidates,
                  storeDir, threshold)
                val selfPairs = Dedup.nearDupPairsHashed(hB,
                  batchIds.length, threshold = threshold,
                  numHashes = meta("numHashes").toInt)
                try vsStore.select(col("id_a").as("id"))
                  .unionByName(selfPairs.select(col("id_b").as("id")))
                  .collect().map(_.get(0)).toSet
                finally candidates.unpersist(blocking = false)
              }
            // the slices test ids against the frozen drop set by
            // reference: the set rides the task closure, not the code, so
            // the generated classes are the same every trigger (an `isin`
            // inlines each id into a new predicate class)
            val notDropped = udf(new org.apache.spark.sql.api.java.UDF1[Any, Boolean] {
              def call(id: Any): Boolean = !dropIds(id)
            }, org.apache.spark.sql.types.BooleanType)
            def kept(id: String) = notDropped(col(id))
            step("publish")
            // manifest-committed under the stable batchId: a replay
            // overwrites its own data dir, so delivery is exactly-once
            if (!alreadyPublished)
              graft.sources.Sources.publishBatch(batch.filter(kept(idCol)),
                keptDir, batchId + 1)
            step("append")
            // the SURVIVORS' shingles and band keys land as store
            // generation batchId + 1 (batch=0 is the base install), so a
            // replay overwrites the same directory
            Dedup.appendToNearDupStoreSigs(
              hB.select("id", "hs").filter(kept("id")), sigB.filter(kept("id")),
              storeDir, batchId + 1, meta)
          }
          hB.unpersist(blocking = false)
          sc.getPersistentRDDs.foreach { case (rddId, rdd) =>
            if (!preexisting.contains(rddId)) rdd.unpersist(blocking = false)
          }
        } finally sc.setJobDescription(streamDescription)
    }
  }

  /** Exact-dedup twin of [[streamingNearDupIngest]], riding the Bloom-
    * sidecar fp store: per micro-batch (1) `incrementalExactDedupFromFpStore`
    * — negative Bloom probes never touch the store table, so a mostly-
    * novel stream costs O(batch) map work per batch — (2) keep the
    * surviving (smallest-id-per-fp, fp-unseen) docs, (3) land survivors
    * under `keptDir` and fold their fps into the store (bloom-first
    * ordering; see `appendToFpStore`). Within-batch dups are already
    * resolved by the store path's (fp → min id) aggregation — no
    * separate self-join pass is needed, which is the structural
    * advantage of exact over near dedup here. Replay posture: the STORE
    * converges under at-least-once (re-appended fp rows are anti-join-
    * invisible, the bloom re-merge is idempotent), and the keptDir sink
    * is MANIFEST-COMMITTED (`Sources.publishBatch`, keyed by the stable
    * batchId) — a replayed batch overwrites its own data dir and
    * re-commits the same manifest entry, so the cleaned corpus is
    * delivered exactly-once; read it with `Sources.readPublished`.
    *
    * `compactEvery` > 0 turns on IN-LOOP maintenance: every that-many
    * batches, the published corpus is compacted
    * (`Sources.compactPublished` — one new batch in the maintenance id
    * range, one manifest flip) and orphans GC'd
    * (`Sources.vacuumPublished`). The foreachBatch body is the ONE
    * place this is always safe: the stream is the table's single
    * writer, so maintenance-between-batches needs no external
    * coordination — exactly the small-file answer a micro-batch sink
    * otherwise punts to an external OPTIMIZE job. A maintenance
    * failure is logged and SWALLOWED (retried at the next qualifying
    * trigger): maintenance is a multi-job, fallible rewrite sitting
    * after the fp append, and letting it fail the trigger would force
    * a replay of a batch whose fps are already in the store.
    *
    * Replay guard: a replayed batch whose manifest entry ALREADY
    * exists skips the publish. Without the guard, a replay after the
    * fp append (crash before the checkpoint commit) would recompute
    * survivors as EMPTY — the fps are in the store — and overwrite the
    * published batch dir with an empty frame while the manifest still
    * lists it, silently losing the batch's rows. With it, every crash
    * point converges: before the publish → clean republish; between
    * publish and fp append → publish skipped (data identical), fps
    * re-derived and appended; after the fp append → publish skipped,
    * fp re-append is a no-op (survivors empty). */
  def streamingExactDedupIngest(docs: DataFrame, storeDir: String,
                                keptDir: String, idCol: String,
                                textCol: String,
                                compactEvery: Int = 0,
                                targetFileBytes: Long = 128L << 20)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Dedup
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val preexisting = spark.sparkContext.getPersistentRDDs.keySet
          // eager snapshot: survivors feed THREE consumers (the kept
          // semi-join, the append's filter build, the fps append) — an
          // unfrozen plan would re-run the store anti join per consumer,
          // and the last re-run would re-read $storeDir/fps WHILE
          // appending to it
          val survivors = Dedup.incrementalExactDedupFromFpStore(
            batch, storeDir, idCol, textCol).localCheckpoint()
          // replay guard — a manifest entry for this batch means a prior
          // attempt fully published it (publish commits the manifest
          // LAST); republishing from recomputed survivors would be wrong
          // on the post-fp-append replay path (survivors = empty)
          val alreadyPublished = graft.sources.Sources
            .publishedBatches(spark, keptDir).contains(batchId + 1)
          if (!alreadyPublished) {
            val kept = batch.join(
                survivors.select(col("id").as(idCol)), Seq(idCol), "left_semi")
              .persist() // feeds the corpus sink AND the store append
            graft.sources.Sources.publishBatch(kept, keptDir, batchId + 1)
            kept.unpersist()
          }
          // batchId + 1 keeps the store's batch-0-is-the-install
          // convention (the same shift publishBatch uses); replays of
          // this trigger overwrite their own generation + sidecar.
          // No distinct: survivors carry ONE row per fp by construction
          // (the probe's fp → min-id aggregation resolves within-batch
          // dups) — the old .distinct() paid an exchange+agg THREE
          // times per trigger, because the isEmpty guard, the bloom
          // build and the parquet write each evaluate this frame.
          Dedup.appendToFpStore(
            survivors.select("fp"), storeDir, batchId + 1)
          // maintenance LAST and best-effort: a throw here (transient FS
          // error, compactPublished's own require) is logged and
          // swallowed — the batch's fps are already in the store, so
          // failing the trigger would replay a batch the store has
          // absorbed (the guard above makes even that safe, but a stream
          // stuck re-failing on maintenance serves no one; the next
          // qualifying trigger retries it)
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            try {
              graft.sources.Sources.compactPublished(spark, keptDir,
                targetFileBytes)
              graft.sources.Sources.vacuumPublished(spark, keptDir)
              // fold the store's committed generations (≤ batchId —
              // this trigger's own gen batchId+1 may still replay) and
              // its per-batch bloom sidecars — safe HERE because the
              // stream is the store's single writer
              Dedup.compactFpStore(spark, storeDir, maxBatchId = batchId)
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(
                  s"[graft] in-loop maintenance of $keptDir failed " +
                    s"(batch $batchId, retried next trigger): ${e.getMessage}")
            }
          // release only what THIS batch created (localCheckpoint blocks
          // from the store path included) — a long-running stream must
          // not accumulate one block set per micro-batch
          spark.sparkContext.getPersistentRDDs.foreach { case (rddId, rdd) =>
            if (!preexisting.contains(rddId)) rdd.unpersist(blocking = false)
          }
        }
    }
  }

  /** Streaming PERCEPTUAL dedup ingest — [[streamingExactDedupIngest]]
    * with the modality's perceptual fingerprint as the fingerprint: each
    * micro-batch of (media_id, bytes) rows fingerprints map-side
    * ([[graft.operators.Multimodal.fingerprints]] through the modality
    * table — payload carried, never on an exchange until the kept
    * publish), keeps the first carrier of each previously-unseen
    * fingerprint, publishes the kept rows manifest-committed, and
    * appends the new fingerprints to the Bloom-fronted store. A
    * brightness-shifted re-export of a landed image, a ×2-gain remaster
    * of a landed clip or a re-graded video drops even though its bytes
    * match nothing — the byte-exact loop (d23's) would re-admit every
    * one. Undecodable payloads DROP here (no perceptual identity ⇒ no
    * dedup claim); a production loop routes them to a quarantine sink
    * instead. Replay posture, manifest guard and maintenance hooks are
    * inherited verbatim. */
  def streamingPerceptualDedupIngest(media: DataFrame,
                                     m: graft.operators.Multimodal.Modality,
                                     storeDir: String, keptDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    streamingExactDedupIngest(graft.operators.Multimodal.fpStoreRows(media, m),
      storeDir, keptDir, "media_id", "_dh")

  /** Streaming per-source boilerplate removal — the d19 operator's
    * ingest twin, closing the last batch-only member of the rewrite
    * family: per micro-batch, (1) fold the batch's per-(source, gram)
    * document frequencies into the at-rest boilerplate store
    * (`Dedup.appendToBoilerplateStore`, batch-keyed overwrite), then
    * (2) rewrite the batch against the ACCUMULATED counts
    * (`removeBoilerplateFromStore` — so chrome repeated across batches
    * is caught even when no single batch carries it `minDocs` times)
    * and (3) publish the cleaned docs manifest-committed.
    *
    * Append-before-rewrite makes the batch's own docs count toward the
    * election, matching the batch operator's semantics batch-locally; a
    * fresh store + one batch is bit-identical to `removeBoilerplate`.
    * Replay posture is the simplest of the ingest loops — fully
    * idempotent with NO guard needed: nothing here depends on
    * store-minus-this-batch (the dedup loops' hazard), so a replayed
    * batch overwrites its own counts subdir, re-derives the same
    * election, and republishes the same rows. Single-pass semantics:
    * already-published docs keep grams that cross the threshold later
    * (retroactive cleanup = the batch operator over the published
    * corpus). */
  def streamingBoilerplateIngest(docs: DataFrame, storeDir: String,
                                 keptDir: String, idCol: String,
                                 textCol: String, groupCol: String,
                                 minDocs: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Dedup
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Dedup.appendToBoilerplateStore(batch, storeDir, idCol, textCol,
            groupCol, batchId + 1)
          val cleaned = Dedup.removeBoilerplateFromStore(batch, storeDir,
            idCol, textCol, groupCol, minDocs)
          graft.sources.Sources.publishBatch(cleaned, keptDir, batchId + 1)
        }
    }
  }

  /** Streaming DECONTAMINATION ingest — the sixth ingest loop, and the
    * one a real pretraining crawl runs FIRST: every micro-batch is
    * flagged against the published eval-gram Bloom store
    * ([[graft.operators.Dedup.writeEvalGramStore]] — the frozen
    * benchmark suite as ~1.8 bytes/gram of sidecar bits plus exact
    * parquet keys), every token span matching an eval n-gram is
    * REWRITTEN OUT ([[graft.operators.Dedup.decontaminateRewriteFromStore]]
    * — map-side Bloom probe, exact verify join for the suspect sliver,
    * merged-interval removal), and the cleaned docs land
    * manifest-committed under `keptDir`. `minKeptFrac` > 0 adds the
    * DROP arm: docs left with fewer than that fraction of their tokens
    * are eval material wearing a thin wrapper and are dropped whole
    * rather than published as stubs.
    *
    * Replay posture is the simplest of the six loops — fully
    * idempotent with NO guard needed: the eval store is READ-ONLY to
    * this loop (decontamination state is the eval suite, which a crawl
    * never grows), so a replayed batch recomputes exactly the same
    * cleaned rows and `Sources.publishBatch` (batch-keyed data-dir
    * overwrite + same manifest entry) re-delivers them exactly-once.
    * Streamed ≡ batch is EventStreamSpec's pinned contract: a two-batch
    * replayed run must equal `decontaminateRewrite` over the union. */
  def streamingDecontamIngest(docs: DataFrame, evalStoreDir: String,
                              keptDir: String, idCol: String,
                              textCol: String,
                              minKeptFrac: Double = 0.0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Dedup
    // the store is READ-ONLY to this loop: load its geometry and Bloom
    // filter ONCE here and close over them — per-batch reloads would
    // pay a driver read + executor re-broadcast of the filter bytes on
    // every micro-batch for bits that never change
    val spark = docs.sparkSession
    val n = Dedup.openEvalGramStore(spark, evalStoreDir)("n").toInt
    val mightContain =
      graft.operators.BloomLanes.probe(spark, evalStoreDir, lanes = 1)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // the store is compactable (compactEvalGramStore) by ITS
          // writer lineage, which this reader loop is not — a crashed
          // swap mid-fold would let the per-batch grams read see a
          // half-old/half-new table and publish contaminated spans as
          // clean, silently; fail the trigger loudly instead (the
          // probe/append entry points carry the same guard)
          graft.operators.StoreMaintenance
            .requireNoCrashedCompaction(spark, evalStoreDir)
          val cleaned = Dedup.decontaminateRewriteLoaded(
            batch, evalStoreDir, n, mightContain, idCol, textCol)
          val kept =
            if (minKeptFrac <= 0.0) cleaned
            else cleaned.filter(
              col("n_kept") >= col("n_toks") * minKeptFrac)
          graft.sources.Sources.publishBatch(kept, keptDir, batchId + 1)
        }
    }
  }

  /** Streaming LM-SCORE ingest — the seventh loop, CCNet as a stream:
    * every micro-batch of crawl docs is scored under the FROZEN
    * target-domain bigram LM at rest
    * ([[graft.operators.TextAnalysis.writeBigramLmStore]] — capped
    * count tables + exact stored denominator), docs below
    * `minAvgLogProb` are dropped ("unlike the target"), and the
    * scored survivors land manifest-committed. Per-batch absolute
    * thresholding is the streaming-sane policy — the batch cannot see
    * the global score distribution the t25 thirds cut (pick the
    * threshold from a profiled reference slice).
    *
    * The model tables are loaded ONCE outside the loop and persisted
    * (broadcast-sized by the cap contract) — the
    * streamingDecontamIngest convention: read-only state is hoisted,
    * never re-read per batch. Replay posture: the store is read-only
    * to this loop and scoring is per-doc pure, so a replayed batch
    * recomputes identical rows and the batch-keyed publish
    * re-delivers exactly-once — fully idempotent, no guard. */
  def streamingLmScoreIngest(docs: DataFrame, lmStoreDir: String,
                             outDir: String, idCol: String,
                             textCol: String,
                             minAvgLogProb: Double = Double.NegativeInfinity)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.TextAnalysis
    val spark = docs.sparkSession
    val denom = TextAnalysis.openBigramLmStore(spark, lmStoreDir)("denom")
      .toDouble
    // localCheckpoint, not persist: eager (materialized before the
    // first batch), and the blocks are released by the ContextCleaner
    // once the writer/query is dropped — a persist here had no
    // unpersist point, so every started-then-stopped stream would pin
    // two cached tables for the session lifetime (the dsirSelect
    // lesson, applied to streaming closures)
    val uni = spark.read.parquet(s"$lmStoreDir/uni").localCheckpoint()
    val bc = spark.read.parquet(s"$lmStoreDir/bigrams").localCheckpoint()
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val scored = TextAnalysis.scoreBatchAgainstLm(
            batch, uni, bc, denom, idCol, textCol)
          val kept =
            if (minAvgLogProb == Double.NegativeInfinity) scored
            else scored.filter(col("avg_logp").isNotNull &&
              col("avg_logp") >= minAvgLogProb)
          graft.sources.Sources.publishBatch(kept, outDir, batchId + 1)
        }
    }
  }

  /** Streaming ANN-index ingest: each micro-batch of embedding rows is
    * assigned to its nearest existing centroid and landed in the
    * at-rest IVF index (`Similarity.appendToIvfIndex`). The index never
    * re-clusters in-stream — the quantizer is the base install's; this
    * loop is pure O(batch × nCells) assignment + one cell-partitioned
    * write per batch. Replay posture is the strongest of the three
    * ingest loops: the append is batch-keyed idempotent overwrite
    * (batchId + 1, batch=0 is the base install), so at-least-once
    * replays converge bit-for-bit with no sink-side caveat. Centroid
    * drift under sustained growth is the documented rebuild trigger
    * (see appendToIvfIndex). */
  def streamingIvfIngest(vectors: DataFrame, indexDir: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Similarity
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          Similarity.appendToIvfIndex(batch, indexDir, batchId + 1,
            idCol, vecCol)
    }
  }

  /** Streaming PQ-index ingest — the fourth ingest loop, the IVF
    * loop's convention applied to the compressed-codes store: each
    * micro-batch encodes against the index's STORED codebooks
    * (parameters travel with the store, never the caller) and lands
    * under `codes/batch=<id>` as a batch-keyed idempotent overwrite
    * (batchId + 1; batch=0 is the base `writePqIndex` install), so
    * at-least-once replays converge bit-for-bit. Codes never drift
    * against fixed codebooks; codebook FIT drift under sustained
    * growth is the documented rebuild trigger (see appendToPqIndex). */
  def streamingPqIngest(vectors: DataFrame, indexDir: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Similarity
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          Similarity.appendToPqIndex(batch, indexDir, batchId + 1,
            idCol, vecCol)
    }
  }

  /** Streaming index MAINTENANCE — the eighth loop: a CDC-shaped
    * stream of document mutations keeps the at-rest IVF index serving
    * exactly the current corpus, the streaming twin of
    * [[graft.operators.Similarity.incrementalReembedIvf]] (which
    * diffs two snapshots; this loop consumes the diff as it happens).
    * Each micro-batch carries (id, text, op) rows, op ∈ {upsert,
    * delete}. EVERY mutated id is tombstoned under the batch's id
    * (against a brand-new id the tombstone anti-joins nothing —
    * harmless, and it keeps the loop one-pass with no lookup of prior
    * state), then upserts are embedded (`embed` must be per-doc pure,
    * the m16 contract) and appended under the SAME batch id — the
    * strictly-greater tombstone rule kills the stale vector while the
    * fresh one survives, and a later delete kills an earlier upsert
    * because its batch is greater. CONTRACT: at most one mutation per
    * id per micro-batch — two same-batch mutations of one id would
    * race rows the tombstone rule cannot order. Either compact
    * upstream, or pass `seqCol` (a per-id mutation sequence — a CDC
    * LSN, a source offset, an event time) and the loop compacts each
    * micro-batch itself: the HIGHEST-seq mutation per id wins, ties
    * broken toward delete (the conservative read of an ambiguous
    * feed — a dropped doc can be re-upserted, a served stale one
    * cannot be unserved). The compaction window partitions on the id,
    * bounded by one id's mutation count within ONE micro-batch —
    * never corpus-shaped.
    * Replay posture: both halves are batch-keyed idempotent
    * overwrites (batchId + 1; batch=0 is the base install), so
    * at-least-once replays converge bit-for-bit — fully idempotent,
    * no guard needed. */
  def streamingIndexMaintenance(mutations: DataFrame, indexDir: String,
                                embed: DataFrame => DataFrame,
                                idCol: String, textCol: String,
                                opCol: String = "op",
                                seqCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Similarity
    mutations.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val compacted = seqCol.fold(batch) { sc =>
            // tiebreak chain: highest seq wins; equal seqs break toward
            // delete ("delete" < "upsert"); equal (seq, op) — an
            // out-of-contract feed replaying one mutation with two
            // payloads — breaks on the payload itself, so an
            // at-least-once replay elects the SAME winner instead of
            // whichever row a task saw first (the bit-for-bit
            // convergence claim must hold even for sloppy inputs)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(idCol)
              .orderBy(col(sc).desc, col(opCol).asc, col(textCol).asc)
            batch.withColumn("_mrk", row_number().over(w))
              .filter(col("_mrk") === 1).drop("_mrk")
          }
          // two consumers of one small mutation batch
          val b = compacted.localCheckpoint()
          // tombstones (tombstones/batch=N) and fresh vectors
          // (cells/batch=N) are INDEPENDENT batch-keyed overwrites into
          // distinct dirs, and the strictly-greater tombstone rule makes
          // their relative landing order irrelevant (an append's own
          // cells land at batch N and survive the same-batch tombstone
          // either way; every crash interleaving converges by replay
          // overwrite) — overlap them (guide §2.6)
          graft.core.Par.run(
            () => Similarity.removeFromIvfIndex(
              b.select(col(idCol)), indexDir, batchId + 1, idCol),
            () => {
              val ups = b.filter(col(opCol) === "upsert")
                .select(idCol, textCol)
              if (!ups.isEmpty)
                Similarity.appendToIvfIndex(embed(ups), indexDir,
                  batchId + 1, idCol)
            })
        }
    }
  }

  /** Ordered weekly incremental driver (T2): the batch twin of the
    * stream — processes week partitions strictly in order, exactly once,
    * recording progress in a ledger the way the reference's
    * ExternalTaskSensor + depends_on_past does. */
  def runWeeklyOrdered(weeks: Seq[String], ledger: scala.collection.mutable.Set[String])
                      (process: String => Unit): Seq[String] = {
    val done = scala.collection.mutable.ListBuffer[String]()
    weeks.sorted.foreach { w =>
      if (!ledger.contains(w)) { process(w); ledger += w; done += w }
    }
    done.toList
  }
}
