package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table.
  *
  * The reference has no streaming (SURVEY §2.9) — its incrementality
  * is a monthly Airflow schedule over append-mode partitioned sinks.
  * This module is the additive Spark-native expression of the same
  * axis: the fact-build becomes a continuous query with watermarked
  * event-time windows, and late data is handled by the watermark
  * instead of blind re-append.
  *
  * At scale: windowed aggregation state is partitioned by group key
  * across executors (RocksDB-backed state store in production), and
  * the parquet source lists only new files per micro-batch — the same
  * monthly-file cadence the reference crawls, minus the re-run
  * duplication risk.
  */
object EventStreams {

  /** Schema of the events parquet as the streaming source sees it
    * when the file carries TIMESTAMP(NANOS) (read as long under
    * `nanosAsLong`; normalized in [[fromParquetDir]]). Generations of
    * the table that write TIMESTAMP(MICROS) read as a plain
    * timestamp instead — [[fromParquetDir]] sniffs the file. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of a documents parquet directory — the
    * ingest-side curation source (file streams need a pinned
    * schema; inference is batch-only). */
  def docsFromParquetDir(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
      .parquet(path)

  /** Streaming read of an events parquet directory.
    *
    * File streams need a pinned schema, and the events table has
    * shipped with `ts` as both TIMESTAMP(NANOS) (reads as a long
    * under `nanosAsLong` → needs the /1000 repair) and
    * TIMESTAMP(MICROS) (reads as a native timestamp — the repair
    * would collapse every value toward the epoch). Sniff the actual
    * file type with a batch schema read once, then pin the matching
    * stream schema — the same both-generations tolerance
    * `Tables.events` applies on the batch side. */
  def fromParquetDir(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // sniff failures must NOT silently pin the NANOS schema: an empty
    // source directory at stream start (common for file streams) would
    // lock MICROS files arriving later onto a LongType read. Default
    // only when the path genuinely has no parquet yet (documented
    // NANOS-generation assumption); anything else — missing `ts`,
    // unreadable files — is a real error and rethrows. (r7 advisor)
    val nanosAsLong =
      try spark.read.parquet(path).schema("ts").dataType == LongType
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null
              && e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          true // empty dir: no files to sniff — assume the NANOS repair
      }
    if (nanosAsLong)
      spark.readStream
        .schema(rawSchema)
        .parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      spark.readStream
        .schema(StructType(rawSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
        .parquet(path)
  }

  /** Watermarked sliding-window counts per event type — the
    * continuous analog of the reference's hourly bucketing (J2). */
  def hourlyTypeCounts(events: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Watermarked streaming sessionization — the STATEFUL-MERGING
    * window class (distinct from the fixed hourly buckets above):
    * `session_window` keeps one open session per (user, run) in the
    * state store, merges events landing within `gap` of the
    * session's current end, and emits a session exactly when the
    * watermark passes its end (last event + gap) — so state is
    * bounded by the active-session population, never stream length,
    * and the emitted table equals the batch sessionization of the
    * closed prefix (the x27 replay restricted to sessions whose
    * end + gap ≤ final watermark — that's what makes it
    * oracle-checkable). */
  def sessionizedStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Stream-stream join: every event enriched with the same user's
    * purchases from the trailing hour — the two-sided stateful join
    * class (distinct from stream-static enrichment): BOTH sides
    * buffer state, and the watermark + time-range condition together
    * bound it (rows older than watermark + range are evicted), so
    * state stays proportional to the active window no matter how
    * long the stream runs. */
  def eventsWithRecentPurchases(events: DataFrame,
      range: String = "1 hour", watermark: String = "30 minutes"): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    events
      .withWatermark("ts", watermark)
      .join(purchases, expr(
        s"user_id = p_user AND p_ts <= ts AND p_ts >= ts - interval $range"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("p_ts"), col("p_value"))
  }

  /** Stream-static enrichment: the streaming fact joined to a STATIC
    * dimension table — the stateless join class that completes the
    * streaming join matrix next to [[eventsWithRecentPurchases]]'s
    * two-sided stateful join. No watermark, no state store: the
    * static side behaves like a broadcast lookup evaluated per
    * micro-batch, so an updated dimension snapshot is picked up on
    * the NEXT batch (re-read per batch by the file source) without
    * restarting the query — the standard "enrich clicks with the
    * user dimension" deployment. A left join keeps facts whose
    * dimension row hasn't arrived yet (late dimension inserts are a
    * data fact, not a drop reason). */
  def enrichWithDimension(events: DataFrame, dim: DataFrame,
      eventKeyCol: String, dimKeyCol: String): DataFrame = {
    require(events.isStreaming, "events must be a streaming DataFrame")
    require(!dim.isStreaming, "dim must be a static DataFrame")
    // dataset-qualified key refs: when fact and dimension share the
    // key's NAME (user_id = user_id, the common case) a bare col() is
    // ambiguous once the join combines the inputs and analysis fails
    events.join(dim, events(eventKeyCol) === dim(dimKeyCol), "left")
  }

  /** Streaming exact dedup: drop rows whose key was already seen,
    * with state bounded by the watermark — the streaming form of
    * [[graft.ops.Dedup.exact]] for a continuously-ingesting corpus
    * (re-crawled pages, replayed files). Key by a content digest
    * (`md5(text)`) for content dedup or by the event id for replay
    * protection; state per key is evicted once the watermark passes
    * it, so the store holds one entry per distinct key per watermark
    * horizon — bounded no matter how long the stream runs. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class UserActivity(
      user_id: Long, n_events: Long, total_value: Double, last_seen_epoch: Long)

  /** Per-user running activity via mapGroupsWithState — the custom-
    * state path (KeyValueGroupedDataset) for logic windows can't
    * express. State per user: event count, value sum, last-seen. */
  def userActivity(events: DataFrame): Dataset[UserActivity] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"), unix_seconds(col("ts")).as("epoch"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserActivity, UserActivity](
        GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[UserActivity]) =>
          val prev = state.getOption.getOrElse(UserActivity(userId, 0L, 0.0, 0L))
          var n = prev.n_events
          var total = prev.total_value
          var last = prev.last_seen_epoch
          rows.foreach { case (_, value, epoch) =>
            n += 1; total += value; if (epoch > last) last = epoch
          }
          val next = UserActivity(userId, n, math.round(total * 100.0) / 100.0, last)
          state.update(next)
          next
      }
  }

  /** Run a streaming query into a partitioned parquet FILE sink with
    * a checkpoint — the production shape of the reference's
    * append-mode monthly loads (spark_elt_emr.py:82-83), done with
    * recovery semantics the reference lacked: the checkpoint's
    * source log remembers which input files each batch consumed and
    * the sink's manifest records committed output, so re-running
    * after a stop (or crash) processes ONLY new files and never
    * duplicates rows — where the reference's blind re-append
    * duplicated the whole month. `Trigger.AvailableNow` drains
    * everything currently available and stops, the
    * scheduled-incremental cadence (Airflow monthly in the
    * reference) expressed as a restartable stream. */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val writer = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val q = (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
             else writer).start()
    q.awaitTermination()
  }

  /** Stream-static ADMISSION: run the x209 intake gate as a
    * structured stream — each micro-batch probes the persisted digest
    * ledger ([[graft.ops.Dedup.incrementalExactDuplicates]] against
    * the store loaded FRESH per batch, the [[enrichWithDimension]]
    * stream-static class where the static side is re-listed per
    * batch), anti-joins the flagged ids off, APPENDS the admitted
    * survivors' digests into the ledger
    * ([[graft.ops.Dedup.appendToDigestStore]] — r18, the maintenance
    * path), and lands one (doc_id, status, dup_id) row per intake doc
    * under `outDir`. Duplicates carry `dup_id = min` over their
    * flag rows — the batching-invariant reduction: a later copy of an
    * admitted doc flags `corpus` through the APPENDED entry whose
    * keeper equals the batch-mode min-id keeper, so as long as
    * micro-batches arrive in id order the output is independent of
    * how the intake splits into batches (EventStreamsSpec pins the
    * 3-micro-batch stream ≡ the batch pipeline row-for-row, and that
    * a replayed intake against the grown ledger admits nothing).
    *
    * This is `foreachBatch`, not a plan transform: the probe needs a
    * per-batch localCheckpoint and the append is a side-effecting
    * write — neither exists in a continuous plan. Failure semantics
    * are the standard foreachBatch at-least-once, made FULLY
    * IDEMPOTENT up to duplicate output rows (r18 advice — the medium
    * item, closed in two parts): (1) the OUTPUT commits before the
    * ledger append, so a replay in the window between them re-probes
    * the identical un-appended ledger and re-emits identical rows;
    * (2) SELF-rows (batch_id == dup_id) are filtered from the flag
    * set — admission intake ids are new by contract, so a self-row
    * can only be the batch's OWN append seen by a replay that failed
    * after the append committed; with the filter that replay
    * reproduces the original statuses exactly (other same-batch
    * matches reduce to the same min keeper) and the append anti-join
    * then no-ops. Net: any replay appends duplicate-but-CORRECT
    * output rows — dedup the output on doc_id downstream if the job
    * ever restarts mid-batch; with the OLD append-first order a
    * replay flagged its own admitted docs as self-duplicates, an
    * ambiguity no downstream dedup could resolve. A completed batch
    * is never re-run (checkpointed offsets).
    *
    * Scale shape: per batch — one intake-sized checkpoint, one
    * map-only scan of the ledger's 32-byte digests with the tiny
    * batch broadcast (never a corpus-text rescan), one batch-sized
    * append; both per-batch checkpoints are released
    * deterministically at the end of the body
    * ([[graft.Persistence.release]] — a continuous run would
    * otherwise accumulate checkpoint blocks until GC, r18 advice).
    * The stream's steady-state cost is ∝ daily intake, the exact
    * economics the store trio exists for — except the ledger
    * LISTING, which grows with the append count (one file per batch)
    * until [[graft.ops.Dedup.compactDigestStore]] rewrites the tree
    * (measured: SCALE_REHEARSAL_r19_stream.json and
    * SCALE_REHEARSAL_r20_stream.json). Returns the
    * completed query — `recentProgress` carries per-batch durations
    * for exactly that measurement.
    *
    * `compactEvery` (r19 verdict #4 — the maintenance CADENCE): when
    * > 0, after every N committed micro-batches the gate compacts the
    * ledger blue/green to a fresh temp root and swaps it into place
    * ([[graft.ops.Layout.swapCompacted]] — metadata-only, and the end
    * of a foreachBatch body is exactly the no-reader-active window it
    * requires). Size N from [[graft.ops.Layout.compactionDue]]'s
    * rule: N ≈ maxFraction × batchWallMs / perFileMs (each batch
    * appends one+ file; measured ~1.2–2.2 ms/file locally). 0 = never
    * — run the compaction at your own cadence. A replay after a
    * completed swap re-probes the compacted tree, which answers
    * identically (compaction is row-identity). */
  def runIncrementalAdmission(docs: DataFrame, storePath: String,
      outDir: String, checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", compactEvery: Int = 0):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    require(compactEvery >= 0, "compactEvery must be >= 0 (0 = never)")
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val store = graft.ops.Dedup.loadDigestStore(
          batch.sparkSession, storePath)
        // probe's plan leaves include the batch-digest checkpoint made
        // inside incrementalExactDuplicates — released below once
        // flagged is eagerly materialized
        val probe = graft.ops.Dedup.incrementalExactDuplicates(
          store, batch, idCol, textCol)
        // drop SELF-rows (batch_id == dup_id): admission intake ids
        // are new by contract, so a self-row can only be the batch's
        // own append seen by a replay — filtering it makes replay
        // fully idempotent in EVERY failure window (see scaladoc; the
        // revision-check semantics of self-rows belong to the raw
        // incrementalExactDuplicates, not to admission)
        val flagged = probe.filter(col("batch_id") =!= col("dup_id"))
          .localCheckpoint(true)
        graft.Persistence.release(probe)
        // admitted feeds the append AND the output union — checkpoint
        // (the N-subplans rule; a micro-batch is bounded)
        val admitted = batch
          .select(col(idCol), col(textCol))
          .join(flagged.select(col("batch_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
          .localCheckpoint(true)
        // output FIRST, append second (see failure semantics above)
        flagged
          .groupBy(col("batch_id").as(idCol))
          .agg(min(col("dup_id")).as("dup_id"))
          .select(col(idCol), lit("duplicate").as("status"), col("dup_id"))
          .unionByName(admitted.select(col(idCol),
            lit("admitted").as("status"),
            lit(null).cast("bigint").as("dup_id")))
          .write.mode("append").parquet(outDir)
        graft.ops.Dedup.appendToDigestStore(store, storePath, admitted,
          idCol, textCol)
        graft.Persistence.release(flagged)
        graft.Persistence.release(admitted)
        // maintenance cadence (see scaladoc): compact + swap AFTER all
        // of this batch's effects, while no reader is active
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          val tmp = graft.TempDirs.createCleaned("graft_adm_ledger_c")
          graft.ops.Dedup.compactDigestStore(batch.sparkSession,
            storePath, tmp)
          graft.ops.Layout.swapCompacted(batch.sparkSession, storePath, tmp)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Stream-static NEAR-DUP admission — [[runIncrementalAdmission]]'s
    * shape for the SKETCH member of the store trio (the full
    * production loop: an admitted doc joins the corpus TEXT store and
    * the signature store, so later batches dedup against it without
    * any corpus re-shingle). Per micro-batch:
    *
    *   1. probe: [[graft.ops.Dedup.incrementalVerifiedTextDuplicates]]
    *      through the signature store loaded fresh (store banding is a
    *      map-only signature scan; shingling runs over the batch plus
    *      candidate-HIT corpus docs only, via `corpusTextsPath` —
    *      which the stream itself grows, step 3);
    *   2. output: one (doc_id, status, min dup_id) row per batch doc,
    *      committed BEFORE the appends (the replay-ordering rule);
    *   3. append: admitted docs anti-joined against the store's ids
    *      (replay-idempotent — the digest-append discipline applied to
    *      a sketch append whose own contract is new-ids-only), then
    *      their TEXTS land under `corpusTextsPath` and their
    *      signatures under the store (texts first: a replay between
    *      the two can only duplicate text rows, which duplicates
    *      verify rows the min-reduction collapses — never a signature
    *      row, so the store stays keyed-unique). SELF-rows are
    *      filtered from the flag set, so a replay after the sig
    *      append reproduces the original statuses and the anti-join
    *      no-ops — the [[runIncrementalAdmission]] idempotence
    *      argument verbatim.
    *
    * BATCHING-INVARIANT ONLY AT threshold = 1.0 AND WITH ID-ORDERED
    * MICRO-BATCHES (the x211 precondition, r19 advisor): verified
    * Jaccard 1.0 ⇔ identical gram SETS, an equivalence relation, so
    * the admitted set is the class-minimum rule for any id-ordered
    * split of the intake (EventStreamsSpec pins stream ≡ the class
    * algebra; the x215 carrier replays it in SQL). If a LARGER-id
    * class member arrives in an earlier batch it is admitted and the
    * later class minimum flags against it — a valid online decision
    * that diverges from the class-minimum oracle; non-ordered intakes
    * are rows-only territory. At mid thresholds similarity is not
    * transitive and greedy online admission depends on the batch
    * split — outputs are valid online-dedup decisions but carry no
    * SQL oracle; keep such runs rows-only.
    *
    * Scale shape: per batch — one batch shingle+sign pass, one
    * map-only store banding scan, verification on candidates only,
    * two batch-sized appends; per-batch checkpoints released at end
    * of body. BOTH appended trees grow one file per batch — the
    * signature store ([[graft.ops.Dedup.compactMinhashSignatures]]
    * is the maintenance pass) and the corpus text dir (a plain
    * parquet dir: [[graft.ops.Layout.compact]] directly, same
    * blue/green discipline) — same economics as the digest ledger
    * (measured: SCALE_REHEARSAL_r19_stream.json). `compactEvery` > 0
    * runs both compactions + pointer swaps after every N committed
    * batches ([[runIncrementalAdmission]]'s cadence contract; size N
    * via [[graft.ops.Layout.compactionDue]]). */
  def runIncrementalNearDupAdmission(docs: DataFrame, storePath: String,
      corpusTextsPath: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 1.0, bands: Int = 32, compactEvery: Int = 0):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    require(compactEvery >= 0, "compactEvery must be >= 0 (0 = never)")
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = graft.ops.Dedup.loadMinhashSignatures(spark, storePath)
        val corpusTexts = spark.read.parquet(corpusTextsPath)
        val probe = graft.ops.Dedup.incrementalVerifiedTextDuplicates(
          store, corpusTexts, batch, idCol, textCol, threshold, bands)
        // checkpoint the RAW probe once (it feeds both orientation
        // branches below — the N-subplans rule: two filters over the
        // lazy frame would execute the verify joins twice), then free
        // its internal candidate/gram checkpoints
        val flaggedRaw = probe.localCheckpoint(true)
        graft.Persistence.release(probe)
        // REORIENT batch-internal pairs: the probe emits them with
        // the SMALLER id as batch_id (the estimate-probe convention),
        // but admission flags the LARGER id against the min keeper —
        // without the swap a same-batch dup class would admit its
        // LAST member and flag the keeper (EventStreamsSpec fixture
        // caught it; the real corpus has no intra-batch dup classes,
        // so the carrier alone could not). Then the self-row filter:
        // replay idempotence, the exact-admission rule. Cheap
        // projections over the checkpoint — no second checkpoint.
        val flagged = flaggedRaw.filter(col("dup_in") === "corpus")
          .unionByName(flaggedRaw.filter(col("dup_in") === "batch")
            .select(col("dup_id").as("batch_id"),
              col("batch_id").as("dup_id"), col("jaccard"), col("dup_in")))
          .filter(col("batch_id") =!= col("dup_id"))
        val admitted = batch
          .select(col(idCol), col(textCol))
          .join(flagged.select(col("batch_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
          .localCheckpoint(true)
        // appends made replay-idempotent on the SIGNATURE store's ids,
        // resolved BEFORE any effect so the collision guard can refuse
        // the batch with nothing written
        val newAdmits = admitted
          .join(store.signatures.select(col("id").as(idCol)),
            Seq(idCol), "left_anti")
          .localCheckpoint(true)
        // LOUD id-collision guard (the ×100 rehearsal finding): the
        // anti-join above exists for REPLAY idempotence — a dropped id
        // must therefore already carry this batch's own signature in
        // the store. A dropped id with a DIFFERENT stored signature is
        // an intake id colliding with an existing store id (the
        // "intake ids are new" contract violated): silently swallowing
        // it would emit 'admitted' while the store never learns the
        // content, and every later day re-admits it. SHORT-CIRCUITED
        // on the normal path (r19 advisor): dropped is the difference
        // of two per-batch checkpoints, so its emptiness probe never
        // touches the store — only a non-empty dropped set (replay or
        // collision) pays the signature join's store scan.
        val dropped = admitted.join(newAdmits.select(col(idCol)),
          Seq(idCol), "left_anti")
        if (dropped.limit(1).collect().nonEmpty) {
          val collided = graft.ops.Dedup.minhashSignatures(dropped, idCol,
              textCol, store.numHashes, store.shingleSize)
            .join(store.signatures.select(col("id"), col("sig").as("stored")),
              Seq("id"))
            .filter(!(col("sig") <=> col("stored")))
            .limit(1).collect()
          require(collided.isEmpty,
            s"admission intake id ${collided.headOption.map(_.get(0))} " +
              "already exists in the signature store with different " +
              "content — intake ids must be NEW (the store-append " +
              "contract); re-key the intake")
        }
        // output FIRST among the effects (the runIncrementalAdmission
        // replay rule), then the two appends
        flagged
          .groupBy(col("batch_id").as(idCol))
          .agg(min(col("dup_id")).as("dup_id"))
          .select(col(idCol), lit("duplicate").as("status"), col("dup_id"))
          .unionByName(admitted.select(col(idCol),
            lit("admitted").as("status"),
            lit(null).cast("bigint").as("dup_id")))
          .write.mode("append").parquet(outDir)
        newAdmits.write.mode("append").parquet(corpusTextsPath)
        graft.ops.Dedup.appendToMinhashSignatures(store, storePath,
          newAdmits, idCol, textCol)
        graft.Persistence.release(flaggedRaw)
        graft.Persistence.release(admitted)
        graft.Persistence.release(newAdmits)
        // maintenance cadence: BOTH appended trees, after all effects
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          val sigC = graft.TempDirs.createCleaned("graft_ndadm_sig_c")
          graft.ops.Dedup.compactMinhashSignatures(spark, storePath, sigC)
          graft.ops.Layout.swapCompacted(spark, storePath, sigC)
          val txtC = graft.TempDirs.createCleaned("graft_ndadm_txt_c")
          graft.ops.Layout.compact(spark, corpusTextsPath, txtC)
          graft.ops.Layout.swapCompacted(spark, corpusTextsPath, txtC)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Stream-static EMBEDDING admission — the third member of the
    * streaming admission trio ([[runIncrementalAdmission]] = digest,
    * [[runIncrementalNearDupAdmission]] = text sketch): per
    * micro-batch, probe the persisted embedding signature store with
    * EXACT cosine verification
    * ([[graft.ops.Dedup.incrementalEmbeddingNearDuplicates]] through
    * the handle loaded fresh — width/bands/seed resolve from the meta
    * sidecar), flag batch vectors whose cosine against the corpus —
    * or an earlier batch vector — clears `threshold`, and fold the
    * admitted survivors into BOTH stores (vectors under
    * `corpusVecsPath`, signatures via
    * [[graft.ops.Dedup.appendToEmbeddingSignatures]]) before the next
    * batch probes.
    *
    * Same discipline as the text gate, verbatim: batch-internal pairs
    * REORIENTED to the min keeper (the probe emits them smaller-id
    * first), SELF-rows filtered (replay idempotence — intake ids are
    * new by contract), output committed before the appends, appends
    * anti-joined on the store's ids, per-batch checkpoints released.
    *
    * Oracle scope (the x212/x215 analysis applied): the output is
    * batching-invariant when flagging induces EQUIVALENCE CLASSES —
    * exact replicas at a threshold nothing distinct reaches (the
    * x216 carrier's replica/negation construction under the
    * OpsSpec-pinned |cosine| < 0.95 corpus premise). At thresholds
    * real distinct pairs cross, cosine is not transitive and greedy
    * online admission depends on the batch split — valid decisions,
    * no SQL oracle; keep such runs rows-only. */
  def runIncrementalEmbeddingAdmission(docs: DataFrame, storePath: String,
      corpusVecsPath: String, outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, compactEvery: Int = 0):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    require(compactEvery >= 0, "compactEvery must be >= 0 (0 = never)")
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = graft.ops.Dedup.loadEmbeddingSignatures(spark, storePath)
        val corpusVecs = spark.read.parquet(corpusVecsPath)
        val probe = graft.ops.Dedup.incrementalEmbeddingNearDuplicates(
          store, corpusVecs, batch, idCol, vecCol, threshold)
        val flaggedRaw = probe.localCheckpoint(true)
        graft.Persistence.release(probe)
        val flagged = flaggedRaw.filter(col("dup_in") === "corpus")
          .unionByName(flaggedRaw.filter(col("dup_in") === "batch")
            .select(col("dup_id").as("batch_id"),
              col("batch_id").as("dup_id"), col("cosine"), col("dup_in")))
          .filter(col("batch_id") =!= col("dup_id"))
        val admitted = batch
          .select(col(idCol), col(vecCol))
          .join(flagged.select(col("batch_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
          .localCheckpoint(true)
        val newAdmits = admitted
          .join(store.signatures.select(col("id").as(idCol)),
            Seq(idCol), "left_anti")
          .localCheckpoint(true)
        // loud id-collision guard BEFORE any effect, short-circuited
        // on the normal path — see runIncrementalNearDupAdmission
        val dropped = admitted.join(newAdmits.select(col(idCol)),
          Seq(idCol), "left_anti")
        if (dropped.limit(1).collect().nonEmpty) {
          val collided = graft.ops.Dedup.embeddingSignatures(dropped, idCol,
              vecCol, store.numBits, store.bands, store.seed)
            .join(store.signatures.select(col("id"), col("sig").as("stored")),
              Seq("id"))
            .filter(!(col("sig") <=> col("stored")))
            .limit(1).collect()
          require(collided.isEmpty,
            s"admission intake id ${collided.headOption.map(_.get(0))} " +
              "already exists in the signature store with different " +
              "content — intake ids must be NEW (the store-append " +
              "contract); re-key the intake")
        }
        flagged
          .groupBy(col("batch_id").as(idCol))
          .agg(min(col("dup_id")).as("dup_id"))
          .select(col(idCol), lit("duplicate").as("status"), col("dup_id"))
          .unionByName(admitted.select(col(idCol),
            lit("admitted").as("status"),
            lit(null).cast("bigint").as("dup_id")))
          .write.mode("append").parquet(outDir)
        newAdmits.write.mode("append").parquet(corpusVecsPath)
        graft.ops.Dedup.appendToEmbeddingSignatures(store, storePath,
          newAdmits, idCol, vecCol)
        graft.Persistence.release(flaggedRaw)
        graft.Persistence.release(admitted)
        graft.Persistence.release(newAdmits)
        // maintenance cadence: both appended trees, after all effects
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          val sigC = graft.TempDirs.createCleaned("graft_embadm_sig_c")
          graft.ops.Dedup.compactEmbeddingSignatures(spark, storePath, sigC)
          graft.ops.Layout.swapCompacted(spark, storePath, sigC)
          val vecC = graft.TempDirs.createCleaned("graft_embadm_vec_c")
          graft.ops.Layout.compact(spark, corpusVecsPath, vecC)
          graft.ops.Layout.swapCompacted(spark, corpusVecsPath, vecC)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Run a streaming query to completion against a static directory
    * (memory sink) and return the result table — the batch-driven
    * harness for tests and local verification. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  final case class GroupProfile(
      grp: String, n: Long, sum_v: Long, min_v: Long, max_v: Long)

  /** Streaming twin of the mergeable batch profile
    * ([[graft.ops.Profiling.batchStats]]/`mergeStats`): the same
    * sufficient statistics (count, sum, min, max of an integer
    * column) maintained incrementally by `mapGroupsWithState` — each
    * micro-batch folds into per-group state with the exact integer
    * algebra `mergeStats` uses, so after any prefix of batches the
    * emitted state EQUALS the batch profile of everything ingested
    * so far (the spec asserts the equality). State is constant-size
    * per group — the 100 TB streaming-profile shape. */
  def runningProfile(rows: DataFrame, groupCol: String,
      valueCol: String): Dataset[GroupProfile] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(col(groupCol).cast("string"), col(valueCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[GroupProfile, GroupProfile](
        GroupStateTimeout.NoTimeout) {
        case (grp, batch, state: GroupState[GroupProfile]) =>
          val prev = state.getOption.getOrElse(
            GroupProfile(grp, 0L, 0L, Long.MaxValue, Long.MinValue))
          var n = prev.n; var s = prev.sum_v
          var mn = prev.min_v; var mx = prev.max_v
          batch.foreach { case (_, v) =>
            n += 1; s += v
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          val next = GroupProfile(grp, n, s, mn, mx)
          state.update(next)
          next
      }
  }
}
