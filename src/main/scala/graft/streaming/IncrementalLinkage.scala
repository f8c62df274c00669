package graft.streaming


import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Linkage, Scoring}
import graft.plans.StateFs

/** Incremental linkage over a stream of page micro-batches: each batch
  * re-pairs and re-scores ONLY the blocks it touches, carrying every other
  * block's scored pairs forward untouched.
  *
  * Scale rationale: a naive streaming design re-runs the full pair join per
  * batch — O(total²/blocks) work for a batch that touched 0.01% of blocks.
  * Here the per-batch COMPUTE is bounded by Σ(touched block)², independent of
  * the accumulated corpus size; untouched blocks cost one anti-join probe.
  * Within a touched block old×old pairs are re-scored along with new pairs —
  * redundant but bounded (the scorer is linear in pairs) and it keeps the
  * state model trivial: "every block scored as of its last touch".
  *
  * State I/O is LSM-shaped so the per-batch WRITE is bounded too (round-2
  * rewrote the full accumulated state every batch — O(corpus) I/O, and old
  * versions were never deleted):
  *  - per batch N the driver writes only the DELTAS: `prepared_delta_N`
  *    (the batch's prepared rows), `scored_delta_N` (pairs of touched
  *    blocks), `changed_N` (touched block keys — tiny);
  *  - state reconstruction is a last-touch merge: a block's pairs come from
  *    the latest delta that touched it ([[loadScoredState]]);
  *  - every `compactEvery` batches the full merged state is written AS that
  *    batch's delta (with `changed` = every known block) and a `compacted_N`
  *    marker commits it (tmp + atomic rename, the Snapshots convention);
  *  - superseded deltas are garbage-collected at the START of a later batch,
  *    never in the batch that wrote the compaction: foreachBatch re-delivers
  *    a crashed batch N, and recomputing N's delta needs the pre-N state —
  *    GC only touches batches older than a compaction that some COMMITTED
  *    later batch has already observed, so a re-run always finds its inputs.
  * Storage is ≤ 2× state between compactions; read-side merge spans at most
  * `compactEvery` deltas.
  */
object IncrementalLinkage {

  case class Step(prepared: DataFrame, scored: DataFrame,
                  changedBlocks: Long, pairsRescored: Long)

  /** The per-batch increment: the batch's prepared rows, the touched block
    * keys, and the re-scored pairs of the touched blocks. */
  case class Delta(bPrep: DataFrame, changed: DataFrame, rescored: DataFrame)

  /** Compute one batch's delta against the accumulated prepared state.
    * `bPrep` comes back PERSISTED (session-tracked: `Dedup.releaseCaches`
    * or the caller's unpersist frees it): the candidate-pair join's
    * measured-bytes probe runs here and reads the batch's prepared rows
    * twice (the touched-block keys and the union); persisted first, a batch
    * is prepared once instead of twice in the probe and a third time at its
    * first write. */
  def delta(prevPrepared: DataFrame, batch: DataFrame,
            cfg: Linkage.Config = Linkage.Config()): Delta = {
    val bPrep = graft.operators.Dedup.trackPersist(Linkage.prepare(batch, cfg))
    val changed = bPrep.select("block_key").distinct()
    // records that participate in re-pairing: the batch + every existing
    // record in a touched block (left-semi: key-colocated probe, no payload)
    val affected = prevPrepared
      .join(changed, Seq("block_key"), "left_semi")
      .unionByName(bPrep)
    val rescored = Scoring.scoreDF(
      graft.operators.Blocking.candidatePairs(
        affected, "block_key", "url", payloadCols = Seq("canon"), cfg.maxBlock),
      cfg.threshold)
    Delta(bPrep, changed, rescored)
  }

  /** One incremental step with in-memory state (the batch-equality surface;
    * the streaming driver below persists deltas instead of merged state).
    * Like [[delta]], it leaves the batch's prepared rows persisted and
    * session-tracked; `Dedup.releaseCaches` frees them.
    *
    * @param prevPrepared accumulated prepared records (empty on first batch)
    * @param prevScored   accumulated scored pairs (empty on first batch)
    * @param batch        the new micro-batch of raw pages
    */
  def step(prevPrepared: DataFrame, prevScored: DataFrame, batch: DataFrame,
           cfg: Linkage.Config = Linkage.Config()): Step = {
    val d = delta(prevPrepared, batch, cfg)
    // untouched blocks keep their pairs verbatim (anti-join on the key)
    val kept = prevScored.join(d.changed, Seq("block_key"), "left_anti")
    // bookkeeping counts folded into ONE action (two 1-row aggregates meet
    // in a cross join — a single driver round-trip per micro-batch)
    val stats = d.changed.agg(count(lit(1)).as("cb"))
      .crossJoin(d.rescored.agg(count(lit(1)).as("pr"))).head()
    Step(prevPrepared.unionByName(d.bPrep), kept.unionByName(d.rescored),
      stats.getLong(0), stats.getLong(1))
  }

  private def emptyPages(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StreamingIngest.pageSchema)

  private def emptyScored(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[graft.operators.ScoredPair].toDF()
  }

  // Known schemas of the state dirs. Reads pass them to `spark.read`:
  // parquet schema inference launches one footer-reading job per read.
  // (A file source reads every column as nullable whatever the schema says.)
  private def preparedSchema(spark: SparkSession, cfg: Linkage.Config): StructType =
    Linkage.prepare(emptyPages(spark), cfg).schema
  private val scoredSchema: StructType =
    Encoders.product[graft.operators.ScoredPair].schema
  private val changedSchema: StructType =
    StructType(Seq(StructField("block_key", StringType)))

  // ----------------------------- state layout ------------------------------

  /** `name` minus `prefix` iff the remainder is a well-formed batch id.
    * Anything else — in particular a `compacted_N.tmp` leftover from a crash
    * between the marker write and the atomic rename — is NOT state and must be
    * ignored, never parsed (a `.toLong` crash here would permanently block
    * every restart, defeating the tmp+rename crash-safety it implements). */
  private def numericSuffix(name: String, prefix: String): Option[Long] =
    StateFs.numericSuffix(name, prefix) // shared canonical parse (StateFs)

  /** Batch ids with a fully committed delta (all three dirs have _SUCCESS),
    * ascending. */
  def committedBatches(stateDir: String): Seq[Long] = {
    StateFs.listNames(stateDir)
      .flatMap(n => numericSuffix(n, "changed_"))
      .filter { b =>
        Seq(s"changed_$b", s"prepared_delta_$b", s"scored_delta_$b")
          .forall(n => StateFs.exists(stateDir, s"$n/_SUCCESS"))
      }.sorted
  }

  /** Committed compaction markers, ascending. */
  def compactions(stateDir: String): Seq[Long] =
    StateFs.listNames(stateDir)
      .flatMap(n => numericSuffix(n, "compacted_")).sorted

  /** The delta batches that constitute the state before `beforeBatch`:
    * everything from the latest compaction point forward. */
  private def liveBatches(stateDir: String, beforeBatch: Long): Seq[Long] = {
    val committed = committedBatches(stateDir).filter(_ < beforeBatch)
    compactions(stateDir).filter(_ < beforeBatch).lastOption match {
      case Some(c) => committed.filter(_ >= c)
      case None    => committed
    }
  }

  /** Accumulated prepared state before `beforeBatch`: prepared rows are
    * append-only (a page belongs to exactly one batch), so the state is the
    * plain union of live deltas. */
  def loadPreparedState(spark: SparkSession, stateDir: String,
                        beforeBatch: Long = Long.MaxValue,
                        cfg: Linkage.Config = Linkage.Config()): DataFrame = {
    val bs = liveBatches(stateDir, beforeBatch)
    if (bs.isEmpty) Linkage.prepare(emptyPages(spark), cfg)
    else {
      val schema = preparedSchema(spark, cfg)
      bs.map(b => spark.read.schema(schema).parquet(s"$stateDir/prepared_delta_$b"))
        .reduce(_ unionByName _)
    }
  }

  /** Accumulated scored state before `beforeBatch`: last-touch merge — a
    * block's pairs come from the latest delta whose `changed` set contains
    * the block (later touches fully re-score a block, superseding earlier
    * pairs). One small join against the per-block max-batch map; no
    * full-state rewrite ever happened to produce it. */
  def loadScoredState(spark: SparkSession, stateDir: String,
                      beforeBatch: Long = Long.MaxValue): DataFrame = {
    val bs = liveBatches(stateDir, beforeBatch)
    if (bs.isEmpty) return emptyScored(spark)
    val pairs = bs.map(b => spark.read.schema(scoredSchema)
      .parquet(s"$stateDir/scored_delta_$b").withColumn("batch", lit(b)))
      .reduce(_ unionByName _)
    val changed = bs.map(b => spark.read.schema(changedSchema)
      .parquet(s"$stateDir/changed_$b").withColumn("batch", lit(b)))
      .reduce(_ unionByName _)
    val lastTouch = changed.groupBy("block_key").agg(max(col("batch")).as("batch"))
    pairs.join(lastTouch, Seq("block_key", "batch")).drop("batch")
  }

  /** GC deltas made redundant by a compaction that a COMMITTED later batch
    * has observed (only call at the start of batch N: batches < N are
    * checkpoint-committed and will never re-run, so nothing deleted here can
    * be needed to recompute a redelivered batch). */
  private def gcSuperseded(stateDir: String, currentBatch: Long): Unit = {
    compactions(stateDir).filter(_ < currentBatch).lastOption.foreach { c =>
      committedBatches(stateDir).filter(_ < c).foreach { b =>
        Seq(s"changed_$b", s"prepared_delta_$b", s"scored_delta_$b")
          .foreach(n => StateFs.deleteRecursive(stateDir, n))
      }
    }
  }

  /** One-time migration of round-2-layout state (full-rewrite `prepared_N` /
    * `scored_N` dirs, latest complete pair = the state) into the delta
    * layout: that pair becomes a compaction base at its batch id, `changed`
    * covering every block it knows, so `loadScoredState`'s last-touch merge
    * resolves to it exactly as round 2's `loadLatest` did. Older legacy
    * versions were superseded full rewrites — deleted. No-op when delta
    * state already exists (a migrated dir has no legacy names left). Without
    * this, a round-2 deployment restarting on current code would silently
    * load EMPTY state while its checkpoint blocks re-ingesting the pages
    * that produced the old state. */
  private[streaming] def migrateLegacyState(spark: SparkSession, stateDir: String): Unit = {
    val names = StateFs.listNames(stateDir)
    def complete(prefix: String) = names
      .flatMap(n => numericSuffix(n, prefix)) // "prepared_delta_7" has a
      .filter(b => StateFs.exists(stateDir, s"$prefix$b/_SUCCESS"))
      .toSet                                  // non-numeric "prepared_" suffix
    val legacyP = complete("prepared_")
    val legacyS = complete("scored_")
    val deltaP  = complete("prepared_delta_")
    val deltaS  = complete("scored_delta_")
    // needs migration: some half is still in the legacy layout, both halves
    // exist in SOME layout (resumes a crash mid-migration), not yet marked
    val marked = compactions(stateDir).toSet
    val candidates = (legacyP ++ legacyS).filter(b =>
      (legacyP(b) || deltaP(b)) && (legacyS(b) || deltaS(b)) && !marked(b))
    if (candidates.isEmpty) return
    val base = candidates.max
    // step order is crash-resumable: each step is idempotent (overwrite) or
    // skipped when its source already moved; a crash at any point leaves a
    // state this function re-enters and finishes on the next run
    val prepSrc = if (deltaP(base)) s"prepared_delta_$base" else s"prepared_$base"
    spark.read.parquet(s"$stateDir/$prepSrc").select("block_key").distinct()
      .write.mode("overwrite").parquet(s"$stateDir/changed_$base")
    if (!deltaS(base))
      StateFs.move(stateDir, s"scored_$base", s"scored_delta_$base")
    if (!deltaP(base))
      StateFs.move(stateDir, s"prepared_$base", s"prepared_delta_$base")
    StateFs.publish(stateDir, s"compacted_$base", Array.empty[Byte])
    // older legacy versions were superseded full rewrites
    ((legacyP ++ legacyS) - base).foreach { b =>
      StateFs.deleteRecursive(stateDir, s"prepared_$b")
      StateFs.deleteRecursive(stateDir, s"scored_$b")
    }
  }

  /** Streaming driver: file-source pages stream → foreachBatch incremental
    * delta; state is per-batch delta parquet + periodic compaction (see
    * class doc), so a restart resumes from the last committed batch
    * (checkpoint tracks which input files are consumed — exactly-once per
    * batch) and per-batch state I/O is O(delta), not O(corpus).
    *
    * With `entityStateDir` set, each batch ALSO folds its re-scored MATCH
    * edges into a persisted [[IncrementalCC]] assignment there — the full
    * production composition (pages → touched-block re-scoring → maintained
    * entity clusters) in one exactly-once foreachBatch. Sound because
    * scoring is deterministic over immutable records: a touched block
    * re-emits its old matches verbatim (idempotent no-ops for the CC fold)
    * and never retracts one. Query the maintained entities with
    * [[IncrementalCC.loadAssign]] (string ids = urls).
    *
    * The fold contracts with the grouped union-find keyed on `block_key`
    * ([[IncrementalCC]]'s GROUPED path) instead of the star iteration: each
    * url has one block key and matches form only inside a block, so every
    * component, component label and contracted edge stays inside one block
    * — the precondition [[Linkage.entitiesFrom]] relies on for the batch
    * path. Urls are expected to be unique across the stream (a page belongs
    * to exactly one batch). A url that comes back anyway with changed
    * content, and so under another block key, breaks that partition; the
    * fold detects it on the batch that lifts a component label into two
    * blocks and contracts that batch with the star iteration, so the
    * maintained entities stay equal to `ConnectedComponents.run` over the
    * accumulated matches. */
  def run(spark: SparkSession, inDir: String, stateDir: String,
          checkpoint: String, cfg: Linkage.Config = Linkage.Config(),
          compactEvery: Int = 8,
          entityStateDir: Option[String] = None): StreamingQuery = {
    migrateLegacyState(spark, stateDir)
    StreamingIngest.readPages(spark, inDir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sp = batch.sparkSession
        gcSuperseded(stateDir, batchId)
        val prevP = loadPreparedState(sp, stateDir, batchId, cfg)
        // d.bPrep is persisted (see delta): the batch's prepared rows feed
        // the probe and all three writes
        val d = delta(prevP, batch.toDF(), cfg)

        val live = liveBatches(stateDir, batchId)
        // count deltas SINCE the last compaction base (the base itself is a
        // live batch but not a delta — counting it would compact every batch)
        val base = compactions(stateDir).filter(_ < batchId).lastOption
        val doCompact = compactEvery > 0 &&
          live.count(b => !base.contains(b)) + 1 >= compactEvery
        if (!doCompact) {
          d.bPrep.write.mode("overwrite").parquet(s"$stateDir/prepared_delta_$batchId")
          d.rescored.write.mode("overwrite").parquet(s"$stateDir/scored_delta_$batchId")
          d.changed.write.mode("overwrite").parquet(s"$stateDir/changed_$batchId")
        } else {
          // compaction batch: this delta IS the full state; `changed` covers
          // every known block so the last-touch merge resolves to it alone
          val prevS = loadScoredState(sp, stateDir, batchId)
          val kept = prevS.join(d.changed, Seq("block_key"), "left_anti")
          prevP.unionByName(d.bPrep).write.mode("overwrite")
            .parquet(s"$stateDir/prepared_delta_$batchId")
          kept.unionByName(d.rescored).write.mode("overwrite")
            .parquet(s"$stateDir/scored_delta_$batchId")
          val allChanged = live
            .map(b => sp.read.schema(changedSchema).parquet(s"$stateDir/changed_$b"))
            .foldLeft(d.changed)(_ unionByName _).distinct()
          allChanged.write.mode("overwrite").parquet(s"$stateDir/changed_$batchId")
          // marker LAST, atomically — a crash before this line leaves an
          // oversized but correct delta; after it, older deltas are redundant
          StateFs.publish(stateDir, s"compacted_$batchId", Array.empty[Byte])
        }
        entityStateDir.foreach { ccDir =>
          // the CC fold sees only this batch's re-scored matches: old
          // matches of untouched blocks are already in the assignment, and
          // a touched block's re-emitted matches are idempotent no-ops.
          // Read the edges back from the scored delta JUST written — the
          // fold evaluates its edge input several times, and re-running the
          // touched-block re-scoring per evaluation would multiply the hot
          // path. (On a compaction batch the dir holds the merged state, so
          // the fold sees already-folded old matches too — idempotent
          // no-ops, costing one larger contraction on those batches only.)
          IncrementalCC.persistCcStep(sp, ccDir, batchId,
            sp.read.schema(scoredSchema).parquet(s"$stateDir/scored_delta_$batchId")
              .filter(col("is_match"))
              .select(col("block_key"), col("url_a").as("src"), col("url_b").as("dst")),
            stringIds = true, compactEvery, groupCol = Some("block_key"))
        }
        // frees this batch's session-tracked caches: d.bPrep and the fold's
        // pinned frames (`sp` is the stream's own session)
        graft.operators.Dedup.releaseCaches(sp)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
