package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Dedup}

/** Incremental connected components over an APPEND-ONLY edge stream — the
  * cluster-maintenance half of continuous dedup/entity-resolution: the
  * incremental pair operators ([[IncrementalDedup]], [[IncrementalLinkage]])
  * keep the match/near-dup PAIRS current per batch, and this keeps the
  * (id, component) assignment current without re-running components over the
  * accumulated edge set.
  *
  * Why an exact incremental form exists at all: new edges can only MERGE
  * components, never split them (edges are never retracted). So a batch's
  * entire effect on the partition is captured by the CONTRACTED graph — map
  * each batch endpoint to its current component label and connect those
  * labels. Running connected components on that contracted relation
  * (≤ 2·|batch| nodes, independent of the accumulated graph) yields
  * exactly the label merges the batch causes; everything else is label
  * substitution.
  *
  * Label invariant: `component` is the MINIMUM member id of its component
  * (the [[ConnectedComponents.run]] convention). It survives merging by
  * construction — every label is its component's min member, so the min over
  * merged labels IS the min over the merged membership. This is what makes
  * the accumulated state row-identical to a full recompute, not merely the
  * same partition under different names.
  *
  * Per-batch cost at scale: one STREAMED pass of the assignment through a
  * left-semi endpoint lookup whose build side is the batch's node set (the
  * assignment is never the build side and never shuffles — see the
  * build-side note in [[delta]]), connected components over the contracted
  * graph, and one label-substitution join against the assignment keyed on
  * `component` — the remap side is ≤ 2·|batch| rows, which Catalyst's size
  * estimation (or AQE at runtime) broadcasts for steady-state batches,
  * leaving the assignment unshuffled; the full scan of the assignment is the
  * price of a MATERIALIZED assignment (the alternative — folding remap
  * deltas at read time, which the streaming driver's persisted layout does
  * between compactions — trades it for read amplification).
  *
  * The contraction's components come from one of two operators, chosen by a
  * property of the input, not by a setting:
  *  - GROUPED (`groupCol` given): the edges carry a key expected to
  *    partition the graph — every node has exactly one key value and no
  *    edge spans two. The linkage match graph has this by construction (one
  *    `block_key` per url, pairs only inside a block; the precondition
  *    [[graft.operators.Linkage.entitiesFrom]] states). The property carries
  *    over to the contracted graph: a node's label is its component's
  *    minimum member, which lies in the node's own group, so every
  *    contracted edge stays inside the group of the edge it lifts. One hash
  *    exchange plus an in-task union-find per group
  *    ([[ConnectedComponents.runGrouped]]) then yields the same components
  *    as the star iteration in a single pass, without the iteration's
  *    per-round checkpoint and convergence-fingerprint jobs — the per-job
  *    overhead that dominates a small micro-batch. String node ids only
  *    (runGrouped's contract). The key is a speed hint, not a correctness
  *    precondition: a batch whose contracted graph puts a node under two
  *    keys (a url re-delivered under another block key, or a component
  *    that earlier such a url merged across blocks) is detected on
  *    runGrouped's materialized output — a node in k groups comes back k
  *    times — and that batch falls back to the star iteration.
  *  - GENERIC (no key): the alternating-star iteration
  *    ([[ConnectedComponents.run]]) over the contracted graph — any node
  *    type, any graph (e.g. LSH pair edges, where one doc joins several
  *    buckets). Tiny for steady-state batches; degrades gracefully to the
  *    full operator's cost when the "batch" IS the corpus (a bulk load).
  * IncrementalCcSpec proves both paths equal the full recompute on the
  * url-hash-split linkage composition, and the grouped one on a url that
  * comes back under another block key.
  *
  * Unlike the dedup states there is NO disjointness precondition: edges may
  * be re-delivered, duplicate, span batches arbitrarily, or connect nodes
  * both already present — a duplicate edge contracts to a self-loop and is
  * dropped, so the step is idempotent on re-delivered input. That
  * idempotence is what makes the LINKAGE composition sound, not just the
  * dedup one: [[IncrementalLinkage]] re-scores every pair of a touched
  * block, but scoring is deterministic over immutable records, so a
  * re-scored old match re-emits VERBATIM (an idempotent no-op here) and is
  * never retracted — feeding each batch's `rescored.filter(is_match)` edges
  * into [[step]] maintains the entity assignment exactly
  * (IncrementalCcSpec "maintains linkage entities").
  */
object IncrementalCC {

  /** `assign` is the maintained (id, component) state; the counts are
    * observability only (labels retired by merges, nodes first seen). */
  case class Step(assign: DataFrame, labelsRetired: Long, newNodes: Long)

  /** Empty assignment with id/component typed like `edges`' endpoints
    * (type-generic: longs or strings, matching [[ConnectedComponents.run]]). */
  def empty(edgesLike: DataFrame): DataFrame =
    edgesLike.select(col("src").as("id"), col("src").as("component")).limit(0)

  /** A batch's entire effect on the assignment, in O(batch) rows: labels
    * retired by merges (`remap`: old label → merged label) and first-seen
    * nodes under their merged labels (`fresh`). [[applyDelta]] folds it into
    * any assignment; the streaming driver persists exactly these two frames
    * per batch. Both frames are materialized: `fresh` is checkpointed and
    * `remap` filters the checkpointed components. */
  case class Delta(remap: DataFrame, fresh: DataFrame)

  /** One incremental step: fold `edges` (src, dst) into the `prev`
    * assignment. Returns the updated assignment plus merge/insert counts.
    *
    * Equality guarantee (IncrementalCcSpec): after any batch split of an
    * edge set, `assign` is row-identical to
    * `ConnectedComponents.run(allEdges)`.
    *
    * Precondition: `prev` carries min-member component labels (the output
    * of [[ConnectedComponents.run]]/`runOnStrings` or of this step). */
  def step(prev: DataFrame, edges: DataFrame): Step = {
    val d = delta(prev, edges)
    // observability counts folded into one action over the checkpointed
    // (already materialized) delta frames
    val r = d.remap.agg(count(lit(1)).as("m"))
      .crossJoin(d.fresh.agg(count(lit(1)).as("n"))).head()
    Step(applyDelta(prev, d), r.getLong(0), r.getLong(1))
  }

  /** The batch increment against the `prev` assignment (see [[step]]).
    *
    * @param groupCol a column of `edges` expected to partition the graph
    *                 (the GROUPED path in the object doc); None = any graph */
  def delta(prev: DataFrame, edges: DataFrame,
            groupCol: Option[String] = None): Delta = {
    groupCol.foreach { g =>
      require(edges.schema("src").dataType == org.apache.spark.sql.types.StringType,
        s"grouped fold (groupCol = $g) needs string node ids, as " +
          "ConnectedComponents.runGrouped does; fold other ids without a group")
    }
    val g = groupCol.toSeq.map(col)
    val e = edges.select(g ++ Seq(col("src"), col("dst")): _*)
      .filter(col("src") =!= col("dst"))

    // current component of every batch endpoint; a first-seen node is its
    // own component. Persisted: feeds the contraction (twice) and the
    // new-node insert. BUILD-SIDE discipline: a LeftOuter lookup
    // `nodes.join(prev, "left")` would build/shuffle the ASSIGNMENT (outer
    // joins build right) — instead the assignment streams once through a
    // left-semi whose build side is the batch's node set, and the found
    // O(batch) rows drive everything else.
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val found = Dedup.trackPersist(prev.join(nodes, Seq("id"), "left_semi"))
    val looked = Dedup.trackPersist(
      found.select(col("id"), col("component").as("comp0"),
          lit(true).as("existed"))
        .unionByName(nodes.join(found.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("comp0"), lit(false).as("existed"))))

    // the contracted graph: batch edges lifted to component labels; an edge
    // inside one existing component contracts to a dropped self-loop. A
    // lifted edge keeps the group of the edge it lifts (the labels lie in
    // that group — see the object doc).
    val compEdges = e
      .join(looked.select(col("id").as("src"), col("comp0").as("ca")), "src")
      .join(looked.select(col("id").as("dst"), col("comp0").as("cb")), "dst")
      .select(g ++ Seq(col("ca").as("src"), col("cb").as("dst")): _*)
      .filter(col("src") =!= col("dst"))

    // components of the ≤ 2·|batch| contracted nodes; labels that survive
    // map to themselves and need no remap row.
    // localCheckpoint (EAGER) on the components and on `fresh`, not a mere
    // persist: the fold's lineage embeds `prev` through looked/found, so an
    // un-truncated assignment would carry the whole prior fold's plan
    // multiple times PER STEP — exponential logical-plan growth that OOMs
    // plan-string generation after a handful of batches (caught by the
    // 5-seed fold test). Checkpointed, each step adds one join + one union.
    val comps = groupCol match {
      case Some(gc) => groupedComponents(compEdges, gc)
      case None     => ConnectedComponents.run(compEdges).localCheckpoint()
    }
    val remap = comps
      .filter(col("id") =!= col("component"))
      .select(col("id").as("component"), col("component").as("newComp"))

    val fresh = looked.filter(!col("existed"))
      .join(remap.withColumnRenamed("component", "comp0"), Seq("comp0"), "left")
      .select(col("id"),
        coalesce(col("newComp"), col("comp0")).as("component"))
      .localCheckpoint()
    Delta(remap, fresh)
  }

  /** Components of the contracted graph by the grouped union-find, exact
    * while no contracted node lies in two groups. Checked in one job on its
    * checkpointed output (a node in k groups comes back k times); on a
    * violation the batch falls back to the star iteration. */
  private def groupedComponents(compEdges: DataFrame, gc: String): DataFrame = {
    val comps = ConnectedComponents.runGrouped(compEdges, gc).localCheckpoint()
    val split = comps.rdd.map(r => (r.getString(0), 1)).reduceByKey(_ + _)
      .filter(_._2 > 1).count()
    if (split == 0) comps
    else ConnectedComponents.run(compEdges.drop(gc)).localCheckpoint()
  }

  /** Label substitution over the assignment (the remap side is ≤ 2·|batch|
    * rows → broadcast; the assignment is never shuffled) plus the batch's
    * first-seen nodes. */
  def applyDelta(prev: DataFrame, d: Delta): DataFrame =
    prev.join(d.remap, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("newComp"), col("component")).as("component"))
      .unionByName(d.fresh)

  /** Retract nodes from the assignment — the takedown path a production
    * pipeline needs beside the append-only [[step]]. Removing a node can
    * SPLIT its component, which no label algebra fixes in place, but the
    * damage is confined: only components CONTAINING a retracted node can
    * change (an untouched component cannot contain a retracted label either
    * — its label is its min member). So the recompute runs only on the
    * affected components' REMAINING edges; every other row passes through
    * untouched. Survivors of an affected component that lose all their
    * edges stay in the assignment as their own singleton components (they
    * were seen; they are merely unlinked now).
    *
    * @param assign the maintained (id, component) state (min-member labels)
    * @param edges  the ACCUMULATED edge relation (e.g. the persisted pair
    *               deltas of [[IncrementalDedup]], or the linkage scored
    *               state filtered to matches) — CC state alone cannot split;
    *               cost is one scan of it plus CC over the affected
    *               subgraph, never the full graph
    * @param ids    nodes to retract (column `id`). Evaluated by SEVERAL join
    *               branches (affected probe, survivor filter) — pass a
    *               deterministic or persisted frame (the saltedSelfJoin
    *               precondition); a nondeterministic sample could retract
    *               different ids in different branches */
  def retract(assign: DataFrame, edges: DataFrame, ids: DataFrame): DataFrame = {
    val rid = ids.select(col("id"))
    // localCheckpoint (eager) the two small driver frames: the result embeds
    // `assign` once (in keep) instead of four times — the same
    // exponential-lineage hazard the step's delta frames guard against
    val affected = assign.join(rid, Seq("id"), "left_semi")
      .select(col("component")).distinct().localCheckpoint()
    val keep = assign.join(affected, Seq("component"), "left_anti")
    // members of affected components that survive the retraction
    val survivors = assign.join(affected, Seq("component"), "left_semi")
      .join(rid, Seq("id"), "left_anti")
      .select(col("id")).localCheckpoint()
    val subEdges = edges
      .select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
      .join(survivors.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(survivors.select(col("id").as("dst")), Seq("dst"), "left_semi")
    val recomputed = Dedup.trackPersist(ConnectedComponents.run(subEdges))
    val singletons = survivors.join(recomputed, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    // the key join moved `component` first — restore (id, component) order
    keep.select(col("id"), col("component"))
      .unionByName(recomputed.select(col("id"), col("component")))
      .unionByName(singletons)
  }

  // ------------------------- persisted state layout -------------------------
  // Per-batch deltas `remap_delta_N` / `fresh_delta_N` (committed = both
  // carry _SUCCESS). UNLIKE the dedup families, CC state does not rebuild by
  // plain union: remaps are label SUBSTITUTIONS that compose in batch order,
  // so the reader folds live deltas ascending over the last compacted
  // assignment. Compaction every `compactEvery` batches writes the fully
  // folded assignment as `assign_N` and publishes the `compacted_N` marker
  // LAST (a crash before the marker leaves an unreferenced assign dir and a
  // correct delta chain — the persistStep crash argument). Superseded
  // deltas/assigns are GC'd at the start of the NEXT batch, never in the
  // batch that wrote the marker (foreachBatch re-delivers a crashed commit;
  // the step is deterministic, so a re-delivered batch overwrites its own
  // deltas byte-compatibly).

  private val RemapP = "remap_delta_"; private val FreshP = "fresh_delta_"
  private val AssignP = "assign_"; private val CompactP = "compacted_"

  def ccCommittedBatches(stateDir: String): Seq[Long] =
    graft.plans.StateFs.listNames(stateDir)
      .flatMap(n => graft.plans.StateFs.numericSuffix(n, RemapP))
      .filter(b => graft.plans.StateFs.exists(stateDir, s"$RemapP$b/_SUCCESS") &&
        graft.plans.StateFs.exists(stateDir, s"$FreshP$b/_SUCCESS"))
      .distinct.sorted

  def ccCompactions(stateDir: String): Seq[Long] =
    graft.plans.StateFs.listNames(stateDir)
      .flatMap(n => graft.plans.StateFs.numericSuffix(n, CompactP)).sorted

  /** Assignment state before `beforeBatch`: the last compacted assignment
    * (empty when none) with every later committed delta folded in ascending
    * batch order — ≤ compactEvery−1 chained substitutions per read. Every
    * dir is read with its known schema: parquet schema inference would
    * launch one footer-reading job per dir. */
  def loadAssign(spark: org.apache.spark.sql.SparkSession, stateDir: String,
                 beforeBatch: Long, stringIds: Boolean = false): DataFrame = {
    val base = ccCompactions(stateDir).filter(_ < beforeBatch).lastOption
    val live = ccCommittedBatches(stateDir)
      .filter(b => b < beforeBatch && base.forall(b > _))
    def read(name: String, cols: String*) =
      spark.read.schema(idSchema(stringIds, cols: _*)).parquet(s"$stateDir/$name")
    val start = base match {
      case Some(c) => read(s"$AssignP$c", "id", "component")
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        idSchema(stringIds, "id", "component"))
    }
    live.foldLeft(start) { (assign, b) =>
      applyDelta(assign, Delta(read(s"$RemapP$b", "component", "newComp"),
        read(s"$FreshP$b", "id", "component")))
    }
  }

  /** A state dir's schema: every column a node id (string or long). */
  private def idSchema(stringIds: Boolean, cols: String*) = {
    val t = if (stringIds) org.apache.spark.sql.types.StringType
            else org.apache.spark.sql.types.LongType
    org.apache.spark.sql.types.StructType(
      cols.map(org.apache.spark.sql.types.StructField(_, t)))
  }

  private def gcSuperseded(stateDir: String, currentBatch: Long): Unit =
    ccCompactions(stateDir).filter(_ < currentBatch).lastOption.foreach { base =>
      ccCommittedBatches(stateDir).filter(_ <= base).foreach { b =>
        graft.plans.StateFs.deleteRecursive(stateDir, s"$RemapP$b")
        graft.plans.StateFs.deleteRecursive(stateDir, s"$FreshP$b")
      }
      ccCompactions(stateDir).filter(_ < base).foreach { c =>
        graft.plans.StateFs.deleteRecursive(stateDir, s"$AssignP$c")
        graft.plans.StateFs.deleteRecursive(stateDir, s"$CompactP$c")
      }
    }

  /** The per-batch persisted-state body (shared by [[run]] and composed
    * drivers — [[IncrementalLinkage.run]]'s `entityStateDir`, which passes
    * `block_key` as `groupCol`): GC superseded state, load the assignment,
    * fold the batch's edges, write the O(delta) remap/fresh deltas, compact
    * on cadence. Deterministic given the same prior state, so a re-delivered
    * batch (caller's checkpoint crashed mid-commit) overwrites its own dirs
    * byte-compatibly. */
  private[streaming] def persistCcStep(sp: org.apache.spark.sql.SparkSession,
      stateDir: String, batchId: Long, edges: DataFrame,
      stringIds: Boolean, compactEvery: Int,
      groupCol: Option[String] = None): Unit = {
    gcSuperseded(stateDir, batchId)
    // pinned: the delta's endpoint lookup AND a compaction batch's folded
    // write both read the assignment fold (base parquet + up to
    // compactEvery-1 substitution joins) — unpersisted it would execute twice
    val prev = Dedup.trackPersist(loadAssign(sp, stateDir, batchId, stringIds))
    val d = delta(prev, edges, groupCol)
    d.remap.write.mode("overwrite").parquet(s"$stateDir/$RemapP$batchId")
    d.fresh.write.mode("overwrite").parquet(s"$stateDir/$FreshP$batchId")
    val base = ccCompactions(stateDir).filter(_ < batchId).lastOption
    val liveN = ccCommittedBatches(stateDir)
      .count(b => b <= batchId && base.forall(b > _))
    if (compactEvery > 0 && liveN >= compactEvery) {
      applyDelta(prev, d).write.mode("overwrite")
        .parquet(s"$stateDir/$AssignP$batchId")
      graft.plans.StateFs.publish(stateDir, s"$CompactP$batchId",
        Array.empty[Byte])
    }
  }

  /** Streaming driver: file-source edge stream → foreachBatch incremental
    * delta (the [[IncrementalDedup.run]] shape with the CC fold). Per-batch
    * state I/O is O(delta); a compaction batch additionally writes the
    * folded O(state) assignment. Restart resumes from the checkpoint's
    * consumed-file ledger — exactly-once per batch. */
  def run(spark: org.apache.spark.sql.SparkSession, inDir: String,
          stateDir: String, checkpoint: String, stringIds: Boolean = false,
          compactEvery: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingIngest.readEdges(spark, inDir, stringIds).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sp = batch.sparkSession
        persistCcStep(sp, stateDir, batchId, batch.toDF(), stringIds, compactEvery)
        Dedup.releaseCaches(sp)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
