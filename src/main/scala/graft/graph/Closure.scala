package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative transitive closure to forest roots ("ur-conversation"
  * resolution).
  *
  * Rebuilds the capability of the reference's driver-controlled fixpoint
  * loop (`code/create-db/2_enrich_ur_conversation_ids.py:29-52`): a map of
  * `child conversation -> parent conversation` edges is collapsed so every
  * node points at the root of its tree, then joined back onto the fact
  * table with `COALESCE(root, own_id)`.
  *
  * Spark-first design notes (100 TB):
  *  - Pointer jumping (`anc := anc.anc`) doubles resolved path length per
  *    iteration, so convergence takes O(log2(max depth)) shuffle joins —
  *    the reference's single-step `UPDATE` loop is O(depth).
  *  - `localCheckpoint(eager = true)` after each iteration cuts the
  *    exponentially growing lineage, otherwise replanning cost dominates.
  *  - The join key (`anc`) is the shuffle key each round; AQE handles the
  *    shrinking change-set by coalescing partitions.
  *  - The reference has no cycle guard (mutual quotes would hang it); we
  *    stop at `maxIter` and leave remaining cycle members pointing at
  *    their current ancestor, which is deterministic because the jump is.
  */
object Closure {

  /** edges: (id, parent) with at most one parent per id (a forest, except
    * for possible cycles). Returns (id, root) for every id that appears
    * as a child; roots themselves are absent (as in the reference map).
    */
  def resolveRoots(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val m0 = edges.select(col("id"), col("parent").as("anc")).localCheckpoint(true)
    // loop width sized to the map volume; AQE off in the narrow regime
    // so each round's probe is one job, not one per query stage (r21 —
    // Scale.withSizedLoopConfs; cluster scale: confs untouched)
    graft.util.Scale.withSizedLoopConfs(m0.sparkSession, m0.count()) { _ =>
      resolveLoop(m0, maxIter)
    }
  }

  private def resolveLoop(m0: DataFrame, maxIter: Int): DataFrame = {
    var m = m0
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // TWO doublings per materialized job: each join is one pointer
      // doubling, so total join/shuffle volume to convergence is the
      // same as one-per-job, but the fixed per-job cost (scheduling,
      // probe action, checkpoint) is paid half as often — at fixture
      // scale that fixed cost IS the runtime. The second join's two
      // identical m1 subtrees collapse into one ReusedExchange.
      // (A three-doubling variant was driver-measured SLOWER in r20 —
      // q22 2.76→3.19 s, joins bhj 15→28 — the two overshoot joins per
      // round cost more than the one probe job they save; reverted.)
      val m1 = m.as("a")
        .join(m.as("b"), col("a.anc") === col("b.id"), "left")
        .select(
          col("a.id"),
          coalesce(col("b.anc"), col("a.anc")).as("anc"),
          col("b.anc").isNotNull.as("_jumped"))
      // Lazy checkpoint: the convergence probe below is the job that
      // materializes this iteration's result (one job per iteration, and
      // the logical plan stays O(1) instead of growing with iterations).
      // The probe checks STAGE-1 jumps only — if no pointer moved in the
      // first doubling, m was already fully converged and the second
      // doubling was a no-op too. No `limit(1)` on the probe: codegen
      // names each LimitExec's counter from a JVM-wide sequence, so a
      // limited probe is fresh Java source every round that no codegen
      // cache can reuse, and the checkpoint reads every partition anyway.
      val next = m1.as("a")
        .join(m1.as("b"), col("a.anc") === col("b.id"), "left")
        .select(
          col("a.id"),
          coalesce(col("b.anc"), col("a.anc")).as("anc"),
          col("a._jumped"))
        .localCheckpoint(false)
      changed = next.where(col("_jumped")).count()
      m = next.drop("_jumped")
      iter += 1
    }
    m.withColumnRenamed("anc", "root")
  }

  /** Frontier-shrinking variant of [[resolveRoots]]: a row is *settled*
    * the moment its pointer lands on a root (no incoming map row) or on
    * an already-settled row (whose pointer is final by induction).
    * Settled rows leave the probe side, so late iterations touch only
    * the deep-chain tail instead of the whole relation — the work saver
    * at 100 TB where most chains are short and a few are very deep.
    *
    * Note: unions of same-lineage checkpointed parts trip Catalyst's
    * union constraint rewriting (AttributeMap key-not-found), so
    * constraint propagation is disabled for the duration of the loop —
    * these tiny iteration plans gain nothing from it anyway.
    */
  def resolveRootsFrontier(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val confKey = "spark.sql.constraintPropagation.enabled"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "false")
    try {
      var active = edges
        .select(col("id"), col("parent").as("anc"), lit(false).as("settled"))
        .localCheckpoint(true)
      var settledParts: List[DataFrame] = Nil
      var iter = 0
      var activeCount = active.count()
      while (activeCount > 0 && iter < maxIter) {
        val target = (settledParts :+ active).map(_.toDF("id", "anc", "settled"))
          .reduce(_ unionByName _)
        val next = active.as("a")
          .join(target.as("b"), col("a.anc") === col("b.id"), "left")
          .select(
            col("a.id"),
            coalesce(col("b.anc"), col("a.anc")).as("anc"),
            (col("b.id").isNull || col("b.settled")).as("settled"))
          .localCheckpoint(false)
        active = next.where(!col("settled"))
        settledParts ::= next.where(col("settled"))
        activeCount = active.count()
        iter += 1
      }
      // cycle survivors (never settle) keep their current ancestor
      (settledParts :+ active).map(_.toDF("id", "anc", "settled"))
        .reduce(_ unionByName _)
        .select(col("id"), col("anc").as("root"))
        .localCheckpoint(true)
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  /** INCREMENTAL root maintenance: extend a settled root map with an
    * append-only edge batch WITHOUT re-traversing the settled graph —
    * at 100 TB with a continuous crawl, each batch's closure work must
    * be O(batch), not O(corpus).
    *
    * `settled`: (id, root) — [[resolveRoots]]' output for the existing
    * forest. `newEdges`: (id, parent) — an APPEND-ONLY batch: its
    * child ids are new (never re-parents a node the settled map
    * already resolves), which is exactly the arrival order a crawl
    * produces (children arrive after their parents). The contract is
    * ENFORCED, not assumed: a batch child found among the settled ids
    * (delta probe join) or among the old roots (pass-through join)
    * raises loudly instead of emitting conflicting rows — the spec
    * plants both violation shapes and a depth-ordered ANY-prefix-split
    * property pins exactly what holds. Under the contract the result
    * is EXACTLY `resolveRoots(old ∪ new)` (the spec and q180's shared
    * batch oracle pin hash-equality):
    *
    *  - the batch resolves INTERNALLY first — `resolveRoots(newEdges)`
    *    is O(log batch-depth) joins over batch-sized relations only —
    *    landing each new child on its first ancestor WITHOUT a batch
    *    edge; that ancestor is either an old child (settled, final by
    *    induction) or a root (old or new);
    *  - then the settled map streams ONCE past a BROADCAST of the
    *    batch ancestors to lift them onto their final roots (see
    *    [[addEdgesDelta]]) — the settled relation is never shuffled
    *    and never rewritten (the spec pins exactly two scans: probe +
    *    union pass-through, zero exchanges on it).
    */
  def addEdges(settled: DataFrame, newEdges: DataFrame,
               maxIter: Int = 50): DataFrame =
    settled.select(col("id"), col("root"))
      .unionByName(addEdgesDelta(settled, newEdges, maxIter))

  /** The APPEND a batch contributes — just the new children's rows,
    * the relation a production deployment appends to its settled
    * store ([[addEdges]] = settled ∪ delta; under the append-only
    * contract the key sets are disjoint, spec-pinned).
    *
    * Scale shape — ZERO corpus-side shuffles: the batch resolves
    * internally first (batch-sized pointer jumping), then the settled
    * map streams ONCE past a BROADCAST of the batch ancestors (the
    * inner probe) — the settled relation is never shuffled and never
    * rewritten; the remaining join is batch × batch. A partition-
    * pruned / bucketed settled store cuts even the scan.
    */
  def addEdgesDelta(settled: DataFrame, newEdges: DataFrame,
                    maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val batchRoots = resolveRoots(newEdges, maxIter)
    // Append-only contract GUARD (the repo's fail-loudly discipline): a
    // batch edge that re-parents an id the settled forest already
    // contains would make [[addEdges]]' union silently emit conflicting
    // rows (if the id is a settled CHILD) or silently strand every
    // settled descendant on a stale root (if the id is an old ROOT —
    // present only in the root column). Both halves of the guard ride
    // the EXISTING single probe scan: the broadcast side carries every
    // batch child id tagged _viol=true alongside the root probe keys,
    // and the stream side generates both match keys map-side (id for
    // the lift probe + the child-vs-settled-id half; root for the
    // child-vs-old-root half) — one settled scan, zero exchanges on
    // the corpus-sized relation, exactly as before.
    val probeSide = batchRoots
        .select(col("id"), col("root").as("_pk"), lit(false).as("_viol"))
      .unionByName(batchRoots
        .select(col("id"), col("id").as("_pk"), lit(true).as("_viol")))
    val keyed = settled
      .select(col("id"), col("root"), explode(array(
        struct(col("id").as("_k"), lit(true).as("_isId")),
        struct(col("root").as("_k"), lit(false).as("_isId")))).as("_e"))
      .select(col("root").as("_sroot"), col("_e._k").as("_k"),
        col("_e._isId").as("_isId"))
    val lifted = keyed
      .join(broadcast(probeSide), col("_k") === col("_pk"))
      .where(col("_viol") || col("_isId"))
      .select(
        when(col("_viol"), raise_error(concat(
          lit("Closure.addEdges: append-only contract violated — " +
            "batch edge re-parents "),
          when(col("_isId"), lit("already-settled id "))
            .otherwise(lit("old root ")),
          col("_k").cast("string"))))
          .otherwise(col("id")).as("id"),
        col("_sroot").as("_lifted"))
    batchRoots
      .join(broadcast(lifted), Seq("id"), "left")
      .select(col("id"), coalesce(col("_lifted"), col("root")).as("root"))
  }

  /** Attach `ur_conversation_id = COALESCE(root, conversation_id)` — the
    * reference's final enrichment join
    * (`2_enrich_ur_conversation_ids.py:49-52`). */
  def enrich(facts: DataFrame, edges: DataFrame, idCol: String,
             outCol: String = "ur_conversation_id", maxIter: Int = 50): DataFrame = {
    // join-column names chosen to not collide with ANY caller column
    def free(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !facts.columns.contains(n)).get
    val idName = free("_closure_id")
    val rootName = free("_closure_root")
    val roots = resolveRoots(edges, maxIter)
      .select(col("id").as(idName), col("root").as(rootName))
    facts.join(roots, facts(idCol) === col(idName), "left")
      .withColumn(outCol, coalesce(col(rootName), facts(idCol)))
      .drop(idName, rootName)
  }
}
