package graft.stats

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Pathological-skew escape hatch for the tree-statistics stage.
  *
  * [[TreeStats.compute]] builds each conversation's forest inside one
  * aggregation buffer (~72 B/node), so a single viral mega-conversation
  * (10⁷+ tweets) concentrates gigabytes in one task. This variant
  * re-expresses the same 41-column semantics
  * (`code/create-db/3_create_tweet_stats_i.py:64-221`) as pure relational
  * algebra, so every step is an ordinary shuffled join/aggregate with
  * spill — task memory stays bounded no matter how large one group gets:
  *
  *  1. ancestor/descendant path pairs by pointer doubling — round i
  *     extends the exact-2^i jump table through all known ≤2^i paths, so
  *     every pair is produced exactly once and convergence takes
  *     O(log depth) self-joins (same recurrence as
  *     [[graft.graph.Closure.resolveRoots]]);
  *  2. one hash aggregate over the pairs computes every transitive stat
  *     closed-form: descendants/t_X as sums, t_authors as exact distinct,
  *     max_depth as max(rel_depth), and the memoized-branch quirk
  *     sum_depth = Σ_leaf (rel_depth − 1) (a leaf at depth d contributes
  *     d−1, `3_create_tweet_stats_i.py:110`);
  *  3. the MAD stats touch self + DIRECT children only (`:166-178`), so
  *     one more edge join against the parent's subtree means finishes the
  *     row. `ur_depth_mad` deviates against the children's PLAIN
  *     max_depth exactly like the reference (`:145`).
  *
  * Pair volume is O(nodes × avg depth) — distributed and spillable, the
  * right trade for the wide-and-shallow shape real viral conversations
  * have. (A 10⁷-node chain would make the closure quadratic; depth
  * pathology stays on the in-memory path, which handles it in O(n).)
  *
  * Cycles — impossible in real reply trees, unguarded in the reference,
  * deterministically broken by [[TreeStats.processGroup]] — FAIL LOUDLY
  * here: the doubling loop's convergence probe doubles as a cycle
  * detector (a depth>0 self-pair can only come from a cycle, and cycle
  * wraps keep the frontier non-empty until one appears), so
  * constructible-but-invalid input raises instead of returning
  * truncated-path stats that silently disagree with the in-memory
  * formulation. Spec-pinned in TreeStatsIterativeSpec.
  */
object TreeStatsIterative {

  /** Iterative-join formulation over the whole input. Semantics equal to
    * [[TreeStats.compute]] on acyclic input (long stats exactly; MAD
    * doubles up to float summation order, which groupBy sums don't fix).
    *
    * Parallelism is sized to the data, same discipline as
    * [[graft.graph.PageRank]]: this formulation is ~10 shuffled stages,
    * and running each at full conf width for a small input pays fixed
    * task/stage costs that dominate the runtime (measured ~2× at
    * sf0.1). The node relation is materialized once, counted, and —
    * when the sized width is below the session's — the whole body runs
    * under a narrowed `spark.sql.shuffle.partitions` with the result
    * eagerly materialized before the conf is restored (a lazy plan
    * would be re-planned at conf width by the caller; eager is safe
    * here because the narrow regime only triggers when the data is
    * small). At cluster scale the sizing caps at the session width and
    * the method is exactly the lazy full-width plan.
    */
  def compute(tweets: Dataset[TreeInput], maxIter: Int = 30): Dataset[TreeStatsRow] = {
    val spark = tweets.sparkSession
    import spark.implicits._

    // one parent edge per node, reply > retweet > quote precedence
    // (3_create_tweet_stats_i.py:235-240); parents referenced but absent
    // from the data act as placeholder roots (never emitted), which falls
    // out for free here: absent ids get no self-pair and no node row.
    // Materialized once: every downstream relation (edges, tallies,
    // flags, the final assembly) re-reads this instead of re-running the
    // upstream lineage, and the count sizes the stage width.
    val nodes = tweets.toDF().select(
      col("tweet_id").as("id"),
      // non-null author ENFORCED, not assumed: the two-level author
      // aggregate would count a null author as its own group where
      // countDistinct (and TreeStats' long-keyed sets) skip nulls —
      // fail loudly at the boundary instead of silently drifting.
      // TreeInput declares author_id: Long, but DataFrame-level callers
      // can still smuggle a null through; coalesce short-circuits, so
      // the error expression never evaluates on valid rows.
      coalesce(col("author_id"),
        raise_error(concat(lit("TreeStatsIterative: null author_id for tweet "),
          col("tweet_id").cast("string")))).as("author_id"),
      col("reply_count"), col("quote_count"),
      col("like_count"), col("retweet_count"),
      when(col("in_reply_to").isNotNull, col("in_reply_to"))
        .otherwise(coalesce(col("retweet_of"), col("quotes"))).as("parent"),
      col("in_reply_to").isNotNull.as("is_reply_edge"))
      .localCheckpoint(true)

    val confW = spark.sessionState.conf.numShufflePartitions
    val nPart = math.max(2, math.min(confW, (nodes.count() / 1000000L).toInt + 1))
    if (nPart >= confW) computeFrom(nodes, maxIter)
    else {
      // spark.sql.shuffle.partitions is SESSION-global: pinning it for
      // the duration of compute assumes no concurrent queries share this
      // SparkSession (same single-query assumption as PageRank's
      // withLoopConfs). Concurrent callers should isolate via
      // spark.newSession(), which clones confs but shares the catalog.
      // AQE is ALSO off in this narrow regime (r21 — the PageRank /
      // KMeans.withSizedLoopConfs discipline): the loop's convergence
      // probes and the assembly joins are hand-shaped small-width
      // stages, and each AQE query-stage materialization is an extra
      // ~60-100 ms scheduling round-trip per exchange per probe action
      // that has nothing to coalesce at 2 partitions. The cluster-scale
      // branch above (nPart >= confW) keeps AQE untouched — skew
      // handling stays where the data is big.
      val partKey = "spark.sql.shuffle.partitions"
      val aqeKey = "spark.sql.adaptive.enabled"
      val prev = spark.conf.getOption(partKey)
      val prevAqe = spark.conf.getOption(aqeKey)
      spark.conf.set(partKey, nPart.toString)
      spark.conf.set(aqeKey, "false")
      // coalesce (no shuffle) so the NARROW stages reading the
      // checkpoint run at the sized width too, not the ambient one.
      // Only the PAIR LOOP runs narrow: its per-round relations are
      // node-sized and its cost is per-probe fixed latency. The
      // downstream stats assembly aggregates the PAIR relation —
      // O(nodes × depth), a different volume class — so it is built
      // AFTER the confs restore and plans lazily at ambient width with
      // AQE back on (r21: at nPart=2 the assembly was one 54-task
      // chain of 2-wide stages, 2.3 s of serialized stage latency).
      val pairs =
        try buildPairs(nodes.coalesce(nPart), maxIter)
        finally {
          (prev match {
            case Some(v) => spark.conf.set(partKey, v)
            case None => spark.conf.unset(partKey)
          }): Unit
          prevAqe match {
            case Some(v) => spark.conf.set(aqeKey, v)
            case None => spark.conf.unset(aqeKey)
          }
        }
      assembleStats(nodes, pairs)
    }
  }

  /** [[compute]] with broadcast hash joins disabled for the duration —
    * the plan shape a cluster-scale run takes once the doubling join's
    * build side exceeds the broadcast threshold. SCALEPROBE_r16b showed
    * the loop legitimately switching to this sort-merge form at 10×
    * fixture scale (the adjudicated `tree_stats_iterative` sig
    * mismatch), but until round 17 no oracle row ever EXECUTED it: q58
    * gates the broadcast shape only. This arm is registered as
    * q228_tree_stats_smj against the same generated oracle, so the
    * strategy the 100 TB design actually relies on is itself
    * hash-gated (VERDICT r16 item 2).
    *
    * Both the static and the adaptive broadcast thresholds are pinned
    * to -1 (AQE's join conversion reads the adaptive key, falling back
    * to the static one — leaving it unset would let AQE demote the
    * sort-merge join back to broadcast at runtime and the arm would
    * silently test nothing). The result is materialized eagerly before
    * the confs are restored — a lazy plan would be re-planned with
    * broadcast re-enabled at the caller's action. Same session-global
    * conf caveat as the sized-width path in [[compute]].
    */
  def computeSortMerge(tweets: Dataset[TreeInput],
                       maxIter: Int = 30): Dataset[TreeStatsRow] = {
    val spark = tweets.sparkSession
    import spark.implicits._
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try compute(tweets, maxIter).toDF()
      .localCheckpoint(true).as[TreeStatsRow]
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The formulation body over a MATERIALIZED node relation. */
  private def computeFrom(nodesCk: DataFrame, maxIter: Int): Dataset[TreeStatsRow] =
    assembleStats(nodesCk, buildPairs(nodesCk, maxIter))

  /** The pointer-doubling path-pair loop over a MATERIALIZED node
    * relation — split from the stats assembly so [[compute]]'s narrow
    * regime can run ONLY the loop at sized width / AQE off while the
    * pair-volume-sized assembly plans at ambient width. */
  private def buildPairs(nodes: DataFrame, maxIter: Int): DataFrame = {
    val spark = nodes.sparkSession

    val edges = nodes.where(col("parent").isNotNull)
      .select(col("id").as("d"), col("parent").as("a"),
        lit(1L).as("depth"), col("is_reply_edge").as("plain"))

    // ── 1. path pairs by doubling ─────────────────────────────────────
    // parts(k) holds pairs of depth in ((2^(k-1)), 2^k]; jumps = exact-2^i
    // ancestor pointers. New pairs (2^i, 2^(i+1)] decompose uniquely as
    // exact-2^i jump + known ≤2^i path, so no dedup pass is ever needed.
    // Unions of same-lineage checkpointed parts trip Catalyst's union
    // constraint rewriting (AttributeMap key-not-found), so constraint
    // propagation is off for the loop.
    val confKey = "spark.sql.constraintPropagation.enabled"
    val prevConf = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "false")
    try {
        // extend(J, K): paths J-then-K — J is an exact-2^i jump table, K
        // all known ≤2^i paths, so the result covers (2^i, 2^(i+1)]
        // uniquely (a path of length L in that range decomposes exactly
        // once as 2^i + (L − 2^i)).
        def extend(j: DataFrame, k: DataFrame): DataFrame = j.as("j")
          .join(k.as("p"), col("j.a") === col("p.d"))
          .select(col("j.d").as("d"), col("p.a").as("a"),
            (col("j.depth") + col("p.depth")).as("depth"),
            (col("j.plain") && col("p.plain")).as("plain"))
        def norm(df: DataFrame): DataFrame = df.toDF("d", "a", "depth", "plain")
        // edges is a one-hop narrow derivation of the already-
        // materialized node relation — re-reading it per extend is a
        // cheap map over the checkpoint, no extra materialization job.
        // The loop is SEEDED with the depth-2 paths (lazy checkpoint,
        // materialized inside round 1's probe job): known coverage
        // after round i is 2·4^i instead of 4^i, which drops one
        // materialized round for typical depth ranges — at fixture
        // scale the per-round fixed cost is the runtime (invariant
        // intact: jumps=exact-2 with known ≤2 decomposes (2,4]
        // uniquely, exactly like the unseeded first round).
        val d2 = extend(edges, edges).localCheckpoint(false)
        var parts: List[DataFrame] = List(d2, edges)
        var jumps = d2
        var iter = 0
        var more = !edges.isEmpty
        // TWO doublings per materialized round (same trick as
        // Closure.resolveRoots): the convergence probe on extB is the one
        // job that materializes extA, jumps2 and extB together, so the
        // fixed per-job cost (scheduling, checkpoint, probe action) is
        // paid half as often — at fixture scale that fixed cost IS the
        // runtime. If extB is empty, extA (possibly non-empty) still
        // completes the closure: no path exceeds 2^(i+1).
        while (more && iter < maxIter) {
          val known = parts.map(norm).reduce(_ unionByName _)
          val extA = extend(jumps, known).localCheckpoint(false)
          val jumps2 = extend(jumps, jumps).localCheckpoint(false)
          val extB = extend(jumps2, known.unionByName(norm(extA))).localCheckpoint(false)
          // ONE aggregate probe materializes the round and doubles as
          // the cycle guard: each node carries at most one parent, so
          // the graph is a forest plus possible cycles, and a
          // (d == a, depth > 0) self-pair can ONLY come from a cycle.
          // Cycle wraps generate paths at every depth, so a cyclic
          // input keeps extB non-empty and self-pairs land in it within
          // O(log cycle-length) rounds — detection is guaranteed before
          // any silent truncation could return wrong stats.
          val probe = extB.agg(count(lit(1)).as("n"),
            max(when(col("d") === col("a"), 1).otherwise(0)).as("cyc")).head()
          if (!probe.isNullAt(1) && probe.getInt(1) == 1)
            throw new IllegalStateException(
              "TreeStatsIterative: cycle detected in parent pointers — " +
                "impossible in real reply trees; route this group through " +
                "TreeStats.compute, which breaks cycles deterministically")
          more = probe.getLong(0) > 0
          if (more) {
            parts = extB :: extA :: parts
            jumps = extend(jumps2, jumps2).localCheckpoint(false)
          } else {
            parts ::= extA // may be empty; harmless in the final union
          }
          iter += 1
        }
        parts.map(norm).reduce(_ unionByName _)
      } finally prevConf match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
  }

  /** Aggregate the 41-column stats row from the node relation and the
    * path-pair relation ([[buildPairs]]' output). */
  private def assembleStats(nodes: DataFrame, pairs: DataFrame): Dataset[TreeStatsRow] = {
    val spark = nodes.sparkSession
    import spark.implicits._

    val edges = nodes.where(col("parent").isNotNull)
      .select(col("id").as("d"), col("parent").as("a"),
        lit(1L).as("depth"), col("is_reply_edge").as("plain"))

    // direct-children tallies; every child is a present row by construction
    val childTally = edges.groupBy(col("a").as("id"))
      .agg(sum(when(col("plain"), 1L).otherwise(0L)).as("n_reply_children"),
        count(lit(1)).as("n_all_children"))

    val flagged = nodes.join(childTally, Seq("id"), "left")
      .na.fill(0L, Seq("n_reply_children", "n_all_children"))
      // plain leaf = no reply children (`combine`'s leafInit); the ur leaf
      // test depends on the node's OWN edge type: reply children count as
      // ur-leaves when they have no reply children, ur children only when
      // they have no children at all (`3_create_tweet_stats_i.py:75-87`)
      .withColumn("plain_leaf", col("n_reply_children") === 0)
      .withColumn("ur_leaf_flag",
        when(col("parent").isNull, lit(false))
          .when(col("is_reply_edge"), col("n_reply_children") === 0)
          .otherwise(col("n_all_children") === 0))

    // self-pairs make every present node its own depth-0 "descendant" so
    // t_X start at own counts and author sets include the node itself
    val allPairs = pairs.unionByName(
      flagged.select(col("id").as("d"), col("id").as("a"),
        lit(0L).as("depth"), lit(true).as("plain")))

    // ── 2. one aggregate for every transitive stat ────────────────────
    val descSide = flagged.select(col("id").as("d"),
      col("author_id").as("d_author"),
      col("reply_count").as("d_reply"), col("quote_count").as("d_quote"),
      col("like_count").as("d_like"), col("retweet_count").as("d_retweet"),
      col("plain_leaf").as("d_plain_leaf"), col("ur_leaf_flag").as("d_ur_leaf"))

    val isDesc = col("depth") > 0
    // exact distinct authors via an explicit two-level aggregate: a
    // single agg with two countDistinct would plan an Expand that
    // triples EVERY pair row through the exchange — on the pair
    // relation (the largest intermediate, O(nodes × depth)) that 3× is
    // the dominant shuffle at scale. (a, author) collapses map-side
    // first, so the second shuffle carries one row per distinct pair.
    // (Assumes non-null author_id, like the reference and TreeStats'
    // long-keyed sets — a null author would count here, not be skipped.)
    val authorCounts = allPairs
      .join(descSide.select(col("d"), col("d_author")), Seq("d"))
      .groupBy(col("a"), col("d_author"))
      .agg(max(when(col("plain"), 1L).otherwise(0L)).as("has_plain"))
      .groupBy(col("a").as("id"))
      .agg(sum(col("has_plain")).as("t_authors"),
        count(lit(1)).as("ur_t_authors"))
    val subtree = allPairs.join(descSide, Seq("d"))
      .groupBy(col("a").as("id"))
      .agg(
        count(when(col("plain") && isDesc, 1)).as("descendants"),
        count(when(isDesc, 1)).as("ur_descendants"),
        count(when(col("plain") && isDesc && col("d_plain_leaf"), 1)).as("leaf_descendants"),
        count(when(isDesc && col("d_ur_leaf"), 1)).as("ur_leaf_descendants"),
        max(when(col("plain"), col("depth"))).as("max_depth"),
        max(col("depth")).as("ur_max_depth"),
        sum(when(col("plain") && isDesc && col("d_plain_leaf"), col("depth") - 1L))
          .as("sum_depth"),
        sum(when(isDesc && col("d_ur_leaf"), col("depth") - 1L)).as("ur_sum_depth"),
        sum(when(col("plain"), col("d_reply")).otherwise(0L)).as("t_reply_count"),
        sum(col("d_reply")).as("ur_t_reply_count"),
        sum(when(col("plain"), col("d_quote")).otherwise(0L)).as("t_quote_count"),
        sum(col("d_quote")).as("ur_t_quote_count"),
        sum(when(col("plain"), col("d_like")).otherwise(0L)).as("t_like_count"),
        sum(col("d_like")).as("ur_t_like_count"),
        sum(when(col("plain"), col("d_retweet")).otherwise(0L)).as("t_retweet_count"),
        sum(col("d_retweet")).as("ur_t_retweet_count"))
      .na.fill(0L, Seq("sum_depth", "ur_sum_depth"))
      // every id has a self-pair, so both aggregates cover the same keys
      .join(authorCounts, Seq("id"))
      .localCheckpoint(false) // consumed twice: parent means + final emit

    // subtree means as the reference normalizes them (`:200-221`)
    val means = subtree.select(col("id").as("p_id"),
      (when(col("leaf_descendants") =!= 0,
        col("sum_depth").cast("double") / col("leaf_descendants"))
        .otherwise(0.0)).as("p_mean_depth"),
      (when(col("ur_leaf_descendants") =!= 0,
        col("ur_sum_depth").cast("double") / col("ur_leaf_descendants"))
        .otherwise(0.0)).as("p_ur_mean_depth"),
      (col("t_reply_count") / (col("descendants") + lit(1.0))).as("p_mean_reply"),
      (col("t_quote_count") / (col("descendants") + lit(1.0))).as("p_mean_quote"),
      (col("t_like_count") / (col("descendants") + lit(1.0))).as("p_mean_like"),
      (col("t_retweet_count") / (col("descendants") + lit(1.0))).as("p_mean_retweet"),
      (col("ur_t_reply_count") / (col("ur_descendants") + lit(1.0))).as("p_ur_mean_reply"),
      (col("ur_t_quote_count") / (col("ur_descendants") + lit(1.0))).as("p_ur_mean_quote"),
      (col("ur_t_like_count") / (col("ur_descendants") + lit(1.0))).as("p_ur_mean_like"),
      (col("ur_t_retweet_count") / (col("ur_descendants") + lit(1.0))).as("p_ur_mean_retweet"))

    // ── 3. direct-children MAD terms against the parent's means ───────
    val childRows = nodes.where(col("parent").isNotNull)
      .select(col("id").as("c_id"), col("parent").as("p_id"),
        col("is_reply_edge").as("c_is_reply"),
        col("reply_count").as("c_reply"), col("quote_count").as("c_quote"),
        col("like_count").as("c_like"), col("retweet_count").as("c_retweet"))
      // every present node appears in `subtree` via its self-pair, so this
      // inner join keeps all child rows; max_depth is the child's PLAIN
      // max depth, used by BOTH depth MADs (the reference's `:145` quirk)
      .join(subtree.select(col("id").as("c_id"), col("max_depth").as("c_max_depth")), Seq("c_id"))
      .join(means, Seq("p_id"))

    val madAgg = childRows.groupBy(col("p_id").as("id"))
      .agg(
        sum(when(col("c_is_reply"), abs(col("p_mean_depth") - col("c_max_depth")))
          .otherwise(0.0)).as("mad_depth_sum"),
        sum(abs(col("p_ur_mean_depth") - col("c_max_depth"))).as("ur_mad_depth_sum"),
        sum(when(col("c_is_reply"), abs(col("c_reply") - col("p_mean_reply")))
          .otherwise(0.0)).as("mad_reply_c"),
        sum(abs(col("c_reply") - col("p_ur_mean_reply"))).as("ur_mad_reply_c"),
        sum(when(col("c_is_reply"), abs(col("c_quote") - col("p_mean_quote")))
          .otherwise(0.0)).as("mad_quote_c"),
        sum(abs(col("c_quote") - col("p_ur_mean_quote"))).as("ur_mad_quote_c"),
        sum(when(col("c_is_reply"), abs(col("c_like") - col("p_mean_like")))
          .otherwise(0.0)).as("mad_like_c"),
        sum(abs(col("c_like") - col("p_ur_mean_like"))).as("ur_mad_like_c"),
        sum(when(col("c_is_reply"), abs(col("c_retweet") - col("p_mean_retweet")))
          .otherwise(0.0)).as("mad_retweet_c"),
        sum(abs(col("c_retweet") - col("p_ur_mean_retweet"))).as("ur_mad_retweet_c"))

    // ── assemble the 41-column row ────────────────────────────────────
    val d1 = col("descendants") + lit(1.0)
    val urD1 = col("ur_descendants") + lit(1.0)
    def madOf(metric: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = (
      (abs(col(metric + "_count") - col("p_mean_" + metric))
        + coalesce(col("mad_" + metric + "_c"), lit(0.0))) / d1,
      (abs(col(metric + "_count") - col("p_ur_mean_" + metric))
        + coalesce(col("ur_mad_" + metric + "_c"), lit(0.0))) / urD1)
    val (madReply, urMadReply) = madOf("reply")
    val (madQuote, urMadQuote) = madOf("quote")
    val (madLike, urMadLike) = madOf("like")
    val (madRetweet, urMadRetweet) = madOf("retweet")

    flagged
      .join(subtree, Seq("id"))
      .join(means.withColumnRenamed("p_id", "id"), Seq("id"))
      .join(madAgg, Seq("id"), "left")
      .select(
        col("id").as("tweet_id"),
        col("n_reply_children").as("children"),
        col("n_all_children").as("ur_children"),
        col("descendants"), col("ur_descendants"),
        col("leaf_descendants"), col("ur_leaf_descendants"),
        col("max_depth"), col("ur_max_depth"),
        col("t_authors"), col("ur_t_authors"),
        col("t_reply_count"), col("ur_t_reply_count"),
        col("t_quote_count"), col("ur_t_quote_count"),
        col("t_like_count"), col("ur_t_like_count"),
        col("t_retweet_count"), col("ur_t_retweet_count"),
        (col("descendants").cast("double")
          / (lit(1L) + col("descendants") - col("leaf_descendants")))
          .as("branching_factor"),
        (col("ur_descendants").cast("double")
          / (lit(1L) + col("ur_descendants") - col("ur_leaf_descendants")))
          .as("ur_branching_factor"),
        col("p_mean_depth").as("mean_depth"),
        col("p_ur_mean_depth").as("ur_mean_depth"),
        when(col("leaf_descendants") =!= 0,
          coalesce(col("mad_depth_sum"), lit(0.0)) / col("n_reply_children"))
          .otherwise(0.0).as("depth_mad"),
        when(col("ur_leaf_descendants") =!= 0,
          coalesce(col("ur_mad_depth_sum"), lit(0.0)) / col("n_all_children"))
          .otherwise(0.0).as("ur_depth_mad"),
        col("p_mean_reply").as("mean_reply_count"),
        col("p_ur_mean_reply").as("ur_mean_reply_count"),
        madReply.as("reply_count_mad"), urMadReply.as("ur_reply_count_mad"),
        col("p_mean_quote").as("mean_quote_count"),
        col("p_ur_mean_quote").as("ur_mean_quote_count"),
        madQuote.as("quote_count_mad"), urMadQuote.as("ur_quote_count_mad"),
        col("p_mean_like").as("mean_like_count"),
        col("p_ur_mean_like").as("ur_mean_like_count"),
        madLike.as("like_count_mad"), urMadLike.as("ur_like_count_mad"),
        col("p_mean_retweet").as("mean_retweet_count"),
        col("p_ur_mean_retweet").as("ur_mean_retweet_count"),
        madRetweet.as("retweet_count_mad"), urMadRetweet.as("ur_retweet_count_mad"))
      .as[TreeStatsRow]
  }

  /** Skew router: groups up to `threshold` rows take the in-memory
    * aggregate ([[TreeStats.compute]] — one task per conversation, the
    * fast path for the realistic size distribution); larger groups are
    * diverted to the relational formulation. The big-group id list is
    * outlier-sized by definition, so it is collected once and both
    * side-splits are literal `isin` filters — the fact table shuffles
    * only inside the two compute paths themselves.
    */
  def computeHybrid(tweets: Dataset[TreeInput], threshold: Long = 2000000L,
                    maxIter: Int = 30): Dataset[TreeStatsRow] =
    hybridFromSizes(tweets, tweets.groupBy(col("group_id")).count(),
      threshold, maxIter)

  /** [[computeHybrid]] with the routing threshold derived from the data
    * instead of a caller guess: one metadata-sized log2 group-size
    * histogram (≤ 64 buckets — the q176 bounded-histogram discipline)
    * picks the smallest power-of-two boundary that keeps ≥ 99% of
    * groups on the in-memory path, capped at `capRows` (the physical
    * per-task memory bound that made 2 M the manual default). The
    * sizing aggregate is computed ONCE and shared between the
    * histogram and the over-threshold id collection — auto-routing
    * costs no extra corpus pass. Same results as any threshold (the
    * two compute paths are formulation-equivalent, spec-pinned);
    * auto-tuning only moves the split point.
    */
  def computeAuto(tweets: Dataset[TreeInput], capRows: Long = 2000000L,
                  maxIter: Int = 30): Dataset[TreeStatsRow] = {
    val sizes = tweets.groupBy(col("group_id")).count()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try hybridFromSizes(tweets, sizes, autoThresholdFrom(sizes, capRows), maxIter)
    finally { sizes.unpersist(blocking = false); () }
  }

  /** The auto-routing boundary from a (group_id, count) relation: with
    * b(s) = floor(log2 s) + 1 (= the binary digit count, exact via
    * string conv — no FP log), the threshold is 2^b* for the smallest
    * bucket b* whose cumulative group share reaches 99%, capped at
    * `capRows`. Groups in buckets ≤ b* have size < 2^b* ≤ threshold,
    * so ≥ 99% of groups stay on the in-memory path and only the tail
    * routes relational. */
  private[stats] def autoThresholdFrom(sizes: DataFrame, capRows: Long): Long = {
    val hist = sizes
      .select(length(expr("conv(count, 10, 2)")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (hist.isEmpty) capRows
    else {
      val total = hist.map(_._2).sum
      val need = (total * 99L + 99L) / 100L // ceil(0.99 · total)
      var cum = 0L
      var bStar = hist.head._1
      for ((b, n) <- hist) if (cum < need) { cum += n; bStar = b }
      math.min(capRows, 1L << math.min(bStar, 62))
    }
  }

  private def hybridFromSizes(tweets: Dataset[TreeInput], sizes: DataFrame,
                              threshold: Long,
                              maxIter: Int): Dataset[TreeStatsRow] = {
    val spark = tweets.sparkSession
    import spark.implicits._
    // one sizing pass: the over-threshold id list is outlier-sized by
    // definition, so it is collected once and both side-splits become
    // literal isin filters — the probe and the two join branches would
    // otherwise each re-run the full group-size aggregation
    val bigIds = sizes
      .where(col("count") > threshold)
      .select(col("group_id")).as[Long].collect()
    if (bigIds.isEmpty) TreeStats.compute(tweets)
    else if (bigIds.length <= MaxInlineIds) {
      val isBig = col("group_id").isin(bigIds.toIndexedSeq: _*)
      TreeStats.compute(tweets.where(!isBig).as[TreeInput])
        .unionByName(compute(tweets.where(isBig).as[TreeInput], maxIter))
    } else {
      // outlier assumption violated (low threshold / adversarial data):
      // a huge literal In() would blow past codegen and plan-size
      // limits, so degrade gracefully to broadcast semi/anti joins
      // against the already-collected id list
      import org.apache.spark.sql.functions.broadcast
      val ids = broadcast(bigIds.toIndexedSeq.toDF("group_id"))
      TreeStats.compute(
          tweets.join(ids, Seq("group_id"), "left_anti").as[TreeInput])
        .unionByName(compute(
          tweets.join(ids, Seq("group_id"), "left_semi").as[TreeInput], maxIter))
    }
  }

  /** Above this many over-threshold group ids, [[computeHybrid]] swaps
    * its literal `isin` side-splits for broadcast semi/anti joins — an
    * In() list this long stresses codegen and plan size for no gain. */
  val MaxInlineIds = 2048
}
