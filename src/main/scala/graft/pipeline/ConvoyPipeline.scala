package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.Closure
import graft.ingest.{Ingest, Sinks}
import graft.mart.Mart
import graft.stats.{TreeInput, TreeStats}

/** The complete reference pipeline, end to end — what a user of
  * dhh22/convoy-data-pipeline runs today, as one Spark program:
  *
  *  1. conversation-id extraction (`extract_conversation_ids.py`) — A1
  *  2. JSONL page ingest → tweets/users/entity tables (`1_initial_load.py`)
  *  3. ur-conversation closure (`2_enrich_ur_conversation_ids.py`) — J1-J4
  *  4. per-tweet tree statistics (`3_create_tweet_stats_i.py`) — A4-A6/P13
  *  5. tweets_a wide mart (`4_create_tweets_a.py`) — J5/P10
  *  6. conversation rollups (`5_create_conversation_tables.py`) — A3/J6
  *  7. columnar mart writes (`6_copy_tables_to_columnstore.py`) — K7/K8
  *
  * The reference runs these as six separate driver scripts against
  * MariaDB with per-conversation round trips; here each stage is a
  * DataFrame, and each multi-consumer stage output is materialized once
  * at its boundary with a lazy `localCheckpoint(eager = false)`:
  *
  *  - the parsed pages (`Ingest.load`), read by all six ingest outputs;
  *  - the deduped tweets (`Ingest.load`), read by ids, edges and closure;
  *  - the ur-enriched tweets, read by stats, `tweets_i`, the wide mart
  *    and both rollups;
  *  - the tree stats, read by `tweet_stats_i` and `tweets_a`.
  *
  * The first consumer computes the blocks and every later one reads
  * them, so the 11 sinks of [[write]] no longer re-derive their whole
  * lineage from the JSONL. Trade-off: the cut lineage means a lost
  * executor fails the job instead of recomputing (as in `Closure`); the
  * blocks are freed by the `ContextCleaner` once the outputs are
  * unreachable.
  *
  * [[write]] runs the 11 sinks concurrently, one thread each, so their
  * per-job driver work (planning, codegen, scheduling) overlaps on idle
  * cores instead of running one sink at a time. A boundary block is
  * still computed once: the block write lock makes concurrent readers
  * wait for the first writer.
  */
object ConvoyPipeline {

  case class Outputs(conversationIds: DataFrame, tweets: DataFrame,
                     users: DataFrame, hashtags: DataFrame, urls: DataFrame,
                     mentions: DataFrame, tweetStats: DataFrame,
                     tweetsWide: DataFrame, conversations: DataFrame,
                     urConversations: DataFrame, corrupt: DataFrame)

  /** Conversation→conversation parent edges from quote/retweet links
    * (`2_enrich_ur_conversation_ids.py:33-36`). Reply-link precedence
    * applies to QUOTE edges only — `WHERE ISNULL(t2.in_reply_to)` guards
    * the quotes join; the retweet join is unguarded, so a retweet that is
    * also a reply still contributes an edge, exactly as the reference.
    *
    * Deviation (documented in SURVEY §7.6): the reference's
    * `PRIMARY KEY (from_conversation_id)` makes it FAIL LOUDLY when one
    * conversation root carries edges to two different parents. An engine
    * operator should be total, so we instead collapse deterministically
    * to one parent per id — quote edges win over retweet edges, then the
    * smallest parent id — which also satisfies `Closure.resolveRoots`'
    * one-parent-per-id precondition. The pick is two plain `min`s (the
    * smallest quote parent, else the smallest parent), so it plans as a
    * hash aggregate; `parent` is never null after the self-edge filter.
    */
  def conversationEdges(tweets: DataFrame): DataFrame = {
    val t = tweets.select("tweet_id", "conversation_id", "in_reply_to",
      "quotes", "retweet_of")
    def edgesVia(linkCol: String, prio: Int, replyGuard: Boolean) = {
      val joined = t.as("c")
        .join(t.select(col("tweet_id").as("p_tweet_id"),
          col("conversation_id").as("p_conversation_id")).as("p"),
          col(s"c.$linkCol") === col("p_tweet_id"))
      (if (replyGuard) joined.where(col("c.in_reply_to").isNull) else joined)
        .select(col("c.conversation_id").as("id"),
          col("p_conversation_id").as("parent"), lit(prio).as("_prio"))
    }
    edgesVia("quotes", prio = 0, replyGuard = true)
      .union(edgesVia("retweet_of", prio = 1, replyGuard = false))
      .where(col("id") =!= col("parent"))
      .groupBy(col("id"))
      .agg(coalesce(min(when(col("_prio") === 0, col("parent"))), min(col("parent")))
        .as("parent"))
  }

  def run(spark: SparkSession, originalPaths: Seq[String],
          expansionPaths: Seq[String] = Seq.empty): Outputs = {
    import spark.implicits._

    // stage 2: ingest (stage 1's id extraction consumes the same pages)
    val loaded = Ingest.load(spark, originalPaths, expansionPaths)
    val tweets = loaded.tweets

    // stage 1: conversation ids with replies (filter + agg + distinct keys)
    val conversationIds = tweets
      .where(col("reply_count") > 0)
      .groupBy(col("conversation_id")).agg(sum(col("reply_count")).as("replies"))
      .select(col("conversation_id"))

    // stage 3: conversation→conversation edges from quote/retweet links;
    // a map under the broadcast threshold resolves on the driver in one
    // pass (Closure.resolveRoots), without joins or session conf changes
    val edges = conversationEdges(tweets)
    val withUr = Closure.enrich(tweets.drop("ur_conversation_id"), edges,
      "conversation_id").localCheckpoint(eager = false)

    // stage 4: tree statistics (singleton fast path handled in-operator).
    // Error-placeholder tweets have NULL conversation ids and get no
    // stats row — same outcome as the reference, whose per-conversation
    // fetch (`WHERE ur_conversation_id=%s`) never matches NULL.
    val statsInput = withUr.where(col("ur_conversation_id").isNotNull).select(
      col("tweet_id"), coalesce(col("author_id"), lit(-1L)).as("author_id"),
      col("in_reply_to"), col("retweet_of"), col("quotes"),
      coalesce(col("reply_count"), lit(0L)).as("reply_count"),
      coalesce(col("quote_count"), lit(0L)).as("quote_count"),
      coalesce(col("like_count"), lit(0L)).as("like_count"),
      coalesce(col("retweet_count"), lit(0L)).as("retweet_count"),
      col("ur_conversation_id").as("group_id")).as[TreeInput]
    val tweetStats = TreeStats.compute(statsInput).toDF().localCheckpoint(eager = false)

    // stages 5-6: marts
    val wide = Mart.tweetsWide(withUr, tweetStats)
    val conversations = Mart.conversationRollup(withUr, "conversation_id")
    val urConversations = Mart.conversationRollup(withUr, "ur_conversation_id")

    Outputs(conversationIds, withUr, loaded.users, loaded.hashtags,
      loaded.urls, loaded.mentions, tweetStats, wide, conversations,
      urConversations, loaded.corrupt)
  }

  /** Stage 7: materialize every mart as columnar parquet (K7/K8), sorted
    * on the hot keys the reference indexed.
    *
    * The 11 sinks run concurrently, each on its own thread of a pool
    * this call creates and shuts down. The threads are created by the
    * calling thread, so every sink job inherits the caller's Spark local
    * properties (job group, scheduler pool, any span key a listener
    * attributes jobs by). Failure contract: `write` waits for every sink
    * to finish, even when one fails or the caller is interrupted, then
    * rethrows the first failure in sink order (the sink's own exception,
    * not an `ExecutionException`) with any later failures attached as
    * suppressed. It never returns while a sink is still writing.
    */
  def write(out: Outputs, dir: String): Unit = {
    val sinks: Seq[() => Unit] = Seq(
      () => Sinks.idList(out.conversationIds, "conversation_id", s"$dir/conversation_ids"),
      () => Sinks.mart(out.tweets, s"$dir/tweets_i", sortCols = Seq("ur_conversation_id", "tweet_id")),
      () => Sinks.mart(out.users, s"$dir/users_a", sortCols = Seq("user_id")),
      () => Sinks.mart(out.hashtags, s"$dir/tweet_hashtags_a", sortCols = Seq("hashtag", "tweet_id")),
      () => Sinks.mart(out.urls, s"$dir/tweet_urls_a", sortCols = Seq("url", "tweet_id")),
      () => Sinks.mart(out.mentions, s"$dir/tweet_mentions_a", sortCols = Seq("user_id", "tweet_id")),
      () => Sinks.mart(out.tweetStats, s"$dir/tweet_stats_i", sortCols = Seq("tweet_id")),
      () => Sinks.mart(out.tweetsWide, s"$dir/tweets_a", sortCols = Seq("created_date")),
      () => Sinks.mart(out.conversations, s"$dir/conversations_a"),
      () => Sinks.mart(out.urConversations, s"$dir/ur_conversations_a"),
      () => Sinks.quarantine(out.corrupt, s"$dir/_quarantine"))
    // a pool of its own, never a shared one: a worker thread inherits
    // local properties only from the thread that creates it, and
    // `submit` creates each worker on this thread
    val pool = Executors.newFixedThreadPool(sinks.size)
    try {
      val pending = sinks.map(sink => pool.submit(new Callable[Unit] { def call(): Unit = sink() }))
      val failures = pending.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(1, TimeUnit.MINUTES)
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread.interrupt()
    }
  }
}
