package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL API-page ingest: the Spark rebuild of the reference's
  * `load_db` stage (`code/create-db/1_initial_load.py`).
  *
  * One JSONL line = one API response page with `data[]` tweets,
  * `includes.tweets[]`/`includes.users[]`, and `errors[]`. The reference
  * parses pages one at a time in driver Python and bulk-inserts with
  * `INSERT IGNORE` (first-wins PK dedup); here the whole ingest is one
  * declarative program: schema'd permissive JSON scan (corrupt lines
  * quarantined, not fatal — S1), nested-struct flattening as pure column
  * expressions (P1/P2), URL unwind + in-text rewrite as a higher-order
  * fold (P3), entity explosion (P4), referenced-tweet demux (P5),
  * error-row synthesis + union (P8), and deterministic first-wins dedup
  * (P7: original sample before expansion files, per SURVEY §7.6.2).
  *
  * Deviations (SURVEY §7.6): timestamps parsed correctly instead of the
  * reference's seconds-truncating string slice (`:134`); the user-url
  * unwound branch is a reference runtime bug (`:253` indexes a string)
  * and is rebuilt as the evident intent; mention-error usernames resolve
  * against the global mention map (broadcast join) instead of a per-page
  * dict — same result, since username→id is stable within a snapshot.
  */
object Ingest {

  private val urlStruct = StructType(Seq(
    StructField("url", StringType), StructField("expanded_url", StringType),
    StructField("unwound_url", StringType)))

  private val tweetStruct = StructType(Seq(
    StructField("id", StringType), StructField("conversation_id", StringType),
    StructField("author_id", StringType), StructField("created_at", StringType),
    StructField("lang", StringType), StructField("text", StringType),
    StructField("in_reply_to_user_id", StringType),
    StructField("public_metrics", StructType(Seq(
      StructField("retweet_count", LongType), StructField("reply_count", LongType),
      StructField("like_count", LongType), StructField("quote_count", LongType)))),
    StructField("referenced_tweets", ArrayType(StructType(Seq(
      StructField("type", StringType), StructField("id", StringType))))),
    StructField("entities", StructType(Seq(
      StructField("hashtags", ArrayType(StructType(Seq(StructField("tag", StringType))))),
      StructField("mentions", ArrayType(StructType(Seq(
        StructField("username", StringType), StructField("id", StringType))))),
      StructField("urls", ArrayType(urlStruct)))))))

  private val userStruct = StructType(Seq(
    StructField("id", StringType), StructField("username", StringType),
    StructField("name", StringType), StructField("description", StringType),
    StructField("created_at", StringType), StructField("verified", BooleanType),
    StructField("protected", BooleanType), StructField("url", StringType),
    StructField("location", StringType),
    StructField("public_metrics", StructType(Seq(
      StructField("followers_count", LongType), StructField("following_count", LongType),
      StructField("tweet_count", LongType), StructField("listed_count", LongType)))),
    StructField("entities", StructType(Seq(
      StructField("url", StructType(Seq(StructField("urls", ArrayType(urlStruct))))),
      StructField("description", StructType(Seq(StructField("urls", ArrayType(urlStruct))))))))))

  private val errorStruct = StructType(Seq(
    StructField("resource_type", StringType), StructField("resource_id", StringType),
    StructField("parameter", StringType), StructField("title", StringType),
    StructField("detail", StringType)))

  /** Twitter API v2 search-page schema (FIXTURES.md B1). */
  val pageSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(tweetStruct)),
    StructField("includes", StructType(Seq(
      StructField("tweets", ArrayType(tweetStruct)),
      StructField("users", ArrayType(userStruct))))),
    StructField("errors", ArrayType(errorStruct)),
    StructField("meta", StructType(Seq(StructField("next_token", StringType)))),
    StructField("_corrupt_record", StringType)))

  /** All output tables of the ingest stage. */
  case class Loaded(tweets: DataFrame, users: DataFrame, hashtags: DataFrame,
                    urls: DataFrame, mentions: DataFrame, corrupt: DataFrame)

  /** S1: fault-tolerant page scan — corrupt lines become quarantine rows
    * instead of failing the job (the reference logs + skips, `:331-332`).
    * Read as text + `from_json` rather than the JSON file source: the
    * file source refuses corrupt-record-only projections
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), which the
    * quarantine output needs; parsing cost and distribution are the same.
    */
  def readPages(spark: SparkSession, paths: Seq[String], original: Boolean): DataFrame =
    spark.read.text(paths: _*)
      // Within-file page order, captured AT SCAN TIME: the text source
      // has no _metadata.row_index, but (file_block_start, scan-order id)
      // sorts pages into exact file line order on any cluster layout —
      // splits of one file are ordered by byte offset, and within a split
      // monotonically_increasing_id ascends in physical line order. Only
      // the ORDER is used (never the id values), so differing split
      // packing across cluster sizes cannot change the dedup winner.
      .select(col("value"),
        struct(col("_metadata.file_block_start"), monotonically_increasing_id())
          .as("_page_ord"))
      .select(from_json(col("value"), pageSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")
      ).as("p"), col("_page_ord"))
      .select(col("p.*"), col("_page_ord"))
      .withColumn("original", lit(original))
      .withColumn("src_file", input_file_name())

  /** P3: prefer unwound > expanded > url for the urls list; rewrite each
    * shortened url to its expansion inside `text` (fold over the array —
    * only urls that actually have an expansion rewrite, `:100-113`). */
  private def bestUrl(u: Column): Column =
    coalesce(u.getField("unwound_url"), u.getField("expanded_url"), u.getField("url"))

  private def rewriteText(text: Column, urls: Column): Column =
    when(urls.isNull, text).otherwise(
      aggregate(
        // the short url itself must be non-null too: replace() is
        // null-intolerant and one null entry would null the whole text
        filter(urls, u => u.getField("url").isNotNull &&
          (u.getField("unwound_url").isNotNull || u.getField("expanded_url").isNotNull)),
        text,
        (acc, u) => call_function("replace", acc, u.getField("url"), bestUrl(u))))

  /** P5: one pass over referenced_tweets — last entry of each type wins
    * (the reference's for-loop assignment, `:121-129`). */
  private def lastRef(refs: Column, tpe: String): Column = {
    val matches = filter(refs, r => r.getField("type") === tpe)
    get(matches, size(matches) - 1).getField("id").cast("long")
  }
  private def lastRefOther(refs: Column): Column = {
    val matches = filter(refs,
      r => r.getField("type") =!= "retweeted" && r.getField("type") =!= "replied_to")
    get(matches, size(matches) - 1).getField("id").cast("long")
  }

  /** P1: tweet struct → the 21-column tweets_i row (`:89-151,161-186`). */
  private def flattenTweet(t: Column, original: Column): Column = {
    val urls = t.getField("entities").getField("urls")
    val refs = t.getField("referenced_tweets")
    val repliedTo = lastRef(refs, "replied_to")
    struct(
      lit(null).cast("long").as("ur_conversation_id"),
      t.getField("conversation_id").cast("long").as("conversation_id"),
      t.getField("id").cast("long").as("tweet_id"),
      t.getField("author_id").cast("long").as("author_id"),
      to_timestamp(t.getField("created_at")).as("created_at"),
      t.getField("public_metrics").getField("retweet_count").as("retweet_count"),
      t.getField("public_metrics").getField("reply_count").as("reply_count"),
      t.getField("public_metrics").getField("like_count").as("like_count"),
      t.getField("public_metrics").getField("quote_count").as("quote_count"),
      t.getField("lang").as("lang"),
      rewriteText(t.getField("text"), urls).as("text"),
      repliedTo.as("in_reply_to"),
      when(repliedTo.isNotNull, t.getField("in_reply_to_user_id").cast("long"))
        .as("in_reply_to_user_id"),
      lastRefOther(refs).as("quotes"),
      lastRef(refs, "retweeted").as("retweet_of"),
      lit(null).cast("string").as("error"),
      lit(null).cast("string").as("error_detail"),
      original.as("original"),
      transform(t.getField("entities").getField("hashtags"), h => h.getField("tag")).as("hashtag_list"),
      transform(urls, bestUrl _).as("url_list"),
      transform(t.getField("entities").getField("mentions"),
        m => m.getField("id").cast("long")).as("mention_list"))
  }

  /** P2: user struct → users_a row; empty string → NULL (`:245-278`). */
  private def flattenUser(u: Column): Column = {
    val entityUrls = concat(
      coalesce(u.getField("entities").getField("url").getField("urls"), array()),
      coalesce(u.getField("entities").getField("description").getField("urls"), array()))
    val rewritten = filter(entityUrls, e => e.getField("url").isNotNull &&
      (e.getField("expanded_url").isNotNull || e.getField("unwound_url").isNotNull))
    def rewrite(c: Column) = when(u.getField("entities").isNull, c).otherwise(
      aggregate(rewritten, c,
        (acc, e) => call_function("replace", acc, e.getField("url"), bestUrl(e))))
    struct(
      u.getField("id").cast("long").as("user_id"),
      u.getField("username").as("username"),
      u.getField("name").as("name"),
      nullif(rewrite(u.getField("description")), lit("")).as("description"),
      to_timestamp(u.getField("created_at")).as("created_at"),
      u.getField("verified").as("verified"),
      u.getField("protected").as("protected"),
      nullif(rewrite(u.getField("url")), lit("")).as("url"),
      nullif(u.getField("location"), lit("")).as("location"),
      u.getField("public_metrics").getField("followers_count").as("followers_count"),
      u.getField("public_metrics").getField("following_count").as("following_count"),
      u.getField("public_metrics").getField("tweet_count").as("tweet_count"),
      u.getField("public_metrics").getField("listed_count").as("listed_count"),
      lit(null).cast("string").as("error"),
      lit(null).cast("string").as("error_detail"))
  }

  /** P7: deterministic first-wins dedup — original-sample rows win over
    * expansion rows, then real rows over synthesized error rows (the
    * reference's within-page arrival order), then file order, then
    * position WITHIN the file (page line order via `_page_ord`, array
    * position within the page via `_pos`) — a total order, so the
    * winner is reproducible even when one file holds several copies of
    * a key, matching the reference's line-ordered INSERT IGNORE
    * (SURVEY §7.6.2). */
  private def firstWins(df: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("original").desc, col("_prio"), col("src_file"),
        col("_page_ord"), col("_pos"))
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .drop("_rn", "src_file", "_prio", "_page_ord", "_pos")
  }

  /** Full ingest: pages → deduped tweets/users + exploded entity tables
    * + corrupt-line quarantine.
    *
    * Two multi-consumer relations are materialized where they are
    * derived, each with a lazy `localCheckpoint(eager = false)` (the
    * idiom of `Closure.resolveLoop`): the parsed pages (original ∪
    * expansion), read by all six outputs and the mention map, and the
    * deduped tweets, read by every downstream pipeline stage. The first
    * consumer computes the blocks and every later one reads them, so the
    * JSONL is scanned and parsed once per load instead of once per
    * output; the price is that the page struct is kept whole rather than
    * pruned per output. The checkpoint cuts the lineage, so a lost
    * executor fails the job instead of recomputing (as in `Closure`);
    * the blocks are freed by the `ContextCleaner` once the outputs are
    * unreachable.
    */
  def load(spark: SparkSession, originalPaths: Seq[String],
           expansionPaths: Seq[String] = Seq.empty): Loaded = {
    val pages0 = readPages(spark, originalPaths, original = true)
    val pages = (if (expansionPaths.isEmpty) pages0
      else pages0.unionByName(readPages(spark, expansionPaths, original = false)))
      .localCheckpoint(eager = false)

    // the projection must reference at least one data column besides the
    // corrupt-record column (Spark disallows corrupt-only queries on raw
    // JSON); next_token is useful quarantine context anyway
    val corrupt = pages.where(col("_corrupt_record").isNotNull)
      .select(col("src_file"), col("_corrupt_record"),
        col("meta.next_token").as("next_token"))
    val ok = pages.where(col("_corrupt_record").isNull)

    // data[] ++ includes.tweets[] (U2, `:322-324`); posexplode keeps the
    // within-page arrival position for the dedup total order
    val allTweets = ok.select(
      posexplode(concat(coalesce(col("data"), array()),
        coalesce(col("includes.tweets"), array()))).as(Seq("_pos", "t")),
      col("original"), col("src_file"), col("_page_ord"))
    val realTweets = allTweets.select(
      flattenTweet(col("t"), col("original")).as("r"), col("src_file"),
      lit(0).as("_prio"), col("_page_ord"), col("_pos"))

    // P8: errors[] with resource_type='tweet' → placeholder tweet rows
    val tweetErrors = ok.select(
        posexplode(coalesce(col("errors"), array())).as(Seq("_pos", "e")),
        col("original"), col("src_file"), col("_page_ord"))
      .where(col("e.resource_type") === "tweet")
      .select(struct(
        lit(null).cast("long").as("ur_conversation_id"),
        lit(null).cast("long").as("conversation_id"),
        col("e.resource_id").cast("long").as("tweet_id"),
        lit(null).cast("long").as("author_id"),
        lit(null).cast("timestamp").as("created_at"),
        lit(null).cast("long").as("retweet_count"),
        lit(null).cast("long").as("reply_count"),
        lit(null).cast("long").as("like_count"),
        lit(null).cast("long").as("quote_count"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("text"),
        lit(null).cast("long").as("in_reply_to"),
        lit(null).cast("long").as("in_reply_to_user_id"),
        lit(null).cast("long").as("quotes"),
        lit(null).cast("long").as("retweet_of"),
        col("e.title").as("error"),
        col("e.detail").as("error_detail"),
        col("original").as("original"),
        lit(null).cast("array<string>").as("hashtag_list"),
        lit(null).cast("array<string>").as("url_list"),
        lit(null).cast("array<long>").as("mention_list")).as("r"),
        col("src_file"), lit(1).as("_prio"), col("_page_ord"), col("_pos"))

    val tweetsAll = realTweets.unionByName(tweetErrors)
      .select(col("r.*"), col("src_file"), col("_prio"),
        col("_page_ord"), col("_pos"))
    // P6: the main table stores entity-list LENGTHS (`:215-216`)
    val tweets = firstWins(tweetsAll, "tweet_id")
      .withColumn("hashtags", when(col("hashtag_list").isNull, lit(null)).otherwise(size(col("hashtag_list"))))
      .withColumn("urls", when(col("url_list").isNull, lit(null)).otherwise(size(col("url_list"))))
      .withColumn("mentions", when(col("mention_list").isNull, lit(null)).otherwise(size(col("mention_list"))))
      .drop("hashtag_list", "url_list", "mention_list")
      .localCheckpoint(eager = false)

    // entity child tables (UDTF-explode, `:388-396`): exploded from EVERY
    // arriving tweet copy (the reference inserts entities before tweet-
    // level dedup), then deduped on the composite PK like INSERT IGNORE
    def childTable(listCol: String, outCol: String) =
      tweetsAll.select(col("tweet_id"), explode(col(listCol)).as(outCol)).distinct()
    val hashtags = childTable("hashtag_list", "hashtag")
    val urls = childTable("url_list", "url")
    val mentions = childTable("mention_list", "user_id")

    // users: includes.users[] + error placeholders (`:325-329`)
    val realUsers = ok.select(
        posexplode(coalesce(col("includes.users"), array())).as(Seq("_pos", "u")),
        col("original"), col("src_file"), col("_page_ord"))
      .select(flattenUser(col("u")).as("r"), col("original"), col("src_file"),
        col("_page_ord"), col("_pos"))
      .select(col("r.*"), col("original"), col("src_file"),
        col("_page_ord"), col("_pos"))
      .withColumn("_prio", lit(0))
    val errs = ok.select(
      posexplode(coalesce(col("errors"), array())).as(Seq("_pos", "e")),
      col("original"), col("src_file"), col("_page_ord"))
    def userError(idCol: Column) = struct(
      idCol.as("user_id"),
      lit(null).cast("string").as("username"), lit(null).cast("string").as("name"),
      lit(null).cast("string").as("description"),
      lit(null).cast("timestamp").as("created_at"),
      lit(null).cast("boolean").as("verified"), lit(null).cast("boolean").as("protected"),
      lit(null).cast("string").as("url"), lit(null).cast("string").as("location"),
      lit(null).cast("long").as("followers_count"), lit(null).cast("long").as("following_count"),
      lit(null).cast("long").as("tweet_count"), lit(null).cast("long").as("listed_count"),
      col("e.title").as("error"), col("e.detail").as("error_detail"))
    val inReplyToErrors = errs.where(col("e.parameter") === "in_reply_to_user_id")
      .select(userError(col("e.resource_id").cast("long")).as("r"),
        col("original"), col("src_file"), col("_page_ord"), col("_pos"))
      .select(col("r.*"), col("original"), col("src_file"),
        col("_page_ord"), col("_pos"))
      .withColumn("_prio", lit(1))
    // J9: username → id via the (broadcast) global mention map
    val mentionMap = allTweets
      .select(explode(coalesce(col("t.entities.mentions"), array())).as("m"))
      .select(col("m.username").as("m_username"), col("m.id").cast("long").as("m_id"))
      .groupBy(col("m_username")).agg(min(col("m_id")).as("m_id"))
    val mentionErrors = errs.where(col("e.parameter") === "entities.mentions.username")
      .join(broadcast(mentionMap), col("e.resource_id") === col("m_username"), "inner")
      .select(userError(col("m_id")).as("r"), col("original"), col("src_file"),
        col("_page_ord"), col("_pos"))
      .select(col("r.*"), col("original"), col("src_file"),
        col("_page_ord"), col("_pos"))
      .withColumn("_prio", lit(2))

    val users = firstWins(
      realUsers.unionByName(inReplyToErrors).unionByName(mentionErrors),
      "user_id").drop("original")

    Loaded(tweets, users, hashtags, urls, mentions, corrupt)
  }
}
