package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions.{col, lit, raise_error}

import graft.SparkSuite
import graft.tools.PageCorpus

/** Full-pipeline test over the JSONL fixture: every stage produces the
  * expected relations and the marts land on disk (S2/K4 round trip
  * included: the id-list text sink is read back with spark.read.text).
  */
class ConvoyPipelineSpec extends SparkSuite {

  private lazy val out = ConvoyPipeline.run(spark,
    Seq(resource("pages_original.jsonl")), Seq(resource("pages_expansion.jsonl")))

  test("conversation ids with replies") {
    val ids = out.conversationIds.collect().map(_.getLong(0)).toSet
    // conv 100 (root has replies) and conv 50 (quoted tweet has 1 reply)
    assert(ids == Set(100L, 50L))
  }

  test("ur-conversation closure links quoting/retweeting conversations") {
    val byId = out.tweets.select("tweet_id", "ur_conversation_id")
      .where("ur_conversation_id IS NOT NULL")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // tweet 102 replies (reply precedence) → no edge from conv 100;
    // tweet 200 retweets 100 → conv 200 collapses into conv 100
    assert(byId(200L) == 100L)
    assert(byId(100L) == 100L && byId(101L) == 100L)
    assert(byId(50L) == 50L)
  }

  test("tree stats emitted for every tweet with a conversation, invariants hold") {
    // error placeholder 999 has NULL ur_conversation_id → no stats row
    assert(out.tweetStats.count() ==
      out.tweets.where("ur_conversation_id IS NOT NULL").count())
    val bad = out.tweetStats.where("leaf_descendants > descendants").count()
    assert(bad == 0) // the reference's own runtime guard (3_create...:246)
  }

  test("wide mart carries stats and calendar columns") {
    val r = out.tweetsWide.where("tweet_id = 100").collect().head
    assert(r.getAs[Int]("created_year") == 2022)
    assert(r.getAs[Long]("descendants") == 2) // replies 101, 102
    assert(r.getAs[Long]("ur_descendants") == 3) // + retweet 200
  }

  test("conversation rollups preserve aggregate side") {
    val conv = out.conversations.where("conversation_key = 100").collect().head
    assert(conv.getAs[Long]("tweets") == 4) // 100,101,102,103 (not 200)
    val ur = out.urConversations.where("conversation_key = 100").collect().head
    assert(ur.getAs[Long]("tweets") == 5) // + 200 via ur closure
  }

  test("tweet stats match the committed golden file (all 41 columns)") {
    // regenerate with: sbt "runMain graft.tools.GenGolden" (review the diff!)
    val golden = scala.io.Source.fromFile(resource("golden_tweet_stats.csv"))
      .getLines().toSeq
    val cols = out.tweetStats.columns
    assert(golden.head == cols.mkString(","))
    val got = out.tweetStats.orderBy("tweet_id").collect().map { r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString(",")
    }.toSeq
    assert(got == golden.tail)
  }

  test("edge extraction: reply guard on quotes only; one parent per id") {
    import spark.implicits._
    // (tweet_id, conversation_id, in_reply_to, quotes, retweet_of)
    val tweets = Seq(
      // parents being linked to
      (10L, 2L, None, None, None),
      (11L, 4L, None, None, None),
      (12L, 5L, None, None, None),
      (13L, 6L, None, None, None),
      // retweet that is ALSO a reply: edge survives (reference guards
      // only the quotes join, 2_enrich_ur_conversation_ids.py:35)
      (20L, 1L, Some(99L), None, Some(10L)),
      // quote that is ALSO a reply: reply precedence, no edge
      (21L, 3L, Some(99L), Some(11L), None),
      // root with BOTH a quote parent and a retweet parent: quote wins
      (22L, 7L, None, Some(12L), None),
      (23L, 7L, None, None, Some(13L)))
      .toDF("tweet_id", "conversation_id", "in_reply_to", "quotes", "retweet_of")
    val edgesDf = ConvoyPipeline.conversationEdges(tweets)
    val edges = edgesDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edges == Map(1L -> 2L, 7L -> 5L))
    // the winner is picked by a hash aggregate, not a sort-based one
    val plan = edgesDf.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"), plan)
  }

  test("marts write to disk; id-list text sink reads back (S2/K4)") {
    val dir = Files.createTempDirectory("pipeline_out").toString
    ConvoyPipeline.write(out, dir)
    assert(spark.read.parquet(s"$dir/tweets_a").count() == out.tweets.count())
    val ids = spark.read.text(s"$dir/conversation_ids")
      .collect().map(_.getString(0).toLong).toSet
    assert(ids == Set(100L, 50L))
    assert(spark.read.parquet(s"$dir/_quarantine").count() == 1)
  }

  test("each stage is derived once: the pages are scanned once per run, not once per sink") {
    // collects the file-scan RDDs of every submitted stage: a stage that
    // re-derives the pages plans a fresh scan RDD, while one that reads
    // the materialized pages reaches at most the already-computed one
    // (until its lineage is cut)
    val scans = ConcurrentHashMap.newKeySet[Int]()
    val dir = Files.createTempDirectory("pipeline_scans").toString
    listening(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.name == "FileScanRDD").foreach(r => scans.add(r.id))
    }) {
      ConvoyPipeline.write(ConvoyPipeline.run(spark,
        Seq(resource("pages_original.jsonl")), Seq(resource("pages_expansion.jsonl"))), dir)
    }
    // one scan of the original pages, one of the expansion pages
    assert(scans.size == 2, s"page files scanned ${scans.size} times")
  }

  test("a materialized stage boundary reads back the same on every read") {
    assert(PageCorpus.tableHash(out.tweets) == PageCorpus.tableHash(out.tweets))
  }

  test("concurrent sinks inherit the caller's local properties: every write job carries its job group") {
    // a job without the group ran on a thread that did not inherit it
    // from this call (a pooled thread created earlier keeps the
    // properties of its creator, hence two calls with two groups)
    val written = out // build the outputs (run submits jobs too) before listening
    val sc = spark.sparkContext
    Seq("convoy-write-1", "convoy-write-2").foreach { group =>
      val seen = new ConcurrentLinkedQueue[String]()
      val dir = Files.createTempDirectory("pipeline_group").toString
      listening(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (!flushing(e.properties))
            seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }) {
        sc.setJobGroup(group, "ConvoyPipelineSpec")
        try ConvoyPipeline.write(written, dir) finally sc.clearJobGroup()
      }
      assert(seen.size >= 11, s"only ${seen.size} write jobs seen")
      assert(seen.asScala.forall(_ == group), seen.asScala.toSeq.distinct.mkString(", "))
    }
  }

  test("a failing sink: write waits for the others, rethrows the first failure unwrapped, later ones suppressed") {
    // carries the sort columns of both replaced sinks; fails per row at run time
    def failing(msg: String) = spark.range(4).select(
      raise_error(lit(msg)).cast("long").as("user_id"), lit("u").as("url"), col("id").as("tweet_id"))
    val planted = out.copy(users = failing("planted users failure"),
      urls = failing("planted urls failure"))
    val dir = Files.createTempDirectory("pipeline_fail").toString
    val e = intercept[Throwable](ConvoyPipeline.write(planted, dir))
    assert(!e.isInstanceOf[ExecutionException])
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(messages(e).contains("planted users failure"), messages(e))
    // Spark attaches a suppressed caller-stack trace of its own
    assert(e.getSuppressed.exists(messages(_).contains("planted urls failure")),
      e.getSuppressed.map(messages).mkString("\n"))
    val done = Seq("conversation_ids", "tweets_i", "tweet_hashtags_a", "tweet_mentions_a",
      "tweet_stats_i", "tweets_a", "conversations_a", "ur_conversations_a", "_quarantine")
    done.foreach(d => assert(Files.exists(Paths.get(dir, d, "_SUCCESS")), s"$d not written"))
    Seq("users_a", "tweet_urls_a").foreach(d =>
      assert(!Files.exists(Paths.get(dir, d, "_SUCCESS")), s"$d committed"))
  }
}
