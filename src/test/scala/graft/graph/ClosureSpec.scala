package graft.graph

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** `Closure.resolveRoots` resolves a map under the broadcast threshold on
  * the driver and a larger one with the Spark loop. Every case runs on
  * both paths: the shared session takes the driver path at these sizes,
  * and a child session with `autoBroadcastJoinThreshold=-1` forces the
  * loop without touching the shared session's confs.
  */
class ClosureSpec extends SparkSuite {

  private lazy val loopSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private def onBothPaths(body: SparkSession => Unit): Unit =
    for ((path, s) <- Seq("driver" -> spark, "loop" -> loopSession))
      withClue(s"[$path path] ")(body(s))

  private def rowsOf(s: SparkSession, edges: Seq[(Long, Long)],
                     maxIter: Int = 50): Seq[(Long, Long)] = {
    import s.implicits._
    Closure.resolveRoots(edges.toDF("id", "parent"), maxIter)
      .as[(Long, Long)].collect().toSeq.sorted
  }

  private def resolve(s: SparkSession, edges: Seq[(Long, Long)]): Map[Long, Long] =
    rowsOf(s, edges).toMap

  /** Jobs and shuffle-map stages that `body` submits. */
  private def submitted(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleStages = ConcurrentHashMap.newKeySet[Int]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!flushing(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (!flushing(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask" && stages.contains(e.stageId))
          shuffleStages.add(e.stageId)
    })(body)
    (jobs.get, shuffleStages.size)
  }

  test("chain collapses to its root") {
    onBothPaths { s =>
      val roots = resolve(s, Seq(2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
      assert(roots == Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    }
  }

  test("forest of two trees") {
    onBothPaths { s =>
      val roots = resolve(s, Seq(2L -> 1L, 3L -> 1L, 20L -> 10L, 30L -> 20L))
      assert(roots == Map(2L -> 1L, 3L -> 1L, 20L -> 10L, 30L -> 10L))
    }
  }

  test("two-node cycle terminates within maxIter") {
    onBothPaths { s =>
      val out = rowsOf(s, Seq(1L -> 2L, 2L -> 1L), maxIter = 10).toMap
      assert(out.keySet == Set(1L, 2L)) // deterministic, no hang
    }
  }

  test("property: random forests match naive root-walk") {
    val rnd = new Random(1)
    for (_ <- 1 to 20) {
      val n = 2 + rnd.nextInt(200)
      val edges = (2 to n).flatMap { id =>
        if (rnd.nextDouble() < 0.8) Some(id.toLong -> (1 + rnd.nextInt(id - 1)).toLong)
        else None
      }
      val parent = edges.toMap
      def rootOf(x: Long): Long =
        parent.get(x).map(rootOf).getOrElse(x)
      val want = edges.map { case (id, _) => id -> rootOf(id) }.toMap
      onBothPaths(s => assert(resolve(s, edges) == want))
    }
  }

  test("property: both paths return the same rows on forests with planted cycles") {
    val rnd = new Random(11)
    for (maxIter <- Seq(1, 2, 3, 10); _ <- 1 to 5) {
      val n = 2 + rnd.nextInt(120)
      val forest = (2 to n).flatMap { id =>
        if (rnd.nextDouble() < 0.8) Some(id.toLong -> (1 + rnd.nextInt(id - 1)).toLong)
        else None
      }
      // a ring with trees hanging off it, plus roots re-pointed at random
      // nodes (a cycle when the node is in the root's own tree)
      val ringLen = 2 + rnd.nextInt(4)
      val ring = (0 until ringLen).map(k => (n + 1 + k).toLong -> (n + 1 + (k + 1) % ringLen).toLong)
      val hanging = (1 to 1 + rnd.nextInt(20)).map { k =>
        (n + ringLen + k).toLong -> (n + 1 + rnd.nextInt(ringLen + k - 1)).toLong
      }
      val parented = forest.map(_._1).toSet
      val repointed = (1 to n).map(_.toLong).filterNot(parented)
        .filter(_ => rnd.nextDouble() < 0.3)
        .map(r => r -> (1 + rnd.nextInt(n)).toLong)
        .filter { case (r, p) => r != p }
      val edges = forest ++ ring ++ hanging ++ repointed
      assert(rowsOf(spark, edges, maxIter) == rowsOf(loopSession, edges, maxIter),
        s"maxIter=$maxIter n=$n")
    }
  }

  test("null ids and parents never match, as in the join") {
    onBothPaths { s =>
      import s.implicits._
      val edges = Seq[(Option[Long], Option[Long])](
        (None, Some(1L)), (None, Some(3L)), (Some(2L), None),
        (Some(3L), Some(2L)), (Some(4L), Some(3L)), (Some(6L), Some(1L)))
      val out = Closure.resolveRoots(edges.toDF("id", "parent"))
        .as[(Option[Long], Option[Long])].collect().toSeq
      // 3 → 2 stops at 2 (its parent is null); the null-id rows resolve
      // like any other but are never a jump target
      assert(out.sortBy(_.toString) == Seq[(Option[Long], Option[Long])](
        (None, Some(1L)), (None, Some(2L)), (Some(2L), None),
        (Some(3L), Some(2L)), (Some(4L), Some(2L)), (Some(6L), Some(1L))).sortBy(_.toString))
    }
  }

  test("an id typed unlike its parent resolves as the join compares them") {
    onBothPaths { s =>
      import s.implicits._
      // an Int id never equals a Long parent on the JVM; the join casts
      val edges = Seq(2 -> 1L, 3 -> 2L, 4 -> 3L).toDF("id", "parent")
      val out = Closure.resolveRoots(edges).as[(Int, Long)].collect().toMap
      assert(out == Map(2 -> 1L, 3 -> 1L, 4 -> 1L))
    }
  }

  test("driver path rejects a duplicate id") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Closure.resolveRoots(Seq(2L -> 1L, 3L -> 2L, 3L -> 1L).toDF("id", "parent"))
    }
    assert(e.getMessage.contains("id 3 "), e.getMessage)
  }

  test("a small map resolves on the driver without a shuffle stage") {
    val edges = Seq(2L -> 1L, 3L -> 2L, 4L -> 3L)
    val (_, driverShuffles) = submitted(rowsOf(spark, edges))
    assert(driverShuffles == 0)
    // the listener does see the loop's shuffles
    val (_, loopShuffles) = submitted(rowsOf(loopSession, edges))
    assert(loopShuffles > 0)
  }

  test("the Spark loop resolves a depth-8 chain in 2 probe rounds") {
    import loopSession.implicits._
    val chain = (2 to 9).map(i => i.toLong -> (i - 1).toLong)
    var roots: org.apache.spark.sql.DataFrame = null
    val (jobs, _) = submitted { roots = Closure.resolveRoots(chain.toDF("id", "parent")) }
    assert(roots.as[(Long, Long)].collect().toMap == chain.map { case (id, _) => id -> 1L }.toMap)
    // one job sizes the map, then one job per probe round (the loop's
    // narrow regime runs with AQE off, so a probe is a single job)
    assert(jobs - 1 == 2, s"$jobs jobs")
  }

  test("enrich coalesces missing ids to their own value") {
    onBothPaths { s =>
      import s.implicits._
      val facts = Seq((10L, "a"), (2L, "b")).toDF("conversation_id", "x")
      val out = Closure.enrich(facts, Seq(2L -> 1L).toDF("id", "parent"), "conversation_id")
        .select("conversation_id", "ur_conversation_id")
        .as[(Long, Long)].collect().toMap
      assert(out == Map(10L -> 10L, 2L -> 1L))
    }
  }

  test("addEdges: incremental == full recompute on an append-only split") {
    onBothPaths { s =>
      import s.implicits._
      // multi-root forest (roots 4..7) + a deep batch-internal chain:
      // parents are always < children, so an id-threshold split is
      // append-consistent (batch children never parent settled children)
      val tree = (8 to 300).map(i => (i.toLong, (i / 2).toLong))
      val chain = (301 to 320).map(i => (i.toLong, (i - 1).toLong))
      val all = tree ++ chain
      val old = all.filter(_._1 <= 200)
      val batch = all.filter(_._1 > 200)
      val full = resolve(s, all)
      val inc = Closure.addEdges(
          Closure.resolveRoots(old.toDF("id", "parent")),
          batch.toDF("id", "parent"))
        .as[(Long, Long)].collect().toMap
      assert(inc == full)
      // sanity: the forest really is multi-root and the chain resolves
      // THROUGH the settled graph
      assert(full.values.toSet == Set(4L, 5L, 6L, 7L))
      assert(full(320L) == full(300L))
      // delta law: the append relation is exactly the full result minus
      // the settled keys (disjoint key sets under the append contract)
      val settled = Closure.resolveRoots(old.toDF("id", "parent"))
      val settledMap = settled.as[(Long, Long)].collect().toMap
      val delta = Closure.addEdgesDelta(settled, batch.toDF("id", "parent"))
        .as[(Long, Long)].collect().toMap
      assert(delta.keySet.intersect(settledMap.keySet).isEmpty)
      assert(settledMap ++ delta == full)
    }
  }

  test("addEdges guard: a batch edge re-parenting a settled id raises loudly") {
    onBothPaths { s =>
      import s.implicits._
      val settled = Closure.resolveRoots(Seq(2L -> 1L, 3L -> 2L).toDF("id", "parent"))
      val batch = Seq(3L -> 9L).toDF("id", "parent") // 3 is already settled
      val e = intercept[Exception] {
        Closure.addEdges(settled, batch).collect()
      }
      assert(e.getMessage.contains("append-only contract"), e.getMessage)
    }
  }

  test("addEdges guard: a batch edge re-parenting an OLD ROOT raises loudly") {
    onBothPaths { s =>
      import s.implicits._
      // 1 never appears as a settled id (it has no parent row) but it IS
      // the old forest's root — re-parenting it would silently strand 2
      // and 3 on the stale root, so the guard's root-column half fires
      val settled = Closure.resolveRoots(Seq(2L -> 1L, 3L -> 2L).toDF("id", "parent"))
      val batch = Seq(1L -> 9L).toDF("id", "parent")
      val e = intercept[Exception] {
        Closure.addEdges(settled, batch).collect()
      }
      assert(e.getMessage.contains("old root"), e.getMessage)
    }
  }

  test("addEdges property: ANY depth-ordered prefix split matches full recompute") {
    // Exactly what the append-only contract guarantees (and no more):
    // children arrive after their parents. Depth-ordering the edges and
    // cutting at ANY point produces a contract-respecting split — the
    // incremental result must be hash-equal to the full recompute, and
    // the guard must stay silent.
    val rnd = new Random(7)
    for (_ <- 1 to 8) {
      val n = 20 + rnd.nextInt(150)
      val edges = (2 to n).flatMap { id =>
        if (rnd.nextDouble() < 0.85) Some(id.toLong -> (1 + rnd.nextInt(id - 1)).toLong)
        else None
      }
      val parent = edges.toMap
      def depth(x: Long): Int = parent.get(x).map(depth(_) + 1).getOrElse(0)
      val ordered = edges.sortBy { case (id, _) => (depth(id), id) }
      val cut = 1 + rnd.nextInt(ordered.size - 1)
      val (old, batch) = ordered.splitAt(cut)
      onBothPaths { s =>
        import s.implicits._
        val full = resolve(s, edges)
        val inc = Closure.addEdges(
            Closure.resolveRoots(old.toDF("id", "parent")),
            batch.toDF("id", "parent"))
          .as[(Long, Long)].collect().toMap
        assert(inc == full, s"cut=$cut n=$n")
      }
    }
  }

  test("addEdges: the settled relation is probed, not re-resolved") {
    onBothPaths { s =>
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("settled").toString + "/roots"
      val old = (8 to 200).map(i => (i.toLong, (i / 2).toLong))
      Closure.resolveRoots(old.toDF("id", "parent")).write.parquet(dir)
      val settled = s.read.parquet(dir)
      val batch = (201 to 240).map(i => (i.toLong, (i / 2).toLong))
      val out = Closure.addEdges(settled, batch.toDF("id", "parent"))
      // the batch resolved internally during construction (eager work on
      // batch-sized relations only); the FINAL plan reads the settled
      // parquet exactly twice — union pass-through + the one probe join —
      // and contains no iterative machinery over it
      val plan = out.queryExecution.executedPlan.toString
      val settledScans = "roots".r.findAllIn(plan).size
      assert(settledScans == 2, s"expected 2 settled scans, got $settledScans:\n$plan")
      // and the result is still exact
      assert(out.as[(Long, Long)].collect().toMap == resolve(s, old ++ batch))
    }
  }
}
