package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.graph.Closure
import graft.ingest.Ingest
import graft.mart.Mart
import graft.pipeline.ConvoyPipeline
import graft.stats.{TreeInput, TreeStats}

/** JVM side of the benchmark: runs one workload in one session.
  *
  * Arguments are `key=value` pairs (see `perfbench/run.py`, which
  * generates the inputs and checks the outputs the run leaves in `work`).
  * The run:
  *  1. creates the session and runs the workload once untimed (set-up);
  *  2. with `trace=0`, repeats the workload inside a `seconds` window,
  *     timing each repetition; with `trace=1`, repeats rounds of a
  *     traced as-run repetition and a traced staged one;
  *  3. writes `result.json` into `work`.
  */
object PerfBench {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val launchMs = a("launch_ms").toLong
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3

    val wl: Workload = a("workload") match {
      case "llm-prep" => new LlmPrep(spark, a("fixtures"), a("mix").split(",").toSeq, work)
      case _ =>
        def paths(k: String) = a(k).split(",").toSeq.filter(_.nonEmpty)
        new Convoy(spark, paths("orig"), paths("exp"), paths("warm_orig"),
          paths("warm_exp"), work)
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    val warmS = time(wl.once(0))
    out("session_s") = sessionS
    out("warm_s") = warmS
    out("setup_s") = sessionS + warmS
    wl.settle()
    val calibS = mutable.ArrayBuffer(calib(spark))

    // repeat while the next repetition, as long as the last one, still
    // ends inside the window (at least once)
    val t0 = System.nanoTime()
    var last = 0.0
    def more(i: Int) = i < 1 || (System.nanoTime() - t0) / 1e9 + last <= seconds
    if (!traced) {
      val iters = mutable.ArrayBuffer.empty[Map[String, Double]]
      var i = 1
      while (more(i - 1)) {
        val c0 = processCpuNs()
        val a0 = allocatedBytes()
        last = time(wl.once(i))
        iters += Map("wall_s" -> last, "cpu_s" -> (processCpuNs() - c0) / 1e9,
          "alloc_mb" -> (allocatedBytes() - a0) / 1e6)
        i += 1
      }
      out("iters") = iters.toSeq
    } else {
      val trace = new Trace(spark.sparkContext, cores)
      trace.attach()
      val rounds = mutable.ArrayBuffer.empty[Map[String, Double]]
      var i = 1
      while (more(i - 1)) {
        val r0 = System.nanoTime()
        rounds += wl.traced(i, trace)
        last = (System.nanoTime() - r0) / 1e9
        i += 1
      }
      trace.detach()
      out("rounds") = rounds.toSeq
      out("spans") = trace.spanLog
    }
    out("peak_rss_mb") = peakRssMb()
    calibS += calib(spark)
    out("calib_s") = calibS.toSeq
    out ++= wl.finish()
    Files.writeString(Paths.get(work, "result.json"), Json(out))
    spark.stop()
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap bytes allocated by every thread since the JVM started. */
  def allocatedBytes(): Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** The fixed ambient probe of `graft.Bench` (constant input and plan). */
  def calib(spark: SparkSession): Double = time {
    spark.range(0L, 16L * 1000L * 1000L, 1L, 32)
      .select(xxhash64(col("id")).as("h"))
      .groupBy(pmod(col("h"), lit(97)).as("b"))
      .agg(expr("bit_xor(h)").as("x"), count(lit(1)).as("n"))
      .agg(expr("bit_xor(x)"), sum("n")).collect()
  }

  /** The full-column hash fold `graft.Bench` forces query outputs with. */
  def fold(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(df.col): _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

}

/** One workload: `once` is the program as timed, `traced` the traced
  * rounds, `finish` the checkable outputs and per-op outcomes. */
trait Workload {
  def once(i: Int): Unit
  /** Untimed work between set-up and the timed repetitions. */
  def settle(): Unit = ()
  def traced(i: Int, trace: Trace): Map[String, Double]
  def finish(): Map[String, Any]
}

/** `ConvoyPipeline.run` + `write` over one generated page corpus; the
  * set-up run reads a smaller corpus of the same shape. */
final class Convoy(spark: SparkSession, orig: Seq[String], exp: Seq[String],
                   warmOrig: Seq[String], warmExp: Seq[String],
                   work: String) extends Workload {
  private val corpusMb = (orig ++ exp).map(p => new File(p).length).sum / 1e6
  private val errors = mutable.ArrayBuffer.empty[String]
  private val outDirs = mutable.ArrayBuffer.empty[String]
  private val layers = Seq("ingest", "graph", "stats", "mart", "sinks")

  private var runs = 0
  private def outDir(tag: String) = { runs += 1; s"$work/out/$tag-$runs" }

  /** One pipeline run; the set-up run's output is not checked. */
  def once(i: Int): Unit = {
    val dir = outDir("run")
    try {
      if (i == 0) ConvoyPipeline.write(ConvoyPipeline.run(spark, warmOrig, warmExp), dir)
      else {
        ConvoyPipeline.write(ConvoyPipeline.run(spark, orig, exp), dir)
        outDirs += dir
      }
    } catch {
      case e: Exception => errors += s"$dir: ${e.getMessage}"
    }
  }

  /** Each layer's outputs materialized at its boundary, so a layer's span
    * covers its own work only. Mirrors the body of `ConvoyPipeline.run`. */
  private def staged(trace: Trace): (Long, Long, Double) = {
    import spark.implicits._
    def ck(df: DataFrame) = df.localCheckpoint(eager = true)
    val l = trace.span("ingest") {
      val l = Ingest.load(spark, orig, exp)
      Ingest.Loaded(ck(l.tweets), ck(l.users), ck(l.hashtags), ck(l.urls),
        ck(l.mentions), ck(l.corrupt))
    }
    val rowsOut = Seq(l.tweets, l.users, l.hashtags, l.urls, l.mentions).map(_.count()).sum
    val withUr = trace.span("graph") {
      ck(Closure.enrich(l.tweets.drop("ur_conversation_id"),
        ConvoyPipeline.conversationEdges(l.tweets), "conversation_id"))
    }
    val statsDf = TreeStats.compute(withUr.where(col("ur_conversation_id").isNotNull).select(
        col("tweet_id"), coalesce(col("author_id"), lit(-1L)).as("author_id"),
        col("in_reply_to"), col("retweet_of"), col("quotes"),
        coalesce(col("reply_count"), lit(0L)).as("reply_count"),
        coalesce(col("quote_count"), lit(0L)).as("quote_count"),
        coalesce(col("like_count"), lit(0L)).as("like_count"),
        coalesce(col("retweet_count"), lit(0L)).as("retweet_count"),
        col("ur_conversation_id").as("group_id")).as[TreeInput]).toDF()
    val stats = trace.span("stats")(ck(statsDf))
    val outs = trace.span("mart") {
      ConvoyPipeline.Outputs(
        ck(l.tweets.where(col("reply_count") > 0)
          .groupBy(col("conversation_id")).agg(sum(col("reply_count")).as("replies"))
          .select(col("conversation_id"))),
        withUr, l.users, l.hashtags, l.urls, l.mentions, stats,
        ck(Mart.tweetsWide(withUr, stats)),
        ck(Mart.conversationRollup(withUr, "conversation_id")),
        ck(Mart.conversationRollup(withUr, "ur_conversation_id")), l.corrupt)
    }
    val dir = outDir("staged")
    trace.span("sinks")(ConvoyPipeline.write(outs, dir))
    outDirs += dir
    (rowsOut, l.corrupt.count(), partitionSkew(statsDf))
  }

  /** Largest / mean shuffle-partition bytes of the tree-stats exchange
    * (the one `df` ran): 1 is even, `spark.sql.shuffle.partitions` is all
    * groups in one partition. Task times cannot show this skew here, as
    * AQE coalesces the exchange of a small corpus into one reduce task. */
  private def partitionSkew(df: DataFrame): Double =
    org.apache.spark.PerfBenchBus.exchangeBytes(df).maxByOption(_.sum) match {
      case Some(b) if b.sum > 0 => b.max.toDouble * b.length / b.sum
      case _ => 0.0
    }

  def traced(i: Int, trace: Trace): Map[String, Double] = {
    trace.reset()
    val asrunS = PerfBench.time(trace.span("asrun")(once(i)))
    val asrun = trace.metrics()("asrun")
    trace.reset()
    val (rowsOut, quarantined, skew) = staged(trace)
    val m = trace.metrics()
    def g(layer: String, k: String) = m.get(layer).map(_(k)).getOrElse(0.0)
    val r = mutable.LinkedHashMap[String, Double]("trace.asrun_wall_s" -> asrunS)
    for (k <- Seq("wall_s", "task_cpu_s", "input_mb", "shuffle_mb", "jobs"))
      r(s"ingest.$k") = g("ingest", k)
    r("ingest.rows_out") = rowsOut.toDouble
    r("ingest.rows_quarantined") = quarantined.toDouble
    r("pipeline.scan_amplification") = asrun("input_mb") / corpusMb
    r("pipeline.recompute_cpu_s") =
      asrun("task_cpu_s") - layers.map(g(_, "task_cpu_s")).sum
    r("pipeline.jobs") = asrun("jobs")
    for (k <- Seq("wall_s", "jobs", "driver_s", "idle_core_s", "shuffle_mb"))
      r(s"graph.$k") = g("graph", k)
    for (k <- Seq("wall_s", "task_cpu_s", "max_task_s", "reduce_tasks", "shuffle_mb",
                  "spill_mb"))
      r(s"stats.$k") = g("stats", k)
    r("stats.partition_skew") = skew
    for (k <- Seq("wall_s", "task_cpu_s", "shuffle_mb")) r(s"mart.$k") = g("mart", k)
    for (k <- Seq("wall_s", "task_cpu_s", "output_mb", "shuffle_mb", "jobs"))
      r(s"sinks.$k") = g("sinks", k)
    r ++= Spark.totals(asrun)
    r.toMap
  }

  def finish(): Map[String, Any] = Map(
    "attempted" -> runs, "errors" -> errors.toSeq, "out_dirs" -> outDirs.toSeq,
    "input_mb" -> corpusMb)
}

/** A fixed mix of registry queries over one generated fixture directory,
  * each forced with the hash fold. Every repetition reads a fresh copy of
  * the fixtures, so session stores keyed on the directory are rebuilt the
  * way a one-shot prep job builds them. The set-up repetition writes each
  * output instead, for the oracle check; the fold of each written output
  * is what every timed repetition must reproduce. */
final class LlmPrep(spark: SparkSession, fixtures: String, mix: Seq[String],
                    work: String) extends Workload {
  private val tables = Seq("documents", "embeddings")
  private val inputMb = tables.map(t => new File(s"$fixtures/$t.parquet").length).sum / 1e6
  /** (layer, registry name) for each `layer:prefix` entry of the mix. */
  private val queries: Seq[(String, String)] = mix.map { e =>
    val Array(layer, prefix) = e.split(":")
    layer -> SparkEntry.queries.keys.find(_.startsWith(prefix + "_"))
      .getOrElse(sys.error(s"no registry query $prefix"))
  }
  private val expected = mutable.Map.empty[String, Long]
  private val opS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val runs = mutable.LinkedHashMap.empty[String, Int]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var copies = 0

  private def outPath(q: String) = s"$work/out/$q"

  private def freshCopy(): String = {
    copies += 1
    val dir = s"$work/fixtures-$copies"
    new File(dir).mkdirs()
    for (t <- tables)
      Files.copy(Paths.get(s"$fixtures/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
    dir
  }

  private def runMix(i: Int, trace: Option[Trace]): Unit = {
    val dir = freshCopy()
    for ((layer, q) <- queries) {
      def body(): Unit = {
        val df = SparkEntry.queries(q)(spark, dir)
        if (i == 0) df.write.parquet(outPath(q))
        else if (PerfBench.fold(df) != expected.getOrElse(q, 0L))
          errors += s"$q run $i: output differs from the checked output"
      }
      runs(q) = runs.getOrElse(q, 0) + 1
      val t0 = System.nanoTime()
      try trace.fold(body())(_.span(layer)(body()))
      catch { case e: Exception => errors += s"$q run $i: ${e.getMessage}" }
      if (i > 0) opS.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    }
  }

  def once(i: Int): Unit = runMix(i, None)

  override def settle(): Unit =
    for ((_, q) <- queries if new File(outPath(q)).exists)
      expected(q) = PerfBench.fold(spark.read.parquet(outPath(q)))

  def traced(i: Int, trace: Trace): Map[String, Double] = {
    trace.reset()
    val s = PerfBench.time(runMix(i, Some(trace)))
    val m = trace.metrics()
    val r = mutable.LinkedHashMap[String, Double]("trace.asrun_wall_s" -> s)
    for (layer <- queries.map(_._1).distinct;
         k <- Seq("wall_s", "jobs", "task_cpu_s", "driver_s", "idle_core_s"))
      r(s"$layer.$k") = m.get(layer).map(_(k)).getOrElse(0.0)
    r ++= Spark.totals(m(Trace.All))
    r.toMap
  }

  def finish(): Map[String, Any] = Map(
    "attempted" -> runs.values.sum, "errors" -> errors.toSeq, "input_mb" -> inputMb,
    "oracle_sql" -> SparkEntry.oracleSql.filter { case (q, _) => runs.contains(q) },
    "runs" -> runs,
    "op_s" -> opS.map { case (q, xs) => q -> xs.sorted.apply(xs.size / 2) })
}

object Spark {
  /** The `spark.*` per-layer metrics from one span's fold. */
  def totals(m: Map[String, Double]): Map[String, Double] =
    Seq("jobs", "tasks", "driver_s", "sched_delay_s", "idle_core_s", "gc_s",
      "spill_mb", "failed_tasks").map(k => s"spark.$k" -> m(k)).toMap
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
