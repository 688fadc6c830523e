package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Sink surface of the reference pipeline (SURVEY §2.2), Spark-first:
  *
  *  - K3 error-log sink (`:87-98`) → quarantine DataFrame written beside
  *    the output instead of an unstructured log.
  *  - K4 id-list text sink (`extract_conversation_ids.py:34-37`).
  *  - K5/K6 batched keyed-upsert with retry → not needed: dedup happens
  *    BEFORE the write (Ingest.firstWins) and task retry is built in.
  *  - K7 CTAS / K8 row→columnar copy → `write.parquet`: the mart IS
  *    columnar, schema travels with the plan.
  *  - K9 index toggling → sorted/partitioned parquet layout at write
  *    time (`partitionBy` + `sortWithinPartitions`) replaces B-trees:
  *    min/max row-group stats give the same pruning a secondary index
  *    bought the reference.
  */
object Sinks {

  /** K3: quarantine sink for corrupt/error rows. */
  def quarantine(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  /** K4: one id per line (conversation-id list shape). */
  def idList(df: DataFrame, idCol: String, dir: String): Unit =
    df.select(col(idCol).cast("string")).write.mode("overwrite").text(dir)

  /** Compact a parquet directory that append-mode sinks have shattered
    * into small files (streaming foreachBatch appends one-file-per-
    * task-per-batch — after a day of micro-batches a 100 TB pipeline's
    * sink is small-file soup that slows every scan by open/footer
    * overhead). Rewrites the dir at `filesTarget` files (plus hive
    * partition structure if `partitionCols` given, consolidated per
    * partition), atomically-ish via a sibling temp dir + rename.
    * Returns (filesBefore, filesAfter) for observability.
    *
    * CONTRACT — quiesce writers first (stop the stream / pause the
    * job): a file appended while the compaction reads would not be in
    * the rewritten output. The guard below re-lists the source
    * immediately before the swap and ABORTS loudly (nothing moved,
    * temp cleaned up) if the listing changed, turning that race into a
    * failed maintenance job instead of silent data loss. Readers: the
    * instant between the two renames is not atomic — a concurrent
    * reader can see a missing dir for a moment (the maintenance-window
    * contract); a failed second rename restores the original dir
    * before throwing, so the sink is never left absent. */
  /** `transform` (round-13) rewrites the ROWS as well as the files —
    * the hook the maintained stores use to FOLD per-batch delta logs
    * (sum passage counts, keep last-wins rows) while compacting, so a
    * long-lived stream's read cost stays proportional to the folded
    * relation instead of total batches processed. The caller owns the
    * semantic argument that the fold preserves every read; identity
    * keeps the strict rows-preserved contract. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              filesTarget: Int, partitionCols: Seq[String] = Nil,
              transform: DataFrame => DataFrame = identity): (Long, Long) = {
    recoverCompact(spark, dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hconf)
    def listing(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
      val it = fs.listFiles(p, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += ((f.getPath.toString, f.getLen))
      }
      out.sortBy(_._1).toSeq
    }
    val snapshot = listing(path)
    val before = snapshot.size.toLong
    val tmp = new org.apache.hadoop.fs.Path(dir + "._compact_tmp")
    fs.delete(tmp, true)
    mart(transform(spark.read.parquet(dir)), tmp.toString,
      partitionCols = partitionCols, files = filesTarget)
    if (listing(path) != snapshot) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compact: $dir changed during compaction — writers must be " +
          "quiesced first; aborted with the original dir untouched")
    }
    val old = new org.apache.hadoop.fs.Path(dir + "._compact_old")
    fs.delete(old, true)
    require(fs.rename(path, old), s"compact: could not stage $dir aside")
    // A concurrent READER's recoverCompact can observe the mid-swap
    // window (path absent, ._compact_old present) and rename the staged
    // copy back — the compactComponentLog TOCTOU, reachable here since
    // the maintained-store readers recover before every read. Detect
    // the restore BEFORE the swap rename (Hadoop rename into an
    // existing directory NESTS tmp inside it rather than failing) and
    // resolve by discarding THIS rewrite — the sink is healthy under
    // the restored files and the rewrite is redone at the next tick.
    if (fs.exists(path)) {
      fs.delete(tmp, true); fs.delete(old, true)
      return (before, listing(path).size.toLong)
    }
    if (!fs.rename(tmp, path)) {
      if (fs.exists(path)) { // reader restored between the two calls
        fs.delete(tmp, true); fs.delete(old, true)
        return (before, listing(path).size.toLong)
      }
      fs.rename(old, path) // restore — never leave the sink absent
      throw new IllegalStateException(
        s"compact: could not move compacted dir into $dir; original restored")
    }
    // rename succeeded — but if a reader restored `path` between the
    // probe and the rename, the rewrite landed NESTED inside the live
    // sink. Verify and clean (the sink keeps the restored rows).
    val nested = new org.apache.hadoop.fs.Path(path, tmp.getName)
    if (fs.exists(nested)) fs.delete(nested, true)
    fs.delete(old, true)
    (before, listing(path).size.toLong)
  }

  /** Crash recovery for [[compact]]'s two-rename swap — the
    * recoverComponentLog discipline applied to the generic sink
    * compactor: a HARD crash (kill -9, OOM) between `rename(path,
    * old)` and `rename(tmp, path)` leaves the sink absent with the
    * only surviving copy at `._compact_old`. [[compact]] runs this
    * first, so a re-run of the crashed maintenance job self-heals;
    * readers that must survive a crashed job can call it directly.
    * Race-tolerant: losing the rename to another recoverer (or the
    * original compactor completing) is fine as long as the sink
    * exists afterward. The stale `._compact_tmp` is deleted by the
    * next compaction's own preamble. */
  def recoverCompact(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hconf)
    val old = new org.apache.hadoop.fs.Path(dir + "._compact_old")
    if (!fs.exists(path) && fs.exists(old)) {
      require(fs.rename(old, path) || fs.exists(path),
        s"compact recovery: could not restore $dir from ._compact_old")
    }
    // Residue cleanup — BOTH loser shapes of the swap/restore race
    // leave a non-partition subdir nested inside the live sink that
    // breaks every later parquet read: a compactor that lost its
    // existence probe to a recovering reader nests its REWRITE
    // (<name>._compact_tmp), and a recoverer that lost its probe to a
    // completing compactor nests the STAGED PRE-COMPACTION COPY
    // (<name>._compact_old — Hadoop rename into an existing directory
    // moves the source inside it and returns true, so the require
    // above passes). In both cases the live sink already holds the
    // full row set, so the nested residue is a redundant duplicate —
    // delete it. Two existence probes when nothing is wrong.
    if (fs.exists(path))
      Seq("._compact_tmp", "._compact_old").foreach { sfx =>
        val nested = new org.apache.hadoop.fs.Path(path, path.getName + sfx)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
    ()
  }

  /** K7/K8: columnar mart write; optional hot-key partitioning and an
    * in-partition sort so parquet/orc min/max stats prune point lookups
    * (the analog of the reference's composite B-tree indexes). `format`
    * accepts any Spark batch format — parquet (default) and orc keep the
    * columnar-mart contract; csv/json are interchange escapes.
    *
    * File-size control: `files > 0` consolidates the write to that many
    * tasks (repartitioned on the partition columns when present, so
    * each hive-partition directory gets files from few tasks instead of
    * one sliver per upstream task — the small-file-soup knob at
    * cluster widths); `maxRecordsPerFile > 0` caps file size the other
    * way. Defaults (0) keep Spark's session behavior.
    */
  def mart(df: DataFrame, dir: String, partitionCols: Seq[String] = Nil,
           sortCols: Seq[String] = Nil, format: String = "parquet",
           files: Int = 0, maxRecordsPerFile: Long = 0): Unit = {
    val sized =
      if (files <= 0) df
      else if (partitionCols.nonEmpty)
        df.repartition(files, partitionCols.map(col): _*)
      else df.repartition(files)
    val sorted = if (sortCols.nonEmpty)
      sized.sortWithinPartitions(sortCols.map(col): _*) else sized
    val w = sorted.write.mode("overwrite").format(format)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    val pw = if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
    (if (format == "csv") pw.option("header", "true") else pw).save(dir)
  }
}
