package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.state.StateStore
import graft.streaming.{CdcStream, Progress}

/** The `sync` ingest done through Structured Streaming, run by the traced
  * `sync` workload after its timed part (so it moves none of the gated
  * metrics) for the `graft.streaming` layer metrics. `CdcStream.start`
  * replays the corpus from a file source, one slice per trigger: one bulk
  * slice of new keys, then `Updates` slices that each re-send 1% of the keys
  * (picked by the seed) with a newer `updated`. The state layer takes
  * per-batch delta appends plus compaction here, where `SyncEngine` rewrites
  * the whole state.
  *
  * Throughput counts the rows the generator wrote, not the stream's
  * `inputRows`, which counts every re-read of a micro-batch (recorded as
  * `stream.source_reads_per_row`).
  */
object StreamBench {

  val Updates = 3
  private val SyncedAt = Timestamp.valueOf("2002-01-01 00:00:00")

  def run(c: Ctx, res: Result, rnd: scala.util.Random): Unit = {
    val spark = c.spark
    val issues = graft.Tables.issues(spark, c.corpus).filter(SyncBench.IngestKeys)
    val keys = issues.select("key").collect().map(_.getString(0)).sorted
    val n = keys.length.toLong
    val perUpdate = math.max(1, keys.length / 100)
    val updateKeys = Seq.fill(Updates)(rnd.shuffle(keys.toSeq).take(perUpdate))

    /** Writes `base` as the bulk slice and one update slice per key set in
      * one job, then renames slice `i`'s file into the source directory in
      * replay order; the file source replays by modification time, so that
      * is pinned too.
      */
    def writeSlices(base: DataFrame, updateSets: Seq[Seq[String]]): (Path, Long) = {
      val src = c.dir("src")
      val tmp = c.dir("slices").resolve("out")
      val updates = updateSets.zipWithIndex.map { case (ks, j) =>
        base.filter(col("key").isin(ks: _*))
          .withColumn("updated", lit(new Timestamp(SyncedAt.getTime + (j + 1) * 3600000L)))
          .withColumn("__s", lit(1 + j))
      }
      val slices = updates.foldLeft(base.withColumn("__s", lit(0)))(_ unionByName _)
      slices.repartition(col("__s")).write.partitionBy("__s").parquet(tmp.toString)
      val t0 = System.currentTimeMillis() - 3600000L
      for (i <- 0 to updateSets.size) {
        val part = Files.list(tmp.resolve(s"__s=$i"))
          .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        val dst = src.resolve(f"slice-$i%03d.parquet")
        Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + i * 1000L))
      }
      Fs.delete(tmp.getParent)
      (src, spark.read.parquet(src.toString).count())
    }

    /** Replays `src` through `CdcStream` into `dir` until drained. */
    def replay(src: Path, dir: Path): Seq[Progress.BatchCard] = {
      val q = CdcStream.start(
        spark.readStream.schema(issues.schema).option("maxFilesPerTrigger", "1")
          .parquet(src.toString),
        dir.resolve("repo").toString, dir.resolve("state").toString,
        dir.resolve("ckpt").toString, clock = () => SyncedAt)
      try { q.processAllAvailable(); Progress.card(q) }
      finally q.stop()
    }

    val (src, rows) = writeSlices(issues, updateKeys)
    // untimed: warm the stream path on a bulk and an update slice of 1% of
    // the keys, so the replay does not carry the stream path's first pass
    val (warmSrc, _) = writeSlices(issues.filter(col("key").isin(updateKeys.head: _*)),
      Seq(updateKeys.head))
    val warmDir = c.dir("warm")
    replay(warmSrc, warmDir)
    Fs.delete(warmSrc)
    Fs.delete(warmDir)

    val dir = c.dir("stream")
    val statePath = dir.resolve("state").toString
    val deltas = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        c.trace.max("stream.delta_count_max",
          StateStore.deltaCount(spark, statePath).toDouble)
    }
    spark.streams.addListener(deltas)
    Fs.flush()
    val t0 = System.nanoTime()
    // `sync` has recorded its `spark.*` counters by now, so the stream's
    // Spark work shows only in `stream.jobs_per_batch`
    val (cards, jobs) = c.measured(c.jobsDuring(
      c.trace.span("stream.run")(replay(src, dir))))
    val secs = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(deltas)
    c.trace.set("stream.issues_per_s", rows / secs)
    cards.drop(1).foreach(b =>
      c.trace.sample("stream.update_batch_s", b.batchDurationMs / 1e3))
    cards.take(1).foreach(b =>
      c.trace.sample("stream.bulk_batch_s", b.batchDurationMs / 1e3))
    val stateRows = StateStore.loadResolved(spark, statePath).count()
    val batches = 1 + Updates
    res.ops(batches, math.abs(batches - cards.size) +
        (if (stateRows != n) batches else 0),
      s"stream replay: ${cards.size}/$batches batches, " +
        s"resolved state rows $stateRows/$n")
    c.trace.set("stream.batches", cards.size.toDouble)
    c.trace.set("stream.jobs", jobs.toDouble)
    c.trace.set("stream.input_rows", cards.map(_.inputRows).sum.toDouble)
    c.trace.set("stream.generator_rows", rows.toDouble)
    Fs.delete(dir)
    Fs.delete(src)
  }
}
