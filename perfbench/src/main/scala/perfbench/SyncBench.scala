package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.SyncEngine
import graft.state.StateStore

/** `sync`: users bulk-load the corpus, then keep it fresh with small changes.
  *
  * Set-up caches the `Tables.issuesFull` corpus (the shape an API fetch
  * delivers). The run then makes cycles, the first untimed: a full
  * `SyncEngine.run` sync into a fresh repo and state, then incremental syncs
  * on it, each after the seed re-stamps `updated` on 1% of the keys. Full
  * and incremental syncs alternate so that a slow stretch of the host lands
  * on both kinds alike. One client, closed loop. The traced run then
  * replays the same ingest through [[StreamBench]].
  */
object SyncBench {

  private val BulkAt = Timestamp.valueOf("2002-01-01 00:00:00")
  /** Incremental batches in a timed cycle. */
  val IncrPerCycle = 2

  /** The issues both ingest workloads sync: the first 4,000 keys of the
    * corpus, which keeps a run inside its share of the time limit.
    */
  val IngestKeys: org.apache.spark.sql.Column =
    expr("cast(element_at(split(key, '-'), 2) as int) <= 4000")

  /** Engine progress callbacks mark the START of a phase, so a phase's work
    * is the interval from its callback to the next one:
    *   filtering → writing        detect (incremental change detection)
    *   relationships → committing yaml_write (YAML + git blobs; edges and
    *                               state staging run concurrently)
    *   committing → state         git_commit (index feed + commit)
    *   state → done               state_barrier (edge/state barrier + swap)
    */
  val Phases: Seq[(String, String, String)] = Seq(
    ("detect_s", "filtering", "writing"),
    ("yaml_write_s", "relationships", "committing"),
    ("git_commit_s", "committing", "state"),
    ("state_barrier_s", "state", "done"))

  final class Recorder extends SyncEngine.ProgressReporter {
    val steps: mutable.ArrayBuffer[(String, Long)] = mutable.ArrayBuffer.empty
    def step(name: String, percent: Int): Unit = steps += (name -> System.nanoTime())
  }

  def run(c: Ctx): Result = {
    val spark = c.spark
    val res = new Result
    val rnd = new scala.util.Random(c.seed)
    val links = graft.Tables.links(spark, c.corpus)
    var issues: DataFrame = null
    var n = 0L
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      if (issues != null) issues.unpersist(blocking = true)
      issues = graft.Tables.issuesFull(spark, c.corpus).filter(IngestKeys).cache()
      n = issues.count()
      res.setupS += (System.nanoTime() - t0) / 1e9
    }
    c.heapMark()
    val keys = issues.select("key").collect().map(_.getString(0)).sorted
    val perBatch = math.max(1, keys.length / 100)

    /** The corpus with `updated` re-stamped just before `at` on `changed`. */
    def restamped(changed: Seq[String], at: Timestamp): DataFrame = {
      val changedDf = spark.createDataFrame(changed.map(Tuple1(_))).toDF("__ck")
        .hint("broadcast")
      issues.join(changedDf, col("key") === col("__ck"), "left")
        .withColumn("updated", when(col("__ck").isNotNull,
          lit(new Timestamp(at.getTime - 60000L))).otherwise(col("updated")))
        .drop("__ck")
    }

    def phases(kind: String, r: Recorder): Unit = {
      val at = r.steps.toMap
      Phases.foreach { case (name, from, to) =>
        for (a <- at.get(from); b <- at.get(to)) {
          c.trace.interval(s"engine.$kind.$name", a, b)
          c.trace.sample(s"engine.$kind.$name", (b - a) / 1e9)
        }
      }
    }

    def stateRows(state: Path): Long = StateStore.load(spark, state.toString).count()

    /** A full sync into a fresh repo and state, then `incrs` incremental
      * batches on it; timed, traced and checked when `timed`. */
    def cycle(timed: Boolean, incrs: Int): Unit = {
      def op[T](span: String)(body: => T): T =
        if (timed) c.measured(c.trace.span(span)(body)) else body
      val dir = c.dir(if (timed) "full" else "warm")
      val repo = dir.resolve("repo")
      val state = dir.resolve("state")
      val rec = new Recorder
      Fs.flush()
      val t0 = System.nanoTime()
      val r = op("sync.full") {
        SyncEngine.run(spark, issues, links, repo.toString, state.toString,
          now = BulkAt, progress = rec)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (timed) {
        phases("bulk", rec)
        res.sample("full_issues_per_s", n / secs)
        val yamls = Fs.exec("git", "-C", repo.toString, "ls-tree", "-r",
          "--name-only", "HEAD").linesIterator
          .count(p => p.startsWith("projects/") && p.endsWith(".yaml"))
        res.ops(n, math.max(r.failed, math.abs(n - r.successful)) +
            (if (yamls != n) n else 0),
          s"full sync: written ${r.successful}/$n, failed ${r.failed}, " +
            s"tree yaml entries $yamls")
        c.trace.add("sink.files_written", r.successful.toDouble)
        c.trace.add("sink.failed_issues", r.failed.toDouble)
        if (c.trace.enabled) {
          c.trace.set("sink.yaml_bytes_per_issue",
            Fs.bytes(repo.resolve("projects")).toDouble / n)
          c.trace.set("sink.workdir_bytes_per_issue", Fs.bytes(dir).toDouble / n)
          c.trace.set("ingest.edge_rows",
            spark.read.parquet(repo.resolve("relationships").toString).count().toDouble)
        }
      }
      for (batch <- 1 to incrs) {
        val changed = rnd.shuffle(keys.toSeq).take(perBatch)
        val at = new Timestamp(BulkAt.getTime + batch * 86400000L)
        val batchIssues = restamped(changed, at)
        val rec = new Recorder
        Fs.flush()
        val t0 = System.nanoTime()
        val r = op("sync.incr") {
          SyncEngine.run(spark, batchIssues, links, repo.toString, state.toString,
            SyncEngine.SyncOptions(incremental = true), now = at, progress = rec)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        if (timed) {
          phases("incr", rec)
          res.sample("incr_batch_s", secs)
          res.ops(changed.size, math.abs(changed.size - r.successful) + r.failed,
            s"incremental batch $batch: written ${r.successful}/${changed.size}, " +
              s"failed ${r.failed}")
          c.trace.add("sink.files_written", r.successful.toDouble)
          c.trace.add("sink.failed_issues", r.failed.toDouble)
          c.trace.sample("state.changed_ratio", r.successful.toDouble / n)
          c.trace.max("state.delta_count_max",
            StateStore.deltaCount(spark, state.toString).toDouble)
        }
      }
      if (timed) {
        // the full sync writes one state row per issue and incremental
        // batches only re-stamp existing keys, so the count must not move
        val rows = stateRows(state)
        res.ops(0, if (rows != n) 1 else 0,
          s"state rows after a full sync and $incrs incremental batches: " +
            s"$rows, expected $n")
        c.trace.set("state.rows", rows.toDouble)
        c.trace.set("state.bytes", Fs.bytes(state).toDouble)
      }
      Fs.delete(dir)
    }

    // untimed: one short cycle warms the sink and state paths (full syncs
    // took 1.5 times as long before one)
    cycle(timed = false, incrs = 1)
    val until = System.nanoTime() + (c.seconds * 1e9).toLong
    var cycles = 0
    while (cycles < 3 || System.nanoTime() < until) {
      cycle(timed = true, incrs = IncrPerCycle)
      cycles += 1
    }
    c.heapMark()
    c.recordSparkStats()
    res.values("issues") = n
    res.values("cycles") = cycles
    issues.unpersist(blocking = true)
    if (c.trace.enabled) StreamBench.run(c, res, rnd)
    res
  }
}
