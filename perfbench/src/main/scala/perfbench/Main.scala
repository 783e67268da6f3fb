package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back: the raw samples its end-to-end metrics are
  * computed from (statistics are taken by `run.py`), the operation counts,
  * and every correctness-gate failure by description.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val setupS: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val values: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Counts `n` operations, of which `bad` failed; a failure also records why. */
  def ops(n: Long, bad: Long, why: => String): Unit = {
    attempted += n
    if (bad > 0) { failed += bad; failures += why }
  }
}

/** Everything a workload needs: the session, its inputs and its budget. */
final case class Ctx(
    spark: SparkSession,
    corpus: String,
    work: Path,
    seed: Long,
    seconds: Double,
    cores: Int,
    trace: Trace,
    stats: Option[SparkStats],
    outputs: Option[Path]) {

  /** A fresh directory under this run's work directory. */
  def dir(prefix: String): Path = Files.createTempDirectory(work, prefix)

  /** Runs one timed operation, counting its Spark work when traced. */
  def measured[T](body: => T): T = stats.fold(body)(_.measure(body))

  /** Jobs the body starts (traced runs only; 0 otherwise). */
  def jobsDuring[T](body: => T): (T, Long) = stats match {
    case None => (body, 0L)
    case Some(s) =>
      org.apache.spark.BusDrain(spark.sparkContext)
      val before = s.jobs
      val r = body
      org.apache.spark.BusDrain(spark.sparkContext)
      (r, s.jobs - before)
  }

  private var liveHeap = 0L

  /** Records the heap still in use after a full collection: the live set
    * (cached corpus, fragments, engine state). Workloads call it at the end
    * of set-up and of the timed part, outside any timing; the largest value
    * is the run's `live_heap_mb`. Resident set size moved by up to 40%
    * between runs with the collector's heap sizing, the live set does not.
    */
  def heapMark(): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collected(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    // collect until the live set stops shrinking: each collection lets
    // Spark's context cleaner release what it made unreachable (broadcasts
    // and cached blocks of dropped plans), and on a busy host the cleaner
    // had not finished after one pause, which read 2.6 times the live set
    var used = collected()
    var prev = Long.MaxValue
    var rounds = 1
    while (rounds < 10 && used < prev - prev / 50) {
      prev = used
      Thread.sleep(200)
      used = collected()
      rounds += 1
    }
    liveHeap = math.max(liveHeap, used)
  }
  def liveHeapMb: Double = liveHeap / 1048576.0

  /** Copies the execution-layer counters into the trace. */
  def recordSparkStats(): Unit =
    stats.foreach(_.summary(cores).foreach { case (k, v) => trace.set(k, v) })
}

/** Entry point: `Main --workload <sync|query_mix> --seed <n>
  * --seconds <s> --trace <0|1> --cores <n> --corpus <dir> --sf <sf> --work <dir>
  * --out <file> [--outputs <dir>]`; `--outputs` makes query_mix also write
  * each card's output as parquet, for `oracle.py`. Writes one JSON result file; `run.py` turns it into the
  * benchmark's metrics.
  */
object Main {

  val Workloads: Map[String, Ctx => Result] = Map(
    "sync" -> SyncBench.run,
    "query_mix" -> QueryMix.run,
    "warm" -> Warm.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val cores = a("cores").toInt
    val work = Paths.get(a("work"))
    // the session config of graft.Bench, on `cores` local cores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = a("trace") == "1"
    val stats = if (traced) {
      val s = new SparkStats(spark.sparkContext)
      spark.sparkContext.addSparkListener(s)
      Some(s)
    } else None
    try {
      Corpus.ensure(spark, a("corpus"), a("sf").toDouble)
      val ctx = Ctx(spark, a("corpus"), work, a("seed").toLong,
        a("seconds").toDouble, cores, new Trace(traced), stats,
        a.get("outputs").map(Paths.get(_)))
      val res = run(ctx)
      val out = mutable.LinkedHashMap[String, Any](
        "workload" -> workload,
        "attempted" -> res.attempted,
        "failed" -> res.failed,
        "failures" -> res.failures.toSeq,
        "setup_s" -> res.setupS.toSeq,
        "samples" -> res.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "values" -> res.values.toMap,
        "peak_rss_mb" -> peakRssMb,
        "live_heap_mb" -> ctx.liveHeapMb,
        "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "layers" -> ctx.trace.counters.toMap,
        "layer_samples" -> ctx.trace.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "spans" -> ctx.trace.spanSummary)
      Files.writeString(Paths.get(a("out")), Json.write(out))
    } finally spark.stop()
  }

  /** The process's peak resident set, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Filesystem helpers shared by the workloads. */
object Fs {
  def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(q => { Files.deleteIfExists(q); () })

  def bytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Writes every dirty page to disk, so that a timed operation does not
    * pay for the write-back of the files the one before it wrote or deleted
    * (full syncs on 4,000 issues moved by 40% between runs without this).
    */
  def flush(): Unit = { exec("sync"); () }

  /** Runs a command to completion and returns its standard output. */
  def exec(cmd: String*): String = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"${cmd.mkString(" ")} failed: $out")
    out
  }
}
