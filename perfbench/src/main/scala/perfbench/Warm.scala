package perfbench

import org.apache.spark.sql.functions._

/** Touches each engine path the workloads use — a tiny sync, a one-slice
  * stream and two cards of each query_mix family — so that the JVM run that
  * `run.py` starts once after a build can record the classes they load into
  * a class-data-sharing archive. Later runs map the archive instead of
  * loading and verifying those classes one by one; nothing is timed here.
  */
object Warm {
  def run(c: Ctx): Result = {
    val spark = c.spark
    val slice = graft.Tables.issues(spark, c.corpus)
      .filter(expr("cast(element_at(split(key, '-'), 2) as int) <= 20"))
    val dir = c.dir("warm")
    graft.engine.SyncEngine.run(spark,
      graft.sink.Yaml.withRelationships(slice, graft.Tables.links(spark, c.corpus)),
      graft.Tables.links(spark, c.corpus), s"$dir/repo", s"$dir/state")
    slice.write.parquet(s"$dir/src")
    val q = graft.streaming.CdcStream.start(
      spark.readStream.schema(slice.schema).parquet(s"$dir/src"),
      s"$dir/srepo", s"$dir/sstate", s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()
    QueryMix.cards.groupBy(QueryMix.family).values.flatMap(_.sorted.take(2))
      .foreach(n => Digest.of(graft.SparkEntry.queries(n)(spark, c.corpus)))
    Fs.delete(dir)
    val res = new Result
    res.ops(1, 0, "")
    res
  }
}
