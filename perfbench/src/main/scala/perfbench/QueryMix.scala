package perfbench

import java.nio.file.Files

import graft.{Caches, SparkEntry}

/** `query_mix`: the analyses users run over the synced corpus — the JIRA
  * domain cards of the registry (`jql_*`, `cdc_*`, `epic_*`, `profile_*`,
  * `job_*`, `links_gc`, `key_functions`), each through
  * `SparkEntry.queries`, in an order the seed shuffles. One client, closed
  * loop.
  *
  * Set-up drops the engine's fragment cache and Spark's cache, then reads
  * the domain tables once. An untimed warm-up runs every card once. The
  * timed part runs whole passes over the cards, each in a new seeded order,
  * and splits each card run into construction (calling the card
  * function), planning (`executedPlan`) and execution (the [[Digest]] sink,
  * which computes every output column, unlike `count()`). Every execution's
  * digest is checked by `run.py` against the DuckDB-verified digest stored in
  * `oracle_hashes.json`.
  */
object QueryMix {

  val Prefixes: Seq[String] = Seq("jql_", "cdc_", "epic_", "profile_", "job_")
  val Singles: Set[String] = Set("links_gc", "key_functions")
  /** Untimed passes over the cards before the timed ones. */
  val WarmPasses = 1

  /** The 48 JIRA-domain cards of the registry. */
  def domainCards: Seq[String] = SparkEntry.queries.keys
    .filter(n => Prefixes.exists(n.startsWith) || Singles(n)).toSeq.sorted

  /** The cards a run times: every fourth domain card in name order within
    * each family, so every family keeps its share. Warming and timing all
    * 48 takes about 70 s a run on four cores, more than the benchmark's
    * per-run share of its time limit.
    */
  def cards: Seq[String] = domainCards.groupBy(family).values.flatMap(
    _.sorted.zipWithIndex.collect { case (n, i) if i % 4 == 0 => n }).toSeq.sorted

  def family(card: String): String =
    Seq("jql", "cdc", "epic").find(f => card.startsWith(f + "_")).getOrElse("other")

  def run(c: Ctx): Result = {
    val spark = c.spark
    val res = new Result
    val rnd = new scala.util.Random(c.seed)
    val all = cards
    val digests = scala.collection.concurrent.TrieMap.empty[String, Vector[String]]
    def digest(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val d = Digest.of(df).hex
      digests.updateWith(name)(v => Some(v.getOrElse(Vector.empty) :+ d))
    }
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      Caches.clear(spark)
      spark.catalog.clearCache()
      graft.Tables.issues(spark, c.corpus).count()
      graft.Tables.links(spark, c.corpus).count()
      res.setupS += (System.nanoTime() - t0) / 1e9
    }
    c.heapMark()

    // untimed warm-up: whole passes in seed order, so the timed passes
    // measure warm execution whatever order the seed picks (a partial
    // warm-up left the fragment builds on whichever card ran first, and the
    // median moved 16% between seeds); a card's run time also kept falling
    // over its first four runs (the JIT compiling the Spark code and the
    // classes generated for the card), and timing from its second run on
    // spread the figures by about 20% between runs. These outputs are
    // checked too.
    val warmStart = System.nanoTime()
    for (_ <- 1 to WarmPasses; name <- rnd.shuffle(all)) try {
      digest(name, SparkEntry.queries(name)(spark, c.corpus))
      res.ops(1, 0, "")
    } catch {
      case e: Throwable => res.ops(1, 1, s"$name (warm-up): ${e.getMessage}")
    }
    res.values("warmup_s") = (System.nanoTime() - warmStart) / 1e9
    Caches.resetStats()
    val start = System.nanoTime()
    val until = start + (c.seconds * 1e9).toLong
    var passes = 0
    // whole passes only, so every run times each card equally often
    while (passes < 3 || System.nanoTime() < until) {
      passes += 1
      val passStart = System.nanoTime()
      for (name <- rnd.shuffle(all)) {
        val fam = family(name)
        try c.measured(c.trace.span(s"query.$fam") {
          val t0 = System.nanoTime()
          val (df, jobs) = c.jobsDuring(SparkEntry.queries(name)(spark, c.corpus))
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          digest(name, df)
          val t3 = System.nanoTime()
          res.sample(s"card_s.$name", (t3 - t0) / 1e9)
          res.ops(1, 0, "")
          for ((part, s) <- Seq("construct_s" -> (t1 - t0), "plan_s" -> (t2 - t1),
              "exec_s" -> (t3 - t2))) {
            c.trace.add(s"query.$part", s / 1e9)
            c.trace.add(s"query.$fam.$part", s / 1e9)
          }
          c.trace.add("query.construct_jobs", jobs.toDouble)
          c.trace.add(s"query.$fam.construct_jobs", jobs.toDouble)
        }) catch {
          case e: Throwable => res.ops(1, 1, s"$name: ${e.getMessage}")
        }
      }
      res.sample("pass_s", (System.nanoTime() - passStart) / 1e9)
    }
    res.values("timed_s") = (System.nanoTime() - start) / 1e9
    c.heapMark()
    c.recordSparkStats()
    val cs = Caches.stats
    c.trace.set("caches.hits", cs.hits.toDouble)
    c.trace.set("caches.builds", cs.builds.toDouble)
    c.trace.set("caches.evictions", cs.evictions.toDouble)
    c.outputs.foreach { o =>
      domainCards.foreach { name =>
        val df = SparkEntry.queries(name)(spark, c.corpus)
        digest(name, df)
        df.coalesce(1).write.parquet(o.resolve(name).toString)
      }
      Files.writeString(o.resolve("oracle_sql.json"), Json.write(
        SparkEntry.oracleSql.filter { case (k, _) => domainCards.contains(k) }))
    }
    res.values("cards") = all.size
    res.values("passes") = passes
    res.values("digests") = digests.toMap
    res
  }
}
