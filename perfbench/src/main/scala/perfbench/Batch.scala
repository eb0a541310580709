package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{Graft, SparkEntry, Tables}

/** `batch_sf001`: one caller runs the 8 contract queries below under
  * `graft.Bench`'s protocol (evict storage, call the query function,
  * materialize its own physical plan), in whole passes, each in a
  * seeded order, until at least `TimedPasses` passes and `--seconds`
  * have passed.
  *
  * The two groups load different layers. Every `iterative` query runs
  * eager round or barrier jobs while its DataFrame is being built (all
  * are in `PlanBuildJobsSpec`'s allowlist); every `oneshot` query
  * builds without a job and spends its time executing.
  */
object Batch {
  val iterative: Seq[String] = Seq(
    "q38_cluster_sizes", "q98_pagerank", "q118_kmeans_fit", "q185_bpe_encode")
  val oneshot: Seq[String] = Seq(
    "q01_pricing_summary", "q05_join_agg_nation_revenue", "q44_minhash_lsh_pairs",
    "q89_span_dedup")
  val all: Seq[String] = iterative ++ oneshot

  val SetupReps = 3
  /** Passes at least. Each query reports its best pass, as
    * `graft.Bench` does (best-of-2): the first pass pays first-use costs
    * (code generation, JIT), and a query that runs while the host is
    * busy does not set its time.
    */
  val TimedPasses = 2

  private final case class Sample(pass: Int, query: String, buildS: Double,
                                  planS: Double, execS: Double, rows: Long, hash: Long) {
    def totalS: Double = buildS + planS + execS
  }

  def run(a: Args, trace: Trace): (SparkSession, Outcome) = {
    val fns = SparkEntry.queries
    val pins = Pins.read(a.pins)
    // set-up loads each table (file listing, footers, partition layout);
    // scans happen in the queries
    val (spark, _, setupTimes) = Env.setup(SetupReps, a.work) { spark =>
      Tables.all.foreach(t => Tables(spark, a.data, t))
    }(_ => ())
    val probes = Probes.attach(spark, trace)

    val rng = new Random(a.seed)
    val samples = Vector.newBuilder[Sample]
    val errors = Vector.newBuilder[String]
    var attempted, failed, pass = 0

    def runQuery(q: String, opId: Int): Sample = {
      Graft.evictAll(spark)
      val s0 = System.nanoTime()
      trace.op(s"query:$q", opId) {
        val df = trace("build") { fns(q)(spark, a.data) }
        val s1 = System.nanoTime()
        trace("plan") { df.queryExecution.executedPlan }
        val s2 = System.nanoTime()
        val (rows, hash) = trace("exec") { RowHash.of(df.queryExecution) }
        val s3 = System.nanoTime()
        probes.foreach(_.plan.add(df.queryExecution.tracker))
        Sample(pass, q, (s1 - s0) / 1e9, (s2 - s1) / 1e9, (s3 - s2) / 1e9, rows, hash)
      }
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass < TimedPasses || elapsed < a.seconds) {
      rng.shuffle(all).foreach { q =>
        attempted += 1
        try {
          val s = runQuery(q, attempted)
          pins.get(q) match {
            case Some((r, h)) if r != s.rows || h != s.hash =>
              failed += 1
              errors += s"$q: rows ${s.rows} hash ${s.hash}, pinned rows $r hash $h"
            case None if !a.writePins =>
              failed += 1
              errors += s"$q: no pinned output"
            case _ => samples += s
          }
        } catch {
          case e: Throwable =>
            failed += 1
            errors += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
      pass += 1
    }
    val t1 = System.nanoTime()
    val ss = samples.result()
    if (a.writePins)
      Pins.write(a.pins, ss.groupBy(_.query).map { case (q, xs) => q -> (xs.head.rows, xs.head.hash) })

    val best = ss.groupBy(_.query).map { case (q, xs) => q -> xs.map(_.totalS).min }
    def groupS(g: Seq[String]) = g.flatMap(best.get).sum
    val lat = best.values.map(_ * 1e3).toSeq
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupTimes), "s"),
      Metric("op_p50_ms", Stats.hd(lat, 0.5), "ms"),
      Metric("op_p75_ms", Stats.hd(lat, 0.75), "ms"),
      Metric("ops_per_s", best.size / best.values.sum, "1/s"),
      Metric("live_heap_mb", Env.liveHeapMb(), "MB"))
    val layer = Seq(
      Metric("queries.build_s", ss.map(_.buildS).sum, "s"),
      Metric("queries.plan_s", ss.map(_.planS).sum, "s"),
      Metric("queries.exec_s", ss.map(_.execS).sum, "s"),
      Metric("queries.iter_s", groupS(iterative), "s"),
      Metric("queries.oneshot_s", groupS(oneshot), "s"),
      Metric("queries.ops", ss.size, "count")) ++
      all.map(q => Metric(s"queries.${q}_s", best.getOrElse(q, 0.0), "s")) ++
      probes.toSeq.flatMap { p =>
        p.finish(t0, t1) :+ Metric("queries.build_jobs", p.jobsIn(_.name == "build"), "count")
      }
    val notes = Seq(
      "peak_rss_mb" -> Env.peakRssMb.toString,
      "passes" -> pass.toString,
      "samples" -> ss.size.toString,
      "setup_reps_s" -> setupTimes.map(Js.num).mkString("[", ",", "]"),
      "pass_s" -> ss.groupBy(_.pass).toSeq.sortBy(_._1)
        .map { case (_, xs) => f"${xs.map(_.totalS).sum}%.2f" }.mkString(","))
    (spark, Outcome(attempted, failed, e2e ++ layer, notes, errors.result()))
  }
}

/** Pinned (rows, hash) per query, one `name rows hash` line each. */
object Pins {
  def read(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (path.isEmpty || !f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(q, r, h) = l.split("\\s+"); q -> (r.toLong, h.toLong) }.toMap
      finally src.close()
    }
  }

  def write(path: String, pins: Map[String, (Long, Long)]): Unit = {
    val body = pins.toSeq.sortBy(_._1).map { case (q, (r, h)) => s"$q $r $h" }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      ("# query rows hash (perfbench/RowHash.scala)" +: body).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
  }
}
