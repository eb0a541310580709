package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.WhisperDB
import graft.api.HttpApiServer
import graft.enrich.{EnrichService, MockEmbedder, MockTagger}

/** `serve_read` and `serve_write`: one closed-loop HTTP client over
  * loopback to `HttpApiServer`, which serves a seeded snapshot loaded
  * with `WhisperDB.loadNative`.
  *
  * Closed loop, because REST callers wait for each reply and writes
  * serialize on the facade's transition lock. Every response is checked
  * against `Shadow`, an in-memory model of the snapshot plus the
  * client's own writes.
  *
  * Ops come in cycles with a fixed count of each kind, in smooth
  * weighted round-robin order; the seed picks node ids, tags and filter
  * values. A write cycle always starts from the loaded snapshot
  * (`TimedApi.reset`), so the state it reaches, and the cost of
  * reaching it, does not depend on how fast earlier cycles ran.
  */
object Serve {
  val SetupReps = 3

  /** Each workload runs whole cycles of 25 ops until `--seconds` have
    * passed. The weights are ops per cycle: the read mix is 24% get,
    * 24% list (filter + sort + page), 16% count, 16% nodes-by-tag, 16%
    * similar top-10 and 4% clusters; the write mix is 32% create, 20%
    * update, 8% delete and 40% reads that check the writes.
    */
  val readMix: Seq[(String, Int)] = Seq("get_node" -> 6, "list_nodes" -> 6,
    "count_nodes" -> 4, "nodes_by_tag" -> 4, "similar" -> 4, "clusters" -> 1)
  val writeMix: Seq[(String, Int)] = Seq("create_node" -> 8, "update_node" -> 5,
    "delete_node" -> 2, "get_node" -> 4, "list_nodes" -> 3, "count_nodes" -> 3)
  val mutations: Set[String] = Set("create_node", "update_node", "delete_node")

  private final case class Sample(cycle: Int, kind: String, ms: Double, ok: Boolean)

  def run(a: Args, trace: Trace, writes: Boolean): (SparkSession, Outcome) = {
    val model = Model.load(a.data)
    val mix = if (writes) writeMix else readMix
    val enrich = new EnrichService(new MockEmbedder(64), new MockTagger)
    val loads = mutable.ArrayBuffer.empty[Double]
    val (spark, (api, server, client), setupTimes) = Env.setup(SetupReps, a.work) { spark =>
      val t0 = System.nanoTime()
      val db = WhisperDB.loadNative(spark, a.data)
      loads += (System.nanoTime() - t0) / 1e9
      val api = new TimedApi(db, enrich, trace)
      val server = new HttpApiServer(api)
      (api, server, new Client(server.start()))
    } { case (_, server, _) => server.stop() }
    // warm-up, not reported: one request of each kind the workload sends
    val w0 = System.nanoTime()
    locally {
      val w = new Shadow(model)
      val warm = new Random(a.seed ^ 0x5eed)
      mix.foreach { case (k, _) => w.check(client.send(w.request(k, warm))) }
      api.reset()
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val probes = Probes.attach(spark, trace)

    val rng = new Random(a.seed)
    val samples = Vector.newBuilder[Sample]
    val errors = Vector.newBuilder[String]
    var shadow = new Shadow(model)
    var planStart, planEnd, lastWrites = 0
    var cycle, opId = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (cycle == 0 || elapsed < a.seconds) {
      if (writes) { api.reset(); shadow = new Shadow(model) }
      planStart = Shadow.planNodes(api.db)
      lastWrites = 0
      Shadow.smoothOrder(mix).foreach { kind =>
        opId += 1
        val req = shadow.request(kind, rng)
        val s0 = System.nanoTime()
        val resp = try trace.op(s"http.$kind", opId)(Right(client.send(req)))
          catch { case e: Exception => Left(e) }
        val ms = (System.nanoTime() - s0) / 1e6
        val problem = resp match {
          case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(r) => shadow.check(r)
        }
        problem.foreach(p => errors += s"$kind ${req.path}: $p")
        if (mutations(kind)) lastWrites += 1
        samples += Sample(cycle, kind, ms, problem.isEmpty)
      }
      planEnd = Shadow.planNodes(api.db)
      cycle += 1
    }
    val t1 = System.nanoTime()
    val phaseS = (t1 - t0) / 1e9
    server.stop()

    val all = samples.result()
    val ok = all.filter(_.ok)
    val lat = ok.map(_.ms)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupTimes), "s"),
      Metric("op_p50_ms", Stats.hd(lat, 0.5), "ms"),
      Metric("op_p75_ms", Stats.hd(lat, 0.75), "ms"),
      Metric("ops_per_s", ok.size / phaseS, "1/s"),
      Metric("live_heap_mb", Env.liveHeapMb(), "MB"))
    val byKind = ok.groupBy(_.kind)
    val writeLat = ok.filter(s => mutations(s.kind)).map(_.ms)
    val layer = probes.toSeq.flatMap { p =>
      val spans = trace.all
      val self = trace.selfNs
      val roots = spans.filter(_.parent == -1)
      def apiP50(r: String) =
        Stats.medianOr0(spans.filter(_.name == s"api.$r").map(_.durNs / 1e6))
      val writeSpans = spans.count(s => mutations(s.name.stripPrefix("api.")))
      p.finish(t0, t1) ++
        Layers.routes.map(r => Metric(s"http.${r}_p50_ms",
          Stats.medianOr0(byKind.getOrElse(r, Nil).map(_.ms)), "ms")) ++
        Layers.routes.map(r => Metric(s"api.${r}_p50_ms", apiP50(r), "ms")) ++
        Seq(
          Metric("http.self_ms", Stats.medianOr0(roots.map(s => self(s.id) / 1e6)), "ms"),
          Metric("http.errors", all.size - ok.size, "count"),
          Metric("http.requests", all.size, "count"),
          Metric("api.writes", writeSpans, "count"),
          Metric("api.jobs_per_write",
            if (writeSpans == 0) 0.0
            else p.jobsIn(s => mutations(s.name.stripPrefix("api."))).toDouble / writeSpans,
            "jobs/op"),
          Metric("api.write_growth", Growth.ratio(ok.filter(s => mutations(s.kind))
            .map(s => (s.cycle, s.kind, s.ms))), "ratio"),
          Metric("api.write_p50_ms", Stats.medianOr0(writeLat), "ms"),
          Metric("api.write_p90_ms", if (writeLat.isEmpty) 0.0 else Stats.quantile(writeLat, 0.9), "ms"),
          Metric("db.plan_nodes_end", planEnd, "count"),
          Metric("db.plan_nodes_per_write",
            if (lastWrites == 0) 0.0 else (planEnd - planStart).toDouble / lastWrites, "count"),
          Metric("io.load_s", Stats.median(loads.toSeq), "s"))
    }
    val notes = Seq(
      "peak_rss_mb" -> Env.peakRssMb.toString,
      "cycles" -> cycle.toString,
      "samples" -> all.size.toString,
      "per_kind" -> byKind.map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(","),
      "setup_reps_s" -> setupTimes.map(Js.num).mkString("[", ",", "]"),
      "warmup_s" -> warmupS.toString)
    (spark, Outcome(all.size, all.size - ok.size, e2e ++ layer, notes, errors.result()))
  }
}

/** One HTTP request the client sends. */
final case class Req(method: String, path: String, body: String = null)

/** Blocking HTTP/1.1 client over loopback. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def send(r: Req): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      .timeout(Duration.ofSeconds(120))
    val req =
      if (r.body == null) b.method(r.method, HttpRequest.BodyPublishers.noBody())
      else b.header("Content-Type", "application/json")
        .method(r.method, HttpRequest.BodyPublishers.ofString(r.body))
    http.send(req.build(), HttpResponse.BodyHandlers.ofString())
  }
}
