package perfbench

/** JVM entry of the benchmark: runs one workload and writes its result
  * as one JSON object to `--out`. `run.py` builds this, prepares the
  * inputs and prints the result line.
  *
  * The process ends with an explicit `System.exit`: `HttpApiServer.stop`
  * stops the listener but not the handler pool it created, whose
  * non-daemon threads would otherwise keep the JVM alive.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val trace = new Trace(a.trace)
    val code =
      try {
        val (spark, o) = a.workload match {
          case "batch_sf001" => Batch.run(a, trace)
          case "serve_read" => Serve.run(a, trace, writes = false)
          case "serve_write" => Serve.run(a, trace, writes = true)
          case w => sys.error(s"unknown workload $w")
        }
        val host = Env.host(spark)
        if (trace.on) trace.write(s"${a.work}/trace-${a.workload}-${a.seed}.jsonl")
        val layerNames = o.metrics.map(_.name).toSet
        val metrics = o.metrics ++ Layers.zeros.filterNot(m => layerNames(m.name))
        val json = Js.obj(Seq(
          "correct" -> (o.failed == 0 && o.attempted > 0).toString,
          "attempted" -> o.attempted.toString,
          "failed" -> o.failed.toString,
          "metrics" -> Js.obj(metrics.map(m =>
            m.name -> Js.obj(Seq("value" -> Js.num(m.value), "unit" -> Js.str(m.unit))))),
          "host" -> Js.obj(host),
          "notes" -> Js.obj(o.notes.map { case (k, v) => k -> Js.str(v) }),
          "errors" -> o.errors.take(50).map(Js.str).mkString("[", ",", "]")))
        java.nio.file.Files.write(java.nio.file.Paths.get(a.out), json.getBytes("UTF-8"))
        o.errors.take(50).foreach(e => System.err.println(s"[perfbench] FAILED $e"))
        try Env.stop(spark) catch { case _: Throwable => () }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }
}

/** Per-layer metrics of layers a workload does not exercise read 0: the
  * batch workload sends no HTTP request, the serving workloads build no
  * contract query.
  */
object Layers {
  val routes: Seq[String] = Seq("get_node", "list_nodes", "count_nodes", "nodes_by_tag",
    "similar", "clusters", "create_node", "update_node", "delete_node")

  val zeros: Seq[Metric] =
    routes.map(r => Metric(s"http.${r}_p50_ms", 0, "ms")) ++
      Seq(Metric("http.self_ms", 0, "ms"), Metric("http.errors", 0, "count"),
        Metric("http.requests", 0, "count")) ++
      routes.map(r => Metric(s"api.${r}_p50_ms", 0, "ms")) ++
      Seq(Metric("api.jobs_per_write", 0, "jobs/op"), Metric("api.writes", 0, "count"),
        Metric("api.write_growth", 0, "ratio"), Metric("api.write_p50_ms", 0, "ms"), Metric("api.write_p90_ms", 0, "ms"),
        Metric("db.plan_nodes_end", 0, "count"), Metric("db.plan_nodes_per_write", 0, "count"),
        Metric("io.load_s", 0, "s"),
        Metric("queries.build_s", 0, "s"), Metric("queries.plan_s", 0, "s"),
        Metric("queries.exec_s", 0, "s"), Metric("queries.iter_s", 0, "s"),
        Metric("queries.oneshot_s", 0, "s"), Metric("queries.ops", 0, "count"),
        Metric("queries.build_jobs", 0, "count")) ++
      Batch.all.map(q => Metric(s"queries.${q}_s", 0, "s"))
}
