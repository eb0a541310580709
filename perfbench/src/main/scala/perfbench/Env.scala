package perfbench

import org.apache.spark.sql.SparkSession

import graft.Graft

/** Command-line arguments of the JVM side (see `run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, pins: String, writePins: Boolean,
                      out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"),
      kv.getOrElse("pins", ""), kv.get("write-pins").contains("1"), need("out"))
  }
}

/** Spark session lifecycle and host facts. */
object Env {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  val master: String = s"local[$nproc]"

  def start(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.install(spark)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Program start-up, `reps` times: a fresh session each time, then
    * `body` (load and warm up). Returns the last session, what its
    * `body` returned, and every rep's seconds. Earlier sessions are
    * released with `release` and stopped.
    */
  def setup[A](reps: Int, work: String)(body: SparkSession => A)(release: A => Unit)
      : (SparkSession, A, Seq[Double]) = {
    var last: Option[(SparkSession, A)] = None
    val times = (1 to reps).map { _ =>
      last.foreach { case (s, a) => release(a); stop(s) }
      val t0 = System.nanoTime()
      val spark = start(work)
      val a = body(spark)
      last = Some((spark, a))
      (System.nanoTime() - t0) / 1e9
    }
    (last.get._1, last.get._2, times)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap the program still holds once collections stop freeing memory,
    * in MiB. Spark's `ContextCleaner` drops broadcast and shuffle blocks
    * only after a collection has found their handles unreachable, so this
    * collects until the figure moves by less than 1 MiB (at most 6 times).
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      Thread.sleep(200)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, n) = (Double.MaxValue, collect(), 1)
    while (math.abs(prev - cur) >= 1 && n < 6) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  def memTotalMb: Double = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().collectFirst {
      case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def host(spark: SparkSession): Seq[(String, String)] = Seq(
    "nproc" -> nproc.toString,
    "mem_total_mb" -> Js.num(math.round(memTotalMb).toDouble),
    "spark_master" -> Js.str(spark.sparkContext.master),
    "shuffle_partitions" -> Js.str(spark.conf.get("spark.sql.shuffle.partitions")),
    "driver_xmx" -> Js.str(java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xmx")).lastOption
      .getOrElse("default")),
    "spark_version" -> Js.str(spark.version),
    "java_version" -> Js.str(sys.props("java.version")))
}
