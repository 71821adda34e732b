package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Closed-loop pass runner behind `perfbench/run.py`.
  *
  * One JVM, one [[graft.GraftSession]] for the whole run, one client: each
  * registered query runs through the public `SparkEntry.queries(name)` and
  * ends in the sort-preserving `noop` write `graft.Bench` uses. Nothing is
  * recycled, collected or uncached between queries, so whatever a query
  * leaves behind is charged to the queries after it. Pass 0 is the first
  * pass of the fresh JVM; warm passes follow until `seconds` of warm time
  * has elapsed. The seed only shuffles the query order of each warm pass.
  *
  * With `trace=1` the warm passes alternate untraced and traced, so the
  * tracing overhead is measured inside the same JVM; listeners are live
  * only during traced passes, and the layer probes run after the passes.
  *
  * Raw timings go to the JSON file `out`; `run.py` turns them into metrics.
  * Afterwards every query runs once more, untimed, into parquet under
  * `check` for the output check.
  *
  * Usage (key=value arguments):
  *   mode=setup|run|check sf=DIR queries=a,b,c seed=N seconds=S trace=0|1
  *   minWarm=N out=FILE check=DIR
  */
object PerfBench {

  final case class Exec(
      query: String, pass: Int, traced: Boolean, startMs: Double,
      buildS: Double, execS: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build(cpus, "perfbench")
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    val readyEpochS = epochS()
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get(opt("out"))
    opt("mode") match {
      case "setup" =>
        spark.stop()
        Files.writeString(out, Json(Map(
          "ready_epoch_s" -> readyEpochS, "session_build_s" -> sessionBuildS)))
      case "check" =>
        val names = opt("queries").split(',').toVector
        val errors = writeOutputs(spark, opt("sf"), names, opt("check"))
        val oracle = graft.SparkEntry.oracleSql
        spark.stop()
        Files.writeString(out, Json(Map(
          "errors" -> errors,
          "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap)))
      case "run" =>
        val res = run(spark, opt)
        spark.stop()
        Files.writeString(out, Json(res ++ Map(
          "ready_epoch_s" -> readyEpochS,
          "session_build_s" -> sessionBuildS,
          "peak_rss_mb" -> peakRssMb(),
          "cpus" -> cpus.toInt)))
    }
  }

  private def epochS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private def run(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val sfDir = opt("sf")
    val names = opt("queries").split(',').toVector
    val seed = opt("seed").toLong
    val warmSeconds = opt("seconds").toDouble
    val minWarm = opt("minWarm").toInt
    val traced = opt("trace") == "1"
    val queries = graft.SparkEntry.queries
    val trace = if (traced) Some(new Trace(spark)) else None
    val heapFloor = new HeapFloor

    val execs = Vector.newBuilder[Exec]
    val passes = Vector.newBuilder[Map[String, Any]]
    def runPass(pass: Int, tracePass: Boolean): Double = {
      // Pass 0 keeps the listed order, so first_pass_s always times the same
      // cold start; the seed shuffles every warm pass.
      val order =
        if (pass == 0) names else new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      if (tracePass) trace.foreach(_.start())
      val p0 = System.nanoTime()
      order.foreach { n =>
        spark.sparkContext.setJobGroup(s"perfbench:$n:p$pass", n)
        val startMs = System.currentTimeMillis().toDouble
        val b0 = System.nanoTime()
        var b1 = b0
        val err =
          try {
            val df = queries(n)(spark, sfDir)
            b1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(e.getClass.getName + ": " + e.getMessage) }
        val e1 = System.nanoTime()
        if (b1 == b0) b1 = e1
        spark.sparkContext.clearJobGroup()
        heapFloor.sample()
        execs += Exec(n, pass, tracePass, startMs, (b1 - b0) / 1e9, (e1 - b1) / 1e9, err)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (tracePass) trace.foreach(_.stop())
      passes += Map("pass" -> pass, "traced" -> tracePass, "wall_s" -> wall,
        "order" -> order)
      wall
    }

    runPass(0, tracePass = false)
    var warm = 0
    var warmElapsed = 0.0
    while (warm < minWarm || warmElapsed < warmSeconds) {
      warm += 1
      // Traced runs alternate: odd warm passes traced, even ones untraced.
      warmElapsed += runPass(warm, tracePass = traced && warm % 2 == 1)
    }

    val layers: Map[String, Any] = trace match {
      case Some(t) => t.report(execs.result().filter(_.traced)) ++
        Probes.run(spark, sfDir)
      case None => Map.empty
    }
    val checkErrors = writeOutputs(spark, sfDir, names, opt("check"))
    Map(
      "execs" -> execs.result().map(e => Map(
        "query" -> e.query, "pass" -> e.pass, "traced" -> e.traced,
        "build_s" -> e.buildS, "exec_s" -> e.execS,
        "error" -> e.error)),
      "passes" -> passes.result(),
      "heap_floor_mb" -> heapFloor.maxMb,
      "check_errors" -> checkErrors,
      "layers" -> layers,
      "spans" -> trace.map(_.spans).getOrElse(Vector.empty))
  }

  /** Runs every query once, untimed, into `dir/<name>` as one ordered
    * parquet file; returns the queries that threw.
    */
  private def writeOutputs(
      spark: SparkSession, sfDir: String, names: Seq[String],
      dir: String): Map[String, String] = {
    val queries = graft.SparkEntry.queries
    names.sorted.flatMap { n =>
      spark.sparkContext.setJobGroup(s"perfbench:$n:check", n)
      try {
        queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$n")
        None
      } catch { case e: Throwable => Some(n -> (e.getClass.getName + ": " + e.getMessage)) }
      finally spark.sparkContext.clearJobGroup()
    }.toMap
  }

  /** Largest post-GC heap seen: the sum over heap pools of the usage the
    * last collection of each pool left behind. Read, never forced.
    */
  private final class HeapFloor {
    var maxMb = 0.0
    def sample(): Unit = {
      val used = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      maxMb = math.max(maxMb, used / 1048576.0)
    }
  }

  /** Process peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }
}

/** The harness's result files: Scala maps, sequences and options as JSON. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
