package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners of a traced run, live only between [[start]] and [[stop]].
  *
  * Scheduler and executor counts are keyed by the job group the runner sets
  * per query execution (`perfbench:<query>:p<pass>`), so they attach to the
  * span of that execution. Catalyst phase times come from each
  * QueryExecution's planning tracker and attach to the span whose interval
  * holds the phase. Streaming progress is counted per micro-batch.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism

  // group -> metric -> value; listener callbacks arrive on the bus thread.
  private val counts = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private def add(group: String, k: String, v: Double): Unit = synchronized {
    val m = counts.getOrElseUpdate(group, mutable.Map.empty[String, Double])
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // Streaming micro-batches run under their own job group; such jobs
      // are keyed by start time and attach to the span that contains it.
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("perfbench:")).getOrElse(s"@${e.time}")
      Trace.this.synchronized(e.stageIds.foreach(stageGroup(_) = g))
      add(g, "spark.jobs", 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      add(groupOf(e.stageInfo.stageId), "spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = groupOf(e.stageId)
      add(g, "spark.tasks", 1)
      if (e.reason != Success) add(g, "spark.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val mb = 1048576.0
        add(g, "spark.task_run_s", m.executorRunTime / 1e3)
        add(g, "spark.task_cpu_s", m.executorCpuTime / 1e9)
        add(g, "spark.gc_s", m.jvmGCTime / 1e3)
        add(g, "spark.sched_delay_s", math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime) / 1e3)
        add(g, "spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        add(g, "spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        add(g, "spark.spill_mb", m.diskBytesSpilled / mb)
        add(g, "spark.input_mb", m.inputMetrics.bytesRead / mb)
        add(g, "spark.output_mb", m.outputMetrics.bytesWritten / mb)
      }
    }
  }
  private def groupOf(stageId: Int): String = synchronized(stageGroup.getOrElse(stageId, ""))

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          phases += ((phase, s.startTimeMs, s.endTimeMs))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def dur(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Trace.this.synchronized(streamEvents += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
        Map("stream.batches" -> 1.0, "stream.add_batch_ms" -> dur("addBatch"),
          "stream.wal_commit_ms" -> dur("walCommit"),
          "stream.state_rows" -> p.stateOperators.map(_.numRowsTotal.toDouble).sum))))
      ()
    }
  }
  private val streamEvents = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]

  def start(): Unit = {
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streaming)
  }

  /** Spans are kept in memory until the run ends. */
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** One span per traced execution with `registry.build`, the Catalyst
    * phases and `exec` as children and self times computed; returns the
    * per-layer totals over all traced executions.
    */
  def report(execs: Seq[PerfBench.Exec]): Map[String, Any] = synchronized {
    val totals = mutable.Map.empty[String, Double]
    def total(k: String, v: Double): Unit = totals(k) = totals.getOrElse(k, 0.0) + v
    val phaseName = Map("analysis" -> "plan.analysis", "optimization" -> "plan.optimizer",
      "planning" -> "plan.physical")
    execs.zipWithIndex.foreach { case (e, id) =>
      val s0 = e.startMs
      val b1 = s0 + e.buildS * 1e3
      val e1 = b1 + e.execS * 1e3
      val plan = phases.toSeq.collect {
        case (p, ps, pe) if phaseName.contains(p) && ps >= s0 && ps <= e1 + 1 =>
          (phaseName(p), ps.toDouble, pe.toDouble)
      }
      def self(a: Double, b: Double): Double =
        (b - a) - Trace.covered(plan.map(p => (p._2, p._3)), a, b)
      val group = s"perfbench:${e.query}:p${e.pass}"
      val timed = counts.keys.filter(_.startsWith("@")).filter { k =>
        val t = k.drop(1).toDouble
        t >= s0 && t <= e1 + 1
      }
      val layer = (group +: timed.toSeq).flatMap(counts.get).flatMap(_.toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      val stream = streamEvents.toSeq.filter(ev => ev._1 >= s0 && ev._1 <= e1 + 1).map(_._2)
      val streamTotals = stream.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      (layer ++ streamTotals).foreach { case (k, v) => total(k, v) }
      plan.foreach(p => total(p._1 + "_ms", p._3 - p._2))
      total("registry.build_s", e.buildS)
      total("exec_s", e.execS)
      spans += Map(
        "id" -> id, "name" -> "query", "query" -> e.query, "pass" -> e.pass,
        "start_ms" -> s0, "end_ms" -> e1, "self_ms" -> ((e1 - s0) - Trace.covered(Seq((s0, b1), (b1, e1)), s0, e1)),
        "error" -> e.error, "counts" -> (layer ++ streamTotals),
        "children" -> (Seq(
          Map("name" -> "registry.build", "parent" -> id, "start_ms" -> s0, "end_ms" -> b1,
            "self_ms" -> self(s0, b1)),
          Map("name" -> "exec", "parent" -> id, "start_ms" -> b1, "end_ms" -> e1,
            "self_ms" -> self(b1, e1))) ++
          plan.map(p => Map("name" -> p._1, "parent" -> id, "start_ms" -> p._2,
            "end_ms" -> p._3, "self_ms" -> (p._3 - p._2)))))
    }
    Map("cores" -> cores, "totals" -> totals.toMap)
  }
}

object Trace {
  /** Length of [a, b] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = ivs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var end = a
    var sum = 0.0
    clipped.foreach { case (s, e) =>
      if (e > end) { sum += e - math.max(s, end); end = e }
    }
    sum
  }
}
