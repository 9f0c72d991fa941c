package kgbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span: workload → call → Spark job. Times are wall-clock nanoseconds
  * from `System.nanoTime` on the driver. `parent` is the enclosing span id. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-job record kept by the listener. Stage metrics are summed over the
  * stage attempts that completed while the job ran. */
final class JobRec(val jobId: Int, val desc: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  var stages = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** Listener that keys every Spark job by its `spark.job.description` and
  * sums stage task metrics into the job that submitted the stage. A stage
  * shared by several jobs (AQE re-submission) belongs to the first job that
  * listed it; stage attempts are keyed by (stageId, attempt). Everything
  * stays in memory until the run ends. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val seenAttempts = ConcurrentHashMap.newKeySet[(Int, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, desc, System.nanoTime()))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (!seenAttempts.add((info.stageId, info.attemptNumber()))) return
    val job = Option(stageJob.get(info.stageId)).map(j => jobs.get(j.intValue))
    val m = info.taskMetrics
    job.filter(_ != null).foreach { r =>
      r.synchronized {
        r.stages += 1
        if (m != null) {
          r.taskMs += m.executorRunTime
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
          r.inputBytes += m.inputMetrics.bytesRead
          r.inputRecords += m.inputMetrics.recordsRead
          r.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

/** Collects streaming micro-batch durations (public progress events).
  * Registered through `spark.sql.streaming.streamingQueryListeners`, so it
  * also sees queries of derived sessions (the streaming ops run theirs in a
  * `newSession()`); every instance appends to the one shared queue. */
object BatchListener {
  val batches = new ConcurrentLinkedQueue[(Long, Long)]() // (endNs, durationMs)
}

final class BatchListener extends StreamingQueryListener {
  import BatchListener.batches
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      batches.add((System.nanoTime(), e.progress.durationMs.getOrDefault("triggerExecution", 0L).longValue))
}

/** Times the benchmark's calls into the engine as spans. */
final class Tracer {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  def span[T](parent: Long, kind: String, name: String)(body: Long => T): (T, Span) = {
    val id = nextId.incrementAndGet()
    val t0 = System.nanoTime()
    val out = body(id)
    (out, Span(id, parent, kind, name, t0, System.nanoTime()))
  }
}

object Layers {
  /** Engine layer of a job, from the job description the engine sets. */
  def ofDescription(desc: String): String = {
    if (desc == null) return "unlabeled"
    if (desc.startsWith("graft-link:")) return "link"
    if (desc.startsWith("graft-mat:")) return "materialize"
    if (desc.startsWith("graft-comm:")) return "community"
    if (desc.startsWith(Bench.ForceLabel)) return "io"
    if (!desc.startsWith("graft-stage:")) return "unlabeled"
    desc.stripPrefix("graft-stage:") match {
      case "chunks" => "build"
      case "logs" | "doc_meta" => "extract"
      case "mapping" => "link"
      case "nodes0" | "edges0" | "properties0" | "triples" | "dropped_edges" => "materialize"
      case "nodes" | "edges" | "properties" | "edges-part" | "properties-part" => "community"
      case "search_index" => "index"
      case "documents" => "pipeline"
      case _ => "unlabeled"
    }
  }

  val All = Seq("build", "extract", "link", "materialize", "community", "index", "pipeline",
    "io", "query", "ops", "unlabeled")

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
