package graft.app

import graft.core.Corpus
import graft.extract.DeterministicExtractor
import graft.pipeline.BuildPipeline
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle-byte accounting for the end-to-end build — the measurement
  * behind the linker byte-diet (descriptions out of the corpus-wide
  * linking shuffles): total shuffle write/read bytes + records for one
  * build, plus the top stages by shuffle write with their call sites.
  *
  * Usage: ShuffleProbe [nDocs] [cores]
  */
object ShuffleProbe {

  private class Acc extends SparkListener {
    val wBytes = new java.util.concurrent.atomic.AtomicLong
    val rBytes = new java.util.concurrent.atomic.AtomicLong
    val wRecs = new java.util.concurrent.atomic.AtomicLong
    // stageId -> job description (the pipeline labels its materializing
    // jobs via setJobDescription; AQE sub-jobs inherit the thread-local)
    val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val byDesc = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val d = Option(e.properties).map(_.getProperty("spark.job.description"))
        .filter(_ != null).getOrElse("(unlabeled)")
      e.stageIds.foreach(sid => stageDesc.put(sid, d))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        val w = m.shuffleWriteMetrics.bytesWritten
        wBytes.addAndGet(w)
        rBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        wRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        if (w > 0) {
          val d = stageDesc.getOrDefault(e.stageInfo.stageId, "(unlabeled)")
          byDesc.computeIfAbsent(d, _ => new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(w)
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 6000L
    val cores = if (args.length > 1) args(1).toInt else 16
    // "linker" mode: materialize the logs first (untracked), then measure
    // ONLY the linking stage (logs -> canonical mapping) — the stage the
    // desc-payload byte diet targets.
    val linkerOnly = args.length > 2 && args(2) == "linker"
    val spark = graft.core.Sessions.local(cores, "graft-shuffle-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val acc = new Acc
    val t0first = System.nanoTime()
    var wall = 0.0
    var triples = 0L
    if (linkerOnly) {
      import spark.implicits._
      val chunksT = graft.build.Chunker.chunks(Corpus.docs(spark, nDocs))
      val ex = new DeterministicExtractor
      // eager cut: materialized before the listener attaches
      val logs = graft.core.Scope.cut(
        graft.extract.Extract.withProperties(
          graft.extract.Extract.rawLogs(chunksT,
            graft.build.Chunker.visualSpans(Corpus.docs(spark, nDocs)), ex), ex).toDF()).df
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      val (mapping, freeLinker) = graft.core.Scope.run(
        graft.link.Linker.canonicalMapping(logs.as[graft.core.ExtractionLog]))
      triples = mapping.count()
      wall = (System.nanoTime() - t0) / 1e9
      freeLinker()
    } else {
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      triples = BuildPipeline
        .run(Corpus.docs(spark, nDocs), new DeterministicExtractor)
        .triples.count()
      wall = (System.nanoTime() - t0) / 1e9
    }
    val _ = t0first
    // let the listener bus drain before reading the totals (private API
    // behind spark.* package access — a short sleep is enough here)
    Thread.sleep(1500)
    println(f"[shuffle-probe] docs=$nDocs triples=$triples wall=$wall%.1fs " +
      f"shuffleWrite=${acc.wBytes.get / 1048576.0}%.1f MiB " +
      f"shuffleRead=${acc.rBytes.get / 1048576.0}%.1f MiB " +
      f"records=${acc.wRecs.get}")
    import scala.jdk.CollectionConverters._
    acc.byDesc.asScala.toVector.map { case (d, w) => (w.get, d) }
      .sortBy(-_._1).take(20).foreach { case (w, d) =>
        println(f"[shuffle-probe]   ${w / 1048576.0}%8.1f MiB  $d")
      }
    spark.stop()
  }
}
