package graft

import graft.core._
import graft.extract.DeterministicExtractor
import graft.io.{Checkpoints, ParquetTableIO}
import graft.pipeline.BuildPipeline
import java.io.File
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Resumability (north_rule): a re-run from checkpoints reproduces
  * byte-identical sorted outputs; lineage records the resume; a stage that
  * is read back builds none of the layers that would compute it. */
class ResumeSpec extends SparkSpec {

  private val Stages = Set("chunks", "doc_meta", "logs", "mapping", "nodes0", "edges0",
    "properties0", "triples", "dropped_edges", "nodes", "edges", "properties",
    "documents", "search_index")

  private def build(dir: String, runId: String): BuildPipeline.BuildResult =
    BuildPipeline.run(Corpus.docs(spark, 40), new DeterministicExtractor,
      Some(new Checkpoints(spark, new ParquetTableIO(dir), runId)))

  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def tables(dir: String): Map[String, Seq[String]] = {
    val io = new ParquetTableIO(dir)
    Stages.map(s => s -> rendered(io.read(spark, s))).toMap
  }

  private def lineage(dir: String, runId: String): Map[String, Boolean] = {
    import spark.implicits._
    new ParquetTableIO(dir).read(spark, "_lineage").filter(col("run_id") === runId)
      .select("stage", "resumed").as[(String, Boolean)].collect().toMap
  }

  /** Runs `body` and counts the jobs it started per layer label
    * (`graft-link`, `graft-mat`, `graft-comm`, ...). */
  private def layerJobs[T](body: => T): (T, Map[String, Int]) = {
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, labels.asScala.toSeq.groupBy(_.takeWhile(_ != ':')).map { case (k, v) => k -> v.size })
    } finally sc.removeSparkListener(listener)
  }

  // one cold checkpointed build shared by the resume tests; each partial
  // resume runs on its own copy of the work dir
  private lazy val coldDir: String = {
    val dir = Files.createTempDirectory("graft-resume").toString
    build(dir, "run-1").cleanup()
    dir
  }
  private lazy val coldTables = tables(coldDir)

  private def coldCopyWithout(stages: String*): String = {
    val dir = Files.createTempDirectory("graft-resume-part").toString
    FileUtils.copyDirectory(new File(coldDir), new File(dir))
    stages.foreach(s => FileUtils.deleteDirectory(new File(dir, s)))
    dir
  }

  test("checkpointed rerun is idempotent and resumes all stages") {
    val cold = coldTables
    val preRdds = spark.sparkContext.getPersistentRDDs.keySet
    val preCached = org.apache.spark.sql.CacheEntries.count(spark)

    val (r2, jobs) = layerJobs(build(coldDir, "run-2"))
    // a full resume reads its checkpoints and builds no layer
    assert(Seq("graft-link", "graft-mat", "graft-comm").map(jobs.getOrElse(_, 0)) === Seq(0, 0, 0),
      s"layer jobs on a full resume: $jobs")
    assert(rendered(r2.triples) === cold("triples"))
    assert(rendered(r2.nodes) === cold("nodes"))
    assert(rendered(r2.edges) === cold("edges"))
    r2.cleanup()
    assert(spark.sparkContext.getPersistentRDDs.keySet === preRdds)
    assert(org.apache.spark.sql.CacheEntries.count(spark) === preCached)

    val resumed = lineage(coldDir, "run-2")
    assert(resumed.keySet === Stages)
    assert(resumed.values.forall(identity), s"run-2 should resume every stage: $resumed")
    // per-stage row counts identical across runs
    val counts = new ParquetTableIO(coldDir).read(spark, "_lineage").groupBy("stage")
      .agg(countDistinct(col("rows_out")).as("variants")).collect()
    assert(counts.forall(_.getLong(1) === 1L))
  }

  test("partial resume recomputes only the deleted stages, without the linker") {
    val deleted = Set("edges0", "edges", "search_index")
    val dir = coldCopyWithout(deleted.toSeq: _*)
    val (r, jobs) = layerJobs(build(dir, "run-3"))
    r.cleanup()
    assert(lineage(dir, "run-3").collect { case (s, false) => s }.toSet === deleted)
    assert(jobs.getOrElse("graft-link", 0) === 0, s"linker ran: $jobs")
    assert(jobs.getOrElse("graft-mat", 0) > 0 && jobs.getOrElse("graft-comm", 0) > 0, jobs)
    assert(tables(dir) === coldTables)
  }

  test("partial resume of nodes builds the community layer, not the materializer") {
    val dir = coldCopyWithout("nodes")
    val (r, jobs) = layerJobs(build(dir, "run-4"))
    r.cleanup()
    assert(lineage(dir, "run-4").collect { case (s, false) => s }.toSet === Set("nodes"))
    assert(jobs.getOrElse("graft-link", 0) === 0 && jobs.getOrElse("graft-mat", 0) === 0, jobs)
    assert(jobs.getOrElse("graft-comm", 0) > 0, jobs)
    assert(tables(dir) === coldTables)
  }

  test("fresh rebuild (no checkpoints) produces the same triples as checkpointed") {
    val dir = Files.createTempDirectory("graft-resume2").toString
    val cp = new Checkpoints(spark, new ParquetTableIO(dir), "run-x")
    val a = BuildPipeline.run(Corpus.docs(spark, 25), new DeterministicExtractor, Some(cp))
      .triples.orderBy("doc_id", "subj", "pred", "obj").collect().toSeq
    val b = BuildPipeline.run(Corpus.docs(spark, 25), new DeterministicExtractor, None)
      .triples.orderBy("doc_id", "subj", "pred", "obj").collect().toSeq
    assert(a === b)
  }
}
