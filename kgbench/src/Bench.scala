package kgbench

import graft.core.{Corpus, DocRow, Sessions}
import graft.extract.DeterministicExtractor
import graft.io.{Checkpoints, ParquetTableIO}
import graft.ops.{Curation, Dedup, Ranking, TextAnalysis}
import graft.pipeline.BuildPipeline
import graft.query.Search
import graft.streaming.StreamingOps
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: a seeded, single-client, closed-loop workload on
  * `local[<cores>]`. Usage:
  *   Bench --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir>
  * Prints one JSON result line last; see kgbench/METHODOLOGY.md. */
object Bench {
  val ForceLabel = "kgbench-force:"

  /** One measured call: a build, a resume, a search or an op. */
  final case class Call(kind: String, name: String, cycle: Int, span: Span, ok: Boolean)

  final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                  val cores: Int, val tracer: Tracer) {
    val calls = mutable.ArrayBuffer.empty[Call]
    val failures = mutable.ArrayBuffer.empty[String]
    var workloadSpan = 0L
    var measuring = false
    var cycle = 0
    var checkFailures = 0
    private val t0 = System.nanoTime()

    /** Progress line on stderr, stamped with seconds since the run began. */
    def log(msg: String): Unit =
      System.err.println(f"[kgbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

    def check(what: String, ok: Boolean): Boolean = synchronized {
      if (!ok) {
        failures += what
        if (measuring) checkFailures += 1
      }
      ok
    }

    /** Time `body` as one call. A throw or a false result is a failed call
      * (only counted while measuring; in set-up a failure aborts the run). */
    def call(kind: String, name: String)(body: => Boolean): Unit = {
      val (ok, span) = tracer.span(workloadSpan, kind, name) { _ =>
        try body catch {
          case e: Exception if measuring =>
            synchronized { failures += s"$kind:$name threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
            false
        }
      }
      log(f"${if (measuring) s"cycle $cycle" else "set-up"} $kind:$name ${span.seconds}%.3f s${if (ok) "" else " FAILED"}")
      if (measuring) calls += Call(kind, name, cycle, span, ok)
      else if (!ok) throw new IllegalStateException(s"set-up call $kind:$name failed: ${failures.mkString("; ")}")
    }

    /** Free every cached block between calls, as graft.Bench does. */
    def freeCaches(): Unit = {
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
  }

  trait Workload {
    /** Write the inputs and run one untimed pass of the measured path. */
    def setup(): Unit
    /** One closed-loop cycle of measured calls. */
    def cycle(k: Int): Unit
  }

  private val HashMod = 4294967291L

  /** Order-independent (count, hash) of a table; forcing it is one job.
    * Top-level doubles are rounded so partition-order float sums cannot
    * flip the hash; maps hash through their JSON form. */
  def digest(spark: SparkSession, df: DataFrame, label: String): (Long, Long) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }
    spark.sparkContext.setJobDescription(ForceLabel + label)
    try {
      val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(HashMod))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    } finally spark.sparkContext.setJobDescription(null)
  }

  // ---------------------------------------------------------------- KG path
  final class CkptResumeSearch(ctx: Ctx, nDocs: Int, nQueries: Int) extends Workload {
    import ctx.spark
    import spark.implicits._
    private val extractor = new DeterministicExtractor
    private var docs: Dataset[DocRow] = _
    private var refTables: Map[String, (Long, Long)] = Map.empty
    private var refSearch: Vector[Long] = Vector.empty
    private val queries = Inputs.queries(ctx.seed, nQueries)

    /** Every table a checkpointed build returns is already written to the
      * work dir; the digests read back the three the checks compare. */
    private def tables(r: BuildPipeline.BuildResult): Map[String, (Long, Long)] =
      Seq("triples" -> r.triples, "nodes" -> r.nodes, "edges" -> r.edges)
        .map { case (n, df) => n -> digest(spark, df, n) }.toMap

    private def build(workDir: String, runId: String): Map[String, (Long, Long)] = {
      val cp = new Checkpoints(spark, new ParquetTableIO(workDir), runId)
      val r = BuildPipeline.run(docs, extractor, Some(cp))
      val t = tables(r)
      r.cleanup()
      t
    }

    private def search(index: DataFrame, i: Int): Long = {
      val q = queries(i)
      val s = if (i % 2 == 0) {
        val a = Search.answer(index, q)
        a.answer + "|" + a.sources.mkString(",")
      } else Search.globalSearch(index, q).collect()
        .map(r => s"${r.getAs[String]("id")}:${math.round(r.getAs[Double]("score") * 1e6)}")
        .mkString(",")
      scala.util.hashing.MurmurHash3.stringHash(s).toLong
    }

    /** Every stage of the resume run must have been read back, not rebuilt. */
    private def allResumed(workDir: String, runId: String): Boolean = {
      val rows = new ParquetTableIO(workDir).read(spark, "_lineage")
        .filter(col("run_id") === runId).select("resumed").as[Boolean].collect()
      rows.nonEmpty && rows.forall(identity)
    }

    private def searchTask(index: DataFrame, i: Int): () => Long = () => {
      var h = 0L
      ctx.call("search", if (i % 2 == 0) "answer" else "global") { h = search(index, i); true }
      h
    }

    /** Set-up: the inputs, then one untimed pass of the cold build, and of
      * the searches together with the parity check against the oracle on
      * `cores` threads (the resume path reads what the cold build already
      * read back). */
    def setup(): Unit = {
      val in = s"${ctx.dir}/input/docs"
      Corpus.docs(spark, nDocs, ctx.seed).write.parquet(in)
      docs = spark.read.parquet(in).as[DocRow]
      ctx.log("set-up: inputs written")
      val workDir = s"${ctx.dir}/work/setup"
      ctx.call("build", "ckpt_build") { refTables = build(workDir, "setup"); true }
      ctx.freeCaches()
      val io = new ParquetTableIO(workDir)
      val index = io.read(spark, "search_index")
      val parity = () => {
        val (p, r) = BuildPipeline.parity(io.read(spark, "triples"), Corpus.oracleTriples(spark, nDocs, ctx.seed).toDF())
        ctx.check(f"set-up: triple parity P=$p%.4f R=$r%.4f below 0.95", p >= 0.95 && r >= 0.95)
        0L
      }
      refSearch = inParallel(spark, ctx.cores)(parity +: Vector.tabulate(nQueries)(searchTask(index, _))).tail
      ctx.check("set-up: empty build", refTables.values.forall(_._1 > 0))
      ctx.freeCaches()
      deleteRecursively(workDir)
    }

    def cycle(k: Int): Unit = {
      val workDir = s"${ctx.dir}/work/c$k"
      var cold, resumed = Map.empty[String, (Long, Long)]
      ctx.call("build", "ckpt_build") { cold = build(workDir, s"cold-$k"); cold == refTables }
      ctx.freeCaches()
      ctx.call("build", "resume") { resumed = build(workDir, s"resume-$k"); resumed == cold }
      ctx.freeCaches()
      ctx.check(s"cycle $k: resume leg rebuilt a stage", allResumed(workDir, s"resume-$k"))
      val index = new ParquetTableIO(workDir).read(spark, "search_index")
      val hashes = Vector.tabulate(nQueries)(i => searchTask(index, i)())
      ctx.freeCaches()
      ctx.check(s"cycle $k: search results differ from set-up", hashes == refSearch)
      deleteRecursively(workDir)
    }
  }

  // ------------------------------------------------------------ curation ops
  final class CurateOps(ctx: Ctx, nDocs: Int, nVecs: Int) extends Workload {
    import ctx.spark
    private var data: Inputs.Curation = _
    private var ref: Map[String, (Long, Long)] = Map.empty
    private def d = s"${ctx.dir}/input"
    private def docs = spark.read.parquet(s"$d/documents.parquet")
    // planted exact duplicates of the first 20 vectors, as graft.SparkEntry does
    private def corpus = {
      val emb = spark.read.parquet(s"$d/embeddings.parquet")
      emb.unionByName(emb.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + lit(1000000L)))
    }
    private def cosinePairs = Dedup.embeddingCosinePairs(corpus, "vec_id", "embedding", threshold = 0.95)

    /** The 12 ops with graft.SparkEntry's arguments, in a fixed order. */
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "ngram_jaccard" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.8, maxShingleDf = 50L)),
      "minhash_lsh" -> (() => Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, numPerm = 16, bands = 4, threshold = 0.8)),
      "simhash_ham" -> (() => Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, bandBits = 16)),
      "embed_neardup" -> (() => cosinePairs),
      "dedup_clusters" -> (() => Dedup.dedupClusters(corpus, "vec_id", cosinePairs)),
      "cc_bigstar" -> (() => Dedup.dedupClusters(corpus, "vec_id", cosinePairs, bigStar = true)),
      "semantic_dedup" -> (() => {
        val seeds = spark.read.parquet(s"$d/embeddings.parquet").filter(col("vec_id") < 8)
          .orderBy("vec_id").select("embedding").collect().map(_.getAs[Seq[Float]](0).toArray)
        Dedup.semanticDedup(corpus, "vec_id", "embedding", Some(seeds), threshold = 0.95)
      }),
      "dup_spans" -> (() => Dedup.dupSpanStats(docs, "doc_id", "text")),
      "tfidf" -> (() => TextAnalysis.tfidfTopTerms(docs, "doc_id", "text")),
      "bm25" -> (() => Ranking.bm25(docs, "doc_id", "text", Seq("spark", "query", "join"))),
      "stream_dedup" -> (() => StreamingOps.dedupStreamOnce(spark, s"$d/documents.parquet", "doc_id", "text")),
      "curate" -> (() => Curation.curate(docs, "doc_id", "text")))

    private def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("ida").cast("long"), col("idb").cast("long")).collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet

    private def pass(): Map[String, (Long, Long)] = ops.map { case (name, op) =>
      var dg = (0L, 0L)
      ctx.call("op", name) { dg = digest(spark, op(), name); dg._1 > 0 }
      ctx.freeCaches()
      name -> dg
    }.toMap

    /** Set-up: the inputs, then one untimed pass of every op on `cores`
      * threads, each also collecting what the planted-structure checks
      * need from its output. */
    def setup(): Unit = {
      data = Inputs.writeCuration(spark, d, ctx.seed, nDocs, nVecs)
      ctx.log("set-up: inputs written")
      val pairOps = Set("ngram_jaccard", "minhash_lsh", "simhash_ham", "embed_neardup")
      val results = inParallel(spark, ctx.cores)(ops.map { case (name, op) => () =>
        var dg = (0L, 0L)
        var pairs = Set.empty[(Long, Long)]
        var groups = 0L
        ctx.call("op", name) {
          val df = op().cache()
          dg = digest(spark, df, name)
          if (pairOps(name)) pairs = pairSet(df)
          if (name == "semantic_dedup") groups = df.select("group").distinct().count()
          dg._1 > 0
        }
        (name, dg, pairs, groups)
      })
      ref = results.map(r => r._1 -> r._2).toMap
      val pairs = results.map(r => r._1 -> r._3).toMap
      val groups = results.map(_._4).sum
      val (ngram, minhash) = (pairs("ngram_jaccard"), pairs("minhash_lsh"))
      ctx.check("ngram_jaccard misses a planted pair", (data.exactPairs ++ data.nearPairs).subsetOf(ngram))
      ctx.check("minhash_lsh reports a pair exact Jaccard rejects", minhash.subsetOf(ngram))
      ctx.check("minhash_lsh misses an exact duplicate", data.exactPairs.subsetOf(minhash))
      ctx.check("simhash_ham misses an exact duplicate", data.exactPairs.subsetOf(pairs("simhash_ham")))
      ctx.check("embed_neardup != the 20 planted pairs",
        pairs("embed_neardup") == (0L until 20L).map(i => (i, i + 1000000L)).toSet)
      ctx.check("dedup_clusters and cc_bigstar disagree", ref("dedup_clusters") == ref("cc_bigstar"))
      ctx.check("dedup_clusters row count", ref("dedup_clusters")._1 == nVecs + 20)
      ctx.check(s"semantic_dedup found $groups groups, want $nVecs", groups == nVecs)
      ctx.check("stream_dedup survivors != distinct texts", ref("stream_dedup")._1 == data.distinctTexts)
      ctx.freeCaches()
    }

    def cycle(k: Int): Unit = {
      val got = pass()
      ops.foreach { case (name, _) =>
        ctx.check(s"cycle $k: $name output differs from set-up", got(name) == ref(name))
      }
    }
  }

  // ----------------------------------------------------------------- driver
  /** Run `tasks` on `threads` threads; results in task order. Set-up only:
    * a first call in a fresh JVM is mostly driver-side JIT and code
    * generation, which overlaps across independent calls. */
  def inParallel[T](spark: SparkSession, threads: Int)(tasks: Seq[() => T]): Vector[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map { t =>
      pool.submit { () => SparkSession.setActiveSession(spark); t() }
    }.toVector.map(_.get())
    finally pool.shutdown()
  }

  def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => deleteRecursively(c.getPath)))
    f.delete()
  }

  /** Heap still in use after a full collection: what the engine keeps alive
    * once a cycle's calls have returned (the benchmark has freed every
    * cached block by then). A peak of the fixed heap only shows how the
    * collector sized its generations. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val dir = new java.io.File(opts("dir")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val builder = Sessions.builder(s"local[$cores]", "kgbench", cores)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/stream-checkpoints")
    if (trace) builder.config("spark.sql.streaming.streamingQueryListeners", classOf[BatchListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    val ctx = new Ctx(spark, dir, seed, cores, tracer)
    val jobs = new JobListener
    if (trace) spark.sparkContext.addSparkListener(jobs)
    ctx.log("session started")
    val w: Workload = workload match {
      case "ckpt_resume_search" => new CkptResumeSearch(ctx, nDocs = 300, nQueries = 20)
      case "curate_sf01" => new CurateOps(ctx, nDocs = 500, nVecs = 250)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var setupS = 0.0
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val (_, wSpan) = tracer.span(0L, "workload", workload) { id =>
      ctx.workloadSpan = id
      w.setup()
      setupS = (System.nanoTime() - t0) / 1e9
      ctx.log("set-up done")
      ctx.measuring = true
      val start = System.nanoTime()
      var k = 1
      while (k == 1 || (System.nanoTime() - start) / 1e9 < seconds) {
        ctx.cycle = k
        w.cycle(k)
        heapMb += retainedHeapMb()
        k += 1
      }
      ctx.measuring = false
    }
    if (trace) org.apache.spark.KgBenchBus.drain(spark.sparkContext)

    val calls = ctx.calls.toVector
    val nCycles = calls.map(_.cycle).distinct.size.toDouble
    val cycleS = median(calls.groupBy(_.cycle).values.map(_.map(_.span.seconds).sum).toSeq)
    val failed = math.min(calls.size, calls.count(!_.ok) + ctx.checkFailures)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("cycle_s", cycleS, "s"),
        ("call_p50_ms", median(calls.map(_.span.seconds * 1000)), "ms"),
        ("retained_heap_mb", median(heapMb.toSeq), "MB"))
      else layerMetrics(calls, jobs, cores, nCycles) :+ (("trace.cycle_s", cycleS, "s"))

    val stamp = Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> opts("seconds"),
      "trace" -> trace.toString, "cores" -> cores.toString,
      "mem_total_kb" -> memTotalKb, "java" -> System.getProperty("java.version"),
      "spark" -> spark.version, "commit" -> opts.getOrElse("commit", "unknown"),
      "cycles" -> nCycles.toInt.toString, "failures" -> ctx.failures.mkString(" | "))
    opts.get("out").foreach { out =>
      val spans = if (trace) traceSpans(wSpan, calls, jobs) else Vector.empty
      writeReport(out, stamp, metrics, spans)
    }
    println(stamp.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{\"stamp\":{", ",", "}}"))
    ctx.failures.foreach(f => System.err.println(s"[kgbench] FAILED: $f"))
    spark.stop()
    val m = metrics.map { case (n, v, u) => s"${q(n)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
    println(s"""{"correct":${ctx.failures.isEmpty},"attempted":${calls.size},"failed":$failed,""" +
      s""""metrics":${m.mkString("{", ",", "}")}}""")
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  private def memTotalKb: String = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "")).getOrElse("unknown")
    finally src.close()
  }

  /** Jobs that started inside a measured call, with that call. One client
    * runs one call at a time, so the call is unique — jobs submitted from
    * the engine's fork threads included. */
  private def jobsInCalls(calls: Vector[Call], l: JobListener): Vector[(JobRec, Call)] = {
    val sorted = calls.sortBy(_.span.startNs)
    l.jobs.values.asScala.toVector.flatMap { j =>
      sorted.find(c => j.startNs >= c.span.startNs && j.startNs <= c.span.endNs).map(c => (j, c))
    }
  }

  private def layerOf(j: JobRec, c: Call): String = c.kind match {
    case "search" => "query"
    case "op" => "ops"
    case _ => Layers.ofDescription(j.desc)
  }

  private def jobEnd(j: JobRec): Long = if (j.endNs > 0) j.endNs else j.startNs

  def layerMetrics(calls: Vector[Call], l: JobListener, cores: Int,
                   nCycles: Double): Seq[(String, Double, String)] = {
    val jc = jobsInCalls(calls, l)
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def per(v: Double) = if (nCycles > 0) v / nCycles else 0.0
    def taskS(js: Seq[JobRec]) = js.map(_.taskMs).sum / 1000.0
    def mb(v: Long) = v / 1048576.0
    val byLayer = jc.groupBy { case (j, c) => layerOf(j, c) }.map { case (k, v) => k -> v.map(_._1) }
    Layers.All.foreach { layer =>
      val js = byLayer.getOrElse(layer, Vector.empty)
      out += ((s"$layer.wall_s", per(Layers.unionNs(js.map(j => (j.startNs, jobEnd(j)))) / 1e9), "s"))
      out += ((s"$layer.task_s", per(taskS(js)), "s"))
      out += ((s"$layer.jobs", per(js.size), "count"))
      out += ((s"$layer.stages", per(js.map(_.stages).sum), "count"))
      out += ((s"$layer.shuffle_mb", per(mb(js.map(_.shuffleWriteBytes).sum)), "MB"))
      out += ((s"$layer.spill_mb", per(mb(js.map(_.spillBytes).sum)), "MB"))
    }
    def jobsOf(p: Call => Boolean) = jc.collect { case (j, c) if p(c) => j }
    val builds = calls.filter(_.kind == "build")
    val buildJobs = jobsOf(_.kind == "build")
    val buildWallNs = builds.map(c => c.span.endNs - c.span.startNs).sum
    def gapNs(cs: Seq[Call]) = cs.map { c =>
      val js = jc.collect { case (j, cc) if cc eq c => (j.startNs, math.min(jobEnd(j), c.span.endNs)) }
      (c.span.endNs - c.span.startNs) - Layers.unionNs(js)
    }.sum
    out += (("pipeline.driver_gap_s", per(gapNs(builds) / 1e9), "s"))
    out += (("pipeline.core_busy_frac",
      if (buildWallNs > 0) taskS(buildJobs) / (buildWallNs / 1e9 * cores) else 0.0, "ratio"))
    val all = jc.map(_._1)
    out += (("io.write_mb", per(mb(all.map(_.outputBytes).sum)), "MB"))
    out += (("io.read_mb", per(mb(all.map(_.inputBytes).sum)), "MB"))
    val coldTask = taskS(jobsOf(_.name == "ckpt_build"))
    out += (("io.resume_task_ratio", if (coldTask > 0) taskS(jobsOf(_.name == "resume")) / coldTask else 0.0, "ratio"))
    val t0 = calls.map(_.span.startNs).minOption.getOrElse(0L)
    val t1 = calls.map(_.span.endNs).maxOption.getOrElse(0L)
    val batches = BatchListener.batches.asScala.toVector.filter { case (end, _) => end >= t0 && end <= t1 }
    out += (("streaming.batch_s", median(batches.map(_._2 / 1000.0)), "s"))
    out += (("streaming.jobs_per_batch",
      if (batches.nonEmpty) jobsOf(_.name == "stream_dedup").size.toDouble / batches.size else 0.0, "count"))
    val searches = calls.filter(_.kind == "search")
    val searchJobs = jobsOf(_.kind == "search")
    val nS = math.max(searches.size, 1).toDouble
    out += (("query.call_ms", median(searches.map(_.span.seconds * 1000)), "ms"))
    out += (("query.jobs_per_call", searchJobs.size / nS, "count"))
    out += (("query.rows_scanned", searchJobs.map(_.inputRecords).sum / nS, "count"))
    Seq("ngram_jaccard", "minhash_lsh", "simhash_ham", "embed_neardup", "dedup_clusters", "cc_bigstar",
      "semantic_dedup", "dup_spans", "tfidf", "bm25", "stream_dedup", "curate").foreach { op =>
      val cs = calls.filter(c => c.kind == "op" && c.name == op)
      val js = jobsOf(c => c.kind == "op" && c.name == op)
      val n = math.max(cs.size, 1).toDouble
      out += ((s"ops.$op.wall_s", cs.map(_.span.seconds).sum / n, "s"))
      out += ((s"ops.$op.task_s", taskS(js) / n, "s"))
      out += ((s"ops.$op.shuffle_mb", mb(js.map(_.shuffleWriteBytes).sum) / n, "MB"))
    }
    out += (("trace.jobs_total", per(jc.size), "count"))
    out += (("trace.call_self_s", per(gapNs(calls) / 1e9), "s"))
    out += (("trace.task_s_total", per(taskS(all)), "s"))
    out.toSeq
  }

  /** workload → call → job spans with self time (own duration minus the
    * part its children cover). */
  private def traceSpans(w: Span, calls: Vector[Call], l: JobListener): Vector[(Span, Double)] = {
    val jc = jobsInCalls(calls, l)
    val jobSpans = jc.map { case (j, c) =>
      val desc = Option(j.desc).getOrElse("unlabeled")
      (Span(-j.jobId.toLong - 1, c.span.id, "job", s"${layerOf(j, c)}:$desc", j.startNs, jobEnd(j)), c.span.id)
    }
    def self(s: Span, kids: Seq[Span]) =
      (s.endNs - s.startNs - Layers.unionNs(kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))) / 1e9
    val wSelf = self(w, calls.map(_.span))
    val callSpans = calls.map(c => (c.span, self(c.span, jobSpans.collect { case (js, p) if p == c.span.id => js })))
    ((w, wSelf) +: callSpans) ++ jobSpans.map { case (js, _) => (js, js.seconds) }
  }

  private def writeReport(path: String, stamp: Seq[(String, String)],
                          metrics: Seq[(String, Double, String)], spans: Vector[(Span, Double)]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("{\"stamp\":" + stamp.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}") + ",")
      w.println("\"metrics\":" + metrics.map { case (n, v, u) => s"${q(n)}:[${num(v)},${q(u)}]" }.mkString("{", ",", "}") + ",")
      w.println("\"spans\":[")
      val t0 = spans.headOption.map(_._1.startNs).getOrElse(0L)
      w.println(spans.map { case (s, selfS) =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":${q(s.kind)},"name":${q(s.name)},""" +
          s""""start_s":${num((s.startNs - t0) / 1e9)},"dur_s":${num(s.seconds)},"self_s":${num(selfS)}}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}
