package graft.app

import graft.SparkEntry

/** One-off timer for individual SparkEntry queries — the iteration loop
  * for plan tuning (Bench runs the whole suite; this runs just the named
  * queries). Uses the SAME session tuning as Bench (graft.core.Sessions)
  * and the same action (count + cache clear between timings: the timed
  * call runs in a Scope closed after it), so numbers are comparable;
  * repeats each query GRAFT_QTIME_REPS times (default 3)
  * and prints each sample plus the min — the right statistic on a
  * time-shared box where single shots swing with host weather.
  * Usage: runMain graft.app.QTime <sfDir> <query> [query ...] */
object QTime {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("GRAFT_QTIME_REPS", "3").toInt
    val spark = graft.core.Sessions.local(cpus, "graft-qtime")
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { q =>
      val fn = SparkEntry.queries(q)
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val (n, close) = graft.core.Scope.run(fn(spark, args(0)).count())
        val sec = (System.nanoTime() - t0) / 1e9
        // same isolation as Bench: each timing starts cold
        close()
        spark.sharedState.cacheManager.clearCache()
        (sec, n)
      }
      val secs = samples.map(_._1)
      println(f"[qtime] $q%-20s min=${secs.min}%8.3f s  " +
        f"samples=${secs.map(s => f"$s%.3f").mkString("/")}  rows=${samples.head._2}")
    }
    spark.stop()
  }
}
