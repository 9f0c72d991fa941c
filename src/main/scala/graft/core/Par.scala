package graft.core

import org.apache.spark.sql.SparkSession

/** Concurrent submission of INDEPENDENT Spark actions. Spark's scheduler
  * happily runs jobs submitted from multiple threads side by side; on a
  * multi-executor cluster this is exactly how independent DAG branches
  * overlap instead of paying one job-latency each, and in local mode it
  * keeps cores busy through the small stage-boundary jobs that otherwise
  * serialize the build (~1-2 s scheduling+shuffle latency apiece).
  */
object Par {

  private lazy val pool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
        val t = new Thread(r, "graft-par"); t.setDaemon(true); t
      })

  /** Run `body` on the pool; the active SparkSession and the current
    * [[Scope]] are thread-local, so re-pin both before any SQL work. */
  def fork[T](spark: SparkSession)(body: => T): scala.concurrent.Future[T] = {
    val scope = Scope.active
    scala.concurrent.Future {
      SparkSession.setActiveSession(spark)
      Scope.within(scope)(body)
    }(pool)
  }

  def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
}
