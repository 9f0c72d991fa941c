package kgbench

import graft.core.Corpus
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** Seeded inputs. The engine only ever sees what these generators write. */
object Inputs {

  /** Search queries: an entity of the seeded universe plus a predicate
    * phrase, so every query names vocabulary the corpus was built from. */
  def queries(seed: Long, n: Int): Vector[String] = {
    val univ = Corpus.universe(Corpus.DefaultUniverseSize, seed)
    val rng = new Random(seed ^ 0x5eedL)
    Vector.fill(n) {
      val e = univ(rng.nextInt(univ.size))
      val alias = e.aliases(rng.nextInt(e.aliases.size))
      s"$alias ${Corpus.predicates(rng.nextInt(Corpus.predicates.size))}"
    }
  }

  private val vocab = Vector(
    "a", "the", "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "table", "query", "agg", "vector", "slow", "filter",
    "customer", "stream", "key", "group", "big", "merge", "join", "index", "shuffle",
    "row", "page", "cache", "disk", "node", "edge", "graph", "plan", "task", "stage", "file")

  /** Tables shaped like the curation test data (`documents`: doc_id, text,
    * lang, source, n_chars; `embeddings`: vec_id, 64-d embedding, label).
    * Planted structure the checks rely on: every 50th document (index
    * 49 mod 50) is an exact copy of the document 49 before it, and every
    * index 24 mod 50 is a one-word edit of the document 24 before it
    * (whose length is forced to >= 60 words, so 3-shingle Jaccard >= 0.8). */
  final case class Curation(distinctTexts: Long, exactPairs: Set[(Long, Long)],
                            nearPairs: Set[(Long, Long)])

  def writeCuration(spark: SparkSession, dir: String, seed: Long,
                    nDocs: Int, nVecs: Int): Curation = {
    import spark.implicits._
    val rng = new Random(seed)
    val texts = new Array[String](nDocs)
    val exact = Set.newBuilder[(Long, Long)]
    val near = Set.newBuilder[(Long, Long)]
    def words(n: Int) = Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i % 50 == 49) { exact += ((i - 49L, i.toLong)); texts(i - 49) }
        else if (i % 50 == 24) {
          val w = texts(i - 24).split(" ")
          val at = rng.nextInt(w.length)
          w(at) = if (w(at) == "spark") "graph" else "spark"
          near += ((i - 24L, i.toLong))
          w.mkString(" ")
        } else if (i % 50 == 0) words(60 + rng.nextInt(36)).mkString(" ")
        else words(8 + rng.nextInt(88)).mkString(" ")
    }
    texts.indices.map(i => (i.toLong, texts(i), "en", s"src${i % 20}", texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    (0 until nVecs).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, i % 8)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    Curation(texts.distinct.length.toLong, exact.result(), near.result())
  }
}
