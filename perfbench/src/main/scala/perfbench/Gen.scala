package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sizes of one generated workload; recorded in every result line. */
case class Sizes(docs: Int, dim: Int, clusters: Int, zipf: Double,
    queries: Int, noise: Double)

/** Seeded planted-cluster corpus: `clusters` Gaussian centres whose
  * popularity follows Zipf(`zipf`), so RQ cells and HKM nodes come out
  * uneven, the way real embedding corpora do. Every vector is unit-norm,
  * so inner-product and L2 rankings agree and the L2-trained codebooks
  * probe the clusters the exact inner-product rerank prefers.
  *
  * The law (centres and which cluster is how popular) is part of the
  * workload and fixed; the seed draws the docs and queries from it. With a
  * per-seed law, the geometry of the few hot clusters decided the size of
  * the cells every query probes, and so moved the serving cost from seed
  * to seed by more than any change worth catching.
  *
  * Each row is a pure function of (seed, id): the same seed gives the same
  * DataFrames whatever the partitioning. Queries are held-out points of the
  * same law, drawn from a disjoint random stream.
  */
object Gen {

  private def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  /** Seeds the law; not the workload seed. */
  private val LawSeed = 0x5EEDL

  /** Centres (unit-norm, row c = cluster c) and the Zipf CDF over a
    * permutation of cluster ids. */
  private def law(s: Sizes): (Array[Array[Double]], Array[Double]) = {
    val rnd = new java.util.Random(mix(LawSeed, 1L))
    val centres = Array.fill(s.clusters) {
      val v = Array.fill(s.dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val perm = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle((0 until s.clusters).toVector)
    val w = new Array[Double](s.clusters)
    perm.zipWithIndex.foreach { case (c, r) => w(c) = 1.0 / math.pow(r + 1, s.zipf) }
    val total = w.sum
    val cdf = w.scanLeft(0.0)(_ + _ / total).tail
    (centres, cdf)
  }

  private def points(spark: SparkSession, n: Int, stream: Long, seed: Long,
      s: Sizes, centres: Array[Array[Double]], cdf: Array[Double],
      idName: String, vecName: String, parts: Int): DataFrame = {
    val noise = s.noise / math.sqrt(s.dim.toDouble)
    val point = udf { (id: Long) =>
      val rnd = new java.util.Random(mix(mix(seed, stream), id))
      val u = rnd.nextDouble()
      var c = java.util.Arrays.binarySearch(cdf, u)
      c = if (c >= 0) c else math.min(-c - 1, cdf.length - 1)
      val centre = centres(c)
      val v = Array.tabulate(centre.length)(j => centre(j) + noise * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    spark.range(0, n, 1, parts)
      .select(col("id").as(idName), point(col("id")).as(vecName))
  }

  /** (docs (doc_id, vec), queries (query_id, qvec)), both unpersisted. */
  def apply(spark: SparkSession, s: Sizes, seed: Long, parts: Int)
      : (DataFrame, DataFrame) = {
    val (centres, cdf) = law(s)
    (points(spark, s.docs, 2L, seed, s, centres, cdf, "doc_id", "vec", parts),
      points(spark, s.queries, 3L, seed, s, centres, cdf, "query_id", "qvec", parts))
  }
}
