package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-side oracle for the MMR queries: both candidate pools rebuilt
  * from collected rows, and the greedy replayed in plain Scala. The
  * engine runs the greedy as one compiled kernel (`mmr_greedy`); this is
  * the independent recompute its specs compare against. */
object MmrReference {
  /** One pool member: (cid, r, cvec). */
  type Member = (Long, Long, Array[Float])

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i).toDouble
      aa += a(i).toDouble * a(i).toDouble
      bb += b(i).toDouble * b(i).toDouble; i += 1
    }
    if (aa == 0.0 || bb == 0.0) 0.0 else dot / math.sqrt(aa * bb)
  }

  def cosMicro(a: Array[Float], b: Array[Float]): Long =
    math.floor(1e6 * cosine(a, b) + 0.5).toLong

  /** The top-8 of `cands` by (r desc, cid), r against `qv`. */
  private def top8(qv: Array[Float], cands: Seq[(Long, Array[Float])]): Seq[Member] =
    cands.map { case (c, v) => (c, cosMicro(qv, v), v) }
      .sortBy(m => (-m._2, m._1)).take(8)

  /** Greedy MMR over one pool: (pick, cid, r) in pick order — 5 picks,
    * or one per member when the pool is smaller. Pick 1 maximizes r; pick
    * k maximizes 7·r − 3·max over selected of cosMicro(cand, sel); ties on
    * the score go to the lowest cid. */
  def greedy(pool: Seq[Member]): Seq[(Int, Long, Long)] = {
    var selected = Vector.empty[Member]
    for (k <- 1 to math.min(5, pool.size)) {
      val best = pool.filterNot(m => selected.exists(_._1 == m._1)).maxBy { m =>
        val score = if (k == 1) m._2
          else 7L * m._2 - 3L * selected.map(s => cosMicro(m._3, s._3)).max
        score * 100000000L - m._1
      }
      selected :+= best
    }
    selected.zipWithIndex.map { case (m, i) => (i + 1, m._1, m._2) }
  }

  private def vectors(spark: SparkSession, sf: String): Seq[(Long, Array[Float])] =
    graft.core.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq

  /** llm_mmr_rerank's pool: the brute top-8 over the whole corpus for
    * each query vector (vec_id < 20). */
  def brutePools(spark: SparkSession, sf: String): Map[Long, Seq[Member]] = {
    val vs = vectors(spark, sf)
    vs.filter(_._1 < 20).map { case (q, qv) =>
      q -> top8(qv, vs.filter(_._1 != q))
    }.toMap
  }

  /** llm_mmr_rerank_ann's pool: the query's 8 closest IVF cells (cosine
    * to the centroid rounded to 6 places as Spark's round does, ties to
    * the lower cell), then the top-8 of those cells' vectors. */
  def ivfPools(spark: SparkSession, sf: String): Map[Long, Seq[Member]] = {
    val ivf = graft.llm.SimSearch.ivfIndexFor(spark, sf, k = 16)
    val assigned = ivf.assigned.select(col("vec_id"), col("embedding"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val cents = ivf.centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    def round6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assigned.filter(_._1 < 20).map { case (q, qv, _) =>
      val cells = cents.map { case (c, cv) => (c, round6(cosine(qv, cv))) }
        .sortBy(c => (-c._2, c._1)).take(8).map(_._1).toSet
      q -> top8(qv, assigned.collect {
        case (c, v, cell) if cells(cell) && c != q => (c, v)
      }.toSeq)
    }.toMap
  }
}
