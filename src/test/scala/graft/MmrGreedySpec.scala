package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.MmrGreedy

/** Contracts for `mmr_greedy` (functions/MmrGreedy.scala), the per-query
  * greedy MMR kernel behind llm_mmr_rerank, llm_mmr_rerank_ann and
  * llm_mmr_rerank_ann_recall: interpreted eval and generated code agree
  * with each other and with the driver-side replay ([[MmrReference]]) on
  * fixture pools and on the edge cases (one member, fewer than 5
  * members, equal relevance), and building the MMR queries launches no
  * Spark job beyond the parquet read's own schema job. */
class MmrGreedySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  private val poolType = ArrayType(StructType(Seq(
    StructField("cid", LongType), StructField("cvec", ArrayType(FloatType)),
    StructField("r", LongType))))

  private def poolData(pool: Seq[MmrReference.Member]): ArrayData =
    new GenericArrayData(pool.map { case (c, r, v) =>
      InternalRow(c, new GenericArrayData(v.map(x => x: Any)), r)
    }.toArray[Any])

  private def rows(a: ArrayData): Seq[(Int, Long, Long)] =
    (0 until a.numElements()).map { i =>
      val s = a.getStruct(i, 3); (s.getInt(0), s.getLong(1), s.getLong(2))
    }

  /** (interpreted, generated) picks of one pool. */
  private def both(pool: Seq[MmrReference.Member])
      : (Seq[(Int, Long, Long)], Seq[(Int, Long, Long)]) = {
    val e = MmrGreedy(BoundReference(0, poolType, nullable = false))
    val in = InternalRow(poolData(pool))
    (rows(e.eval(in).asInstanceOf[ArrayData]),
      rows(GenerateUnsafeProjection.generate(Seq(e))(in).getArray(0)))
  }

  private def check(pool: Seq[MmrReference.Member]): Seq[(Int, Long, Long)] = {
    val (interp, gen) = both(pool)
    assert(interp == gen, s"interpreted $interp vs codegen $gen")
    assert(interp == MmrReference.greedy(pool), s"kernel $interp vs reference")
    interp
  }

  test("interpreted eval ≡ codegen ≡ reference greedy on the fixture pools") {
    val pools = MmrReference.brutePools(spark, sf) ++
      MmrReference.ivfPools(spark, sf).map { case (q, p) => (q + 1000) -> p }
    assert(pools.size == 40)
    pools.values.foreach(p => assert(check(p).size == 5))
  }

  test("small pools: one member gives one pick, fewer than 5 give one each") {
    val v = Array(1.0f, 0.0f, 0.5f)
    assert(check(Seq((42L, 900000L, v))) == Seq((1, 42L, 900000L)))
    val three = Seq((7L, 100L, Array(1.0f, 0.0f)), (3L, 300L, Array(0.0f, 1.0f)),
      (5L, 200L, Array(1.0f, 1.0f)))
    val got = check(three)
    assert(got.map(_._1) == Seq(1, 2, 3) && got.map(_._2).toSet == Set(3L, 5L, 7L))
    assert(check(Seq.empty).isEmpty)
  }

  test("equal relevance: the lowest cid wins every tie") {
    // identical vectors: every pen is equal too, so each pick is the
    // lowest remaining cid, whatever the input order
    val v = Array(0.3f, -0.2f, 0.9f)
    val same = Seq(9L, 3L, 7L, 5L, 11L, 4L).map(c => (c, 500000L, v))
    assert(check(same).map(_._2) == Seq(3L, 4L, 5L, 7L, 9L))
    // distinct vectors, equal r: only pick 1 is decided by the tie
    val spread = Seq((8L, 10L, Array(1.0f, 0.0f)), (2L, 10L, Array(0.0f, 1.0f)),
      (6L, 10L, Array(1.0f, 1.0f)))
    assert(check(spread).head == ((1, 2L, 10L)))
    // zero vectors: cosine is 0, so s = floor(0.5) = 0 and no penalty
    val zeros = Seq((1L, 50L, Array(0.0f, 0.0f)), (2L, 60L, Array(0.0f, 0.0f)))
    assert(check(zeros).map(_._2) == Seq(2L, 1L))
  }

  test("mmr_greedy rejects a pool struct of the wrong shape") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT mmr_greedy(array(struct(1L AS cid, 2L AS r)))").collect()
    }
    assert(e.getMessage.contains("mmr_greedy"))
  }

  /** Spark jobs started on this thread while `body` runs. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"mmr-construct-${System.nanoTime}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val markerSeen = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.incrementAndGet()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted body")
      try body finally sc.clearJobGroup()
      // the bus delivers events in order: once the marker job's start is
      // seen, every job the body started has been counted
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30000000000L
      while (markerSeen.get == 0 && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen.get == 1, "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("building the MMR queries launches no Spark job") {
    def build(n: String) = SparkEntry.queries(n)(spark, sf)
    // warm build: the IVF index is fitted (and cached) on first use
    build("llm_mmr_rerank"); build("llm_mmr_rerank_ann")
    val ann = jobsDuring(build("llm_mmr_rerank_ann"))
    assert(ann == 0, s"$ann Spark jobs ran while building llm_mmr_rerank_ann")
    // the brute variant reads the embeddings table, and a parquet read
    // infers its schema with a job of its own; MMR adds nothing to it
    val read = jobsDuring(graft.core.Tables.t(spark, sf, "embeddings"))
    val brute = jobsDuring(build("llm_mmr_rerank"))
    assert(brute == read, s"building llm_mmr_rerank ran $brute Spark jobs, " +
      s"its table read alone runs $read")
  }
}
