package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `mmr_greedy(pool)` — greedy MMR selection (Carbonell & Goldstein,
  * SIGIR'98) over ONE query's pool
  * `array<struct<cid: bigint, cvec: array<float>, r: bigint>>`, as one
  * compiled call. Returns up to 5 `struct<pick: int, cid: bigint,
  * rel_micro: bigint>` in pick order, fewer when the pool is smaller.
  * All-integer: pick 1 maximizes r; pick k maximizes 7·r − 3·pen, pen =
  * max over the selected of floor(1e6·cosine_similarity(cand, sel) + 0.5)
  * (the [[CosineSimilarity]] kernel); every argmax is on score·10⁸ − cid
  * (ties → lowest cid). Members with a null field never take part.
  *
  * Why a per-query kernel and not relational greedy rounds: each round
  * needs the previous round's picks, and cutting each round's lineage
  * with a localCheckpoint runs Spark jobs while the query is still being
  * built (see [[graft.core.Ckpt]]); a pool holds at most 8 members.
  */
case class MmrGreedy(child: Expression)
  extends UnaryExpression with Serializable {

  override def dataType: DataType = MmrGreedy.outType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if MmrGreedy.poolStruct(st) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "mmr_greedy needs array<struct<cid: bigint, cvec: array<float>, " +
        s"r: bigint>>, got ${other.sql}")
  }
  override def prettyName: String = "mmr_greedy"

  override protected def nullSafeEval(input: Any): Any =
    MmrGreedy.select(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MmrGreedy.select($c)")

  override protected def withNewChildInternal(
      newChild: Expression): MmrGreedy = copy(child = newChild)
}

object MmrGreedy {
  /** (cid bigint, cvec array<float>, r bigint), in that order. */
  def poolStruct(st: StructType): Boolean =
    st.fields.map(f => (f.name, f.dataType)) match {
      case Array(("cid", LongType), ("cvec", ArrayType(FloatType, _)),
                 ("r", LongType)) => true
      case _ => false
    }

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("pick", IntegerType, nullable = false),
    StructField("cid", LongType, nullable = false),
    StructField("rel_micro", LongType, nullable = false))),
    containsNull = false)

  /** The greedy — shared by eval and generated code. pen is a running max
    * (one cosine per candidate and new pick): ≤ 4·n cosines per pool. */
  def select(pool: ArrayData): ArrayData = {
    val ms = (0 until pool.numElements()).filterNot(pool.isNullAt)
      .map(pool.getStruct(_, 3))
      .filterNot(m => m.isNullAt(0) || m.isNullAt(1) || m.isNullAt(2))
    val cid = ms.map(_.getLong(0)).toArray
    val vec = ms.map(_.getArray(1)).toArray
    val r = ms.map(_.getLong(2)).toArray
    val picked = new Array[Boolean](ms.length)
    val pen = Array.fill(ms.length)(Long.MinValue)
    var last = -1
    val out = Array.tabulate[Any](math.min(5, ms.length)) { k =>
      var best = -1
      var bestKey = 0L
      for (i <- cid.indices if !picked(i)) {
        if (last >= 0) pen(i) = math.max(pen(i), math.floor(
          1e6 * CosineSimilarity.cosine(vec(i), vec(last)) + 0.5).toLong)
        val score = if (last < 0) r(i) else 7L * r(i) - 3L * pen(i)
        val key = score * 100000000L - cid(i)
        if (best < 0 || key > bestKey) { best = i; bestKey = key }
      }
      picked(best) = true
      last = best
      InternalRow(k + 1, cid(best), r(best))
    }
    new GenericArrayData(out)
  }
}
