package graft.functions

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregates (SURVEY §2 "custom typed aggregate" / "UDF-UDAF
  * surface"): each is built as a `ScalaAggregator`, the expression
  * `udaf(Aggregator)` builds, so they run as real partial+final aggregates
  * (map-side combine, no collect).
  */
object Aggregators {

  /** Kahan-compensated double sum: a drop-in `sum` with O(1) extra state
    * that keeps the FP error independent of row count — the money-sum
    * answer to SURVEY §7.4 risk 1 (NUMERIC-vs-float semantics) without
    * paying decimal's cost at 100 TB. Merge order stays nondeterministic
    * (like any Spark agg) but per-partition error stops accumulating. */
  case class KahanBuf(var sum: Double, var c: Double)

  object KahanSum extends Aggregator[Double, KahanBuf, Double] {
    override def zero: KahanBuf = KahanBuf(0.0, 0.0)
    override def reduce(b: KahanBuf, x: Double): KahanBuf = {
      val y = x - b.c
      val t = b.sum + y
      b.c = (t - b.sum) - y
      b.sum = t
      b
    }
    override def merge(a: KahanBuf, b: KahanBuf): KahanBuf = {
      // merge the two compensated sums, folding b's residual back in
      val r = reduce(a, b.sum)
      reduce(r, -b.c)
    }
    override def finish(b: KahanBuf): Double = b.sum
    override def bufferEncoder: Encoder[KahanBuf] = Encoders.product[KahanBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Exact MinHash signature as a typed aggregate over (already-hashed)
    * shingle hashes: per group keeps the k smallest-by-permutation hash
    * values. A native alternative to ml.MinHashLSH when signatures need to
    * live in ordinary columns. k permutations via splitmix-style remix. */
  case class MinHashBuf(var mins: Array[Long])

  class MinHashAgg(k: Int) extends Aggregator[Long, MinHashBuf, Seq[Long]] {
    private def remix(h: Long, i: Int): Long = {
      var z = h + 0x9e3779b97f4a7c15L * (i + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    override def zero: MinHashBuf = MinHashBuf(Array.fill(k)(Long.MaxValue))
    override def reduce(b: MinHashBuf, h: Long): MinHashBuf = {
      var i = 0
      while (i < k) {
        val v = remix(h, i)
        if (v < b.mins(i)) b.mins(i) = v
        i += 1
      }
      b
    }
    override def merge(a: MinHashBuf, b: MinHashBuf): MinHashBuf = {
      var i = 0
      while (i < k) { if (b.mins(i) < a.mins(i)) a.mins(i) = b.mins(i); i += 1 }
      a
    }
    override def finish(b: MinHashBuf): Seq[Long] = b.mins.toSeq
    override def bufferEncoder: Encoder[MinHashBuf] = Encoders.product[MinHashBuf]
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** SimHash-64 as ONE partial+final aggregate over (already-hashed) token
    * hashes: the buffer is the 64 bit-vote counters, one row per doc comes
    * out. Replaces the explode(sequence(0,63)) formulation, which emitted
    * 64 rows per (doc, token) into a two-stage aggregate — a 64× map-side
    * row expansion this buffer does in a single pass. Semantics are pinned
    * to the explode form (AggregatorsSpec): bit b of the result is set iff
    * Σ_tokens (±1 by bit b of xxhash64(token)) ≥ 0. */
  case class SimHashBuf(var votes: Array[Int])

  object SimHashAgg extends Aggregator[Long, SimHashBuf, Long] {
    override def zero: SimHashBuf = SimHashBuf(new Array[Int](64))
    override def reduce(b: SimHashBuf, h: Long): SimHashBuf = {
      var bit = 0
      while (bit < 64) {
        b.votes(bit) += (if (((h >>> bit) & 1L) == 1L) 1 else -1)
        bit += 1
      }
      b
    }
    override def merge(a: SimHashBuf, b: SimHashBuf): SimHashBuf = {
      var bit = 0
      while (bit < 64) { a.votes(bit) += b.votes(bit); bit += 1 }
      a
    }
    override def finish(b: SimHashBuf): Long = {
      var sig = 0L
      var bit = 0
      while (bit < 64) {
        if (b.votes(bit) >= 0) sig |= (1L << bit)
        bit += 1
      }
      sig
    }
    override def bufferEncoder: Encoder[SimHashBuf] =
      Encoders.product[SimHashBuf]
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Bounded top-k-per-group as ONE partial+final aggregate: the buffer is
    * a ≤k array sorted by (ord DESC, tie ASC), so the map-side partial
    * keeps at most k rows per (group, partition) and the shuffle carries
    * ≤ k·|groups|·|partitions| rows instead of the whole table. The window
    * formulation (`win_topk_per_group`) shuffles and sorts EVERY row of
    * every group before the rank filter drops them — at 100 TB this
    * aggregate is the difference between shuffling 100 TB and shuffling
    * k rows per group. `tie` must be a unique-per-group total-order
    * tiebreaker (same determinism rule as row_number over (ord, tie)).
    */
  case class TopKEntry(ord: Double, tie: Long)
  case class TopKBuf(var entries: Seq[TopKEntry])

  class TopKAgg(k: Int) extends Aggregator[TopKEntry, TopKBuf, Seq[TopKEntry]] {
    private def beats(a: TopKEntry, b: TopKEntry): Boolean =
      a.ord > b.ord || (a.ord == b.ord && a.tie < b.tie)
    override def zero: TopKBuf = TopKBuf(Vector.empty)
    override def reduce(b: TopKBuf, x: TopKEntry): TopKBuf = {
      if (b.entries.size < k || beats(x, b.entries.last)) {
        val i = b.entries.indexWhere(e => beats(x, e)) match {
          case -1 => b.entries.size
          case n  => n
        }
        b.entries = (b.entries.take(i) :+ x) ++ b.entries.drop(i)
        if (b.entries.size > k) b.entries = b.entries.take(k)
      }
      b
    }
    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      b.entries.foreach(reduce(a, _))
      a
    }
    override def finish(b: TopKBuf): Seq[TopKEntry] = b.entries
    override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    override def outputEncoder: Encoder[Seq[TopKEntry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopKEntry]]()
  }

  /** Mergeable decimal-HDR histogram sketch for quantile estimates over
    * positive longs (cents): bin = (decimal length, first two digits) —
    * two-significant-digit log10 resolution (≤ 2% relative error), the
    * HdrHistogram idea on a base-10 grid. Everything is INTEGER (string
    * length + prefix, exact counts, ceil thresholds via (n·p + 99) div
    * 100), so unlike the engine-hash sketches (HLL/CMS/minhash) this
    * sketch is bit-replayable in DuckDB SQL and hash-checkable. The
    * buffer is a fixed 19×90 count array: constant size per group, safe
    * map-side partials, shuffle carries the array not the data. */
  case class DecHistBuf(var counts: Array[Long])

  object DecHistAgg extends Aggregator[Long, DecHistBuf, Seq[Long]] {
    private val Slots = 19 * 90
    /** bin index for v > 0: (len−1)·90 + first2 − 10, where a 1-digit v
      * uses v·10 as its 2-digit prefix. */
    private def bin(v: Long): Int = {
      val s = v.toString
      val first2 = if (s.length >= 2) s.substring(0, 2).toInt else v.toInt * 10
      (s.length - 1) * 90 + first2 - 10
    }
    /** lower bound of bin i — the quantile estimate the walk returns:
      * first2 followed by len−2 zeros. */
    private def lower(i: Int): Long = {
      val len = i / 90 + 1; val first2 = i % 90 + 10
      if (len == 1) first2 / 10
      else first2.toString.padTo(len, '0').toLong
    }
    override def zero: DecHistBuf = DecHistBuf(new Array[Long](Slots))
    override def reduce(b: DecHistBuf, v: Long): DecHistBuf = {
      if (v > 0) b.counts(bin(v)) += 1
      b
    }
    override def merge(a: DecHistBuf, b: DecHistBuf): DecHistBuf = {
      var i = 0
      while (i < Slots) { a.counts(i) += b.counts(i); i += 1 }
      a
    }
    /** (n, p50, p90, p99) — quantile = lower bound of the first bin whose
      * cumulative count reaches ceil(n·p/100). */
    override def finish(b: DecHistBuf): Seq[Long] = {
      val n = b.counts.sum
      def q(p: Int): Long = {
        val thr = (n * p + 99) / 100
        var cum = 0L; var i = 0
        while (i < Slots) {
          cum += b.counts(i)
          if (cum >= thr && thr > 0) return lower(i)
          i += 1
        }
        0L
      }
      Seq(n, q(50), q(90), q(99))
    }
    override def bufferEncoder: Encoder[DecHistBuf] =
      Encoders.product[DecHistBuf]
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** name → aggregate builder, injected by [[graft.plans.GraftExtensions]]
    * beside [[GraftFunctions.builders]]. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    builder("kahan_sum", KahanSum),
    builder("dec_hist", DecHistAgg),
    builder("minhash16", new MinHashAgg(16)),
    // 64 permutations: feeds r=2/b=32 banding in Dedup (r·b = 64), which
    // needs the longer signature to keep recall ≥ 0.95 at J = 0.3
    builder("minhash64", new MinHashAgg(64)),
    builder("simhash64", SimHashAgg),
    builder("topk3_by", new TopKAgg(3)))

  /** The expression `spark.udf.register(name, udaf(a))` would install. */
  private def builder[IN: TypeTag, BUF, OUT](name: String, a: Aggregator[IN, BUF, OUT])
      : (String, Seq[Expression] => Expression) =
    name -> (es => ScalaAggregator(es, a, ExpressionEncoder[IN](),
      encoderFor(a.bufferEncoder), aggregatorName = Some(name)))
}
