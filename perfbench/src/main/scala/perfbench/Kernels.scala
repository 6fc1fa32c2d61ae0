package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal,
  UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.Graft
import graft.functions.{DamerauLev, FloatDot, FloatL2Argmin, LongDot}

/** Kernel probes: graft's hand-written expressions and its top-k
  * operator on fixed synthetic input from a fixed seed (independent of
  * the workload seed, so probes compare across runs).
  *
  * The expressions run without a job: each is compiled into a
  * code-generated projection, the form whole-stage codegen inlines, and
  * applied to prepared rows in a loop. DamerauLev.dist is called
  * directly. The top-k operator needs a job, so it is timed as a noop
  * write over generated rows minus the same write without the operator.
  * Each figure is the median of three timings, in nanoseconds per row. */
object Kernels {
  val Rows = 10000
  val Dims = 64

  def probe(spark: SparkSession): Map[String, Double] = {
    val rng = new java.util.SplittableRandom(7)
    def floats() = UnsafeArrayData.fromPrimitiveArray(Array.fill(Dims)(rng.nextDouble().toFloat - 0.5f))
    def longs() = UnsafeArrayData.fromPrimitiveArray(Array.fill(Dims)(rng.nextLong(255) - 127))
    val floatRows = IndexedSeq.fill(Rows)(InternalRow(floats(), floats()))
    val longRows = IndexedSeq.fill(Rows)(InternalRow(longs(), longs()))
    def ref(i: Int, t: DataType) = BoundReference(i, ArrayType(t, false), nullable = false)
    val cents = Literal.create(Seq.fill(16)(Seq.fill(Dims)(rng.nextDouble() - 0.5)),
      ArrayType(ArrayType(DoubleType, false), false))
    val words = IndexedSeq.fill(2 * Rows)(UTF8String.fromString(
      Seq.fill(12 + rng.nextInt(20))(('a' + rng.nextInt(6)).toChar).mkString))
    val n = 200000L
    val groups = spark.range(n).select((col("id") % 1000).as("g"),
      ((col("id") * 2654435761L) % 1000003).cast("double").as("score"), col("id"))
    Map(
      "functions.float_dot_ns" ->
        projected(FloatDot(ref(0, FloatType), ref(1, FloatType)), floatRows, 50),
      "functions.long_dot_ns" ->
        projected(LongDot(ref(0, LongType), ref(1, LongType)), longRows, 50),
      "functions.l2_argmin_ns" ->
        projected(FloatL2Argmin(ref(0, FloatType), cents), floatRows, 5),
      "functions.damerau_lev_ns" -> median3 {
        var acc = 0L
        var i = 0
        while (i < Rows) { acc += DamerauLev.dist(words(2 * i), words(2 * i + 1)); i += 1 }
        if (acc < 0) throw new IllegalStateException("negative edit distance")
      } / Rows,
      "plans.topk_per_group_ns" -> (median3(noop(
        Graft.topKPerGroup(groups, Seq("g"), Seq(col("score").desc, col("id")), 5))) -
        median3(noop(groups))) / n)
  }

  /** ns per row of `e` compiled to a projection, over `rows` `reps` times. */
  private def projected(e: Expression, rows: IndexedSeq[InternalRow], reps: Int): Double = {
    val p = UnsafeProjection.create(Seq(e))
    median3 {
      var i = 0
      while (i < rows.size * reps) { p(rows(i % rows.size)); i += 1 }
    } / (rows.size.toDouble * reps)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median of three timings of `body`, in nanoseconds. */
  private def median3(body: => Unit): Double =
    Seq.fill(3) { val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }.sorted.apply(1)
}
