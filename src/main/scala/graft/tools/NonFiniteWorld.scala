package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Non-finite-embedding fixture generator (dev tool, not part of the
  * query surface): copies a driver-generated sf world with NaN and
  * ±Infinity components planted in ~3/16 of the embedding vectors —
  * the numeric sibling of the null world's failed-embed-shard axis.
  * A production encoder fleet emits non-finite embeddings at steady
  * state (fp16 overflow in a projection head, a div-by-zero norm in a
  * pooling layer, a poisoned activation), and they are WORSE than
  * nulls: a null vector is visibly absent, while a NaN vector flows
  * through every kernel poisoning whatever it touches — one
  * NaN-scored candidate ranks above every real neighbor under
  * NaN-greatest ordering, one NaN component turns a label centroid to
  * NaN, int8 quantization silently casts NaN to 0. The differential
  * on this world pins the declared contract instead: a vector whose
  * L2 norm is not finite has no usable geometry and is excluded at
  * the same front door that excludes null vectors.
  *
  * Plant design: variant = pmod(xxhash64(vec_id, 13), 16); variants
  * 0/1/2 poison the single component at index (vec_id mod 64) with
  * NaN / +Inf / -Inf respectively (one bad component is the realistic
  * shape — and exactly the hardest: 63 of 64 dims still look fine).
  * Pure column arithmetic: same rows every run, and the poisoned
  * values are WRITTEN to the world's parquet, which both engines then
  * read — the differential is pure, nothing to mirror in the plant.
  * Written as world `nonfinite` by [[Worlds]].
  */
object NonFiniteWorld {

  def plant(t: String, df: DataFrame): DataFrame = t match {
    case "embeddings" =>
      val v = pmod(xxhash64(col("vec_id"), lit(13)), lit(16))
      val tgt = pmod(col("vec_id"), lit(64)).cast("int")
      def poison(bad: Float) = transform(col("embedding"),
        (x, i) => when(i === tgt, lit(bad)).otherwise(x))
      df.withColumn("embedding",
        when(v === 0, poison(Float.NaN))
          .when(v === 1, poison(Float.PositiveInfinity))
          .when(v === 2, poison(Float.NegativeInfinity))
          .otherwise(col("embedding")))
    case _ => df
  }
}
