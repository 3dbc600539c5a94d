package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Seeded generation helpers. Row values come from hashes of (seed,
  * salt, row index), so they do not depend on partitioning; planted
  * positions come from a `SplittableRandom` on the driver. */
object Gen {
  /** 2024-01-01T00:00:00Z: every series starts at midnight, so daily
    * review windows hold whole days. */
  val T0: Long = 1704067200L

  /** Uniform double in [0, 1) from (seed, salt, i). */
  def unif(seed: Long, salt: Int, i: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), i), 11).cast("double") /
      lit(9007199254740992.0)

  /** Bounded near-normal noise (sum of four uniforms, unit variance,
    * |x| < 3.47): no accidental outliers beyond the planted ones. */
  def noise(seed: Long, salt: Int, i: Column): Column =
    (unif(seed, salt, i) + unif(seed, salt + 1, i) + unif(seed, salt + 2, i) +
      unif(seed, salt + 3, i) - lit(2.0)) * lit(math.sqrt(3.0))

  /** `k` distinct longs in [0, n) outside `exclude`, sorted. */
  def distinct(rnd: SplittableRandom, n: Long, k: Int, exclude: Set[Long]): Array[Long] = {
    require(k + exclude.size < n, s"cannot draw $k distinct values from $n")
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < k) {
      val x = rnd.nextLong(n)
      if (!exclude(x)) out += x
    }
    out.toArray.sorted
  }

  def isin(c: Column, xs: Iterable[Long]): Column =
    if (xs.isEmpty) lit(false) else c.isin(xs.toSeq: _*)
}
