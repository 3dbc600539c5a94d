package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** How a workload's script marks the calls it makes into the library.
  * The untraced ("fused") run executes the calls as a user would;
  * the traced run wraps each call in a span and, because Spark is lazy,
  * materializes each batch call's output inside its span so the work
  * lands on the call that asked for it. */
trait Spans {
  /** A call that runs its own Spark jobs. */
  def apply[A](name: String)(body: => A): A

  /** A batch call returning a lazy DataFrame; traced runs materialize it. */
  def batch(name: String)(body: => DataFrame): DataFrame

  /** Record the library's retained block bytes under `name`. */
  def retained(name: String): Unit
}

object Fused extends Spans {
  def apply[A](name: String)(body: => A): A = body
  def batch(name: String)(body: => DataFrame): DataFrame = body
  def retained(name: String): Unit = ()
}

final class Traced(spark: SparkSession, val trace: Trace) extends Spans {
  private val sc = spark.sparkContext
  private val ownRdds = mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
  val retainedMb = mutable.LinkedHashMap.empty[String, Double]

  def apply[A](name: String)(body: => A): A = trace.span(sc, name)(body)

  def batch(name: String)(body: => DataFrame): DataFrame = trace.span(sc, name) {
    val staged = body.localCheckpoint(eager = true)
    staged.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(ownRdds += _)
    staged
  }

  def retained(name: String): Unit = {
    val own = ownRdds.map(_.id).toSet
    retainedMb(name) = Blocks.mb(Blocks.bytes().filter { case (id, _) => !own(id) })
  }

  /** Release the traced run's own staged outputs. */
  def release(): Unit = ownRdds.foreach(_.unpersist(blocking = true))
}

object Blocks {
  def bytes(): Map[Int, Long] = SparkInternals.rddBlockBytes()
  def mb(b: Map[Int, Long]): Double = b.values.sum / Trace.Mb
}

/** Outcome of one pass of a workload's script. `wallS` runs from the
  * first timed call to the returned result; the checks run afterwards,
  * untimed, and report into `errors`. */
final case class PassResult(
    wallS: Double,
    retainedMb: Double,
    samples: Map[String, Seq[Double]],
    errors: Seq[String])

trait Workload {
  type In
  def name: String

  /** Write the seeded inputs under `dir`, read them back and check the
    * planted ground truth. Same seed, same inputs, same fingerprint. */
  def generate(spark: SparkSession, seed: Long, dir: String): In
  def rows(in: In): Long
  def fingerprint(in: In): String

  /** One pass of the workload's script over `in`, writing under `out`;
    * `check` verifies the outputs after the timed part. */
  def pass(spark: SparkSession, in: In, out: String, sp: Spans, check: Boolean): PassResult

  /** The untimed pass that warms the JVM before timing: by default the
    * whole script, unchecked. */
  def warmUp(spark: SparkSession, in: In, out: String): PassResult =
    pass(spark, in, out, Fused, check = false)

  /** Extra human-readable result lines, from all timed passes. */
  def report(passes: Seq[PassResult]): Seq[String] = Nil
}

object Workload {
  val all: Seq[Workload] = Seq(QcReview, QcBatch, CurateText)

  def nowS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Content fingerprint of a table: row count and an order-free sum of
    * row hashes (decimal, so the sum cannot overflow). */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  def check(errors: mutable.Buffer[String], ok: Boolean, what: => String): Unit =
    if (!ok) errors += what

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
