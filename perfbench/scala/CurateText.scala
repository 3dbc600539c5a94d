package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.pipeline.{Curation, Dedup, TextAnalysis}
import graft.qc.QcExport
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data side: quality filter, exact dedup, MinHash-LSH
  * near-dup pairs, keep-best-per-cluster (the `nearDupClusters`
  * fixpoint), eval-set decontamination, split assignment and a parquet
  * sink. The corpus is one parquet file with one row group, so every
  * scan starts as a single task: row-multiplying, CPU-heavy stages run
  * over a single-split input. */
object CurateText extends Workload {
  val name = "curate_text"

  val Docs = 2000
  val Vocab = 4000
  val MinTokens = 40
  val MaxTokens = 340
  val NearDupFrac = 0.05
  val ExactFrac = 0.01
  val EvalFrac = 0.01
  val LeakFrac = 0.004
  val SnippetTokens = 12
  val Stops = Seq("the", "of", "and", "to", "in", "a", "is", "that", "for", "it")
  val Splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  final case class Corpus(docs: Seq[(Long, String)], bench: Seq[(Long, String)],
      survivors: Array[Long], exact: Int)

  final case class Input(corpus: String, bench: String, rows: Long,
      survivors: Array[Long], fp: String)
  type In = Input

  def rows(in: In): Long = in.rows
  def fingerprint(in: In): String = in.fp

  /** Documents over a seeded Zipf(1) vocabulary whose head is the stop
    * list, so every generated document passes the quality filter.
    * Originals get ids [0, n); planted rows follow:
    *  - truncated near-duplicate copies (the tail 8 % of tokens cut,
    *    3-shingle Jaccard ~0.9 to the source),
    *  - exact copies,
    *  - a separate eval set, `SnippetTokens`-token snippets of which are
    *    leaked into `LeakFrac` of the originals.
    * Copies tie the source on quality and have larger ids, so the
    * source is the one every dedup step keeps; the expected survivors
    * are the originals that received no leak. */
  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    val letters = "abcdefghijklmnoprstuvwy"
    val words = {
      val ws = mutable.LinkedHashSet.empty[String] ++ Stops
      while (ws.size < Vocab)
        ws += Iterator.fill(2 + rnd.nextInt(9))(letters(rnd.nextInt(letters.length))).mkString
      ws.toArray
    }
    val cdf = words.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val u = rnd.nextDouble() * cdf.last
      val k = java.util.Arrays.binarySearch(cdf, u)
      words(if (k >= 0) k else -k - 1)
    }
    def doc(): Array[String] = Array.fill(MinTokens + rnd.nextInt(MaxTokens - MinTokens + 1))(word())

    val originals = Array.fill(n)(doc())
    val bench = Array.fill(math.max(1, (n * EvalFrac).toInt))(doc())
    val leaked = Gen.distinct(rnd, n, math.max(1, (n * LeakFrac).toInt), Set.empty)
    for (d <- leaked) {
      val b = bench(rnd.nextInt(bench.length))
      val from = rnd.nextInt(b.length - SnippetTokens + 1)
      val o = originals(d.toInt)
      val at = rnd.nextInt(o.length + 1)
      originals(d.toInt) = o.take(at) ++ b.slice(from, from + SnippetTokens) ++ o.drop(at)
    }
    val nearSrc = Gen.distinct(rnd, n, (n * NearDupFrac).toInt, Set.empty)
    val exactSrc = Gen.distinct(rnd, n, (n * ExactFrac).toInt, Set.empty)
    val near = nearSrc.map { s =>
      val o = originals(s.toInt)
      o.take(o.length - math.max(1, (o.length * 0.08).toInt))
    }
    val exact = exactSrc.map(s => originals(s.toInt))
    val texts = (originals ++ near ++ exact).map(_.mkString(" "))
    val leakedSet = leaked.toSet
    Corpus(
      docs = texts.indices.map(i => (i.toLong, texts(i))),
      bench = bench.indices.map(i => (i.toLong, bench(i).mkString(" "))),
      survivors = (0L until n).filterNot(leakedSet).toArray,
      exact = exact.length)
  }

  private def write(spark: SparkSession, rows: Seq[(Long, String)], path: String): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "text").coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  def generate(spark: SparkSession, seed: Long, dir: String): In = {
    val c = corpus(seed, Docs)
    val docs = write(spark, c.docs, s"$dir/corpus.parquet")
    write(spark, c.bench, s"$dir/bench.parquet")
    val r = docs.agg(count(lit(1)), countDistinct(col("text"))).head()
    require(r.getLong(0) == c.docs.size && r.getLong(1) == c.docs.size - c.exact,
      s"curate_text input: planted counts differ: $r vs (${c.docs.size}, ${c.docs.size - c.exact})")
    Input(s"$dir/corpus.parquet", s"$dir/bench.parquet", c.docs.size, c.survivors,
      Workload.fingerprint(docs))
  }

  def pass(spark: SparkSession, in: In, out: String, sp: Spans, check: Boolean): PassResult = {
    val docs = spark.read.parquet(in.corpus)
    val bench = spark.read.parquet(in.bench)
    val survivors = in.survivors
    val sink = s"$out/curated.parquet"

    val t0 = System.nanoTime()
    val scored = sp.batch("text.quality")(docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text"), Stops))
      .filter(col("quality") >= 0.5))
    val unique = sp.batch("dedup.exact")(Dedup.exactKeepFirst(scored, Seq("text"), "id"))
    val pairs = sp.batch("dedup.minhash_pairs")(Dedup.minHashNearDupPairs(unique, "id", "text"))
    val best = sp.batch("dedup.clusters")(Dedup.keepBestPerCluster(unique, pairs, "id", "quality"))
    sp.retained("dedup.clusters")
    val kept = unique.join(best.filter(col("keep") === 1), Seq("id"), "left_semi")
    val clean = sp.batch("curation.decontaminate")(Curation.decontaminate(kept, bench, "id", "text"))
    sp("sink.write")(QcExport.writeParquet(Curation.withSplit(clean, "id", Splits), sink))
    val wallS = Workload.nowS(t0)
    val retainedMb = Blocks.mb(Blocks.bytes())

    val errors = mutable.ArrayBuffer.empty[String]
    if (check) {
      val expected = {
        import spark.implicits._
        survivors.toSeq.toDF("id").withColumn("expected", lit(true))
      }
      val r = spark.read.parquet(sink).join(expected, Seq("id"), "full_outer")
        .agg(count(col("split")), count_if(col("split").isNull), count_if(col("expected").isNull),
          count_if(col("split").isNotNull && !col("split").isin(Splits.map(_._1): _*)))
        .head()
      val (got, lost, extra, badSplit) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      Workload.check(errors, got == survivors.length && lost == 0 && extra == 0,
        s"curate_text: $got docs kept, expected ${survivors.length} " +
          s"($lost expected docs lost, $extra planted or leaked docs kept)")
      Workload.check(errors, badSplit == 0, s"curate_text: $badSplit docs without a split")
    }
    PassResult(wallS, retainedMb, Map.empty, errors.toSeq)
  }
}
