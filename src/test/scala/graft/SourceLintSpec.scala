package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level scale lints: conventions that keep the engine honest at
  * 100 TB but that no runtime assertion can see (a data-sized
  * `.collect()` works fine at sf0.01 and melts a production driver).
  * Complements ShuffleBudgetSpec (runtime shuffle-record budgets): this
  * spec fails the BUILD when a new driver-side materialization lands
  * without a written size argument next to it.
  */
class SourceLintSpec extends AnyFunSuite {

  private val mainRoot = new java.io.File("src/main/scala")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = dir.listFiles.toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  test("every driver-side .collect() carries a size justification") {
    // convention: within the 8 lines ending at the .collect() call
    // there must be either a bound in the plan itself (.limit() /
    // .head / take) or a comment arguing the result is driver-sized
    // ("driver-sized" / "model-sized" / "metadata-sized"). A collect
    // of a data-sized result can't satisfy the comment honestly in
    // review, and a new one without ANY argument fails here.
    val marker =
      "driver-sized|model-sized|metadata-sized|\\.limit\\(".r
    val offenders = scalaFiles(mainRoot).flatMap { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      lines.zipWithIndex.collect {
        case (l, i)
            if l.contains(".collect()") &&
              !lines.slice(math.max(0, i - 7), i + 1)
                .exists(w => marker.findFirstIn(w).isDefined) =>
          s"${f.getPath}:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"unjustified .collect() — add a driver-sized argument or bound:\n" +
        offenders.mkString("\n"))
  }

  test("no persist() without an unpersist() in the same file") {
    // a persist whose file never unpersists is a session-lifetime cache
    // leak (the round-3 bench contamination); ownership transfers must
    // be explicit enough to move the unpersist into the same file
    val offenders = scalaFiles(mainRoot).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8").mkString
      src.contains(".persist()") && !src.contains("unpersist()")
    }
    assert(offenders.isEmpty,
      s"persist() without unpersist():\n${offenders.map(_.getPath).mkString("\n")}")
  }

  /** `file:line` of every pipeline line outside Fixpoint.scala that
    * contains one of `tokens`. */
  private def pipelineOutsideFixpoint(tokens: String*): Seq[String] =
    scalaFiles(new java.io.File(mainRoot, "graft/pipeline"))
      .filter(_.getName != "Fixpoint.scala")
      .flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.collect {
          case (l, i) if tokens.exists(l.contains) => s"${f.getPath}:${i + 1}"
        }
      }

  test("localCheckpoint is called only by the pipeline's Fixpoint module") {
    // row-block staging has one owner, which also owns its release:
    // an eager cut anywhere else in the pipeline package is a block
    // lifecycle nobody releases deterministically
    val offenders = pipelineOutsideFixpoint("localCheckpoint(")
    assert(offenders.isEmpty,
      s"localCheckpoint outside Fixpoint — stage through it:\n" +
        offenders.mkString("\n"))
  }

  test("the pipeline caches and releases tables only in Fixpoint") {
    // a hand-rolled persist/unpersist pair leaks its cache entry when
    // the call throws between them; Fixpoint.scoped releases a
    // columnar stage on return and on failure alike
    val offenders = pipelineOutsideFixpoint(".persist(", ".cache()", ".unpersist(")
    assert(offenders.isEmpty,
      s"cache outside Fixpoint — stage through Blocks.stageColumnar:\n" +
        offenders.mkString("\n"))
  }

  test("library code reads no system property or environment variable") {
    // library behaviour comes from its inputs and the session's config,
    // never from a hidden JVM-wide knob; the harness mains (Bench,
    // Stress, Explain, SparkEntry) sit outside these packages
    val knob = """sys\.props|sys\.env|System\.getProperty|System\.getenv""".r
    val offenders = Seq("pipeline", "qc", "timeseries", "streaming", "functions")
      .flatMap(d => scalaFiles(new java.io.File(mainRoot, s"graft/$d")))
      .flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.collect {
          case (l, i) if knob.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"library code reads a JVM-wide knob — take it as an input:\n" +
        offenders.mkString("\n"))
  }

  test("SparkSession.builder() is called only by Bench's shared runner") {
    // one session builder for every main: a harness with its own
    // builder grows its own master, partition and timezone config, and
    // its numbers stop being comparable with the rest
    val offenders = scalaFiles(mainRoot)
      .filter(_.getPath != "src/main/scala/graft/Bench.scala")
      .flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.collect {
          case (l, i) if l.contains("SparkSession.builder()") =>
            s"${f.getPath}:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"SparkSession.builder() outside Bench — use Bench.session:\n" +
        offenders.mkString("\n"))
  }

  test("the QC guards and flag writes are written once, in QcActions") {
    // a new action picks its write from QcActions' M-operation table;
    // it never grows its own guard predicate or (flag, guard) pair
    def lines(name: String) =
      scala.io.Source.fromFile(new java.io.File(mainRoot, s"graft/$name.scala"), "UTF-8")
        .getLines().toVector
    val files = Seq("qc/QcActions", "qc/QcFlagLog", "qc/QcSession", "streaming/QcStream")
      .map(n => n -> lines(n))
    val actions = lines("qc/QcActions")
    val at = actions.indexWhere(_.contains("def admits("))
    val admits = at until actions.indexWhere(_.trim == "}", at)
    for (guard <- Seq("""=!=\s*[\w.(]*OrigNA""".r, """===\s*[\w.(]*Unchecked""".r)) {
      val hits = for {
        (name, ls) <- files; (l, i) <- ls.zipWithIndex if guard.findFirstIn(l).isDefined
      } yield (name, i)
      assert(hits.size == 1 && hits.forall { case (n, i) => n == "qc/QcActions" && admits.contains(i) },
        s"guard `$guard` outside QcActions.admits: $hits")
    }
    val table = """(?<!class )\bWrite\(([^)]*)\)""".r
    val writes = for {
      (name, ls) <- files; l <- ls; m <- table.findFirstMatchIn(l)
    } yield (name, m.group(1))
    assert(writes.size >= 5 && writes.forall(_._1 == "qc/QcActions"),
      s"flag writes outside QcActions' table: $writes")
    assert(writes.map(_._2).distinct.size == writes.size, s"a write is in the table twice: $writes")
  }

  test("Dedup's flood cap and pair self-join are written once, in keyPairs") {
    // every candidate-pair operator pairs through Dedup.keyPairs; a
    // hand-rolled bucket cap or `id_a < id_b` self-join is one more
    // copy a capped-bucket report would have to reach
    val lines = scala.io.Source.fromFile(
      new java.io.File(mainRoot, "graft/pipeline/Dedup.scala"), "UTF-8").getLines().toVector
    val at = lines.indexWhere(_.contains("def keyPairs("))
    assert(at >= 0, "Dedup.keyPairs is gone")
    val body = at until lines.indexWhere(_ == "  }", at)
    for (rule <- Seq("""col\("id_a"\)\s*<\s*col\("id_b"\)""".r,
        """count\(lit\(1\)\)\.over\(Window\.partitionBy""".r)) {
      val hits = lines.indices.filter(i => rule.findFirstIn(lines(i)).isDefined)
      assert(hits.size == 1 && hits.forall(body.contains),
        s"`$rule` outside Dedup.keyPairs, at lines ${hits.map(_ + 1)}")
    }
  }

  test("media is read only in readImage and batched only in decodeBatched") {
    // one image read and one batching loop: a second copy is one more
    // place an ImageIO failure or a miscounted batch can slip through
    val file = "src/main/scala/graft/pipeline/Multimodal.scala"
    val lines = scala.io.Source.fromFile(file, "UTF-8").getLines().toVector
    def member(name: String): Range = {
      val at = lines.indexWhere(_.contains(s"def $name"))
      assert(at >= 0, s"Multimodal.$name is gone")
      val next = lines.indexWhere(l =>
        l.startsWith("  /**") || l.startsWith("  def ") || l.startsWith("  private "), at + 1)
      at until (if (next < 0) lines.size else next)
    }
    for ((token, owner) <- Seq("ImageIO.read(" -> "readImage(", ".grouped(" -> "decodeBatched[")) {
      val body = member(owner)
      val hits = scalaFiles(mainRoot).flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.collect {
          case (l, i) if l.contains(token) => (f.getPath, i)
        }
      }
      assert(hits.nonEmpty && hits.forall { case (p, i) => p == file && body.contains(i) },
        s"`$token` outside Multimodal.$owner: ${hits.map { case (p, i) => s"$p:${i + 1}" }}")
    }
  }
}
