package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M1-M8 guard matrix + the engine laws from SURVEY §2.6, exercised as
  * seeded-random property checks (flag-domain closure, -1 immunity,
  * idempotence). */
class QcActionsSpec extends SparkSpec {
  import spark.implicits._
  import FlagSchema._

  private def mk(flags: Seq[Int], vals: Seq[Option[Double]]): DataFrame =
    flags.zip(vals).zipWithIndex
      .map { case ((f, v), i) => (i.toLong, v, f) }
      .toDF("id", "v", "v_qcflag")

  private def flagsOf(df: DataFrame): Seq[Int] =
    df.orderBy("id").select("v_qcflag").as[Int].collect().toSeq

  private val all = mk(
    Seq(1, 0, -1, -2),
    Seq(Some(1.0), Some(2.0), None, Some(4.0)))

  test("M1/M2/M3 selected: write -2/1/0, OrigNA immune") {
    val sel = col("id") >= 0 // select everything → only the guard matters
    assert(flagsOf(QcActions.flagSelected(all, "v", sel)) == Seq(-2, -2, -1, -2))
    assert(flagsOf(QcActions.approveSelected(all, "v", sel)) == Seq(1, 1, -1, 1))
    assert(flagsOf(QcActions.unflagSelected(all, "v", sel)) == Seq(0, 0, -1, 0))
  }

  test("M5 approveUnflagged: only flag==0 AND non-missing value") {
    val df = mk(Seq(0, 0, 1, -2), Seq(Some(1.0), None, Some(3.0), Some(4.0)))
    assert(flagsOf(QcActions.approveUnflagged(df, "v", lit(true))) ==
      Seq(1, 0, 1, -2))
  }

  test("M7 composite: selection unguarded wins, rest-of-window approved") {
    val df = mk(Seq(0, 0, -1, -2, 0),
      Seq(Some(1.0), Some(2.0), None, Some(4.0), None))
    val out = QcActions.flagAndApproveRest(df, "v",
      selection = col("id") === 0, windowScope = lit(true))
    // id0 selected → -2; id1 unchecked+value → 1; id2 OrigNA+no value → -1;
    // id3 already -2 stays; id4 unchecked but missing → stays 0
    assert(flagsOf(out) == Seq(-2, 1, -1, -2, 0))
  }

  test("law: any action sequence keeps flags in the domain and never touches -1 rows or values") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val flags = Seq.fill(n)(Domain(rnd.nextInt(4)))
    val vals = flags.map(f => if (f == OrigNA) None else Some(rnd.nextDouble() * 200))
    var df = mk(flags, vals)
    val originalNaIds = flags.zipWithIndex.collect { case (OrigNA, i) => i.toLong }.toSet
    val valsBefore = df.orderBy("id").select("v").as[Option[Double]].collect().toSeq
    for (_ <- 0 until 12) {
      val scope = pmod(col("id"), lit(rnd.nextInt(5) + 2)) === rnd.nextInt(2)
      df = rnd.nextInt(7) match {
        case 0 => QcActions.flagSelected(df, "v", scope)
        case 1 => QcActions.approveSelected(df, "v", scope)
        case 2 => QcActions.unflagSelected(df, "v", scope)
        case 3 => QcActions.flagWindow(df, "v", scope)
        case 4 => QcActions.approveUnflagged(df, "v", scope)
        case 5 => QcActions.resetWindow(df, "v", scope)
        case 6 => QcActions.resetAll(df, "v")
      }
    }
    val out = df.orderBy("id")
      .select("id", "v", "v_qcflag").as[(Long, Option[Double], Int)].collect()
    assert(out.forall { case (_, _, f) => Domain.contains(f) }, "domain closure")
    assert(out.filter(r => originalNaIds(r._1)).forall(_._3 == OrigNA), "-1 immunity")
    assert(out.map(_._2).toSeq == valsBefore, "actions never touch values")
  }

  test("law: M5 and M8 are idempotent") {
    val once5 = QcActions.approveUnflagged(all, "v", lit(true))
    val twice5 = QcActions.approveUnflagged(once5, "v", lit(true))
    assert(flagsOf(once5) == flagsOf(twice5))
    val once8 = QcActions.resetAll(all, "v")
    val twice8 = QcActions.resetAll(once8, "v")
    assert(flagsOf(once8) == flagsOf(twice8))
  }

  test("fold of an id table's point events matches isin") {
    // a large brushed selection is an id TABLE turned into point-event
    // log rows; the fold's point-event join must flag exactly the rows
    // the small-set isin scope does, broadcast or past the gate
    val ids = Seq(0L, 2L).toDF("id")
    val log = ids.select(lit(1L).as("seq"), lit("v").as("variable"),
      lit(QcFlagLog.ScopePoint).as("scope"), col("id").as("rowid"),
      lit(null).cast("long").as("win_id"),
      lit(QcActions.Flag.newFlag).as("new_flag"), lit(QcActions.Flag.guard).as("guard"))
    val base = all.withColumnRenamed("id", ".rowid")
    def viaFold() = flagsOf(QcFlagLog.fold(base, log).withColumnRenamed(".rowid", "id"))
    val viaIsin = flagsOf(QcActions.flagSelected(all, "v", col("id").isin(0L, 2L)))
    assert(viaFold() == viaIsin)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(viaFold() == viaIsin, "past the broadcast gate")
    }
  }
}
