package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft_capped_ids — the single-pass df-cap aggregate behind the r6
  * d2/t4 pair-generation rewrite: NULL ⇔ the key's row count exceeds
  * the cap (the old `df > cap` hot set), else the sorted id array. */
class CappedIdsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(8, "graft-capped-ids-test")

  test("capped collect equals the two-pass hot-filter + collect_list reference") {
    import spark.implicits._
    // deterministic skewed key layout: key k appears k+1 times
    val rows = (0 until 40).flatMap(k => (0 to k).map(i => (k, k * 1000L + i)))
    val df = rows.toDF("key", "id").repartition(7) // force partial merges
    val got = df.groupBy("key")
      .agg(call_function("graft_capped_ids", col("id"), lit(20)).as("ids"))
    val kept = got.filter(col("ids").isNotNull)
      .select(col("key"), col("ids")).as[(Int, Seq[Long])].collect().toMap
    val poisoned = got.filter(col("ids").isNull).select("key").as[Int].collect().toSet
    // reference: two-pass formulation
    val dfc = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    dfc.foreach { case (k, ids) =>
      if (ids.size > 20) assert(poisoned.contains(k), s"key $k must be poisoned")
      else assert(kept(k) == ids, s"key $k ids mismatch")
    }
    // boundary: exactly cap ids is KEPT (hot means strictly greater)
    assert(kept(19).size == 20 && poisoned.contains(20))
  }

  test("duplicate (key, id) rows: each id emitted once, the cap counts rows") {
    import spark.implicits._
    // cap 6. key 1: 6 rows, 3 distinct ids (kept, deduplicated); key 2:
    // 4 distinct ids but 8 rows > cap (poisoned — NULL ⇔ rows > cap)
    val rows = Seq((1, 5L), (1, 5L), (1, 3L), (1, 7L), (1, 3L), (1, 3L)) ++
      Seq(1L, 2L, 3L, 4L).flatMap(id => Seq((2, id), (2, id)))
    val got = rows.toDF("key", "id").repartition(3) // partial merges
      .groupBy("key")
      .agg(call_function("graft_capped_ids", col("id"), lit(6)).as("ids"))
      .as[(Int, Option[Seq[Long]])].collect().toMap
    assert(got == Map(1 -> Some(Seq(3L, 5L, 7L)), 2 -> None))
  }

  test("cap is a plan-time literal with clear validation") {
    import spark.implicits._
    val df = Seq((1, 1L)).toDF("key", "id")
    val e = intercept[Exception] {
      df.groupBy("key")
        .agg(call_function("graft_capped_ids", col("id"), lit(0)).as("ids"))
        .collect()
    }
    assert(e.getMessage.contains("cap must be >= 1"), e.getMessage)
  }
}
