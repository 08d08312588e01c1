package graft

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Barrier

/** `graft.ops.Barrier` under injected faults: a barrier whose blocks
  * are gone (the executor holding them was lost) must either be
  * rebuilt from a reliable checkpoint or fail the query loudly — never
  * return wrong rows — and an observed metric that never arrives must
  * fail within a bound instead of hanging the driver. */
class BarrierSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(8, "graft-barrier-test")
  val sf = "/root/testdata/sf0.001"

  /** Barrier-holding queries: b1 (tf table), d2 (grouped id lists),
    * d6 (minhash signatures + one barrier per CC round, with observed
    * convergence metrics). */
  private val queries = Seq("b1_bm25", "d2_ngram_jaccard", "d6_dup_clusters")

  private def clean(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, sf).collect().toSeq

  /** Builds the query — its barriers are eager, so they materialize
    * here — then unpersists every RDD the build added to the block
    * manager (a lost executor's blocks, on one JVM). Returns the number
    * of dropped RDDs and the built, not yet collected, query. */
  private def buildAndDropBlocks(name: String): (Int, DataFrame) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = SparkEntry.queries(name)(spark, sf)
    val gained = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    gained.values.foreach(_.unpersist(blocking = true))
    (gained.size, df)
  }

  test("fault injection: with a checkpoint dir, barriers survive dropped blocks") {
    val failures = queries.flatMap { q =>
      val want = clean(q)
      scala.util.Try(ReliableCheckpoints(spark) {
        buildAndDropBlocks(q)._2.collect().toSeq
      }) match {
        case scala.util.Success(got) if got == want => None
        case scala.util.Success(_) => Some(s"$q: rows differ from a clean run")
        case scala.util.Failure(e) => Some(s"$q: $e")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("fault injection: without a checkpoint dir, dropped blocks fail loudly") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    for (q <- queries) {
      val (dropped, df) = buildAndDropBlocks(q)
      assert(dropped > 0, s"$q: the build held no local-checkpoint blocks to drop")
      val e = intercept[Exception](df.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("Checkpoint block")),
        s"$q: expected Spark's missing-checkpoint-block error, got $e")
    }
  }

  test("observed metric that never fires: bounded failure, not a hang") {
    val never = Observation("never_fires")
    // Observation.get is the unbounded wait: on a metric that never
    // fires it blocks forever
    @volatile var rawReturned = false
    val raw = new Thread(() =>
      try { never.get; rawReturned = true }
      catch { case _: InterruptedException => () })
    raw.setDaemon(true)
    raw.start()
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](Barrier.await(never, "never_fires"))
    val waited = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("'never_fires'"), e.getMessage)
    val bound = Barrier.MetricWait.toSeconds
    assert(waited >= bound - 1 && waited < bound + 10,
      s"waited $waited s for a ${bound} s bound")
    // a whole bound later, the raw get is still blocked
    assert(raw.isAlive && !rawReturned, "Observation.get returned for a metric that never fired")
    raw.interrupt()
  }
}
