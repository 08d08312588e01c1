package graft

import org.apache.spark.sql.SparkSession

/** Runs a block with a checkpoint dir set on the session, so every
  * `graft.ops.Barrier` inside it takes the reliable-checkpoint path.
  * Test suites share one SparkContext (`GraftSession.local` is a
  * getOrCreate), so the dir is cleared on exit — left set, it would
  * silently switch every later suite's barriers to reliable
  * checkpoints. `setCheckpointDir(null)` stores `Option(null)`, i.e.
  * no dir. */
object ReliableCheckpoints {
  def apply[T](spark: SparkSession)(body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try body
    finally spark.sparkContext.setCheckpointDir(null)
  }
}
