package graft.ops

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, sum}

/** The one eager materialization barrier under `graft.ops`; the
  * session picks the mode. With a checkpoint dir set on the
  * SparkContext (the multi-executor deployment setting) it is a
  * reliable `checkpoint()`, which survives a lost executor; with none
  * it is the faster `localCheckpoint()`, whose blocks die with their
  * executor — the single-JVM choice tests and benchmarks run. */
object Barrier {

  /** Wait for an observed metric after its barrier job has finished.
    * Delivery rides the async listener bus (normally milliseconds); a
    * metric still missing by then was dropped and would hang forever. */
  private[graft] val MetricWait: FiniteDuration = 30.seconds

  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The barrier of `df` plus the aggregate `metric`, observed on the
    * barrier's own job (null for sum/max over no rows). */
  def observed(df: DataFrame, name: String, metric: Column): (DataFrame, Any) = {
    val obs = Observation()
    val out = apply(df.observe(obs, metric.as(name)))
    (out, await(obs, name))
  }

  /** [[observed]] exact sum of integer column `c` (decimal, so 10^12
    * ids cannot overflow; 0 over no rows). */
  def observedSum(df: DataFrame, c: String): (DataFrame, java.math.BigDecimal) = {
    val (out, s) = observed(df, s"${c}_sum", sum(col(c).cast("decimal(38,0)")))
    (out, if (s == null) java.math.BigDecimal.ZERO else s.asInstanceOf[java.math.BigDecimal])
  }

  /** Bounded `Observation.get`: fails naming the metric, never hangs. */
  private[graft] def await(obs: Observation, name: String): Any =
    try Await.result(obs.future, MetricWait).get(0)
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"observed metric '$name' did not arrive within $MetricWait of its barrier job")
    }
}
