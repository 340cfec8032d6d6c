package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.broadcast
import scala.jdk.CollectionConverters._

/** The small side of a join, fetched once: `limit(cap + 1).collect()`
  * both decides and brings the data. The static planner has no size
  * estimate for an aggregate or a checkpoint leaf, so with AQE off (the
  * scaling legs) it joins one by sort-merge, a full exchange and sort of
  * the big side. At most `cap` rows come back as a local relation that
  * is broadcast with AQE on or off; above the cap nothing is kept and
  * the caller's shuffle join runs, so scale cannot OOM the driver.
  */
object SmallSide {

  /** The rows of `df` if it has at most `cap` of them. */
  def collect(df: DataFrame, cap: Long): Option[Array[Row]] = {
    val rows = df.limit(Math.toIntExact(cap + 1)).collect()
    if (rows.length <= cap) Some(rows) else None
  }

  /** `df` as a broadcast local relation below the cap, else `df` itself. */
  def broadcastIfSmall(df: DataFrame, cap: Long): DataFrame = collect(df, cap).fold(df)(rows =>
    broadcast(df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)))
}
