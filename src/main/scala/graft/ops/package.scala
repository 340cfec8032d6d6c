package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

package object ops {

  /** Deterministic sampling bucket in [0, m): first 8 hex digits of the
    * md5 of the key. Engine-portable (md5 is md5 everywhere), so sampled
    * subsets are reproducible across Spark, DuckDB, and reruns — the
    * property a training-data sample must have for audits.
    */
  def hashBucket(key: Column, m: Long = 1000000L): Column =
    pmod(conv(substring(md5(key), 1, 8), 16, 10).cast("long"), lit(m))
}
