package graft.kgbench

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.hashing.MurmurHash3

/** Order-independent content digests.
  *
  * A digest is (row count, sum of 64-bit row hashes mod 2^64). Summing
  * makes it independent of row order and additive over a disjoint union:
  * digest(A ++ B) = digest(A) + digest(B), which is how the ingest
  * workload checks that the live graph equals the base graph plus its
  * batches.
  */
final case class Digest(count: Long, sum: BigInt) {
  def +(o: Digest): Digest = Digest(count + o.count, (sum + o.sum).mod(Digest.Mod))
  override def toString: String = s"$count:${sum.toString(16)}"
}

object Digest {
  val Mod: BigInt = BigInt(1) << 64
  val empty: Digest = Digest(0L, BigInt(0))

  /** Canonical text of one collected value. Doubles keep 10 significant
    * digits: the same aggregate computed over differently partitioned
    * inputs may differ in its last bits (summation order). Map entries
    * are sorted, so the digest never depends on map iteration order. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9e"
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** 64-bit hash of a string from two seeded 32-bit MurmurHash3 halves. */
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x6b67).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x6263).toLong & 0xffffffffL)

  def ofRows(rows: Iterable[Row]): Digest =
    rows.foldLeft(empty)((d, r) => d + Digest(1L, BigInt(hash64(canon(r))).mod(Mod)))

  /** A column's canonical form for hashing: doubles as text at ten
    * significant digits (as [[canon]] does), inside arrays and structs
    * too, so the digest of a table does not depend on summation order. */
  private def canonCol(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(e, _) => transform(c, canonCol(_, e))
    case StructType(fs) => struct(fs.map(f => canonCol(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case MapType(k, v, _) => array_sort(transform(map_entries(c), e =>
      struct(canonCol(e.getField("key"), k), canonCol(e.getField("value"), v))))
    case _ => c
  }

  /** Spark-side digest aggregates over every column of `schema`: `n`
    * rows and `h`, the exact decimal sum of xxhash64 over the canonical
    * columns (no overflow under ANSI mode). Usable in `select` and in
    * an `Observation`. */
  def aggColumns(schema: StructType): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(schema.fields.toSeq.map(f => canonCol(col(f.name), f.dataType)): _*)
      .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))

  def fromAgg(n: Long, h: java.math.BigDecimal): Digest =
    Digest(n, BigInt(h.toBigIntegerExact).mod(Mod))

  def ofFrame(df: org.apache.spark.sql.DataFrame): Digest = {
    val r = df.select(aggColumns(df.schema): _*).head()
    fromAgg(r.getLong(0), r.getDecimal(1))
  }
}
