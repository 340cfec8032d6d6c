package graft.kgbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Expected output digests, one `key<TAB>count:hex` line each: the base
  * graph's tables (`base.triples`, `base.frames`, `base.nodes`) and every
  * call of the dashboard's call pool (by [[Inputs.Call.key]]).
  *
  * `kgbench/expected.tsv` holds the values the program gave when the
  * benchmark was defined (`python3 kgbench/run.py --write-expected`,
  * with the plain `runFull` build). A run compares against them; a
  * recorder collects them instead.
  */
final class Expected private (known: Map[String, Digest], recording: Boolean) {
  private val recorded = mutable.LinkedHashMap.empty[String, Digest]

  /** None when `got` is the expected digest of `key`, else the reason. */
  def mismatch(key: String, got: Digest): Option[String] =
    if (recording) { recorded(key) = got; None }
    else known.get(key) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$key: digest $got, expected $want")
      case None => Some(s"$key: no expected value")
    }

  def save(file: File): Unit =
    Files.writeString(file.toPath, recorded.map { case (k, d) => s"$k\t$d\n" }.mkString)
}

object Expected {
  /** The values in `file`; a missing file expects nothing, so every
    * comparison fails. */
  def load(file: File): Expected = {
    val known = if (!file.exists) Map.empty[String, Digest]
    else Files.readAllLines(file.toPath).asScala.filter(_.nonEmpty).map { line =>
      val Array(key, digest) = line.split("\t")
      val Array(n, h) = digest.split(":")
      key -> Digest(n.toLong, BigInt(h, 16))
    }.toMap
    new Expected(known, recording = false)
  }

  def recorder: Expected = new Expected(Map.empty, recording = true)
}
