package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Result-digest lock for the smoke sweep.
  *
  * A result's digest is the canonical form `scripts/check_oracle.py` and
  * `perfbench` compare on: columns sorted by name, floats as `%.6g` with
  * NaN tagged, rows sorted, then SHA-256 over the header and the rows.
  * `digests/sf0.001.json` holds `{"results": {gate: {rows, digest}}}` for
  * every gate the smoke sweep collects; `InventorySmokeSpec` asserts each
  * result against it.
  *
  * Regenerate (only when a result is meant to change):
  * `sbt "Test/runMain graft.DigestLock <sf0.001 dir>"`. */
object DigestLock {

  val file = Paths.get("digests", "sf0.001.json")

  /** Streaming / iterative gates cost seconds each; they have their own
    * suites and are left out of the smoke sweep. */
  val slow = Set(
    "q_stream_wordcount", "q_stream_tumbling", "q_stream_dedup",
    "q_dedup_clusters", "q_join_bucketed")

  def gates: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filterNot(slow.contains)

  /** (row count, SHA-256 of the canonical text); collects `df`. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns
    val order = cols.indices.sortBy(cols(_))
    val lines = df.collect().map(r => order.map(i => render(r.get(i))).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols(_)).mkString("\t").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
  private def fmtDouble(d: Double): String =
    if (d.isNaN) "NaN" else String.format(Locale.ROOT, "%.6g", Double.box(d + 0.0))

  /** The committed lock: gate -> (rows, digest). */
  lazy val expected: Map[String, (Long, String)] = {
    val results = new ObjectMapper().readTree(file.toFile).get("results")
    results.fieldNames().asScala.map { g =>
      val e = results.get(g)
      g -> (e.get("rows").asLong, e.get("digest").asText)
    }.toMap
  }

  /** Writes the lock for every smoke gate, in the sweep's order, on one
    * fresh session. */
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = TestSession.shared
    val sfDir = args(0)
    val entries = gates.map { g =>
      val (rows, dig) =
        try digest(SparkEntry.queries(g)(spark, sfDir))
        finally queries.Scratch.release(spark)
      s"""  "$g": {"rows": $rows, "digest": "$dig"}"""
    }
    Files.createDirectories(file.getParent)
    Files.write(file, entries.mkString("{\"results\": {\n", ",\n", "\n}}\n").getBytes("UTF-8"))
    println(s"wrote ${entries.size} digests to $file")
    spark.stop()
  }
}
